package graft

/** Selective bench for plan/perf debugging: run the named queries (in
  * the given order, each twice) in a fresh session and print per-query
  * [cold, warm] seconds plus cumulative JVM GC time — the number that
  * separates "this query is slow" from "the session degraded".
  *
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.BenchSome q56 q89"
  *
  * Names may be full ("q56_minhash_estimate") or the bench short prefix
  * ("q56").
  */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    args.foreach { a =>
      val name = Session.resolve(a)
      val g0 = Bench.gcMs
      val Seq(cold, warm) = Seq("cold", "warm").map(sweep =>
        Bench.time(spark, sfDir, sweep, name, SparkEntry.queries(name))
          .toTry.get)
      println(f"BENCHSOME $name cold=$cold%.2f warm=$warm%.2f " +
        f"gc_delta_ms=${Bench.gcMs - g0}")
    }
    spark.stop()
  }
}
