package graft
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Plan-audit tool: print the optimized physical plan of the named
  * queries (short "q104" or full names) without executing them.
  *
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.Explain q104 q105"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local(logLevel = "ERROR")
    args.foreach { a =>
      val name = Session.resolve(a)
      println(s"\n########## $name")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(
        if (sys.env.get("SPARK_GRAFT_EXPLAIN_MODE").contains("formatted"))
          FormattedMode
        else SimpleMode))
    }
    spark.stop()
  }
}
