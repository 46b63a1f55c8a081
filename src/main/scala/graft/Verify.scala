package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir> [q161,q30_hourly_windows]"
  *
  * The optional third argument limits the dump (and the oracle file) to
  * a comma-separated list of full or short query names. */
object Verify {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    try run(spark, args(0), args(1), args.lift(2))
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String,
      filter: Option[String]): Unit = {
    val only = filter.map(_.split(",").map(Session.resolve).toSet)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Session.release(spark)
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => Session.jsonString(k) + ": " + Session.jsonString(v) }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
