package graft

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** `Verify`'s query filter takes short names and limits both the parquet
  * dumps and oracle_sql.json to the named queries. */
class VerifySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("a short-name filter dumps only those queries and their oracles") {
    val out = Files.createTempDirectory("graft-verify").toString
    Verify.run(spark, sf, out, Some("q161,q30"))
    val want = Set("q161_image_decode", "q30_hourly_windows")
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory)
    assert(dirs.map(_.getName).toSet === want)
    dirs.foreach(d =>
      assert(d.list.exists(_.endsWith(".parquet")), s"no parquet in $d"))
    val oracle = parse(Files.readString(Paths.get(out, "oracle_sql.json")))
    val JObject(fields) = oracle
    assert(fields.map(_._1).toSet === want)
    fields.foreach { case (k, v) =>
      assert(v === JString(SparkEntry.oracleSql(k)))
    }
  }
}
