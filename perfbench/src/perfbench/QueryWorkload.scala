package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** The analytics workload (`loops`): a closed loop of one client
  * running the named queries from `graft.SparkEntry.queries` pass after
  * pass, in an order the seed sets for each pass.
  *
  * Each timed call builds the query and collects its full result, every
  * output column of every row. In the cold pass a result whose
  * fingerprint has already been checked against the DuckDB oracle (for
  * this build and table set) must reproduce that fingerprint; any other
  * result is dumped as parquet for the oracle check. Every later pass
  * must reproduce the cold pass's fingerprint exactly. */
final class QueryWorkload(o: Opts, log: RunLog) {
  private val names = o("queries").split(',').toSeq
  private val dataDir = o("data")
  private val registry = graft.SparkEntry.queries
  private val coldPrints = mutable.LinkedHashMap.empty[String, String]
  private val verified: Map[String, String] = {
    val f = Paths.get(o("verified"))
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.map(_.split(' ')).collect {
      case Array(q, fp) => q -> fp
    }.toMap
  }

  def run(): SparkSession = {
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"${o.out}/oracle_sql.json"),
      Json.obj(names.map(q => q -> Json.str(oracle.getOrElse(q, "")))),
      StandardCharsets.UTF_8)

    // set-up opens every table (file listing, footer and schema read);
    // the first scans are left to the cold pass, as a one-shot user
    // would meet them
    val (spark, setupTimes) = Harness.setUp(o, 3, s =>
      graft.Tables.names.foreach(t => graft.Tables.load(s, dataDir, t).schema))
    val tr = new Tracer(spark)
    val (cold, warm) = Passes.run(o, tr, p => (runPass(spark, tr, p), Nil))
    Files.writeString(Paths.get(s"${o.out}/fingerprints.txt"),
      coldPrints.map { case (q, fp) => s"$q $fp\n" }.mkString)
    Passes.report(o, log, tr, setupTimes, cold.seconds, warm, "Tables")
    if (o.trace) CodeIntel.absentLayers(log)
    spark
  }

  /** One pass over every query; returns the per-query spans. */
  private def runPass(spark: SparkSession, tr: Tracer, p: Int): Seq[Span] = {
    val order = new scala.util.Random(o.seed * 1000003L + p).shuffle(names)
    tr.span(s"${o.workload}/pass$p") {
      order.map(q => runQuery(spark, tr, q, p))
    }._1
  }

  private def runQuery(spark: SparkSession, tr: Tracer, q: String,
      p: Int): Span = {
    val (res, span) = tr.span(s"${o.workload}/pass$p/$q") {
      try {
        val df = registry(q)(spark, dataDir)
        Right((df.collect(), df.schema))
      } catch { case NonFatal(e) => Left(e) }
    }
    log.attempted += 1
    System.err.println(f"[perfbench] pass $p $q ${span.seconds}%.3f s")
    // release what the query pinned, as graft.Bench does between queries
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    res match {
      case Left(e) => log.fail(s"$q pass $p: $e")
      case Right((rows, schema)) =>
        val fp = QueryWorkload.fingerprint(rows)
        if (p == 0) {
          coldPrints(q) = fp
          verified.get(q) match {
            case Some(v) if v != fp =>
              log.mismatch(s"$q: result differs from its oracle-checked result")
            case Some(_) => ()
            case None =>
              spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
                .write.mode("overwrite").parquet(s"${o.out}/results/$q")
          }
        } else if (coldPrints.get(q).exists(_ != fp))
          log.mismatch(s"$q: pass $p result differs from its cold pass")
    }
    span
  }
}

object QueryWorkload {
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  /** Order-insensitive digest of a result's rows. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
