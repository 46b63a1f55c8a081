package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory every main (and the spec session)
  * builds through, plus the helpers the query-run mains share. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core this JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may store TIMESTAMP(NANOS), which vanilla Spark
      // refuses; read it as long nanos (Tables.normalizeEventTs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf, default 100: a ~358-plan session structurally
      // thrashes the Janino codegen cache, so every warm re-execution
      // re-compiles (and re-JITs) its generated classes — measured as
      // multi-second inflation on the biggest plans (q358 +9 s, q262
      // +2 s) ONLY inside full sweeps, never in fresh sessions. Any
      // long-lived production session (query service, MCP server) has
      // the same profile; memory cost is bounded by the plan corpus
      // and already provisioned by the 1g reserved code cache.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** A registered query's full name, given it or its short `qNNN`
    * prefix; an unknown name fails naming the argument. */
  def resolve(name: String): String =
    SparkEntry.queries.keys
      .find(k => k == name || k.takeWhile(_ != '_') == name)
      .getOrElse(throw new IllegalArgumentException(
        s"unknown query: $name"))

  /** Unpersist every RDD pinned by localCheckpoint/cache. Across many
    * queries in one session those blocks otherwise accumulate in
    * storage memory until GC reaches the RDD references, and later
    * queries pay for earlier ones' leftovers. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in SQL text would otherwise make a reader's
    * json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
