package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The query surface: one registry of every query family under
  * `graft.queries`. Each family's `registry` lists its queries one entry
  * each, pairing the Spark engine with the DuckDB oracle SQL that
  * `graft.Verify` + `tools/selfcheck.py` and perfbench check it against.
  * `queries` and `oracleSql` are the name-keyed views of that one list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-field ranked search (SURVEY P3+O1) — the reference's most
    * user-visible query shape (codegraph query search).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_search_rank")(spark, "/root/testdata/sf0.001")

  /** One family's queries: each entry is (name, engine, DuckDB oracle
    * SQL over the same parquet tables), so no query can be registered
    * without its oracle. */
  type Registry = Seq[(String, (SparkSession, String) => DataFrame, String)]

  /** Every registered query family. `queries`/`oracleSql` are derived
    * from this list, and GateSpec's duplicate-name gate flattens it, so
    * a family added here is covered by both. */
  val registries: Seq[(String, Registry)] = Seq(
    ("Relational", Relational.registry),
    ("GraphQueries", GraphQueries.registry),
    ("PipelineQueries", PipelineQueries.registry),
    ("EventQueries", EventQueries.registry),
    ("ExtendedQueries", ExtendedQueries.registry),
    ("CurationQueries", CurationQueries.registry),
    ("QualityQueries", QualityQueries.registry),
    ("ApiQueries", ApiQueries.registry),
    ("RetrievalQueries", RetrievalQueries.registry),
    ("ProfilingQueries", ProfilingQueries.registry),
    ("AugmentQueries", AugmentQueries.registry),
    ("StatQueries", StatQueries.registry),
    ("IntegrityQueries", IntegrityQueries.registry),
    ("TrainPrepQueries", TrainPrepQueries.registry),
    ("MetricQueries", MetricQueries.registry),
    ("LinkageQueries", LinkageQueries.registry),
    ("ScaleQueries", ScaleQueries.registry),
    ("SelectQueries", SelectQueries.registry),
    ("PlannerQueries", PlannerQueries.registry))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.flatMap(_._2).map(e => e._1 -> e._2).toMap

  lazy val oracleSql: Map[String, String] =
    registries.flatMap(_._2).map(e => e._1 -> e._3).toMap
}
