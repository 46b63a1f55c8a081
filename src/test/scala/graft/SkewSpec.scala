package graft

import graft.ops.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals plain join on skewed data") {
    // 10k rows, 90% share one hot key
    val big = spark.range(10000)
      .selectExpr("CASE WHEN id % 10 < 9 THEN 0 ELSE id % 7 END AS k",
        "id AS v")
    val small = Seq((0L, "hot"), (1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "name")
    val plain = big.join(small, Seq("k")).agg(
      org.apache.spark.sql.functions.count("*"),
      org.apache.spark.sql.functions.sum("v")).collect()(0)
    val salted = Skew.saltedJoin(big, small, "k", 8).agg(
      org.apache.spark.sql.functions.count("*"),
      org.apache.spark.sql.functions.sum("v")).collect()(0)
    assert(plain === salted)
  }

  test("completions: prefix lookup ranked, capped") {
    val cg = graft.queries.CodeGraph(FixtureGraph.store(spark))
    val rows = cg.completions("H").collect()
    assert(rows.map(_.getAs[String]("name")).toSeq === Seq("Handler", "Helper"))
  }
}
