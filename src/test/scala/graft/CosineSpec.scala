package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

class CosineSpec extends SparkSpec {
  import spark.implicits._

  test("native CosineSimilarity is bit-identical to the column formula") {
    val rnd = new scala.util.Random(13)
    val vecs = (1 to 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() - 0.5),
        Array.fill(64)(rnd.nextDouble() - 0.5))
    }.toDF("id", "a", "b")
    val both = vecs.select(
      Similarity.cosine(col("a"), col("b")).as("ref"),
      Similarity.cosineFast(col("a"), col("b")).as("fast")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("a negative cosine that rounds to zero keeps its sign, as " +
      "DuckDB's round does") {
    // cos(v1, v2) ≈ −1e-6 and cos(v1, v3) ≈ +1e-6: both round to zero
    // at 5 decimals, and only the sign tells them apart
    val vecs = Seq((1L, Array(1.0, 0.0)), (2L, Array(-1e-6, 1.0)),
      (3L, Array(1e-6, 1.0)), (4L, Array(1.0, 1.0))).toDF("id", "vec")
    val sims = Similarity.bruteForceTopK(vecs.filter(col("id") === 1L),
        vecs, "id", "vec", 3)
      .select(col("neighbor_id"), col("sim")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    assert(bits(sims(2L)) === bits(-0.0), s"got ${sims(2L)}")
    assert(bits(sims(3L)) === bits(0.0), s"got ${sims(3L)}")
    assert(sims(4L) === 0.70711)
  }

  test("null and length-mismatch handling") {
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(1.0, 2.0, 3.0))), // length mismatch
      (None, Some(Array(1.0)))                              // null side
    ).toDF("a", "b")
    val out = df.select(Similarity.cosineFast(col("a"), col("b"))).collect()
    assert(out.forall(_.isNullAt(0)))
    // null ELEMENT → null result (SQL semantics), not read-as-0.0
    val nullElem = spark.sql(
      "SELECT array(1.0d, CAST(NULL AS DOUBLE)) AS a, " +
        "array(1.0d, 2.0d) AS b")
      .select(Similarity.cosineFast(col("a"), col("b"))).collect()
    assert(nullElem(0).isNullAt(0))
  }

  test("graft_cosine callable from spark.sql after live registration") {
    org.apache.spark.sql.GraftBridge.registerFunction(spark, "graft_cosine",
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.CosineSimilarity(children(0), children(1)))
    val v = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect()(0).getDouble(0)
    assert(v === 1.0)
  }

  test("identical vectors give exactly 1.0 through codegen") {
    val df = Seq((Array(0.1, 0.2, 0.3), Array(0.1, 0.2, 0.3)))
      .toDF("a", "b")
    val v = df.select(Similarity.cosineFast(col("a"), col("b"))).collect()(0)
      .getDouble(0)
    assert(math.abs(v - 1.0) < 1e-15)
  }
}
