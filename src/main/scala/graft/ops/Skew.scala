package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot join keys at cluster scale.
  *
  * AQE's skew-join split handles sort-merge skew at runtime; salting is
  * the declarative fallback when one side can be replicated — e.g. a
  * CALLS edge list where one callee (a logging function) has millions of
  * in-edges, or a shingle join where one shingle is near-universal.
  */
object Skew {

  /** Inner equi-join `big ⋈ small` on `key`, with the big side's rows
    * scattered across `saltBuckets` sub-keys and the small side
    * replicated once per bucket. Result is identical to
    * `big.join(small, key)`; the shuffle for any single key value is
    * spread over `saltBuckets` reducers.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltBuckets: Int): DataFrame = {
    val spark = big.sparkSession
    val salted = big.withColumn("_salt",
      (rand(seed = 42) * saltBuckets).cast("int"))
    val buckets = spark.range(saltBuckets)
      .select(col("id").cast("int").as("_salt"))
    val replicated = small.crossJoin(broadcast(buckets))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
