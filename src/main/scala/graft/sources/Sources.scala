package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-source scans (SURVEY §2.1 S8/S11/S14): the reference walks
  * directories driver-side file-at-a-time (`filepath.WalkDir`,
  * `indexer.go:54-82`; `documents/indexer.go:72-95`); here every scan is
  * a distributed Spark source with the path filter applied as a predicate.
  */
object Sources {

  /** Directories the reference skips (`indexer.go:699-712`). */
  val skipDirs: Seq[String] = Seq(
    "vendor", ".git", "node_modules", "target", ".idea", "dist", "build")

  private def skipPredicate =
    !Sources.skipDirs.map(d => col("path").contains(s"/$d/"))
      .reduce(_ || _)

  /** S8 — source-file scan: whole-file text rows (path, content) for the
    * given glob, excluding vendor-ish directories and test files like the
    * reference's Go walk (keep `*.go`, drop `*_test.go`). */
  def sourceFiles(spark: SparkSession, glob: String,
      ext: String = ".go"): DataFrame =
    spark.read.option("wholetext", "true").text(glob)
      .withColumn("path", input_file_name())
      .select(col("path"), col("value").as("content"))
      .filter(col("path").endsWith(ext) &&
        !col("path").endsWith(s"_test$ext") && skipPredicate)

  /** S14 — document scan: markdown/text docs (path, content). */
  def documentFiles(spark: SparkSession, glob: String,
      exts: Seq[String] = Seq(".md", ".txt", ".rst", ".adoc")): DataFrame =
    spark.read.option("wholetext", "true").text(glob)
      .withColumn("path", input_file_name())
      .select(col("path"), col("value").as("content"))
      .filter(exts.map(e => col("path").endsWith(e)).reduce(_ || _) &&
        skipPredicate)

  /** S11 — binary scan (protobuf/media payloads): (path, length, bytes).
    * Decode happens in a downstream mapPartitions (cf. ScipIngest /
    * Multimodal). */
  def binaryFiles(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("length"), col("content"))
}
