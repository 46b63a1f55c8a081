package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.sources.Sources

class SourcesSpec extends SparkSpec {

  test("sourceFiles scans code, skips tests and vendor dirs") {
    val dir = Files.createTempDirectory("graft-src")
    Files.createDirectories(dir.resolve("pkg"))
    Files.createDirectories(dir.resolve("vendor/dep"))
    Files.writeString(dir.resolve("pkg/a.go"), "package pkg\nfunc A() {}\n")
    Files.writeString(dir.resolve("pkg/a_test.go"), "package pkg\n")
    Files.writeString(dir.resolve("vendor/dep/b.go"), "package dep\n")
    val out = Sources.sourceFiles(spark, s"$dir/*/*").collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("path").endsWith("pkg/a.go"))
    assert(out(0).getAs[String]("content").contains("func A()"))
  }

  test("documentFiles keeps doc extensions only") {
    val dir = Files.createTempDirectory("graft-docs")
    Files.writeString(dir.resolve("readme.md"), "# Hi\n")
    Files.writeString(dir.resolve("notes.txt"), "notes\n")
    Files.writeString(dir.resolve("code.go"), "package x\n")
    val out = Sources.documentFiles(spark, s"$dir/*").collect()
    assert(out.map(_.getAs[String]("path").split('/').last).toSet ===
      Set("readme.md", "notes.txt"))
  }

  test("binaryFiles returns raw bytes with length") {
    val dir = Files.createTempDirectory("graft-bin")
    Files.write(dir.resolve("x.bin"), Array[Byte](1, 2, 3, 4))
    val out = Sources.binaryFiles(spark, s"$dir/*.bin").collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("length") === 4L)
    assert(out(0).getAs[Array[Byte]]("content").toSeq === Seq[Byte](1, 2, 3, 4))
  }

  test("partitioned write prunes partitions on read (the 100 TB layout)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = Files.createTempDirectory("graft-part").toString
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("lang") === "en")
    // the filter must reach the scan as a PartitionFilter — a plan that
    // reads all languages and filters after is the layout bug this
    // guards against
    val scan = back.queryExecution.executedPlan.collectLeaves().head
      .toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(lang"),
      s"partition filter not pushed:\n$scan")
    val expected = docs.filter(col("lang") === "en").count()
    assert(back.count() === expected)
  }
}
