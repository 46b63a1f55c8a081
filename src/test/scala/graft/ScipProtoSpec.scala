package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.ingest.{ScipIngest, ScipProto}
import graft.store.GraphStore

/** Hand-encodes a scip.Index in protobuf wire format (no protobuf
  * library on either side — the encoder here is the test oracle for the
  * decoder in main) and asserts the binary path round-trips to the
  * IDENTICAL graph the JSON/case-class path produces. */
class ScipProtoSpec extends SparkSpec {

  // ----------------------------------------------------- wire encoder
  private def varint(v: Long): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var x = v
    while ((x & ~0x7fL) != 0) {
      out += ((x & 0x7f) | 0x80).toByte
      x >>>= 7
    }
    out += x.toByte
    out.toArray
  }
  private def key(field: Int, wt: Int): Array[Byte] =
    varint((field.toLong << 3) | wt)
  private def lenDelim(field: Int, body: Array[Byte]): Array[Byte] =
    key(field, 2) ++ varint(body.length) ++ body
  private def str(field: Int, s: String): Array[Byte] =
    lenDelim(field, s.getBytes(UTF_8))
  private def vint(field: Int, v: Long): Array[Byte] =
    key(field, 0) ++ varint(v)
  private def packed(field: Int, vs: Seq[Int]): Array[Byte] =
    lenDelim(field, vs.toArray.flatMap(v => varint(v.toLong)))

  private def occurrence(symbol: String, range: Seq[Int],
      roles: Int, packedRange: Boolean): Array[Byte] = {
    val r =
      if (packedRange) packed(1, range)
      else range.toArray.flatMap(v => vint(1, v.toLong))
    r ++ str(2, symbol) ++ (if (roles != 0) vint(3, roles) else Array[Byte]())
  }

  private def document(path: String, occs: Seq[Array[Byte]]): Array[Byte] =
    str(1, path) ++ occs.toArray.flatMap(o => lenDelim(2, o)) ++
      str(4, "go") // language: a field the decoder must skip

  private def symbolInfo(symbol: String, docs: Seq[String],
      kind: Int): Array[Byte] =
    str(1, symbol) ++ docs.toArray.flatMap(d => str(3, d)) ++
      (if (kind != 0) vint(5, kind.toLong) else Array[Byte]())

  private def index(docs: Seq[Array[Byte]],
      ext: Seq[Array[Byte]]): Array[Byte] = {
    // metadata (field 1): opaque bytes the decoder must skip untouched
    val metadata = lenDelim(1, str(3, "file:///root/proj"))
    metadata ++ docs.toArray.flatMap(d => lenDelim(2, d)) ++
      ext.toArray.flatMap(e => lenDelim(3, e))
  }

  // ------------------------------------------------------- the fixture
  /** Same index as IngestSpec's JSON-path test. */
  private val caseClassIndex = ScipIngest.ScipIndex(
    documents = Seq(ScipIngest.ScipDocument("pkg/a.go", Seq(
      ScipIngest.ScipOccurrence(
        "scip-go go svc v1 pkg/Main().", Seq(2, 5, 2, 9), 1),
      ScipIngest.ScipOccurrence(
        "scip-go go svc v1 pkg/Helper().", Seq(3, 1, 3, 7), 0)))),
    externalSymbols = Seq(ScipIngest.ScipExternalSymbol(
      "scip-go go svc v1 pkg/Helper().", "", "helper doc")))

  private def encoded(packedRanges: Boolean): Array[Byte] = index(
    docs = Seq(document("pkg/a.go", Seq(
      occurrence("scip-go go svc v1 pkg/Main().", Seq(2, 5, 2, 9), 1,
        packedRanges),
      occurrence("scip-go go svc v1 pkg/Helper().", Seq(3, 1, 3, 7), 0,
        packedRanges)))),
    ext = Seq(symbolInfo("scip-go go svc v1 pkg/Helper().",
      Seq("helper", "doc"), 0))) // two doc lines → joined with " "

  test("decodeIndex reads packed and unpacked ranges identically") {
    assert(ScipProto.decodeIndex(encoded(packedRanges = true)) ===
      caseClassIndex)
    assert(ScipProto.decodeIndex(encoded(packedRanges = false)) ===
      caseClassIndex)
  }

  test("kind enum decodes to normalized names, unknown kinds to empty") {
    val withKinds = index(Nil, Seq(
      symbolInfo("scip-go go svc v1 pkg/M().", Nil, 26), // Method
      symbolInfo("scip-go go svc v1 pkg/C#", Nil, 7), // Class
      symbolInfo("scip-go go svc v1 pkg/X.", Nil, 9999))) // future kind
    val got = ScipProto.decodeIndex(withKinds).externalSymbols
    assert(got.map(_.kind) === Seq("method", "class", ""))
  }

  test("decoder skips unknown fields and empty input") {
    // an index with ONLY unknown fields (varint field 15, fixed64
    // field 14, fixed32 field 13) decodes to the empty index
    val junk = vint(15, 42L) ++ key(14, 1) ++
      Array.fill[Byte](8)(7) ++ key(13, 5) ++ Array.fill[Byte](4)(9)
    assert(ScipProto.decodeIndex(junk) ===
      ScipIngest.ScipIndex(Nil, Nil))
    assert(ScipProto.decodeIndex(Array.emptyByteArray) ===
      ScipIngest.ScipIndex(Nil, Nil))
  }

  test("truncated input fails loudly, not with a wrong index") {
    val good = encoded(packedRanges = true)
    intercept[IllegalArgumentException] {
      ScipProto.decodeIndex(good.dropRight(3))
    }
  }

  test("binary .scip ingest builds the identical graph to the JSON path") {
    val content = "package pkg\n\nfunc Main() {\n\tHelper()\n}\n"
    // JSON/case-class path
    val dirJ = java.nio.file.Files.createTempDirectory("graft-scipj")
      .toString
    val storeJ = new GraphStore(spark, dirJ)
    ScipIngest.ingest(storeJ, spark, caseClassIndex, "svc",
      Map("pkg/a.go" -> content))
    // binary path: write real .scip bytes, ingest through the file API
    val scipPath = java.nio.file.Files.createTempDirectory("graft-scipb")
      .resolve("index.scip")
    java.nio.file.Files.write(scipPath, encoded(packedRanges = true))
    val dirB = java.nio.file.Files.createTempDirectory("graft-scipbs")
      .toString
    val storeB = new GraphStore(spark, dirB)
    ScipIngest.ingestScipFile(storeB, spark, scipPath.toString, "svc",
      Map("pkg/a.go" -> content))
    // identical graphs: deterministic merge-key ids ⇒ set equality,
    // modulo the documentation column ("helper doc" arrives pre-joined
    // in JSON and as two protobuf lines — joined identically)
    val nj = storeJ.nodes.collect().toSet
    val nb = storeB.nodes.collect().toSet
    assert(nb === nj)
    val ej = storeJ.edges.collect().toSet
    val eb = storeB.edges.collect().toSet
    assert(eb === ej)
  }

  test("property: random indexes round-trip through the wire format") {
    import org.scalacheck.Gen
    import org.scalacheck.Gen.Parameters
    import org.scalacheck.rng.Seed
    val genOcc = for {
      sym <- Gen.alphaNumStr.suchThat(_.nonEmpty)
      n <- Gen.oneOf(3, 4)
      range <- Gen.listOfN(n, Gen.choose(0, 100000))
      roles <- Gen.choose(0, 7)
    } yield ScipIngest.ScipOccurrence(s"scip $sym", range, roles)
    val genDoc = for {
      path <- Gen.alphaNumStr.suchThat(_.nonEmpty)
      occs <- Gen.listOf(genOcc)
    } yield ScipIngest.ScipDocument(s"pkg/$path.go", occs)
    val genExt = for {
      sym <- Gen.alphaNumStr.suchThat(_.nonEmpty)
      doc <- Gen.alphaNumStr
    } yield ScipIngest.ScipExternalSymbol(s"scip $sym", "", doc)
    val genIndex = for {
      docs <- Gen.listOf(genDoc)
      ext <- Gen.listOf(genExt)
    } yield ScipIngest.ScipIndex(docs, ext)
    var seed = Seed(42L)
    (1 to 50).foreach { i =>
      val idx = genIndex.pureApply(Parameters.default, seed)
      seed = seed.next
      val bytes = index(
        docs = idx.documents.map(d => document(d.relativePath,
          d.occurrences.map(o => occurrence(o.symbol, o.range,
            o.symbolRoles, packedRange = i % 2 == 0)))),
        ext = idx.externalSymbols.map(s =>
          symbolInfo(s.symbol, if (s.documentation.isEmpty) Nil
            else Seq(s.documentation), 0)))
      assert(ScipProto.decodeIndex(bytes) === idx, s"iteration $i")
    }
  }
}
