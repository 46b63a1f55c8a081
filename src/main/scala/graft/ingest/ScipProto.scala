package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8

/** Minimal protobuf wire-format decoder for `scip.Index` — the binary
  * `.scip` files users actually have (SURVEY S11; decode semantics of
  * the reference's `scip_parser.go:25-38`, which proto-unmarshals the
  * whole index). The schema is the public sourcegraph/scip `scip.proto`;
  * only the fields the graph build consumes are decoded, and every
  * unknown field is skipped by wire type, so indexes produced by newer
  * SCIP emitters still parse.
  *
  * Field numbers (public scip.proto):
  *   Index:             documents=2, external_symbols=3 (metadata=1 skipped)
  *   Document:          relative_path=1, occurrences=2
  *   Occurrence:        range=1 (packed or unpacked int32), symbol=2,
  *                      symbol_roles=3
  *   SymbolInformation: symbol=1, documentation=3 (repeated, joined with
  *                      " " like the reference), kind=5 (enum)
  *
  * Pure function of the byte array; [[ScipIngest.ingestScipFile]] reads
  * the file and decodes it on the driver.
  */
object ScipProto {

  /** Cursor over a length-delimited slice of the buffer. */
  private final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end

    def varint(): Long = {
      var shift = 0
      var result = 0L
      while (shift < 64) {
        require(pos < end, "truncated varint")
        val b = buf(pos); pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new IllegalArgumentException("malformed varint (>64 bits)")
    }

    /** Sub-reader over a length-delimited field body. */
    def lenDelimited(): Reader = {
      val n = varint().toInt
      require(n >= 0 && pos + n <= end, s"bad length $n")
      val r = new Reader(buf, pos, pos + n)
      pos += n
      r
    }

    def string(): String = {
      val n = varint().toInt
      require(n >= 0 && pos + n <= end, s"bad string length $n")
      val s = new String(buf, pos, n, UTF_8)
      pos += n
      s
    }

    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val n = varint().toInt; require(n >= 0, "bad len"); pos += n
      case 5 => pos += 4
      case other =>
        throw new IllegalArgumentException(s"unsupported wire type $other")
    }
  }

  /** Normalized lowercase names for the SymbolInformation.Kind values
    * the code-graph schema distinguishes; anything else decodes to ""
    * and the ingest falls back to descriptor-shape inference
    * ([[ScipIngest.kindCol]]), exactly like symbols with no kind. */
  private val kindNames: Map[Int, String] = Map(
    7 -> "class", 9 -> "constructor", 11 -> "enum", 15 -> "field",
    17 -> "function", 21 -> "interface", 26 -> "method",
    29 -> "namespace", 34 -> "package", 36 -> "parameter",
    40 -> "property", 49 -> "struct", 52 -> "type", 60 -> "variable")

  private def decodeOccurrence(r: Reader): ScipIngest.ScipOccurrence = {
    val range = Seq.newBuilder[Int]
    var symbol = ""
    var roles = 0
    while (r.hasMore) {
      val tag = r.varint()
      val (field, wt) = ((tag >> 3).toInt, (tag & 7).toInt)
      (field, wt) match {
        case (1, 2) => // packed repeated int32
          val sub = r.lenDelimited()
          while (sub.hasMore) range += sub.varint().toInt
        case (1, 0) => range += r.varint().toInt // unpacked element
        case (2, 2) => symbol = r.string()
        case (3, 0) => roles = r.varint().toInt
        case _ => r.skip(wt)
      }
    }
    ScipIngest.ScipOccurrence(symbol, range.result(), roles)
  }

  private def decodeDocument(r: Reader): ScipIngest.ScipDocument = {
    var path = ""
    val occs = Seq.newBuilder[ScipIngest.ScipOccurrence]
    while (r.hasMore) {
      val tag = r.varint()
      val (field, wt) = ((tag >> 3).toInt, (tag & 7).toInt)
      (field, wt) match {
        case (1, 2) => path = r.string()
        case (2, 2) => occs += decodeOccurrence(r.lenDelimited())
        case _ => r.skip(wt)
      }
    }
    ScipIngest.ScipDocument(path, occs.result())
  }

  private def decodeSymbolInfo(r: Reader): ScipIngest.ScipExternalSymbol = {
    var symbol = ""
    var kind = ""
    val docs = Seq.newBuilder[String]
    while (r.hasMore) {
      val tag = r.varint()
      val (field, wt) = ((tag >> 3).toInt, (tag & 7).toInt)
      (field, wt) match {
        case (1, 2) => symbol = r.string()
        case (3, 2) => docs += r.string()
        case (5, 0) => kind = kindNames.getOrElse(r.varint().toInt, "")
        case _ => r.skip(wt)
      }
    }
    // reference joins documentation lines with a space (scip_parser.go:69)
    ScipIngest.ScipExternalSymbol(symbol, kind, docs.result().mkString(" "))
  }

  /** Decode one `.scip` file's bytes into the same [[ScipIngest.ScipIndex]]
    * the JSON path produces. */
  def decodeIndex(data: Array[Byte]): ScipIngest.ScipIndex = {
    val r = new Reader(data, 0, data.length)
    val docs = Seq.newBuilder[ScipIngest.ScipDocument]
    val ext = Seq.newBuilder[ScipIngest.ScipExternalSymbol]
    while (r.hasMore) {
      val tag = r.varint()
      val (field, wt) = ((tag >> 3).toInt, (tag & 7).toInt)
      (field, wt) match {
        case (2, 2) => docs += decodeDocument(r.lenDelimited())
        case (3, 2) => ext += decodeSymbolInfo(r.lenDelimited())
        case _ => r.skip(wt)
      }
    }
    ScipIngest.ScipIndex(docs.result(), ext.result())
  }
}
