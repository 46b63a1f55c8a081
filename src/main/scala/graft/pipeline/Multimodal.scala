package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The Spark-side contract is real and tested — schema, partitioning,
  * batch iteration shape, feature output schema. Decode is REAL for the
  * codec-free containers ([[MediaCodecs]]: PCM WAV and uncompressed
  * 24-bit BMP, pure byte arithmetic), PNG/JPEG/GIF (`javax.imageio`),
  * MJPEG-in-AVI frames and μ-law audio; inter-frame video (H.264/VP9)
  * and compressed audio (MP3/AAC) fall back to `decodeStub`, which
  * derives deterministic fake features from the bytes.
  *
  * PERMANENT EXCLUSION (SURVEY §8): the JDK has no codec for
  * inter-frame video or MP3/AAC and new dependencies are out of brief,
  * so those formats stay stubbed by design — this is the project's
  * final word, not a TODO. Swap the stub branch for a real codec
  * (e.g. JNI/javacv) without touching the plumbing.
  */
object Multimodal {

  case class MediaRow(media_id: Long, modality: String, bytes: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  case class MediaFeatures(media_id: Long, modality: String,
      n_bytes: Int, checksum: Long, features: Array[Float])

  /** Content-sniffing decode: REAL parsing for PCM WAV and 24-bit BMP
    * payloads ([[MediaCodecs]], pure byte arithmetic) and for PNG/JPEG/
    * GIF (JDK `javax.imageio` — public API, no new dependency);
    * deterministic stub only for formats the JDK has no codec for
    * (video, compressed audio). Always 8 floats, always a pure function
    * of the bytes. */
  def decodeFeatures(bytes: Array[Byte]): Array[Float] =
    if (MediaCodecs.isWav(bytes))
      MediaCodecs.decodeWav(bytes)
        .map { case (meta, samples) => MediaCodecs.wavFeatures(meta, samples) }
        .getOrElse(decodeStub(bytes))
    else if (MediaCodecs.isBmp(bytes))
      MediaCodecs.decodeBmp(bytes).map(MediaCodecs.bmpFeatures)
        .getOrElse(decodeStub(bytes))
    else if (MediaCodecs.isImageIoDecodable(bytes))
      MediaCodecs.decodeImage(bytes).map(MediaCodecs.bmpFeatures)
        .getOrElse(decodeStub(bytes))
    else decodeStub(bytes)

  /** STUB decode: a real implementation would decode the image/audio and
    * compute embeddings; this derives a deterministic 8-dim feature vector
    * from the raw bytes so the pipeline shape is testable end-to-end. */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](8)
    var i = 0
    while (i < bytes.length) {
      out(i % 8) = out(i % 8) + (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    out
  }

  /** Per-partition batched feature extraction — the `mapPartitions` shape
    * that a Pandas-UDF/`mapInPandas` stage takes on a Python stack: one
    * iterator in, one iterator out, no per-row task overhead, constant
    * memory. Partition count controls decode parallelism.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        var cks = 0L
        r.bytes.foreach(b => cks = cks * 31 + (b & 0xff))
        MediaFeatures(r.media_id, r.modality, r.bytes.length, cks,
          decodeFeatures(r.bytes))
      }
    }
  }

  case class BinMeta(media_id: Long, n_bytes: Int, sha_hex: String,
      n_frames: Int)

  /** Typed per-partition metadata extraction over an opaque binary
    * column: payload size, content digest, frame count at `frameSize`
    * bytes per frame. The decode itself stays stubbed; the partition-
    * batched iteration, binary schema, and digest are the real 100 TB
    * plumbing (one MessageDigest per partition, streamed rows). */
  def binaryMeta(df: DataFrame, idCol: String, binCol: String,
      frameSize: Int = 256): Dataset[BinMeta] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        rows.map { case (id, bytesOrNull) =>
          // null payload ≡ empty payload (don't fail the 100 TB job on
          // one null cell)
          val bytes =
            if (bytesOrNull == null) Array.emptyByteArray else bytesOrNull
          md.reset()
          val hex = md.digest(bytes).map("%02x".format(_)).mkString
          BinMeta(id, bytes.length, hex,
            (bytes.length + frameSize - 1) / frameSize)
        }
      }
  }

  case class FrameRow(media_id: Long, frame_index: Int, frame_bytes: Int,
      head_hex: String)

  /** Byte-exact frame fan-out over an opaque binary column: split the
    * payload into `frameSize`-byte frames and emit per-frame rows with
    * the frame's size and the hex digest of its first `headBytes` bytes
    * (the "magic number" probe a real decoder starts with). It emits
    * no stubbed features, so the output is a pure function of the
    * bytes — oracle-comparable in any engine that can hex the same
    * payload. Null payload ≡ empty ≡ no frames. */
  def frameHex(df: DataFrame, idCol: String, binCol: String,
      frameSize: Int, headBytes: Int): Dataset[FrameRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytesOrNull) =>
        val bytes =
          if (bytesOrNull == null) Array.emptyByteArray else bytesOrNull
        bytes.grouped(frameSize).zipWithIndex.map { case (chunk, idx) =>
          FrameRow(id, idx, chunk.length,
            chunk.take(headBytes).map("%02X".format(_)).mkString)
        }
      }
  }
}
