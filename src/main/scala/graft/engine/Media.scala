package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media spans are opaque references with
  * typed metadata; decode / feature-extract runs per partition in batches.
  *
  * STUB NOTE: no image/audio codecs exist in this container, so `decodeStub`
  * produces a deterministic fake decode (dimensions + an 8-dim feature
  * vector derived from the ref hash). The Spark-side plumbing — schema,
  * partition-batched execution, typed output — is real and tested; swapping
  * in a real decoder only replaces the body of `decodeStub`.
  *
  * The PPM path below needs NO stub: P6 is a codec-free format, so
  * `decodePpm` is a genuine binary decoder (header parse + raster feature
  * extraction) driven end-to-end in the q71 gate. */
object Media {

  final case class MediaFeature(doc_id: String, media_ref: String,
                                width: Int, height: Int, n_frames: Int,
                                feature: Array[Float])

  /** Deterministic fake decoder (STUB — stands in for e.g. JPEG decode).
    * Derives every field from md5 hex slices of the ref so an independent
    * SQL oracle can recompute the exact same metadata. */
  def decodeStub(ref: String): (Int, Int, Int, Array[Float]) = {
    import graft.core.Hashing.{hexSlice, md5Hex}
    val m = md5Hex(ref)
    val width = 64 + (hexSlice(m, 0, 5) % 1024).toInt
    val height = 64 + (hexSlice(m, 5, 10) % 1024).toInt
    val nFrames = 1 + (hexSlice(m, 10, 14) % 16).toInt
    val m2 = md5Hex(ref + "#f")
    val feat = new Array[Float](8)
    var j = 0
    while (j < 8) {
      feat(j) = hexSlice(m2, 3 * j, 3 * j + 3).toFloat / 4096.0f
      j += 1
    }
    (width, height, nFrames, feat)
  }

  // ---- REAL decode path: binary PPM (P6) ---------------------------------
  // The container ships no image codecs, but PPM needs none: it is a pure
  // header + raw-raster format. This path synthesizes VALID P6 payloads and
  // genuinely PARSES them back — the decoder reads only the bytes (magic,
  // whitespace/comment-tolerant header, raster) and never sees the
  // generator's pixel law. The law exists solely so an independent SQL
  // oracle can recompute the decoded features.

  /** Synthesize a valid binary PPM (P6) payload for a media ref — the
    * object-store fetch stand-in. Pixel law: seed = first 8 md5 hex digits
    * of the ref; raster byte i is (seed + 31*i) mod 256. Dimensions 8..23
    * from further md5 slices. Header includes a comment line (exercises the
    * parser's comment handling). */
  def renderPpm(ref: String): Array[Byte] = {
    import graft.core.Hashing.{hexSlice, md5Hex}
    val m = md5Hex(ref)
    val w = 8 + (hexSlice(m, 8, 10) % 16).toInt
    val h = 8 + (hexSlice(m, 10, 12) % 16).toInt
    val seed = hexSlice(m, 0, 8)
    val header = s"P6\n# graft synthetic\n$w $h\n255\n".getBytes("US-ASCII")
    val n = w * h * 3
    val out = new Array[Byte](header.length + n)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < n) { out(header.length + i) = ((seed + 31L * i) % 256).toByte; i += 1 }
    out
  }

  /** REAL PPM (P6) decoder: whitespace/comment-tolerant header parse, then
    * feature extraction over the raster. Returns (width, height, 1 frame,
    * 8-dim feature) or null on any malformed input (bad magic, non-255
    * maxval, absurd dims, short raster).
    *
    * Features: [meanR, meanG, meanB, meanLum(TL), meanLum(TR), meanLum(BL),
    * meanLum(BR), aspect] — channel sums accumulate as exact Longs; each
    * float is produced by the fixed op order (sum -> /3.0 -> /count ->
    * toFloat) so the SQL oracle mirrors it bit-for-bit. */
  def decodePpm(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    if (payload == null || payload.length < 12) return null
    var pos = 0
    def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\r' || b == '\t'
    // skip whitespace and '#' comments (comment runs to end of line)
    def skip(): Boolean = {
      var progressed = true
      while (progressed && pos < payload.length) {
        progressed = false
        while (pos < payload.length && isWs(payload(pos))) { pos += 1; progressed = true }
        if (pos < payload.length && payload(pos) == '#') {
          while (pos < payload.length && payload(pos) != '\n') pos += 1
          progressed = true
        }
      }
      pos < payload.length
    }
    def readInt(): Int = {
      if (!skip()) return -1
      var v = 0L
      var any = false
      while (pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9') {
        v = v * 10 + (payload(pos) - '0'); any = true; pos += 1
        if (v > Int.MaxValue) return -1
      }
      if (any) v.toInt else -1
    }
    if (payload(0) != 'P' || payload(1) != '6') return null
    pos = 2
    val w = readInt(); val h = readInt(); val maxv = readInt()
    if (w <= 0 || h <= 0 || w > 4096 || h > 4096 || maxv != 255) return null
    // exactly ONE whitespace byte separates the header from the raster
    if (pos >= payload.length || !isWs(payload(pos))) return null
    pos += 1
    val npx = w * h
    if (payload.length - pos < npx * 3) return null
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    val qSum = new Array[Long](4)
    val w2 = w / 2; val h2 = h / 2
    var p = 0
    while (p < npx) {
      val r = payload(pos + 3 * p) & 0xFF
      val g = payload(pos + 3 * p + 1) & 0xFF
      val b = payload(pos + 3 * p + 2) & 0xFF
      sumR += r; sumG += g; sumB += b
      val qi = (if (p % w < w2) 0 else 1) + (if (p / w < h2) 0 else 2)
      qSum(qi) += r + g + b
      p += 1
    }
    val qCnt = Array[Long](w2.toLong * h2, (w - w2).toLong * h2,
      w2.toLong * (h - h2), (w - w2).toLong * (h - h2))
    val feat = new Array[Float](8)
    feat(0) = (sumR.toDouble / npx).toFloat
    feat(1) = (sumG.toDouble / npx).toFloat
    feat(2) = (sumB.toDouble / npx).toFloat
    var qi = 0
    while (qi < 4) {
      feat(3 + qi) = if (qCnt(qi) == 0) 0.0f
        else (qSum(qi).toDouble / 3.0 / qCnt(qi)).toFloat
      qi += 1
    }
    feat(7) = (w.toDouble / h).toFloat
    (w, h, 1, feat)
  }

  /** Media spans -> rendered P6 payloads -> REAL decode, both partition-
    * batched (fetch and codec init once per partition). Output: typed
    * metadata + the 8-dim feature vector. */
  def extractFeaturesPpm(spark: SparkSession, docs: DataFrame): DataFrame =
    extractWith(spark, docs, ref => decodePpm(renderPpm(ref)))

  /** THE media-span extraction + partition-batched decode pipeline: one
    * span explode/filter definition, one mapPartitions shape (decoder/codec
    * init once per partition), parameterized by the per-ref decoder so the
    * stub (q37) and PPM (q71) gates can never diverge on the plumbing. */
  private def extractWith(spark: SparkSession, docs: DataFrame,
                          decode: String => (Int, Int, Int, Array[Float])): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"), explode(col("spans")).as("span"))
      .where(col("span.kind") === "media" && length(col("span.media_ref")) > 0)
      .select(col("doc_id"), col("span.media_ref").as("media_ref"))
      .as[(String, String)]
      .mapPartitions { it =>
        // decoder/codec init happens here, once per partition; undecodable
        // refs are skipped (relaxed null discipline, like unparseable text)
        it.flatMap { case (docId, ref) =>
          Option(decode(ref)).map { case (w, h, f, feat) =>
            MediaFeature(docId, ref, w, h, f, feat)
          }
        }
      }
      .toDF()
  }

  /** Extract media spans from the interleaved-doc table and run the (stub)
    * decoder partition-batched. Output columns are the typed metadata the
    * pipeline joins/filters on without touching bytes. */
  def extractFeatures(spark: SparkSession, docs: DataFrame): DataFrame =
    extractWith(spark, docs, decodeStub)
}
