package graft.ops

import java.nio.ByteBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for a training-data pipeline: media as opaque
  * `binary` columns with typed metadata, processed by per-partition batch
  * decoders.
  *
  * Real-world image/audio codecs (JPEG/FLAC/...) do NOT ship in this
  * container, so payloads use **GRFT1** — a deliberately trivial media
  * container defined here — and the decode path is REAL parsing of real
  * bytes: magic/version validation, per-kind headers, pixel/sample math.
  * Swapping in production codecs replaces only the container branch of
  * `parseHeader`/`body` readers; the Spark-side contract (schema, batch shape, partitioning, decode-once
  * fusion) is identical.
  *
  * GRFT1 layout (big-endian):
  * {{{
  * magic "GRFT" | version u8=1 | kind u8 (0 image, 1 audio, 2 video)
  * image: width u16 | height u16          | gray8 pixels (w·h bytes)
  * audio: sample_rate u32 | n_samples u32 | s16 samples (2·n bytes)
  * video: width u16 | height u16 | n_frames u16 | n_frames × gray8 frames
  * }}}
  */
object Multimodal {

  val Magic: Array[Byte] = Array('G', 'R', 'F', 'T').map(_.toByte)

  /** Deterministic synthetic media table (payloads derived from the asset
    * id — reproducible across partitionings like Transcripts).
    */
  def synthesize(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n.toLong).map { i =>
      val rng = new java.util.Random(0x5eed ^ i)
      (i % 3).toInt match {
        case 0 =>
          val w = 16 + rng.nextInt(17)
          val h = 16 + rng.nextInt(17)
          val bb = ByteBuffer.allocate(6 + 4 + w * h)
          bb.put(Magic).put(1.toByte).put(0.toByte)
          bb.putShort(w.toShort).putShort(h.toShort)
          val px = new Array[Byte](w * h)
          rng.nextBytes(px)
          bb.put(px)
          (i, "image", bb.array(), w, h, 0, 1)
        case 1 =>
          val sr = 16000
          val ns = 512 + rng.nextInt(512)
          val bb = ByteBuffer.allocate(6 + 8 + 2 * ns)
          bb.put(Magic).put(1.toByte).put(1.toByte)
          bb.putInt(sr).putInt(ns)
          var k = 0
          while (k < ns) { bb.putShort(((rng.nextInt(65536)) - 32768).toShort); k += 1 }
          (i, "audio", bb.array(), 0, 0, sr, 1)
        case _ =>
          val w = 8 + rng.nextInt(9)
          val h = 8 + rng.nextInt(9)
          val nf = 2 + rng.nextInt(15)
          val bb = ByteBuffer.allocate(6 + 6 + nf * w * h)
          bb.put(Magic).put(1.toByte).put(2.toByte)
          bb.putShort(w.toShort).putShort(h.toShort).putShort(nf.toShort)
          val px = new Array[Byte](nf * w * h)
          rng.nextBytes(px)
          bb.put(px)
          (i, "video", bb.array(), w, h, 0, nf)
      }
    }.toDF("asset_id", "kind", "bytes", "width", "height", "sample_rate", "n_frames")
  }

  /** Deterministic media table whose HEADER fields AND body bytes are pure
    * integer arithmetic of (asset id, byte index) — the oracle-able
    * variant of [[synthesize]]: a DuckDB oracle recomputes the same fields
    * from `generate_series` arithmetic, so the real byte-level header
    * DECODE (magic/version/kind dispatch, u16/u32 big-endian reads,
    * declared-length validation — q61) and the body feature HISTOGRAMS
    * (q66) are hash-gated end-to-end. Rules, `i` = asset_id:
    *   image (i%3==0): w = 16 + (7i)%17,  h = 16 + (5i)%17;
    *                   pixel j = (7i + 31j) % 256
    *   audio (i%3==1): sr = 8000 + (i%5)*2000, ns = 512 + (31i)%512;
    *                   sample k = (11i + 17k) % 65536 - 32768 (s16 BE)
    *   video (i%3==2): w = 8 + (3i)%9, h = 8 + (11i)%9, nf = 2 + (13i)%15;
    *                   pixel j (frame-sequential) = (7i + 31j) % 256
    */
  def deterministic(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n.toLong).map { i =>
      def px(sz: Int): Array[Byte] =
        Array.tabulate(sz)(j => ((7 * i + 31L * j) % 256).toByte)
      (i % 3).toInt match {
        case 0 =>
          val w = (16 + (7 * i) % 17).toInt
          val h = (16 + (5 * i) % 17).toInt
          val bb = ByteBuffer.allocate(6 + 4 + w * h)
          bb.put(Magic).put(1.toByte).put(0.toByte)
          bb.putShort(w.toShort).putShort(h.toShort)
          bb.put(px(w * h))
          (i, "image", bb.array())
        case 1 =>
          val sr = (8000 + (i % 5) * 2000).toInt
          val ns = (512 + (31 * i) % 512).toInt
          val bb = ByteBuffer.allocate(6 + 8 + 2 * ns)
          bb.put(Magic).put(1.toByte).put(1.toByte)
          bb.putInt(sr).putInt(ns)
          var k = 0
          while (k < ns) {
            bb.putShort((((11 * i + 17L * k) % 65536) - 32768).toShort)
            k += 1
          }
          (i, "audio", bb.array())
        case _ =>
          val w = (8 + (3 * i) % 9).toInt
          val h = (8 + (11 * i) % 9).toInt
          val nf = (2 + (13 * i) % 15).toInt
          val bb = ByteBuffer.allocate(6 + 6 + nf * w * h)
          bb.put(Magic).put(1.toByte).put(2.toByte)
          bb.putShort(w.toShort).putShort(h.toShort).putShort(nf.toShort)
          bb.put(px(nf * w * h))
          (i, "video", bb.array())
      }
    }.toDF("asset_id", "kind", "bytes")
  }

  /** Integer per-bin histogram COUNTS recovered from [[decodeFeatures]]'s
    * normalized float histogram (count = round(frac·total) is exact for
    * total < ~8M at float precision) — the q66 oracle surface: the body
    * decode (pixel reads / big-endian s16 sample reads) and binning math
    * hash-gated as integers, no cross-engine float rounding in the output.
    */
  def histogramCounts(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("asset_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val h = parseHeader(bytes)
          val total = h.kind match {
            case 1 => h.nSamples.toLong
            case _ => bytes.length.toLong - h.bodyOffset
          }
          val hist = decodeFeatures(bytes)
          hist.indices.map(b => (id, b, math.round(hist(b).toDouble * total)))
        }
      }
      .toDF("asset_id", "bin", "n")
  }

  /** Decode every asset's header fields from the RAW bytes (no metadata
    * columns consulted) — the q61 oracle surface: per-kind decoded fields
    * plus the declared body length and the ACTUAL trailing byte count, so
    * the size-validation arithmetic is checked too.
    */
  def decodeHeaders(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("asset_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val h = parseHeader(bytes)
          val kind = h.kind match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
          val declared = h.kind match {
            case 0 => h.width.toLong * h.height
            case 1 => 2L * h.nSamples
            case _ => h.nFrames.toLong * h.width * h.height
          }
          (id, kind, h.width.toLong, h.height.toLong, h.sampleRate.toLong,
            h.nSamples.toLong, h.nFrames.toLong, declared,
            (bytes.length - h.bodyOffset).toLong)
        }
      }
      .toDF("asset_id", "kind", "width", "height", "sample_rate",
        "n_samples", "n_frames", "declared_body_len", "actual_body_len")
  }

  final case class Header(kind: Int, width: Int, height: Int,
      sampleRate: Int, nSamples: Int, nFrames: Int, bodyOffset: Int)

  /** Parse + validate a GRFT1 header (the real decode entry point).
    * The declared payload size is checked against the actual byte length,
    * so a truncated/corrupt blob fails here as a validation error instead
    * of a BufferUnderflow (or a silent read into a neighboring frame)
    * deep inside a decoder.
    */
  def parseHeader(bytes: Array[Byte]): Header = {
    require(bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'R' &&
      bytes(2) == 'F' && bytes(3) == 'T', "bad magic")
    require(bytes(4) == 1, s"unsupported GRFT version ${bytes(4)}")
    val bb = ByteBuffer.wrap(bytes, 5, bytes.length - 5)
    def checked(h: Header, bodyLen: Long): Header = {
      require(bytes.length >= h.bodyOffset + bodyLen,
        s"truncated GRFT payload: have ${bytes.length} bytes, " +
          s"header declares ${h.bodyOffset} + $bodyLen")
      h
    }
    bb.get() match {
      case 0 =>
        require(bytes.length >= 10, "truncated image header")
        val w = bb.getShort & 0xffff
        val h = bb.getShort & 0xffff
        checked(Header(0, w, h, 0, 0, 1, 10), w.toLong * h)
      case 1 =>
        require(bytes.length >= 14, "truncated audio header")
        val sr = bb.getInt
        val ns = bb.getInt
        checked(Header(1, 0, 0, sr, ns, 1, 14), 2L * ns)
      case 2 =>
        require(bytes.length >= 12, "truncated video header")
        val w = bb.getShort & 0xffff
        val h = bb.getShort & 0xffff
        val nf = bb.getShort & 0xffff
        checked(Header(2, w, h, 0, 0, nf, 12), nf.toLong * w * h)
      case k => throw new IllegalArgumentException(s"unknown kind $k")
    }
  }

  /** Per-kind 16-bin normalized feature histogram over the REAL body bytes:
    * image/video — pixel intensity bins; audio — |s16| amplitude bins.
    */
  def decodeFeatures(bytes: Array[Byte]): Array[Float] = {
    val h = parseHeader(bytes)
    val hist = new Array[Float](16)
    var total = 0
    h.kind match {
      case 0 | 2 =>
        var i = h.bodyOffset
        while (i < bytes.length) { hist((bytes(i) & 0xf0) >>> 4) += 1f; total += 1; i += 1 }
      case 1 =>
        val bb = ByteBuffer.wrap(bytes, h.bodyOffset, bytes.length - h.bodyOffset)
        var k = 0
        while (k < h.nSamples) {
          val s = bb.getShort.toInt
          hist(math.min(math.abs(s) >>> 11, 15)) += 1f
          total += 1
          k += 1
        }
    }
    if (total > 0) { var j = 0; while (j < 16) { hist(j) /= total; j += 1 } }
    hist
  }

  /** Feature-extract: mapPartitions over the binary column, one decode per
    * row, codegen-friendly downstream (features are a plain array column).
    * Partitioning note: media rows are large (the payload); repartition by
    * asset_id first so a handful of giant assets do not pile up on one
    * task — same skew discipline as the series explode.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .repartition(col("asset_id"))
      .select(col("asset_id"), col("kind"), col("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, bytes) => (id, kind, decodeFeatures(bytes)) }
      }
      .toDF("asset_id", "kind", "features")
  }

  /** Content-defined chunking (CDC) over the raw BODY bytes — the
    * storage/dedup primitive for binary media (Muthitacharoen et al.
    * 2001, LBFS; FastCDC 2016): chunk boundaries are set by the CONTENT
    * (a rolling hash over the last 4 bytes hitting `rh % mask == 0`),
    * not by fixed offsets, so inserting bytes shifts only the chunks it
    * touches and identical segments produce identical chunks at ANY
    * byte offset — exactly why two assets sharing a media segment dedup
    * at the chunk level when whole-blob hashing ([[graft.ops.Dedup]]
    * `exact`) sees two distinct blobs.
    *
    * Per chunk: `start`/`len` (body-relative), `fp_pos` = Σ (t+1)·bᵗ
    * mod 1e9+7 (t = offset IN the chunk — position-sensitive, so
    * reordered bytes differ) and `fp_sum` = Σ bᵗ — pure integer
    * fingerprints a SQL oracle replays byte-for-byte from the
    * [[deterministic]] table's arithmetic bodies. One pass per blob, no
    * allocation beyond the output rows; chunking parallelizes per asset
    * (mapPartitions), the dedup groupBy afterwards is the only shuffle.
    *
    * @param mask boundary when the 4-byte rolling hash ≡ 0 (mod mask) —
    *             expected chunk length ≈ mask bytes
    */
  def cdcChunks(media: DataFrame, mask: Int = 32): DataFrame = {
    require(mask >= 2, s"mask must be >= 2, got $mask")
    val spark = media.sparkSession
    import spark.implicits._
    val P = 1000000007L
    media.select(col("asset_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val h = parseHeader(bytes)
          val off = h.bodyOffset
          val n = bytes.length - off
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Int, Long, Long)]
          var start = 0
          var fpPos = 0L
          var fpSum = 0L
          var idx = 0
          var j = 0
          while (j < n) {
            val b = (bytes(off + j) & 0xFF).toLong
            val t = (j - start).toLong
            fpPos = (fpPos + (t + 1) * b) % P
            fpSum = fpSum + b
            // 4-byte rolling hash (257-base polynomial, same constants as
            // the winnow k-gram hash), defined once 4 bytes exist
            val boundary = j >= 3 && {
              val b0 = (bytes(off + j - 3) & 0xFF).toLong
              val b1 = (bytes(off + j - 2) & 0xFF).toLong
              val b2 = (bytes(off + j - 1) & 0xFF).toLong
              ((b0 * 16974593L + b1 * 66049L + b2 * 257L + b) % P) % mask == 0
            }
            if (boundary || j == n - 1) {
              out += ((id, idx, start, j - start + 1, fpPos, fpSum))
              idx += 1; start = j + 1; fpPos = 0L; fpSum = 0L
            }
            j += 1
          }
          out
        }
      }
      .toDF("asset_id", "chunk_idx", "start", "len", "fp_pos", "fp_sum")
  }
}
