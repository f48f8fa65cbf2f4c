package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * with batch decode/feature-extraction over partitions.
  *
  * The container has no image/audio codecs, so the decode itself is a
  * clearly-marked deterministic STUB ([[StubDecoder]]); everything
  * Spark-side is real and tested: the binary column schema, the metadata
  * struct, partition-wise batch processing through a typed
  * `mapPartitions` (the Scala analogue of `mapInPandas` batch UDFs —
  * decoder state is initialized once per partition, amortized over the
  * batch, exactly how a real codec handle would be), and the
  * hash/size bookkeeping a 100 TB media pipeline needs for dedup and
  * shard planning.
  */
object Multimodal {

  /** One media row: payload plus typed metadata. */
  case class MediaRow(doc_id: Long, payload: Array[Byte], kind: String, n_bytes: Long)

  /** Extracted features (decode output). */
  case class MediaFeatures(
      doc_id: Long,
      kind: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      channels: Int,
      checksum: Long)

  /** The decoder seam: one handle per PARTITION (constructed inside the
    * task, amortized over its batch — exactly a codec/DSP handle's
    * lifecycle), decoding each payload to (width, height, channels). A
    * production deployment swaps in a codec-backed implementation through
    * the `mkDecoder` factory argument of [[extractFeatures]]/[[resizeTo]]
    * without touching engine source. The factory crosses the task-closure
    * boundary, so implementations must be Serializable (function literals
    * and the stateless decoders here are).
    */
  trait MediaDecoder extends Serializable {
    def decode(payload: Array[Byte]): (Int, Int, Int)
  }

  /** STUB decoder — stands in for an image/audio codec (not present in
    * this container). Deterministic over payload bytes so results are
    * reproducible and testable; a real deployment swaps `decode` for a
    * codec call with the same per-partition lifecycle.
    */
  class StubDecoder extends MediaDecoder {
    def decode(payload: Array[Byte]): (Int, Int, Int) = {
      // ??? real codec goes here; deterministic fake derived from content:
      val b0 = if (payload.nonEmpty) payload(0) & 0xff else 0
      val b1 = if (payload.length > 1) payload(1) & 0xff else 0
      (64 + (b0 % 8) * 64, 64 + (b1 % 8) * 64, 3)
    }
  }

  /** Build the media table: text payloads as opaque binary + metadata.
    * (In production this is the parquet/iceberg table the media lands in;
    * binary stays unparsed until the decode stage.)
    */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        concat(lit("text/plain;doc="), col("source")).as("kind"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .as[MediaRow]
  }

  /** Batch feature extraction: one decoder per partition, streamed over
    * the rows — the mapInPandas/mapPartitions batch-UDF shape. No
    * shuffle; output is a typed Dataset ready for downstream joins.
    */
  def extractFeatures(
      media: Dataset[MediaRow],
      mkDecoder: () => MediaDecoder = () => new StubDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = mkDecoder() // per-partition init (codec handle)
      rows.map { r =>
        val (w, h, c) = decoder.decode(r.payload)
        val checksum = r.payload.foldLeft(1469598103934665603L)((a, b) =>
          (a ^ (b & 0xff)) * 1099511628211L) // FNV-1a, deterministic
        MediaFeatures(r.doc_id, r.kind, r.n_bytes, w, h, c, checksum)
      }
    }
  }

  /** Resized media (thumbnail pipeline): target box fit preserving aspect
    * ratio — integer arithmetic on the decoded dims. Same per-partition
    * decoder lifecycle; resize itself is part of the STUB (a real codec
    * would transform `payload`).
    */
  case class ResizedMedia(
      doc_id: Long, width: Int, height: Int, out_w: Int, out_h: Int, n_bytes: Long)

  def resizeTo(
      media: Dataset[MediaRow],
      maxSide: Int,
      mkDecoder: () => MediaDecoder = () => new StubDecoder): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = mkDecoder()
      rows.map { r =>
        val (w, h, _) = decoder.decode(r.payload)
        val scaleNum = maxSide
        val longSide = math.max(w, h)
        val ow = math.max(1, w * scaleNum / longSide)
        val oh = math.max(1, h * scaleNum / longSide)
        ResizedMedia(r.doc_id, w, h, ow, oh, r.n_bytes)
      }
    }
  }

  /** Frame sampling (video-style): deterministic every-k-th "frame"
    * positions derived from content length — the batch shape of a frame
    * extractor (one row in → array of frame records out, exploded
    * downstream). Frames are stubbed as (index, byte offset) pairs.
    */
  case class Frame(doc_id: Long, frame_idx: Int, byte_offset: Long)

  def sampleFrames(media: Dataset[MediaRow], everyNBytes: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val n = (r.n_bytes / everyNBytes).toInt
      (0 to n).map(i => Frame(r.doc_id, i, i.toLong * everyNBytes))
    }
  }

  /** Oracle-checkable slice of the plumbing: sizes + content hash through
    * the binary column (encode → octet_length / md5 must agree with
    * DuckDB's blob semantics).
    */
  def mediaStats(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        md5(col("payload")).as("content_md5"))

  val mediaStatsSql: String =
    """SELECT doc_id, 'text/plain;doc=' || source AS kind,
      |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |md5(text) AS content_md5
      |FROM documents""".stripMargin

  /** Perceptual fingerprint of one media payload. */
  case class MediaSig(doc_id: Long, sig: Long)

  /** 60-bit perceptual hash over the payload byte stream: a SimHash vote
    * over every overlapping 4-byte window (WITH multiplicity — windows are
    * the "frames" of the stub media, and repeated frames should weigh
    * more), each window hashed through the engine's portable md5-60. The
    * construction is the shape of real media fingerprinting (audio
    * fingerprints vote over overlapping frame features; image pHashes over
    * local gradients): CONTENT-based, so a small edit anywhere perturbs
    * only the windows it touches — unlike positional stripe energies,
    * which realign wholesale when the payload shifts (measured: stripe
    * hashes put the corpus's true near-dup pairs at Hamming ≥ 9 of 64,
    * indistinguishable from background; this form puts them at ≤ 5 of 60
    * with background starting at 6).
    *
    * Each window is hashed through its UPPERCASE-HEX transcription (the
    * byte string `"68C3A96C"` for window bytes `0x68 0xC3 0xA9 0x6C`)
    * rather than the raw bytes: a bijective per-window transform, so the
    * fingerprint's content sensitivity is unchanged, but the window hash
    * becomes expressible in any engine whose md5 accepts only TEXT —
    * windows of the raw byte stream split multi-byte UTF-8 codepoints
    * into invalid text, while their hex transcription is plain ASCII.
    * This is what keeps the DuckDB mirror ([[phashPairsSqlFor]]) windowing
    * over BYTES (`to_hex(encode(text))`, stride 2 hex chars) instead of
    * characters, so Spark/oracle parity holds for non-ASCII payloads too.
    *
    * Runs in the same per-partition batch shape as [[extractFeatures]] —
    * one reusable window buffer per partition standing where a codec/DSP
    * handle would sit; payloads shorter than one window hash whole.
    */
  private val HexDigits = "0123456789ABCDEF".getBytes("US-ASCII")

  def perceptualHash(media: Dataset[MediaRow]): Dataset[MediaSig] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val hexBuf = new Array[Byte](8) // per-partition window buffer (codec handle)
      def hexAt(src: Array[Byte], off: Int, len: Int, dst: Array[Byte]): Unit = {
        var j = 0
        while (j < len) {
          val b = src(off + j) & 0xff
          dst(2 * j) = HexDigits(b >>> 4)
          dst(2 * j + 1) = HexDigits(b & 0xf)
          j += 1
        }
      }
      rows.map { r =>
        val p = r.payload
        val n = p.length
        val votes = new Array[Int](60)
        def vote(h: Long): Unit = {
          var j = 0
          while (j < 60) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        if (n < 4) {
          val whole = new Array[Byte](2 * n)
          hexAt(p, 0, n, whole)
          vote(graft.functions.Md5Hash60.hash(whole))
        } else {
          var i = 0
          while (i + 4 <= n) {
            hexAt(p, i, 4, hexBuf)
            vote(graft.functions.Md5Hash60.hash(hexBuf))
            i += 1
          }
        }
        var sig = 0L
        var j = 0
        while (j < 60) { if (votes(j) > 0) sig |= 1L << j; j += 1 }
        MediaSig(r.doc_id, sig)
      }
    }
  }

  /** Sentinel for [[phashPairs]]' `maxHamming`: derive the threshold from
    * the corpus count via [[hammingFor]] — the shipped default, so the
    * birthday-horizon protection engages without the caller reading
    * SCALING.md §3d.
    */
  val AutoHamming: Int = -1

  /** Σ_{i=0..h} C(60,i) for h = 0..5 — the count of 60-bit signatures
    * within Hamming h of a fixed signature (exact integers).
    */
  private val Cum60 = Array(1L, 61L, 1831L, 36051L, 523686L, 5985198L)

  /** The largest Hamming threshold `h ≤ hMax` whose expected CHANCE-pair
    * count over `n` independent 60-bit signatures stays under the budget:
    *
    *   C(n,2) · Σ_{i≤h} C(60,i) / 2^60  <  2^(−budgetLog2)
    *
    * evaluated in exact integer arithmetic (BigInt here, HUGEINT in the
    * oracle CTE — bit-identical derivations). This is the ×500 lesson made
    * a computation: at 2.55M docs the measured 21 chance pairs at h = 5
    * matched the n²-model, and the ONLY lever that removes them is the
    * Hamming threshold itself (requiring more shared bands provably
    * cannot; see the m04 gate). With the default budget (2^0 = one expected
    * chance pair corpus-wide) the threshold holds at 5 through ~620k docs,
    * tightens to 4 at ~2.1M and to 3 at ~17M — each step trading recall at
    * the dropped Hamming distance for an ~11× chance-rate cut, the
    * inherent precision/recall trade of a 60-bit fingerprint.
    */
  def hammingFor(n: Long, budgetLog2: Int = 0, hMax: Int = 5): Int = {
    require(budgetLog2 >= 0 && budgetLog2 < 60, s"bad budgetLog2 $budgetLog2")
    require(hMax >= 0 && hMax <= 5, s"hMax must be in [0,5], got $hMax")
    val pairs = BigInt(n) * (BigInt(n) - 1) / 2
    val lim = BigInt(1) << (60 - budgetLog2)
    (hMax to 0 by -1).find(h => pairs * Cum60(h) < lim).getOrElse(0)
  }

  /** Perceptual-hash near-dup pairs over the media corpus: fingerprints
    * from [[perceptualHash]] through the shared banded Hamming builder
    * ([[Dedup.hammingPairs]]: `bands` equal slices of the 60-bit
    * signature, bucket self-join, exact Hamming verify ≤ `maxHamming`).
    * `maxHamming < bands` is required: the pigeonhole then makes banding
    * LOSSLESS — h bit errors corrupt at most h bands, so every pair
    * within the threshold shares at least `bands − maxHamming` full
    * bands — and the banded join returns exactly the all-pairs result
    * (which is what the oracle computes).
    *
    * `maxHamming = AutoHamming` (the default) derives the threshold from
    * the corpus count ([[hammingFor]]): one cheap count, then the largest
    * h whose expected chance-collision yield stays under one pair. The
    * Hamming threshold is the ONLY chance-pair lever this operator has,
    * so the auto default is what keeps a corpus-scale run out of the
    * measured 60-bit birthday regime (21 chance pairs at 2.55M docs
    * under a fixed h = 5, SCALING.md §3d).
    *
    * The all-pairs equality holds ONLY at the default
    * `bucketCap = NoBucketCap`: a finite cap drops every pair whose shared
    * bands all sit in over-cap buckets (the deliberate skew trade-off of
    * [[Dedup.candidatePairs]]) — capped runs are a strict SUBSET of the
    * all-pairs result and must not be compared against the all-pairs
    * oracle. Output pairs feed [[DedupResolve.resolveClusters]] like
    * every other pair signal.
    */
  def phashPairs(
      s: SparkSession,
      dir: String,
      bands: Int = 6,
      maxHamming: Int = AutoHamming,
      bucketCap: Int = Dedup.NoBucketCap,
      budgetLog2: Int = 0): DataFrame = {
    val mh =
      if (maxHamming == AutoHamming)
        hammingFor(Tables.documents(s, dir).count(), budgetLog2)
      else maxHamming
    require(mh < bands,
      s"banding is pigeonhole-complete only for maxHamming < bands ($mh >= $bands)")
    Dedup.hammingPairs(perceptualHash(mediaTable(s, dir)).toDF(), 60, bands, mh, bucketCap)
  }

  /** DuckDB mirror of [[phashPairs]] (at the default `NoBucketCap` only —
    * see the lossless caveat above): same md5-60 window hashes, same
    * votes, then the ALL-PAIRS Hamming join — equal to the banded result
    * by the pigeonhole argument above, so the oracle independently checks
    * that banding loses nothing.
    *
    * Windows are taken over the UTF-8 BYTE stream exactly like the Spark
    * side: `to_hex(encode(text))` transcribes the payload blob to hex
    * (DuckDB 1.0's md5 accepts only VARCHAR, and a raw byte window may
    * split a multi-byte codepoint into invalid text), and each 4-byte
    * window is the 8-hex-char slice at stride 2 — so a non-ASCII document
    * windows identically in both engines.
    */
  def phashPairsSqlFor(maxHamming: Int): String =
    phashPairsSqlExpr(maxHamming.toString)

  private def phashPairsSqlExpr(thresholdSql: String): String = {
    val votes = (0 until 60)
      .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val sig = (0 until 60)
      .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH hx AS (
       |  SELECT doc_id, to_hex(encode(text)) AS hx,
       |    octet_length(encode(text)) AS n
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS h FROM (
       |    SELECT doc_id,
       |      unnest([substr(hx, 2*x+1, 8) for x in range(0, greatest(n-3, 1))]) AS g
       |    FROM hx)),
       |votes AS (SELECT doc_id, $votes FROM toks GROUP BY doc_id),
       |p AS (SELECT doc_id, CAST($sig AS BIGINT) AS phash FROM votes)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM p a JOIN p b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $thresholdSql""".stripMargin
  }

  /** The m05 gate's chance-pair budget exponent: allowed expected chance
    * pairs = 2^−21 — tiny enough that the derived threshold actually
    * MOVES across the verify SFs (50 docs → h = 5, 500 → 4, 5000 → 3),
    * so the gate exercises the derivation, not one frozen point (the d24
    * `targetBucket = 31` pattern). The shipped default budget is 2^0 —
    * one expected chance pair corpus-wide — whose threshold stays 5
    * until ~620k docs and reaches the measured ×500 regime at h = 3.
    */
  val autoGateBudgetLog2: Int = 21

  /** DuckDB mirror of [[phashPairs]] under [[AutoHamming]] (m05): the
    * [[hammingFor]] inequality C(n,2)·cum(h) < 2^(60−budgetLog2), largest
    * h first, as a HUGEINT CASE chain over COUNT(*) — then the all-pairs
    * Hamming join at the derived threshold. At the driver's sf0.01 the
    * gate budget derives h = 4 ≠ m02's fixed 5 (27 vs 37 pairs), so the
    * gate fails if either engine's derivation or arithmetic drifts.
    */
  def phashPairsAutoSqlFor(budgetLog2: Int): String = {
    val lim = BigInt(1) << (60 - budgetLog2)
    val cases = (5 to 1 by -1)
      .map(h => s"WHEN pairs * ${Cum60(h)} < $lim THEN $h")
      .mkString(" ")
    phashPairsSqlExpr(
      s"""(SELECT CASE $cases ELSE 0 END
         |  FROM (SELECT n * (n - 1) / 2 AS pairs
         |        FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM documents)))""".stripMargin)
  }

  // ------------------------------------------------------- m06: real codec

  /** The media table as REAL image payloads: deterministic P6 PPM byte
    * streams from [[PpmCodec.synth]] (header + `#` comment + RGB raster),
    * built per partition in the same batch shape as [[mediaTable]].
    */
  def ppmTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val payload = PpmCodec.synth(id)
        MediaRow(id, payload, "image/x-portable-pixmap", payload.length.toLong)
      })
  }

  /** m06: decode statistics through the REAL codec — each payload is a
    * genuine P6 file that must survive [[PpmCodec.decode]] (magic,
    * comment skip, dims, maxval, the one-whitespace rule, raster bounds)
    * before its per-channel integer pixel sums are computed. The oracle
    * never sees the bytes: it re-derives width/height/sums/payload size
    * from the generative formula, so any drift in the encoder, the
    * parser, or the raster indexing breaks the hash match. Shuffle-free:
    * one codegen scan feeding one mapPartitions pass.
    */
  def ppmDecodeStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ppmTable(s, dir)
      .mapPartitions { rows =>
        rows.map { r =>
          val img = PpmCodec.decode(r.payload)
          var rSum = 0L; var gSum = 0L; var bSum = 0L
          var k = 0
          val px = img.raster
          while (k + 2 < px.length) {
            rSum += px(k) & 0xff
            gSum += px(k + 1) & 0xff
            bSum += px(k + 2) & 0xff
            k += 3
          }
          (r.doc_id, img.width, img.height, img.maxval, rSum, gSum, bSum, r.n_bytes)
        }
      }
      .toDF("doc_id", "width", "height", "maxval", "r_sum", "g_sum", "b_sum", "n_bytes")
  }

  /** m07: the thumbnail/resize path through the REAL codec — the box-fit
    * integer arithmetic of [[resizeTo]] over genuinely parsed P6 dims
    * (previously spec-only). Same shuffle-free mapPartitions shape.
    */
  def ppmResize(s: SparkSession, dir: String, maxSide: Int = 32): DataFrame =
    resizeTo(ppmTable(s, dir), maxSide, () => new PpmDecoder)
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        col("out_w"), col("out_h"), col("n_bytes"))

  /** DuckDB mirror of [[ppmResize]]: dims from the synth formula, the
    * box-fit ⌊w·maxSide/longSide⌋ (floor-div, 1-floor) replayed exactly.
    */
  def ppmResizeSqlFor(maxSide: Int): String =
    s"""WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |CAST(greatest(1, w * $maxSide // greatest(w, h)) AS INT) AS out_w,
      |CAST(greatest(1, h * $maxSide // greatest(w, h)) AS INT) AS out_h,
      |CAST(length('P6' || chr(10) || '#synthetic ppm ' || doc_id || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10)) + w*h*3 AS BIGINT) AS n_bytes
      |FROM d""".stripMargin

  /** DuckDB mirror of [[ppmDecodeStats]]: the [[PpmCodec.synth]] formula
    * replayed in integer arithmetic — dims from the id moduli, channel
    * sums as list comprehensions over the raster index space, and
    * n_bytes as the exact header transcription length plus the raster.
    */
  val ppmDecodeStatsSql: String =
    """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, 255 AS maxval,
      |CAST(list_sum([(doc_id*31 + (3*x)*7) % 256 for x in range(w*h)]) AS BIGINT) AS r_sum,
      |CAST(list_sum([(doc_id*31 + (3*x+1)*7) % 256 for x in range(w*h)]) AS BIGINT) AS g_sum,
      |CAST(list_sum([(doc_id*31 + (3*x+2)*7) % 256 for x in range(w*h)]) AS BIGINT) AS b_sum,
      |CAST(length('P6' || chr(10) || '#synthetic ppm ' || doc_id || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10)) + w*h*3 AS BIGINT) AS n_bytes
      |FROM d""".stripMargin
}
