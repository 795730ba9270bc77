package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.F — multimodal binary-column plumbing.
  *
  * Media payloads are opaque `binary` columns with typed metadata
  * alongside. The decode step parses REAL container headers —
  * PNG IHDR / JPEG SOF / WAV fmt, zero codec deps ([[decodeHeader]]) —
  * and falls back to a clearly-marked deterministic stub
  * ([[fakeDecode]]) on unknown magic (full pixel/sample decode needs
  * codecs this container doesn't ship). Everything Spark-side — schema,
  * batch iteration via mapPartitions, partition sizing, typed output —
  * is real and spec-tested, and a full decoder drops into the same slot
  * without touching the plan shape.
  */
object Multimodal {

  /** m01: binary payload metadata — byte length + SHA-256 digest + mime —
    * pure map-side column work (length/sha2 are codegen'd; at 100 TB this
    * is a single scan with no shuffle but the output ORDER BY). */
  def m01BinaryMeta(spark: SparkSession, dir: String): DataFrame = {
    val bin = col("text").cast("binary")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(bin).cast("long").as("n_bytes"),
      sha2(bin, 256).as("digest"),
      lit("text/plain").as("mime"))
      .orderBy("doc_id")
  }

  /** Typed metadata extracted from one media payload. */
  case class MediaMeta(doc_id: Long, n_bytes: Long, width: Int, height: Int,
    n_frames: Int, format: String)

  /** STUB decoder — deterministic fallback for payloads whose magic
    * bytes [[decodeHeader]] does not recognize (the synthetic ASCII
    * corpus, truncated headers, formats this container can't identify).
    * Derives plausible metadata from payload bytes only, so results are
    * stable across runs/partitions. A full codec (pixel decode, not
    * just headers) would replace this body with an ImageIO/ffmpeg call
    * over the same byte array. */
  def fakeDecode(docId: Long, payload: Array[Byte]): MediaMeta = {
    val b0 = if (payload.nonEmpty) payload(0) & 0xff else 0
    val b1 = if (payload.length > 1) payload(1) & 0xff else 0
    MediaMeta(docId, payload.length.toLong,
      width = 64 + (b0 % 64) * 16,
      height = 64 + (b1 % 64) * 16,
      n_frames = 1 + (payload.length % 8),
      format = if (b0 % 2 == 0) "png" else "jpeg")
  }

  /** REAL header decode — actual public-container parsing from payload
    * bytes with zero codec deps (the decode slot as a capability, not a
    * shape; reference anchor: SampleMapRed.java:35-45's
    * decode-then-scan):
    *
    *  - PNG: 8-byte signature + the IHDR chunk's big-endian
    *    width/height (PNG spec §11.2.2); single frame.
    *  - JPEG: SOI then a marker-segment walk to the first frame header
    *    SOF0/SOF1/SOF2 (baseline/extended/progressive, ITU T.81 §B.2.2)
    *    — height at offset +5, width at +7, both big-endian; standalone
    *    markers (TEM/RST/SOI/EOI) carry no length word and skip as 2
    *    bytes.
    *  - WAV: RIFF/WAVE chunk walk (fmt's little-endian channels /
    *    sample-rate / block-align, then the data chunk, padded to even)
    *    mapped onto the media schema as width = sample rate, height =
    *    channels, n_frames = data bytes / block align (sample frames).
    *
    * Unknown or truncated magic falls back to [[fakeDecode]], so the
    * gated m02 over the ASCII corpus is byte-for-byte unchanged (the
    * spec pins that corpus carries no container magic, and pins each
    * REAL format against hand-assembled payloads). */
  def decodeHeader(docId: Long, p: Array[Byte]): MediaMeta = {
    def u8(i: Int): Int = p(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
        (u8(i + 3).toLong << 24)
    def tag(i: Int, s: String): Boolean =
      p.length >= i + s.length && s.indices.forall(k => p(i + k) == s(k).toByte)
    if (p.length >= 24 && u8(0) == 0x89 && tag(1, "PNG") && tag(12, "IHDR"))
      MediaMeta(docId, p.length.toLong, be32(16).toInt, be32(20).toInt, 1, "png")
    else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      var out: MediaMeta = null
      while (out == null && i + 9 <= p.length && u8(i) == 0xff) {
        val m = u8(i + 1)
        if (m == 0xc0 || m == 0xc1 || m == 0xc2)
          out = MediaMeta(docId, p.length.toLong,
            width = be16(i + 7), height = be16(i + 5), n_frames = 1, "jpeg")
        // T.81 §B.1.1.2: any number of 0xFF FILL bytes may precede a
        // marker — consume ONE byte, or the fill would be read as a
        // marker whose next two bytes are a bogus segment length and
        // the walk desyncs past the real SOF
        else if (m == 0xff) i += 1
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2
        else i += 2 + be16(i + 2)
      }
      if (out != null) out else fakeDecode(docId, p)
    } else if (tag(0, "RIFF") && tag(8, "WAVE")) {
      // Long cursor: a chunk length is an UNSIGNED u32 (RIFF allows up
      // to 4 GiB) — truncating it to Int can make the stride zero or
      // negative, spinning this loop forever (or indexing negative) on
      // a corrupt/adversarial payload
      var i = 12L
      var channels = 0
      var rate = 0L
      var blockAlign = 0
      var dataLen = -1L
      while (i + 8 <= p.length) {
        val ii = i.toInt // safe: i + 8 <= p.length <= Int.MaxValue
        val len = le32(ii + 4)
        if (tag(ii, "fmt ") && i + 24 <= p.length) {
          channels = le16(ii + 10)
          rate = le32(ii + 12)
          blockAlign = le16(ii + 20)
        } else if (tag(ii, "data")) dataLen = len
        i += 8L + len + (len & 1L) // chunks pad to even
      }
      // u32 fields can exceed Int: a rate or frame count past
      // Int.MaxValue would wrap NEGATIVE in MediaMeta's Int fields —
      // garbage metadata feeding m02's frame-sample offsets. Such a
      // payload is corrupt/adversarial (no real WAV samples above
      // ~192 kHz), so it takes the unknown-magic fallback instead.
      val frames = if (blockAlign > 0) dataLen / blockAlign else -1L
      if (channels > 0 && blockAlign > 0 && dataLen >= 0 &&
          rate > 0 && rate <= Int.MaxValue && frames <= Int.MaxValue)
        MediaMeta(docId, p.length.toLong, width = rate.toInt,
          height = channels, n_frames = frames.toInt, "wav")
      else fakeDecode(docId, p)
    } else fakeDecode(docId, p)
  }

  /** Decode pipeline: binary batches → typed metadata via mapPartitions
    * (one decoder init per partition, streaming iterator — never
    * materializes a partition in memory). Repartitions by doc_id so a
    * 100 TB corpus spreads decode work evenly regardless of input file
    * layout. Spec-only: not DuckDB-expressible. */
  def decodePipeline(spark: SparkSession, dir: String): Dataset[MediaMeta] =
    decodePipelineOf(spark, Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload")))

  /** The pipeline core over any (doc_id, payload binary) relation — the
    * spec drives it with hand-assembled REAL container payloads. */
  def decodePipelineOf(spark: SparkSession, docs: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    docs
      .repartition(col("doc_id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        // real pipelines hoist per-partition codec init here
        batch.map { case (id, payload) => decodeHeader(id, payload) }
      }
  }

  /** m02: the decode pipeline under the oracle gate — metadata plus
    * uniform frame-sample offsets (4 samples over n_frames). The
    * pipeline runs [[decodeHeader]] — REAL PNG/JPEG/WAV header parsing
    * (spec-pinned against hand-assembled payloads) — whose unknown-magic
    * fallback is [[fakeDecode]]'s deterministic byte arithmetic; the
    * ASCII corpus carries no container magic (spec-pinned), so DuckDB
    * reproduces the fallback exactly (first/second payload byte = ascii
    * of first/second char) and the gate covers the REAL pipeline shape:
    * case-class Encoder, repartition, mapPartitions decode. */
  def m02MediaMeta(spark: SparkSession, dir: String): DataFrame = {
    val nf = col("n_frames")
    decodePipeline(spark, dir).toDF()
      .select(
        col("doc_id"), col("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        nf.cast("long").as("n_frames"),
        col("format"),
        lit(0L).as("f0"),
        expr("CAST((1 * n_frames) DIV 4 AS BIGINT)").as("f1"),
        expr("CAST((2 * n_frames) DIV 4 AS BIGINT)").as("f2"),
        expr("CAST((3 * n_frames) DIV 4 AS BIGINT)").as("f3"))
      .orderBy("doc_id")
  }

  /** One inference result; `batch_size` records the actual batch the row
    * was scored in (spec-observable). */
  case class InferenceResult(doc_id: Long, embedding: Array[Float], batch_size: Int)

  /** STUB batch model — deterministic fake embedding per payload, shaped
    * like a real encoder call: takes the WHOLE batch at once (vectorized
    * hardware wants fixed-size batches, not row-at-a-time). */
  def fakeModel(batch: Seq[(Long, Array[Byte])]): Seq[InferenceResult] =
    batch.map { case (id, payload) =>
      val v = Array.tabulate(8)(i =>
        ((payload.length * 31 + i * 7 + (if (payload.nonEmpty) payload(0) else 0)) % 97) / 97.0f)
      InferenceResult(id, v, batch.length)
    }

  /** Batched inference over binary payloads: mapPartitions →
    * `grouped(batchSize)` → model per batch. The iterator stays lazy
    * (no partition materialization); at 100 TB batch size is the knob
    * that trades accelerator utilization against latency, and partition
    * count spreads model replicas across executors. */
  def batchedInference(spark: SparkSession, dir: String,
      batchSize: Int = 32): Dataset[InferenceResult] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real pipelines load the model once per partition here
        it.grouped(batchSize).flatMap(b => fakeModel(b))
      }
  }

  /** m03: payload-level exact dedup — duplicate detection on the opaque
    * BYTES of a media column via content digest, the first dedup pass of
    * any image/audio dataset build (d01 is its text-mode sibling over
    * NORMALIZED tokens; this one hashes raw bytes, so one flipped bit is
    * a different asset). Output is the one-row corpus audit — asset
    * count, unique/duplicated digest counts, duplicate copies, and the
    * bytes a dedup pass would reclaim ("0 duplicates" is itself the
    * answer at SFs with no byte-exact dup). Shape at 100 TB: digests are
    * computed map-side next to the payload scan, the groupBy key is the
    * digest (uniform — never skewed), and the second aggregate folds
    * |unique digests| rows to one. */
  def m03BinaryDedup(spark: SparkSession, dir: String): DataFrame = {
    val bin = col("text").cast("binary")
    val perDigest = Tables.documents(spark, dir)
      .select(col("doc_id"), sha2(bin, 256).as("digest"),
        length(bin).cast("long").as("n_bytes"))
      .groupBy(col("digest"), col("n_bytes"))
      .agg(count(lit(1)).as("n_copies"))
    // corpus-level audit row (always populated — small SFs may hold no
    // byte-exact dup at all, and "0 duplicates" is itself the answer)
    perDigest.agg(
      sum(col("n_copies")).as("n_assets"),
      count(lit(1)).as("n_unique_digests"),
      sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_digests"),
      sum(when(col("n_copies") > 1, col("n_copies")).otherwise(0L)).as("n_dup_copies"),
      sum((col("n_copies") - 1) * col("n_bytes")).as("reclaimable_bytes"))
  }

  /** m04's difference-hash geometry: 64 evenly-spaced samples → 63
    * greater-than bits (fits a signed 64-bit int exactly), banded 7×9
    * for candidate generation. By pigeonhole, any pair within hamming ≤
    * [[PhashMaxHamming]] = 6 shares at least one of the 7 exact bands —
    * candidate generation is EXACT for the verify threshold, never a
    * recall gamble (d06's guarantee restated for this bit budget). */
  val PhashBits = 63
  val PhashBands = 7
  val PhashBandBits = 9
  val PhashMaxHamming = 6

  /** Hot-FINGERPRINT cap for m04's band join (r15, the verdict's one
    * remaining scale-killer): payloads hashing to the SAME fp — blank/
    * padding images, the constant-asset certainty of a real crawl —
    * pair |group|² in EVERY band, the d02 stop-shingle pathology on
    * perceptual hashes. Fingerprints with more than this many payloads
    * are dropped from the band index at the source (`Dedup.dfCapped`,
    * m05's rule); the oracle mirror applies the IDENTICAL exclusion, so
    * the entry stays hash-gated even where the cap bites. 64 sits far
    * above any organic fp multiplicity in the gate corpora
    * (`M04_LADDER_r15.json`: max fp df = 3 at sf0.1, 10 at docs4x, 23
    * at docs16x — the scaled multiplicities are ScaleGen replica
    * correlation) and far below a padding pile; a group at the cap
    * still emits ≤ cap² ≈ 4k pairs — bounded, not quadratic in the
    * corpus. */
  val M04MaxFpDf = 64L

  /** The dHash bit arithmetic as SQL text, shared verbatim by the Spark
    * expression (`divOp = "div"`) and the DuckDB mirror (`"//"`) so the
    * two engines cannot drift: bit i compares the byte sampled at
    * position 1 + (i+1)·(n−1)/64 against position 1 + i·(n−1)/64. This
    * is the classic image dHash applied to the byte stream — the decode
    * stub is exactly where a real codec's resized-luminance grid drops
    * in ([[fakeDecode]] contract), and the banding/verify plumbing is
    * codec-independent. */
  private[graft] def phashTerms(divOp: String): String = {
    def c(j: Int) =
      s"ascii(substring(text, CAST(1 + ($j * (length(text) - 1)) $divOp 64 AS INT), 1))"
    (0 until PhashBits).map { i =>
      s"(CASE WHEN ${c(i + 1)} > ${c(i)} THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
  }

  /** m04's corpus: the documents plus DETERMINISTICALLY PLANTED near-dup
    * variants (t10/d15 precedent — the synthetic corpus has no natural
    * byte-near-dups at small SFs, so plant from doc_id, then MEASURE):
    * every %17 doc of length ≥ 65 re-appears under −1 − doc_id with ONE
    * character substituted — a same-length edit that flips at most a
    * couple of sampled bytes, the byte-level analogue of a re-encoded
    * asset. Variant ids are SIGN-DISJOINT from genuine ids: base is
    * pinned to doc_id ≥ 0 (a no-op on the generated tables, asserted in
    * MultimodalSpec), so −1 − doc_id < 0 can NEVER collide with a
    * genuine doc_id at any corpus size — a fixed constant like 10⁶
    * silently merges a variant with a real document once the corpus
    * outgrows it, and unlike a max(doc_id)-derived offset the sign
    * trick costs no extra aggregate stage. */
  private[graft] def m04Corpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(length(col("text")) >= 65 && col("doc_id") >= 0)
      .select(col("doc_id"), col("text"))
    val variants = base
      .filter(pmod(col("doc_id"), lit(17)) === 0)
      .select((lit(-1L) - col("doc_id")).as("doc_id"),
        concat(substring(col("text"), 1, 10), lit("~"),
          expr("substring(text, 12)")).as("text"))
    base.unionByName(variants)
  }

  /** m04: PERCEPTUAL-hash near-dup pairs over binary payloads — the
    * near-duplicate pass an image/audio dataset build runs after m03's
    * exact-digest pass (re-encoded/re-sampled assets share structure,
    * not bytes). Difference hash over 64 evenly-spaced payload samples
    * (63 bits), candidates from a 7×9-bit band equi-join — EXACT for
    * the hamming ≤ 6 verify by pigeonhole — and bit_count(XOR) verify
    * on candidate rows only. Fully oracle-gated: the fingerprint is the
    * codegen'd [[graft.functions.PhashUtil.dhash63]] (one compiled pass
    * per row), pinned value-identical to the declarative 126-call SQL
    * form [[phashTerms]] by NativeExprSpec — and that SQL text is what
    * the DuckDB oracle evaluates, so the native path stays gated.
    *
    * Shape at 100 TB: the fingerprint is one map-side codegen'd pass,
    * the band index explodes ×7, candidates ride the band equi-join
    * exactly like d06/d03 — with the [[M04MaxFpDf]] hot-fingerprint
    * cap REAL (r15), not an idea in a comment: a degenerate
    * constant-payload pile (blank images) leaves the index at the
    * source, oracle-mirrored — and the 1-word XOR verify touches
    * candidates only. */
  def m04PhashNeardup(spark: SparkSession, dir: String): DataFrame =
    m04BandVerify(m04Corpus(spark, dir)
      .select(col("doc_id"),
        graft.functions.NativeFunctions.phash63(col("text")).as("fp")))

  /** The codec-independent banding + verify half of m04 over any
    * (doc_id, fp) relation — shared by the gated byte-hash entry and
    * the decode-aware [[m04PhashNeardupDecoded]] variant, so a decoder
    * swap can never drift the candidate-generation semantics. Applies
    * the [[M04MaxFpDf]] hot-fingerprint cap (single-sourced via
    * `Dedup.dfCapped`, m05's pattern) before banding. */
  private[graft] def m04BandVerify(fp: DataFrame): DataFrame =
    m04BandVerify(fp, M04MaxFpDf)

  /** `maxDf`-knob form — the spec's capped-vs-uncapped equivalence and
    * planted-hot-pile assertions drive this directly. */
  private[graft] def m04BandVerify(fp0: DataFrame, maxDf: Long): DataFrame = {
    val fp = graft.operators.Dedup.dfCapped(fp0, "fp", maxDf)
    val bands = fp.select(col("doc_id"), col("fp"),
      posexplode(array((0 until PhashBands).map(b =>
        shiftright(col("fp"), b * PhashBandBits)
          .bitwiseAND(lit((1L << PhashBandBits) - 1))): _*)))
      .toDF("doc_id", "fp", "band", "key")
    // hamming is a pure function of the pair, so verify BEFORE the
    // distinct: the dedup shuffle then carries only verified pairs
    // (tiny) instead of every multi-band candidate collision
    bands.as("a").hint("SHUFFLE_HASH").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("long").as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)
      .distinct()
      .orderBy("doc_i", "doc_j")
  }

  /** PNG PIXEL decode with zero codec deps (round 12 — the decode slot
    * made real where the format's own compression is in the JDK): PNG
    * image data is zlib (`java.util.zip.Inflater`) over per-scanline
    * filtered samples, so a full pixel decode is IHDR parse → IDAT
    * concat → inflate → the five-filter reconstruction pass (None/Sub/
    * Up/Average/Paeth, PNG spec §9.2) → integer BT.601 luminance.
    * Returns None — callers fall back to the byte path — for the forms
    * a header-only look can't cheaply pin down (bit depth ≠ 8,
    * interlaced, palette) and for anything truncated, oversized, or
    * corrupt: a DECODER must never throw on adversarial bytes
    * (m02/WAV's rule). Bounded: dims are capped at [[PngMaxPixels]]
    * before any allocation, so a forged IHDR can't OOM an executor.
    * Reference anchor: SampleMapRed.java:35-45's decode-then-scan.
    *
    * Why it matters for m04: the byte dHash samples the COMPRESSED
    * stream, so a re-encode (identical pixels, different zlib level or
    * filter choice) defeats exactly the near-dup pass that exists to
    * catch re-encodes; the pixel hash is invariant to it (spec-pinned
    * on two hand-assembled same-pixel PNGs). */
  private[graft] def decodePngLuminance(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    def u8(i: Int): Int = p(i) & 0xff
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def tag(i: Int, s: String): Boolean =
      p.length >= i + s.length && s.indices.forall(k => p(i + k) == s(k).toByte)
    if (p == null ||
        !(p.length >= 33 && u8(0) == 0x89 && tag(1, "PNG") && tag(12, "IHDR")))
      return None
    val w = be32(16)
    val h = be32(20)
    val bitDepth = u8(24)
    val colorType = u8(25)
    val interlace = u8(28)
    val channels = colorType match {
      case 0 => 1 // grayscale
      case 2 => 3 // RGB
      case 4 => 2 // gray + alpha
      case 6 => 4 // RGBA
      case _ => return None // palette (3) and invalid types: byte path
    }
    // compression (byte 26) and filter method (byte 27): 0 is the only
    // value the PNG spec defines for either — a nonzero value means the
    // zlib stream/filter reconstruction below would decode garbage
    // confidently; take the deterministic byte-path fallback instead
    if (bitDepth != 8 || interlace != 0 || u8(26) != 0 || u8(27) != 0)
      return None
    // bound each DIMENSION before multiplying: w and h are u32-derived
    // Longs, and (2^32-1)^2 wraps Long negative — a forged IHDR would
    // sail past a product-only guard into negative row arithmetic
    if (w <= 0 || h <= 0 || w > PngMaxPixels || h > PngMaxPixels ||
        w * h > PngMaxPixels) return None
    // concatenate IDAT payloads with a chunk walk (lengths are u32;
    // the Long cursor + bounds checks terminate on corrupt lengths)
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8L
    var sawEnd = false
    while (!sawEnd && i + 8 <= p.length) {
      val ii = i.toInt
      val len = be32(ii)
      if (len < 0 || i + 8 + len > p.length) return None
      if (tag(ii + 4, "IDAT")) idat.write(p, ii + 8, len.toInt)
      else if (tag(ii + 4, "IEND")) sawEnd = true
      i += 12L + len // len + type(4) + crc(4)
    }
    val bpp = channels
    val rowBytes = 1 + w.toInt * bpp
    val raw = new Array[Byte](rowBytes * h.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val k = try inf.inflate(raw, got, raw.length - got)
          catch { case _: java.util.zip.DataFormatException => return None }
        // the WHOLE input was handed over up front, so ZERO progress in
        // any non-finished state is terminal: truncated stream
        // (needsInput), preset-dictionary stream (needsDictionary —
        // looping on it would spin this executor task forever), or any
        // other stall. Refuse, never wait.
        if (k == 0) return None
        got += k
      }
      if (got < raw.length) return None
    } finally inf.end()
    // filter reconstruction (PNG §9.2): a = left, b = up, c = up-left,
    // all byte-wise at stride bpp; rows depend on the previous row, so
    // the pass is inherently sequential per image (and parallel across
    // images — exactly the mapPartitions decode shape)
    val wpx = w.toInt
    val hpx = h.toInt
    var y = 0
    while (y < hpx) {
      val ro = y * rowBytes
      val ft = raw(ro) & 0xff
      if (ft > 4) return None
      var x = 1
      while (x < rowBytes) {
        val a = if (x > bpp) raw(ro + x - bpp) & 0xff else 0
        val b = if (y > 0) raw(ro - rowBytes + x) & 0xff else 0
        val c = if (y > 0 && x > bpp) raw(ro - rowBytes + x - bpp) & 0xff else 0
        val rec = ft match {
          case 0 => raw(ro + x) & 0xff
          case 1 => ((raw(ro + x) & 0xff) + a) & 0xff
          case 2 => ((raw(ro + x) & 0xff) + b) & 0xff
          case 3 => ((raw(ro + x) & 0xff) + (a + b) / 2) & 0xff
          case 4 =>
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            ((raw(ro + x) & 0xff) + pred) & 0xff
        }
        raw(ro + x) = rec.toByte
        x += 1
      }
      y += 1
    }
    // integer BT.601 luminance (gray passes through; alpha ignored —
    // perceptual reuse detection compares the color signal)
    val lum = new Array[Int](wpx * hpx)
    var yy = 0
    while (yy < hpx) {
      var xx = 0
      while (xx < wpx) {
        val o = yy * rowBytes + 1 + xx * bpp
        lum(yy * wpx + xx) =
          if (channels <= 2) raw(o) & 0xff
          else (77 * (raw(o) & 0xff) + 150 * (raw(o + 1) & 0xff) +
            29 * (raw(o + 2) & 0xff)) >> 8
        xx += 1
      }
      yy += 1
    }
    Some((wpx, hpx, lum))
  }

  /** Decoded-dimension bound: 2²⁴ pixels (a 4096×4096 frame) decodes to
    * ≤ 64 MB of RGBA — the largest single allocation a forged IHDR can
    * induce before the guard refuses. */
  val PngMaxPixels: Long = 1L << 24

  /** BASELINE JPEG pixel decode with zero codec deps (round 12 — the
    * JPEG half of [[decodePngLuminance]]'s program: most of a real
    * crawl's images are JPEG, so a dHash that only survives PNG
    * re-encodes still misses the dominant re-encode family). Scope is
    * ITU T.81 baseline sequential, 8-bit, 1 or 3 components, Y
    * sampling factors ≤ 2×2 with 1×1 chroma (4:4:4 / 4:2:2 / 4:2:0 —
    * everything the JDK encoder and the overwhelming majority of web
    * JPEGs emit); progressive (SOF2), arithmetic coding, 12-bit, and
    * hierarchical forms return None → byte-path fallback, m02's rule.
    *
    * m04 needs LUMINANCE only, and in JPEG luma IS the Y component —
    * so chroma blocks are entropy-decoded (the interleaved MCU stream
    * can't be advanced otherwise) but never dequantized or
    * inverse-transformed, and no upsampling or color conversion runs
    * at all. The bit reader handles stuffed bytes (FF 00) and DRI
    * restart markers (predictor reset + byte realign); every table
    * id, sampling factor, dimension, and Huffman code path is bounds-
    * guarded, dims are capped at [[PngMaxPixels]] before allocation,
    * and a defensive catch maps any residual adversarial corner to
    * None — a decoder must never throw on untrusted bytes.
    * IDCT is the separable double-precision 8-point transform with a
    * precomputed cosine table — deterministic IEEE arithmetic, no
    * platform-varying fast paths. */
  private[graft] def decodeJpegLuminance(p: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try decodeJpegLuminanceImpl(p) catch { case scala.util.control.NonFatal(_) => None }

  private def decodeJpegLuminanceImpl(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (p.length < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8) return None
    def u8(i: Int): Int = p(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)

    val qt = Array.ofDim[Int](4, 64) // dequant tables
    val qtSeen = new Array[Boolean](4)
    // canonical Huffman tables: per (class 0=DC/1=AC, id 0..3):
    // minCode/maxCode/valPtr per bit length 1..16 + symbol array
    val hMin = Array.ofDim[Int](2, 4, 17)
    val hMax = Array.fill(2, 4, 17)(-1)
    val hPtr = Array.ofDim[Int](2, 4, 17)
    val hVal = Array.ofDim[Array[Byte]](2, 4)

    var w = 0; var h = 0
    var nComp = 0
    val compId = new Array[Int](3); val compH = new Array[Int](3)
    val compV = new Array[Int](3); val compQ = new Array[Int](3)
    var restartInterval = 0
    var sosAt = -1 // scan header offset once found
    var i = 2
    // ---- marker segment walk (T.81 B.2) ----
    while (sosAt < 0) {
      // tolerate fill bytes before a marker
      while (i < p.length && u8(i) == 0xff && i + 1 < p.length && u8(i + 1) == 0xff) i += 1
      if (i + 3 >= p.length || u8(i) != 0xff) return None
      val m = u8(i + 1)
      if (m == 0xd9) return None // EOI before any scan
      val len = u16(i + 2)
      if (len < 2 || i + 2 + len > p.length) return None
      val seg = i + 4
      m match {
        case 0xc0 => // SOF0 baseline; every other SOFn → fallback
          if (u8(seg) != 8) return None // precision
          h = u16(seg + 1); w = u16(seg + 3)
          nComp = u8(seg + 5)
          if (w <= 0 || h <= 0 || w.toLong * h > PngMaxPixels) return None
          if (nComp != 1 && nComp != 3) return None
          if (len < 8 + 3 * nComp) return None
          var c = 0
          while (c < nComp) {
            compId(c) = u8(seg + 6 + 3 * c)
            val hv = u8(seg + 7 + 3 * c)
            compH(c) = hv >> 4; compV(c) = hv & 0xf
            compQ(c) = u8(seg + 8 + 3 * c)
            if (compQ(c) > 3) return None
            c += 1
          }
          // luma ≤ 2×2; chroma must be 1×1 (the web-JPEG space)
          if (compH(0) < 1 || compH(0) > 2 || compV(0) < 1 || compV(0) > 2) return None
          if (nComp == 3 && (compH(1) != 1 || compV(1) != 1 ||
              compH(2) != 1 || compV(2) != 1)) return None
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
             0xcb | 0xcd | 0xce | 0xcf => return None // non-baseline SOF
        case 0xdb => // DQT: one or more tables in the segment
          var o = seg
          while (o < i + 2 + len) {
            val pq = u8(o) >> 4; val tq = u8(o) & 0xf
            if (tq > 3 || pq > 1) return None
            val entryBytes = if (pq == 0) 1 else 2
            if (o + 1 + 64 * entryBytes > i + 2 + len) return None
            var k = 0
            while (k < 64) {
              qt(tq)(k) = if (pq == 0) u8(o + 1 + k) else u16(o + 1 + 2 * k)
              k += 1
            }
            qtSeen(tq) = true
            o += 1 + 64 * entryBytes
          }
        case 0xc4 => // DHT: one or more tables
          var o = seg
          while (o < i + 2 + len) {
            val tc = u8(o) >> 4; val th = u8(o) & 0xf
            if (tc > 1 || th > 3) return None
            if (o + 17 > i + 2 + len) return None
            var total = 0
            var l = 1
            while (l <= 16) { total += u8(o + l); l += 1 }
            if (total > 256 || o + 17 + total > i + 2 + len) return None
            val vals = new Array[Byte](total)
            System.arraycopy(p, o + 17, vals, 0, total)
            hVal(tc)(th) = vals
            // canonical code assignment (T.81 C.2)
            var code = 0; var ptr = 0
            l = 1
            while (l <= 16) {
              hPtr(tc)(th)(l) = ptr
              hMin(tc)(th)(l) = code
              val n = u8(o + l)
              code += n; ptr += n
              hMax(tc)(th)(l) = code - 1 // -1 marks "no codes at this length"
              if (n == 0) hMax(tc)(th)(l) = -1
              code <<= 1
              l += 1
            }
            o += 17 + total
          }
        case 0xdd => // DRI
          if (len < 4) return None
          restartInterval = u16(seg)
        case 0xda => sosAt = i // SOS: entropy data follows the header
        case _ => () // APPn / COM / others: skip
      }
      if (sosAt < 0) i += 2 + len
    }
    if (w == 0 || nComp == 0) return None
    // ---- SOS header: per-component entropy table ids ----
    val sosLen = u16(sosAt + 2)
    val ns = u8(sosAt + 4)
    if (ns != nComp || sosLen < 6 + 2 * ns) return None
    val dcTab = new Array[Int](3); val acTab = new Array[Int](3)
    // a repeated scan selector would map two scan slots to one
    // component and leave another's entropy tables defaulted — with
    // ns == nComp enforced above, refusing duplicates also guarantees
    // (pigeonhole) every frame component is selected exactly once
    val compSeen = new Array[Boolean](3)
    var c = 0
    while (c < ns) {
      val cs = u8(sosAt + 5 + 2 * c)
      // components appear in SOF order in every baseline encoder; find by id
      val ci = compId.indexOf(cs)
      if (ci < 0 || ci >= nComp) return None
      if (compSeen(ci)) return None
      compSeen(ci) = true
      val tt = u8(sosAt + 6 + 2 * c)
      dcTab(ci) = tt >> 4; acTab(ci) = tt & 0xf
      if (dcTab(ci) > 3 || acTab(ci) > 3 ||
          hVal(0)(dcTab(ci)) == null || hVal(1)(acTab(ci)) == null) return None
      c += 1
    }
    c = 0
    while (c < nComp) { if (!qtSeen(compQ(c))) return None; c += 1 }
    // T.81 A.2.2: a ONE-component scan is always NON-interleaved — data
    // is plain raster order of ceil(w/8)x ceil(h/8) blocks and the
    // declared sampling factors are ignored (jpegtran -grayscale keeps
    // the source's 2x2 luma factors; tiling them as MCUs would
    // block-scramble the plane)
    if (ns == 1) { compH(0) = 1; compV(0) = 1 }
    // baseline scan header must cover the full spectrum with no
    // successive approximation (Ss=0, Se=63, Ah=Al=0) — anything else
    // is a partial-spectral scan our table walk would misread
    if (u8(sosAt + 5 + 2 * ns) != 0 || u8(sosAt + 6 + 2 * ns) != 63 ||
        u8(sosAt + 7 + 2 * ns) != 0) return None

    // ---- entropy-coded bit reader with stuffing + restart handling ----
    var pos = sosAt + 2 + sosLen
    var bitBuf = 0; var bitCnt = 0
    var hitMarker = false // any non-RST marker = end of data
    def nextBit(): Int = {
      if (bitCnt == 0) {
        if (hitMarker || pos >= p.length) return -1
        var b = u8(pos); pos += 1
        if (b == 0xff) {
          if (pos >= p.length) { hitMarker = true; return -1 }
          val b2 = u8(pos)
          if (b2 == 0x00) pos += 1 // stuffed
          else { pos -= 1; hitMarker = true; return -1 } // rewind to the FF
        }
        bitBuf = b; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def decodeHuff(tc: Int, th: Int): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        val bit = nextBit()
        if (bit < 0) return -1
        code = (code << 1) | bit
        l += 1
        if (hMax(tc)(th)(l) >= 0 && code <= hMax(tc)(th)(l) &&
            code >= hMin(tc)(th)(l)) {
          val idx = hPtr(tc)(th)(l) + (code - hMin(tc)(th)(l))
          val vs = hVal(tc)(th)
          if (idx >= vs.length) return -1
          return vs(idx) & 0xff
        }
      }
      -1
    }
    def receiveExtend(t: Int): Int = {
      if (t == 0) return 0
      var v = 0; var k = 0
      while (k < t) {
        val bit = nextBit()
        if (bit < 0) return Int.MinValue
        v = (v << 1) | bit
        k += 1
      }
      if (v < (1 << (t - 1))) v - (1 << t) + 1 else v
    }

    // ---- MCU geometry ----
    val hMaxF = compH(0); val vMaxF = compV(0) // chroma is 1×1 ⇒ Y is max
    val mcuW = 8 * hMaxF; val mcuH = 8 * vMaxF
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuH - 1) / mcuH
    val yW = mcusX * hMaxF * 8 // padded Y plane
    val yPlane = new Array[Int](yW * mcusY * vMaxF * 8)
    val dcPred = new Array[Int](3)
    val blk = new Array[Int](64)
    val zig = JpegZigzag
    val idctTmp = new Array[Double](64)

    def decodeBlock(ci: Int, keep: Boolean, outX: Int, outY: Int): Boolean = {
      val t = decodeHuff(0, dcTab(ci))
      if (t < 0 || t > 11) return false // 8-bit DC category <= 11 (F.1)
      val diff = receiveExtend(t)
      if (diff == Int.MinValue) return false
      dcPred(ci) += diff
      // [-2048, 2047] is the 8-bit DC DIFFERENCE-category envelope
      // (T.81 F.1.2.1.1) — deliberately looser than the true
      // coefficient range (~[-1024, 1016]), so no legal stream is ever
      // refused; a predictor outside it is a crafted stream — refuse
      // (fallback), never return a wrapped-overflow plane as success
      if (dcPred(ci) < -2048 || dcPred(ci) > 2047) return false
      if (keep) { java.util.Arrays.fill(blk, 0); blk(0) = dcPred(ci) * qt(compQ(ci))(0) }
      var k = 1
      while (k < 64) {
        val rs = decodeHuff(1, acTab(ci))
        if (rs < 0) return false
        val r = rs >> 4; val s = rs & 0xf
        if (s > 10) return false // 8-bit AC category <= 10 (F.2)
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else k = 64 // EOB
        } else {
          k += r
          if (k > 63) return false
          val v = receiveExtend(s)
          if (v == Int.MinValue) return false
          if (keep) blk(zig(k)) = v * qt(compQ(ci))(k)
          k += 1
        }
      }
      if (keep) idct8x8(blk, idctTmp, yPlane, outY * yW + outX, yW)
      true
    }

    var my = 0
    var mcuCount = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcuCount == restartInterval) {
          // byte-align and consume RSTn; predictors reset
          bitCnt = 0; hitMarker = false
          while (pos + 1 < p.length && !(u8(pos) == 0xff &&
            (u8(pos + 1) & 0xf8) == 0xd0)) pos += 1
          if (pos + 1 >= p.length) return None
          pos += 2
          dcPred(0) = 0; dcPred(1) = 0; dcPred(2) = 0
          mcuCount = 0
        }
        var ci = 0
        while (ci < nComp) {
          val bh = compH(ci); val bv = compV(ci)
          var by = 0
          while (by < bv) {
            var bx = 0
            while (bx < bh) {
              val keep = ci == 0
              val ox = (mx * bh + bx) * 8 * (hMaxF / bh)
              val oy = (my * bv + by) * 8 * (vMaxF / bv)
              // Y always has the max factors here, so ox/oy are exact
              if (!decodeBlock(ci, keep, if (keep) ox else 0, if (keep) oy else 0))
                return None
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcuCount += 1
        mx += 1
      }
      my += 1
    }
    // crop padded plane to w×h
    val lum = new Array[Int](w * h)
    var yy = 0
    while (yy < h) {
      System.arraycopy(yPlane, yy * yW, lum, yy * w, w)
      yy += 1
    }
    Some((w, h, lum))
  }

  /** T.81 zigzag order: zig(k) = natural (row-major) index of the k-th
    * coefficient in scan order. */
  private val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** cos((2x+1)uπ/16) table for the separable 8-point IDCT. */
  private val JpegCos: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = StrictMath.cos((2 * x + 1) * u * math.Pi / 16)
        u += 1
      }
      x += 1
    }
    t
  }

  /** Separable 2-D IDCT of one dequantized 8×8 block + level shift +
    * clamp, written into `out` at `off` with row stride `stride`. */
  private def idct8x8(in: Array[Int], tmp: Array[Double],
      out: Array[Int], off: Int, stride: Int): Unit = {
    val c = JpegCos
    // rows
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val cu = if (u == 0) 0.70710678118654752 else 1.0
          s += cu * in(y * 8 + u) * c(x * 8 + u)
          u += 1
        }
        tmp(y * 8 + x) = s / 2
        x += 1
      }
      y += 1
    }
    // columns
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          val cv = if (v == 0) 0.70710678118654752 else 1.0
          s += cv * tmp(v * 8 + x) * c(yy * 8 + v)
          v += 1
        }
        val px = math.round(s / 2).toInt + 128
        out(off + yy * stride + x) = if (px < 0) 0 else if (px > 255) 255 else px
        yy += 1
      }
      x += 1
    }
  }

  /** Container-dispatching pixel decode: PNG then JPEG by magic, None →
    * byte-path fallback (the m04 decode slot's single entry point). */
  private[graft] def decodeLuminance(p: Array[Byte]): Option[(Int, Int, Array[Int])] =
    if (p == null) None
    else if (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8)
      decodeJpegLuminance(p)
    else decodePngLuminance(p)

  /** The REAL dHash over a decoded luminance plane: an 8-row × 9-column
    * sample lattice (nearest-neighbor — deterministic integer indexing,
    * no float resample), each row contributing its 8 adjacent-column
    * comparisons, truncated to m04's 63-bit budget so the banding
    * pigeonhole ([[PhashBands]]×[[PhashBandBits]]) is untouched. The 2D
    * lattice (not a flat byte stride) is what makes the hash stable
    * under row-structure-preserving edits — the property the byte-path
    * stand-in never had. */
  private[graft] def pixelDhash63(w: Int, h: Int, lum: Array[Int]): Long = {
    var fp = 0L
    var i = 0
    while (i < PhashBits) {
      val row = i / 8
      val colI = i % 8
      def at(gx: Int): Int = {
        val x = if (w == 1) 0 else (gx.toLong * (w - 1) / 8).toInt
        val yPix = if (h == 1) 0 else (row.toLong * (h - 1) / 7).toInt
        lum(yPix * w + x)
      }
      if (at(colI + 1) > at(colI)) fp |= 1L << i
      i += 1
    }
    fp
  }

  /** m04, DECODE-AWARE: payloads that parse as a supported PNG or
    * baseline JPEG are hashed over their decoded luminance plane
    * ([[pixelDhash63]]);
    * everything else keeps the byte-stream dHash — so on a corpus with
    * no container magic this is RESULT-IDENTICAL to the gated
    * [[m04PhashNeardup]] (spec-pinned), and on real image payloads a
    * re-encode at a different compression level hashes IDENTICALLY
    * instead of escaping (spec-pinned on hand-assembled PNGs). Same
    * banding + verify plan ([[m04BandVerify]]); the decode is one
    * mapPartitions pass (decodePipeline's shape). Spec-only: the hash
    * depends on the JDK inflater, not SQL-expressible. */
  def m04PhashNeardupDecoded(spark: SparkSession, dir: String): DataFrame =
    m04PhashNeardupDecodedOf(spark,
      m04Corpus(spark, dir).select(col("doc_id"), col("text").cast("binary").as("payload")))

  /** The decode-aware core over any (doc_id, payload binary) relation. */
  def m04PhashNeardupDecodedOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val fp = docs.repartition(col("doc_id")).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, payload) =>
          // NULL payloads are routine in real binary corpora — hash as
          // empty (dhash63('') = 0) instead of NPE-ing the task
          val bytes = if (payload == null) Array.emptyByteArray else payload
          val f = decodeLuminance(bytes) match {
            case Some((w, h, lum)) => pixelDhash63(w, h, lum)
            case None => graft.functions.PhashUtil.dhash63(
              org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes))
          }
          (id, f)
        }
      }.toDF("doc_id", "fp")
    m04BandVerify(fp)
  }

  /** Planted-plane geometry for the driver-gated pixel entry: a 9×8
    * value grid blown up to 72×64 so (a) every dHash lattice sample
    * ([[pixelDhash63]]'s gx·(w−1)/8, row·(h−1)/7 indexing) lands inside
    * a distinct constant 8×8 patch, and (b) every patch is exactly one
    * JPEG block — constant blocks quantize to DC-only, so a q50
    * re-encode decodes within ±(DC quant/2) ≈ ±12 luma of the plant. */
  private[graft] val PxW = 72
  private[graft] val PxH = 64

  /** splitmix64 finalizer — the per-(doc, row) bit source. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e9b5L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The deterministic luminance plane for `docId`: per grid row, a
    * ±1 walk over the 9 cells (direction = one doc bit per step),
    * affine-rescaled per row to [30, 226]. Every dHash comparison then
    * carries one INDEPENDENT doc bit — the full 63-bit fingerprint is
    * effectively uniform, so two DIFFERENT docs land within the
    * hamming-6 band-join threshold with probability ~8e-12/pair (a
    * first-cut 3-level ring walk had STATE-FORCED bits — from the top
    * level every step reads "down" — and its biased fingerprints
    * produced 24 false pairs at docs16x's 8k images). Adjacent cells
    * keep a gap ≥ ⌊196/span⌋ ≥ 24 luma: for the constant 8×8 blocks
    * the cells map to, JPEG DC quantization error is quant/(2·8) ≈ 1
    * luma (the IDCT divides the coefficient error by 8), so ~24× the
    * codec noise — the comparison sign, and therefore the fingerprint,
    * is an exact engine-independent function of doc_id. */
  private[graft] def pxPlane(docId: Long): Array[Int] = {
    val lum = new Array[Int](PxW * PxH)
    val w = new Array[Int](9)
    var r = 0
    while (r < 8) {
      val bits = mix64(docId * 8 + r)
      var i = 0
      while (i < 8) {
        w(i + 1) = w(i) + (if (((bits >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      var mn = w(0); var mx = w(0)
      i = 1
      while (i < 9) {
        if (w(i) < mn) mn = w(i); if (w(i) > mx) mx = w(i); i += 1
      }
      val span = mx - mn // ≥ 1: w(1) ≠ w(0) structurally
      var g = 0
      while (g < 9) {
        val v = 30 + (w(g) - mn) * 196 / span
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) { lum((r * 8 + yy) * PxW + g * 8 + xx) = v; xx += 1 }
          yy += 1
        }
        g += 1
      }
      r += 1
    }
    lum
  }

  /** The m04px corpus: REAL encodes planted from doc_id alone (the
    * oracle predicts pair structure from the same arithmetic without
    * decoding anything). Every %29 doc carries a base encode AND a
    * re-encode of the SAME plane under the sign-disjoint −1 − doc_id
    * id (m04Corpus's collision-proof rule); %31 docs are unpaired
    * distractor images (a false pair against one of them breaks the
    * gate). Codec splits on doc parity: even → PNG re-encoded across
    * colorType (RGB vs gray), deflate level AND filter choice; odd →
    * baseline JPEG q92 vs q50 — the exact re-encode forms the byte
    * dHash provably misses (spec-pinned) and the pixel decode is for. */
  private[graft] def m04PxCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .filter(col("doc_id") >= 0 &&
        (pmod(col("doc_id"), lit(29)) === 0 || pmod(col("doc_id"), lit(31)) === 0))
      .select(col("doc_id"), (pmod(col("doc_id"), lit(29)) === 0).as("paired"))
    // no repartition here: the consumer (m04PhashNeardupDecodedOf)
    // repartitions by doc_id itself — a second exchange would shuffle
    // every encoded payload twice (review)
    ids.as[(Long, Boolean)]
      .mapPartitions { it =>
        it.flatMap { case (id, paired) =>
          val lum = pxPlane(id)
          def gray(x: Int, y: Int): (Int, Int, Int) = {
            val v = lum(y * PxW + x); (v, v, v)
          }
          val png = id % 2 == 0
          val base =
            if (png) PixelCodecs.makePng(PxW, PxH, 2,
              java.util.zip.Deflater.NO_COMPRESSION, ((id / 2) % 5).toInt, gray)
            else PixelCodecs.encodeJpeg(
              PixelCodecs.grayImage(PxW, PxH, lum), 0.92f)
          val out = Seq((id, base))
          if (!paired) out
          else out :+ ((-1L - id,
            if (png) PixelCodecs.makePng(PxW, PxH, 0,
              java.util.zip.Deflater.BEST_COMPRESSION,
              ((id / 2 + 3) % 5).toInt, gray)
            else PixelCodecs.encodeJpeg(
              PixelCodecs.grayImage(PxW, PxH, lum), 0.5f)))
        }
      }.toDF("doc_id", "payload")
  }

  /** m04px, DRIVER-GATED (r13 — the r12 decoders were reachable only
    * from spec fixtures): the decode-aware near-dup pass over a corpus
    * of real PNG/JPEG payloads. Each planted pair is two encodes of one
    * plane, so a CORRECT decoder yields identical fingerprints (PNG:
    * lossless; JPEG: every comparison sits on a ≥ 98-luma gap vs ≤ ~12
    * of codec error) and the pair list is exactly the planted set —
    * which the DuckDB oracle derives from doc_id arithmetic alone. A
    * decoder regression (wrong filter reconstruction, Huffman drift,
    * IDCT bug) decorrelates some pair's two fingerprints and drops it
    * from the result: hash mismatch. The hamming column is projected
    * OUT (it is structurally 0 here; keeping it would gate the codecs'
    * sub-threshold noise instead of the pair semantics). */
  def m04PhashNeardupPx(spark: SparkSession, dir: String): DataFrame =
    m04PhashNeardupDecodedOf(spark, m04PxCorpus(spark, dir)
      .select(col("doc_id"), col("payload")))
      .select(col("doc_i"), col("doc_j"),
        when(pmod(col("doc_j"), lit(2)) === 0, lit("png"))
          .otherwise(lit("jpeg")).as("codec"))
      .orderBy("doc_i", "doc_j")

  /** m05's frame geometry: fixed-cadence 64-byte aligned segments stand
    * in for keyframes (a real decoder emits frames at a fixed cadence;
    * the segment digest is where its keyframe hash drops in — the
    * [[fakeDecode]] contract again). `FrameMinShared` = 2 keeps a single
    * coincidentally-equal segment from linking two assets. */
  val FrameBytes = 64
  val FrameMinShared = 2

  /** m05's corpus: assets long enough to hold ≥ 4 frames, plus planted
    * PARTIAL-COPY variants (every %13 doc re-appears under the
    * sign-disjoint −1 − doc_id id, m04's collision-proof rule): the
    * variant keeps the asset's leading half verbatim and replaces the
    * tail — a clip reuse, sharing the leading frame digests exactly
    * while m03's whole-asset digest and m04's whole-stream hash both
    * miss it. */
  private[graft] def m05Corpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(length(col("text")) >= 4 * FrameBytes && col("doc_id") >= 0)
      .select(col("doc_id"), col("text"))
    val variants = base
      .filter(pmod(col("doc_id"), lit(13)) === 0)
      .select((lit(-1L) - col("doc_id")).as("doc_id"),
        concat(expr(s"substring(text, 1, length(text) DIV 2)"),
          lit("~" * 16)).as("text"))
    base.unionByName(variants)
  }

  /** m05: FRAME-level reuse pairs — the pass after m04 that catches
    * PARTIAL copies: a clipped/extended/re-tailed asset shares no
    * whole-stream hash (m04) and no byte digest (m03), but its
    * untouched frames hash identically. Assets chunk into fixed-cadence
    * [[FrameBytes]] segments (the keyframe stand-in), each segment
    * digests map-side, and two assets pair when they share ≥
    * [[FrameMinShared]] distinct frame digests.
    *
    * Shape at 100 TB: this is d09's inverted-index containment applied
    * to binary frames — (doc, digest) DISTINCT collapses within-asset
    * repeats, candidates ride the frame-digest equi-join (never
    * asset×asset), the pair rollup partial-aggregates, and a
    * constant-padding hot frame (the zero-block of real containers) is
    * d02's stop-shingle case — cap its df or let AQE skew-join split
    * it. Fully oracle-gated: chunking is substring arithmetic + md5,
    * one semantics both engines evaluate. */
  def m05FrameReuse(spark: SparkSession, dir: String): DataFrame =
    m05FrameReuse(spark, dir, maxDf = Dedup.NoDfCap)

  /** `maxDf` is the hot-frame cap — d02's stop-shingle rule on binary
    * frames (single-sourced via `Dedup.dfCapped`): a constant padding
    * block (the zero-frame of real containers) appearing in every asset
    * would emit df² candidate pairs; the cap drops it from the index at
    * the source. The gate runs uncapped (the planted corpus has no hot
    * frame); capped ≡ uncapped on such a corpus and the planted-hot
    * case is spec-pinned. */
  def m05FrameReuse(spark: SparkSession, dir: String, maxDf: Long): DataFrame =
    m05FramePairs(m05Corpus(spark, dir), maxDf)

  /** The frame-pair core over any (doc_id, text) corpus — factored so
    * the hot-frame spec can plant its own boilerplate frame. */
  private[graft] def m05FramePairs(corpus: DataFrame, maxDf: Long): DataFrame = {
    val frames = Dedup.dfCapped(corpus
      .select(col("doc_id"),
        expr(s"CAST(length(text) DIV $FrameBytes AS BIGINT)").as("n_frames"),
        explode(expr(
          s"""transform(sequence(1, length(text) DIV $FrameBytes),
             |  i -> md5(substring(text, (i - 1) * $FrameBytes + 1, $FrameBytes)))"""
            .stripMargin)).as("h"))
      .distinct(), "h", maxDf)
    frames.as("a").hint("SHUFFLE_HASH").join(frames.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        col("a.n_frames").as("frames_i"), col("b.n_frames").as("frames_j"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= FrameMinShared)
      .orderBy("doc_i", "doc_j")
  }

  val oracle: Map[String, String] = Map(
    // The px gate's oracle never decodes anything: the corpus plants
    // each pair as two REAL encodes of one doc_id-keyed plane, so a
    // correct decoder reproduces identical fingerprints pair-wise and
    // the result is exactly the planted pair list — which IS doc_id
    // arithmetic. Any decode regression decorrelates a pair's two
    // fingerprints and the row disappears: hash mismatch.
    "m04_phash_neardup_px" ->
      """SELECT -1 - doc_id AS doc_i, doc_id AS doc_j,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS codec
         FROM documents
         WHERE doc_id >= 0 AND doc_id % 29 = 0
         ORDER BY doc_i, doc_j""",
    "m05_frame_reuse" ->
      s"""WITH base AS (
            SELECT doc_id, text FROM documents
            WHERE length(text) >= ${4 * FrameBytes} AND doc_id >= 0),
          corpus AS (
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT -1 - doc_id AS doc_id,
              substring(text, 1, length(text) // 2) || '${"~" * 16}' AS text
            FROM base WHERE doc_id % 13 = 0),
          f AS (
            SELECT DISTINCT doc_id,
              CAST(length(text) // $FrameBytes AS BIGINT) AS n_frames,
              unnest(list_transform(
                generate_series(1, length(text) // $FrameBytes),
                i -> md5(substring(text, (i - 1) * $FrameBytes + 1, $FrameBytes)))) AS h
            FROM corpus)
          SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
            a.n_frames AS frames_i, b.n_frames AS frames_j,
            COUNT(*) AS n_shared
          FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING COUNT(*) >= $FrameMinShared
          ORDER BY doc_i, doc_j""",
    "m04_phash_neardup" -> {
      val bandTerms = (0 until PhashBands)
        .map(b => s"(fp >> ${b * PhashBandBits}) & ${(1L << PhashBandBits) - 1}")
        .mkString("[", ", ", "]")
      s"""WITH base AS (
            SELECT doc_id, text FROM documents
            WHERE length(text) >= 65 AND doc_id >= 0),
          corpus AS (
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT -1 - doc_id AS doc_id,
              substring(text, 1, 10) || '~' || substring(text, 12) AS text
            FROM base WHERE doc_id % 17 = 0),
          f0 AS (
            SELECT doc_id, CAST(${phashTerms("//")} AS BIGINT) AS fp
            FROM corpus),
          f AS (
            -- the M04MaxFpDf hot-fingerprint cap, mirrored: fps shared
            -- by more than $M04MaxFpDf payloads leave the band index
            SELECT f0.* FROM f0 WHERE fp NOT IN (
              SELECT fp FROM f0 GROUP BY fp HAVING COUNT(*) > $M04MaxFpDf)),
          bands AS (
            SELECT doc_id, fp, unnest(generate_series(0, ${PhashBands - 1})) AS band,
              unnest($bandTerms) AS key
            FROM f),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j,
              a.fp AS fp_i, b.fp AS fp_j
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
          SELECT doc_i, doc_j,
            CAST(bit_count(xor(fp_i, fp_j)) AS BIGINT) AS hamming
          FROM cand
          WHERE bit_count(xor(fp_i, fp_j)) <= $PhashMaxHamming
          ORDER BY doc_i, doc_j""" },
    "m03_binary_dedup" ->
      """WITH h AS (SELECT sha256(text) AS digest,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             COUNT(*) AS n_copies
           FROM documents GROUP BY 1, 2)
         SELECT CAST(SUM(n_copies) AS BIGINT) AS n_assets,
           COUNT(*) AS n_unique_digests,
           CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_digests,
           CAST(SUM(CASE WHEN n_copies > 1 THEN n_copies ELSE 0 END) AS BIGINT)
             AS n_dup_copies,
           CAST(SUM((n_copies - 1) * n_bytes) AS BIGINT) AS reclaimable_bytes
         FROM h""",
    "m01_binary_meta" ->
      """SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         sha256(text) AS digest,
         'text/plain' AS mime
         FROM documents ORDER BY doc_id""",
    "m02_media_meta" ->
      """WITH m AS (SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             ascii(text) AS b0,
             ascii(substr(text, 2, 1)) AS b1
           FROM documents)
         SELECT doc_id, n_bytes,
           64 + (b0 % 64) * 16 AS width,
           64 + (b1 % 64) * 16 AS height,
           1 + n_bytes % 8 AS n_frames,
           CASE WHEN b0 % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           CAST(0 AS BIGINT) AS f0,
           (1 * (1 + n_bytes % 8)) // 4 AS f1,
           (2 * (1 + n_bytes % 8)) // 4 AS f2,
           (3 * (1 + n_bytes % 8)) // 4 AS f3
         FROM m ORDER BY doc_id""",
  )
}
