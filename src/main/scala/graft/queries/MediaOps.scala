package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The declared multimodal query (SURVEY.md §2.12 "multimodal
  * columns"): drives the REAL plumbing — opaque binary payload +
  * typed metadata through the partition-batched
  * [[graft.multimodal.Multimodal.extractFeatures]] stage (the
  * `mapInPandas` analogue) — over a media table synthesized
  * deterministically from documents, since the testdata ships no
  * binary table. Image-kind rows ATTEMPT the real `javax.imageio`
  * decode first (round 10); the synthesized text-byte payloads fail
  * the magic-byte gate and fall back to the byte-histogram stub,
  * which is what keeps q_media_stats' byte-level oracle valid — the
  * coupling the q_media_decode / q_media_audio / q_media_video
  * trio exists to exercise from the other side (real BMP / WAV /
  * multi-frame GIF payloads, pixel- / sample- / frame-level
  * oracles). Everything else here (schema, typed Dataset encoding,
  * per-partition batch execution, frame-sampling arithmetic, byte
  * accounting) is the production path.
  */
object MediaOps {

  /** The synthesized media table both declared multimodal queries
    * share — ONE definition of the synthesis contract (payload =
    * UTF-8 bytes of `text`, kind = doc_id mod 3 → image/audio/video,
    * typed width/height/sample_rate), so the queries and their
    * oracles can never disagree about what a "media row" is. */
  private def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id").as("media_id"),
              element_at(array(lit("image"), lit("audio"), lit("video")),
                         (col("doc_id") % 3).cast("int") + 1).as("kind"),
              col("text").cast("binary").as("payload"),
              (col("doc_id") % 640).cast("int").as("width"),
              (col("doc_id") % 480).cast("int").as("height"),
              lit(16000).as("sample_rate"))

  /** Gray 0xRRGGBB pixels, one per byte read unsigned — gray makes
    * decoded luminance ≡ byte value, which the oracles count on. */
  private def grayPixels(bytes: Array[Byte]): Array[Int] =
    bytes.map { b => val v = b & 0xff; (v << 16) | (v << 8) | v }

  /** A document's bytes packed into 64-byte frames (16×4 gray pixels
    * each), the last frame padded with ASCII space (bin 2). */
  private def frames64(bytes: Array[Byte]): IndexedSeq[Array[Byte]] =
    (0 until (bytes.length + 63) / 64).map { i =>
      val f = Array.fill[Byte](64)(0x20)
      System.arraycopy(bytes, i * 64, f, 0, math.min(64, bytes.length - i * 64))
      f
    }

  /** The near-dup report [[q_media_phash]] and [[q_media_audio_fp]]
    * share, over a signature table of (asset_id, sig) whose assets
    * come in (original 2·doc_id, twin 2·doc_id+1) pairs: one row per
    * Hamming distance in 0..maxHamming that HAS pairs (hamming = 0
    * always present via the global within-group aggregate). n_pairs
    * counts ALL near-dup asset pairs: identical signatures collapse to
    * one banding representative (the MinHash set-collapse discipline),
    * representatives pair through [[graft.Graft.nearDupPairsHamming]],
    * and group mass re-expands arithmetically — n·(n−1)/2 within a
    * group, n_a·n_b across — so the quadratic pair list is never
    * materialized. n_twin_pairs counts the (original, twin) pairs among
    * them through a LINEAR id join, so recall is priced separately
    * from pairing. */
  private def hammingTwinReport(sigTable: DataFrame, groupsName: String,
                                maxHamming: Int): DataFrame = {
    // the group table is its own cached artifact: four plan branches
    // consume it (banding reps, both pair-mass re-expansions, the
    // within-group rollup), and at corpus scale recomputing the
    // signature aggregate per branch is four shuffles where one table
    // write does
    val groups = graft.TempTables.shared(groupsName,
      sigTable.groupBy("sig")
        .agg(min(col("asset_id")).as("rep"), count(lit(1)).as("n")))()
    val pairs = graft.Graft.nearDupPairsHamming(
      groups, col("rep"), col("sig"), maxHamming = maxHamming)
    val cross = pairs
      .join(groups.select(col("rep").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(groups.select(col("rep").as("doc_b"), col("n").as("n_b")), "doc_b")
      .groupBy("hamming").agg(sum(col("n_a") * col("n_b")).as("n_pairs"))
    val within = groups.agg(sum(expr("n * (n - 1) DIV 2")).as("n_pairs"))
      .select(lit(0).as("hamming"), col("n_pairs"))
    val allPairs = cross.unionByName(within)
      .groupBy("hamming").agg(sum(col("n_pairs")).as("n_pairs"))
    val twins = sigTable.filter(col("asset_id") % 2 === 0)
      .select(expr("asset_id DIV 2").as("doc_id"), col("sig").as("sig_o"))
      .join(sigTable.filter(col("asset_id") % 2 === 1)
        .select(expr("asset_id DIV 2").as("doc_id"),
                col("sig").as("sig_t")), "doc_id")
      .select(expr("bit_count(sig_o ^ sig_t)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("hamming").agg(count(lit(1)).as("n_twin_pairs"))
    allPairs.join(twins, Seq("hamming"), "left")
      // n_pairs too: on an sfDir with zero eligible docs the global
      // within-group sum is NULL, and the integer contract must hold
      // even for the degenerate (0, 0, 0) row
      .select(col("hamming"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
              coalesce(col("n_twin_pairs"), lit(0L)).as("n_twin_pairs"))
      .coalesce(1).orderBy("hamming")
  }

  /** Per-kind media corpus profile: media count, total payload bytes,
    * total sampled frames (frameSize 64 / stride 4 — every 4th
    * 64-byte frame, the video-keyframe shape), and total bytes in
    * histogram bin 2 (0x20–0x2F: space/punctuation — on this ASCII
    * corpus, exactly the separator bytes).
    *
    * Cross-engine parity: payload = UTF-8 bytes of `text` (pure
    * ASCII corpus — byte count ≡ char count, asserted by the oracle
    * gate itself), kind = doc_id mod 3 → image/audio/video, all
    * outputs integers (rule I: the oracle CASTs its HUGEINT sums).
    * The oracle recomputes frames as ((len+63) div 64 + 3) div 4 —
    * the closed form of "ceil(len/64) frames, keep every 4th
    * starting at 0" — and bin-2 bytes via a [ -/] character-class
    * strip, blind to the Scala histogram implementation.
    *
    * Scale shape: one documents scan → mapPartitions (no shuffle;
    * codec init amortized per partition, not per row) → one 3-group
    * map-side-combinable aggregate. At 100 TB the identical plan
    * streams the payload column partition-by-partition; only the
    * 3-row aggregate ever moves. */
  def q_media_stats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, d).as[Multimodal.MediaRow]
    Multimodal.extractFeatures(media, frameSize = 64, stride = 4).toDF()
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"),
           sum(col("n_bytes")).as("total_bytes"),
           sum(col("frames_sampled")).as("total_frames"),
           sum(element_at(col("histogram"), 3)).as("sep_bytes"))
      .coalesce(1).orderBy("kind")
  }

  /** REAL image decode as an oracle-checked query (round 10): every
    * document's UTF-8 bytes are rendered into a genuine width×1
    * 24-bit BMP (one GRAY pixel per byte — `Multimodal.encodeBmp`,
    * pure JDK), pushed through the partition-batched extraction, and
    * DECODED BACK by `javax.imageio` inside
    * [[graft.multimodal.Multimodal.decodeImage]]: the emitted counts
    * are sums over the decoded PIXEL-luminance histogram, not over
    * payload bytes (a stubbed byte histogram over the BMP would count
    * the 54-byte header + row padding and fail the oracle). Gray
    * pixels make luminance ≡ byte value, so the oracle can verify the
    * whole encode→decode→histogram loop from first principles with
    * character-class arithmetic on the TEXT — completely blind to
    * BMP, ImageIO and the Scala histogram.
    *
    * Output per doc: n_pixels (decoded pixel count), sep_pixels
    * (luminance 0x20–0x2F — bin 2: space/punctuation), lo_alpha
    * (0x60–0x6F — bin 6: backtick, a–o), hi_alpha (0x70–0x7F —
    * bin 7: p–z and beyond). All integers (rule I).
    *
    * Scale shape: one scan → row-local encode + decode inside ONE
    * `mapPartitions` batch (codec init amortized per partition; no
    * shuffle — payloads never cross the wire) → row-local histogram
    * sums → the only exchange is the output sort. */
  def q_media_decode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fanOutForCompute before the codec stage (round 17, guide §2.5):
    // the single-file local scan is ONE split, so the encode+decode
    // mapper otherwise serializes onto one core; identity at scale
    val media = graft.Graft.fanOutForCompute(
      Tables.documents(s, d)
        .filter(length(col("text")) >= 1) // a 0-byte doc has no pixels to render
        .select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        Multimodal.MediaRow(id, "image",
          Multimodal.encodeBmp(bytes.length, 1, grayPixels(bytes)), bytes.length, 1, 0)
      }
    val pixelSum = aggregate(col("histogram"), lit(0L), (a, x) => a + x)
    Multimodal.extractFeatures(media).toDF()
      .select(col("media_id").as("doc_id"),
              pixelSum.as("n_pixels"),
              element_at(col("histogram"), 3).as("sep_pixels"),
              element_at(col("histogram"), 7).as("lo_alpha"),
              element_at(col("histogram"), 8).as("hi_alpha"))
      .orderBy("doc_id")
  }

  /** REAL audio decode as an oracle-checked query (round 11 — the
    * q_media_decode recipe applied to the second codec): every
    * document's UTF-8 bytes become the samples of a genuine 8-bit
    * unsigned PCM mono WAV (`Multimodal.encodeWav`, pure JDK), pushed
    * through the partition-batched extraction, and DECODED BACK by
    * `javax.sound.sampled` inside
    * [[graft.multimodal.Multimodal.decodeAudio]]: the emitted counts
    * are sums over the decoded PCM-SAMPLE histogram, not over payload
    * bytes (a stubbed byte histogram over the WAV would count the
    * 44-byte RIFF header and fail the oracle). 8-bit unsigned PCM
    * makes sample value ≡ byte value, so the oracle verifies the
    * whole encode→decode→histogram loop with character-class
    * arithmetic on the TEXT — completely blind to WAV,
    * javax.sound.sampled and the Scala histogram.
    *
    * Output per doc: n_samples (decoded sample count), sep_samples
    * (sample 0x20–0x2F — bin 2: space/punctuation), lo_alpha
    * (0x60–0x6F — bin 6), hi_alpha (0x70–0x7F — bin 7). All integers
    * (rule I).
    *
    * Scale shape: identical to q_media_decode — one scan → row-local
    * encode + decode inside ONE `mapPartitions` batch (no shuffle;
    * payloads never cross the wire) → row-local histogram sums → the
    * only exchange is the output sort. */
  def q_media_audio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fanOutForCompute: see q_media_decode — same single-split scan,
    // same heavy encode+decode mapper
    val media = graft.Graft.fanOutForCompute(
      Tables.documents(s, d)
        .filter(length(col("text")) >= 1) // a 0-byte doc has no samples
        .select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        Multimodal.MediaRow(id, "audio", Multimodal.encodeWav(bytes, 16000),
          0, 0, 16000)
      }
    val sampleSum = aggregate(col("histogram"), lit(0L), (a, x) => a + x)
    Multimodal.extractFeatures(media).toDF()
      .select(col("media_id").as("doc_id"),
              sampleSum.as("n_samples"),
              element_at(col("histogram"), 3).as("sep_samples"),
              element_at(col("histogram"), 7).as("lo_alpha"),
              element_at(col("histogram"), 8).as("hi_alpha"))
      .orderBy("doc_id")
  }

  /** REAL video decode as an oracle-checked query (round 11 — the
    * q_media_decode recipe applied to the THIRD modality, retiring
    * the last codec stub): every document's UTF-8 bytes are packed
    * into 64-byte frames (16×4 gray pixels each, the last frame
    * space-padded), encoded as a genuine multi-frame animated GIF
    * (`Multimodal.encodeGifGray` — identity gray palette, lossless
    * round trip), pushed through the partition-batched extraction,
    * and DECODED BACK frame by frame by `javax.imageio`'s GIF reader
    * inside [[graft.multimodal.Multimodal.decodeVideo]] with
    * keyframe-style stride-2 sampling: the emitted counts are sums
    * over the SAMPLED frames' decoded pixel-luminance histogram, not
    * over payload bytes (a stubbed byte histogram over the GIF would
    * count the header, palette and LZW code stream and fail the
    * oracle), and the emitted frame counts are CONTAINER frames (the
    * total proves the encoder wrote — and the reader walked — every
    * frame; the sampled count proves the stride arithmetic). Gray
    * pixels make luminance ≡ byte value, so the oracle verifies the
    * whole encode→decode→sample→histogram loop from first principles:
    * it reassembles exactly the even-indexed 64-char frames of the
    * TEXT (a list_filter/list_transform over the frame index range),
    * space-pads the last frame when — and only when — it is sampled,
    * and counts character classes — completely blind to GIF, ImageIO,
    * stride mechanics and the Scala histogram.
    *
    * Output per doc: n_frames (container frame count), frames_sampled
    * (every 2nd, ceil(nf/2)), n_pixels (64 × frames_sampled),
    * sep_pixels (luminance 0x20–0x2F — bin 2: space/punct, including
    * the pad), lo_alpha (bin 6), hi_alpha (bin 7). All integers
    * (rule I).
    *
    * Scale shape: identical to its siblings — one scan → row-local
    * encode + decode inside ONE `mapPartitions` batch (no shuffle;
    * payloads never cross the wire) → row-local histogram sums → the
    * only exchange is the output sort. */
  def q_media_video(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media0 = Tables.documents(s, d)
      .filter(length(col("text")) >= 1) // a 0-byte doc has no frames
      // two EXPLICIT row gates, mirrored verbatim in the oracle so
      // neither engine can silently diverge (review catches): (1) the
      // char-class oracle frames the TEXT while this side frames
      // BYTES — identical only when byte count ≡ char count, so
      // non-ASCII docs are EXCLUDED in both engines rather than
      // silently mis-framed; (2) decodeVideo bounds hostile payloads
      // at MaxFrames = 4096 frames and falls back to the stub past
      // it, so docs that would legitimately pack > 4096 frames
      // (> 256 KiB) are excluded rather than stub-decoded on one
      // side only
      .filter(length(col("text")) === octet_length(col("text")) &&
              octet_length(col("text")) <= 64L * 4096)
      .select(col("doc_id"), col("text"))
    // fanOutForCompute: see q_media_decode — same single-split scan,
    // same heavy encode+decode mapper
    val media = graft.Graft.fanOutForCompute(media0).as[(Long, String)]
      .map { case (id, text) =>
        Multimodal.MediaRow(id, "video",
          Multimodal.encodeGifGray(16, 4, frames64(text.getBytes("UTF-8"))), 16, 4, 0)
      }
    val pixelSum = aggregate(col("histogram"), lit(0L), (a, x) => a + x)
    Multimodal.extractFeatures(media, frameSize = 64, stride = 2).toDF()
      .select(col("media_id").as("doc_id"),
              col("frames_total").cast("long").as("n_frames"),
              col("frames_sampled").cast("long").as("frames_sampled"),
              pixelSum.as("n_pixels"),
              element_at(col("histogram"), 3).as("sep_pixels"),
              element_at(col("histogram"), 7).as("lo_alpha"),
              element_at(col("histogram"), 8).as("hi_alpha"))
      .orderBy("doc_id")
  }

  /** PERCEPTUAL media near-dup (round 13 — the gap the round-12
    * verdict ranked first): q_media_dedup's exact-MD5 key misses a
    * re-encoded or brightness-shifted copy of the same asset; this
    * query catches it with the 64-bit average-hash fingerprint
    * ([[graft.multimodal.Multimodal.perceptualHash]] — 8×8
    * box-averaged luminance cells ranked against their own mean, so
    * the signature survives container swaps, uniform brightness
    * shifts and integer upscaling) paired by the shared SimHash band
    * machinery ([[graft.Graft.nearDupPairsHamming]]: 16-bit band
    * buckets, blocked self-join, exact bit_count verify — perfect
    * recall at Hamming ≤ 2 by pigeonhole).
    *
    * The corpus: every ASCII document renders to a REAL 16-wide gray
    * BMP (asset 2·doc_id — the q_media_decode recipe in 2-D) AND a
    * REAL GIF re-encode of the same pixels brightness-shifted by +2
    * (asset 2·doc_id+1) — a pair no byte digest links (different
    * container, different bytes) that perceptual near-dup must.
    *
    * Output: [[hammingTwinReport]] at Hamming ≤ 2 (1–3 rows) —
    * `n_pairs`, all near-dup asset pairs per distance, and
    * `n_twin_pairs`, the (original, re-encode) pairs among them: the
    * query's own measured recall of the perturbation it synthesized.
    * Oracle=no (JVM ImageIO decode — the q_dedup_simhash stance);
    * MultimodalSpec pins banded-vs-brute-force equivalence, the
    * invariances, and the twin recall floor.
    *
    * Scale shape: one scan → row-local encode+decode+hash inside ONE
    * `mapPartitions` batch (payloads never shuffle; 8-byte signatures
    * do) → signature set-collapse → banded rep pairing (skew-blocked)
    * → metadata-scale rollups. At 100 TB the signature computes in
    * the ingest mapper and only (id, sig) pairs ever reach an
    * exchange. */
  def q_media_phash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val maxHamming = 2
    val assets = Tables.documents(s, d)
      // ASCII gate (byte ≡ char, the q_media_video precedent) + at
      // least one full 16-byte row so the rendered grid is 2-D enough
      // to carry signal
      .filter(length(col("text")) === octet_length(col("text")) &&
              octet_length(col("text")) >= 16)
      .select(col("doc_id"), col("text"))
    // fanOutForCompute: see q_media_decode — the sig build is TWO
    // encodes + TWO perceptual-hash decodes per doc on a single-split
    // scan
    val sigs = graft.Graft.fanOutForCompute(assets).as[(Long, String)]
      .mapPartitions { rows =>
      rows.flatMap { case (docId, text) =>
        val bytes = text.getBytes("UTF-8")
        val h = (bytes.length + 15) / 16
        val grid = Array.fill[Byte](16 * h)(0x20) // pad = ASCII space
        System.arraycopy(bytes, 0, grid, 0, bytes.length)
        val bmp = Multimodal.encodeBmp(16, h, grayPixels(grid))
        // the perturbed twin: same pixels +2 brightness, re-encoded
        // into a different container (identity-palette GIF) — escapes
        // MD5, must not escape the perceptual key. GIF stores dims as
        // UNSIGNED 16-BIT, so a document past 16·65535 bytes has no
        // encodable GIF twin (the JDK writer would throw and fail the
        // task) — such a doc contributes only its BMP signature, the
        // undecodable-asset fallback contract rather than a query
        // failure (round-13 ADVICE).
        val gifSig =
          if (h > 65535) None
          else Multimodal.perceptualHash(
            Multimodal.encodeGifGray(16, h, Seq(grid.map(b => (b + 2).toByte))))
        Multimodal.perceptualHash(bmp).map(sig => (2 * docId, sig)) ++
          gifSig.map(sig => (2 * docId + 1, sig))
      }
    }.toDF("asset_id", "sig")
    hammingTwinReport(graft.TempTables.shared("phash_sigs", sigs)(),
      "phash_groups", maxHamming)
  }

  /** PERCEPTUAL audio near-dup (round 14 — the round-13 verdict's #4):
    * q_media_dedup's exact-MD5 key misses a volume-shifted or
    * re-containered copy of the same recording; this query catches it
    * with the 64-bit spectral-energy-delta fingerprint
    * ([[graft.multimodal.Multimodal.audioFingerprint]] — 8 time
    * frames × 8 difference-lag bands, bits = temporal energy-delta
    * signs, gain- and DC-invariant) paired by the SAME shared band
    * machinery as q_media_phash ([[graft.Graft.nearDupPairsHamming]]:
    * 16-bit band buckets, blocked self-join, exact bit_count verify —
    * perfect recall at Hamming ≤ 3 by pigeonhole).
    *
    * The corpus: every ASCII document ≥ 64 bytes renders to a REAL
    * 8-bit PCM WAV (asset 2·doc_id — the q_media_audio recipe) AND a
    * REAL re-encode of the same recording at HALF GAIN and a
    * different sample rate (asset 2·doc_id+1) — a pair no byte digest
    * links. The halved 8-bit samples round (integer truncation), so
    * the twin is gain-shift-exact only up to a few bits — exactly the
    * perturbation the Hamming radius exists to absorb, and the
    * query's n_twin_pairs row measures that recall directly.
    *
    * Output and scale shape: identical to [[q_media_phash]] —
    * [[hammingTwinReport]] at Hamming ≤ 3 (1–4 rows). Payloads never
    * shuffle; 8-byte signatures do; at 100 TB the fingerprint
    * computes in the ingest mapper. Oracle = no
    * (javax.sound decode — the q_media_phash stance); MultimodalSpec
    * pins the invariances, banded-vs-brute equivalence and the twin
    * recall floor. */
  def q_media_audio_fp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val maxHamming = 3
    val assets = Tables.documents(s, d)
      // ASCII gate (byte ≡ char) + at least 8 samples per time frame
      // so the 8×8 energy grid carries signal
      .filter(length(col("text")) === octet_length(col("text")) &&
              octet_length(col("text")) >= 64)
      .select(col("doc_id"), col("text"))
    // fanOutForCompute: see q_media_decode — two WAV encodes + two
    // fingerprint decodes per doc on a single-split scan
    val sigs = graft.Graft.fanOutForCompute(assets).as[(Long, String)]
      .mapPartitions { rows =>
      rows.flatMap { case (docId, text) =>
        val bytes = text.getBytes("UTF-8")
        val wav = Multimodal.encodeWav(bytes, 16000)
        // the perturbed twin: half gain around the 8-bit midpoint,
        // re-encoded at a different sample rate — escapes MD5, must
        // not escape the perceptual key
        val half = bytes.map(b => (128 + ((b & 0xff) - 128) / 2).toByte)
        val twin = Multimodal.encodeWav(half, 22050)
        Multimodal.audioFingerprint(wav).map(sig => (2 * docId, sig)) ++
          Multimodal.audioFingerprint(twin).map(sig => (2 * docId + 1, sig))
      }
    }.toDF("asset_id", "sig")
    hammingTwinReport(graft.TempTables.shared("afp_sigs", sigs)(),
      "afp_groups", maxHamming)
  }

  /** Exact media-asset dedup per kind — the content-addressed-storage
    * step of a multimodal ingest (identical images/clips re-uploaded
    * under different ids stored ONCE): assets grouped by the MD5 of
    * their payload bytes, per kind the asset count, distinct-content
    * count, duplicate count, raw byte total and the bytes a
    * dedup-by-hash store saves. All integers (rule I).
    *
    * MD5 is the cross-engine-portable content key: Spark `md5(binary)`
    * ≡ DuckDB `md5(text)` for ANY UTF-8 text, because casting a string
    * to binary yields exactly the UTF-8 bytes DuckDB's md5 also hashes
    * (no ASCII-purity requirement — that gate belongs to q_media_stats'
    * char≡byte count identity, not to this digest);
    * at 100 TB the same hash IS the storage key, and the
    * grouping shuffles 16-byte digests + int lengths, never payloads.
    *
    * Scale shape: one scan → per-(kind, digest) map-side-combinable
    * count (payload bytes never cross the wire; only digest rows do)
    * → per-kind metadata-scale rollup. */
  def q_media_dedup(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .select(col("kind"), md5(col("payload")).as("digest"),
              octet_length(col("payload")).cast("long").as("bytes"))
      .groupBy("kind", "digest")
      .agg(count(lit(1)).as("cnt"), max(col("bytes")).as("bytes"))
      .groupBy("kind")
      .agg(sum(col("cnt")).as("n_assets"),
           count(lit(1)).as("uniq_assets"),
           (sum(col("cnt")) - count(lit(1))).as("dup_assets"),
           sum(col("bytes") * col("cnt")).as("bytes_total"),
           (sum(col("bytes") * col("cnt")) - sum(col("bytes"))).as("bytes_saved"))
      .coalesce(1).orderBy("kind")

  /** VIDEO temporal fingerprint match (round 16 — the round-15
    * verdict's #3): [[q_media_phash]] hashes a GIF's temporally-
    * averaged frames, and the average is ORDER-INVARIANT and
    * mass-weighted — so a TRIMMED clip moves the whole signature
    * (near-dup missed) while carrying mostly-identical frames, and a
    * REORDERED clip is bit-identical to its original (caught, but
    * only because the average cannot see order at all). This query
    * runs the sequence-level face:
    * [[graft.multimodal.Multimodal.videoFrameHashes]] emits one
    * 64-bit average hash PER FRAME, frames pair by banded
    * (frame_hash, position_bucket) keys (bucket = pos div 4, so a
    * small trim keeps ~3/4 of frames in-bucket), and a clip pair is
    * CAUGHT when matched frames cover ≥ half the shorter clip.
    *
    * The corpus: every ASCII document of ≥ 3 frames (192 bytes)
    * renders to a REAL multi-frame gray GIF (the q_media_video
    * recipe; asset 3·doc_id) plus two lossless re-encodes: the
    * TRIMMED clip missing frame 0 (3·doc_id+1) and the REORDERED
    * clip with frames 0/1 swapped (3·doc_id+2). Output: one row per
    * perturbation kind — twins, sequence-match catches + permille,
    * and the same twins through the temporal-average phash at
    * Hamming ≤ 2 — the measured gap this operator closes (trim:
    * phash low, sequence high; reorder: both high).
    *
    * Scale shape: encode + decode + hashing row-local in ONE
    * mapPartitions (payloads never shuffle; 8-byte frame hashes do);
    * the per-asset signature table is a shared temp parquet; pairing
    * is the banded inverted-index self-join with the
    * [[graft.operators.SkewJoin.blockedSelfPairs]] hot-key guard
    * (a boilerplate frame shared by H clips decomposes into blocks,
    * never an unbounded bucket²); everything after is
    * metadata-scale. Oracle = no (javax.imageio decode — the
    * q_media_phash stance); MultimodalSpec pins the frame-hash
    * re-encode identity, the trim/reorder catch floors, and the
    * phash gap. */
  def q_media_videofp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fanOutForCompute: see q_media_decode — SIX GIF encodes + six
    // signature decodes per doc (three variants, one decode pass each)
    // on a single-split scan; measured 2.0 → 0.3 s at sf0.1/local[32]
    val sigs = graft.TempTables.shared("videofp_sigs",
      graft.Graft.fanOutForCompute(
        Tables.documents(s, d)
          .filter(length(col("text")) === octet_length(col("text")) &&
                  octet_length(col("text")).between(192L, 64L * 4096))
          .select(col("doc_id"), col("text"))).as[(Long, String)]
        .mapPartitions { rows =>
          rows.flatMap { case (docId, text) =>
            val frames = frames64(text.getBytes("UTF-8"))
            val variants = Seq(
              3 * docId     -> frames,
              3 * docId + 1 -> frames.drop(1), // trimmed
              3 * docId + 2 ->                 // frames 0/1 swapped
                (Seq(frames(1), frames(0)) ++ frames.drop(2)))
            variants.flatMap { case (assetId, fs) =>
              // ONE decode pass yields both signatures; the temporal-
              // average component is bit-identical to perceptualHash
              // (MultimodalSpec pins it)
              Multimodal.videoSignatures(Multimodal.encodeGifGray(16, 4, fs))
                .map { case (ph, fhs) => (assetId, ph, fhs) }
            }
          }
        }.toDF("asset_id", "phash", "fhashes"))()
    val sized = sigs.select(col("asset_id"), size(col("fhashes")).cast("long").as("nf"))
    val frames = sigs.select(col("asset_id"),
        posexplode(col("fhashes")).as(Seq("pos", "fh")))
      .select(col("fh"), expr("pos div 4").as("bkt"), col("asset_id"))
    val scored = graft.operators.SkewJoin
      .blockedSelfPairs(frames, Seq("fh", "bkt"), "asset_id", maxBucket = 64)
      .filter(col("asset_id_a") =!= col("asset_id_b"))
      .groupBy("asset_id_a", "asset_id_b")
      .agg(count(lit(1)).as("n_match"))
      .join(sized.select(col("asset_id").as("asset_id_a"), col("nf").as("nf_a")),
            "asset_id_a")
      .join(sized.select(col("asset_id").as("asset_id_b"), col("nf").as("nf_b")),
            "asset_id_b")
      .select(col("asset_id_a"), col("asset_id_b"),
              expr("n_match * 1000 div least(nf_a, nf_b)").as("cov"))
    def side(k: Int, sig: String) = sigs
      .filter(col("asset_id") % 3 === k)
      .select(expr("asset_id div 3").as("doc_id"), col("phash").as(sig),
              col("asset_id").as(s"id_$k"))
    val twins = side(0, "ph_base")
      .join(side(1, "ph_trim"), "doc_id")
      .join(side(2, "ph_reorder"), "doc_id")
    def kindRow(kind: String, variantK: Int, phVar: String) = twins
      .join(scored.select(col("asset_id_a").as("id_0"),
                          col("asset_id_b").as(s"id_$variantK"), col("cov")),
            Seq("id_0", s"id_$variantK"), "left")
      .agg(count(lit(1)).as("n_twins"),
           sum(when(col("cov") >= 500, 1L).otherwise(0L)).as("seq_caught"),
           sum(when(expr(s"bit_count(ph_base ^ $phVar)") <= 2, 1L)
             .otherwise(0L)).as("phash_caught"))
      .select(lit(kind).as("kind"), col("n_twins"), col("seq_caught"),
              expr("CASE WHEN n_twins = 0 THEN 0L " +
                   "ELSE seq_caught * 1000 div n_twins END").as("seq_permille"),
              col("phash_caught"),
              expr("CASE WHEN n_twins = 0 THEN 0L " +
                   "ELSE phash_caught * 1000 div n_twins END").as("phash_permille"))
    kindRow("reorder", 2, "ph_reorder")
      .unionByName(kindRow("trim", 1, "ph_trim"))
      .orderBy("kind")
  }
}
