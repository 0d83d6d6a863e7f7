package graft.queries

import graft.Tables
import graft.operators.{Dedup, Multimodal, Quantiles, Similarity, Spread, TextAnalysis}
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extension operators (BASELINE.json north-star: LLM-data-pipeline ops —
  * dedup, similarity search, multimodal columns, text analysis — plus the
  * streaming-shaped event rollups), expressed over `documents`,
  * `embeddings`, and `events`. DuckDB oracles wherever the semantics are
  * deterministic — including the custom-hash and seeded-PRNG operators
  * (SimHash q22, CDC chunks q43, Manku pairs q41, hyperplane LSH q29),
  * whose kernels replay in SQL via modular arithmetic; the kernels are
  * additionally pinned by ScalaTest specs against independent reference
  * implementations.
  */
object ExtQueries {
  type Q = (SparkSession, String) => DataFrame

  private def r2(c: Column): Column = floor(c * 100 + lit(0.50001)) / 100
  private def r6(c: Column): Column = floor(c * 1000000 + lit(0.50001)) / 1000000

  /** P1 generator on real text: explode the token array. */
  private def q16(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)

  /** Text quality features (token count, word len, punct/space ratios). */
  private def q17(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nTok = TextAnalysis.tokenCount(t)
    val nChars = length(t)
    val nSpaces = nChars - length(regexp_replace(t, "\\s", ""))
    val nPunct = nChars - length(regexp_replace(t, "[^a-zA-Z0-9\\s]", ""))
    Spread.ensure(Tables.documents(s, d).select("doc_id", "text")).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      nChars.as("n_chars_measured"),
      nSpaces.as("n_spaces"),
      nPunct.as("n_punct"),
      r2(when(nTok === 0, lit(0.0))
        .otherwise((nChars - nSpaces).cast("double") / nTok)).as("mean_word_len"))
  }

  /** Language-ID by marker-word argmax (ties → lexicographically last),
    * via the fused native expression (same semantics as the column
    * formulation [[TextAnalysis.languageId]], ~14× faster).
    */
  private def q18(s: SparkSession, d: String): DataFrame = {
    Spread.ensure(Tables.documents(s, d).select("doc_id", "text"))
      .select(col("doc_id"), expr("lang_id(text)").as("lang_pred"))
  }

  /** Document fingerprints: portable 128-bit digest. */
  private def q19(s: SparkSession, d: String): DataFrame =
    Spread.ensure(Tables.documents(s, d).select("doc_id", "text"))
      .select(
        col("doc_id"),
        TextAnalysis.digestHex(col("text")).as("digest"),
        length(col("text")).as("n_chars_measured"))

  /** Exact dedup groups by content digest. */
  private def q20(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "doc_id", "text")

  /** MinHash+LSH near-dup candidate pairs, Jaccard-verified ≥ 0.4.
    * Two complementary contracts (r11 ADVICE): the driver oracle
    * REPLAYS the banding algorithm (salts interpolated from
    * `MinHashSig.saltsFor` — cross-engine parity at every SF, honest
    * about the S-curve pairs banding legitimately misses at sf1), and
    * `DedupSpec` keeps the ALGORITHM-INDEPENDENT brute-force-equality
    * check alive at sf0.01, where the duplicate groups are
    * near-identical and banding recall is 1.0 — so a systematic design
    * error shared by implementation and replay would still be caught.
    */
  private def q21(s: SparkSession, d: String): DataFrame =
    Dedup.nearDuplicates(Tables.documents(s, d), "doc_id", "text")
      .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))

  /** SimHash fingerprints via the custom Catalyst expression. Fully
    * deterministic given the kernel (whitespace tokens → FNV-1a →
    * 64 bit votes), so it IS oracle-checked: the DuckDB side recomputes
    * FNV-1a with list lambdas over UBIGINT/HUGEINT modular arithmetic.
    * Parity is exact for BMP text: the oracle's split class spells out
    * `Character.isWhitespace` (incl. \x0B and \x1C-\x1F), and per-char
    * hashing matches because a BMP code point IS its single UTF-16 unit;
    * supplementary-plane text (two units vs one code point) is out of
    * the oracle's scope and covered by SimHash64's own spec instead.
    */
  private def q22(s: SparkSession, d: String): DataFrame =
    Dedup.simHashFingerprints(Tables.documents(s, d), "doc_id", "text")

  /** Exact n-gram Jaccard on adjacent-id pairs (SQL-expressible slice of
    * the near-dup surface → oracle-checked).
    */
  private def q23(s: SparkSession, d: String): DataFrame = {
    val t = Spread.ensure(Tables.documents(s, d).select("doc_id", "text"))
    t.alias("a")
      .join(t.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"),
        r6(expr("ngram_jaccard(a.text, b.text, 3)")).as("jaccard"))
  }

  /** Brute-force cosine top-5 for query vectors vec_id < 30. */
  private def q24(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity
      .bruteForceCosineTopK(
        emb, emb.filter(col("vec_id") < 30), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), r6(col("cosine")).as("cosine"), col("rank"))
  }

  /** Streaming-shaped hourly rollup (same transform runs on a stream). */
  private def q25(s: SparkSession, d: String): DataFrame =
    EventStreams.hourlyRollup(Tables.events(s, d))
      .select(
        col("hour_start"),
        col("event_type"),
        col("n_events"),
        r2(col("total_value")).as("total_value"))

  /** Sessionization: per-user session counts at a 30-min gap. */
  private def q26(s: SparkSession, d: String): DataFrame =
    EventStreams.sessionCounts(Tables.events(s, d), gapSeconds = 1800L)

  /** Multimodal payload plumbing: binary content + typed metadata. */
  private def q27(s: SparkSession, d: String): DataFrame =
    Multimodal.synthesizePayload(Tables.documents(s, d), "text", "image")
      .select(
        col("doc_id"),
        octet_length(col("content")).as("n_bytes"),
        col("media_meta.kind").as("kind"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"),
        col("media_meta.duration_ms").as("duration_ms"))

  /** Multimodal REAL-decode roundtrip, fully oracle-checked: per event
    * type, the events table's values become PCM-16 samples, encoded into
    * an actual RIFF/WAVE binary payload ([[graft.operators.MediaCodecs
    * .encodeWav]]), decoded back by the real chunk-walking WAV parser,
    * and reduced to INTEGER audio statistics — which the DuckDB oracle
    * reproduces directly from the source rows. Any header, alignment, or
    * LE16 sample-decode bug breaks the hash match. (Stub-path feature
    * determinism for codec-less formats stays pinned in MultimodalSpec.)
    *
    * Scale note: one WAV per group via collect_list — the payload is
    * bounded by the group's row count; this is the fixture/roundtrip
    * path, not a corpus-wide pattern (real payloads arrive as binary
    * columns, cf. [[Multimodal.extractFeatures]]).
    */
  private def q28(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sr = 8000
    val samples = Tables.events(s, d)
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .select(
        col("event_type"),
        col("event_id"),
        ((floor(col("value") * 100).cast("long") % 2000L) - 1000L)
          .cast("int").as("v"))
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("event_id"), col("v")))).as("sv"))
      .select(col("event_type"), expr("transform(sv, x -> x.v)").as("vs"))
      .as[(String, Seq[Int])]
    samples.map { case (et, vs) =>
      val wav = graft.operators.MediaCodecs.encodeWav(sr, vs.map(_.toShort).toArray)
      val audio = graft.operators.MediaCodecs.decodeWav(wav)
        .getOrElse(sys.error(s"roundtrip decode failed for $et"))
      val n = audio.samples.length
      var sum = 0L; var sumSq = 0L; var peak = 0L; var zc = 0L
      var i = 0
      while (i < n) {
        val v = audio.samples(i).toLong
        sum += v; sumSq += v * v
        if (math.abs(v) > peak) peak = math.abs(v)
        if (i > 0 && audio.samples(i - 1) * v < 0) zc += 1
        i += 1
      }
      (et, audio.sampleRate, n.toLong, audio.durationMs, sum, sumSq, peak, zc)
    }.toDF("event_type", "sample_rate", "n_samples", "duration_ms",
      "sum_s", "sum_sq", "peak", "zero_crossings")
  }

  /** Compressed-audio (MP3) FRAME-HEADER metadata through the real byte
    * walk, fully oracle-checked — the q28 discipline applied to the one
    * format whose SAMPLE decode must stay stubbed (the JDK ships no MP3
    * codec; only the spectral synthesis is faked, the container walk is
    * real): per event type, each event becomes one MPEG-1 Layer III
    * frame whose bitrate index cycles with `event_id` (a VBR stream) and
    * whose padding bit toggles on `event_id % 3` — so the parser must
    * get the per-frame length arithmetic `144000·kbps/sr + padding`
    * right for EVERY frame or the walk desyncs and returns None. The
    * stream carries a leading ID3v2 tag (sized from the group) and a
    * trailing ID3v1 tag, both of which the walk must skip. The DuckDB
    * oracle recomputes frame count, integer duration, and floor-average
    * bitrate directly from the source rows via the same bitrate table.
    *
    * Scale note: one payload per group via collect_list, bounded by
    * group size — the q28 fixture/roundtrip justification verbatim.
    */
  private def q130(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val specs = Tables.events(s, d)
      .filter(col("event_id").isNotNull)
      .select(col("event_type"), col("event_id"))
      .groupBy("event_type")
      .agg(sort_array(collect_list(col("event_id"))).as("ids"))
      .as[(String, Seq[Long])]
    specs.map { case (et, ids) =>
      val frames = ids.map(id =>
        ((id % 14 + 1).toInt, id % 3 == 0))
      val mp3 = graft.operators.MediaCodecs.encodeMp3(
        frames, srIndex = 0, id3v2Size = 10 + et.length * 7, id3v1 = true)
      val meta = graft.operators.MediaCodecs.decodeMp3Meta(mp3)
        .getOrElse(sys.error(s"mp3 header walk failed for $et"))
      (et, meta.sampleRate, meta.nFrames, meta.durationMs, meta.avgKbps, meta.vbr)
    }.toDF("event_type", "sample_rate", "n_frames", "duration_ms",
      "avg_kbps", "vbr")
  }

  /** Compressed-raster (PNG) decode roundtrip through the REAL JDK
    * ImageIO codec, fully oracle-checked: per source, each document's id
    * becomes one deterministic RGB pixel, the pixel row is encoded into
    * an actual PNG ([[graft.operators.MediaCodecs.encodePng]]), decoded
    * back by [[graft.operators.MediaCodecs.decodeImageIO]] — the same
    * path `extractFeatures` routes JPEG/PNG payloads through — and
    * reduced to INTEGER channel statistics that the DuckDB oracle
    * reproduces directly from `documents`. PNG being lossless makes the
    * roundtrip pixel-exact, so any channel-order (RGB/BGR), raster
    * layout, or alpha-handling bug breaks the hash match. JPEG (lossy)
    * is pinned separately by tolerance spec in `MultimodalSpec`.
    */
  private def q125(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val px = Tables.documents(s, d)
      .select(col("source"), col("doc_id"))
      .groupBy("source")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .as[(String, Seq[Long])]
    px.map { case (src, ids) =>
      val n = ids.length
      val rgb = new Array[Byte](n * 3)
      var i = 0
      while (i < n) {
        val id = ids(i)
        rgb(i * 3) = (id % 256).toByte
        rgb(i * 3 + 1) = ((id * 7) % 256).toByte
        rgb(i * 3 + 2) = ((id * 13) % 256).toByte
        i += 1
      }
      val png = graft.operators.MediaCodecs.encodePng(n, 1, rgb)
      val img = graft.operators.MediaCodecs.decodeImageIO(png)
        .getOrElse(sys.error(s"png roundtrip decode failed for $src"))
      var sr = 0L; var sg = 0L; var sb = 0L
      var j = 0
      while (j < img.width * img.height) {
        sr += img.rgb(j * 3) & 0xff
        sg += img.rgb(j * 3 + 1) & 0xff
        sb += img.rgb(j * 3 + 2) & 0xff
        j += 1
      }
      (src, img.width, img.height, sr, sg, sb)
    }.toDF("source", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Perceptual-hash image near-dup dedup (r13 verdict #3 — the dedup
    * family's PIXEL member): every document synthesizes a deterministic
    * 8×8 grayscale image (planted structure: 4 variants per group —
    * three with single-pixel noise that must stay within Hamming range,
    * one inverted that must NOT match), runs it through the REAL JDK
    * PNG encode→decode ([[graft.operators.MediaCodecs]] — the q125
    * codec discipline: pixel plumbing exercised for real, pixels exact
    * because PNG is lossless), then hashes with
    * [[graft.operators.ImageHash]]: integer-exact aHash (two 32-bit
    * halves) + 56-bit dHash as pure Catalyst expressions, 16-bit-band
    * LSH candidates (the q21 bucket shape — band-equi join, never
    * all-pairs), Hamming ≤ 6 gate. The DuckDB oracle replays the pixel
    * GENERATOR arithmetic (not the codec) plus the identical
    * hash/band/Hamming pipeline — integer math end to end.
    */
  private def q151(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // pixel kernel + PNG roundtrip shared with the image sweep via
    // ImageGen (its scaladoc carries the mixing rationale measured here)
    // computeWeight 32 (the media-generator family: q151/q154–q159):
    // each ~120-byte parquet row fans into a synthesized image/clip
    // (64–1044 ints) plus the interpreted-HOF hash kernel — thousands
    // of expression ops per input byte, ~2 decades beyond the
    // corpus-scan norm the 64 KB/core floor models. r16 isolated A/B at
    // sf0.1 (594 KB input = 19 KB/core, the regime where default-weight
    // ensure passes through and the whole family ran its generator +
    // fingerprint stage on ONE task of 32): family sum 10.3 → 5.9 s
    // (q158 3.33 → 0.98, q159 2.71 → 0.83, q157 1.00 → 0.48; q151/q154
    // move less — their per-row codec roundtrip cost sits partly in
    // driver-side planning, and host steal puts ±20 % on sub-second
    // readings).
    val gray = Spread.ensure(
      Tables.documents(s, d).select(col("doc_id")), computeWeight = 32.0)
      .as[Long].map { id =>
        val png = graft.operators.ImageGen.pngFor(id)
        val img = graft.operators.MediaCodecs.decodeImageIOReused(png)
          .getOrElse(sys.error(s"png roundtrip decode failed for doc $id"))
        require(img.width == 8 && img.height == 8)
        (id, (0 until 64).map(j => img.rgb(j * 3) & 0xff))
      }.toDF("doc_id", "gray")
    import graft.operators.ImageHash
    // localCheckpoint: the banded self-join consumes this frame TWICE —
    // unpinned, each side re-runs the PNG roundtrip + hash pipeline
    // (measured 5.1 s -> 2.2 s at sf0.1). The frame is corpus-sized but
    // NARROW (4 longs/row) — materializing the hash index once and
    // joining it against itself is exactly the production shape.
    val hashed = gray
      .withColumn("tot", ImageHash.graySum(col("gray")))
      .select(
        col("doc_id"),
        ImageHash.aHashLo("gray", "tot").as("lo"),
        ImageHash.aHashHi("gray", "tot").as("hi"),
        ImageHash.dHash("gray").as("dh"))
      .localCheckpoint(true)
    // candidate generation shared with ImageHashSpec's recall
    // measurement: exact to Hamming 3 by pigeonhole; the ≤ 6 gate
    // below is in the measured-recall regime (≈ 0.90/0.74/0.58 at
    // distance 4/5/6 under uniform diff placement — see
    // ImageHash.bands)
    ImageHash.bandCandidatePairs(hashed)
      .select(
        col("a_id"), col("b_id"),
        ImageHash.hamming(col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi"))
          .cast("long").as("hamming"),
        bit_count(col("a_dh").bitwiseXOR(col("b_dh")))
          .cast("long").as("ham_dhash"))
      .filter(col("hamming") <= 6)
      .distinct()
  }

  /** Acoustic near-dup dedup (the audio member of the dedup family —
    * q151's modality sibling): each doc renders as a REAL 16-bit WAV
    * via [[graft.operators.AudioGen]] (groups of 4 near-duplicate
    * takes), roundtrips through the actual RIFF codec (lossless PCM,
    * the q125/q151 license — the oracle replays the sample GENERATOR,
    * not the codec), then fingerprints with
    * [[graft.operators.AudioHash]]: 64 energy-delta-sign bits
    * (Haitsma–Kalker's core, gain-invariant integer math) packed into
    * the SAME (lo, hi) shape as the image aHash — so the 16-bit-band
    * LSH candidates, Hamming gate, and the measured recall regime are
    * [[graft.operators.ImageHash]]'s machinery REUSED, not cloned.
    */
  private def q154(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.{AudioGen, AudioHash, ImageHash, MediaCodecs}
    // the per-row encode→decode→require roundtrip is a self-proof the
    // spec already pins (AudioHashSpec's WAV bit-exactness); at the
    // 520-sample fixture it is harmless, at real clip lengths the
    // double codec pass would dominate the fingerprint (r15 verdict
    // wrong #4) — so it gates on a conf, default ON here (the q125/q151
    // exercise-the-codec-in-query license), OFF in AUSCALE's long-clip
    // arms where its cost is priced explicitly
    val roundtrip = graft.GraftConf.bool(s, "spark.graft.audio.roundtrip", default = true)
    val pcm = Spread.ensure(  // computeWeight: see the q151 A/B note
      Tables.documents(s, d).select(col("doc_id")), computeWeight = 32.0)
      .as[Long].map { id =>
        val samples = AudioGen.samples(id)
        val out =
          if (roundtrip) {
            val wav = MediaCodecs.encodeWav(8000, samples)
            val back = MediaCodecs.decodeWav(wav)
              .getOrElse(sys.error(s"wav roundtrip decode failed for doc $id"))
            require(back.sampleRate == 8000 &&
              java.util.Arrays.equals(back.samples, samples))
            back.samples
          } else samples
        (id, out.map(_.toInt).toSeq)
      }.toDF("doc_id", "pcm")
    // the q151 two-consumer pin: the banded self-join reads the
    // fingerprint index twice; the frame is corpus-sized but 3 longs
    val hashed = pcm
      .withColumn("e", AudioHash.frameEnergies("pcm"))
      .select(
        col("doc_id"),
        AudioHash.fpLo("e").as("lo"),
        AudioHash.fpHi("e").as("hi"),
        lit(0L).as("dh"))
      .localCheckpoint(true)
    ImageHash.bandCandidatePairs(hashed)
      .select(
        col("a_id"), col("b_id"),
        ImageHash.hamming(col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct()
  }

  /** Incremental IMAGE near-dup dedup (r15 verdict next #6 — the
    * arrival-driven shape a training pipeline runs daily): today's
    * batch ((doc_id DIV 4) % 3 = 0 groups arrive whole, plus the v0
    * take of every other group) probes the HISTORY band table via
    * [[graft.operators.ImageHash.incrementalNearDup]] — band-equi
    * two-table joins, never all-pairs, history touched only in the
    * buckets the batch lands in. The split plants all three outcomes:
    * whole-group arrivals dedup IN-batch (v1/v2 against their v0),
    * lone v0 arrivals dedup against HISTORY (their v1/v2 are already
    * ingested), v3 (inverted) and first takes stay kept. Pixel kernel
    * straight from [[graft.operators.ImageGen]] — the codec roundtrip
    * is q151/q125's job; this query isolates the incremental banding.
    * Oracle: q151's generator→hash→band CTE chain VERBATIM (shared
    * builder, the q150/q153 discipline) + the split replay.
    */
  private def q155(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.{ImageGen, ImageHash}
    val hashed = Spread.ensure(  // computeWeight: see the q151 A/B note
      Tables.documents(s, d).select(col("doc_id")), computeWeight = 32.0)
      .as[Long].map(id => (id, ImageGen.grayPixels(id).toSeq))
      .toDF("doc_id", "gray")
      .withColumn("tot", ImageHash.graySum(col("gray")))
      .select(
        col("doc_id"),
        ImageHash.aHashLo("gray", "tot").as("lo"),
        ImageHash.aHashHi("gray", "tot").as("hi"))
    ImageHash.incrementalNearDup(
      hashed, expr("(doc_id DIV 4) % 3 = 0 OR doc_id % 4 = 0"))
  }

  /** Incremental AUDIO near-dup dedup — q155's modality sibling, and
    * the proof the incremental operator is modality-agnostic: the
    * energy-delta fingerprint packs into the same (lo, hi) shape, so
    * [[graft.operators.ImageHash.incrementalNearDup]] runs UNCHANGED
    * over [[graft.operators.AudioHash]] prints (one operator, not
    * three — the q154 reuse discipline). Same batch split, same
    * three-outcome plant; oracle shares q154's generator→fingerprint→
    * band CTE chain verbatim.
    */
  private def q156(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.{AudioGen, AudioHash, ImageHash}
    val hashed = Spread.ensure(  // computeWeight: see the q151 A/B note
      Tables.documents(s, d).select(col("doc_id")), computeWeight = 32.0)
      .as[Long].map(id => (id, AudioGen.samples(id).map(_.toInt).toSeq))
      .toDF("doc_id", "pcm")
      .withColumn("e", AudioHash.frameEnergies("pcm"))
      .select(
        col("doc_id"),
        AudioHash.fpLo("e").as("lo"),
        AudioHash.fpHi("e").as("hi"))
    ImageHash.incrementalNearDup(
      hashed, expr("(doc_id DIV 4) % 3 = 0 OR doc_id % 4 = 0"))
  }

  /** Cross-size image near-dup — the r15-verdict generality item
    * ([[graft.operators.ImageHash.gridReduce]]) made first-class at
    * the ORACLE level, not just spec'd: each doc renders at a per-doc
    * deterministic W×H ([[graft.operators.ImageGen.Shapes]], three
    * exact 8-multiples, three non-multiples) by nearest-neighbor
    * upscale of its 8×8 pattern, and `gridReduce` block-floor-means it
    * back to the 8×8 grid the hash consumes. At 8-multiple shapes the
    * reduction recovers the base pattern EXACTLY — the hash is
    * size-invariant there, so within-group near-dups land ACROSS
    * render sizes; at non-multiples it is a genuine lossy mean, and
    * whatever pairs survive are pinned by the oracle replaying the
    * same integer block arithmetic over the same upscaled pixels.
    * Tail (band LSH, Hamming ≤ 6 gate, dHash rider) shared with q151.
    */
  private def q157(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.{ImageGen, ImageHash}
    val gray = Spread.ensure(  // computeWeight: see the q151 A/B note
      Tables.documents(s, d).select(col("doc_id")), computeWeight = 32.0)
      .as[Long].map { id =>
        val (w, h) = ImageGen.shapeFor(id)
        (id, w, h, ImageGen.grayPixelsAt(id, w, h).toSeq)
      }.toDF("doc_id", "w", "h", "big")
    val hashed = gray
      .withColumn("gray", ImageHash.gridReduce("big", "w", "h"))
      .withColumn("tot", ImageHash.graySum(col("gray")))
      .select(
        col("doc_id"),
        ImageHash.aHashLo("gray", "tot").as("lo"),
        ImageHash.aHashHi("gray", "tot").as("hi"),
        ImageHash.dHash("gray").as("dh"))
      .localCheckpoint(true)
    ImageHash.bandCandidatePairs(hashed)
      .select(
        col("a_id"), col("b_id"),
        ImageHash.hamming(col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi"))
          .cast("long").as("hamming"),
        bit_count(col("a_dh").bitwiseXOR(col("b_dh")))
          .cast("long").as("ham_dhash"))
      .filter(col("hamming") <= 6)
      .distinct()
  }

  /** Sub-fingerprint audio near-dup — the union-over-windows match
    * unit (r15 verdict next #8) made first-class at the oracle level:
    * clips at per-doc variable lengths (520 + (id % 5)·131 samples —
    * deliberately NOT frame multiples, so the trailing-partial-frame
    * drop is oracle-exercised, not just spec'd) fingerprint as
    * Haitsma–Kalker sub-fingerprint sequences
    * ([[graft.operators.AudioHash.subFingerprints]], one 64-bit print
    * per 65-frame window at hop 2), and two clips match when ANY
    * window pair shares a 16-bit band with min window Hamming ≤ 6
    * ([[graft.operators.AudioHash.subFpCandidatePairs]]). The corpus
    * plants the shape the single-print q154 summary structurally
    * misses: v = 2 takes are TIME-SHIFTED by two whole frames
    * ([[graft.operators.AudioGen.samplesVar]]) — their first-window
    * print is ~uncorrelated with the base's, but their window at
    * offset 2 matches the base's at offset 0 exactly.
    *
    * Scale note: 16-bit bands keep the pigeonhole-exact ≤ 3 regime the
    * fixture's distances live in, at the price of chance band
    * collisions growing with the WINDOW-PRINT count (the suite's
    * heaviest sf1 query, ~44M candidate rows at 850k prints) —
    * AUSCALE's measured axis; corpora whose print volume, not
    * distance, is the threat switch the bander to
    * [[graft.operators.ImageHash.bandsWide]] (near-linear there,
    * 0.4–7.3% measured recall cost).
    */
  private def q158(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.{AudioGen, AudioHash}
    val clips = Spread.ensure(  // computeWeight: see the q151 A/B note
      Tables.documents(s, d).select(col("doc_id")), computeWeight = 32.0)
      .as[Long].map { id =>
        val n = 520 + (id % 5).toInt * 131
        (id, AudioGen.samplesVar(id, n).map(_.toInt).toSeq)
      }.toDF("doc_id", "pcm")
      .withColumn("e", AudioHash.frameEnergies("pcm"))
      .select(col("doc_id"),
        AudioHash.subFingerprints("e", hopFrames = 2).as("sfp"))
      .localCheckpoint(true)
    AudioHash.subFpCandidatePairs(clips)
      .filter(col("min_hamming") <= 6)
  }

  /** Incremental SUB-FINGERPRINT audio dedup — q158's match unit
    * composed with q155/q156's arrival-driven split, i.e. the shape a
    * daily AUDIO ingest actually runs: today's batch of variable-length
    * clips probes a HISTORY of window prints, and a batch clip is a
    * dup when ANY of its windows is within the gate of ANY history
    * window ([[graft.operators.ImageHash.incrementalNearDup]] with
    * `multiPrint = true` — the min-id fold already implements the
    * union-over-windows semantics; only the attribution base dedups).
    * The plant pins both sides of the union-over-windows semantics at
    * sf0.01: of the 42 TIME-SHIFTED v = 2 takes arriving in whole-group
    * batches ([[graft.operators.AudioGen.samplesVar]] — their
    * first-window print is ~uncorrelated with their group mates'), 34
    * attribute `dup_in_batch` through an offset-2 window alignment,
    * and the 8 whose length admits only the single lead-in-shifted
    * window stay `kept` — a one-window shifted clip exposes only its
    * lead-in content, which no unshifted take contains at any hop (the
    * structural boundary of shift recovery by window alignment). Both
    * outcomes are oracle-pinned, not asserted. Oracle = q158's
    * generator→window-print→band CTE chain VERBATIM + the SAME
    * incremental tail q155/q156 replay (shared builder vals at both
    * ends — neither replay can drift).
    */
  private def q159(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.{AudioGen, AudioHash, ImageHash}
    val prints = Spread.ensure(  // computeWeight: see the q151 A/B note
      Tables.documents(s, d).select(col("doc_id")), computeWeight = 32.0)
      .as[Long].map { id =>
        val n = 520 + (id % 5).toInt * 131
        (id, AudioGen.samplesVar(id, n).map(_.toInt).toSeq)
      }.toDF("doc_id", "pcm")
      .withColumn("e", AudioHash.frameEnergies("pcm"))
      .select(col("doc_id"),
        explode(AudioHash.subFingerprints("e", hopFrames = 2)).as("s"))
      .select(col("doc_id"), col("s.lo").as("lo"), col("s.hi").as("hi"))
    ImageHash.incrementalNearDup(
      prints, expr("(doc_id DIV 4) % 3 = 0 OR doc_id % 4 = 0"),
      multiPrint = true)
  }

  /** LSH-bucketed approximate cosine top-k (scale path). Oracle-checked:
    * the seeded hyperplanes are counter-based SplitMix64, so the DuckDB
    * side regenerates the identical plane matrix (no sequential
    * recursion), replays the sign-bit buckets and bucket-equi candidate
    * join, and reproduces the exact 150-row result. Recall vs brute
    * force additionally asserted in SimilaritySpec.
    */
  private def q29(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshCosineTopK(
      emb, emb.filter(col("vec_id") < 30), "vec_id", "embedding",
      k = 5, bits = 4, dim = 64, numTables = 8)
      .select(col("query_id"), col("neighbor_id"), r6(col("cosine")).as("cosine"), col("rank"))
  }

  /** Dedup application via LEFT SEMI join: keep one canonical doc per
    * (lang, source) group — the "apply the survivor set" shape every
    * dedup pipeline ends with. (Exact-content groups are all singletons
    * in this corpus, so grouping by coarser keys keeps the check
    * non-trivial: the keeper set is a proper subset.)
    */
  private def q30(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keepers = docs.groupBy("lang", "source")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs.join(keepers, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "n_chars")
  }

  /** Dedup removal via LEFT ANTI join: every non-canonical row. */
  private def q31(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keepers = docs.groupBy("lang", "source")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs.join(keepers, Seq("doc_id"), "left_anti")
      .select("doc_id", "source")
  }

  /** IVF approximate cosine top-k over the FROZEN Lloyd's codebook
    * ([[graft.model.IvfCentroids]], the q77 freeze discipline): k-means
    * trains once offline, the search pass — nearest-cell assignment,
    * nprobe probes, in-cell cosine, top-k — runs as pure expressions
    * over centroid literals, and the DuckDB oracle replays it exactly
    * (same sequential dot/norm accumulation as `NearestCells`, ranks on
    * the unrounded cosine like q29). In-query Lloyd's training remains
    * the operator default, pinned by SimilaritySpec's recall floors.
    */
  private def q32(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfCosineTopK(
      emb, emb.filter(col("vec_id") < 30), "vec_id", "embedding",
      k = 5, numCells = 16, nprobe = 4,
      frozenCentroids = Some(graft.model.IvfCentroids.cells))
      .select(col("query_id"), col("neighbor_id"), r6(col("cosine")).as("cosine"), col("rank"))
  }

  /** Embedding-cosine near-duplicate PAIRS (the dedup-flavored use of the
    * embedding space): all pairs above a cosine threshold, deterministic
    * (id_a < id_b). Brute self-join here (oracle-friendly); the LSH/IVF
    * bucketed paths bound candidates at scale.
    */
  private def q33(s: SparkSession, d: String): DataFrame = {
    val e = Spread.ensure(Tables.embeddings(s, d).select("vec_id", "embedding"))
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    e.alias("a")
      .join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", expr("cosine_sim(a.v, b.v)"))
      .filter(col("cosine") >= 0.3)
      .select(
        col("a.vec_id").as("id_a"),
        col("b.vec_id").as("id_b"),
        r6(col("cosine")).as("cosine"))
  }

  /** BPE-ish subword piece counts (tokenizer-load estimate). */
  private def q34(s: SparkSession, d: String): DataFrame =
    Spread.ensure(Tables.documents(s, d).select("doc_id", "text"))
      .select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_words"),
        TextAnalysis.subwordCount(col("text")).as("n_pieces"))

  /** Data profiling: per-group column statistics (exact distinct counts,
    * min/max/avg) — the "analyze before you train on it" sweep.
    */
  private def q35(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("n_parts"),
        r2(min(col("l_extendedprice"))).as("min_price"),
        r2(max(col("l_extendedprice"))).as("max_price"),
        r6(avg(col("l_discount"))).as("avg_discount"),
        sum(when(col("l_quantity").isNull, 1).otherwise(0)).as("null_qty"))

  /** Exact interpolated quantiles per group (p50/p95/p99) via the
    * sort-based relational formulation (builtin `percentile` buffers
    * every group value in memory — see [[Quantiles]] scaladoc).
    */
  /** Sketch quantiles (q36's 100 TB path): Greenwald–Khanna via
    * percentile_approx — one combinable pass, no global sort. The sketch
    * VALUES are algorithm-specific, so the query emits the GK rank
    * guarantee re-counted against the data (error-envelope pattern, cf.
    * q89) — hash-checked against a DuckDB oracle of exact counts +
    * literal TRUE; QuantilesSpec additionally pins the bound vs the
    * exact path.
    */
  private def q64(s: SparkSession, d: String): DataFrame =
    Quantiles.approxSketchChecked(
      Tables.lineitem(s, d), "l_returnflag", "l_extendedprice",
      Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99))

  private def q36(s: SparkSession, d: String): DataFrame =
    Quantiles.exactInterpolated(
      Tables.lineitem(s, d), "l_returnflag", "l_extendedprice",
      Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99))
      .select(
        col("l_returnflag"),
        r2(col("p50")).as("p50"),
        r2(col("p95")).as("p95"),
        r2(col("p99")).as("p99"))

  /** Corpus-overlap estimation: per-source union MinHash signatures via
    * the typed Aggregator (map-side combinable, k longs of state per
    * group), then pairwise source-vs-source Jaccard estimates, checked
    * against the exact shingle Jaccard within the sketch's error bound
    * (hash-checked oracle; MinHashAggSpec pins the algebra).
    */
  private def q37(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // computeWeight 10: q37's kernels (64-hash MinHash here, the full
    // shingle bitmask below) are the suite's highest compute-per-byte
    // scans, so their spread break-even sits ~10× below the ordinary-
    // density 64 KB/core floor — r10 interleaved A/B at sf0.1
    // (19 KB/core): 2.74 s gated pass-through vs 1.52 s spread.
    val sigs = Spread
      .ensure(Tables.documents(s, d).select("source", "text"), computeWeight = 10.0)
      .select(col("source"), Dedup.minHashSignature("text", 64, 5).as("sig"))
      .as[(String, Array[Long])]
    val grouped = sigs
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.MinHashAgg.unionSignature(64).name("usig"))
      .toDF("source", "usig")
    val est = grouped.alias("a")
      .join(grouped.alias("b"), col("a.source") < col("b.source"))
      .select(
        col("a.source").as("source_a"),
        col("b.source").as("source_b"),
        expr(
          "size(filter(zip_with(a.usig, b.usig, (x, y) -> x = y), m -> m)) / 64.0")
          .as("est_jaccard"))
    // Exact per-source-pair shingle Jaccard (error-envelope pattern):
    // the sketch estimate itself is not SQL-reproducible, but its k=64
    // error bound is checkable — the oracle recomputes the EXACT value
    // and emits literal TRUE for the bound. ±0.25 = 4σ at k=64
    // (σ = √(J(1−J)/64) ≤ 0.0625); deterministic given the seeded
    // permutations, verified with margin at both driver SFs.
    // ONE shuffle for the whole exact computation: group the exploded
    // shingles by shingle value, carrying the set of sources containing
    // each (collect_set is map-side combinable). Per-source sizes and
    // pairwise intersections then derive from the per-shingle source
    // sets with NO further corpus-sized shuffle — the earlier
    // formulation (distinct + shingle self-join) shuffled the 5-gram
    // frame twice more and was the query's entire cost at scale.
    // Bitmask tally, ONE corpus-sized shuffle total (measured 2.6 s vs
    // 4.3 s for the previous distinct + shingle self-join at sf0.1, and
    // strictly fewer corpus passes at any scale): each shingle row
    // carries its source as a bit, `bit_or` folds them into one long per
    // distinct shingle (map-side combinable, absorbs within-doc shingle
    // repeats — no array_distinct pass needed), and a second
    // micro-shuffle reduces to one row per distinct source-SET. All
    // per-source sizes and pairwise intersections then derive from that
    // ≤2^|sources| (in practice: dozens) row frame.
    val sources = Tables.documents(s, d)
      .select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted // bounded: one row per corpus source
    require(sources.length <= 64,
      s"bitmask overlap supports ≤64 sources, got ${sources.length}")
    val sid = sources.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (sv, i)) =>
        when(col("source") === sv, lit(i)).otherwise(acc)
      }
    val masks = Spread
      .ensure(Tables.documents(s, d).select("source", "text"), computeWeight = 10.0)
      .select(
        sid.as("sid"),
        explode(expr(
          "transform(sequence(1, greatest(length(text) - 4, 1))," +
            " i -> substring(text, i, 5))")).as("sh"))
      .groupBy(col("sh")).agg(bit_or(expr("shiftleft(1L, sid)")).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // tiny; feeds cnt + inter
    def nameOf(bit: Column): Column = sources.zipWithIndex
      .foldLeft(lit(null).cast("string")) { case (acc, (sv, i)) =>
        when(bit === i, lit(sv)).otherwise(acc)
      }
    val bitsOf = expr(
      s"filter(sequence(0, ${sources.length - 1})," +
        " i -> (mask & shiftleft(CAST(1 AS BIGINT), i)) != 0)")
    val cnt = masks
      .select(explode(bitsOf).as("i"), col("c"))
      .groupBy("i").agg(sum(col("c")).as("n"))
      .select(nameOf(col("i")).as("source"), col("n"))
    val inter = masks
      .select(explode(bitsOf).as("ia"), col("mask"), col("c"))
      .select(col("ia"), explode(bitsOf).as("ib"), col("c"))
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(sum(col("c")).as("ni"))
      .select(
        nameOf(col("ia")).as("source_a"),
        nameOf(col("ib")).as("source_b"),
        col("ni"))
    est
      .join(broadcast(cnt.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(cnt.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(
        col("source_a"),
        col("source_b"),
        r6(coalesce(col("ni"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("ni"), lit(0L))).cast("double"))
          .as("exact_jaccard"),
        (abs(col("est_jaccard") -
          coalesce(col("ni"), lit(0L)).cast("double") /
            (col("na") + col("nb") - coalesce(col("ni"), lit(0L))).cast("double"))
          <= 0.25).as("within_bound"))
  }

  /** SimHash near-dup pairs with the Manku banding recall guarantee.
    * Oracle-checked: the banding is EXACT for hamming ≤ 3 < 4 bands
    * (pigeonhole — any such pair agrees on a full band) and no fixture
    * bucket approaches the 10k cap, so the DuckDB side can skip the
    * banding altogether and brute-force the Hamming join over the
    * q22-replayed fingerprints — same pairs, same distances, by
    * construction rather than by luck. DedupSpec still exhaustively
    * cross-checks the banding kernel itself.
    */
  private def q41(s: SparkSession, d: String): DataFrame =
    Dedup.simHashNearDuplicates(
      Tables.documents(s, d), "doc_id", "text", maxHamming = 3, bands = 4)

  /** TF-IDF: top-scoring term per document. Scores are rounded BEFORE
    * ranking on both sides — `ln` is not IEEE-exact across engines, so
    * ranking raw scores could flip on cross-engine ulp differences.
    *
    * ONE tokenize pass: document frequency comes from a count window
    * over the (doc, token) tf frame — the same count-window-not-
    * join-back shape as the q58 sim-join — because a `dfreq` built by
    * re-aggregating `tf` makes `tf` a two-consumer subtree and Spark
    * re-runs the whole explode+aggregate per consumer (checkpointing
    * is no fix here: tf is corpus-sized, unlike q101's per-doc frame).
    * The argmax is `min_by` — a map-side-combinable aggregate carrying
    * one candidate per doc — not a per-doc row_number window, which
    * would full-sort the corpus-sized frame a second time. Identical
    * output: (score desc, token asc) = lexicographic min of
    * (-score, token).
    */
  private def q42(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.count()
    val tokens = Spread.ensure(docs.select("doc_id", "text"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("token")
    tokens
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("score",
        r6(col("tf") * log((lit(n) + 1.0) / (col("df") + 1.0))))
      .groupBy(col("doc_id"))
      .agg(min_by(
        struct(col("token"), col("score")),
        struct((-col("score")).as("ns"), col("token"))).as("top"))
      .select(col("doc_id"), col("top.token").as("top_term"),
        col("top.score").as("score"))
  }

  /** Sub-document overlap via content-defined chunking (rolling hash):
    * Jaccard over chunk-digest sets — detects partial duplication that
    * whole-document fingerprints miss. Candidates come from the chunk
    * digests THEMSELVES (pairs sharing ≥ 1 digest — exact for the
    * `overlap > 0` predicate, and far cheaper than the MinHash banding
    * this replaced: no signature pass, no probabilistic recall gap).
    * Deterministic given the chunking kernel ⇒ oracle-checked: the
    * DuckDB side replays the chunker per document with list lambdas —
    * boundary candidates via the windowed character sum (base 257 ≡ 1
    * mod 64, so the rolling hash's low 6 bits reduce to the window's
    * char-code sum), the greedy min-length acceptance via list_reduce,
    * and chunk digests via the same modular FNV-1a as the q22 oracle.
    * RollingChunksSpec still pins the kernel itself (incl. non-ASCII
    * and shift-robustness cases the fixture can't cover).
    */
  private def q43(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = docs.select(col("doc_id"), expr("rolling_chunks(text, 64)").as("ch"))
    val pairs = Dedup.sharedChunkPairs(t, "doc_id", "ch")
      .repartition(s.sparkContext.defaultParallelism)
    pairs
      .join(t.select(col("doc_id").as("id_a"), col("ch").as("ch_a")), Seq("id_a"))
      .join(t.select(col("doc_id").as("id_b"), col("ch").as("ch_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        r6(size(array_intersect(col("ch_a"), col("ch_b"))).cast("double") /
          greatest(size(array_union(col("ch_a"), col("ch_b"))), lit(1)))
          .as("chunk_overlap"))
      .filter(col("chunk_overlap") > 0)
  }

  val defs: Map[String, Q] = Map(
    "q16_explode_tokens" -> q16,
    "q17_text_stats" -> q17,
    "q18_lang_id" -> q18,
    "q19_fingerprint" -> q19,
    "q20_dedup_exact" -> q20,
    "q21_minhash_pairs" -> q21,
    "q22_simhash" -> q22,
    "q23_ngram_jaccard" -> q23,
    "q24_cosine_topk" -> q24,
    "q25_event_hourly" -> q25,
    "q26_sessionize" -> q26,
    "q27_multimodal_meta" -> q27,
    "q28_multimodal_features" -> q28,
    "q125_png_roundtrip" -> q125,
    "q151_image_neardup" -> q151,
    "q154_audio_neardup" -> q154,
    "q155_incremental_image_dedup" -> q155,
    "q156_incremental_audio_dedup" -> q156,
    "q157_crosssize_image_neardup" -> q157,
    "q158_subfp_audio_neardup" -> q158,
    "q159_incremental_subfp_audio" -> q159,
    "q130_mp3_meta" -> q130,
    "q29_cosine_topk_lsh" -> q29,
    "q30_dedup_apply_semi" -> q30,
    "q31_dedup_drop_anti" -> q31,
    "q32_cosine_topk_ivf" -> q32,
    "q33_embedding_neardup" -> q33,
    "q34_subword_count" -> q34,
    "q35_profile" -> q35,
    "q36_quantiles" -> q36,
    "q37_corpus_overlap" -> q37,
    "q41_simhash_pairs" -> q41,
    "q42_tfidf_top_term" -> q42,
    "q43_chunk_overlap" -> q43,
    "q64_quantiles_sketch" -> q64
  )

  private val langCase = {
    // word lists derive from the single source of truth in LangId.markers
    val m = graft.functions.LangId.markers.toMap
    def score(markers: Seq[String]) =
      s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
        s"w -> w IN (${markers.map(w => s"'$w'").mkString(",")})))"
    val en = score(m("en"))
    val es = score(m("es"))
    val fr = score(m("fr"))
    val de = score(m("de"))
    s"""SELECT doc_id,
       |CASE WHEN greatest($en, $es, $fr, $de) = 0 THEN 'unknown'
       |     WHEN $fr >= $en AND $fr >= $es AND $fr >= $de THEN 'fr'
       |     WHEN $es >= $en AND $es >= $de THEN 'es'
       |     WHEN $en >= $de THEN 'en'
       |     ELSE 'de' END AS lang_pred
       |FROM documents""".stripMargin
  }

  /** q32's oracle replays the frozen-codebook IVF search bit-for-bit:
    * centroid literals interpolated from [[graft.model.IvfCentroids]]
    * (fixture and oracle can never drift), per-cell score =
    * `dot(v, c) − ‖c‖²/2` with the SAME sequential accumulation order as
    * `NearestCells` (both engines fold element-by-element, so scores are
    * bit-identical and the argmax/probe ranking needs no rounding),
    * candidates = corpus rows sharing a probed cell, ranked on the
    * unrounded cosine exactly as q29's proven replay.
    */
  private def q32OracleSql: String = ivfOracleSql(maxQueryId = 30)

  /** Shared by q32 (30 queries, logical candidate join) and q126 (3
    * queries, the same candidate set served from the cell-partitioned
    * LAYOUT) — one replay, two physical plans, which is the point:
    * layout must be result-invariant.
    */
  private[queries] def ivfOracleSql(maxQueryId: Int): String = {
    val cent = graft.model.IvfCentroids.cells.zipWithIndex
      .map { case (c, i) => s"($i, [${c.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n      ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent AS (SELECT * FROM (VALUES
       |      $cent) t(cpos, cv)),
       |sc AS (
       |  SELECT e.vec_id, cent.cpos,
       |    list_sum(list_transform(range(1, 65), j -> e.v[j] * cent.cv[j]))
       |      - list_sum(list_transform(cent.cv, x -> x * x)) / 2 AS s
       |  FROM e CROSS JOIN cent),
       |assign AS (
       |  SELECT vec_id, cpos AS cell FROM (
       |    SELECT vec_id, cpos,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cpos ASC) AS rn
       |    FROM sc) t WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cpos AS cell FROM (
       |    SELECT vec_id, cpos,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cpos ASC) AS rn
       |    FROM sc WHERE vec_id < $maxQueryId) t WHERE rn <= 4),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    list_cosine_similarity(qe.v, ne.v) AS cos
       |  FROM cand
       |  JOIN e qe ON qe.vec_id = cand.query_id
       |  JOIN e ne ON ne.vec_id = cand.neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS rank FROM scored)
       |SELECT query_id, neighbor_id,
       |  floor(cos * 1000000 + 0.50001) / 1000000 AS cosine, rank
       |FROM r WHERE rank <= 5""".stripMargin
  }

  /** q21 oracle: replays the LSH ALGORITHM itself — FNV-1a shingle
    * hashes, the SplitMix64 per-permutation mixes under the SAME salt
    * constants interpolated from [[graft.functions.MinHashSig.saltsFor]]
    * (the codebook-fixture rule: one source of truth, no drift), signed
    * 64-bit min-signatures, 16 bands x 4 rows, the 2..maxBucket bucket
    * gate, and the exact-Jaccard >= tau verify.
    *
    * Round-11 history: the r10 oracle asserted the STRONGER contract
    * "banding finds every exact pair" (all-pairs brute force). That held
    * at sf0.01/sf0.1 — every true pair there is high-J — but the first
    * completed sf1 replay (a 2,400 s one-off of the two-phase bitmap
    * spelling) showed 613 banding-verified vs 621 exact pairs: 8
    * borderline pairs escape 16x4 banding, exactly as the S-curve
    * predicts (P(caught at J=0.4) = 1-(1-0.4^4)^16 = 0.34). LSH equals
    * exact only probabilistically; asserting equality was a small-SF
    * artifact. The oracle now checks what q21 COMPUTES (candidates
    * modulo banding + verify — deterministic, replayable at every SF);
    * the exact all-pairs contracts live where they belong: q33/q58/q82.
    *
    * Cost shape: the tiny shingle universe (~2k distinct at sf1) means
    * the expensive SplitMix64 modular arithmetic runs only |universe| x
    * 64 times (~130k rows); the corpus-sized pass is ONE grouped
    * aggregate with 64 plain min() columns over the doc-shingle join.
    * The verify stage keeps the r10 packed-bitmap intersection (17
    * HUGEINT words, popcount-AND) because sf1 banding admits ~12M
    * candidate pairs and per-pair list_intersect over ~205-shingle
    * lists alone blows the 600 s budget; on bitmaps the whole replay
    * runs in 37 s at sf1 (measured, bit-exact, 613 rows) vs >600 s for
    * either the list_intersect verify or the r10 all-pairs (1.25B-pair)
    * brute force.
    *
    * Replay caveat (documented, not observed): Spark buckets by a
    * 32-bit Murmur3 of each band slice; the oracle buckets by the exact
    * 4-tuple. They differ only if two UNEQUAL tuples collide under
    * Murmur3 (2^-32 per pair) AND that accidental candidate passes the
    * exact J >= 0.4 verify — a vanishing compound event.
    */
  private def q21LshReplayOracleSql: String = {
    val numHashes = 64
    val bands = 16
    val rows = numHashes / bands
    // UBIGINT literals of the Spark-side salts (SplitMix64 stream, seed
    // 42) — interpolated, not re-derived, so they cannot drift
    val salts = graft.functions.MinHashSig.saltsFor(numHashes)
      .zipWithIndex
      .map { case (v, i) =>
        s"($i, CAST(${java.lang.Long.toUnsignedString(v)} AS UBIGINT))"
      }
      .mkString(",\n      ")
    // SplitMix64 finalizer constants split into 32-bit halves (a 64x64
    // product overflows HUGEINT; same spelling as the proven q29 replay)
    def mul64(y: String, hi: Long, lo: Long): String =
      s"CAST((CAST($y >> 32 AS HUGEINT) * $lo % 4294967296 * 4294967296 + " +
        s"CAST($y % 4294967296 AS HUGEINT) * $hi % 4294967296 * 4294967296 + " +
        s"CAST($y % 4294967296 AS HUGEINT) * $lo) % 18446744073709551616 AS UBIGINT)"
    val m1 = mul64("y", 3210233709L, 484763065L)   // 0xbf58476d / 0x1ce4e5b9
    val m2 = mul64("y", 2496678331L, 321982955L)   // 0x94d049bb / 0x133111eb
    val minCols = (0 until numHashes)
      .map(p => s"min(CASE WHEN p = $p THEN hv END) AS h$p").mkString(",\n    ")
    val sigCols = (0 until numHashes).map(p => s"min(h$p) AS m$p").mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until rows).map(r => s"m${b * rows + r}").mkString(", '|', ")
      s"SELECT doc_id, $b AS band_idx, concat($key) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    // Exact-verify stage: packed-bitmap intersection (the r10 spelling,
    // kept because it is the only budget-feasible verify at sf1 — the
    // banding there admits ~12M candidate pairs and a per-pair
    // list_intersect over ~205-shingle lists blows the 600 s budget,
    // while popcount-AND over 17 HUGEINT words runs in seconds).
    val words = 17 // ceil(2059 / 127); loud capacity guard in-query below
    def niSum(a: String, b: String): String =
      (0 until words)
        .map(k => s"CAST(bit_count($a.w$k & $b.w$k) AS INTEGER)")
        .mkString(" + ")
    val wCols = (0 until words).map { k =>
      s"coalesce(bit_or(CASE WHEN sid // 127 = $k THEN " +
        s"(CAST(1 AS HUGEINT) << CAST(sid % 127 AS INT)) END), " +
        s"CAST(0 AS HUGEINT)) AS w$k"
    }.mkString(",\n    ")
    s"""WITH sh AS MATERIALIZED (SELECT doc_id,
       |  list_distinct(list_transform(range(1, greatest(length(text) - 3, 2)),
       |    i -> substring(text, CAST(i AS INT), 5))) AS s
       |  FROM documents),
       |ds AS MATERIALIZED (SELECT doc_id, unnest(s) AS sg FROM sh),
       |-- FNV-1a 64 of each DISTINCT shingle (q22's modular kernel; the
       |-- IF guard keeps an empty shingle at the FNV basis, as Spark does)
       |fnv AS (
       |  SELECT sg,
       |    list_reduce(
       |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
       |        [CAST(ascii(c) AS UBIGINT) FOR c IN string_split(sg, '') IF c <> '']),
       |      (h, c) -> CAST((CAST(xor(h, c) AS HUGEINT) * 1099511628211)
       |                     % 18446744073709551616 AS UBIGINT)) AS h
       |  FROM (SELECT DISTINCT sg FROM ds)),
       |salts AS (SELECT * FROM (VALUES
       |      $salts) t(p, s)),
       |-- SplitMix64 finalizer of (h XOR salt), |universe| x 64 rows only
       |x0 AS (SELECT sg, p, xor(h, s) AS x FROM fnv CROSS JOIN salts),
       |x1 AS (SELECT sg, p, xor(x, x >> 30) AS y FROM x0),
       |x2 AS (SELECT sg, p, $m1 AS x FROM x1),
       |x3 AS (SELECT sg, p, xor(x, x >> 27) AS y FROM x2),
       |x4 AS (SELECT sg, p, $m2 AS x FROM x3),
       |xm AS (SELECT sg, p,
       |    CAST(CASE WHEN xor(x, x >> 31) >= 9223372036854775808
       |         THEN CAST(xor(x, x >> 31) AS HUGEINT) - 18446744073709551616
       |         ELSE CAST(xor(x, x >> 31) AS HUGEINT) END AS BIGINT) AS hv
       |  FROM x4),
       |-- pivot to 64 SIGNED columns (Spark compares longs signed)
       |dict64 AS MATERIALIZED (
       |  SELECT sg,
       |    $minCols
       |  FROM xm GROUP BY sg),
       |-- THE corpus-sized pass: one grouped agg, 64 plain min()s
       |sig AS MATERIALIZED (
       |  SELECT doc_id, $sigCols
       |  FROM ds JOIN dict64 USING (sg) GROUP BY doc_id),
       |bnd AS MATERIALIZED (
       |  $bandSelects),
       |bct AS (SELECT band_idx, bkey, count(*) AS c FROM bnd GROUP BY 1, 2),
       |gated AS (SELECT bnd.doc_id, bnd.band_idx, bnd.bkey
       |          FROM bnd JOIN bct USING (band_idx, bkey)
       |          WHERE c BETWEEN 2 AND 1000),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM gated a JOIN gated b
       |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey
       |   AND b.doc_id > a.doc_id),
       |-- exact |a INTERSECT b| via packed bitmaps: shingle ids assigned by
       |-- global frequency DESC, 127 ids per HUGEINT word (bit 127 unused --
       |-- 1<<127 overflows the signed shift); integer-exact, so the Jaccard
       |-- is identical to list_intersect's
       |dict AS (SELECT sg,
       |    row_number() OVER (ORDER BY count(*) DESC, sg) - 1 AS sid0
       |  FROM ds GROUP BY sg),
       |wm AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n,
       |    $wCols
       |  FROM (SELECT doc_id,
       |      -- loud capacity guard: a corpus with more distinct shingles
       |      -- than the ${words}-word bitmap holds must error, not truncate
       |      CASE WHEN sid0 < ${words * 127} THEN sid0
       |           ELSE CAST(error('q21 oracle bitmap overflow: more than ${words * 127} distinct shingles') AS BIGINT)
       |      END AS sid
       |    FROM ds JOIN dict USING (sg)) ei
       |  GROUP BY doc_id),
       |ver AS (
       |  SELECT ida, idb,
       |    (${niSum("a", "b")}) AS ni, a.n AS na, b.n AS nb
       |  FROM cand JOIN wm a ON a.doc_id = cand.ida
       |            JOIN wm b ON b.doc_id = cand.idb)
       |SELECT ida AS id_a, idb AS id_b,
       |  floor(CAST(ni AS DOUBLE) / (na + nb - ni) * 1000000 + 0.50001)
       |    / 1000000 AS jaccard
       |FROM ver WHERE CAST(ni AS DOUBLE) / (na + nb - ni) >= 0.4""".stripMargin
  }

  /** q151's generator→aHash/dHash→band-table CTE chain, ending in a
    * `bands (doc_id, lo, hi, dh, bidx, bval)` CTE — shared VERBATIM by
    * the pairwise (q151) and incremental (q155) oracles so the two
    * replays cannot drift (the q150/q153 shared-chain discipline). The
    * oracle replays the pixel GENERATOR arithmetic (PNG is lossless,
    * so the codec roundtrip is the identity on pixels — the q125
    * license) and the identical integer hash/band pipeline: per-bit
    * rows summed against powers of two instead of the Catalyst fold, a
    * deliberately different spelling.
    */
  private val imagePxCte: String =
    """px AS MATERIALIZED (
      |  SELECT doc_id, j,
      |    CASE WHEN doc_id % 4 = 3 THEN 255 - base
      |         WHEN j % 16 = doc_id % 4
      |           THEN xor(base, (doc_id % 4) + 1)
      |         ELSE base END AS p
      |  FROM (
      |    SELECT h.doc_id, h.j,
      |      ((((xor(h0, h0 // 8192)) * 104729) % 4294967296)
      |        // 65536) % 256 AS base
      |    FROM (
      |      SELECT d.doc_id, t.j,
      |        (((((d.doc_id // 4) + 1) * 2654435761) % 4294967296)
      |          * (t.j + 17) + t.j * 1013904223) % 4294967296 AS h0
      |      FROM documents d, unnest(range(0, 64)) AS t(j)) h) b)""".stripMargin

  /** The 8×8-pixel → aHash/dHash → band-table section of the image
    * chain, parameterized on the pixel CTE it reads (`src` must expose
    * `(doc_id, j, p)` for j = 0..63) — shared by the fixture chain
    * ([[imageBandCtes]], src = the generator `px`) and q157's
    * cross-size chain (src = the `grid` reduced from arbitrary W×H),
    * so the hash replay exists ONCE.
    */
  private def imageHashChainCtes(src: String): String =
    s"""tot AS (SELECT doc_id, sum(p) AS tot FROM $src GROUP BY doc_id),
      |abits AS (
      |  SELECT $src.doc_id, j,
      |    CASE WHEN p * 64 > tot THEN 1 ELSE 0 END AS b
      |  FROM $src JOIN tot USING (doc_id)),
      |ah AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN j < 32
      |      THEN b * (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)
      |      AS BIGINT) AS lo,
      |    CAST(sum(CASE WHEN j >= 32
      |      THEN b * (CAST(1 AS BIGINT) << CAST(j - 32 AS INT)) ELSE 0 END)
      |      AS BIGINT) AS hi
      |  FROM abits GROUP BY doc_id),
      |dbits AS (
      |  SELECT a.doc_id, (a.j // 8) * 7 + (a.j % 8) AS k,
      |    CASE WHEN a.p < nx.p THEN 1 ELSE 0 END AS b
      |  FROM $src a JOIN $src nx ON nx.doc_id = a.doc_id AND nx.j = a.j + 1
      |  WHERE a.j % 8 < 7),
      |dhh AS (
      |  SELECT doc_id,
      |    CAST(sum(b * (CAST(1 AS BIGINT) << CAST(k AS INT))) AS BIGINT) AS dh
      |  FROM dbits GROUP BY doc_id),
      |h AS MATERIALIZED (
      |  SELECT ah.doc_id, lo, hi, dh FROM ah JOIN dhh USING (doc_id)),
      |bands AS (
      |  SELECT doc_id, lo, hi, dh, i AS bidx,
      |    CASE i WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
      |           WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS bval
      |  FROM h, unnest(range(0, 4)) AS t(i))""".stripMargin

  private val imageBandCtes: String =
    imagePxCte + ",\n" + imageHashChainCtes("px")

  /** q154's generator→energy-fingerprint→band-table CTE chain, ending
    * in a `bands (doc_id, lo, hi, bidx, bval)` CTE — shared verbatim by
    * q154 and the incremental q156 (see [[imageBandCtes]]). Replays the
    * sample GENERATOR arithmetic (16-bit PCM in a WAV container is
    * lossless, so the codec roundtrip is the identity on samples) and
    * the identical integer energy/fingerprint/band pipeline.
    */
  private val audioBandCtes: String =
    """smp AS MATERIALIZED (
      |  SELECT doc_id, i,
      |    CASE WHEN doc_id % 4 > 0 AND (i // 8) % 32 = doc_id % 4
      |         THEN base + CASE WHEN base >= 0 THEN 1500 ELSE -1500 END
      |         ELSE base END AS v
      |  FROM (
      |    SELECT h.doc_id, h.i,
      |      ((((xor(h0, h0 // 4096)) * 104729) % 4294967296)
      |        // 32768) % 32768 - 16384 AS base
      |    FROM (
      |      SELECT d.doc_id, t.i,
      |        (((((d.doc_id // 4) + 1) * 2654435761) % 4294967296)
      |          * (t.i + 29) + t.i * 69069) % 4294967296 AS h0
      |      FROM documents d, unnest(range(0, 520)) AS t(i)) h) b),
      |en AS (
      |  SELECT doc_id, i // 8 AS f, sum(abs(v)) AS e
      |  FROM smp GROUP BY doc_id, i // 8),
      |bits AS (
      |  SELECT a.doc_id, a.f AS j, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS b
      |  FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
      |  WHERE a.f < 64),
      |fp AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN j < 32
      |      THEN b * (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)
      |      AS BIGINT) AS lo,
      |    CAST(sum(CASE WHEN j >= 32
      |      THEN b * (CAST(1 AS BIGINT) << CAST(j - 32 AS INT)) ELSE 0 END)
      |      AS BIGINT) AS hi
      |  FROM bits GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, lo, hi, i AS bidx,
      |    CASE i WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
      |           WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS bval
      |  FROM fp, unnest(range(0, 4)) AS t(i))""".stripMargin

  /** q158's generator→window-print→band-table CTE chain, ending in a
    * `bands (doc_id, lo, hi, bidx, bval)` CTE over SUB-FINGERPRINT
    * window prints (multiple rows per doc) — shared VERBATIM by the
    * pairwise q158 and the incremental q159, exactly as
    * [[imageBandCtes]]/[[audioBandCtes]] are shared by their
    * pairwise/incremental siblings. Replays samplesVar (floorMod as
    * the double-mod, the v = 2 two-frame time shift via pos = i − 16),
    * drops the trailing partial frame as frameEnergies does, and
    * derives per-window prints from the ONE consecutive-frame
    * delta-bit table (window wi bit j = delta bit at frame wi·2 + j —
    * the same factoring subFingerprints' packing loop performs).
    */
  private val audioSubFpBandCtes: String =
    """len AS (
      |  SELECT doc_id, 520 + (doc_id % 5) * 131 AS n FROM documents),
      |smp AS MATERIALIZED (
      |  SELECT doc_id, i,
      |    CASE WHEN (doc_id % 4 = 1 OR doc_id % 4 = 3)
      |          AND (i // 8) % 32 = doc_id % 4
      |         THEN base + CASE WHEN base >= 0 THEN 1500 ELSE -1500 END
      |         ELSE base END AS v
      |  FROM (
      |    SELECT h.doc_id, h.i,
      |      ((((xor(h0, h0 // 4096)) * 104729) % 4294967296)
      |        // 32768) % 32768 - 16384 AS base
      |    FROM (
      |      SELECT l.doc_id, t.i,
      |        (((((((l.doc_id // 4) + 1) * 2654435761) % 4294967296)
      |            * ((t.i - CASE WHEN l.doc_id % 4 = 2 THEN 16 ELSE 0 END) + 29)
      |           + (t.i - CASE WHEN l.doc_id % 4 = 2 THEN 16 ELSE 0 END) * 69069)
      |          % 4294967296) + 4294967296) % 4294967296 AS h0
      |      FROM len l, unnest(range(0, l.n)) AS t(i)) h) b),
      |en AS (
      |  SELECT s.doc_id, s.i // 8 AS f, sum(abs(s.v)) AS e
      |  FROM smp s JOIN len l ON l.doc_id = s.doc_id
      |  WHERE s.i < (l.n // 8) * 8
      |  GROUP BY s.doc_id, s.i // 8),
      |db AS MATERIALIZED (
      |  SELECT a.doc_id, a.f, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS b
      |  FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1),
      |nw AS (
      |  SELECT doc_id, (count(*) - 65) // 2 AS maxwi
      |  FROM en GROUP BY doc_id),
      |wfp AS MATERIALIZED (
      |  SELECT d.doc_id, t.wi,
      |    CAST(sum(CASE WHEN d.f - t.wi * 2 < 32
      |      THEN d.b * (CAST(1 AS BIGINT) << CAST(d.f - t.wi * 2 AS INT))
      |      ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(sum(CASE WHEN d.f - t.wi * 2 >= 32
      |      THEN d.b * (CAST(1 AS BIGINT) << CAST(d.f - t.wi * 2 - 32 AS INT))
      |      ELSE 0 END) AS BIGINT) AS hi
      |  FROM db d JOIN nw ON nw.doc_id = d.doc_id,
      |       unnest(range(0, nw.maxwi + 1)) AS t(wi)
      |  WHERE d.f >= t.wi * 2 AND d.f <= t.wi * 2 + 63
      |  GROUP BY d.doc_id, t.wi),
      |bands AS (
      |  SELECT doc_id, lo, hi, i AS bidx,
      |    CASE i WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
      |           WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS bval
      |  FROM wfp, unnest(range(0, 4)) AS t(i))""".stripMargin

  /** The incremental batch-vs-history split replayed over a `bands`
    * CTE (either chain above): history candidates and earlier-in-batch
    * candidates via the same band-equi joins + Hamming ≤ 6 gate the
    * Spark side runs, min-id attribution, the same status precedence.
    * Batch condition mirrors the queries' `(doc_id DIV 4) % 3 = 0 OR
    * doc_id % 4 = 0` exactly.
    */
  private val incrementalOracleTail: String =
    """ch AS (
      |  SELECT b.doc_id AS p_id, min(i.doc_id) AS hist_dup
      |  FROM bands b JOIN bands i ON b.bidx = i.bidx AND b.bval = i.bval
      |  WHERE ((b.doc_id // 4) % 3 = 0 OR b.doc_id % 4 = 0)
      |    AND NOT ((i.doc_id // 4) % 3 = 0 OR i.doc_id % 4 = 0)
      |    AND bit_count(xor(b.lo, i.lo)) + bit_count(xor(b.hi, i.hi)) <= 6
      |  GROUP BY b.doc_id),
      |cb AS (
      |  SELECT b.doc_id AS p_id, min(e.doc_id) AS batch_dup
      |  FROM bands b JOIN bands e ON b.bidx = e.bidx AND b.bval = e.bval
      |  WHERE ((b.doc_id // 4) % 3 = 0 OR b.doc_id % 4 = 0)
      |    AND ((e.doc_id // 4) % 3 = 0 OR e.doc_id % 4 = 0)
      |    AND e.doc_id < b.doc_id
      |    AND bit_count(xor(b.lo, e.lo)) + bit_count(xor(b.hi, e.hi)) <= 6
      |  GROUP BY b.doc_id)
      |SELECT p.doc_id,
      |  CASE WHEN ch.hist_dup IS NOT NULL THEN 'dup_of_history'
      |       WHEN cb.batch_dup IS NOT NULL THEN 'dup_in_batch'
      |       ELSE 'kept' END AS status,
      |  coalesce(ch.hist_dup, cb.batch_dup) AS dup_of
      |FROM (SELECT DISTINCT doc_id FROM bands
      |      WHERE (doc_id // 4) % 3 = 0 OR doc_id % 4 = 0) p
      |LEFT JOIN ch ON ch.p_id = p.doc_id
      |LEFT JOIN cb ON cb.p_id = p.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q21_minhash_pairs" -> q21LshReplayOracleSql,
    "q28_multimodal_features" ->
      """WITH s AS (SELECT event_type, event_id,
        |    (CAST(floor(value * 100) AS BIGINT) % 2000) - 1000 AS v
        |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |x AS (SELECT event_type, v,
        |    lag(v) OVER (PARTITION BY event_type ORDER BY event_id) AS pv
        |  FROM s)
        |SELECT event_type, 8000 AS sample_rate, count(*) AS n_samples,
        |  count(*) * 1000 // 8000 AS duration_ms,
        |  CAST(sum(v) AS BIGINT) AS sum_s, CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  max(abs(v)) AS peak,
        |  CAST(coalesce(sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS zero_crossings
        |FROM x GROUP BY event_type""".stripMargin,
    // q125: PNG is lossless, so the decoded channel sums equal the
    // generator arithmetic replayed over the source rows — integer
    // math end to end, no float tolerance needed.
    "q125_png_roundtrip" ->
      """SELECT source,
        |  CAST(count(*) AS INT) AS width,
        |  1 AS height,
        |  CAST(sum(doc_id % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((doc_id * 7) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((doc_id * 13) % 256) AS BIGINT) AS sum_b
        |FROM documents GROUP BY source""".stripMargin,
    // q151: the oracle replays the pixel GENERATOR arithmetic (PNG is
    // lossless, so the codec roundtrip is the identity on pixels — the
    // q125 license) and the identical integer hash/band/Hamming
    // pipeline: per-bit rows summed against powers of two instead of
    // the Catalyst fold, a deliberately different spelling.
    // q154: the oracle replays the sample GENERATOR arithmetic (16-bit
    // PCM in a WAV container is lossless, so the codec roundtrip is
    // the identity on samples — the q125/q151 license) and the
    // identical integer energy/fingerprint/band/Hamming pipeline:
    // per-bit rows summed against powers of two, deliberately a
    // different spelling from the Catalyst fold.
    "q154_audio_neardup" ->
      (s"WITH $audioBandCtes,\n" +
        """cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
        |  FROM bands a JOIN bands b
        |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming
        |FROM cand WHERE hamming <= 6""".stripMargin),
    // q155/q156: the incremental (batch-vs-history) split replayed on
    // the SAME band-table chains as q151/q154 — shared builder vals, so
    // the hash replays cannot drift from the pairwise queries'
    "q155_incremental_image_dedup" ->
      (s"WITH $imageBandCtes,\n$incrementalOracleTail"),
    "q156_incremental_audio_dedup" ->
      (s"WITH $audioBandCtes,\n$incrementalOracleTail"),
    "q151_image_neardup" ->
      (s"WITH $imageBandCtes,\n" +
        """cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming,
        |    bit_count(xor(a.dh, b.dh)) AS ham_dhash
        |  FROM bands a JOIN bands b
        |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming,
        |  CAST(ham_dhash AS BIGINT) AS ham_dhash
        |FROM cand WHERE hamming <= 6""".stripMargin),
    // q157: the oracle replays the nearest-neighbor upscale (big pixel
    // (x, y) = base(⌊8y/h⌋·8 + ⌊8x/w⌋)) over the SAME generator px CTE,
    // then gridReduce's block-floor-mean — each upscaled pixel maps to
    // grid cell ((8y+7)//h, (8x+7)//w), the exact inverse of the
    // [⌊r·H/8⌋, ⌊(r+1)·H/8⌋) block partition, so sum(p)//count(*) per
    // cell IS the floor-mean over the block — and feeds the reduced
    // grid through the IDENTICAL hash/band chain (shared builder).
    "q157_crosssize_image_neardup" ->
      (s"WITH $imagePxCte,\n" +
        """sz AS (SELECT doc_id,
        |    CASE doc_id % 6 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 24
        |                    WHEN 3 THEN 11 WHEN 4 THEN 16 ELSE 13 END AS w,
        |    CASE doc_id % 6 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 8
        |                    WHEN 3 THEN 9 WHEN 4 THEN 10 ELSE 13 END AS h
        |  FROM documents),
        |gpx AS (
        |  SELECT s.doc_id,
        |    ((8 * (t.i // s.w) + 7) // s.h) * 8
        |      + ((8 * (t.i % s.w) + 7) // s.w) AS k,
        |    px.p AS p
        |  FROM sz s, unnest(range(0, s.w * s.h)) AS t(i), px
        |  WHERE px.doc_id = s.doc_id
        |    AND px.j = ((t.i // s.w) * 8 // s.h) * 8
        |      + ((t.i % s.w) * 8 // s.w)),
        |grid AS MATERIALIZED (
        |  SELECT doc_id, k AS j, CAST(sum(p) // count(*) AS BIGINT) AS p
        |  FROM gpx GROUP BY doc_id, k),
        |""".stripMargin +
        imageHashChainCtes("grid") + ",\n" +
        """cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming,
        |    bit_count(xor(a.dh, b.dh)) AS ham_dhash
        |  FROM bands a JOIN bands b
        |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming,
        |  CAST(ham_dhash AS BIGINT) AS ham_dhash
        |FROM cand WHERE hamming <= 6""".stripMargin),
    // q158: the oracle replays samplesVar (floorMod spelled as the
    // double-mod, the v = 2 two-frame time shift via pos = i − 16),
    // drops the trailing partial frame exactly as frameEnergies does
    // (i < (n // 8) * 8), derives per-window prints from the ONE
    // consecutive-frame delta-bit table (window wi bit j = delta bit
    // at frame wi·2 + j — the same factoring subFingerprints' packing
    // loop performs), and takes min window-pair Hamming over banded
    // candidates — a deliberately different spelling of the same
    // integer pipeline.
    "q158_subfp_audio_neardup" ->
      (s"WITH $audioSubFpBandCtes,\n" +
        """cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    min(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))
        |      AS min_hamming
        |  FROM bands a JOIN bands b
        |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, CAST(min_hamming AS BIGINT) AS min_hamming
        |FROM cand WHERE min_hamming <= 6""".stripMargin),
    // q159: q158's window-print band chain + the SAME incremental tail
    // q155/q156 replay — shared builder vals at BOTH ends, so neither
    // the hash replay nor the split replay can drift from its sibling
    "q159_incremental_subfp_audio" ->
      (s"WITH $audioSubFpBandCtes,\n$incrementalOracleTail"),
    // q130: frame count, integer duration (1152 samples/frame at
    // 44100 Hz, floor division exactly as the parser's Long math), and
    // floor-average bitrate recomputed from the same per-event bitrate
    // index rule via the same MPEG-1 Layer III table
    "q130_mp3_meta" ->
      """WITH f AS (
        |  SELECT event_type,
        |    list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |      CAST(event_id % 14 + 1 AS INT)) AS kbps
        |  FROM events WHERE event_id IS NOT NULL)
        |SELECT event_type,
        |  44100 AS sample_rate,
        |  count(*) AS n_frames,
        |  CAST(count(*) * 1152 * 1000 // 44100 AS BIGINT) AS duration_ms,
        |  CAST(sum(kbps) // count(*) AS BIGINT) AS avg_kbps,
        |  count(DISTINCT kbps) > 1 AS vbr
        |FROM f GROUP BY event_type""".stripMargin,
    "q37_corpus_overlap" ->
      """WITH sh AS (
        |  SELECT DISTINCT source, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(text) - 3, 2)),
        |    i -> substring(text, CAST(i AS INT), 5)))) AS sh
        |  FROM documents),
        |cnt AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |pr AS (SELECT a.source AS sa, b.source AS sb, a.n AS na, b.n AS nb
        |       FROM cnt a JOIN cnt b ON a.source < b.source),
        |iv AS (SELECT x.source AS sa, y.source AS sb, count(*) AS ni
        |       FROM sh x JOIN sh y ON x.sh = y.sh AND x.source < y.source
        |       GROUP BY 1, 2)
        |SELECT pr.sa AS source_a, pr.sb AS source_b,
        |  floor(CAST(coalesce(iv.ni, 0) AS DOUBLE)
        |    / (pr.na + pr.nb - coalesce(iv.ni, 0)) * 1000000 + 0.50001) / 1000000
        |    AS exact_jaccard,
        |  TRUE AS within_bound
        |FROM pr LEFT JOIN iv ON pr.sa = iv.sa AND pr.sb = iv.sb""".stripMargin,
    "q64_quantiles_sketch" ->
      """SELECT l_returnflag, count(*) AS n_vals,
        |  TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
        |FROM lineitem WHERE l_extendedprice IS NOT NULL
        |GROUP BY l_returnflag""".stripMargin,
    "q16_explode_tokens" ->
      """SELECT doc_id, token FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
        |WHERE length(token) > 0""".stripMargin,
    "q17_text_stats" ->
      """SELECT doc_id,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |length(text) AS n_chars_measured,
        |length(text) - length(regexp_replace(text, '\s', '', 'g')) AS n_spaces,
        |length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS n_punct,
        |floor((CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
        |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |  / len(string_split_regex(trim(text), '\s+')) END) * 100 + 0.50001) / 100
        |  AS mean_word_len
        |FROM documents""".stripMargin,
    "q18_lang_id" -> langCase,
    "q19_fingerprint" ->
      "SELECT doc_id, md5(text) AS digest, length(text) AS n_chars_measured FROM documents",
    "q20_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q23_ngram_jaccard" ->
      """WITH sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(length(text) - 1, 2)),
        |    i -> substring(text, CAST(i AS INT), 3))) AS s
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |floor((CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  len(list_distinct(list_concat(a.s, b.s)))) * 1000000 + 0.50001) / 1000000
        |  AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "q24_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 30),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |        list_cosine_similarity(c.v, q.v) AS cos
        |      FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id ASC) AS rn FROM s)
        |SELECT query_id, neighbor_id,
        |floor(cos * 1000000 + 0.50001) / 1000000 AS cosine, rn AS rank
        |FROM r WHERE rn <= 5""".stripMargin,
    "q25_event_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |count(*) AS n_events,
        |floor(sum(value) * 100 + 0.50001) / 100 AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q26_sessionize" ->
      """WITH t AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events)
        |SELECT user_id,
        |CAST(sum(CASE WHEN prev IS NULL
        |         OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev)) AS BIGINT) >= 1800
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |count(*) AS n_events
        |FROM t GROUP BY user_id""".stripMargin,
    "q42_tfidf_top_term" ->
      """WITH tokens AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
        |  WHERE length(token) > 0),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tokens GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    floor((tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0))) * 1000000 + 0.50001)
        |      / 1000000 AS score
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
        |SELECT doc_id, token AS top_term, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token ASC) AS rn FROM scored) r
        |WHERE rn = 1""".stripMargin,
    "q35_profile" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |count(DISTINCT l_partkey) AS n_parts,
        |floor((min(l_extendedprice)) * 100 + 0.50001) / 100 AS min_price,
        |floor((max(l_extendedprice)) * 100 + 0.50001) / 100 AS max_price,
        |floor((avg(l_discount)) * 1000000 + 0.50001) / 1000000 AS avg_discount,
        |CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q36_quantiles" ->
      """SELECT l_returnflag,
        |floor((quantile_cont(l_extendedprice, 0.5)) * 100 + 0.50001) / 100 AS p50,
        |floor((quantile_cont(l_extendedprice, 0.95)) * 100 + 0.50001) / 100 AS p95,
        |floor((quantile_cont(l_extendedprice, 0.99)) * 100 + 0.50001) / 100 AS p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q33_embedding_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  CAST(b.embedding AS DOUBLE[])) * 1000000 + 0.50001) / 1000000 AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  CAST(b.embedding AS DOUBLE[])) >= 0.3""".stripMargin,
    "q34_subword_count" ->
      """SELECT doc_id,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
        |length(regexp_replace(regexp_replace(text,
        |  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+', chr(1), 'g'), '\s', '', 'g')) AS n_pieces
        |FROM documents""".stripMargin,
    "q30_dedup_apply_semi" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY lang, source)""".stripMargin,
    "q31_dedup_drop_anti" ->
      """SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT min(doc_id) FROM documents GROUP BY lang, source)""".stripMargin,
    "q27_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, 'image' AS kind,
        |CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
        |CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
        |CAST(octet_length(encode(text)) AS BIGINT) * 10 AS duration_ms
        |FROM documents""".stripMargin,
    // independent SimHash replay: whitespace tokens, per-token FNV-1a
    // (64-bit wraparound emulated with UBIGINT state and a HUGEINT
    // multiply mod 2^64), +1/-1 votes per bit, sign → bit, then the
    // unsigned→two's-complement fold to match Spark's LongType
    "q22_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, t.tok AS tok
        |  FROM documents, unnest(string_split_regex(text,
        |    '[\t\n\x0B\f\r\x1C-\x1F\x20\x{1680}\x{2000}-\x{2006}\x{2008}-\x{200A}\x{2028}\x{2029}\x{205F}\x{3000}]+'
        |  )) AS t(tok)
        |  WHERE length(t.tok) > 0),
        |hh AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |        [CAST(ascii(c) AS UBIGINT) FOR c IN string_split(tok, '')]),
        |      (h, c) -> CAST((CAST(xor(h, c) AS HUGEINT) * 1099511628211)
        |                     % 18446744073709551616 AS UBIGINT)) AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, r.b AS b,
        |    sum(CASE WHEN (h >> CAST(r.b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hh, range(64) r(b)
        |  GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << CAST(b AS INTEGER)
        |             ELSE 0 END) AS u
        |  FROM bits GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN coalesce(f.u, 0) >= 9223372036854775808
        |            THEN coalesce(f.u, 0) - 18446744073709551616
        |            ELSE coalesce(f.u, 0) END AS BIGINT) AS simhash
        |FROM documents d LEFT JOIN fp f ON d.doc_id = f.doc_id""".stripMargin,
    // q29: the hyperplanes are COUNTER-BASED SplitMix64 (state i derives
    // from seed + (i+1)*golden alone), so the whole plane matrix replays
    // in SQL without sequential recursion: 64x64-bit multiplies split
    // into 32-bit halves mod 2^64 (HUGEINT would overflow), signed
    // reinterpretation + division mirror Long.toDouble/LongMax exactly,
    // and the sign-bit buckets, bucket-equi candidate join and cosine
    // top-k replay bit-for-bit (150/150 rows at sf0.01).
    "q32_cosine_topk_ivf" -> q32OracleSql,
    "q29_cosine_topk_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pidx AS (SELECT t.t, i.i FROM range(8) t(t), range(256) i(i)),
        |s1 AS (SELECT t, i, CAST(((7 + t) + (CAST(i AS HUGEINT) + 1) * 11400714819323198485)
        |         % 18446744073709551616 AS UBIGINT) AS x FROM pidx),
        |s1x AS (SELECT t, i, xor(x, x >> 30) AS y FROM s1),
        |s2 AS (SELECT t, i, CAST((CAST(y >> 32 AS HUGEINT) * 484763065 % 4294967296 * 4294967296 + CAST(y % 4294967296 AS HUGEINT) * 3210233709 % 4294967296 * 4294967296 + CAST(y % 4294967296 AS HUGEINT) * 484763065) % 18446744073709551616 AS UBIGINT) AS z FROM s1x),
        |s2x AS (SELECT t, i, xor(z, z >> 27) AS y FROM s2),
        |s3 AS (SELECT t, i, CAST((CAST(y >> 32 AS HUGEINT) * 321982955 % 4294967296 * 4294967296 + CAST(y % 4294967296 AS HUGEINT) * 2496678331 % 4294967296 * 4294967296 + CAST(y % 4294967296 AS HUGEINT) * 321982955) % 18446744073709551616 AS UBIGINT) AS z FROM s2x),
        |comp AS (SELECT t, i, CAST(CASE WHEN xor(z, z >> 31) >= 9223372036854775808
        |    THEN CAST(xor(z, z >> 31) AS HUGEINT) - 18446744073709551616
        |    ELSE CAST(xor(z, z >> 31) AS HUGEINT) END AS DOUBLE)
        |    / 9223372036854775807.0 AS c FROM s3),
        |planes AS (SELECT t, i // 64 AS b, list(c ORDER BY i) AS pl
        |           FROM comp GROUP BY t, i // 64),
        |dots AS (SELECT e.vec_id, p.t, p.b,
        |    list_sum(list_transform(range(1, 65), j -> e.v[j] * p.pl[j])) AS dot
        |  FROM e CROSS JOIN planes p),
        |buckets AS (SELECT vec_id, t,
        |    sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
        |        ELSE 0 END) AS bucket
        |  FROM dots GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
        |  WHERE q.vec_id < 30 AND c.vec_id <> q.vec_id),
        |scored AS (SELECT cand.query_id, cand.neighbor_id,
        |    list_cosine_similarity(a.v, b.v) AS cos
        |  FROM cand JOIN e a ON a.vec_id = cand.query_id
        |  JOIN e b ON b.vec_id = cand.neighbor_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id ASC) AS rank FROM scored)
        |SELECT query_id, neighbor_id,
        |  floor(cos * 1000000 + 0.50001) / 1000000 AS cosine, rank
        |FROM r WHERE rank <= 5""".stripMargin,
    // q41: the q22 fingerprint replay + a brute-force Hamming join. No
    // banding needed on the oracle side: hamming <= 3 with 4 bands is
    // EXACT by pigeonhole (the pair must agree on one 16-bit band), and
    // no fixture bucket approaches the 10k overflow cap, so band
    // candidate generation and brute force select identical pair sets.
    "q41_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, t.tok AS tok
        |  FROM documents, unnest(string_split_regex(text,
        |    '[\t\n\x0B\f\r\x1C-\x1F\x20\x{1680}\x{2000}-\x{2006}\x{2008}-\x{200A}\x{2028}\x{2029}\x{205F}\x{3000}]+'
        |  )) AS t(tok)
        |  WHERE length(t.tok) > 0),
        |hh AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |        [CAST(ascii(c) AS UBIGINT) FOR c IN string_split(tok, '')]),
        |      (h, c) -> CAST((CAST(xor(h, c) AS HUGEINT) * 1099511628211)
        |                     % 18446744073709551616 AS UBIGINT)) AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, r.b AS b,
        |    sum(CASE WHEN (h >> CAST(r.b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hh, range(64) r(b)
        |  GROUP BY 1, 2),
        |fpu AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << CAST(b AS INTEGER)
        |             ELSE 0 END) AS u
        |  FROM bits GROUP BY 1),
        |fp AS (
        |  SELECT d.doc_id,
        |    CAST(CASE WHEN coalesce(f.u, 0) >= 9223372036854775808
        |              THEN coalesce(f.u, 0) - 18446744073709551616
        |              ELSE coalesce(f.u, 0) END AS BIGINT) AS simhash
        |  FROM documents d LEFT JOIN fpu f ON d.doc_id = f.doc_id)
        |SELECT * FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id) t
        |WHERE hamming <= 3""".stripMargin,
    // independent content-defined-chunking replay. Boundary candidates:
    // the rolling hash uses base 257 and cut condition `hash % 64 == 0`;
    // 257 ≡ 1 (mod 64), so hash mod 64 equals the 16-char window's
    // character-code sum mod 64 — a provable reduction, used here so
    // the oracle needs no per-position modular polynomial. The greedy
    // min-chunk-length (window = 16 ⇒ next cut ≥ last + 17) acceptance
    // is a list_reduce; the final position always closes the last
    // chunk; digests are the same modular FNV-1a as q22's oracle; the
    // pair overlap is Jaccard over distinct digest sets.
    // RELATIONAL respell of the r10 list-lambda chain, for two reasons
    // found the first time this oracle ran at sf0.1+ (it was only ever
    // replayed at sf0.01 before):
    //  1. NONDETERMINISM: the list_filter/list_reduce chain over the
    //     per-doc char-code array flickered run to run in DuckDB 1.0
    //     (740 vs 741 rows on identical input at sf0.1) and silently
    //     produced wrong per-doc boundary lists (doc 4 at sf0.01:
    //     [249] where the kernel cuts [22,80,141,198,249]) — a vector-
    //     slicing bug in the engine's nested-list lambda path. Every
    //     stage is now plain relational algebra: chars exploded to
    //     rows, the 16-char window as a window-function sum (257 ≡ 1
    //     mod 64, so the rolling hash's low bits reduce to the window
    //     char-code sum — same provable reduction as before), the
    //     greedy min-17 acceptance as a recursive frontier walk
    //     (accept the minimum candidate ≥ last + 17 per doc per
    //     round), and chunk digests as md5 over the chunk SUBSTRING —
    //     digests never leave the oracle, so any content-injective
    //     hash replays RollingChunks' FNV equality. Deterministic over
    //     20 back-to-back runs and row-identical to the Spark kernel
    //     at sf0.01 AND sf0.1.
    //     (One engine quirk worked around: UNION-distinct over a
    //     recursive CTE's output does not dedup in DuckDB 1.0 — the
    //     final-boundary merge is an explicit DISTINCT over UNION ALL,
    //     else a doc whose last accepted cut IS n-1 grows a phantom
    //     empty chunk whose shared md5('') fabricates pairs.)
    //  2. SCALE: the all-pairs list_intersect tail (1.25B pairs,
    //     >600 s at sf1) is an inverted index on the digest — chunk
    //     digests are content-defined, so postings are sparse
    //     (sum df² = 300k at sf1, max df 82) and the pair count IS the
    //     intersection size; pairs sharing no chunk (overlap = 0) are
    //     filtered out by the original predicate either way.
    "q43_chunk_overlap" ->
      """WITH RECURSIVE chars AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS j,
        |    ascii(substring(text, CAST(i AS INT), 1)) AS c
        |  FROM documents, unnest(range(1, length(text) + 1)) t(i)),
        |cand AS MATERIALIZED (
        |  SELECT doc_id, j - 1 AS p FROM (
        |    SELECT doc_id, j,
        |      sum(c) OVER (PARTITION BY doc_id ORDER BY j
        |        ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS s16
        |    FROM chars) w
        |  WHERE j >= 17 AND s16 % 64 = 0),
        |acc AS (
        |  SELECT doc_id, min(p) AS p FROM cand GROUP BY doc_id
        |  UNION ALL
        |  SELECT c.doc_id, min(c.p) FROM acc a
        |  JOIN cand c ON c.doc_id = a.doc_id AND c.p >= a.p + 17
        |  GROUP BY c.doc_id),
        |ends AS (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT doc_id, p FROM acc
        |    UNION ALL
        |    SELECT doc_id, length(text) - 1 AS p FROM documents
        |    WHERE length(text) >= 1) u),
        |bnd AS (
        |  SELECT doc_id, p,
        |    coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), -1) AS prev
        |  FROM ends),
        |ex AS (
        |  SELECT DISTINCT b.doc_id,
        |    md5(substring(t.text, CAST(b.prev + 2 AS INT),
        |                  CAST(b.p - b.prev AS INT))) AS dg
        |  FROM bnd b JOIN documents t USING (doc_id)),
        |ln AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
        |iv AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
        |       FROM ex a JOIN ex b ON a.dg = b.dg AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT id_a, id_b,
        |    floor(CAST(ni AS DOUBLE)
        |      / greatest(la.n + lb.n - ni, 1)
        |      * 1000000 + 0.50001) / 1000000 AS chunk_overlap
        |  FROM iv JOIN ln la ON la.doc_id = iv.id_a
        |          JOIN ln lb ON lb.doc_id = iv.id_b) t
        |WHERE chunk_overlap > 0""".stripMargin
  )
}
