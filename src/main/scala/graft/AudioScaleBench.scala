package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence bench for the audio near-dup family (r15 verdict next
  * #2 — q154 existed only on 520-sample fixture clips; the image family
  * got IMSCALE, audio had nothing). Generates REALISTIC-length clips
  * ([[graft.operators.AudioGen.samplesVar]] — default 131072 samples ≈
  * 16 s at 8 kHz, groups of 4 with planted re-levels and a frame-aligned
  * time shift) at several N, stored BOTH ways (the IMSCALE layout axis):
  *
  *  - `packed`: one parquet table with the WAV bytes as an opaque
  *    `binary` column — the multimodal-column layout this engine
  *    recommends at 100 TB;
  *  - `binfile`: N individual .wav files under 256 subdirectories via
  *    Spark's binaryFile source — the layout corpora arrive in.
  *
  * Timed arms per point:
  *  - sub-fingerprint extraction over each layout (real WAV decode →
  *    frame energies → Haitsma–Kalker sub-prints at hop 64), plus at
  *    the smallest point the ENCODE→DECODE→require roundtrip variant —
  *    this prices q154's in-query self-proof at real clip lengths (r15
  *    verdict wrong #4; the conf `spark.graft.audio.roundtrip` gates it
  *    in-query);
  *  - banded near-dup over sub-prints under BOTH bandings: 4×16-bit
  *    ([[graft.operators.ImageHash.bands]] — the q151/q154 regime) and
  *    2×32-bit ([[ImageHash.bandsWide]]). The point of the pair: a
  *    sub-print table holds clips × windows prints, so 16-bit buckets
  *    collide QUADRATICALLY with N (chance candidates ∝ (NW/2^16)²/2
  *    per bucket) while 32-bit buckets stay near-empty — the measured
  *    candidate counts per point are the record of where each banding
  *    regime stops scaling. Both arms record seconds AND candidate/
  *    result-pair counts — no silent caps.
  *  - planted recall at the smallest point: re-level pairs found vs
  *    planted (the hop-aligned catch), shift pairs reported separately
  *    (missed at hop 64 BY DESIGN — hop-1 catches them, spec'd in
  *    AudioHashSpec; the hop axis is the storage-vs-shift-tolerance
  *    dial).
  *
  * Prints ONE JSON line (AUSCALE.json).
  */
object AudioScaleBench {
  def main(args: Array[String]): Unit = {
    val sizes = sys.env.getOrElse("SPARK_GRAFT_AU_NS", "1000,4000,10000")
      .split(",").map(_.trim.toInt).toSeq
    val clipLen = sys.env.getOrElse("SPARK_GRAFT_AU_LEN", "131072").toInt
    val hop = 64
    val cpus = GraftSession.envCpus()
    // fat-blob reader posture: the vectorized parquet reader sizes
    // batches in ROWS (default 4096), and 4096 × ~262 KB WAV blobs is
    // ~1 GB PER TASK — 32 concurrent scan tasks OOM any sane heap
    // (measured here at the 10k point). Row-bound the batch so a batch
    // holds ~16 MB of blobs; the same posture any 100 TB multimodal
    // scan needs when a binary column's rows are 100s of KB.
    val spark = BenchHarness.session(
      extraConfs = Map("spark.sql.parquet.columnarReaderBatchSize" -> "64"))
    import spark.implicits._
    import graft.operators.{AudioGen, AudioHash, ImageHash, MediaCodecs}

    def genPacked(n: Int): String = {
      val path = s"/tmp/graft_auscale_$n/blobs.parquet"
      val marker = new java.io.File(
        s"/tmp/graft_auscale_$n/_DONE_${n}_${clipLen}_${AudioGen.kernelHash}")
      if (marker.exists()) return path
      spark.range(n.toLong).repartition(cpus)
        .select(col("id").as("doc_id")).as[Long]
        .map(id => (id, MediaCodecs.encodeWav(8000, AudioGen.samplesVar(id, clipLen))))
        .toDF("doc_id", "content")
        .write.mode("overwrite").parquet(path)
      marker.createNewFile()
      path
    }

    def genFiles(n: Int): String = {
      val dir = s"/tmp/graft_auscale_$n/wav"
      val marker = new java.io.File(
        s"$dir/_DONE_${n}_${clipLen}_${AudioGen.kernelHash}")
      if (marker.exists()) return dir
      val d = new java.io.File(dir)
      org.apache.commons.io.FileUtils.deleteQuietly(d)
      (0 until 256).foreach(i => new java.io.File(dir, f"sub_$i%03d").mkdirs())
      val len = clipLen
      spark.range(n.toLong).repartition(cpus).as[Long]
        .foreachPartition { (it: Iterator[Long]) =>
          it.foreach { id =>
            val sub = f"sub_${id % 256}%03d"
            val f = new java.io.File(s"$dir/$sub/clip_$id.wav")
            val out = new java.io.FileOutputStream(f)
            try out.write(graft.operators.MediaCodecs.encodeWav(
              8000, graft.operators.AudioGen.samplesVar(id, len)))
            finally out.close()
          }
        }
      marker.createNewFile()
      dir
    }

    /** decode + sub-fingerprint over a (doc_id, content) frame; one
      * (doc_id, sfp) row per clip. `roundtrip` adds the q154-style
      * encode→decode→require self-proof — the arm that prices it.
      */
    def subFps(blobs: DataFrame, roundtrip: Boolean): DataFrame = {
      val pcm = blobs.as[(Long, Array[Byte])].map { case (id, wav) =>
        val a = MediaCodecs.decodeWav(wav)
          .getOrElse(sys.error(s"wav decode failed for clip $id"))
        val samples =
          if (roundtrip) {
            val again = MediaCodecs.decodeWav(
              MediaCodecs.encodeWav(a.sampleRate, a.samples))
              .getOrElse(sys.error(s"wav re-decode failed for clip $id"))
            require(java.util.Arrays.equals(again.samples, a.samples))
            again.samples
          } else a.samples
        (id, samples.map(_.toInt).toSeq)
      }.toDF("doc_id", "pcm")
      pcm
        .withColumn("e", AudioHash.frameEnergies("pcm"))
        .select(col("doc_id"), AudioHash.subFingerprints("e", hop).as("sfp"))
    }

    def drain(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // the IMSCALE r16 timing discipline: one untimed warm run, then 3
    // timed runs recorded as min/med/max — the first AUSCALE record's
    // single-sample arms swung 3.5× between identical runs (GC churn
    // over the per-task array garbage: each clip materializes a 131k-int
    // pcm + 2k window structs), which min/med/max makes visible instead
    // of baking into one number
    def times(f: => Unit): Seq[Double] = {
      f
      BenchHarness.quiesce(spark)
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
        BenchHarness.quiesce(spark)
        s
      }
    }

    // JIT warmup on a small corpus
    {
      val w = genPacked(200)
      drain(subFps(spark.read.parquet(w), roundtrip = false))
      val h = subFps(spark.read.parquet(w), roundtrip = false).localCheckpoint(true)
      drain(AudioHash.subFpCandidatePairs(h).filter(col("min_hamming") <= 6))
    }

    // generate every corpus before timing anything (IMSCALE: async
    // writeback from generation otherwise lands inside timed windows)
    val gens = sizes.map { n =>
      System.err.println(s"[auscale] generating packed @ $n")
      val packed = genPacked(n)
      System.err.println(s"[auscale] generating files @ $n")
      val files = genFiles(n)
      (n, packed, files)
    }
    new ProcessBuilder("sync").start().waitFor()

    val points = gens.map { case (n, packed, files) =>
      val arms = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      def rec(name: String)(f: => Unit): Unit = {
        val ts = times(f).sorted
        System.err.println(f"[auscale] $name @ $n = " +
          ts.map(t => f"$t%.2f").mkString("/") + " s")
        arms += name ->
          (f"""{"min":${ts.head}%.2f,"med":${ts(1)}%.2f,""" +
            f""""max":${ts.last}%.2f}""")
      }
      rec("subfp_packed") {
        drain(subFps(spark.read.parquet(packed), roundtrip = false))
      }
      if (n == sizes.head) {
        // the roundtrip price at real clip lengths (verdict wrong #4):
        // read the delta between this arm's MIN and subfp_packed's MIN
        // (mins bound the machine's best case; medians carry GC noise)
        rec("subfp_packed_roundtrip") {
          drain(subFps(spark.read.parquet(packed), roundtrip = true))
        }
      }
      rec("subfp_binfile") {
        // (binaryFile probes the glob for a streaming-sink metadata dir
        // and logs a benign FileNotFound WARN per query — glob noise)
        val blobs = graft.sources.RobustSources
          .binaryBlobs(spark, s"$files/sub_*", "*.wav")
          .select(
            regexp_extract(col("path"), "clip_(\\d+)\\.wav", 1)
              .cast("long").as("doc_id"),
            col("content"))
        drain(subFps(blobs, roundtrip = false))
      }
      // banded near-dup under both bandings; counts recorded, not
      // just seconds — the candidate column IS the scale story. The
      // checkpoint pin (the q151 two-consumer discipline) is INSIDE
      // each timed closure: quiesce between runs drops checkpoint
      // blocks, so a pin hoisted outside would vanish mid-arm
      def pinned() = subFps(spark.read.parquet(packed), roundtrip = false)
        .localCheckpoint(true)
      var pairs16 = 0L
      rec("neardup16") {
        pairs16 = AudioHash.subFpCandidatePairs(pinned())
          .filter(col("min_hamming") <= 6).count()
      }
      arms += "neardup16_pairs" -> pairs16.toString
      var pairs32 = 0L
      rec("neardup32") {
        pairs32 = AudioHash.subFpCandidatePairs(pinned(), ImageHash.bandsWide)
          .filter(col("min_hamming") <= 6).count()
      }
      arms += "neardup32_pairs" -> pairs32.toString
      if (n == sizes.head) {
        // planted recall at hop 64: re-level pairs (windows aligned —
        // should be found) vs shift pairs (misaligned — missed BY
        // DESIGN at this hop; hop 1 catches them, see AudioHashSpec)
        val found = AudioHash.subFpCandidatePairs(pinned())
          .filter(col("min_hamming") <= 6)
          .filter(expr("a_id DIV 4 = b_id DIV 4"))
          .select(col("a_id"), col("b_id"))
          .as[(Long, Long)].collect().toSet
        def pct(hit: Int, total: Int) = f"${hit * 100.0 / total}%.1f"
        val relevels = (0 until n / 4).flatMap(g =>
          Seq((g * 4L, g * 4L + 1), (g * 4L, g * 4L + 3), (g * 4L + 1, g * 4L + 3)))
        val shifts = (0 until n / 4).map(g => (g * 4L, g * 4L + 2))
        arms += "recall_relevel_pct" ->
          pct(relevels.count(found), relevels.size)
        arms += "recall_shift_pct" -> pct(shifts.count(found), shifts.size)
      }
      (n, arms.toSeq)
    }
    val json = points.map { case (n, ts) =>
      val qs = ts.map { case (q, s) => s""""$q":$s""" }.mkString(",")
      s"""{"n_clips":$n,$qs}"""
    }.mkString("[", ",\n ", "]")
    println(s"""{"metric":"audio_scale","clip_len":$clipLen,"hop":$hop,"points":$json}""")
    spark.stop()
  }
}
