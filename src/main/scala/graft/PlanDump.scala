package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: formatted physical plans of headline queries — the
  * "is this the plan you'd want at 100 TB" evidence.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val picks = Seq(
      "q01_agg_rollup" -> "partial+final hash agg, 5-of-11-column pruned scan",
      "q02_filter_project" -> "both filters pushed to the parquet scan",
      "q03_join_dim" -> "broadcast dimension join",
      "q13_alloc_greedy" -> "custom allocation: ONE shuffle + local sort + streaming state pass",
      "q21_minhash_pairs" -> "native minhash_sig scan -> banding -> self-join pair expansion -> native ngram_jaccard verify",
      "q24_cosine_topk" -> "broadcast query side, native cosine_sim, per-query top-k window",
      "q25_event_hourly" -> "hour-window rollup (same transform streams)",
      "q32_cosine_topk_ivf" -> "IVF: fused native nearest_cells assignment, broadcast probes, cell-equi join",
      "q36_quantiles" -> "exact quantiles: sort window + position gate inlined into the count join, partial+final agg",
      "q44_train_split" -> "deterministic md5 split: shuffle-free codegen'd row map",
      "q45_asof_join" -> "as-of join: union + ONE shuffle + carry-forward window",
      "q58_simjoin_exact" -> "PPJoin: native word_ngrams shingles, prefix explode, bucket join, verify",
      "q65_cube_grouping" -> "CUBE: single Expand + partial+final hash agg, no per-set re-scan",
      "q71_unpivot" -> "UNPIVOT: one Expand generator over the pruned scan, then hash agg",
      "q75_gapfill" -> "gap-fill: per-key sequence generator + left join + ONE window pass",
      "q76_pagerank" -> "pagerank round: edges join ranks -> partial+final contribution agg",
      "q83_rolling_range" -> "RANGE-interval rolling window: ONE shuffle shared by groupBy and window",
      "q84_normalize_text" -> "native normalize_text inline in a codegen'd projection over the pruned scan",
      "q85_concurrency" -> "sweep-line: union of endpoint encodings, one window pass, partial+final max agg",
      "q89_countmin_roundtrip" -> "CMS build (combinable agg) + broadcast join + native cms_estimate probe",
      "q96_bucketed_join" -> "bucketed+sorted tables: SMJ with ZERO exchanges and ZERO sorts",
      "q97_partition_prune" -> "day-partitioned layout: 3-of-30-day PartitionFilters, 27 days never opened",
      "q98_bloom_prune_join" -> "runtime bloom filter: might_contain probe on the fact scan before the shuffle",
      "q100_range_layout" -> "range-sorted layout: footer min/max stats skip non-matching row groups",
      "q101_bm25_topk" -> "BM25: ONE tokenize+conditional-agg pass (per-doc dl + per-term tf together), checkpointed doc-sized frame feeds stats/stack/score",
      "q104_hybrid_rrf" -> "RRF fusion: per-query ranks via repartition+sortWithinPartitions, global top-k via TakeOrderedAndProject — no single-partition exchange",
      "q108_bpe_pairs" -> "BPE pair counts: tokenize once, explode adjacent pairs, partial+final agg; ranking via TakeOrderedAndProject",
      "q110_triangle_count" -> "triangles: degree-ordered adjacency arrays attached by SHUFFLE join on dst (no edge-scale broadcast), codegen'd merge-walk credits",
      "q117_skyline" -> "skyline: per-date maxima then running max over DISTINCT dates; survivors re-attach by (date, price)",
      "q123_pq_adc" -> "PQ flat search: native pq_codes encode (no shuffle), ADC scan vs broadcast query LUTs, shortlist, exact re-rank via broadcast candidate fetch",
      "q124_ivfpq" -> "IVF-PQ: the ADC scan is an EQUI-join corpus.cell = probe.cell (~nprobe/cells of the corpus touched) — no cross product anywhere",
      "q77_quality_model" -> "frozen-weight LR scoring: ONE codegen'd map pass, 256-weight array as a plan literal, no fit, no shuffle before the output",
      "q119_url_canonical" -> "URL canonicalization: parse_url hoisted to ONE invocation per component (3 total, was 5), then codegen'd canon + ONE agg shuffle keyed by host",
      "q120_source_kl" -> "mixture drift: one map-combinable shuffle, marginals via windows on the sources-by-buckets frame",
      "q127_ivf_append" -> "incrementally-appended IVF layout: probe cells still resolve as PartitionFilters over the merged directories — append is plan-invisible",
      "q128_incremental_index" -> "incremental inverted index: two slice states merged by ONE vocabulary-keyed agg; postings concat+sort inside the aggregate",
      "q129_triangle_approx" -> "sampled triangle estimate: md5 keep-gate inline in the edge scan, the SAME oriented merge-walk kernel on both branches, one-row attach",
      "q130_mp3_meta" -> "MP3 header walk: collect_list-bounded group payloads, per-group byte walk in a deterministic map, one agg shuffle",
      "q132_hybrid_rrf_topk" -> "truncated RRF: each arm a TakeOrderedAndProject (bounded heaps, no range exchange), full-outer fusion of two 200-row frames",
      "q133_dup_substr_spans" -> "exact substring dedup: unhex(md5) window digests, ONE digest shuffle carries the dup count (the window spelling, which won the r12 A/B), per-doc gaps-and-islands merge",
      "q134_dup_substr_cut" -> "span-cut apply: the same ONE digest shuffle carries count + keeper rank, co-partitioned stitch join back to the corpus",
      "q135_dsir_select" -> "DSIR: two corpus passes (bucket histogram broadcast back, per-doc integer log-ratio sum), Gumbel TakeOrdered top-k",
      "q136_pack_offsets" -> "concat-and-split packing: the range exchange runs ONCE inside the materialized sort (consumers read frozen blocks — no reuse dependence), no single-partition window",
      "q141_exact_decontam" -> "exact decontamination yardstick: corpus streams map-side vs broadcast eval set, native cosine_sim gate, one agg — zero shuffle before the attribution",
      "q142_bpe_encode" -> "frozen-BPE encode: distinct words segmented once (vocabulary-sized, rule-count-independent sequential encoder), shuffle-hash dictionary join back, one per-doc streaming fold",
      "q143_pack_bpe" -> "packing over real tokenizer counts: q142's encode feeding the q136 materialized-sort offset scan",
      "q144_pack_gather" -> "materialized training sequences: docs sliced ONCE into covered-sequence fragments (no whole-doc duplication), posexplode, one seq_id shuffle + streaming per-sequence assembly",
      "q138_kn_lm_score" -> "Kneser-Ney LM: one exploded bigram pass (checkpointed) feeds type table; model stats = 3 aggs over the TYPE table + 1-row broadcast; integer score sums",
      "q139_embed_decontam" -> "semantic decontamination: eval probes 4 cells, corpus touched via rank-1 indexed cell only — candidate volume nprobe*|eval|*N/K, never |eval|*N",
      "q140_ccnet_lm_filter" -> "CCNet filter: target-slice KN model (LEFT-join OOV ladder), global rank via the q136 range-exchange prefix count — no single-partition window, integer 30/40/30 cuts",
      "q147_bpe_decode" -> "decode round trip: id→token literal map, pure per-row projections over the encode — zero additional shuffles, no join",
      "q148_shard_assign" -> "training shards: two-pass distributed rank over the md5 order + ONE-ROW broadcast scalar attach, shard id a pure function of the rank",
      "q149_mix_temperature" -> "temperature mixture: #groups-bounded count collect, broadcast rates join, explode(sequence) copy fan-out — scan-shaped, no corpus shuffle",
      "q150_curation_pipeline" -> "fused curation lineage: cut's ONE digest shuffle -> codegen'd gate signals -> IVF-cell equi-join decontam -> dictionary-join encode -> fragment shuffle gather -> two-pass rank + 1-row attach; stage boundaries are narrow, no stage re-reads the source",
      "q152_shard_tokens" -> "token-balanced shards: greedy per-lang packs (hash shuffle + in-partition fold), token prefix sums via the tokenOffsets range exchange, 1-row total attach — shard id a pure function of the offset",
      "q153_curation_tokens" -> "fused lineage, token-balanced cut: q150's chain with the rank swapped for the tokenOffsets range exchange + 1-row total attach",
      "q151_image_neardup" -> "image near-dup: real PNG roundtrip per row (map-side, hash index pinned ONCE), codegen'd aHash/dHash HOFs, 16-bit-band EQUI join candidates (the q21 bucket shape — never all-pairs), bit_count Hamming gate",
      "q154_audio_neardup" -> "audio near-dup: real WAV/PCM roundtrip per row, codegen'd energy-delta fingerprint HOFs, the SAME banded candidate machinery as q151 (ImageHash.bandCandidatePairs reused) — never all-pairs",
      "q155_incremental_image_dedup" -> "incremental near-dup ingest: batch probes the history band table via band-equi TWO-TABLE joins (history touched only in probed buckets, never rescanned), min-id attribution, left-join status attach — the arrival-driven daily shape",
      "q157_crosssize_image_neardup" -> "cross-size image near-dup: per-row gridReduce W×H → 8×8 block-mean HOF (narrow, codegen'd) feeding the SAME hash/band plan as q151 — size variance never reaches the join",
      "q158_subfp_audio_neardup" -> "sub-fingerprint audio near-dup: variable-length clips → per-window print explode → 16-bit-band EQUI self-join on window prints → min-Hamming groupBy collapses window fan-out to clip pairs BEFORE the gate — never all-pairs, band table rows = clips × windows × 4",
      "q159_incremental_subfp_audio" -> "incremental sub-fingerprint ingest: batch window prints probe the history print band table two-table band-equi; the min-id fold implements union-over-windows attribution; distinct doc base — one output row per batch clip")
    // stamp the code SHA the plans were recorded on — tools/check_freeze.py
    // mechanically rejects an artifact whose SHA predates the last
    // src/main commit (the r14 stale-PLANS episode). r15 ADVICE
    // hardening: (a) git runs against an EXPLICIT repo root — the dir
    // that actually contains this source tree — instead of inheriting
    // the JVM cwd, so a run launched from elsewhere can't stamp a
    // different repository's SHA (it stamps "unknown", which
    // check_freeze treats as stale); (b) uncommitted src/main changes
    // append "-dirty", which check_freeze also treats as stale — a
    // clean-SHA stamp now PROVES the described plans are the committed
    // plans.
    val sha = {
      def git(root: java.io.File, args: String*): Option[String] =
        try {
          val p = new ProcessBuilder(("git" +: args): _*)
            .directory(root).start()
          val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
          if (p.waitFor() == 0) Some(out) else None
        } catch { case _: Exception => None }
      val root = new java.io.File(".").getAbsoluteFile
      if (!new java.io.File(root, "src/main/scala/graft/PlanDump.scala").isFile)
        "unknown"
      else {
        val head = git(root, "rev-parse", "HEAD").filter(_.nonEmpty)
        val dirty = git(root, "status", "--porcelain", "--", "src/main")
          .exists(_.nonEmpty)
        head.map(h => if (dirty) s"$h-dirty" else h).getOrElse("unknown")
      }
    }
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries (sf0.001)\n\n")
    sb.append(s"git_head: $sha\n\n")
    sb.append("Generated by `graft.PlanDump`. What to look for: `PushedFilters`/`ReadSchema`\n")
    sb.append("on every scan, `BroadcastHashJoin` on dimension joins, partial+final\n")
    sb.append("`HashAggregate` pairs, exactly one `Exchange` for the allocation operator,\n")
    sb.append("and the custom expressions (`minhash_sig`, `ngram_jaccard`, `cosine_sim`)\n")
    sb.append("inline in codegen'd projections.\n")
    picks.foreach { case (name, note) =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name — $note\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md (" + sb.length + " chars)")
    spark.stop()
  }
}
