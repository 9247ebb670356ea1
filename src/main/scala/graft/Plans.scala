package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans, as reviewable evidence of
  * pushdown/broadcast/codegen behavior (PlanSpec asserts the same properties
  * mechanically). Two forms:
  *   runMain graft.Plans [sfDir] [out.md]
  *     — the headline queries' final plans, unexecuted → PLANS.md;
  *   runMain graft.Plans <outDir> <tag> <q1,q2,...> [sfDir]
  *     — runs each named query to completion (noop sink) and writes EVERY
  *       plan it executed to `<outDir>/<name>_<tag>.txt`, in execution
  *       order ([[Harness.executedPlans]]): the eager `localCheckpoint`
  *       barriers inside operators (a prefix-filter join's verify stage, an
  *       LPA round's labels) are actions, so the joins behind them show as
  *       they ran. The before/after plan evidence of an optimization. */
object Plans {
  def main(mainArgs: Array[String]): Unit = {
    val dumpForm = mainArgs.length >= 3
    val names = if (dumpForm) mainArgs(2).split(",").toSeq else Seq.empty
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val args = if (dumpForm) mainArgs.drop(3) else mainArgs
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session(logLevel = "ERROR")
    if (dumpForm) dump(spark, sfDir, mainArgs(0), mainArgs(1), names)
    else headlines(spark, sfDir, args.lift(1).getOrElse("PLANS.md"))
    spark.stop()
  }

  private def explain(qe: QueryExecution): String =
    qe.explainString(org.apache.spark.sql.execution.FormattedMode)

  private def dump(spark: SparkSession, sfDir: String, outDir: String, tag: String,
                   names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val ran = Harness.executedPlans(spark) {
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      val text = ran.zipWithIndex.map { case ((action, qe), i) =>
        s"## plan ${i + 1} of ${ran.size}: $action\n\n" + explain(qe)
      }.mkString("", "\n\n", "\n")
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), text)
      println(s"[plans] $outDir/${name}_$tag.txt (${ran.size} executed plans)")
    }
  }

  private def headlines(spark: SparkSession, sfDir: String, out: String): Unit = {
    val headline = Seq(
      "q01_agg" -> "TPC-H Q1-style aggregation: pushdown + partial aggregation",
      "q02_filter" -> "filterrows: predicate pushed to parquet",
      "q04_lookup" -> "broadcast value-lookup join",
      "q06_consume_sql" -> "4-table consume SQL join",
      "q26_minhash_pairs" -> "MinHash LSH dedup: band bucket join + pair verify",
      "q28_ann_topk" -> "brute-force ANN: broadcast queries over streamed corpus",
      "q32_fuzzy_match" -> "blocked jaro-winkler fuzzy match",
      "q59_salted_agg" -> "two-phase salted aggregation for skewed keys",
      "q73_bucketed_join" -> "bucketed co-located join: no Exchange on either side",
      "q80_ngram_decontamination" -> "13-gram decontamination: distinct gram hashes, broadcast bench side",
      "q84_curation_pipeline" -> "composed curation pipeline: per-row kernels + semi/anti joins + hash split",
      "q86_corpus_line_dedup" -> "corpus line dedup: hash-keyed keep-first, row-local rebuild (no text in exchanges)",
      "q29_ann_lsh" -> "hyperplane-LSH ANN: bucket equi-join + multi-probe",
      "q96_bpe_pairs" -> "BPE pair counts: vocab aggregation + shifted zip_with, paired partial/final HashAggregate, no join",
      "q99_bpe_encode" -> "BPE document encode: trained merges compiled to literals, one linear scan, no join/shuffle",
      "q100_image_dedup" -> "image perceptual-hash dedup: batched decode, banded hamming join on (id, fp) only",
      "q101_ann_pq" -> "PQ ANN: fused pq_encode kernel scan + broadcast query tables, no corpus shuffle",
      "q107_span_scrub" -> "repeated-span scrub: codegen'd gram_hash_pairs scan, 16-byte keys in the exchanges, kernel rebuild",
      "q124_bloom_decontamination" -> "Bloom decontamination: bounded bench-side aggregate; corpus probe = one scan, no Exchange, no Join",
      "q126_containment" -> "containment join post-fix: hashed_shingles kernel scan, positional prefix filter, sorted_intersect_count verify (no string arrays in the verify exchanges)",
      "q141_hilbert" -> "hilbert layout: codegen xy2d projection + ONE range exchange + local sort",
      "q159_profile_sketch" -> "sketch profiler: ONE scan, paired partial/final HashAggregate with 2^p-byte HLL partials per column, no distinct-set shuffle",
      "q160_kll_quantiles" -> "KLL quantiles: one aggregation with O(k log) partials, quantile fold as plain Column arithmetic — no sort of raw values",
      "q161_hybrid_ivfpq" -> "hybrid RRF fusion: BM25 semi-joined token stream + IVF-PQ codes-only ADC scan, both legs broadcast-query-shaped",
      "q168_incremental_minhash" -> "incremental minhash: batch-driven candidates — broadcast semi-join cuts stored bucket rows to batch-touched buckets, no stored self-join",
      "q169_ivfpq_index" -> "persisted IVF-PQ index: build+append encode scans, search = broadcast probes/ADC tables over codes, no index shuffle in the probe join",
      "q170_bm25_index" -> "persisted BM25 index: append-only postings, query terms semi-join map-side, N/avgdl as one narrow aggregate",
      "q171_incremental_cc" -> "incremental CC: broadcast touched-component semi/anti joins, star-edge replay only",
      "q173_kn_ppl" -> "Kneser-Ney perplexity: one kn_bigram_hashes kernel scan feeding three hash-keyed model aggregations, token-keyed scoring joins, broadcast (T,V) row",
      "q179_winnow" -> "winnowing fingerprints: one winnow_fingerprints kernel scan (O(n) min-deque), explode, no joins or shuffles beyond the output sort",
      "q180_incremental_winnow" -> "incremental winnowing: stored (id, fp) index cut by broadcast left-semi on batch-touched fingerprints before the pair join — batch-scoped candidates, pair-join parallelism pinned against AQE coalesce",
      "q194_label_propagation" -> "synchronous label propagation: per-iteration edge-label equi-join, then ONE node-id exchange shared by the vote count and the argmax window (r14 — was two), labels materialized per round",
      "q195_cooccurrence_pmi" -> "co-occurrence PMI: per-doc pair self-join with pinned parallelism (tiny input, quadratic output), df/N joined to surviving pairs only",
      "q196_jl_projection" -> "JL projection: one fused mat_vec kernel scan, matrix as codegen reference object, no join/shuffle",
      "q181_moore_lewis" -> "Moore-Lewis ce-diff: both KN LMs fit from ONE tagged train union (lm-keyed model aggregations), pool bigrams exploded to both tags, broadcast (T,V) totals",
      "q182_hard_negatives" -> "hard-negative mining: query-term semi-join cuts the token stream map-side, positives excluded via broadcast left-anti over query-bounded candidates",
      "q184_ngram_novelty" -> "n-gram novelty: distinct train gram hashes anti-joined against per-doc distinct score grams — 8-byte keys only, no gram text in any exchange",
      "q203_stats_pruned_scan" -> "file-stats pruned scan: per-file min/max+bloom admit evaluated on the narrow stats table, surviving files read basePath-anchored, residual re-applied — the un-read files are the plan",
      "q208_incremental_lpa" -> "incremental sync-LPA: stored-trace slices ANTI broadcast frontier overrides (map-side), vote joins frontier-scoped; no O(N) exchange outside the trace write",
      "q210_exact_substring_dedup" -> "char-exact substring dedup: rolling-hash kernel nomination (one 8-byte-key count + one semi-join over the corpus) — exact content verify and span rebuild over CANDIDATE rows only",
      "q213_incremental_pagerank" -> "incremental fixed-point PageRank: stored-trace slices ANTI broadcast rank overrides, contribution joins frontier-scoped via broadcast semi-joins on the degree-edges frame",
      "q214_incremental_substring_dedup" -> "incremental exact-substring dedup: batch windows one kernel pass; stored side cut to batch-touched hash keys by a broadcast semi-join of the content-keyed index — no stored shuffle, no stored text",
      "q37_pipeline_e2e" -> "full collect-to-cleanse pipeline")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Things to look for:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` for\n")
    sb.append("lookups, paired partial/final `HashAggregate`, `WholeStageCodegen`\n")
    sb.append("spans, and shuffle `Exchange`s only where keys genuinely change.\n")
    headline.foreach { case (name, desc) =>
      // the bucketed-join dump disables auto-broadcast: at the tiny plan-dump
      // SF the dim side is broadcastable and the plan would show a
      // BroadcastHashJoin, hiding the property being documented — the
      // bucket-aligned SortMergeJoin with NO shuffle Exchange on either side
      // (at real scale neither side broadcasts; BucketingSpec asserts the
      // no-Exchange property mechanically at test SF too)
      val pinStrategy = name.startsWith("q73")
      val prior = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      if (pinStrategy) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        sb.append(s"\n## $name — $desc\n\n```\n")
        sb.append(explain(SparkEntry.queries(name)(spark, sfDir).queryExecution))
        sb.append("\n```\n")
      } finally if (pinStrategy) prior match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote ${headline.size} plans to $out")
  }
}
