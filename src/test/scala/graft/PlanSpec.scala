package graft

import graft.queries.{RefQueries, TextQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan quality gates: the properties that make these operators
  * survive a 100× scale-up are asserted, not hoped for — broadcast on lookup
  * joins (never shuffle the fact side), parquet filter pushdown, and column
  * pruning at the scan. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("lookup joins broadcast the lookup side (J1/J2)") {
    assert(plan(RefQueries.queries("q04_lookup")(spark, dir)).contains("BroadcastHashJoin"))
    assert(plan(RefQueries.queries("q05_multilookup")(spark, dir)).contains("BroadcastHashJoin"))
  }

  test("filters push down to the parquet scan (P4)") {
    val p = plan(RefQueries.queries("q02_filter")(spark, dir))
    assert(p.contains("PushedFilters") && p.contains("l_quantity"))
    // the pushed filter list must actually carry the predicates
    assert(p.replaceAll("\\s+", " ").matches("(?s).*PushedFilters: \\[[^\\]]*LessThan\\(l_quantity.*"))
  }

  test("mapping projection prunes unread columns at the scan (P1)") {
    val p = plan(RefQueries.queries("q03_mapping")(spark, dir))
    // part has 6 columns; the mapping reads 4 (one dropped post-read? no —
    // dropped mapping rows never reach the scan), so p_brand/p_type must not
    // appear in ReadSchema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("p_partkey") && readSchema.contains("p_name"))
    assert(!readSchema.contains("p_brand") && !readSchema.contains("p_type"))
  }

  test("ANN brute-force broadcasts the query side, never the corpus") {
    val p = plan(TextQueries.queries("q28_ann_topk")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("partitioned-aggregation queries use partial (map-side) aggregation") {
    val p = plan(RefQueries.queries("q01_agg")(spark, dir))
    // HashAggregate appears twice: partial then final — map-side combine
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("sketch aggregates plan partial (map-side) object aggregation — bytes, not rows, shuffle") {
    val p = plan(TextQueries.queries("q117_kmv_distinct")(spark, dir))
    // ObjectHashAggregate twice: partial sketches map-side, merge after the
    // exchange — the property that keeps the shuffle at O(k) per partition
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final ObjectHashAggregate, got:\n$p")
    assert(p.contains("partial_kmv_sketch"), "partial mode must carry the sketch")
  }

  test("span scrub exchanges carry 16-byte hash keys, never gram text") {
    val p = plan(TextQueries.queries("q107_span_scrub")(spark, dir))
    // hashing fused into the scan projection; no md5/string gram column
    // survives into any exchange
    assert(p.contains("gram_hash_pairs"), s"expected the fused kernel, got:\n$p")
    assert(!p.contains("md5("), "gram keys must be the xxhash64 pair, not md5 hex")
    // hot-set aggregation is a paired partial/final hash aggregate
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("bloom decontamination probes with a single scan — no corpus-side exchange or join") {
    val docs = sf("documents")
    val bench = docs.limit(20)
    val probe = graft.operators.Dedup.bloomDecontaminate(
      docs, bench, "text", "doc_id", n = 13)
    val p = plan(probe)
    // the probe side plans as scan -> project(bloom_gram_hits) with no
    // exchange and no join of any kind: the filter rides as a reference obj
    assert(p.contains("bloom_gram_hits"), s"expected the probe kernel, got:\n$p")
    assert(!p.contains("Exchange"), s"corpus probe must not shuffle, got:\n$p")
    assert(!p.contains("Join"), s"corpus probe must not join, got:\n$p")
  }

  test("web-text transforms plan as pure narrow projections — no Exchange anywhere") {
    Seq("q112_pii_ipv4", "q113_html_extract", "q114_gopher_rules",
        "q115_url_canonical").foreach { q =>
      val df = TextQueries.queries(q)(spark, dir)
      df.collect() // AQE: codegen spans appear in the FINAL executed plan
      val p = df.queryExecution.executedPlan.toString
      // the only allowed shuffle is the orderBy's range partitioning (AQE
      // prints its query stage + the exchange, so count KINDS, not nodes):
      // a hash-partitioned exchange would mean the transform itself shuffles
      assert(!p.contains("Exchange hashpartitioning") &&
        !p.contains("Exchange SinglePartition"),
        s"$q should be a narrow projection + sort, got:\n$p")
      assert(p.contains("*(1)"), s"$q must stay codegen'd") // WSCG span marker
    }
  }

  test("exact similarity join never plans a cartesian or nested-loop join") {
    // every plan a real q25 run executed: the verify barrier is an eager
    // localCheckpoint, so the prefix join behind it is recorded as it ran
    val ran = Harness.executedPlans(spark) {
      TextQueries.queries("q25_jaccard_block")(spark, dir).collect(); ()
    }.map(_._2.executedPlan.toString)
    // the prefix join: an equi-join keyed on (block columns, prefix token)
    val prefixJoin =
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[lang#\\d+, source#\\d+, token#\\d+\\]".r
    assert(ran.exists(prefixJoin.findFirstIn(_).isDefined),
      s"no executed plan has the prefix equi-join:\n${ran.mkString("\n")}")
    ran.foreach { p =>
      assert(!p.contains("CartesianProduct"), s"prefix-filter join must not cross-join:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"prefix-filter join must stay an equi-join:\n$p")
    }
  }

  test("ivfPqSearch broadcasts probes and ADC tables — the index side never shuffles for the join") {
    import graft.operators.Ann
    val emb = graft.queries.Tables(spark, dir, "embeddings")
    val centroids =
      graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
    val fc = graft.functions.expressions.HashExpressions.fixedCentroids(200, 128, 8)
    val codebooks = Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
    val idx = Ann.ivfPqIndex(emb, "embedding", "vec_id", centroids, codebooks)
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val p = plan(Ann.ivfPqSearch(idx, queries, "embedding", "vec_id",
      "query_id", centroids, codebooks, k = 10, nprobe = 4))
    // both query-side joins build broadcast sides; the only exchange left is
    // the per-query top-k window — the codes scan streams map-side
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"expected two broadcast joins (probes, ADC tables):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the code index must never shuffle into the probe join")
  }

  test("incrementalMinhash: stored bucket rows are filtered by a broadcast semi-join") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val stored = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val idx = Dedup.minhashIndex(stored, "text", "doc_id")
    val (report, _) = Dedup.incrementalMinhash(idx, batch, "text", "doc_id")
    val p = plan(report)
    // the batch-scoped candidate contract at the plan level: the stored
    // banding is cut down map-side by a broadcast LeftSemi before any pair
    // join — a shuffled semi (or none at all) would mean the stored side
    // pays a full exchange per day
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected broadcast left-semi on the stored bucket rows:\n$p")
  }

  test("incrementalWinnow: stored index rows are filtered by a broadcast semi-join") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val stored = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val idx = Dedup.winnowIndex(stored, "text", "doc_id")
    val (report, _) = Dedup.incrementalWinnow(idx, batch, "text", "doc_id")
    val p = plan(report)
    // same batch-scoped contract as incrementalMinhash: the stored (id, fp)
    // rows are cut down map-side by a broadcast LeftSemi on batch-touched
    // fingerprints BEFORE any pair join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected broadcast left-semi on the stored index rows:\n$p")
  }

  test("explosive pair joins pin their parallelism against AQE coalesce") {
    // the q180 lesson: these joins have tiny inputs (AQE would coalesce
    // the exchanges to a couple of tasks) but quadratic-in-bucket output —
    // the explicit REPARTITION_BY_NUM on the join inputs is load-bearing
    // and must not be silently dropped in a refactor
    import graft.operators.{CorpusStats, Dedup}
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Tables(spark, dir, "documents")
    // (containmentJoin carries the same pin but localCheckpoints its
    // result, so the executed plan collapses to an ExistingRDD scan —
    // not assertable from outside; its pin is covered by the measured
    // q126 numbers in BASELINE.md)
    val pCo = plan(CorpusStats.cooccurrencePmi(docs, "text", "doc_id", 50))
    assert(pCo.contains("REPARTITION_BY_NUM"),
      s"co-occurrence pair join lost its parallelism pin:\n$pCo")
    val stored = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val pWin = plan(Dedup.incrementalWinnow(
      Dedup.winnowIndex(stored, "text", "doc_id"), batch, "text", "doc_id")._1)
    assert(pWin.contains("REPARTITION_BY_NUM"),
      s"incremental-winnow pair join lost its parallelism pin:\n$pWin")
  }

  test("hardNegatives: token stream semi-joined to query terms; positives anti-joined broadcast") {
    import graft.operators.Retrieval
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val qs = Seq("qa" -> "spark join merge", "qb" -> "customer order value")
    val positives = Retrieval.bm25TopK(docs, "text", "doc_id", qs, k = 2)
      .select(col("query_id"), col("doc_id"))
    val p = plan(Retrieval.hardNegatives(docs, "text", "doc_id", qs, positives, k = 10))
    // the corpus token stream must shrink to query-matched terms BEFORE the
    // tf aggregation (broadcast LeftSemi), and the positives exclusion must
    // be a broadcast LeftAnti over the already query-bounded candidates —
    // the corpus never shuffles for either
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"expected broadcast semi (query terms) + anti (positives):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ngramNovelty: anti-join on gram hashes, no cartesian, no gram text in exchanges") {
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val p = plan(graft.operators.Dedup.ngramNovelty(
      docs.filter(col("doc_id") % 3 =!= 0), docs, "text", "doc_id"))
    assert(p.contains("LeftAnti"), s"expected an anti-join on the gram hash:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("vocabCoverage plans a distributed top-k, never a global vocabulary sort") {
    val df = graft.operators.CorpusStats.vocabCoverage(
      graft.queries.Tables(spark, dir, "documents"), "text", 100)
    val p = plan(df)
    // per-partition top-k + driver merge; the only full sort allowed is the
    // window over the k retained rows (request-sized by construction)
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for the vocab top-k:\n$p")
  }

  test("salted aggregation plans two aggregation phases over distinct keys") {
    val df = graft.operators.SkewOps.saltedAggregate(
      graft.queries.Tables(spark, dir, "events"), Seq("event_type"),
      Map("user_id" -> "sum"), saltBuckets = 4)
    val p = plan(df)
    // partial+final per groupBy → at least 4 HashAggregate nodes total, and
    // the salt column must appear as a grouping key of the inner phase
    assert(p.split("HashAggregate").length - 1 >= 4)
    assert(p.contains("__salt"))
  }

  test("tfidf leaves the df-join strategy to Catalyst (no forced broadcast)") {
    // a web-scale shingle vocabulary can exceed the broadcast limit, so the
    // operator must not pin a broadcast hint: with auto-broadcast disabled
    // (standing in for "vocab side too big"), the planner must be FREE to
    // pick a shuffle join — a hard-coded hint would still broadcast here
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Tfidf.tfidf(
        graft.queries.Tables(spark, dir, "documents"), "text", "doc_id")
      val p = plan(df)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(2000))
      assert(!p.contains("BroadcastHashJoin"), "broadcast hint must not be pinned")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("whole-stage codegen covers the scalar-transform hot paths") {
    val df = RefQueries.queries("q09_premium_calc")(spark, dir)
    df.collect() // AQE: codegen spans appear in the FINAL executed plan
                 // (count() would execute a different query execution)
    // "*(n)" prefixes mark WholeStageCodegen spans in the compact plan string
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }
}

/** Bucketed co-located join: both sides bucketed on the join key with the
  * same bucket count → the equi-join runs with NO shuffle exchange. */
class BucketingSpec extends SparkSpec {
  test("join of two same-bucketed tables has no shuffle Exchange") {
    val db = s"bucketdb${System.nanoTime()}"
    graft.catalog.CatalogOps.writeBucketed(
      sf("orders"), s"$db.orders_b", Seq("o_orderkey"), 8, Seq("o_orderkey"))
    graft.catalog.CatalogOps.writeBucketed(
      sf("lineitem"), s"$db.lineitem_b", Seq("l_orderkey"), 8, Seq("l_orderkey"))
    // bucketed joins need SMJ, not broadcast — disable auto-broadcast here
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(s"$db.orders_b")
        .join(spark.table(s"$db.lineitem_b"),
          org.apache.spark.sql.functions.col("o_orderkey") ===
            org.apache.spark.sql.functions.col("l_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}

/** Round-5 operators: the plan shapes their 100 TB stories depend on. */
class Round5PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("kmeansStep is one scan + paired partial/final aggregation, no join") {
    val cents = graft.functions.expressions.HashExpressions.fixedCentroids(0, 4, 64)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.operators.Ann.kmeansStep(emb, "embedding", cents))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // map-side combine
    assert(!p.contains("Join"), s"kmeansStep must not join:\n$p")
    // exactly one exchange: the cluster-key shuffle of partial aggregates
    assert("Exchange".r.findAllIn(p).length == 1, p)
  }

  test("packSequences has no global sort — only bucket-partitioned windows") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, i % 40 + 1)).toDF("doc_id", "n_tokens")
    val out = graft.operators.Sampling.packSequences(docs, "doc_id", "n_tokens", 128L)
    out.collect()
    val p = plan(out)
    // a global sort would plan a range-partitioning Exchange
    assert(!p.contains("rangepartitioning"), s"global sort leaked in:\n$p")
    assert(p.contains("BroadcastExchange"), p) // bucket starts broadcast back
  }

  test("mixtureSample joins rates as a broadcast, never shuffles the corpus") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, if (i % 2 == 0) "a" else "b", i % 40 + 1))
      .toDF("doc_id", "grp", "n_tokens")
    val out = graft.operators.Sampling.mixtureSample(docs, "doc_id", "grp",
      "n_tokens", Map("a" -> 0.5, "b" -> 0.5))
    out.collect()
    assert(plan(out).contains("BroadcastHashJoin"), plan(out))
  }

  test("corpus line dedup rebuild keeps split OUT of the per-element lambda") {
    import spark.implicits._
    val df = Seq((1L, "a\nb\nc"), (2L, "b\nd")).toDF("doc_id", "text")
    val out = graft.operators.Repetition.dropRepeatedLinesCorpus(df, "doc_id", "text")
    out.collect()
    val p = plan(out)
    // CollapseProject inlining the __parts alias would put split() inside the
    // transform lambda → re-split per kept position (O(kept × doc_len))
    assert(!p.contains("element_at(split("),
      s"split inlined into the rebuild lambda:\n$p")
  }

  test("semantic dedup candidates come from a cluster equi-join, never a cross join") {
    val cents = graft.functions.expressions.HashExpressions.fixedCentroids(0, 4, 64)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.operators.Dedup.semanticDedupPairs(
      emb, "embedding", "vec_id", cents, 0.2))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }
}

/** Partition pruning: a y/m/d-partitioned table queried with a partition
  * predicate must scan only the matching partition directories. */
class PartitionPruningSpec extends SparkSpec {
  test("partition predicate reaches PartitionFilters and prunes the scan") {
    import spark.implicits._
    val db = s"prunedb${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    Seq((1, "2023", "01"), (2, "2024", "01"), (3, "2024", "02"))
      .toDF("id", "year", "month")
      .write.format("parquet").partitionBy("year", "month").saveAsTable(s"$db.t")
    val q = spark.table(s"$db.t")
      .filter(org.apache.spark.sql.functions.col("year") === "2024")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // predicate lands in PartitionFilters (directory pruning), with no
    // residual data Filter node above the scan
    assert(plan.contains("PartitionFilters: [isnotnull(year"), plan)
    assert(!plan.contains("+- Filter "), plan)
    assert(q.count() == 2)
  }
}

/** Round-8 second-wave operators: the plan shapes behind their 100 TB
  * contracts. */
class Round8bPlanSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("sessionize plans ONE user-hash exchange shared by both windows") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    import spark.implicits._
    val events = (1 to 100).map(i =>
      (i.toLong, (i % 7).toLong, new java.sql.Timestamp(t0.getTime + i * 1000L)))
      .toDF("event_id", "user_id", "ts")
    val p = plan(graft.operators.WindowOps.sessionize(
      events, "user_id", "ts", 3600, Seq(col("event_id"))))
    assert("Exchange".r.findAllIn(p).length == 1, s"expected one exchange:\n$p")
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("sessionize + per-session agg reuses the user partitioning (no second exchange)") {
    val p = plan(TextQueries.queries("q132_sessionize")(
      spark, "/root/testdata/sf0.001"))
    // agg keys (user_id, session_idx) are clustered by the window's
    // user_id partitioning — the plan must not re-shuffle (the final
    // orderBy's range exchange is the only other allowed one)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected a single hash exchange:\n$p")
  }

  test("zorderBy is one range exchange + in-partition sort, no global sort") {
    val pts = spark.range(0, 1000).select(
      pmod(col("id") * 7, lit(64L)).as("x"), pmod(col("id") * 11, lit(64L)).as("y"))
    val p = plan(graft.operators.Layout.zorderBy(pts, Seq(col("x"), col("y")), 6, 4))
    assert(p.contains("rangepartitioning(zval"), p)
    assert("Exchange".r.findAllIn(p).length == 1, s"expected one exchange:\n$p")
    // the sort is local (global = false in the Sort node)
    assert(p.linesIterator.exists(l => l.contains("Sort") && l.contains("false")), p)
  }

  test("divergence aggregations are paired partial/final — map-side combine") {
    val p = plan(TextQueries.queries("q133_divergence")(
      spark, "/root/testdata/sf0.001"))
    assert("HashAggregate".r.findAllIn(p).length >= 4, p) // 2 aggs x partial+final
    assert(!p.contains("Window"), "divergence must not plan any window")
  }

  test("kmv set ops build sketches with partial object aggregation") {
    val p = plan(TextQueries.queries("q129_kmv_setops")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("partial_kmv_sketch"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("canonicalize argmax is a window-free paired aggregation") {
    import spark.implicits._
    val rows = Seq((1L, 5L), (2L, 9L)).toDF("id", "score")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val p = plan(graft.operators.ConnectedComponents.canonicalize(
      rows, pairs, "id", "score"))
    assert(!p.contains("Window"), "argmax must be min(struct), not a window sort")
    // struct min/max isn't hash-aggregable — Spark plans SortAggregate, but
    // the partial/final pairing (map-side combine) is what the scale contract
    // needs: O(1) rows per cluster per partition cross the exchange
    assert("partial_min".r.findAllIn(p).nonEmpty, p)
    assert("(Sort|Hash)Aggregate".r.findAllIn(p).length >= 2, p)
  }

  test("exact-substring dedup: kernel nomination + kernel rebuild, no window sort, no per-char reassembly") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = (0L until 50L).map(i =>
      (i, s"body $i ${if (i % 7 == 0) "shared-boilerplate-string-forty-chars!!" else ""}"))
      .toDF("doc_id", "text")
    val p = plan(graft.operators.SuffixArray.scrubRepeatedCharSpans(
      docs, "doc_id", "text", minLen = 12))
    // the corpus pass is the rolling-hash kernel; the rebuild is the span
    // kernel — NOT per-character explode + collect_list reassembly
    assert(p.contains("char_window_hashes"), s"nomination kernel missing:\n$p")
    assert(p.contains("mask_char_spans"), s"rebuild kernel missing:\n$p")
    assert(!p.contains("Window"), "no window sort anywhere")
    // keepFirst's class-first selection is an aggregation, not a sort
    val pk = plan(graft.operators.SuffixArray.scrubRepeatedCharSpans(
      docs, "doc_id", "text", minLen = 12, keepFirst = true))
    assert(!pk.contains("Window"), "keep-first must be min-agg, not a window")
  }

  test("incremental LPA: the trace-override anti-joins broadcast the frontier delta") {
    import graft.operators.GraphOps
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val nodes = spark.range(0, 200).toDF("id")
    val edges = nodes.select(col("id").as("src"),
      ((col("id") + 1) % 200).as("dst"))
    val trace = GraphOps.labelPropagationTrace(edges, "src", "dst", nodes, "id", 2)
    val out = GraphOps.incrementalLabelPropagation(edges, trace,
      Seq((0L, 100L)).toDF("src", "dst"), "src", "dst", 2)
    val p = plan(out)
    // one per iteration slice: stored-trace ANTI override, override
    // broadcast — a planner that shuffled the O(N) trace here would undo
    // the operator's reason to exist (the vote-side broadcasts sit behind
    // localCheckpoints and are covered by the measured shuffle rows in
    // BASELINE.md)
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(p).size >= 2,
      s"override anti-joins must broadcast:\n$p")
  }
}
