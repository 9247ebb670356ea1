package graft.operators

import graft.functions.{SimilarityFunctions => S, TextFunctions => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is a hash-partitioned groupBy or a bucket-join —
  * no cross join ever touches the full corpus. MinHash/SimHash candidate
  * generation explodes each doc into a bounded number of bucket keys, so the
  * shuffle volume is O(docs × bands), and within-bucket pairing is bounded by
  * bucket size; verification (exact Jaccard / hamming) runs only on candidate
  * pairs.
  */
object Dedup {

  /** Exact dedup: keep the first row (min of `idCol`) per exact value of
    * `keyCols`. One hash-partitioned aggregation; at 100 TB this is the plain
    * shuffle-on-content-hash dedup. Dedup on a long text column should pass
    * `sha2(col,256)` as the key to shrink shuffle rows. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Near-whitespace dedup via normalized-text fingerprint (SHA-256). */
  def byFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fingerprint", T.fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Bucket-skew guard for LSH-banded candidate generation: buckets at or
    * below `maxBucketSize` get the full pairwise self-join; DEGENERATE buckets
    * (thousands of boilerplate docs sharing a band key — the quadratic
    * scale-killer at 100 TB) degrade to CHAIN pairs over the id-sorted bucket
    * via `lead()`: B-1 candidates instead of B²/2. Nothing is silently
    * dropped — every member of a hot bucket still appears in a candidate
    * pair, so after verification + connected components the cluster stays
    * fully linked (a flood of identical docs chains a→b→c→…); only
    * NON-transitive coincidental pairs inside a hot bucket can be missed,
    * which is the approximate-path contract already. The hot path is one
    * window (count + lead over the same partitioning, one shuffle); a hot
    * bucket occupies a single task but at O(B log B) sort cost, carrying only
    * (keys, id, payload) — not the O(B²) join blow-up.
    *
    * NOTE a specialized twin of this guard lives inline in
    * [[incrementalMinhash]] (batch-anchored small pairs + batch-endpoint-
    * filtered chains — shapes this symmetric helper cannot express without
    * a two-lambda parameterization that would obscure both). The two must
    * stay semantically aligned: IncrementalDedupSpec pins report equality
    * between the incremental path and the union-self-join formulation, so
    * an edit here that changes guard semantics must update there too (the
    * spec fails loudly if they drift). */
  private def guardedBucketPairs(buckets: DataFrame, keyCols: Seq[String],
                                 idCol: String, payloadCols: Seq[String],
                                 maxBucketSize: Int): DataFrame = {
    val W = Window.partitionBy(keyCols.map(col): _*)
    val sized = buckets.withColumn("__bsz", count(lit(1)).over(W))
    val carry = idCol +: payloadCols
    def side(sfx: String)(d: DataFrame) = d.select(
      keyCols.map(col) ++ carry.map(c => col(c).as(s"${c}_$sfx")): _*)
    val small = sized.filter(col("__bsz") <= maxBucketSize).drop("__bsz")
    val smallPairs = side("a")(small).join(side("b")(small), keyCols)
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
    val Wo = W.orderBy(col(idCol))
    val hotPairs = sized.filter(col("__bsz") > maxBucketSize)
      .select(keyCols.map(col) ++
        carry.map(c => col(c).as(s"${c}_a")) ++
        carry.map(c => lead(col(c), 1).over(Wo).as(s"${c}_b")): _*)
      .filter(col(s"${idCol}_b").isNotNull)
    smallPairs.unionByName(hotPairs)
      .drop(keyCols: _*)
  }

  /** MinHash+LSH near-dup candidate pairs with exact-Jaccard verification.
    *
    * shingle → minhash signature → band keys → self-join per bucket (id<id) →
    * distinct pairs → verify n-gram Jaccard ≥ threshold.
    *
    * Returns (idA, idB, jaccard). Both sides shuffle on the band bucket key —
    * never a full cross join. `shingleN`=word-shingle width; bands×rows = total
    * hashes. `maxBucketSize` is the skew guard ([[guardedBucketPairs]]).
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                   threshold: Double = 0.7, maxBucketSize: Int = 1000): DataFrame = {
    // Shingles are verified as 64-bit hashes (same Jaccard modulo ~2^-64
    // collisions) so the band join shuffles only (band,bucket,id) — the heavy
    // shingle arrays are joined back exactly once per DISTINCT candidate pair,
    // not once per shared bucket.
    val hashed = df.select(col(idCol).as("id"),
        graft.functions.expressions.HashExpressions
          .hashed_shingles(col(textCol), shingleN).as("sh"))
      .withColumn("sig", S.minHashSignature(col("sh"), bands * rowsPerBand))
    val buckets = hashed
      .select(col("id"), explode(S.lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val candidates = guardedBucketPairs(buckets, Seq("band", "bucket"),
        "id", Seq.empty, maxBucketSize)
      .distinct()
    candidates
      .join(hashed.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), S.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash dedup: drop every doc that near-dups an earlier (lower-id) doc.
    * Survivors = all ids minus the right side of candidate pairs. */
  def minhashDedup(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                   threshold: Double = 0.7, maxBucketSize: Int = 1000): DataFrame = {
    val dupIds = minhashPairs(df, textCol, idCol, shingleN, bands, rowsPerBand,
        threshold, maxBucketSize)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Banded hamming-near pairs over an arbitrary integer fingerprint column
    * (`df` = (id, fp)): candidates share one of `nBands` contiguous
    * `bandBits`-wide bands, verified by full hamming ≤ `maxHamming`. By
    * pigeonhole the band join is a SUPERSET of all pairs with hamming <
    * `nBands`, so with `maxHamming ≤ nBands − 1` the result is EXACTLY
    * {(a,b) : hamming(fp_a, fp_b) ≤ maxHamming} — no recall loss, which is
    * what lets callers (q27 simhash, q100 image dHash) be oracle-replayed.
    * Shuffles only (band, key, id, fp); never a cross join; hot band buckets
    * fall to the chain guard ([[guardedBucketPairs]]). */
  def fingerprintPairs(fps: DataFrame, bandBits: Int, nBands: Int,
                       maxHamming: Int, maxBucketSize: Int,
                       bits: Int = 64): DataFrame = {
    // out-of-contract banding is a SILENT recall loss (a pair differing
    // only in uncovered bits, or in maxHamming > nBands-1 spread bits,
    // shares no band and quietly vanishes) — fail loudly instead
    require(bandBits * nBands >= bits,
      s"$nBands bands x $bandBits bits cover ${bandBits * nBands} < $bits fingerprint bits")
    require(maxHamming <= nBands - 1,
      s"pigeonhole needs maxHamming <= nBands-1 (got $maxHamming vs $nBands bands)")
    val mask = (1L << bandBits) - 1
    val banded = fps.select(col("id"), col("fp"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), b * bandBits).bitwiseAND(mask).as("key"))): _*)).as("bk"))
      .select(col("id"), col("fp"), col("bk.band"), col("bk.key"))
    guardedBucketPairs(banded, Seq("band", "key"), "id", Seq("fp"), maxBucketSize)
      .select(col("id_a"), col("id_b"), S.hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup: 64-bit fingerprint; candidates share one of 4 16-bit
    * bands (tolerates hamming ≤ 3 by pigeonhole when split 4 ways); verified by
    * full hamming distance ≤ maxHamming. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val fp = df.select(col(idCol).as("id"), S.simHash64(S.tokens(col(textCol))).as("fp"))
    fingerprintPairs(fp, bandBits = 16, nBands = 4, maxHamming, maxBucketSize)
  }

  /** SimHash-keyed EXACT order-insensitive duplicate pairs, emitted as
    * KEEP-FIRST (group-min id, member id) rows — the precision-and-recall-
    * complete member of the simhash family, with LINEAR output and no skew
    * guard needed at any scale.
    *
    * Design: for an equality-verified predicate, banded candidate chaining
    * is the WRONG shape — a hot band bucket mixes several fingerprint groups,
    * id-adjacent chain pairs cross groups, equality rejects them, and true
    * duplicate pairs vanish. Instead the group key IS the exact key: one
    * hash-partitioned aggregation DIRECTLY on (fingerprint, sorted tokens)
    * finds each group's minimum id, and each member equi-joins back to its
    * group min on the same composite key. Grouping on the token array
    * itself (not a 64-bit hash of it) keeps this EXACT — a hashed group key
    * would silently drop every pair of a group whose hash collides with a
    * lower-id group (a recall loss, not a screened false positive). Spark
    * hash-partitions and compares array keys natively, and the shuffle
    * already carried the token arrays for verification, so the exact key
    * costs nothing extra. Every duplicate is paired with its group's
    * first — recall 1 by construction, B−1 pairs for a B-member group (a
    * 1M-doc boilerplate flood emits 1M−1 rows, not 5×10¹¹), and `hamming`
    * is 0 by definition of the group. The hamming-TOLERANT near-dup regime
    * stays in [[simhashPairs]], recall-asserted against the exact jaccard
    * join (ApproxRecallSpec). */
  def simhashDupes(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keyed = df.select(col(idCol).as("id"), S.tokens(col(textCol)).as("__t"))
      .select(col("id"), sort_array(col("__t")).as("__ts"), S.simHash64(col("__t")).as("__fp"))
    val firsts = keyed.groupBy(col("__fp"), col("__ts"))
      .agg(min(col("id")).as("id_a"))
    keyed.join(firsts, Seq("__fp", "__ts"))
      .filter(col("id") > col("id_a"))
      .select(col("id_a"), col("id").as("id_b"), lit(0).as("hamming"))
  }

  /** SemDeDup-style semantic near-dup pairs: k-means cluster id as the
    * blocking key (assign with the same max-dot scorer IVF uses), all-pairs
    * within a cluster, exact-cosine verify. The curation recipe behind
    * "cluster then dedup within clusters": candidates are bounded by cluster
    * size, so at scale you pick k large enough that clusters stay small
    * (k ≈ corpus/target-cluster-size; [[graft.operators.Ann.kmeansFit]]
    * trains centroids on the full corpus). Returns (id_a, id_b, cosine).
    *
    * Hot-cluster caveat: a cluster above `maxBucketSize` degrades to
    * id-adjacent chain candidates ([[guardedBucketPairs]]), and because the
    * verification here is a cosine THRESHOLD — not an equality, where a
    * chain stays connected — non-adjacent twins inside a hot cluster
    * generate no pair and survive dedup. The chain guard is a RECALL
    * degradation on this operator, kept only as the backstop against a
    * quadratic task; the real remedy is more clusters (k sized so cluster
    * population stays under the cap), which the recipe wants anyway for
    * candidate quality. */
  def semanticDedupPairs(df: DataFrame, vecCol: String, idCol: String,
                         centroids: Array[Array[Double]], threshold: Double,
                         maxBucketSize: Int = 1000): DataFrame = {
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("__c",
        graft.functions.expressions.HashExpressions.nearest_centroid(col("v"), centroids))
    guardedBucketPairs(assigned.select(col("__c"), col("id"), col("v")),
        Seq("__c"), "id", Seq("v"), maxBucketSize)
      .select(col("id_a"), col("id_b"), S.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup over the PERSISTED IVF-PQ index — the codes-first variant of
    * [[semanticDedupPairs]], closing the SemDeDup-over-index loop: candidate
    * pairs come from the index's inverted lists (the index `__list` IS the
    * nearest-centroid cluster id), each pair is PREFILTERED by the symmetric
    * code distance (SDC — m table lookups into the precomputed subspace
    * centroid-distance table, never a raw-vector read), and only SDC
    * survivors join the raw vectors for the exact-cosine verify. At 100 TB
    * the pair enumeration and prefilter run entirely over m-byte codes; raw
    * vectors are touched for the surviving sliver only.
    *
    * `sdcMax` is a RECALL knob: SDC approximates the true L2 distance, so a
    * tight τ drops true near-dups before the verify. The oracle (q172) pins
    * the exact two-filter semantics — the SDC table is computed with the
    * same sequential-diff-dot arithmetic as [[Ann]]'s ADC, so the SQL
    * replay is bit-identical. Same hot-cluster chain-guard caveat as
    * [[semanticDedupPairs]]. */
  def semanticDedupPairsIndexed(index: DataFrame, raw: DataFrame,
                                vecCol: String, idCol: String,
                                codebooks: Array[Array[Array[Double]]],
                                sdcMax: Double, threshold: Double,
                                maxBucketSize: Int = 1000,
                                codeCol: String = "code"): DataFrame = {
    val kk = codebooks(0).length
    val sub = codebooks(0)(0).length
    val flat = new Array[Double](codebooks.length * kk * kk)
    for (j <- codebooks.indices; a <- 0 until kk; b <- 0 until kk) {
      var s = 0.0
      var i = 0
      while (i < sub) {
        val t = codebooks(j)(a)(i) - codebooks(j)(b)(i); s += t * t; i += 1
      }
      flat(j * kk * kk + a * kk + b) = s
    }
    val cand = guardedBucketPairs(
      index.select(col("__list"), col(idCol).as("id"), col(codeCol).as("cd")),
      Seq("__list"), "id", Seq("cd"), maxBucketSize)
    // one codegen kernel call per candidate pair; the m·k² table rides as a
    // codegen reference object (a primitive double[] broadcast with the
    // task binary), NOT a typedLit — at m=16/k=256 the literal is ~4 MB of
    // boxed plan payload evaluated through interpreted element_at per pair.
    // Accumulation order inside the kernel is the oracle's left-associated
    // sum (Kernels.sdcSum), so q172 stays bit-identical.
    val sdc = graft.functions.expressions.HashExpressions
      .sdc_sum(col("cd_a"), col("cd_b"), flat, kk)
    cand.withColumn("__sdc", sdc).filter(col("__sdc") <= sdcMax)
      .select(col("id_a"), col("id_b"))
      .join(raw.select(col(idCol).as("id_a"), col(vecCol).as("v_a")), Seq("id_a"))
      .join(raw.select(col(idCol).as("id_b"), col(vecCol).as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), S.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup keep-first: drop every vector that semantically near-dups an
    * earlier (lower-id) one within its cluster. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    centroids: Array[Array[Double]], threshold: Double,
                    maxBucketSize: Int = 1000): DataFrame = {
    val dupIds = semanticDedupPairs(df, vecCol, idCol, centroids, threshold, maxBucketSize)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Per-stage outcome of [[dedupPipeline]]. */
  case class DedupStage(stage: String, docsIn: Long, docsOut: Long)

  /** Near-dup dedup with DETERMINISTIC results: drop every doc whose word
    * n-gram shingle set has Jaccard ≥ threshold with an earlier (lower-id)
    * doc, using the exact prefix-filtering join — the reproducible
    * counterpart of [[minhashDedup]] (same contract, no LSH recall loss). */
  def jaccardDedup(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, threshold: Double = 0.7,
                   blockCols: Seq[String] = Seq.empty): DataFrame = {
    val toks = df.select(blockCols.map(col) :+ col(idCol) :+
      S.wordShingles(col(textCol), shingleN).as("__sh"): _*)
    val dupIds = jaccardSelfJoin(toks, "__sh", idCol, blockCols, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** The standard document-dedup recipe, composed: exact text → normalized
    * fingerprint → near-dup, each stage feeding the survivors of the previous
    * (cheapest filters first, so the expensive similarity pass sees the
    * smallest corpus). Returns survivors plus a per-stage report.
    *
    * Each stage is persisted (MEMORY_AND_DISK) before its report count so the
    * chain is computed once, not re-derived per downstream stage; intermediate
    * stages are unpersisted once the final stage is materialized. The RETURNED
    * frame stays persisted — caller unpersists when done.
    *
    * @param exactVerify true → stage 3 uses the deterministic prefix-filter
    *                    Jaccard join ([[jaccardDedup]]); false → MinHash LSH
    *                    ([[minhashDedup]], cheaper at very large corpus sizes)
    * @param blockCols   near-dup blocking keys for the exactVerify path
    *                    (e.g. per-language dedup); ignored by the LSH path
    */
  def dedupPipeline(df: DataFrame, textCol: String, idCol: String,
                    shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                    threshold: Double = 0.7,
                    exactVerify: Boolean = false,
                    blockCols: Seq[String] = Seq.empty): (DataFrame, Seq[DedupStage]) = {
    import org.apache.spark.storage.StorageLevel
    val report = scala.collection.mutable.ListBuffer.empty[DedupStage]
    val n0 = df.count()

    val afterExact = df.join(
      df.groupBy(textCol).agg(min(col(idCol)).as(idCol)).drop(textCol)
        .select(col(idCol)), Seq(idCol), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n1 = afterExact.count()
    report += DedupStage("exact", n0, n1)

    val afterFp = afterExact.join(
      byFingerprint(afterExact, textCol, idCol).select(col(idCol)), Seq(idCol), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n2 = afterFp.count()
    report += DedupStage("fingerprint", n1, n2)

    val afterNearDup =
      (if (exactVerify) jaccardDedup(afterFp, textCol, idCol, shingleN, threshold, blockCols)
       else minhashDedup(afterFp, textCol, idCol, shingleN, bands, rowsPerBand, threshold))
        .persist(StorageLevel.MEMORY_AND_DISK)
    val n3 = afterNearDup.count() // materializes the final stage
    report += DedupStage(if (exactVerify) "jaccard" else "minhash", n2, n3)
    afterExact.unpersist()
    afterFp.unpersist()

    (afterNearDup, report.toSeq)
  }

  /** Per-document dedup ATTRIBUTION: which pipeline stage dropped each doc
    * (exact / fingerprint / jaccard) or 'kept' — the curation audit trail
    * [[dedupPipeline]]'s stage COUNTS summarize. Same stage semantics and
    * order as dedupPipeline with exactVerify=true; labels come from three
    * id-keyed survivor joins (marker columns, ids only — never text in the
    * label joins).
    *
    * @return (idCol, stage) for EVERY input row. */
  def dedupAttribution(df: DataFrame, textCol: String, idCol: String,
                       shingleN: Int, threshold: Double,
                       blockCols: Seq[String]): DataFrame = {
    val s1 = df.join(
      df.groupBy(textCol).agg(min(col(idCol)).as(idCol)).select(col(idCol)),
      Seq(idCol), "left_semi").localCheckpoint(true)
    val s2 = s1.join(byFingerprint(s1, textCol, idCol).select(col(idCol)),
      Seq(idCol), "left_semi").localCheckpoint(true)
    val s3 = jaccardDedup(s2, textCol, idCol, shingleN, threshold, blockCols)
    def keepers(d: DataFrame, mark: String) =
      d.select(col(idCol)).withColumn(mark, lit(true))
    df.select(col(idCol))
      .join(keepers(s1, "__k1"), Seq(idCol), "left")
      .join(keepers(s2, "__k2"), Seq(idCol), "left")
      .join(keepers(s3, "__k3"), Seq(idCol), "left")
      .select(col(idCol),
        when(col("__k1").isNull, "exact")
          .when(col("__k2").isNull, "fingerprint")
          .when(col("__k3").isNull, "jaccard")
          .otherwise("kept").as("stage"))
  }

  // ------------- shared prefix-filter machinery (self + cross joins) --------

  /** (blocks, id, toks, sz) with empty sets dropped (Jaccard 0 with
    * everything), eagerly materialized: the frame feeds prefix extraction AND
    * the verify join(s), and the token/shingle expression may be expensive —
    * CollapseProject would otherwise re-inline it into every consumer. */
  private def tokenSetBase(df: DataFrame, tokensCol: String, idCol: String,
                           blocks: Seq[org.apache.spark.sql.Column]): DataFrame =
    tokenSetBaseLazy(df, tokensCol, idCol, blocks).localCheckpoint(true)

  /** [[tokenSetBase]] WITHOUT the eager materialization — for the BIG side
    * of an asymmetric cross join ([[jaccardCrossJoin]] with a single-side
    * `freqFrom`): a per-call localCheckpoint of the stored corpus is an
    * O(corpus) write the daily-batch contract cannot afford; the two
    * consumers (prefix index, verify join) instead re-scan the source
    * map-side, which is strictly cheaper than writing and re-reading a full
    * copy once the corpus dwarfs the batch. */
  private def tokenSetBaseLazy(df: DataFrame, tokensCol: String, idCol: String,
                               blocks: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.select(blocks :+ col(idCol).as("id") :+ array_distinct(col(tokensCol)).as("toks"): _*)
      .withColumn("sz", size(col("toks")))
      .filter(col("sz") > 0)

  /** `df` materialized (local checkpoint) with its row count, in ONE job
    * after its shuffle stages: the job that stores the final stage also
    * counts it. An eager checkpoint followed by `count()` is that job plus
    * two more under AQE (partial aggregate, then the final exchange). */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val c = df.localCheckpoint(false)
    (c, c.queryExecution.toRdd.count())
  }

  /** Token frequencies over the given bases — the shared canonical order. */
  private def tokenFreq(bases: Seq[DataFrame]): DataFrame =
    bases.map(_.select(explode(col("toks")).as("token"))).reduce(_ unionByName _)
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** Prefix length |x| − ⌈t·|x|⌉ + 1, with ⌈⌉ taken of the EXACT real
    * product: IEEE rounding can land just above an integer (25×0.56 =
    * 14.000000000000002), which would shorten the prefix and silently drop
    * qualifying pairs. The epsilon biases toward a LONGER prefix — extra
    * candidates, never lost recall. */
  private def prefixLenCol(threshold: Double) =
    (col("sz") - ceil(col("sz") * threshold - lit(1e-9)) + 1).cast("int")

  /** The (blocks…, token, id, sz) prefix rows of `base`: each set keyed only
    * by its |x|−⌈t|x|⌉+1 rarest tokens under the canonical (freq, token)
    * order. The rank window partitions by blocks :+ id so rows that share an
    * id across different blocks still rank their prefixes independently
    * (within one block, duplicate ids remain the caller's contract — the
    * verify joins key on id alone). */
  private def prefixRows(base: DataFrame, freq: DataFrame,
                         blocks: Seq[org.apache.spark.sql.Column],
                         threshold: Double): DataFrame =
    base.select(blocks :+ col("id") :+ col("sz") :+ explode(col("toks")).as("token"): _*)
      .join(freq, Seq("token"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(blocks :+ col("id"): _*).orderBy(col("cnt"), col("token"))))
      .filter(col("rnk") <= prefixLenCol(threshold))
      .select(blocks :+ col("token") :+ col("id") :+ col("sz"): _*)

  /** Length filter: J ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|); the epsilon keeps
    * an exact-boundary pair (min = t·max in reals) from being excluded by a
    * double product that rounds up. */
  private def lengthFilter(szA: String, szB: String, threshold: Double) =
    least(col(szA), col(szB)).cast("double") >=
      greatest(col(szA), col(szB)) * threshold - lit(1e-9)

  /** EXACT all-pairs Jaccard self-join via prefix filtering — the deterministic
    * counterpart of [[minhashPairs]]: returns EVERY pair with token-set Jaccard
    * ≥ `threshold` (no LSH recall loss), without ever joining all pairs.
    *
    * Algorithm (prefix-filtering principle, as in the AllPairs/PPJoin family
    * and the MapReduce set-similarity join of Vernica/Carey/Li, SIGMOD 2010):
    * order each document's distinct tokens by ascending global frequency
    * (rarest first; ties by token) and key each doc only by its first
    * `|x| − ⌈t·|x|⌉ + 1` tokens. Any pair with Jaccard ≥ t shares ≥ ⌈t·max⌉
    * common tokens, and its first common token (in the canonical order)
    * provably falls inside BOTH prefixes — so an equi-join on
    * (block, prefix-token) has 100% recall. Candidates are then length-filtered
    * (min-size ≥ t·max-size), deduped, and exact-verified.
    *
    * Scale: shuffles are linear in corpus token count; the self-join keys on
    * RARE tokens (frequent tokens live in suffixes), so bucket sizes stay
    * bounded where an all-pairs-per-block join is quadratic. Replaces the
    * reference-style blocked cross pairing for dedup clustering.
    *
    * @param df        input with `idCol`, `tokensCol` (array; de-dup'd inside)
    *                  and `blockCols` (pairs must agree on these; may be empty).
    *                  Ids must be GLOBALLY unique — the verify join keys on id
    *                  alone, so duplicate ids silently merge token sets
    * @param threshold Jaccard threshold in (0, 1]
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold
    */
  def jaccardSelfJoin(df: DataFrame, tokensCol: String, idCol: String,
                      blockCols: Seq[String], threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1]: $threshold")
    val blocks = blockCols.map(col)
    val base = tokenSetBase(df, tokensCol, idCol, blocks)
    val freq = tokenFreq(Seq(base))
    // eager localCheckpoint: the prefix subtree (scan → explode → freq join →
    // per-doc rank) feeds BOTH sides of the self-join below; materializing it
    // once halves the heaviest stage. Executor-local blocks — swap for
    // reliable checkpoint on preemptible clusters.
    val prefix = prefixRows(base, freq, blocks, threshold).localCheckpoint(true)
    // NO parallelism pin here, deliberately (contrast incrementalWinnow /
    // containmentJoin): the rare-token prefix keeps candidate volume close
    // to the true-pair count, so AQE's coalesce of the small exchanges is
    // the RIGHT call — pinning was measured 2x SLOWER on q25 at sf0.1
    // (extra exchanges dominate when there is no explosion to parallelize)
    val a = prefix.select(blocks ++ Seq(col("token"), col("id").as("id_a"), col("sz").as("sz_a")): _*)
    val b = prefix.select(blocks ++ Seq(col("token"), col("id").as("id_b"), col("sz").as("sz_b")): _*)
    val candidates = a.join(b, blockCols :+ "token")
      .filter(col("id_a") < col("id_b"))
      .filter(lengthFilter("sz_a", "sz_b", threshold))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // barrier: without it PushDownPredicates folds the threshold filter
    // into the verify join via alias substitution, so array_intersect runs
    // once per candidate in the join AND again per survivor in the project.
    // Materializing (id, id, double) rows is candidate-count-proportional
    // and tiny next to a second intersect pass over the token arrays. The
    // join shape behind it is audited on the plan the checkpoint executed
    // (`Harness.executedPlans`), not on a lazy variant of this operator.
    candidates
      .join(base.select(col("id").as("id_a"), col("toks").as("t_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("toks").as("t_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), S.jaccard(col("t_a"), col("t_b")).as("jaccard"))
      .localCheckpoint(true)
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-corpus EXACT Jaccard join — the decontamination operator: every
    * (left, right) pair with token-set Jaccard ≥ `threshold`, e.g. training
    * docs that near-duplicate benchmark/eval docs. Same prefix-filtering
    * principle as [[jaccardSelfJoin]] with ONE canonical token order shared
    * by both corpora; candidates join prefix-to-prefix on (block, token),
    * then length-filter, dedupe, exact-verify.
    * Ids must be globally unique within each side (see [[jaccardSelfJoin]]).
    *
    * `freqFrom` picks the side the canonical token order is counted over:
    *  - `"union"` (default): both sides, each materialized once. It keeps
    *    both sides' private rare tokens as prefix keys, which two
    *    same-distribution corpora at a low threshold need (q65 at t=0.5: a
    *    single-side order inflated candidates, +30 % wall).
    *  - `"left"`: the left side only — name the SMALL side left (the daily
    *    batch of [[incrementalDedup]]). The frequency aggregation is
    *    O(batch tokens) and the right side is never materialized
    *    ([[tokenSetBaseLazy]]), so per-call cost tracks the batch, not the
    *    corpus (q164 −15 %, q209 −6 % at sf0.1 vs `"union"`, matched A/B).
    *    For a right-side order, swap the arguments and the output columns.
    *
    * Both orders emit the SAME pairs: the prefix-filter lemma holds for ANY
    * fixed total order shared by both sides (frequency order only shrinks
    * buckets), and a token outside the left vocabulary can leave the right
    * side's ranking with recall intact — every common token of a qualifying
    * pair is in both documents, hence in the left vocabulary, so the pair's
    * first common token still lands inside both prefixes (its rank only
    * drops; prefix lengths still come from the FULL set size). Verify is
    * exact, so only the candidate supersets differ (spec-pinned).
    *
    * Under `"left"`, when the order fits the driver (`freqCollectMaxRows`)
    * and tokens are strings, both sides' prefixes are extracted ROW-LOCALLY
    * against the collected order
    * ([[graft.functions.expressions.Kernels.prefixTokens]]): the right side
    * pays no explode→join→rank exchange (the 10× daily-ops gate leg's
    * 195 MB shuffle was that exchange). Above the collect bound the window
    * path runs with the order guarded-broadcast (`freqBroadcastMaxRows`).
    * The left prefix rows and then the materialized candidates are
    * guarded-broadcast, so neither the candidate join nor verify shuffles
    * the right side.
    *
    * @return (id_l, id_r, jaccard) with jaccard ≥ threshold */
  def jaccardCrossJoin(left: DataFrame, right: DataFrame, tokensCol: String,
                       idCol: String, blockCols: Seq[String],
                       threshold: Double, freqFrom: String = "union",
                       freqBroadcastMaxRows: Long = 4000000L,
                       freqCollectMaxRows: Long = 1000000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1]: $threshold")
    require(freqFrom == "union" || freqFrom == "left",
      s"freqFrom must be union|left (for a right-side order, swap the arguments): $freqFrom")
    val union = freqFrom == "union"
    val blocks = blockCols.map(col)
    val lBase = tokenSetBase(left, tokensCol, idCol, blocks)
    val rBase = if (union) tokenSetBase(right, tokensCol, idCol, blocks)
                else tokenSetBaseLazy(right, tokensCol, idCol, blocks)
    def prefixOf(base: DataFrame, sfx: String,
                 mk: DataFrame => DataFrame): DataFrame =
      mk(base).select(blocks ++ Seq(col("token"), col("id").as(s"id_$sfx"),
        col("sz").as(s"sz_$sfx")): _*)
    def windowed(freq: DataFrame) =
      (prefixOf(lBase, "l", prefixRows(_, freq, blocks, threshold)),
        prefixOf(rBase, "r", prefixRows(_, freq, blocks, threshold)))
    val (lPrefix, rPrefix) =
      if (union) windowed(tokenFreq(Seq(lBase, rBase)))
      else {
        val (f, nf) = checkpointCounted(tokenFreq(Seq(lBase)))
        val stringToks = lBase.schema("toks").dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, _) => true
          case _ => false
        }
        // (prefix rows, left token occurrences): f counts exactly the
        // exploded distinct tokens, so Σ cnt = Σ sz over lBase
        val (l, r, occ) =
          if (stringToks && nf <= freqCollectMaxRows) {
            val counts = f.collect()
            val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
              java.lang.Long](math.max(16, (nf * 2).toInt))
            counts.foreach(r => m.put(
              org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
              java.lang.Long.valueOf(r.getLong(1))))
            import graft.functions.expressions.HashExpressions.prefix_tokens
            // prefix_tokens returns views into the input row; explode
            // copies each element before the next row (Kernels.prefixTokens)
            def local(base: DataFrame): DataFrame =
              base.select(blocks :+ col("id") :+ col("sz") :+
                explode(prefix_tokens(col("toks"), threshold, m)).as("token"): _*)
            (prefixOf(lBase, "l", local), prefixOf(rBase, "r", local),
              counts.map(_.getLong(1)).sum)
          } else {
            val (lw, rw) = windowed(if (nf <= freqBroadcastMaxRows) broadcast(f) else f)
            (lw, rw, f.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0))
          }
        // guarded broadcast of the left prefix rows (a subset of its token
        // occurrences), so the candidate join never shuffles the right side
        (if (occ <= freqBroadcastMaxRows) broadcast(l) else l, r)
      }
    val candidates0 = lPrefix.join(rPrefix, blockCols :+ "token")
      .filter(lengthFilter("sz_l", "sz_r", threshold))
      .select(col("id_l"), col("id_r"))
      .distinct()
    // "left": candidates are materialized and guarded-broadcast into the
    // verify joins, and the lazy right side is cut to candidate ids BEFORE
    // its token expression evaluates (semi-join on the RAW side, tokenize
    // survivors) — its verify leg is a candidate-proportional map-side scan
    // that never shuffle-writes token arrays; the prefix leg stays the single
    // full tokenization pass. "union" keeps the candidates lazy (both bases
    // are checkpointed there; AQE handles the join strategy).
    val (candidates, rVerify) =
      if (union) (candidates0, rBase)
      else {
        val (c, nc) = checkpointCounted(candidates0)
        val hinted = if (nc <= freqBroadcastMaxRows) broadcast(c) else c
        (hinted, tokenSetBaseLazy(
          right.join(hinted.select(col("id_r").as(idCol)), Seq(idCol), "left_semi"),
          tokensCol, idCol, blocks))
      }
    // single-eval barrier, see jaccardSelfJoin
    candidates
      .join(lBase.select(col("id").as("id_l"), col("toks").as("t_l")), Seq("id_l"))
      .join(rVerify.select(col("id").as("id_r"), col("toks").as("t_r")), Seq("id_r"))
      .select(col("id_l"), col("id_r"), S.jaccard(col("t_l"), col("t_r")).as("jaccard"))
      .localCheckpoint(true)
      .filter(col("jaccard") >= threshold)
  }

  /** Build the persistent MinHash INDEX for [[incrementalMinhash]]: one
    * text-side scan computing each doc's 64-bit shingle hashes and LSH
    * signature. (idCol, sh, sig) — exactly what the incremental path needs
    * so the stored corpus is NEVER re-tokenized. */
  def minhashIndex(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, bands: Int = 16,
                   rowsPerBand: Int = 4): DataFrame =
    df.select(col(idCol),
        graft.functions.expressions.HashExpressions
          .hashed_shingles(col(textCol), shingleN).as("sh"))
      .withColumn("sig", S.minHashSignature(col("sh"), bands * rowsPerBand))

  /** Signature-index INCREMENTAL near-dedup — the LSH complement of
    * [[incrementalDedup]] for corpora where even one exact prefix-filter
    * pass over the stored side per day is too much: the stored corpus
    * participates ONLY through its persisted [[minhashIndex]] (no
    * re-tokenization, no text scan), candidate generation is BATCH-DRIVEN —
    * the batch's bucket keys semi-join the stored bucket rows down to
    * batch-touched buckets before any pair forms, so stored×stored pairs
    * are never enumerated and the daily pair work is batch-scoped by
    * construction (with the usual hot-bucket chain guard) — and the exact
    * Jaccard verify touches candidate pairs only.
    *
    * Semantics are TRANSITIVE (the honest cluster view): verified pairs
    * touching the batch form a graph with their stored endpoints; a batch
    * doc connected to ANY stored doc is `dup_of_stored` (attributed to the
    * smallest such stored id in its component — stored beats in-batch, as
    * in [[incrementalDedup]]); a remaining doc whose component min is not
    * itself is `dup_in_batch`; the rest are `kept`. Recall is the LSH
    * band recall — exact in the q26 high-threshold regime (identical
    * shingle sets ⇒ identical signatures ⇒ shared buckets), recall-bounded
    * below it (ApproxRecallSpec's regime).
    *
    * @param stored the (idCol, sh, sig) index from [[minhashIndex]] /
    *               previous calls' `updatedIndex`
    * @return (report: one row per batch doc (idCol, status, attributed_to),
    *         updatedIndex: stored ∪ kept docs' index rows — the input for
    *         the next day, making the operator its own fixpoint) */
  def incrementalMinhash(stored: DataFrame, batch: DataFrame, textCol: String,
                         idCol: String, shingleN: Int = 3, bands: Int = 16,
                         rowsPerBand: Int = 4, threshold: Double = 0.7,
                         maxBucketSize: Int = 1000): (DataFrame, DataFrame) = {
    val batchIdx = minhashIndex(batch, textCol, idCol, shingleN, bands, rowsPerBand)
      .localCheckpoint(true) // one text scan, reused for buckets + verify + index
    val storedIdx = stored.select(col(idCol).as("id"), col("sh"), col("sig"))
    def bandOf(d: DataFrame): DataFrame = d
      .select(col("id"), explode(S.lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    // BATCH-SCOPED candidate generation: the stored index is never
    // self-joined. Its bucket rows are cut down to buckets the BATCH touches
    // by a broadcast semi-join (evaluated map-side against the batch's bucket
    // keys — the stored side neither shuffles nor forms stored×stored
    // pairs), so pair-enumeration work scales with the batch whatever the
    // index size — the same daily-cost contract as [[incrementalDedup]].
    // Broadcasting is the design point: a daily batch's (band, bucket) key
    // set is bands×|batch| narrow rows, far under the stored index size.
    val bBuckets = bandOf(batchIdx.select(col(idCol).as("id"), col("sig")))
    val batchKeys = bBuckets.select(col("band"), col("bucket")).distinct()
    val members = bandOf(storedIdx)
      .join(broadcast(batchKeys), Seq("band", "bucket"), "left_semi")
      .unionByName(bBuckets)
    // membership of every batch-touched bucket stays COMPLETE (the semi-join
    // only drops whole untouched buckets), so bucket sizes — and with them
    // the hot-bucket chain guard — are IDENTICAL to the union-self-join
    // formulation: IncrementalDedupSpec pins report equality.
    val Wb = Window.partitionBy(col("band"), col("bucket"))
    val sized = members.withColumn("__bsz", count(lit(1)).over(Wb))
    val bIds = batchIdx.select(col(idCol).as("id"))
    val small = sized.filter(col("__bsz") <= maxBucketSize).drop("__bsz")
    val smallPairs = small.join(broadcast(bIds), Seq("id"), "left_semi")
      .select(col("band"), col("bucket"), col("id").as("__p"))
      .join(small.select(col("band"), col("bucket"), col("id").as("__o")),
        Seq("band", "bucket"))
      .filter(col("__p") =!= col("__o"))
      .select(least(col("__p"), col("__o")).as("id_a"),
        greatest(col("__p"), col("__o")).as("id_b"))
    // hot buckets (> maxBucketSize): the linear id-ordered chain over the
    // full membership, exactly as [[guardedBucketPairs]] forms it, keeping
    // only links with a batch endpoint (stored×stored links are the already-
    // deduplicated side)
    val hotPairs = sized.filter(col("__bsz") > maxBucketSize)
      .select(col("band"), col("bucket"), col("id").as("id_a"),
        lead(col("id"), 1).over(Wb.orderBy(col("id"))).as("id_b"))
      .filter(col("id_b").isNotNull)
      .join(broadcast(bIds.select(col("id").as("id_a"), lit(1).as("__la"))),
        Seq("id_a"), "left")
      .join(broadcast(bIds.select(col("id").as("id_b"), lit(1).as("__lb"))),
        Seq("id_b"), "left")
      .filter(col("__la").isNotNull || col("__lb").isNotNull)
      .select(col("id_a"), col("id_b"))
    val cand = smallPairs.unionByName(hotPairs).distinct()
    val shOf = storedIdx.select(col("id"), col("sh"))
      .unionByName(batchIdx.select(col(idCol).as("id"), col("sh")))
    val verified = cand
      .join(shOf.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shOf.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), S.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
    val comps = ConnectedComponents.run(verified, "id_a", "id_b")
    val storedMin = comps
      .join(stored.select(col(idCol).as("vertex")), Seq("vertex"), "left_semi")
      .groupBy(col("component")).agg(min(col("vertex")).as("__smin"))
    // a batch id that ALREADY EXISTS in the index is by definition stored
    // (an epoch re-delivery or a re-crawled doc) — without this rule the
    // id collapses in the union and never forms a pair, silently re-keeping
    // itself on every replay
    val already = batch.select(col(idCol))
      .join(stored.select(col(idCol)), Seq(idCol), "left_semi")
      .withColumn("__already", lit(1))
    val report = batch.select(col(idCol))
      .join(already, Seq(idCol), "left")
      .join(comps.select(col("vertex").as(idCol), col("component")), Seq(idCol), "left")
      .join(storedMin, Seq("component"), "left")
      .select(col(idCol),
        when(col("__already").isNotNull || col("__smin").isNotNull,
          lit("dup_of_stored"))
          .when(col("component").isNotNull && col("component") =!= col(idCol),
            lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        when(col("__already").isNotNull, col(idCol))
          .when(col("__smin").isNotNull, col("__smin"))
          .when(col("component").isNotNull && col("component") =!= col(idCol),
            col("component"))
          .otherwise(lit(null).cast("long")).as("attributed_to"))
    val kept = report.filter(col("status") === "kept").select(col(idCol))
    val updatedIndex = stored.unionByName(
      batchIdx.join(kept, Seq(idCol), "left_semi"))
    (report, updatedIndex)
  }

  /** Cross-batch INCREMENTAL near-dedup — the daily-ingest shape: a NEW
    * batch is deduplicated against the already-curated STORED corpus
    * without re-running stored×stored (the stored side is internally
    * deduplicated by construction, so only batch×stored and batch×batch
    * pairs can exist — at 100 TB that is the whole point: daily cost tracks
    * |batch|·(prefix-join fan-out), never |corpus|²; the stored side
    * contributes one prefix-filter index pass, exactly the
    * [[jaccardCrossJoin]] decontamination shape).
    *
    * Precedence is deterministic and replayable: a batch doc matching ANY
    * stored doc is `dup_of_stored` (attributed to the smallest matching
    * stored id); the remainder form a batch-only near-dup graph whose
    * connected components keep their minimum id (`kept`), everything else
    * `dup_in_batch` attributed to that canonical min. Survivors ∪ stored is
    * the next day's stored corpus — the operator is its own fixpoint (a
    * second run of the same batch marks every survivor `dup_of_stored`,
    * IncrementalDedupSpec pins it).
    *
    * @return one row per batch doc: (idCol, status, attributed_to) with
    *         attributed_to null for kept rows */
  def incrementalDedup(stored: DataFrame, batch: DataFrame, tokensCol: String,
                       idCol: String, blockCols: Seq[String],
                       threshold: Double): DataFrame = {
    // EXACT PRE-COLLAPSE (cheapest filter first — the dedupPipeline recipe
    // applied inside the incremental operator): batch docs with an
    // IDENTICAL (block, token-SET) are interchangeable in the similarity
    // graph — J(x, ·) is a function of the set alone — so ONE
    // representative per group (its min id) runs the expensive cross/self
    // legs and members inherit its fate. Report-identical by construction:
    // identical-set docs are pairwise J=1 ≥ t, so a full-graph component is
    // exactly a rep-graph component expanded by its groups, and because
    // each rep IS its group's min id, component minima (the attribution
    // ids) coincide. Without this, a flood of N copies of one content in a
    // batch (re-crawls, boilerplate, epoch re-delivery) makes the
    // within-batch leg enumerate and verify ~N²/2 TRUE pairs per content —
    // the quadratic term the 10× ScaleCheck `daily_ops` fixture exposed;
    // with it, the flood costs one group row and N-1 membership rows.
    // Docs with NULL/empty token sets never form pairs (the sz>0 contract
    // of the joins) and stay out of the grouping — each is its own rep.
    val canonSet = sort_array(array_distinct(col(tokensCol)))
    val keyed = batch.select(
      blockCols.map(col) :+ col(idCol) :+ canonSet.as("__cset"): _*)
    val groupable = keyed.filter(col("__cset").isNotNull && size(col("__cset")) > 0)
    // (id, __rep, __gsz) for every groupable batch doc: rep and group size
    // share ONE exchange (min + count over the same window partitioning —
    // guide §2.4), where a groupBy + join-back would shuffle the token
    // arrays three times
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(blockCols.map(col) :+ col("__cset"): _*)
    val members = groupable.select(col(idCol),
        min(col(idCol)).over(W).as("__rep"),
        count(lit(1)).over(W).as("__gsz"))
      .localCheckpoint(true)
    val reps = batch.join(
      members.filter(col(idCol) === col("__rep")).select(col(idCol)),
      Seq(idCol), "left_semi")
    // freqFrom = the BATCH side: the canonical token order is counted over
    // the batch only (result-identical — see jaccardCrossJoin), so the
    // daily cost never includes an O(stored tokens) frequency aggregation
    // and the stored side's prefix index carries batch-vocabulary tokens
    // only. This was the one per-batch O(corpus) term left in the dedup
    // gate (the stored side is already stats-pruned to batch-touched files
    // before it gets here).
    val toStoredRep = jaccardCrossJoin(reps, stored, tokensCol, idCol, blockCols,
        threshold, freqFrom = "left")
      .groupBy(col("id_l")).agg(min(col("id_r")).as("__att"))
    // a member's stored matches are exactly its rep's (identical sets)
    val toStored = members.select(col(idCol), col("__rep"))
      .join(toStoredRep.withColumnRenamed("id_l", "__rep"), Seq("__rep"))
      .select(col(idCol), col("__att"))
    val cleanReps = reps.join(toStoredRep.select(col("id_l").as(idCol)),
      Seq(idCol), "left_anti")
    val within = jaccardSelfJoin(cleanReps, tokensCol, idCol, blockCols, threshold)
      .select(col("id_a"), col("id_b"))
    val compsRep = ConnectedComponents.run(within, "id_a", "id_b")
    // expand rep components to members: a member of a PAIRED rep takes the
    // rep's component; an unpaired group of size ≥ 2 is its own full-graph
    // component with min = the rep (members are pairwise J=1); a singleton
    // unpaired group has no component (kept) — exactly the pre-collapse
    // full-graph semantics
    val comps = members
      .join(compsRep.select(col("vertex").as("__rep"), col("component")), Seq("__rep"), "left")
      .select(col(idCol),
        coalesce(col("component"),
          when(col("__gsz") >= 2, col("__rep"))).as("component"))
      .filter(col("component").isNotNull)
    batch.select(col(idCol))
      .join(toStored, Seq(idCol), "left")
      .join(comps, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__att").isNotNull, lit("dup_of_stored"))
          .when(col("component").isNotNull && col("component") =!= col(idCol),
            lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        when(col("__att").isNotNull, col("__att"))
          .when(col("component").isNotNull && col("component") =!= col(idCol),
            col("component"))
          .otherwise(lit(null).cast("long")).as("attributed_to"))
  }

  /** EXACT directed set-CONTAINMENT join: every ordered pair (a, b), a ≠ b,
    * with C(a→b) = |Tₐ ∩ T_b| / |Tₐ| ≥ `threshold` — the asymmetric
    * complement of [[jaccardSelfJoin]]. Jaccard misses snippet/superset
    * duplication (a quote, a syndicated excerpt, a doc wholly embedded in a
    * longer one has high containment but LOW Jaccard because the union is
    * dominated by the big side); containment is the standard detector for it.
    *
    * Prefix lemma (a-side only): C ≥ t needs |Tₐ ∩ T_b| ≥ ⌈t·|Tₐ|⌉, so `a`
    * can miss at most |Tₐ| − ⌈t·|Tₐ|⌉ of its own tokens — its first
    * |Tₐ| − ⌈t·|Tₐ|⌉ + 1 tokens in the canonical (global-frequency, token)
    * order must include a common one. Containment puts NO symmetric bound on
    * `b`, so the b side contributes its FULL inverted index (still
    * token-linear shuffle; the asymmetry is inherent to the predicate — see
    * the containment variants in the AllPairs/PPJoin literature). The only
    * sound length filter is |T_b| ≥ t·|Tₐ| (intersection can't exceed |T_b|).
    * Candidates then dedupe and exact-verify against the full token sets.
    *
    * Scale: a-side shuffle is prefix-linear, b-side token-linear — same
    * contract as [[jaccardSelfJoin]]'s index side; no all-pairs path. Hot
    * (frequent) tokens appear only in LONG docs' a-prefixes (rare tokens
    * rank first), so b-index bucket fan-out stays bounded by doc length
    * skew, not corpus size.
    *
    * @param df        input with `idCol` (globally unique), `tokensCol`
    *                  (array; de-dup'd inside), optional `blockCols`
    * @param threshold containment threshold in (0, 1]
    * @return (id_a, id_b, containment) directed, containment ≥ threshold */
  def containmentJoin(df: DataFrame, tokensCol: String, idCol: String,
                      blockCols: Seq[String], threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1]: $threshold")
    val blocks = blockCols.map(col)
    val base = tokenSetBase(df, tokensCol, idCol, blocks)
    val freq = tokenFreq(Seq(base))
    // One canonical-rank index serves BOTH sides: the a-prefix is rank ≤
    // prefix length, the b-side is the full index, and both carry their rank
    // for the POSITIONAL filter below.
    val ranked = base
      .select(blocks :+ col("id") :+ col("sz") :+ explode(col("toks")).as("token"): _*)
      .join(freq, Seq("token"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(blocks :+ col("id"): _*).orderBy(col("cnt"), col("token"))))
    val aPrefix = ranked.filter(col("rnk") <= prefixLenCol(threshold))
      .select(blocks ++ Seq(col("token"), col("id").as("id_a"),
        col("sz").as("sz_a"), col("rnk").as("p_a")): _*)
    val bIndex = ranked.select(blocks ++ Seq(col("token"), col("id").as("id_b"),
      col("sz").as("sz_b"), col("rnk").as("p_b")): _*)
    // Required overlap o = ⌈t·|A|⌉ (epsilon: see prefixLenCol). POSITIONAL
    // pruning (PPJoin family): candidates only need the FIRST common token,
    // which sits at canonical rank p_a in A and p_b in B — every other
    // common token ranks later in both, so |A∩B| ≤ min(sz_a−p_a, sz_b−p_b)+1.
    // Requiring that bound ≥ o prunes row-level before the distinct, with
    // recall untouched — the first common token of a TRUE pair provably
    // passes all three filters. (On an adversarial shared-vocabulary corpus
    // the prefix family is provably tight — candidates stay ~O(pairs); the
    // kernel-verify below is what keeps that regime cheap.)
    val o = ceil(col("sz_a") * threshold - lit(1e-9))
    // PIN the candidate join's parallelism (same rationale as
    // incrementalWinnow): the token-index inputs are a few MB but the
    // enumeration is quadratic-in-bucket on a shared-vocabulary corpus, so
    // AQE's size-based coalesce would run the explosion on a handful of
    // tasks.
    val sp = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val joinKeys = blockCols :+ "token"
    val candidates = aPrefix.repartition(sp, joinKeys.map(col): _*)
      .join(bIndex.repartition(sp, joinKeys.map(col): _*), joinKeys)
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("sz_b") >= o)
      .filter(col("sz_a") - col("p_a") >= o - 1 &&
        col("sz_b") - col("p_b") >= o - 1)
      .select(col("id_a"), col("id_b"))
      .distinct()
    // Verify on SORTED 64-bit TOKEN-HASH arrays with the codegen'd
    // merge-walk kernel: a low-diversity (shared-vocabulary) corpus defeats
    // prefix filtering — candidates approach all-pairs — and the verify
    // stage then dominates. array_intersect over string arrays builds a
    // per-pair hash set with UTF8 equality (measured 47 s for 9.3M
    // candidates at sf0.1); sorted_intersect_count is one primitive-compare
    // walk per pair. Collision contract: same as the rest of the shingle
    // pipeline (ngramOverlapJoin) — ~2⁻⁶⁴ per token pair, overcount-only.
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val hashCol = base.schema("toks").dataType match {
      // already 64-bit hashes (e.g. the hashed_shingles kernel) — sort as-is
      case ArrayType(LongType, _) => col("toks")
      case _ => transform(col("toks"), t => xxhash64(t))
    }
    val hbase = base.select(col("id"), array_sort(hashCol).as("hs"))
      .localCheckpoint(true)
    import graft.functions.expressions.HashExpressions.sorted_intersect_count
    val verified = candidates
      .join(hbase.select(col("id").as("id_a"), col("hs").as("h_a")), Seq("id_a"))
      .join(hbase.select(col("id").as("id_b"), col("hs").as("h_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (sorted_intersect_count(col("h_a"), col("h_b")).cast("double") /
          size(col("h_a")).cast("double")).as("containment"))
      .localCheckpoint(true) // single-eval barrier, see jaccardSelfJoin
    verified.filter(col("containment") >= threshold)
  }

  /** Exact word-n-gram decontamination (the GPT-3/PaLM recipe: a training doc
    * is contaminated if it shares ANY exact n-gram — canonically n=13 — with
    * a benchmark doc; [[jaccardCrossJoin]] is the NEAR-dup complement).
    *
    * Returns (id_l = corpus doc, id_r = benchmark doc, n_shared = distinct
    * shared n-grams), n_shared ≥ 1.
    *
    * Scale shape: each side explodes to (id, 64-bit gram hash) with per-doc
    * distinct grams — the fused [[graft.functions.expressions.HashExpressions
    * .hashedShingles]] kernel means the shuffle never carries gram TEXT. The
    * benchmark side is small by nature (eval sets), so the equi-join on the
    * gram hash broadcasts it; a 100 TB corpus streams map-side. Collision
    * contract: counts are over 64-bit hashes (~2⁻⁶⁴ false shares), same as
    * the whole shingle pipeline. */
  def ngramOverlapJoin(corpus: DataFrame, bench: DataFrame, textCol: String,
                       idCol: String, n: Int = 13): DataFrame = {
    import graft.functions.expressions.{HashExpressions => HE}
    def grams(df: DataFrame, side: String) = df.select(
        col(idCol).as(s"id_$side"),
        explode(HE.hashed_shingles(col(textCol), n)).as("__g"))
      .dropDuplicates(s"id_$side", "__g")
    grams(corpus, "l")
      .join(broadcast(grams(bench, "r")), Seq("__g"))
      .groupBy(col("id_l"), col("id_r"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-document n-gram NOVELTY against a train corpus — the GRADED
    * complement of [[ngramOverlapJoin]]'s binary contamination flag (the
    * memorization-risk / novelty analysis of Lee et al. 2022 §5 and the
    * eval-overlap appendices of GPT-3/PaLM): for each score doc, the
    * fraction of its DISTINCT n-grams never seen in train (per-doc distinct,
    * so in-doc boilerplate repetition does not multiply). A re-crawled
    * near-copy scores ~0; genuinely new text scores ~1; partial overlap
    * lands in between — the knob a curation pipeline thresholds where the
    * binary flag is too blunt.
    *
    * Scale shape: both sides run the fused `hashed_shingles` kernel, so
    * every exchange carries (id, 8-byte gram hash) — never gram text. The
    * train side reduces to DISTINCT hashes; novel occurrences come from a
    * LEFT ANTI join on the hash (hash-partitioned both sides, map-side
    * distinct on train); totals are row-local `size()`. No broadcast
    * assumption: unlike the decontamination join (bench side small), train
    * here is the big corpus and the anti-join shuffles both sides by the
    * 8-byte key. Collision contract: ~2⁻⁶⁴ per pair, undercount-only.
    * Docs with no n-gram (fewer than n tokens) are excluded (no evidence).
    * Returns (id, n_grams, n_novel, novelty ∈ [0,1]). */
  def ngramNovelty(train: DataFrame, score: DataFrame, textCol: String,
                   idCol: String, n: Int = 13): DataFrame = {
    import graft.functions.expressions.{HashExpressions => HE}
    val trainGrams = train
      .select(explode(HE.hashed_shingles(col(textCol), n)).as("__g")).distinct()
    val totals = score
      .select(col(idCol), size(HE.hashed_shingles(col(textCol), n)).cast("long").as("n_grams"))
      .filter(col("n_grams") > 0)
    val novel = score
      .select(col(idCol), explode(HE.hashed_shingles(col(textCol), n)).as("__g"))
      .join(trainGrams, Seq("__g"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq(idCol), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Bloom-filter n-gram decontamination — the ZERO-JOIN scale path beside
    * [[ngramOverlapJoin]]: the benchmark set's distinct n-grams build an
    * m-bit Bloom filter via a mergeable aggregate
    * ([[graft.functions.expressions.SketchAggregates.BloomSketchAgg]] —
    * partial bitsets OR map-side, m/8 bytes per partition on the wire), the
    * bitset is collected ONCE on the driver (m/8 bytes — 128 KiB at the
    * default 2²⁰ bits, the bounded-collect posture of the BPE cutover) and
    * shipped as a codegen reference into a single corpus scan. A 100 TB
    * corpus is probed with NO shuffle and NO join at all — the eval-set
    * cost is one bounded aggregation however large the corpus.
    *
    * Contract: NO false negatives (a truly shared gram always hits);
    * false-positive rate ≈ (1 − e^(−k·g/m))^k for g benchmark grams — the
    * defaults hold ~1e-9 at eval-set sizes (g ≈ 10⁴), so flags are
    * exact-equal in practice (q124's oracle replays the EXACT overlap and
    * hash-matches). Use [[ngramOverlapJoin]] when per-benchmark-doc pair
    * attribution is needed; this path answers "is this doc contaminated,
    * and how much" corpus-side.
    *
    * Returns (id, n_grams = distinct n-grams, n_hits = distinct grams
    * hitting the filter, contaminated = n_hits > 0). */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame, textCol: String,
                         idCol: String, n: Int = 13,
                         mBits: Int = 1 << 20, kHashes: Int = 5): DataFrame = {
    import graft.functions.expressions.{HashExpressions => HE, SketchAggregates => SK}
    val bits = bench
      .select(explode(graft.functions.SimilarityFunctions.wordShingles(col(textCol), n)).as("__g"))
      .agg(SK.bloom_sketch(col("__g"), mBits, kHashes).as("__bloom"))
      .head().getAs[Array[Byte]](0)
    corpus
      .select(col(idCol), HE.bloom_gram_hits(col(textCol), n, kHashes, bits).as("__b"))
      .select(col(idCol),
        col("__b.n_grams").as("n_grams"),
        col("__b.n_hits").as("n_hits"),
        (col("__b.n_hits") > 0).as("contaminated"))
  }

  /** Embedding-cosine near-dup pairs: LSH-bucketed by random-hyperplane sign
    * bits (shared deterministic planes), verified by exact cosine ≥ threshold.
    * Candidate generation is a bucket equi-join; no full cross join. */
  /** Winnowing fingerprints (Schleimer et al. 2003 — the MOSS local
    * fingerprinting scheme) as a table: (id, pos, fp) per selected k-gram.
    * Any substring of ≥ w+k−1 chars shared between two documents shares at
    * least one fingerprint (the winnowing guarantee), at density ~2/(w+1) —
    * the partial-overlap/plagiarism detector that whole-document
    * fingerprints (q21) and set-similarity (q25/q26) both miss. One
    * codegen'd kernel pass per document
    * ([[graft.functions.expressions.Kernels.winnowFingerprints]]); rows are
    * (id, int, long) — no text ever leaves the scan. */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 8, w: Int = 8): DataFrame =
    df.select(col(idCol),
        explode(graft.functions.expressions.HashExpressions
          .winnow_fingerprints(col(textCol), k, w)).as("f"))
      .select(col(idCol), col("f.pos").as("pos"), col("f.fp").as("fp"))

  /** Cross-document winnowing matches: pairs sharing ≥ `minShared` DISTINCT
    * fingerprint hashes, with the shared count as overlap evidence. Scale
    * shape: fingerprints bucket by their 8-byte hash and pairs form within
    * buckets only — the q21/q26 bucket-join family, with the same hot-bucket
    * guard (a fingerprint shared by > maxBucketSize docs is boilerplate, not
    * plagiarism signal; it is dropped and that is part of the contract). */
  def winnowMatches(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 8, w: Int = 8, minShared: Int = 2,
                    maxBucketSize: Int = 2000): DataFrame = {
    val fps = winnowFingerprints(df, textCol, idCol, k, w)
      .select(col(idCol), col("fp")).distinct()
    val sizes = fps.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select(col("fp"))
    val kept = fps.join(sizes, Seq("fp"))
    kept.select(col("fp"), col(idCol).as("id_a"))
      .join(kept.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Persisted winnowing index — the partial-overlap member of the fixpoint
    * family (exact q164, LSH q168, BM25 q170, IVF-PQ q169, CC q171): one
    * kernel pass over the corpus, stored as DISTINCT (id, fp) rows. */
  def winnowIndex(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 8, w: Int = 8): DataFrame =
    winnowFingerprints(df, textCol, idCol, k, w)
      .select(col(idCol), col("fp")).distinct()

  /** Incremental winnowing: find every stored document OVERLAPPING each
    * batch document (≥ `minShared` shared fingerprints) WITHOUT re-reading
    * stored text — the stored corpus participates only through its
    * persisted (id, fp) index. Candidate work is batch-scoped BY
    * CONSTRUCTION (the q168 lesson, applied from day one): stored index
    * rows are first semi-joined down to fingerprints the batch actually
    * produced, so pair enumeration never touches untouched index regions
    * and stored×stored pairs are never formed. The hot-fingerprint guard
    * counts documents per fp over (touched stored ∪ batch) and drops
    * buckets above `maxBucketSize` — shared boilerplate, not overlap
    * signal; same contract as [[winnowMatches]]. Winnowing is exact (no
    * LSH loss): a batch doc sharing a ≥ w+k−1-char substring with a stored
    * doc is guaranteed a shared fingerprint. Batch ids are assumed fresh
    * (ingest assigns them); re-sent ids simply re-match their own stored
    * fingerprints.
    * @return (matches (batch_id, stored_id, shared), updated index) */
  def incrementalWinnow(index: DataFrame, batch: DataFrame, textCol: String,
                        idCol: String, k: Int = 8, w: Int = 8,
                        minShared: Int = 2, maxBucketSize: Int = 2000):
      (DataFrame, DataFrame) = {
    // materialized: probed three times below, and the semi-join must see a
    // settled frame (the union-lineage self-join hazard — Retrieval.scala)
    val bfp = winnowIndex(batch, textCol, idCol, k, w).localCheckpoint(true)
    // touched stays LAZY: it is referenced twice (guard + match join) but
    // each evaluation is a map-side broadcast semi over the stored index —
    // materializing it would spool the stored side to executor storage,
    // which is exactly what the batch-scoped contract avoids at 100 TB.
    // ok IS materialized: it is tiny (one fp per row) and otherwise the
    // countDistinct guard re-runs inside both sides of the match join.
    val touched = index.join(bfp.select(col("fp")).distinct(), Seq("fp"), "left_semi")
    val occ = touched.select(col("fp"), col(idCol))
      .unionByName(bfp.select(col("fp"), col(idCol)))
    val ok = occ.groupBy(col("fp")).agg(countDistinct(col(idCol)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select(col("fp"))
      .localCheckpoint(true)
    // PIN the pair join's parallelism: its inputs are tiny (16-byte
    // (fp, id) rows) but its output is quadratic-in-bucket, so AQE's
    // size-based coalesce collapses the input exchanges to one or two
    // tasks and SERIALIZES the explosion (measured 15 s -> 6 s at sf0.1,
    // 28M pair occurrences out of 6 MB of join input). Explicit
    // numPartitions keeps AQE's hands off these two exchanges only.
    val sp = index.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val matches = bfp.join(ok, Seq("fp")).select(col("fp"), col(idCol).as("batch_id"))
      .repartition(sp, col("fp"))
      .join(touched.join(ok, Seq("fp")).select(col("fp"), col(idCol).as("stored_id"))
        .repartition(sp, col("fp")),
        Seq("fp"))
      .groupBy(col("batch_id"), col("stored_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    (matches, index.unionByName(bfp))
  }

  /** LSH parameter planner: for a hash budget `totalHashes`, enumerate
    * every (bands b, rowsPerBand r) split with b·r = totalHashes and price
    * it — collision probability at the target threshold
    * recall_at_t = 1 − (1 − t^r)^b (the S-curve), the curve's midpoint
    * (1/b)^(1/r) (the similarity where collision probability crosses ~0.5
    * — where the banding "thresholds"), and the false-positive mass proxy
    * at a given junk similarity. This is the design table behind every
    * banded operator here ([[minhashPairs]], [[simhashPairs]],
    * [[embeddingNearDupPairs]], `incrementalMinhash`): pick the row whose
    * midpoint sits just under your threshold and whose junk collision rate
    * is affordable. Driver-free, data-free, exactly replayable. */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, threshold: Double,
              totalHashes: Int, junkSimilarity: Double = 0.2): DataFrame = {
    require(threshold > 0 && threshold < 1 && totalHashes >= 1)
    spark.range(1, totalHashes + 1L).toDF("bands")
      .filter(lit(totalHashes) % col("bands") === 0)
      .withColumn("rows_per_band", (lit(totalHashes) / col("bands")).cast("long"))
      .select(col("bands"), col("rows_per_band"),
        round(lit(1.0) - pow(lit(1.0) - pow(lit(threshold), col("rows_per_band")),
          col("bands")), 6).as("recall_at_t"),
        round(pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")), 6)
          .as("midpoint"),
        round(lit(1.0) - pow(lit(1.0) - pow(lit(junkSimilarity), col("rows_per_band")),
          col("bands")), 6).as("junk_collision"))
  }

  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            dim: Int, planesPerBand: Int = 8, bands: Int = 6,
                            threshold: Double = 0.95,
                            maxBucketSize: Int = 1000): DataFrame = {
    require(planesPerBand * bands <= 63, "planesPerBand*bands must fit in a long")
    // BANDED amplification (the minhash-LSH recipe applied to hyperplane
    // signs): one (planesPerBand×bands)-bit signature per vector, candidates
    // collide on ANY band's sub-key. A single 12-plane bucket has recall
    // (1−θ/π)^12 ≈ 0.28 for θ = acos(0.95) — banding lifts pairs at the 0.95
    // threshold to 1−(1−p^b)^B ≈ 0.97 for b=8, B=6 at ~B× the join volume.
    val totalPlanes = planesPerBand * bands
    val mask = (1L << planesPerBand) - 1
    val keyed = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", Ann.hyperplaneBucket(col("v"), dim, totalPlanes))
    val banded = keyed.select(col("id"), col("v"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * planesPerBand).bitwiseAND(mask).as("key"))): _*)).as("bk"))
      .select(col("id"), col("v"), col("bk.band").as("band"), col("bk.key").as("key"))
    guardedBucketPairs(banded, Seq("band", "key"), "id", Seq("v"), maxBucketSize)
      // the same pair collides in several bands — verify cosine ONCE per pair
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), S.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
