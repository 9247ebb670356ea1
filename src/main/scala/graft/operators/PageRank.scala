package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank in FIXED-POINT integer arithmetic — the domain/page
  * authority signal curation pipelines use for source-quality weighting
  * (e.g. ranking crawl domains before sampling), in a formulation that is
  * EXACT under a hash-compare oracle:
  *
  *  - ranks are scaled integers (`scale` = 1.0), contributions are integer
  *    floor divisions `r div outdeg`, and the damping step is
  *    `(1-d)·scale + (dNum · Σcontrib) div dDen` — every operation is an
  *    integer op, so partial-aggregation order cannot perturb the result
  *    (double summation order would), and a sequential SQL replay of the
  *    same unrolled iterations matches bit-for-bit.
  *
  * Scale shape per iteration: one equi-join of edges onto the rank table
  * (shuffle on src), one hash aggregation of contributions (map-side
  * partial sums — integer adds combine), one left join back onto the node
  * set. All standard co-partitionable shapes; nothing is driver-bound. Like
  * [[ConnectedComponents]], each iteration's result is localCheckpoint'd
  * past `checkpointEvery` iterations to truncate the growing lineage.
  */
object PageRank {

  /** @param edges      directed edge list (parallel edges count twice)
    * @param srcCol     source-node column on `edges`
    * @param dstCol     destination-node column on `edges`
    * @param nodes      node universe (ids; nodes with no in-edges keep the
    *                   base rank, nodes absent from `edges` dangle silently
    *                   — their mass is dropped, the standard simplification)
    * @param idCol      id column on `nodes`
    * @param iterations fixed iteration count (deterministic, no tolerance)
    * @param scale      fixed-point scale of rank 1.0
    * @param dampNum/dampDen damping d as a rational (85/100 = 0.85)
    * @return (idCol, pr) — pr after `iterations` rounds, fixed-point */
  def fixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                 nodes: DataFrame, idCol: String, iterations: Int,
                 scale: Long = 1000000L, dampNum: Long = 85,
                 dampDen: Long = 100, checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 0 && scale > 0 && dampNum >= 0 && dampDen > 0)
    val base = scale - (dampNum * scale) / dampDen // (1-d)·scale, exact
    val ids = nodes.select(col(idCol))
    val outdeg = edges.groupBy(col(srcCol)).agg(count(lit(1)).as("__deg"))
    // degree table reused every iteration — joined once onto the edges here
    val degEdges = edges.select(col(srcCol), col(dstCol))
      .join(outdeg, srcCol).localCheckpoint(true)
    var ranks = ids.withColumn("pr", lit(scale))
    for (i <- 1 to iterations) {
      val contribs = degEdges
        .join(ranks.withColumnRenamed(idCol, "__src_id"),
          col(srcCol) === col("__src_id"))
        .select(col(dstCol), expr("pr div __deg").as("__c"))
        .groupBy(col(dstCol)).agg(sum(col("__c")).as("__s"))
      ranks = ids
        .join(contribs, col(idCol) === col(dstCol), "left")
        .select(col(idCol),
          (lit(base) + expr(s"$dampNum * coalesce(__s, 0) div $dampDen"))
            .as("pr"))
      if (i % checkpointEvery == 0 && i < iterations)
        ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** [[fixedPoint]] with its full per-iteration TRACE — the stored form
    * incremental PageRank needs: `(iter, id, pr)` for iter 0..`iterations`
    * (iter 0 = uniform `scale`). A node's rank at iteration i is a
    * function of its i-hop in-ball's ranks AND out-degrees, so the
    * incremental pass must know every untouched node's rank at every
    * intermediate round — same sufficiency argument as
    * [[GraphOps.labelPropagationTrace]]. Persist partitioned by `iter`. */
  def fixedPointTrace(edges: DataFrame, srcCol: String, dstCol: String,
                      nodes: DataFrame, idCol: String, iterations: Int,
                      scale: Long = 1000000L, dampNum: Long = 85,
                      dampDen: Long = 100): DataFrame = {
    require(iterations >= 1 && scale > 0 && dampNum >= 0 && dampDen > 0)
    val base = scale - (dampNum * scale) / dampDen
    val ids = nodes.select(col(idCol).as("id")).localCheckpoint(true)
    val outdeg = edges.groupBy(col(srcCol)).agg(count(lit(1)).as("__deg"))
    val degEdges = edges.select(col(srcCol), col(dstCol))
      .join(outdeg, srcCol).localCheckpoint(true)
    var ranks = ids.withColumn("pr", lit(scale))
    var trace = ranks.withColumn("iter", lit(0))
    for (i <- 1 to iterations) {
      val contribs = degEdges
        .join(ranks.withColumnRenamed("id", "__src_id"),
          col(srcCol) === col("__src_id"))
        .select(col(dstCol), expr("pr div __deg").as("__c"))
        .groupBy(col(dstCol)).agg(sum(col("__c")).as("__s"))
      ranks = ids
        .join(contribs, col("id") === col(dstCol), "left")
        .select(col("id"),
          (lit(base) + expr(s"$dampNum * coalesce(__s, 0) div $dampDen"))
            .as("pr"))
        .localCheckpoint(true)
      trace = trace.unionByName(ranks.withColumn("iter", lit(i)))
    }
    trace.select(col("iter"), col("id"), col("pr"))
  }

  /** INCREMENTAL fixed-point PageRank — the q171/q208 stored-trace recipe
    * completing the incremental graph family: merge a batch of NEW edges
    * into a stored per-iteration rank trace ([[fixedPointTrace]]) by
    * recomputing ONLY where the batch can have changed a rank, with EXACT
    * equality to [[fixedPointTrace]] over stored ∪ batch edges.
    *
    * Why EXACT is achievable here (float PageRank would need a tolerance
    * cutoff, because every rank shifts a little and the deltas never
    * die): this formulation is fixed-point INTEGER arithmetic, so "did
    * node v's rank at iteration i change?" is decidable by equality, and
    * the floor divisions QUANTIZE propagation — a rank delta too small to
    * move `pr div outdeg` contributes exactly nothing downstream and the
    * cascade stops. The delta frontier, per iteration i:
    *   - out-neighbors (union graph) of DIRTY SOURCES — nodes with a
    *     batch out-edge: their out-degree changed, so every contribution
    *     they make is re-derived each round regardless of rank movement;
    *   - out-neighbors of nodes whose iteration-(i−1) rank CHANGED vs the
    *     stored trace (brand-new nodes count as changed);
    *   - new nodes themselves (they need trace rows even with no
    *     in-edges).
    * A node outside the frontier has a bit-identical in-neighbor
    * (rank, out-degree) multiset between the two graphs, so its integer
    * rank is unchanged — the induction mirrors
    * [[GraphOps.incrementalLabelPropagation]], and its stored row passes
    * through verbatim.
    *
    * Honest worst case: ranks DO propagate through the damping term, so a
    * batch shifting a hub's rank by ≥ its smallest out-quantum cascades —
    * potentially O(nodes·iters) recompute. The frontier then degrades to
    * the from-scratch cost, never to wrong answers, and the guarded
    * broadcasts (`broadcastMaxRows`, counted per round on checkpointed
    * deltas) fall back to shuffle joins instead of dying. Batch-local
    * cost whenever rank influence is (measured: ScaleCheck section
    * `pagerank_incremental`).
    *
    * @param storedEdges the FULL stored edge set the trace was built from
    *                    (parallel edges count, as in [[fixedPoint]])
    * @param trace       `(iter, id, pr)` from [[fixedPointTrace]] (or a
    *                    previous incremental pass) with the same params
    * @return the updated trace over the union graph — slice
    *         `iter = iterations` for final ranks; feed the whole thing to
    *         the next pass. */
  def incrementalFixedPoint(storedEdges: DataFrame, trace: DataFrame,
                            batchEdges: DataFrame, srcCol: String,
                            dstCol: String, iterations: Int,
                            scale: Long = 1000000L, dampNum: Long = 85,
                            dampDen: Long = 100,
                            broadcastMaxRows: Long = 10000000L): DataFrame = {
    require(iterations >= 1 && scale > 0 && dampNum >= 0 && dampDen > 0)
    val base = scale - (dampNum * scale) / dampDen
    val union = storedEdges.select(col(srcCol), col(dstCol))
      .unionByName(batchEdges.select(col(srcCol), col(dstCol)))
    val outdeg = union.groupBy(col(srcCol)).agg(count(lit(1)).as("__deg"))
    val degEdges = union.join(outdeg, srcCol).localCheckpoint(true)
    // dirty sources: out-degree changed (covers new edges' contributions)
    val dirtySrc = batchEdges.select(col(srcCol).as("id")).distinct()
      .localCheckpoint(true)
    val nDirtySrc = dirtySrc.count() // once — feeds every round's touched bound
    val storedIds = trace.filter(col("iter") === 0).select(col("id"))
    val newIds = batchEdges.select(col(srcCol).as("id"))
      .unionByName(batchEdges.select(col(dstCol).as("id"))).distinct()
      .join(storedIds, Seq("id"), "left_anti").localCheckpoint(true)
    // changed_0: new nodes only (iteration 0 is uniform scale everywhere)
    var changed = newIds.withColumn("pr", lit(scale)).localCheckpoint(true)
    var changedCount = changed.count()
    var changedSmall = changedCount <= broadcastMaxRows
    var out = trace.filter(col("iter") === 0)
      .unionByName(changed.withColumn("iter", lit(0)))
    // Broadcast hints are GUARDED by a counted bound (deltas are
    // frontier-bounded by design, but the documented hub-cascade worst
    // case makes one O(nodes) — fall back to shuffle joins, never die on
    // the broadcast limit); each count is taken ONCE per materialized
    // delta and reused. The i−1 ranks are CUT map-side to the sources the
    // contribution join actually reads (srcNeeded) — the round-13 shape
    // joined the frontier-cut edges against the FULL patched slice, an
    // O(nodes) shuffle per round that made the 100× incremental wall
    // exceed from-scratch even as it shuffled 2.7× fewer bytes.
    for (i <- 1 to iterations) {
      val prevStored = trace.filter(col("iter") === i - 1)
        .select(col("id"), col("pr"))
      def ch(df: DataFrame): DataFrame = if (changedSmall) broadcast(df) else df
      // frontier: union out-neighbors of (dirty srcs ∪ rank changes),
      // plus new nodes (they need rows even with no in-edges).
      // touchedSrc stays LAZY with an ARITHMETIC hint bound (guide §1.2):
      // |touched| ≤ |dirtySrc| + |changed|, both already counted — its old
      // localCheckpoint + count were two driver jobs per round for a
      // single-consumer frame whose distinct runs inside the broadcast
      // build anyway. Conservative: the bound can only downgrade the hint.
      val touchedSrc = dirtySrc.unionByName(changed.select(col("id"))).distinct()
      val touchedSmall = nDirtySrc + changedCount <= broadcastMaxRows
      val frontier = degEdges
        .join(if (touchedSmall) broadcast(touchedSrc.withColumnRenamed("id", srcCol))
              else touchedSrc.withColumnRenamed("id", srcCol),
          Seq(srcCol), "left_semi")
        .select(col(dstCol).as("id"))
        .unionByName(newIds).distinct().localCheckpoint(true)
      val frontierIsSmall = frontier.count() <= broadcastMaxRows
      def fh(df: DataFrame): DataFrame = if (frontierIsSmall) broadcast(df) else df
      // edges INTO the frontier, materialized ONCE: the contribution
      // join's left side AND the source of the src-id cut below
      val frontEdges = degEdges
        .join(fh(frontier.withColumnRenamed("id", dstCol)), Seq(dstCol), "left_semi")
        .localCheckpoint(true)
      // srcNeeded stays LAZY: distinct runs once inside the broadcast
      // build (the two sh() uses are identical subtrees — exchange reuse);
      // the hint is guarded by |frontEdges| ≥ |srcNeeded|, a NARROW count
      // over the checkpointed edge blocks (the GraphOps bNeeded fold)
      val srcNeeded = frontEdges.select(col(srcCol).as("id")).distinct()
      val srcSmall = frontEdges.count() <= broadcastMaxRows
      def sh(df: DataFrame): DataFrame = if (srcSmall) broadcast(df) else df
      // i−1 ranks of the union run, restricted to the sources the
      // contribution join reads: stored slice cut map-side, override
      // patched in — the trace slice is SCANNED but never shuffled, and
      // the contribution join itself is delta×delta
      val prevNeeded = prevStored
        .join(sh(srcNeeded), Seq("id"), "left_semi")
        .join(ch(changed.select(col("id"))), Seq("id"), "left_anti")
        .unionByName(changed.join(sh(srcNeeded), Seq("id"), "left_semi"))
      val contribs = frontEdges
        .join(prevNeeded.withColumnRenamed("id", "__src_id"),
          col(srcCol) === col("__src_id"))
        .select(col(dstCol), expr("pr div __deg").as("__c"))
        .groupBy(col(dstCol)).agg(sum(col("__c")).as("__s"))
      val recomputed = frontier
        .join(contribs, col("id") === col(dstCol), "left")
        .select(col("id"),
          (lit(base) + expr(s"$dampNum * coalesce(__s, 0) div $dampDen"))
            .as("pr"))
      // change detection against the stored slice, frontier-cut map-side
      val curStored = trace.filter(col("iter") === i).select(col("id"), col("pr"))
      val curStoredF = curStored.join(fh(frontier), Seq("id"), "left_semi")
      val override_ = recomputed.join(curStoredF, Seq("id", "pr"), "left_anti")
        .localCheckpoint(true)
      val overrideCount = override_.count()
      val overrideSmall = overrideCount <= broadcastMaxRows
      val full = curStored
        .join(if (overrideSmall) broadcast(override_) else override_,
          Seq("id"), "left_anti")
        .unionByName(override_)
      out = out.unionByName(full.withColumn("iter", lit(i)))
      changed = override_
      changedCount = overrideCount
      changedSmall = overrideSmall
    }
    out.select(col("iter"), col("id"), col("pr"))
  }
}
