package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics beyond component labeling (see [[ConnectedComponents]] /
  * [[PageRank]]): triangle enumeration — the structural signal behind
  * clustering coefficients, community density, and link-spam detection in a
  * web-crawl corpus.
  */
object GraphOps {

  /** Enumerate all triangles of an undirected graph, each exactly once, as
    * (a, b, c) with a < b < c.
    *
    * The naive wedge join (all 2-paths × edge membership) is quadratic in
    * the max degree — one celebrity node generates d² wedges. This uses the
    * standard DEGREE-ORDERED orientation: direct every edge from its
    * (degree, id)-smaller endpoint to the larger, then join forward edges on
    * their source. Every wedge generator now has out-degree bounded by
    * O(√E) (a node of degree d keeps forward edges only toward
    * same-or-higher-degree nodes, of which there are ≤ 2E/d), so total
    * wedge work is O(E^1.5) regardless of skew — the classic MapReduce
    * triangle bound. All steps are equi-joins and bounded aggregations;
    * nothing is quadratic in any single node's degree.
    *
    * Self-loops are dropped; parallel edges collapse via the canonical
    * (min, max) distinct.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("ea"),
        greatest(col("u"), col("v")).as("eb"))
      .distinct()
    val deg = e.select(explode(array(col("ea"), col("eb"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("ea"), col("d").as("da")), Seq("ea"))
      .join(deg.select(col("n").as("eb"), col("d").as("db")), Seq("eb"))
    val fwd = withDeg.select(
      when(struct(col("da"), col("ea")) < struct(col("db"), col("eb")),
        struct(col("ea").as("s"), col("eb").as("t")))
        .otherwise(struct(col("eb").as("s"), col("ea").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val wedges = fwd.as("e1").join(fwd.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("u"), col("e1.t").as("v"), col("e2.t").as("w"))
    val closed = wedges.join(e,
      least(col("v"), col("w")) === col("ea") &&
        greatest(col("v"), col("w")) === col("eb"), "left_semi")
    closed
      .select(array_sort(array(col("u"), col("v"), col("w"))).as("t"))
      .select(element_at(col("t"), 1).as("a"), element_at(col("t"), 2).as("b"),
        element_at(col("t"), 3).as("c"))
  }

  /** Per-vertex triangle participation counts (vertices in ≥1 triangle). */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangles(edges, srcCol, dstCol)
      .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_triangles"))

  /** SYNCHRONOUS label propagation — community detection over the link /
    * near-dup graph, the deterministic variant: every node starts labeled
    * with its own id; each iteration EVERY node simultaneously adopts the
    * most frequent label among its (distinct, symmetrized) neighbors, ties
    * broken by the smallest label; isolated nodes keep theirs. The
    * textbook asynchronous LPA is update-order-dependent and therefore
    * irreproducible across partitionings — synchronous + a total tiebreak
    * is the only formulation a distributed engine should ship (and the
    * only one an oracle can replay).
    *
    * Per iteration: one edge-label equi-join, one (node, label) count, one
    * per-node argmax window — sharing ONE exchange: the vote rows are
    * hash-repartitioned by node id up front, which satisfies BOTH the
    * count's ClusteredDistribution(a, label) (a ⊆ {a, label}) and the
    * window's ClusteredDistribution(a), so the round-13 shape's second
    * full exchange of the vote rows is gone (guide §2.4 — two operations
    * keyed the same way share one exchange). Labels materialize each round
    * (localCheckpoint) so the plan does not deepen with `iters`; a hub
    * node's vote count is one aggregation row per (hub, label), never a
    * widened row. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       nodes: DataFrame, idCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val sym = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct().localCheckpoint(true)
    val ids = nodes.select(col(idCol).as("id")).localCheckpoint(true)
    var labels = ids.select(col("id"), col("id").as("label"))
    for (_ <- 1 to iters) {
      val next = argmaxVote(sym
        .join(labels.select(col("id").as("b"), col("label")), Seq("b")))
      labels = ids.join(next, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        .localCheckpoint(true)
    }
    labels.select(col("id").as(idCol), col("label"))
  }

  /** The synchronous-LPA vote: most frequent `label` per `a`, ties to the
    * smallest label. One explicit hash repartition on `a` feeds both the
    * (a, label) count and the per-a argmax window — HashPartitioning(a)
    * satisfies ClusteredDistribution(a, label) AND ClusteredDistribution(a),
    * so the vote rows cross the network ONCE per round instead of twice
    * (measured on the 100× ring of ScaleCheck section `lpa_incremental`; the
    * round-13 two-exchange form, plan evidence in
    * `plans/r14/op_lpa_vote_round_{before,after}.txt`, shuffled every vote
    * row through Exchange(a, label) and again through Exchange(a)). A
    * min-struct aggregation would avoid the window's sort but plans as
    * SortAggregate (struct buffers are not hash-aggregable),
    * which SORTS the full vote set twice — measured 4× slower at 100×.
    *
    * HUB-SKEW tradeoff (deliberate): keying the first exchange by `a`
    * alone lands a hub's ENTIRE O(deg) raw vote set in one task before any
    * aggregation, where the old (a, label)-keyed first exchange
    * partial-aggregated map-side and spread it. The single-exchange form
    * wins whenever label diversity per neighborhood is non-trivial (the
    * partial agg then barely shrinks rows, so the second full exchange is
    * pure loss); on a power-law graph whose max degree is a large fraction
    * of one task's comfortable row budget, the straggler risk flips the
    * trade — restore the (a, label)-keyed aggregation ahead of the window
    * for such inputs. The memory note below is unaffected: a hub is many
    * NARROW rows in one task (sorted, spillable), never a widened row. */
  private[graft] def argmaxVote(edgeLabels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    edgeLabels
      .repartition(col("a"))
      .groupBy(col("a"), col("label")).agg(count(lit(1)).as("__n"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("__n").desc, col("label"))))
      .filter(col("__r") === 1)
      .select(col("a").as("id"), col("label"))
  }

  /** [[labelPropagation]] with its full per-iteration TRACE — the stored
    * form incremental LPA needs: `(iter, id, label)` for iter 0..`iters`
    * (iter 0 = identity labels). A node's synchronous-LPA label at
    * iteration i is a function of its i-hop ball, so an incremental update
    * must know what every UNTOUCHED node's label was at every intermediate
    * round — the final labeling alone is not a sufficient statistic (unlike
    * connected components, where the labeling is a lossless contraction).
    * `iters` is small (3 in every use here), so the trace costs iters+1
    * narrow rows per node — persist it partitioned by `iter`. */
  def labelPropagationTrace(edges: DataFrame, srcCol: String, dstCol: String,
                            nodes: DataFrame, idCol: String,
                            iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val sym = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct().localCheckpoint(true)
    val ids = nodes.select(col(idCol).as("id")).localCheckpoint(true)
    var labels = ids.select(col("id"), col("id").as("label"))
    var trace = labels.withColumn("iter", lit(0))
    for (i <- 1 to iters) {
      val next = argmaxVote(sym
        .join(labels.select(col("id").as("b"), col("label")), Seq("b")))
      labels = ids.join(next, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        .localCheckpoint(true)
      trace = trace.unionByName(labels.withColumn("iter", lit(i)))
    }
    trace.select(col("iter"), col("id"), col("label"))
  }

  /** INCREMENTAL synchronous label propagation — the q171 incremental-CC
    * recipe applied to communities: merge a batch of NEW edges into a
    * stored per-iteration labeling ([[labelPropagationTrace]]) by
    * replaying votes ONLY where the batch can have changed them, with
    * EXACT equality to [[labelPropagation]] over stored ∪ batch edges.
    *
    * The delta frontier, per iteration i:
    *   - `dirtyAdj` — nodes incident to a batch edge: their NEIGHBOR SET
    *     changed, so their vote must recompute every round regardless of
    *     labels (a new neighbor shifts the tally even when nobody moved);
    *   - nodes adjacent (in the union graph) to a node whose iteration-i−1
    *     label CHANGED vs the stored trace — the only other way a vote can
    *     move. Brand-new nodes count as changed (they have no stored
    *     label).
    * Everything outside the frontier keeps its stored trace row verbatim:
    * its i-hop ball is bit-identical between the two graphs, so
    * synchronous LPA gives it the same label — the exactness argument, and
    * why this needs the trace rather than the final labels.
    *
    * Cost: per iteration, one edge semi-join to find the frontier and one
    * vote join over frontier-incident edges — COMPUTE is
    * Σ deg(frontier), batch-local whenever community structure is (the
    * honest worst case — a batch rewiring a hub — cascades like the
    * giant-bridging case of [[ConnectedComponents.incremental]]). Scans of
    * the stored edge/trace tables are per-iteration but compute-light.
    *
    * @param storedEdges the FULL stored edge set (the persisted edge table
    *                    the trace was computed from)
    * @param trace       `(iter, id, label)` from [[labelPropagationTrace]]
    *                    (or a previous incremental pass) with the same
    *                    `iters`
    * @return the updated trace over the union graph — slice `iter = iters`
    *         for final labels; feed the whole thing to the next pass. */
  def incrementalLabelPropagation(storedEdges: DataFrame, trace: DataFrame,
                                  batchEdges: DataFrame, srcCol: String,
                                  dstCol: String, iters: Int,
                                  broadcastMaxRows: Long = 10000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    // Deltas are frontier-bounded by design, but the documented worst case
    // (a batch rewiring a hub) makes a delta O(nodes) — every broadcast
    // below is guarded by a row-count bound and falls back to shuffle
    // joins instead of dying on the broadcast limit. Counts are taken ONCE
    // per materialized delta and the decision reused (each count is a
    // driver job; at small scale job overhead dominated the round).
    def symOf(e: DataFrame): DataFrame = e
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(e.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
    val symUnion = symOf(storedEdges.unionByName(batchEdges)).localCheckpoint(true)
    val dirtyAdj = symOf(batchEdges).select(col("a").as("id")).distinct()
      .localCheckpoint(true)
    val storedIds = trace.filter(col("iter") === 0).select(col("id"))
    val newIds = dirtyAdj.join(storedIds, Seq("id"), "left_anti")
      .localCheckpoint(true)
    // changed_0: new nodes only (stored iteration-0 labels are ids, as are
    // the union run's)
    var changed = newIds.select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    var changedSmall = changed.count() <= broadcastMaxRows
    var out = trace.filter(col("iter") === 0)
      .unionByName(changed.withColumn("iter", lit(0)))
    // Every join below pairs an O(graph) frame with a FRONTIER-BOUNDED
    // delta. The deltas carry broadcast() hints GUARDED by a counted bound
    // (small by design and localCheckpointed, but letting the planner
    // guess risks an O(nodes) shuffle per round — exactly the cost this
    // operator exists to avoid): all big-side work is then map-side scans
    // of the stored edge/trace frames, and the only aggregations run over
    // frontier-incident rows. In particular the i−1 labels are CUT to the
    // neighbor ids the vote join actually needs (bNeeded, map-side via the
    // broadcast semi) BEFORE that join — the round-13 shape joined the
    // frontier-cut edges against the FULL patched slice, an O(nodes)
    // shuffle per round that made the 100× incremental wall exceed
    // from-scratch even as it shuffled 5× fewer bytes.
    for (i <- 1 to iters) {
      val prevStored = trace.filter(col("iter") === i - 1).select(col("id"), col("label"))
      def ch(df: DataFrame): DataFrame = if (changedSmall) broadcast(df) else df
      // frontier: dirty adjacency ∪ neighbors of last round's label changes
      val frontier = dirtyAdj.unionByName(
          symUnion.join(ch(changed.select(col("id").as("b"))), Seq("b"), "left_semi")
            .select(col("a").as("id")))
        .distinct().localCheckpoint(true)
      // one count per round decides every frontier hint
      val frontierIsSmall = frontier.count() <= broadcastMaxRows
      def fh(df: DataFrame): DataFrame = if (frontierIsSmall) broadcast(df) else df
      // frontier-incident edges, materialized ONCE: the vote join's left
      // side AND the source of the neighbor-id cut below
      val frontEdges = symUnion
        .join(fh(frontier.select(col("id").as("a"))), Seq("a"), "left_semi")
        .localCheckpoint(true)
      // bNeeded stays LAZY (guide §1.2): its distinct runs once inside the
      // broadcast build (the two bh() uses below are identical subtrees —
      // exchange reuse), so a per-round localCheckpoint + count of it were
      // two driver jobs and a shuffle materialization for a frame with one
      // other consumer. The hint is guarded by |frontEdges| ≥ |bNeeded| —
      // a NARROW count over the already-checkpointed edge blocks; the
      // bound is conservative (hint downgrade on huge edge sets, never an
      // oversized broadcast).
      val bNeeded = frontEdges.select(col("b").as("id")).distinct()
      val bSmall = frontEdges.count() <= broadcastMaxRows
      def bh(df: DataFrame): DataFrame = if (bSmall) broadcast(df) else df
      // i−1 labels of the union run, restricted to the neighbors the vote
      // join reads: stored slice cut map-side to bNeeded, the (small)
      // override patched in — the trace slice is SCANNED but never
      // shuffled, and the vote join itself is delta×delta
      val prevNeeded = prevStored
        .join(bh(bNeeded), Seq("id"), "left_semi")
        .join(ch(changed.select(col("id"))), Seq("id"), "left_anti")
        .unionByName(changed.join(bh(bNeeded), Seq("id"), "left_semi"))
      val voted = argmaxVote(frontEdges
        .join(prevNeeded.select(col("id").as("b"), col("label")), Seq("b")))
      // frontier nodes with no neighbors cannot exist (every frontier node
      // is edge-incident by construction), so voted covers the frontier
      val curStored = trace.filter(col("iter") === i).select(col("id"), col("label"))
      val recomputed = frontier.join(voted, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      // a node NOT in the frontier keeps its stored row even if its OWN
      // label moved last round: a node does not vote for itself, so its
      // iteration-i outcome depends only on its neighbors' i−1 labels —
      // all unchanged, or the node would be in the frontier. New nodes are
      // always in the frontier (newIds ⊆ dirtyAdj) and always land in the
      // override (no stored row to match). The stored side is cut to
      // frontier ids FIRST (map-side via the broadcast), so the change
      // detection never shuffles the trace.
      val curStoredF = curStored.join(fh(frontier), Seq("id"), "left_semi")
      val override_ = recomputed.join(curStoredF, Seq("id", "label"), "left_anti")
        .localCheckpoint(true)
      val overrideSmall = override_.count() <= broadcastMaxRows
      val full = curStored
        .join(if (overrideSmall) broadcast(override_) else override_,
          Seq("id"), "left_anti")
        .unionByName(override_)
      out = out.unionByName(full.withColumn("iter", lit(i)))
      // next round's i−1 view = stored trace overridden by EXACTLY this
      // round's differences (never accumulated: a node that changed at
      // i−1 but reverted at i must show its stored label next round)
      changed = override_
      changedSmall = overrideSmall
    }
    out.select(col("iter"), col("id"), col("label"))
  }
}
