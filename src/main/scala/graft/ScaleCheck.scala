package graft

import graft.functions.{SimilarityFunctions => S}
import graft.functions.expressions.{HashExpressions => HX, SketchAggregates => SK}
import graft.operators.{Ann, ConnectedComponents => CC, Dedup, EntityMatch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale and profiling harness (BASELINE.md's scale rows). Each named
  * section times its operator family at 1x and at n× — the documents
  * fixture replicated with id offsets, or a generated fixture grown n× —
  * so growth can be checked against the contract stated on the section:
  * runtime tracking OUTPUT size or input size, never an all-pairs or hot-key
  * quadratic. Each row is materialized inside its own timer
  * (localCheckpoint + count, or a checksum sink where count() would let
  * Catalyst prune the work) and emits one JSON record ([[Harness.Timer]]).
  *
  * Usage: runMain graft.ScaleCheck [sfDir] [n] [name,...]
  * where each name is a section, or a SparkEntry query (timed with the
  * Bench checksum sink, its slow jobs listed). No names = every section.
  * The 100× tier runs the sections in [[Tier100]] with n=100: unperturbed
  * replication there grows dup-clique output quadratically and measures the
  * output writer, not the operator. */
object ScaleCheck {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(10)
    val names = resolve(args.lift(2))
    val spark = Harness.session()
    try run(spark, sfDir, n, names) finally spark.stop()
  }

  /** The names a filter selects; an unknown name fails, since a typo must
    * not pass as an empty measurement. */
  private[graft] def resolve(filter: Option[String]): Seq[String] = filter.fold(sections.map(_._1)) { f =>
    val names = f.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val queries = SparkEntry.queries
    val unknown = names.filterNot(k => bySection.contains(k) || queries.contains(k))
    require(names.nonEmpty, "empty section filter")
    require(unknown.isEmpty, s"unknown section or query: ${unknown.mkString(", ")}")
    names
  }

  private[graft] def run(spark: SparkSession, sfDir: String, n: Int, names: Seq[String],
                         emit: String => Unit = println(_)): Unit = {
    val timer = new Harness.Timer(spark, n, emit)
    val ctx = new Ctx(spark, sfDir, n, timer)
    try names.foreach { name =>
      timer.section = name
      bySection.get(name).fold(query(ctx, name))(_(ctx))
    } finally timer.close()
  }

  /** What every section sees. Fixtures are lazy, so a filtered run builds
    * only what its sections use. */
  final class Ctx(val spark: SparkSession, val sfDir: String, val n: Int,
                  val timed: Harness.Timer) {
    def row(tag: String)(rows: => Long): Unit = timed(tag)(((), rows))
    def tiers[A](one: A, grown: A): Seq[(A, String)] = Seq(one -> "1x", grown -> s"${n}x")
    /** Times `f` over the documents fixture and over its n replicas. */
    def docsRows(name: String)(f: DataFrame => Long): Unit =
      tiers(docs, rep).foreach { case (df, tag) => row(s"$name $tag")(f(df)) }
    def table(name: String): DataFrame = queries.Tables(spark, sfDir, name)
    def nextId(df: DataFrame, idCol: String): Long = df.agg(max(col(idCol))).head().getLong(0) + 1
    /** k copies of `df`, copy i with `idCol` shifted by i·offset. */
    def replicate(df: DataFrame, idCol: String, offset: Long, k: Int): DataFrame =
      (0 until k).map(i => df.withColumn(idCol, col(idCol) + lit(i.toLong * offset)))
        .reduce(_ unionByName _)

    lazy val docs: DataFrame = {
      val d = table("documents").select(col("doc_id"), col("lang"), col("source"), col("text"))
      d.count() // warm
      d
    }
    /** Replica offset: clears the real id range, so replicas never alias. */
    lazy val offset: Long = nextId(docs, "doc_id")
    lazy val rep: DataFrame = replicate(docs, "doc_id", offset, n)
    /** Replica i with the tokens whose hash lands in 2/5 of the space
      * rewritten to a replica-suffixed spelling: within-replica similarity
      * is untouched, cross-replica jaccard drops to ~(3/5)/(2·2/5+3/5) ≈
      * 0.43 < 0.7. So n× input grows true near-dup output ~n× (bounded
      * dup groups, the 100 TB regime) instead of n²-sized cliques. */
    def perturbed(i: Int): DataFrame = docs.select(
      (col("doc_id") + lit(i.toLong * offset)).as("doc_id"),
      col("lang"), col("source"),
      array_join(transform(split(col("text"), "\\s+"), t =>
        when(pmod(xxhash64(t, lit(i)), lit(5)) < 2, concat(t, lit("_r"), lit(i)))
          .otherwise(t)), " ").as("text"))
    lazy val pert: DataFrame = perturbed(0)
    lazy val pertRep: DataFrame = (0 until n).map(perturbed).reduce(_ unionByName _)
    lazy val emb: DataFrame = table("embeddings").select(col("vec_id"), col("embedding"))
    lazy val embOffset: Long = nextId(emb, "vec_id")
    lazy val embRep: DataFrame = replicate(emb, "vec_id", embOffset, n)
    /** Pipeline-query fixtures, staged once before the first query row. */
    lazy val staged: Unit = queries.PipelineQueries.stageFixtures(spark, sfDir)
  }

  /** Checksum sink: materializes `cols` (count() alone would let Catalyst
    * prune the expressions being measured) and returns the row count. */
  private def checksum(df: DataFrame, cols: String*): Long = {
    val h = if (cols.size == 1) xxhash64(col(cols.head)) else xxhash64(struct(cols.map(col): _*))
    df.agg(bit_xor(h).as("ck"), count(lit(1)).as("cnt")).head().getLong(1)
  }

  private def checkpoint(df: DataFrame): (DataFrame, Long) = {
    val p = df.localCheckpoint(true)
    (p, p.count())
  }

  /** A SparkEntry query as one row, with the Bench checksum sink. */
  private def query(c: Ctx, name: String): Unit = {
    c.staged
    c.row(name) {
      val out = SparkEntry.queries(name)(c.spark, c.sfDir)
      try checksum(out, out.columns.toIndexedSeq: _*)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        // a column type xxhash64 can't digest: noop sink, rows observed
        val obs = org.apache.spark.sql.Observation("rows")
        out.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
        obs.get("rows").asInstanceOf[Long]
      }
    }
  }

  private def toks(df: DataFrame) = df.select(col("lang"), col("source"), col("doc_id"),
    array_distinct(S.tokens(col("text"))).as("toks"))

  private def jaccardPairs(c: Ctx, df: DataFrame, tag: String): DataFrame =
    c.timed(tag)(checkpoint(Dedup.jaccardSelfJoin(toks(df), "toks", "doc_id",
      Seq("lang", "source"), 0.7).select(col("id_a"), col("id_b"))))

  private def codebooks(seed: Int): Array[Array[Array[Double]]] = {
    val fc = HX.fixedCentroids(seed, 128, 8)
    Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
  }

  private def scaleDb(c: Ctx): String = {
    val db = s"graftscale${math.abs(c.sfDir.hashCode)}"
    c.spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    db
  }

  private def entity(c: Ctx, i: Long): DataFrame = c.table("customer").select(
    (col("c_custkey") + lit(i * 10000000L)).as("customerno"),
    col("c_name").as("name"), col("c_nationkey").as("nationkey"),
    col("c_mktsegment").as("segment"),
    concat(lit("g-"), col("c_custkey") + lit(i * 10000000L)).as("globalid"))

  private val fspec = EntityMatch.MatchSpec(
    primaryTable = "", globalIdField = "globalid", sortField = "",
    sourcePrimaryKey = "", sourceSystemKey = "",
    levels = Seq(EntityMatch.LevelSpec("1", Seq("blk"),
      Seq(EntityMatch.FieldSpec("name", "string", "jarowinkler", Some(0.85), 1.0)), 1.0)))
  private def noGid(df: DataFrame) = df.withColumn("globalid", lit(null).cast("string"))
  private def withGid(df: DataFrame) = df.withColumn("globalid", concat(lit("g-"), col("rid")))
  private def fuzzyRun(c: Ctx, tag: String, incoming: DataFrame, primary: DataFrame,
                       collapse: Boolean = false, saltThreshold: Int = 1024): Unit =
    c.row(s"fuzzy match $tag") {
      val (m, u) = EntityMatch.fuzzyMatch(noGid(incoming), withGid(primary), fspec,
        Seq("rid"), collapseIncoming = collapse, saltTupleThreshold = saltThreshold)
      m.count() + u.count()
    }

  /** Incremental dedup: FIXED daily batch (drawn from `one`) against a
    * growing stored corpus. The batch×stored prefix join is stored-TOKEN-
    * linear on the index side (never corpus-pairs), so wall should grow
    * well under n× — the daily cost contract vs re-deduplicating the whole
    * corpus each day. */
  private def incrementalDedup(c: Ctx, one: DataFrame, grown: DataFrame): Unit = {
    import c._
    val toksOf = (df: DataFrame) => df.select(col("doc_id"), col("lang"),
      col("source"), array_distinct(S.tokens(col("text"))).as("toks"))
    val batch = toksOf(one.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + lit(1000L * offset)).as("doc_id"),
        col("lang"), col("source"), col("text")))
      .localCheckpoint(true)
    tiers(one, grown).foreach { case (df, tag) =>
      row(s"incremental dedup, fixed batch vs $tag stored corpus")(
        Dedup.incrementalDedup(toksOf(df), batch, "toks", "doc_id", Seq("lang", "source"), 0.7)
          .groupBy(col("status")).count().collect().map(_.getLong(1)).sum)
    }
  }

  /** Persisted BM25 index: encode-only append of a fixed batch + search vs
    * a 1x/n× stored postings index (built OUTSIDE the timer — persisted
    * state). Stored text is never re-tokenized; search prunes postings to
    * the query-matched terms map-side — daily wall must grow well under n×. */
  private def bm25Index(c: Ctx, one: DataFrame, grown: DataFrame): Unit = {
    import c._
    import graft.operators.Retrieval
    val batch = one.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + lit(3000L * offset)).as("doc_id"), col("text"))
      .localCheckpoint(true)
    tiers(one, grown).foreach { case (df, tag) =>
      val (p, l) = Retrieval.bm25Index(df.select(col("doc_id"), col("text")), "text", "doc_id")
      val (pi, li) = (p.localCheckpoint(true), l.localCheckpoint(true))
      row(s"bm25 index append fixed batch + top-10 search vs $tag index") {
        val (p2, l2) = Retrieval.bm25Append(pi, li, batch, "text", "doc_id")
        Retrieval.bm25Search(p2, l2, "doc_id", queries.TextQueries.Bm25Queries, k = 10).count()
      }
    }
  }

  /** Incremental MinHash (signature-index path): FIXED daily batch against
    * a growing stored INDEX, built OUTSIDE the timer (persisted state in
    * the daily contract). Timed: batch banding + broadcast semi-join of
    * stored bucket rows down to batch-touched buckets + batch-driven pair
    * join + verify. Pair enumeration is batch-scoped by construction, so
    * wall must grow well under n×. */
  private def incrementalMinhash(c: Ctx, one: DataFrame, grown: DataFrame): Unit = {
    import c._
    val batch = one.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + lit(2000L * offset)).as("doc_id"), col("text"))
      .localCheckpoint(true)
    tiers(one, grown).foreach { case (df, tag) =>
      val idx = Dedup.minhashIndex(df.select(col("doc_id"), col("text")), "text", "doc_id")
        .localCheckpoint(true)
      row(s"incremental minhash, fixed batch vs $tag stored index")(
        Dedup.incrementalMinhash(idx, batch, "text", "doc_id", threshold = 0.7)._1
          .groupBy(col("status")).count().collect().map(_.getLong(1)).sum)
    }
  }

  /** Stored corpus for the substring rows: a unique trail per doc, and the
    * boilerplate banner on every 13th doc (`hot`: on every doc). */
  private def substringCorpus(c: Ctx, body: String, rows: Long, off: Long,
                              hot: Boolean = false): DataFrame = {
    val banner = lit(" shared-fortycharacter-boilerplate-banner-text")
    c.spark.range(rows).select((col("id") + off).as("doc_id"),
      concat(lit(body), ((col("id") + off) * 7919L).cast("string"),
        if (hot) banner else when(pmod(col("id"), lit(13L)) === 0, banner).otherwise(lit("")))
        .as("text"))
  }

  private def substringScrub(idx: DataFrame, batch: DataFrame, needUpdatedIndex: Boolean): Long =
    checksum(operators.SuffixArray.incrementalScrubRepeatedCharSpans(idx, batch,
      "doc_id", "text", 40, keepFirst = true, needUpdatedIndex = needUpdatedIndex)._1,
      "doc_id", "n_masked", "scrubbed_text")

  /** Ring communities of 10 nodes; `offsets` are the in-ring edge steps. */
  private def ring(c: Ctx, rows: Long, offsets: Seq[Long]): DataFrame = {
    val dsts = offsets.map(o => col("id") - pmod(col("id"), lit(10L)) + pmod(col("id") + o, lit(10L)))
    c.spark.range(rows).select(col("id").as("src"),
      (if (dsts.size == 1) dsts.head else explode(array(dsts: _*))).as("dst"))
  }

  /** 50 fixed edges from every `stride`-th node to its ring's node +5. */
  private def ringBatch(c: Ctx, stride: Long): DataFrame = c.spark.range(50)
    .select((col("id") * stride).as("src"), (col("id") * stride + 5L).as("dst"))
    .localCheckpoint(true)

  /** A 2-out-degree synthetic graph over the ids of `nodes`. */
  private def twoOutEdges(nodes: DataFrame): DataFrame = {
    val nn = nodes.agg((max(col("doc_id")) + 1).as("__n"))
    nodes.crossJoin(broadcast(nn)).select(col("doc_id").as("src"),
      explode(array((col("doc_id") * 2 + 1) % col("__n"),
        (col("doc_id") * 5 + 3) % col("__n"))).as("dst"))
  }

  /** Every section, in run order. */
  private[graft] val sections: Seq[(String, Ctx => Unit)] = Seq(

    // Exact prefix-filter jaccard join over n identical replicas: true pairs
    // grow ~n² from the replicated cliques, so runtime must track OUTPUT
    // size, not input pairs (the all-pairs quadratic signature). The pairs
    // then feed connected components — localEdgeThreshold=0 FORCES the
    // distributed loop at both scales (the small-graph union-find cutover
    // would make 1x incomparable) — and incremental CC: a FIXED daily edge
    // batch merged into a 1x/n× stored labeling built outside the timer,
    // whose replay graph is only the batch-touched components' star edges.
    "jaccard" -> { c => import c._
      val pairs1 = jaccardPairs(c, docs, "jaccardSelfJoin t=0.7 blocked 1x")
      val pairsN = jaccardPairs(c, rep, s"jaccardSelfJoin t=0.7 blocked ${n}x")
      tiers(pairs1, pairsN).foreach { case (p, tag) =>
        row(s"connected components (distributed) $tag")(
          CC.run(p, "id_a", "id_b", localEdgeThreshold = 0).count())
      }
      row("connected components (auto cutover) 1x")(CC.run(pairs1, "id_a", "id_b").count())
      val batchE = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id").as("src"), (col("doc_id") + lit(1L)).as("dst"))
        .localCheckpoint(true)
      tiers(pairs1, pairsN).foreach { case (p, tag) =>
        val labels = CC.run(p, "id_a", "id_b", localEdgeThreshold = 0).localCheckpoint(true)
        row(s"incremental CC, fixed edge batch vs $tag stored labeling")(
          CC.incremental(labels, batchE).count())
      }
    },

    // The same join over PERTURBED replicas (see Ctx.perturbed): input
    // grows n× and true output ~n× — the 100× tier's form of the row.
    "jaccard_perturbed" -> { c => import c._
      tiers(pert, pertRep).foreach { case (df, tag) =>
        jaccardPairs(c, df, s"jaccardSelfJoin t=0.7 blocked $tag (perturbed replicas)")
      }
    },

    // Adversarial LSH skew: a flood of IDENTICAL docs puts one degenerate
    // bucket in every band — unguarded, the within-bucket self-join is
    // quadratic in the flood (50k copies → 1.25B candidate pairs per band).
    // The guard chains hot buckets, so the hot run must stay within ~2× of
    // the uniform run (growth tracks flood SIZE, not flood²).
    "minhash" -> { c => import c._
      val hotText = docs.select(col("text")).head().getString(0)
      val ids = docs.select(col("doc_id"), col("text"))
      def minhashOn(df: DataFrame, tag: String): Unit =
        timed(s"minhash pairs $tag")(checkpoint(Dedup.minhashPairs(df, "text", "doc_id")))
      minhashOn(ids, "uniform 1x")
      Seq(5000, 5000 * n).foreach { flood =>
        val floodDf = spark.range(flood).select(
          (col("id") + lit(10L * offset * math.max(n, 1))).as("doc_id"), lit(hotText).as("text"))
        minhashOn(ids.unionByName(floodDf), s"hot-bucket flood=$flood")
      }
    },

    // Directed containment join: same prefix-filter family as
    // jaccardSelfJoin but with a FULL b-side index — candidates must stay
    // token-linear (shuffle ~n, output ~n² from the replicated identical
    // cliques where every replica contains every other with C = 1.0).
    // 2-gram shingles: unigram sets are degenerate on the shared-vocabulary
    // synthetic corpus.
    "containment" -> { c => import c._
      docsRows("containmentJoin t=0.8 blocked")(df => Dedup.containmentJoin(
        df.select(col("lang"), col("source"), col("doc_id"),
          S.wordShingles(col("text"), 2).as("toks")),
        "toks", "doc_id", Seq("lang", "source"), 0.8).count())
    },

    // The containment join (the q126 family) over perturbed replicas with
    // planted 60%-prefix snippets of every 9th doc: cross-replica
    // containments don't form, so true output grows ~n× (within-replica
    // snippet→source pairs). The a-side prefix is rank-linear and the b-side
    // full inverted index token-linear — no pairs² term from the hot
    // shared-vocab tokens (rare/perturbed tokens dominate the prefixes).
    "containment_snippets" -> { c => import c._
      def withSnippets(df: DataFrame): DataFrame = df.unionByName(
        df.filter(pmod(col("doc_id"), lit(9)) === 0)
          .select((col("doc_id") + lit(100L * offset)).as("doc_id"),
            col("lang"), col("source"),
            array_join(slice(split(col("text"), "\\s+"), lit(1),
              greatest(ceil(size(split(col("text"), "\\s+")) * lit(0.6))
                .cast("int"), lit(1))), " ").as("text")))
      tiers(pert, pertRep).foreach { case (df, tag) =>
        row(s"containmentJoin t=0.8 blocked, planted snippets $tag")(
          Dedup.containmentJoin(withSnippets(df).select(col("lang"), col("source"),
              col("doc_id"), HX.hashed_shingles(col("text"), 2).as("toks")),
            "toks", "doc_id", Seq("lang", "source"), 0.8)
            .select(col("id_a"), col("id_b")).localCheckpoint(true).count())
      }
    },

    // K5 partition-scoped upsert: a batch confined to ONE of 25 nationkey
    // partitions must cost ~the affected partition, not the table — the n×
    // upsert should grow FAR slower than n× (the residual growth is the
    // column-pruned semi-join scan that finds stale partitions).
    "upsert" -> { c => import c._
      val db = scaleDb(c)
      def mkPrimary(tbl: String, df: DataFrame): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
        df.write.partitionBy("nationkey").saveAsTable(s"$db.$tbl")
      }
      mkPrimary("prim1", entity(c, 0))
      mkPrimary("primN", (0 until n).map(i => entity(c, i.toLong)).reduce(_ unionByName _))
      val mspec = EntityMatch.MatchSpec(
        primaryTable = "", globalIdField = "globalid", sortField = "",
        sourcePrimaryKey = "", sourceSystemKey = "", levels = Seq.empty,
        partitionBy = Seq("nationkey"))
      val batch = entity(c, 0).filter(col("nationkey") === 0)
        .withColumn("segment", lit("UPDATED")).localCheckpoint(true)
      val batchRows = batch.count()
      tiers("prim1", "primN").foreach { case (tbl, tag) =>
        row(s"upsert $batchRows rows into 1/25 partitions of $tag table") {
          EntityMatch.upsert(spark, s"$db.$tbl", batch, mspec)
          spark.table(s"$db.$tbl").count()
        }
      }
    },

    // Compaction FLAT contract: the SAME two fragmented partitions inside a
    // 1x table vs an n× table (replicas land in NEW nationkey values, so the
    // fragmented partitions are byte-identical at both scales). The wall
    // must track the AFFECTED bytes — flat in table size — because the
    // manifest walk is O(files) and unselected partitions are never opened.
    // Then no-op compaction = pure manifest walk over 250 vs 2500
    // single-file partitions: the wall IS the driver listing, parallelized
    // over partition dirs, so 10× the partitions must stay near-flat.
    "compaction" -> { c => import c._
      val db = scaleDb(c)
      def mkFragmented(tbl: String, extra: Int): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
        val base = entity(c, 0)
        (base +: (1 to extra).map(i => base.select(
            col("customerno") + lit(i * 40000000L) as "customerno", col("name"),
            (col("nationkey") + lit(i * 25)).as("nationkey"),
            col("segment"), col("globalid"))))
          .reduce(_ unionByName _)
          .write.partitionBy("nationkey").saveAsTable(s"$db.$tbl")
        // fragment ONLY nationkey 0 and 1: 16 appended slices each
        base.filter(col("nationkey") < 2).repartition(16)
          .select(spark.table(s"$db.$tbl").columns.map(col).toIndexedSeq: _*)
          .write.mode("append").insertInto(s"$db.$tbl")
      }
      mkFragmented("frag1", 0)
      mkFragmented("fragN", n - 1)
      tiers("frag1", "fragN").foreach { case (tbl, tag) =>
        row(s"compact 2 fragmented partitions of $tag table") {
          val r = catalog.Compaction.compactTable(spark, s"$db.$tbl", targetBytes = 128L << 20)
          require(r.partitionsCompacted == 2, s"expected 2 selected: $r")
          r.filesAfter.toLong
        }
      }
      Seq(250, 2500).foreach { parts =>
        val tbl = s"noop$parts"
        spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
        spark.range(parts).select(col("id"), col("id").as("p"))
          .repartition(1).write.partitionBy("p").saveAsTable(s"$db.$tbl")
        row(s"no-op compaction (manifest walk only), $parts partitions") {
          val r = catalog.Compaction.compactTable(spark, s"$db.$tbl", targetBytes = 128L << 20)
          require(r.partitionsCompacted == 0, s"expected no-op: $r")
          r.partitionsSeen.toLong
        }
      }
    },

    // J4 fuzzy blocking join. Adversarial hot block: flood rows sharing ONE
    // block value with boilerplate (identical) field values on BOTH sides.
    // Unguarded, the blocking join is flood² score evaluations; the
    // primary-side tuple collapse makes it flood × distinct-tuples, so the
    // hot run must stay within ~2× of the uniform run, and collapseIncoming
    // scores the flood's identical incoming rows ONCE (F×1 becomes 1×1).
    // Then the DISTINCT-tuple hot block the collapse cannot linearize: the
    // F_i × F_p score evaluations are REQUIRED, and AQE's skew split (keyed
    // on input BYTES) never splits this tiny-input/quadratic-output block,
    // so the explicit salt guard must spread it across tasks — guard off vs
    // on at identical candidate volume, then sqrt(10)× flood (10× candidate
    // volume) to show wall tracking WORK, not flood².
    "fuzzy" -> { c => import c._
      def side(s: String, nRows: Int): DataFrame = spark.range(nRows).select(
        concat(lit(s), col("id")).as("rid"),
        concat(lit("blk"), pmod(col("id"), lit(1000))).as("blk"),
        concat(lit("name "), pmod(xxhash64(col("id") * 7), lit(4000))).as("name"))
      fuzzyRun(c, "uniform 1x", side("i", 20000), side("p", 20000))
      Seq(5000, 5000 * n).foreach { flood =>
        def floodDf(s: String) = side(s, 20000).unionByName(spark.range(flood).select(
          concat(lit(s"f$s"), col("id")).as("rid"), lit("HOTBLOCK").as("blk"),
          lit("Boilerplate Corp Inc").as("name")))
        fuzzyRun(c, s"hot-block flood=$flood", floodDf("i"), floodDf("p"))
        fuzzyRun(c, s"hot-block flood=$flood collapseIncoming", floodDf("i"), floodDf("p"),
          collapse = true)
      }
      Seq(2000 -> "F=2000 (4M cands)", 6325 -> "F=6325 (40M cands)").foreach {
        case (flood, tag) =>
          def distinctFlood(s: String) = spark.range(flood).select(
            concat(lit(s"d$s"), col("id")).as("rid"), lit("HOTBLOCK").as("blk"),
            concat(lit("uniq "), lit(s), col("id")).as("name"))
          if (flood == 2000)
            fuzzyRun(c, s"distinct-tuple hot block $tag SALT OFF",
              distinctFlood("i"), distinctFlood("p"), saltThreshold = Int.MaxValue)
          fuzzyRun(c, s"distinct-tuple hot block $tag salt split",
            distinctFlood("i"), distinctFlood("p"))
      }
    },

    // Realistic key distribution: Zipf(≈1) block values via inverse CDF —
    // floor(exp(u·ln K)) gives P(block=r) ∝ ln(1+1/r) ≈ 1/r — with bounded
    // field cardinality (200 distinct names), the shape of real
    // boilerplate-heavy head blocks. Candidates are Σ_b inc_b ×
    // distinctTuples_b, so n× rows must grow wall ~linearly, never
    // head-block². collapseIncoming turns head-rows × 200 score evals into
    // ≤200 × 200, the regime the knob exists for.
    "fuzzy_zipf" -> { c => import c._
      def zipfSide(s: String, nRows: Int): DataFrame = {
        val u = pmod(xxhash64(col("id"), lit(s)), lit(1000000)).cast("double") / 1000000.0
        spark.range(nRows).select(
          concat(lit(s), col("id")).as("rid"),
          concat(lit("z"), floor(exp(u * math.log(10000.0)))).as("blk"),
          concat(lit("name "), pmod(xxhash64(col("id") * 13), lit(200))).as("name"))
      }
      tiers(1, n).foreach { case (m, tag) =>
        fuzzyRun(c, s"zipf-blocks $tag", zipfSide("i", 15000 * m), zipfSide("p", 15000 * m))
        fuzzyRun(c, s"zipf-blocks $tag collapseIncoming",
          zipfSide("i", 15000 * m), zipfSide("p", 15000 * m), collapse = true)
      }
    },

    // Distributed k-means step: one assignment scan + one aggregation with
    // map-side partial sums — runtime ~linear in input, shuffle k × dim-ish.
    "kmeans" -> { c => import c._
      val cents = HX.fixedCentroids(100, 16, 64)
      tiers(emb, embRep).foreach { case (df, tag) =>
        row(s"kmeans step k=16 $tag")(Ann.kmeansStep(df, "embedding", cents).count())
      }
    },

    // PQ: encode is the one full read of raw vectors (map-side, no shuffle);
    // ADC search scans only the m-byte codes against broadcast query tables;
    // full IVF-PQ is one assign+encode scan, then ADC over the nprobe probed
    // lists only. All must track corpus size linearly with near-zero shuffle.
    "pq" -> { c => import c._
      val books = codebooks(200)
      val cents = HX.fixedCentroids(100, 16, 64)
      val q = emb.filter(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding"))
      tiers(emb, embRep).foreach { case (df, tag) =>
        val codes = timed(s"pq encode m=8 k=16 $tag")(checkpoint(
          Ann.pqEncode(df, "embedding", books).select(col("vec_id"), col("code"))))
        row(s"pq adc top-10, 8 queries $tag")(
          Ann.pqTopK(codes, q, "embedding", "vec_id", "qid", books, k = 10).count())
        row(s"ivf-pq top-10 nprobe=4, 8 queries $tag")(Ann.ivfPqTopK(df, q, "embedding",
          "vec_id", "qid", cents, books, k = 10, nprobe = 4).count())
      }
    },

    // Image perceptual-hash dedup: PNG fixtures generated IN EXECUTORS
    // (grouped near-dups, q100's pattern), decoded for real, dHashed, paired
    // via the banded hamming join — decode dominates and must parallelize;
    // only (id, fp) may shuffle.
    "image_dedup" -> { c => import c._
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("media_id", LongType), StructField("content", BinaryType)))
      def media(cnt: Int) = multimodal.Multimodal.mapBatched(
        spark.range(cnt).select(col("id").as("media_id")), 64, schema) { b =>
        b.iterator.map(r => Row(r.getLong(0),
          multimodal.ImageIoCodec.nearDupPattern(r.getLong(0), 8, 8, 5)))
      }
      tiers(5000, 5000 * n).foreach { case (cnt, tag) =>
        row(s"image dhash dedup pairs $tag")(
          multimodal.Multimodal.imageDupePairs(media(cnt), maxHamming = 3).count())
      }
    },

    // DQ quarantine: 3 row-level rules fold into ONE pass — runtime must
    // track input size (≤ n×), never rules × passes.
    "dq" -> { c => import c._
      val orders = table("orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      val rules = Seq(
        "ColumnValues 'o_orderstatus' in ['O','F']",
        "ColumnValues 'o_totalprice' >= 30000",
        "CustomSql 'SELECT o_orderkey FROM primary WHERE o_custkey IS NOT NULL'")
      tiers(orders, (0 until n).map(_ => orders).reduce(_ unionByName _)).foreach {
        case (df, tag) =>
          row(s"dq quarantine 3 rules $tag") {
            val r = new dq.DqEngine().runQuarantine(df, rules)
            r.passed.count() + r.failed.count()
          }
      }
    },

    // Repetition metrics: per-row kernel — runtime ~n×, zero shuffle.
    "line_repetition" -> { c =>
      c.docsRows("line repetition metrics")(df =>
        operators.Repetition.lineRepetition(df, "doc_id", "text").count())
    },

    // 13-gram decontamination: per-doc distinct gram hashes against a
    // broadcast bench side — runtime ~n×, never corpus × bench.
    "decontamination" -> { c => import c._
      val bench = docs.filter(col("doc_id") % 25 === 0).select(col("doc_id"),
        array_join(slice(S.tokens(col("text")), 3, 30), " ").as("text"))
      docsRows("13-gram decontamination")(df => Dedup.ngramOverlapJoin(
        df.select(col("doc_id"), col("text")), bench, "text", "doc_id", n = 13).count())
    },

    // Bloom decontamination: build = one bounded aggregate over the (fixed)
    // bench set; probe = one codegen'd corpus scan with the 128 KiB bitset as
    // a reference object. Wall tracks the scan; corpus-side shuffle ~ZERO
    // (localCheckpoint sink — count() would prune the probe).
    "bloom_decontamination" -> { c => import c._
      val bench = docs.filter(pmod(col("doc_id"), lit(25)) === 0).select(col("doc_id"), col("text"))
      docsRows("bloom decontamination n=13") { df =>
        val p = Dedup.bloomDecontaminate(df.select(col("doc_id"), col("text")), bench,
          "text", "doc_id", n = 13).localCheckpoint(true)
        val cnt = p.count()
        p.unpersist(true)
        cnt
      }
    },

    // Corpus-level keep-first line dedup: replicated corpora are the
    // adversarial case (every line repeats n× across replicas) — the
    // keep-first aggregation must absorb that map-side, runtime ~n×.
    "line_dedup" -> { c =>
      c.docsRows("corpus line dedup")(df =>
        operators.Repetition.dropRepeatedLinesCorpus(df, "doc_id", "text").count())
    },

    // Token-budget sample: two-phase bucket prefix-sum — runtime ~flat in
    // corpus size (bounded bucket frame + one boundary bucket), no global sort.
    // Sequence packing: exact distributed prefix sum — runtime ~n× (one
    // bucket shuffle + broadcast), never a global sort.
    "sampling" -> { c => import c._
      def withTokens(df: DataFrame) = df.select(col("doc_id"),
        functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val sides = tiers(withTokens(docs), withTokens(rep))
      sides.foreach { case (df, tag) =>
        row(s"token-budget sample $tag")(operators.Sampling.tokenBudgetSample(
          df, "doc_id", "n_tokens", 100000L).count())
      }
      sides.foreach { case (df, tag) =>
        row(s"sequence packing $tag")(operators.Sampling.packSequences(
          df, "doc_id", "n_tokens", 2048L).count())
      }
    },

    // Unigram-NLL scoring: explode + vocab agg + token join + doc agg —
    // runtime tracks corpus tokens (~n×).
    "unigram_nll" -> { c =>
      c.docsRows("unigram nll")(df => operators.Tfidf.unigramNll(df, "text", "doc_id").count())
    },

    // Semantic dedup: cluster-blocked pairs — candidate volume is
    // Σ cluster², so the replicated corpus (identical embeddings n× in the
    // same clusters) is adversarial; the hot-cluster chain guard must keep
    // growth ~linear in OUTPUT. Then SemDeDup over the persisted index
    // (built outside the timer): pair scoring on m-byte CODES (SDC
    // prefilter), only survivors join raw vectors.
    "semantic_dedup" -> { c => import c._
      val cents = HX.fixedCentroids(200, 64, 64)
      tiers(emb, embRep).foreach { case (df, tag) =>
        row(s"semantic dedup k=64 $tag")(Dedup.semanticDedupPairs(df, "embedding", "vec_id",
          cents, threshold = 0.3).count())
      }
      val books = codebooks(300)
      tiers(emb, embRep).foreach { case (df, tag) =>
        val idx = Ann.ivfPqIndex(df, "embedding", "vec_id", cents, books).localCheckpoint(true)
        row(s"semantic dedup over index (SDC prefilter) $tag")(
          Dedup.semanticDedupPairsIndexed(idx, df, "embedding", "vec_id", books,
            sdcMax = 80.0, threshold = 0.3).count())
      }
    },

    // BPE training scans the corpus ONCE (wordVocab aggregation); each merge
    // runs over the vocab table, whose size is replication-INVARIANT — total
    // must grow far slower than n×. The depth row: 500 merges must cost
    // ~the single scan plus driver-local milliseconds per merge (the
    // distributed loop would be ~1000 Spark jobs); each doc is widened with
    // its hash hex-words so all 500 merges are REAL. The encode pass:
    // trained table compiled to literals, one linear corpus scan, zero
    // shuffle, checksum-materialized (count() would prune the encode chain).
    "bpe" -> { c => import c._
      docsRows("bpe train 5 merges")(df => operators.Bpe.train(df, "text", 5).count())
      docsRows("bpe train 500 merges (local cutover, hash-widened vocab)")(df =>
        operators.Bpe.train(df.withColumn("text",
          concat_ws(" ", col("text"), md5(col("text")), sha1(col("text")))), "text", 500).count())
      val merges = operators.Bpe.train(docs, "text", 64)
        .orderBy("rank").select("pair_left", "pair_right")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      docsRows("bpe encode 64 merges")(df =>
        checksum(operators.Bpe.encode(df, "text", merges), "segments"))
    },

    // BM25 retrieval: query terms broadcast, corpus tokens semi-joined down
    // right after the explode — runtime ~corpus tokens, shuffle only the
    // matched (doc, term) rows.
    "bm25" -> { c =>
      c.docsRows("bm25 top-10, 4 queries")(df => operators.Retrieval.bm25TopK(df, "text",
        "doc_id", queries.TextQueries.Bm25Queries, k = 10).count())
    },

    "bm25_index" -> (c => bm25Index(c, c.docs, c.rep)),
    "bm25_index_perturbed" -> (c => bm25Index(c, c.pert, c.pertRep)),

    // DSIR importance resampling: both models collapse to a 64-row broadcast
    // bucket table — runtime ~corpus tokens, shuffle the (doc, bucket) agg.
    "dsir" -> { c =>
      c.docsRows("dsir resample top-100")(df => operators.Sampling.dsirSample(df, "doc_id",
        "text", col("lang") === "en", nBuckets = 64, k = 100).count())
    },

    // Repeated-span scrub — replication is ADVERSARIAL: every 8-gram appears
    // in n distinct replica docs, so the ENTIRE gram table goes hot and every
    // doc is fully masked. Runtime must track grams (linear), never
    // hot-gram × doc pairs; the rebuild is row-local.
    "span_scrub" -> { c =>
      c.docsRows("span scrub n=8 (all-hot under replication)")(df => checksum(
        operators.Repetition.scrubRepeatedSpans(df, "doc_id", "text", 8, 2), "scrubbed_text"))
    },

    // q107's shape with a banner planted on every 7th doc, over PERTURBED
    // replicas: within-replica banner grams stay hot (~14% of a replica's
    // docs share them) while cross-replica grams diverge — the hot set grows
    // ~linearly, the regime a real corpus's boilerplate is in.
    // localCheckpoint sink: count() of the left-preserving join would let
    // Catalyst prune the whole gram/scrub computation.
    "span_scrub_perturbed" -> { c => import c._
      def banner(df: DataFrame): DataFrame = df.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" subscribe to our newsletter for updates" +
            " terms of service apply today"))).otherwise(col("text")).as("text"))
      tiers(pert, pertRep).foreach { case (df, tag) =>
        row(s"span scrub n=8 minDocs=2 $tag (perturbed replicas)") {
          val p = operators.Repetition.scrubRepeatedSpans(banner(df), "doc_id", "text",
            n = 8, minDocs = 2).localCheckpoint(true)
          val cnt = p.count()
          p.unpersist(true)
          cnt
        }
      }
    },

    // Naive Bayes: model = bounded (class, token) count table; scoring =
    // one explode × classes fan + the count join — runtime ~n×.
    "naive_bayes" -> { c =>
      c.docsRows("naive bayes train+classify")(df => operators.Retrieval.naiveBayes(df,
        "text", "doc_id", "lang", pmod(col("doc_id"), lit(2)) === 0).count())
    },

    // Epoch shuffle-shard: one hash shuffle + per-shard sort — runtime ~n×,
    // shuffle ~rows × key width.
    "epoch_shard" -> { c =>
      c.docsRows("epoch shuffle-shard 32 shards")(df => checksum(
        operators.Sampling.epochShuffleShard(df.select(col("doc_id")), "doc_id", "ep0", 32),
        "doc_id", "shard", "pos"))
    },

    // Mergeable sketch aggregates (KMV + CMS): partial sketches build
    // map-side and shuffle BYTES PER PARTITION, so runtime tracks the token
    // scan (~n×) while shuffle stays ~flat.
    "kmv_cms" -> { c =>
      c.docsRows("kmv+cms sketch per lang")(df =>
        df.select(col("lang"), explode(S.tokens(col("text"))).as("tok"))
          .groupBy(col("lang"))
          .agg(SK.kmv_sketch(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"), 64)
            .as("kmv"), SK.cms_sketch(col("tok"), 4, 64).as("cms"))
          .count())
    },

    // Web-text curation chain (PII scrub + HTML strip + Gopher rules + URL
    // canonicalize): one fused whole-stage-codegen projection — ~n×, ZERO
    // shuffle.
    "web_text" -> { c =>
      import functions.{TextFunctions => T}
      c.docsRows("web-text chain (pii+html+gopher+url)")(df => checksum(
        df.select((Seq(col("doc_id"),
          T.piiScrub(col("text")).as("pii"),
          T.stripHtml(col("text")).as("html"),
          T.canonicalizeUrl(concat(lit("https://www.site"),
            col("doc_id") % 7, lit(".example.com/p/"), col("doc_id"),
            lit("/?utm_source=x&id="), col("doc_id"))).as("url")) ++
          T.gopherFlags(col("text"))): _*),
        "pii", "html", "url", "pass"))
    },

    // Fixed-point PageRank, 3 iterations over a 2-out-degree graph: one
    // edge join + one integer aggregation per iteration — ~linear in edges,
    // and integer arithmetic means the n× result is the 1x result per
    // replica block.
    "pagerank" -> { c =>
      c.docsRows("pagerank 3 iters") { df =>
        val nodes = df.select(col("doc_id"))
        operators.PageRank.fixedPoint(twoOutEdges(nodes), "src", "dst", nodes, "doc_id",
          iterations = 3).count()
      }
    },

    // Aho-Corasick masking with a WIDE (2k-term) dictionary: one automaton
    // broadcast as an expression reference, linear per-row scan — ~n×, zero
    // shuffle, cost independent of dictionary size.
    "ac_mask" -> { c =>
      val dict = (0 until 2000).map(i => s"blocked$i term$i") :+ "the"
      c.docsRows("ac mask 2k-term dict")(df => checksum(
        df.select(functions.TextFunctions.maskTerms(col("text"), dict).as("m")), "m"))
    },

    // Histogram-bucket quantiles: one groupBy with map-side combine over 64
    // buckets — ~n×, shuffle bounded by groups × buckets.
    "histogram" -> { c =>
      c.docsRows("histogram quantiles p50/p90/p99")(df => operators.CorpusStats
        .histogramQuantiles(df.select(col("lang"), length(col("text")).cast("long").as("len")),
          "len", Seq("lang"), 16L, 64,
          Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))).count())
    },

    // Batch sessionize: ONE window shuffle by user — ~n×. 1000 users, so
    // per-user frames grow n× too (the skewed-key regime, worst case for
    // the in-partition sort).
    "sessionize" -> { c => import c._
      tiers(100000L, 100000L * n).foreach { case (rows, tag) =>
        val ev = spark.range(rows).select(
          col("id").as("event_id"), pmod(col("id"), lit(1000L)).as("user_id"),
          timestamp_micros(lit(1700000000000000L) +
            pmod(xxhash64(col("id")), lit(30L * 86400 * 1000000L))).as("ts"))
        row(s"batch sessionize gap=1h, 1k users $tag")(checksum(
          operators.WindowOps.sessionize(ev, "user_id", "ts", 3600, Seq(col("event_id"))),
          "user_id", "session_idx"))
      }
    },

    // Z-order layout: the Morton code is a zero-shuffle projection; the
    // range repartition is the ONE exchange — ~n×, shuffle ~rows.
    "zorder" -> { c => import c._
      tiers(200000L, 200000L * n).foreach { case (rows, tag) =>
        val pts = spark.range(rows).select(
          pmod(col("id") * 7919, lit(1L << 16)).as("x"),
          pmod(col("id") * 104729, lit(1L << 16)).as("y"))
        row(s"zorder 16-bit 2-dim layout $tag")(checksum(
          operators.Layout.zorderBy(pts, Seq(col("x"), col("y")), 16, 32), "zval"))
      }
    },

    // Stats-pruned forget-me delete: partition COUNT scales with the data
    // (constant partition size) and the key set is FIXED, so the rewrite
    // term is constant and the row measures DISCOVERY. The stats-index path
    // probes per-file blooms (flat: a tiny stats-row scan + the handful of
    // candidate files); the full-scan path semi-joins the whole table (~n×)
    // — at 100× the ordering flips and the index pays for itself. Refresh
    // is timed separately: it is the write path's amortized cost.
    "delete" -> { c => import c._
      import graft.catalog.{FileStats, Retention}
      def build(rows: Long, parts: Int, name: String): String = {
        val t = s"scaledel.$name"
        spark.sql("CREATE DATABASE IF NOT EXISTS scaledel")
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.range(rows).select(col("id").as("event_id"), col("id").as("user_id"),
            pmod(col("id"), lit(parts.toLong)).cast("int").as("bucket"))
          .repartition(parts, col("bucket"))
          .write.partitionBy("bucket").saveAsTable(t)
        t
      }
      val keys = spark.range(10).select((col("id") * 1777L + 13L).as("user_id"))
        .localCheckpoint(true)
      tiers(1, n).foreach { case (m, tag) =>
        val (rows, parts) = (200000L * m, 32 * m)
        val tFull = build(rows, parts, s"full_$tag")
        row(s"deleteRows FULL-SCAN discovery $tag")(
          Retention.deleteRows(spark, tFull, "user_id", keys).rowsDeleted)
        val tIdx = build(rows, parts, s"idx_$tag")
        val st = s"scaledel.idx_${tag}_stats"
        spark.sql(s"DROP TABLE IF EXISTS $st")
        row(s"deleteRows stats REFRESH (write-path amortized) $tag")(
          FileStats.refresh(spark, tIdx, st, FileStats.StatsSpec(Seq("user_id"),
            bloomCols = Seq("user_id"), bloomBits = 1 << 17)).filesScanned.toLong)
        row(s"deleteRows STATS-PRUNED discovery $tag")(
          Retention.deleteRows(spark, tIdx, "user_id", keys, statsTable = Some(st)).rowsDeleted)
      }
    },

    // Char-level ExactSubstr dedup: rolling-hash window nomination + exact
    // verify. Duplicated content is a FIXED 1/13 fraction, so the
    // corpus-sized cost is ONE 8-byte-key count plus ONE (gpos, h)
    // semi-join; every later stage is CANDIDATE-sized — wall and shuffle
    // both track n linearly (the prefix-doubling form this replaced
    // measured 3.3 GB shuffle at 10× and could not run at 100×).
    "substring_dedup" -> { c => import c._
      tiers(20000L, 20000L * n).foreach { case (rows, tag) =>
        row(s"exact-substring char dedup minLen=40 $tag")(checksum(
          operators.SuffixArray.scrubRepeatedCharSpans(
            substringCorpus(c, "document body with unique trail ", rows, 0L),
            "doc_id", "text", 40),
          "doc_id", "n_masked", "scrubbed_text"))
      }
    },

    // Incremental sync-LPA: the stored graph scales n× (ring communities of
    // 10), the batch is FIXED (50 rewired communities). The from-scratch
    // trace row is both the stored-state build and the ~n× comparison; the
    // incremental pass's vote COMPUTE is frontier-bounded — its residual
    // growth is the O(N) narrow trace-override unions and scans. Two
    // batches: near the id origin (stride 10) and spread over the graph
    // (stride 1777).
    "lpa_incremental" -> { c => import c._
      import graft.operators.GraphOps
      val batches = Seq(ringBatch(c, 10L) -> "", ringBatch(c, 1777L) -> ", 1777-stride")
      tiers(100000L, 100000L * n).foreach { case (rows, tag) =>
        val edges = ring(c, rows, Seq(1L, 3L, 5L)).localCheckpoint(true)
        val trace = timed(s"LPA from-scratch 3-iter trace $tag")(checkpoint(
          GraphOps.labelPropagationTrace(edges, "src", "dst",
            spark.range(rows).select(col("id")), "id", 3)))
        batches.foreach { case (batch, label) =>
          row(s"LPA incremental fixed batch$label $tag")(checksum(
            GraphOps.incrementalLabelPropagation(edges, trace, batch, "src", "dst", 3),
            "iter", "id", "label"))
        }
      }
    },

    // Incremental exact-substring dedup: the stored corpus (and its
    // hot-window index) grows n×, the batch is FIXED — the daily cost is the
    // batch's window pass plus a map-side semi-join scan of the index (no
    // stored shuffle), so wall should stay near-flat while the from-scratch
    // index build (the comparison row) grows ~n×.
    "substring_incremental" -> { c => import c._
      val body = "stored body with unique trail "
      val batch = substringCorpus(c, body, 2000L, 90000000L).localCheckpoint(true)
      tiers(20000L, 20000L * n).foreach { case (rows, tag) =>
        val idx = timed(s"char-window index build $tag")(checkpoint(operators.SuffixArray
          .charWindowIndex(substringCorpus(c, body, rows, 0L), "doc_id", "text", 40)))
        row(s"incremental substring dedup, fixed batch vs $tag index")(
          substringScrub(idx, batch, needUpdatedIndex = true))
      }
    },

    // PER-DOC (gate-form) substring-index probe with a CORPUS-HOT window:
    // the q215 gate's index keeps one row per (document, window content) so
    // deletion is row-exact — the price is that a batch touching a window
    // present in EVERY stored document pulls O(corpus occurrences) index
    // rows into the batch-touched aggregation. This measures that growth:
    // the same fixed batch probes the COMPACT one-row-per-content index and
    // the PER-DOC index, both over a corpus with the banner in EVERY doc.
    "hot_window" -> { c => import c._
      import graft.operators.SuffixArray
      val body = "stored body with unique trail "
      val batch = substringCorpus(c, body, 2000L, 900000000L, hot = true).localCheckpoint(true)
      tiers(20000L, 20000L * n).foreach { case (rows, tag) =>
        Seq("COMPACT" -> SuffixArray.charWindowIndex _,
            "PER-DOC" -> SuffixArray.charWindowIndexPerDoc _).foreach { case (form, build) =>
          val idx = timed(s"hot-window $form index build $tag")(checkpoint(
            build(substringCorpus(c, body, rows, 0L, hot = true), "doc_id", "text", 40)))
          row(s"hot-window scrub, fixed batch vs $tag $form index")(
            substringScrub(idx, batch, needUpdatedIndex = false))
        }
      }
    },

    // Stats-pruned entity-match exact leg: the primary grows n×, the daily
    // batch is FIXED — the pruned read tracks the batch's key set (stats
    // rows + admitting files); the plain exact leg's join scans the whole
    // primary.
    "entity_exact" -> { c => import c._
      import graft.catalog.FileStats
      val batch = spark.range(50).select(
        concat(lit("C"), col("id") * 977L).as("customerno"),
        lit("A01").as("srcsystemid"),
        lit(null).cast("string").as("globalid")).localCheckpoint(true)
      def leg(p: DataFrame): Long = batch.drop("globalid").join(
          p.select(col("customerno"), col("srcsystemid"), col("globalid").as("__primary_gid")),
          Seq("customerno", "srcsystemid"), "left")
        .agg(count(col("__primary_gid"))).head().getLong(0)
      tiers(100000L, 100000L * n).foreach { case (rows, tag) =>
        val db = s"emsc${System.nanoTime()}"
        spark.sql(s"CREATE DATABASE $db")
        spark.range(rows).select(
            concat(lit("C"), col("id")).as("customerno"), lit("A01").as("srcsystemid"),
            concat(lit("g-"), col("id")).as("globalid"), lit("2024-01-01").as("lastupdated"))
          .repartitionByRange(32, col("customerno"))
          .write.mode("overwrite").saveAsTable(s"$db.primary")
        FileStats.refresh(spark, s"$db.primary", s"$db.primary_stats",
          FileStats.StatsSpec(Seq("customerno"), bloomCols = Seq("customerno"),
            bloomBits = 1 << 17))
        row(s"entity exact leg, FULL primary read $tag")(leg(spark.table(s"$db.primary")))
        row(s"entity exact leg, STATS-PRUNED read $tag")(leg(FileStats.keysPrunedScan(
          spark, s"$db.primary", s"$db.primary_stats", "customerno",
          batch.select(col("customerno")), 100000).get))
      }
    },

    // Incremental fixed-point PageRank: ring fixture, FIXED 50-edge batch —
    // floor divisions quantize rank cascades, so the recompute is
    // batch-bounded; the from-scratch trace row is the ~n× comparison.
    "pagerank_incremental" -> { c => import c._
      import graft.operators.PageRank
      val batch = ringBatch(c, 10L)
      tiers(100000L, 100000L * n).foreach { case (rows, tag) =>
        val edges = ring(c, rows, Seq(1L)).localCheckpoint(true)
        val trace = timed(s"PageRank from-scratch 3-iter trace $tag")(checkpoint(
          PageRank.fixedPointTrace(edges, "src", "dst", spark.range(rows).select(col("id")),
            "id", 3)))
        row(s"PageRank incremental fixed batch $tag")(checksum(
          PageRank.incrementalFixedPoint(edges, trace, batch, "src", "dst", 3),
          "iter", "id", "pr"))
      }
    },

    // Token-distribution divergence: one word-count combine (map-side) then
    // a vocab-bounded join+agg — ~n×, shuffle bounded by vocab (replicas
    // repeat the same tokens, so the count table does NOT grow n×).
    "token_divergence" -> { c =>
      c.docsRows("token divergence per lang")(df => checksum(
        operators.CorpusStats.tokenDivergence(df.select(col("lang"),
          pmod(col("doc_id"), lit(2)).as("side"), S.tokens(col("text")).as("toks")),
          "toks", "lang", "side"),
        "kl_ab", "kl_ba", "chi2"))
    },

    // Whole-document NFD bin packing: one shuffle by salted bucket + a
    // per-bucket sort/fold — ~n× with buckets scaled alongside (fixed
    // per-bucket work), shuffle ~rows.
    "bin_packing" -> { c => import c._
      tiers(1, n).foreach { case (m, tag) =>
        val lens = spark.range(100000L * m).select(col("id"),
          (pmod(xxhash64(col("id")), lit(900L)) + 100L).as("len"))
        row(s"nfd bin packing cap=2048 $tag")(
          operators.Sampling.binPackDocs(lens, "id", "len", 2048, 64 * m, "bp").count())
      }
    },

    // Triangle enumeration under ADVERSARIAL hub skew: a celebrity node of
    // degree d generates d²/2 wedges naively; the degree-ordered orientation
    // directs every hub edge INTO the hub, so the hub generates ZERO wedges
    // and runtime must track edges ~linearly, not d².
    "triangles" -> { c => import c._
      tiers(20000L, 20000L * n).foreach { case (leaves, tag) =>
        val hub = spark.range(2, leaves + 2).select(lit(1L).as("s"), col("id").as("t"))
        val chain = spark.range(2, leaves + 1).select(col("id").as("s"), (col("id") + 1).as("t"))
        row(s"triangles, hub degree=$leaves + chain $tag")(
          operators.GraphOps.triangles(hub.unionByName(chain), "s", "t").count())
      }
    },

    // KMV set operations: sketches stay k longs per (group, side) however
    // large the corpus — shuffle ~FLAT while runtime tracks the token scan;
    // the set-op arithmetic is per-group constant work.
    "kmv_setops" -> { c =>
      c.docsRows("kmv set ops (union/jacc/intersect) per lang") { df =>
        val sks = df.select(col("lang"), pmod(col("doc_id"), lit(2)).as("half"),
            explode(S.tokens(col("text"))).as("tok"))
          .select(col("lang"), col("half"),
            conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
          .groupBy(col("lang"), col("half")).agg(SK.kmv_sketch(col("h"), 32).as("sk"))
        sks.filter(col("half") === 0).select(col("lang"), col("sk").as("ska"))
          .join(sks.filter(col("half") === 1).select(col("lang"), col("sk").as("skb")), Seq("lang"))
          .select(SK.kmv_jaccard(col("ska"), col("skb"), 32).as("j"),
            SK.kmv_intersect_estimate(col("ska"), col("skb"), 32).as("i"))
          .count()
      }
    },

    "incremental_dedup" -> (c => incrementalDedup(c, c.docs, c.rep)),
    "incremental_dedup_perturbed" -> (c => incrementalDedup(c, c.pert, c.pertRep)),
    "incremental_minhash" -> (c => incrementalMinhash(c, c.docs, c.rep)),
    "incremental_minhash_perturbed" -> (c => incrementalMinhash(c, c.pert, c.pertRep)),

    // Persisted IVF-PQ index: FIXED daily batch appended (encode-only) to a
    // 1x vs n× stored index (built outside the timer), then searched. The
    // index participates as codes only (raw vectors never re-read); append
    // is batch-scoped and search scans only the probed lists' codes — wall
    // must grow well under n×.
    "ivfpq_index" -> { c => import c._
      val cents = HX.fixedCentroids(100, 16, 64)
      val books = codebooks(200)
      val batch = emb.filter(pmod(col("vec_id"), lit(7)) === 0)
        .select((col("vec_id") + lit(100L * embOffset * n)).as("vec_id"), col("embedding"))
        .localCheckpoint(true)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding")).localCheckpoint(true)
      tiers(emb, embRep).foreach { case (df, tag) =>
        val idx = Ann.ivfPqIndex(df, "embedding", "vec_id", cents, books).localCheckpoint(true)
        row(s"ivf-pq append fixed batch + top-10 search vs $tag index")(Ann.ivfPqSearch(
          Ann.ivfPqAppend(idx, batch, "embedding", "vec_id", cents, books),
          q, "embedding", "vec_id", "query_id", cents, books, k = 10, nprobe = 4).count())
      }
    },

    // Margin-criterion pair mining: FIXED X side vs a 1x/n× Y corpus —
    // each brute-force leg broadcasts the fixed X and streams Y, so wall
    // tracks Y ~linearly; the margin arithmetic is per-query averages + two
    // id equi-joins, never a vector.
    "margin" -> { c => import c._
      val x = emb.filter(pmod(col("vec_id"), lit(4)) === 0).localCheckpoint(true)
      tiers(emb, embRep).foreach { case (df, tag) =>
        row(s"margin mining, fixed X vs $tag Y corpus")(Ann.marginMine(x,
          df.filter(pmod(col("vec_id"), lit(4)) =!= 0), "embedding", "vec_id",
          k = 4, threshold = 1.02).count())
      }
    },

    // Sketch vs exact profiler: exact count_distinct shuffles each column's
    // distinct set (the `text` column ≈ re-shuffling the corpus), while the
    // HLL partials are 2^p bytes per column per partition — the sketch row's
    // shuffle must stay ~FLAT from 1x to n× while exact grows ~n×. Checksum
    // sink: count() alone lets nested-schema pruning drop every aggregate.
    "profile" -> { c => import c._
      val cols = Seq("doc_id", "lang", "source", "text")
      def sink(p: DataFrame): Long = checksum(p, p.columns.toIndexedSeq: _*)
      tiers(docs, rep).foreach { case (df, tag) =>
        row(s"profile exact (count_distinct x4) $tag")(sink(operators.Analytics.profile(df, cols)))
        row(s"profile sketch (hll p=12 x4) $tag")(
          sink(operators.Analytics.profileSketch(df, cols, p = 12)))
      }
    },

    // Kneser-Ney perplexity (bigram, then trigram with recursive backoff):
    // LM trained on a 1x vs n× corpus, FIXED score slice — the model is
    // hash-keyed aggregations off one kernel scan of the train side (8-byte
    // keys, map-side partial); wall tracks the train scan, never score×model.
    // Moore-Lewis: BOTH LMs (in-domain + general) fit and score in ONE plan
    // via the per-group-LM machinery. N-gram novelty: the train side reduces
    // to distinct 8-byte gram hashes, anti-joined by that key.
    "language_models" -> { c => import c._
      val slice = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val train = tiers(docs, rep)
      train.foreach { case (df, tag) =>
        row(s"kn-bigram ppl, fixed score slice vs $tag train corpus")(operators.Tfidf
          .knBigramPpl(df.select(col("doc_id"), col("text")), slice, "text", "doc_id").count())
      }
      train.foreach { case (df, tag) =>
        row(s"moore-lewis ce-diff, fixed pool vs $tag train corpus")(operators.Tfidf
          .mooreLewisScore(df.filter(col("lang") === "en"), df, slice, "text", "doc_id").count())
      }
      train.foreach { case (df, tag) =>
        row(s"kn-trigram ppl, fixed score slice vs $tag train corpus")(operators.Tfidf
          .knTrigramPpl(df.select(col("doc_id"), col("text")), slice, "text", "doc_id").count())
      }
      train.foreach { case (df, tag) =>
        row(s"ngram novelty n=13, fixed slice vs $tag train")(
          Dedup.ngramNovelty(df.select(col("text")), slice, "text", "doc_id").count())
      }
    },

    // Span corruption: per-doc md5 coins + per-doc windows + one
    // covered-position join — embarrassingly parallel, ~linear.
    "span_corrupt" -> { c =>
      c.docsRows("span corruption rate~18%")(df => operators.Augment.spanCorrupt(
        df.select(col("doc_id"), col("text")), "doc_id", "text", "sc", 60, 3).count())
    },

    // Winnowing: the kernel scan is linear; matches bucket by 8-byte
    // fingerprint hash. Replication is ADVERSARIAL for the match join (every
    // doc has n-1 exact replicas → true pairs ~n² per clique) — growth must
    // track OUTPUT pairs, not input². Then incremental winnowing: FIXED
    // daily batch vs a 1x/n× stored fingerprint index — stored rows are
    // semi-joined to batch-touched fps before any pair forms, so wall grows
    // well under n× though the index grows n×.
    "winnow" -> { c => import c._
      tiers(docs, rep).foreach { case (df, tag) =>
        timed(s"winnow fingerprints+matches k=8 w=8 $tag")(checkpoint(Dedup.winnowMatches(
          df.select(col("doc_id"), col("text")), "text", "doc_id", minShared = 3)))
      }
      val batch = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select((col("doc_id") + 3000L * offset).as("doc_id"), col("text"))
        .localCheckpoint(true)
      tiers(docs, rep).foreach { case (df, tag) =>
        val idx = Dedup.winnowIndex(df.select(col("doc_id"), col("text")), "text", "doc_id")
          .localCheckpoint(true)
        row(s"incremental winnow, fixed batch vs $tag stored index")(Dedup.incrementalWinnow(
          idx, batch, "text", "doc_id", minShared = 3)._1.count())
      }
    },

    // Sparse logistic regression: 3 GD iterations over hashed features with
    // the model living in a DataFrame — per iteration one feature-keyed
    // join + two map-side-partial aggregations, ~linear, and the driver
    // never holds a weight vector. Feature building is untimed; the FIT is.
    "logistic" -> { c => import c._
      tiers(docs, rep).foreach { case (df, tag) =>
        val labels = df.select(col("doc_id"), (length(col("text")) >= 200).cast("int").as("y"))
          .localCheckpoint(true)
        val feats = operators.Retrieval.hashedTokenFeatures(df, "text", "doc_id", 1 << 18)
          .localCheckpoint(true)
        row(s"sparse logistic 3 iters, 2^18 features $tag")(operators.Retrieval
          .logisticFitSparse(feats, labels, "doc_id", "y", iters = 3, lrNum = 1, lrDen = 1)
          ._2.count())
      }
    },

    // Co-occurrence PMI: pair volume is Σ_docs |tokens|² — replication
    // multiplies DOCS, not per-doc token sets, so enumeration and wall grow
    // ~linearly; minSupport scales with n so the output stays the same
    // collocation set, and maxTokens bounds any single doc.
    "pmi" -> { c => import c._
      tiers(docs -> 150, rep -> 150 * n).foreach { case ((df, ms), tag) =>
        row(s"cooccurrencePmi minSupport-scaled $tag")(
          operators.CorpusStats.cooccurrencePmi(df, "text", "doc_id", minSupport = ms).count())
      }
    },
    "pmi_perturbed" -> { c => import c._
      tiers(pert -> 150, pertRep -> 150 * n).foreach { case ((df, ms), tag) =>
        row(s"cooccurrencePmi minSupport=$ms $tag")(operators.CorpusStats.cooccurrencePmi(
          df.select(col("doc_id"), col("text")), "text", "doc_id", minSupport = ms).count())
      }
    },

    // Synchronous label propagation, 3 iterations over a 2-out-degree graph
    // — per iteration one edge join + one vote count + one argmax window,
    // linear in edges; labels re-materialized per round, so plan depth is
    // constant at any scale.
    "label_propagation" -> { c => import c._
      tiers(docs, rep).foreach { case (df, tag) =>
        val ids = df.select(col("doc_id")).localCheckpoint(true)
        val edges = twoOutEdges(ids).localCheckpoint(true)
        row(s"labelPropagation 3 iters $tag")(operators.GraphOps.labelPropagation(
          edges, "src", "dst", ids, "doc_id", iters = 3).count())
      }
    },
    // The same over a generated id range (5000 nodes at 1x).
    "label_propagation_graph" -> { c => import c._
      tiers(5000L, 5000L * n).foreach { case (nn, tag) =>
        val ids = spark.range(nn).select(col("id").as("doc_id")).localCheckpoint(true)
        val edges = ids.select(col("doc_id").as("src"),
            explode(array((col("doc_id") * 2 + 1) % nn, (col("doc_id") * 5 + 3) % nn)).as("dst"))
          .localCheckpoint(true)
        row(s"labelPropagation 3 iters $tag")(operators.GraphOps.labelPropagation(
          edges, "src", "dst", ids, "doc_id", iters = 3).count())
      }
    },

    // Incremental CC over 10-star components: a FIXED batch bridging 500
    // component pairs (the honest merge shape) vs a 1x/n× stored labeling —
    // still batch-scoped.
    "cc_incremental_star" -> { c => import c._
      val batch = spark.range(500).select((col("id") * 20).as("src"), (col("id") * 20 + 10).as("dst"))
        .localCheckpoint(true)
      tiers(10000L, 10000L * n).foreach { case (nn, tag) =>
        val labels = CC.run(spark.range(nn).select(col("id").as("src"),
            (col("id") - pmod(col("id"), lit(10))).as("dst")), "src", "dst",
          localEdgeThreshold = 0).localCheckpoint(true)
        row(s"incremental CC, fixed 500-bridge batch vs $tag stored labeling")(
          CC.incremental(labels, batch).count())
      }
    },

    // k-anonymity ladder: two window counts + the level split — linear.
    "kanon" -> { c => import c._
      val cust = table("customer").select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment"), floor(col("c_acctbal") / 2000.0).cast("long").as("band"))
        .localCheckpoint(true)
      val custN = replicate(cust, "c_custkey", nextId(cust, "c_custkey"), n).localCheckpoint(true)
      tiers(cust, custN).foreach { case (df, tag) =>
        row(s"kAnonymize k=3 two-level ladder $tag")(operators.Privacy.kAnonymize(df,
          Seq("c_nationkey", "c_mktsegment", "band"),
          Map("c_nationkey" -> pmod(col("c_nationkey"), lit(5)),
            "band" -> floor(col("band") / 3.0).cast("long")), k = 3).count())
      }
    },

    // q209 daily-ops CHAIN at 1x/n× with PER-LEG attribution: DQ gate →
    // dedup gate → ANN gate → consolidateBatches → deleteRowsAll → DP
    // release, corpus and embeddings replicated with id offsets. The gate
    // batch count stays 4 (grp = doc_id % 4), so n× models a BIGGER DAY,
    // not more days. Twins plant at +twinOff (a multiple of 20, so the twin
    // keeps its original's grp and the %20 selector stays disjoint). The
    // chain's staged copies and checkpoints are n×-sized, so every temp dir
    // and the scaleops_* database are removed at the end of each tier.
    "daily_ops" -> { c => import c._
      import graft.catalog.{Compaction, Retention}
      import graft.streaming.{BatchCommitLog, StreamingOps}
      val d0 = table("documents").select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val dOff = nextId(d0, "doc_id")
      val cents = HX.fixedCentroids(100, 16, 64)
      val books = codebooks(200)
      def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
      def stream(dir: String, schema: org.apache.spark.sql.types.StructType) =
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
      def schemaOf(dir: String) = spark.read.parquet(dir).schema
      tiers(1, n).foreach { case (k, tag) =>
        val db = s"scaleops_$tag"
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
        Seq("cleansed", "quarantine", "corpus", "report", "annidx")
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
        val docsK = replicate(d0, "doc_id", dOff, k)
        val twinOff = (k.toLong * dOff + 19) / 20 * 20
        val ingest = docsK.unionByName(docsK.filter(pmod(col("doc_id"), lit(20)) === 0)
            .withColumn("doc_id", col("doc_id") + twinOff))
          .withColumn("grp", pmod(col("doc_id"), lit(4)).cast("int"))
        val Seq(dir1, ck1, dir2, ck2, dir3, ck3) = Seq("scaleops_docs", "scaleops_dq",
          "scaleops_clean", "scaleops_dd", "scaleops_emb", "scaleops_ann").map(tmp)
        row(s"daily-ops staging $tag") {
          ingest.repartition(4, col("grp")).write.mode("overwrite").partitionBy("grp").parquet(dir1)
          0L
        }
        val schema1 = schemaOf(dir1)
        row(s"daily-ops leg1 DQ gate $tag") {
          StreamingOps.ingestDqGate(stream(dir1, schema1), Seq("ColumnValues 'n_chars' >= 200"),
            s"$db.cleansed", s"$db.quarantine", ck1, availableNow = true).awaitTermination()
          spark.sql(s"REFRESH TABLE $db.cleansed")
          spark.sql(s"REFRESH TABLE $db.quarantine")
          spark.table(s"$db.quarantine").count()
        }
        row(s"daily-ops leg2 dedup gate $tag") {
          spark.table(s"$db.cleansed").select("doc_id", "grp", "text")
            .repartition(4, col("grp")).write.mode("overwrite").partitionBy("grp").parquet(dir2)
          StreamingOps.ingestDedupGate(stream(dir2, schemaOf(dir2)), "text", "doc_id", Seq("grp"),
            threshold = 0.999, s"$db.corpus", s"$db.report", ck2, availableNow = true)
            .awaitTermination()
          spark.sql(s"REFRESH TABLE $db.corpus")
          spark.table(s"$db.corpus").count()
        }
        val embK = replicate(table("embeddings"), "vec_id", embOffset, k)
          .select(col("vec_id"), col("embedding"))
        embK.repartition(4).write.mode("overwrite").parquet(dir3)
        val schema3 = schemaOf(dir3)
        row(s"daily-ops leg3 ANN gate $tag") {
          StreamingOps.ingestAnnGate(stream(dir3, schema3), "embedding", "vec_id", cents, books,
            s"$db.annidx", ck3, availableNow = true).awaitTermination()
          spark.sql(s"REFRESH TABLE $db.annidx")
          spark.table(s"$db.annidx").count()
        }
        row(s"daily-ops leg4 consolidation $tag") {
          val wm2 = BatchCommitLog.committed(spark, ck2).get
          val wm3 = BatchCommitLog.committed(spark, ck3).get
          (Compaction.consolidateBatches(spark, s"$db.corpus", wm2, Seq("doc_id")) +
            Compaction.consolidateBatches(spark, s"$db.annidx", wm3, Seq("vec_id"))).toLong
        }
        row(s"daily-ops leg5 forget $tag") {
          Retention.deleteRowsAll(spark, spark.table(s"$db.corpus")
              .filter(pmod(col("doc_id"), lit(13)) === 0).select(col("doc_id")).distinct(),
            Seq(Retention.DeleteTarget(s"$db.corpus", "doc_id"),
              Retention.DeleteTarget(s"$db.report", "doc_id")))
          Retention.deleteRowsAll(spark,
            embK.filter(pmod(col("vec_id"), lit(13)) === 0).select(col("vec_id")).distinct(),
            Seq(Retention.DeleteTarget(s"$db.annidx", "vec_id")))
          0L
        }
        row(s"daily-ops leg6 never-contained ANN equality $tag") {
          val survivorIdx = Ann.ivfPqIndex(embK.filter(pmod(col("vec_id"), lit(13)) =!= 0),
            "embedding", "vec_id", cents, books)
          val storedIdx = spark.table(s"$db.annidx").select("vec_id", "__list", "code")
          require(storedIdx.exceptAll(survivorIdx).isEmpty &&
            survivorIdx.exceptAll(storedIdx).isEmpty,
            "post-delete ANN index must equal the never-contained build")
          0L
        }
        row(s"daily-ops leg7 DP release $tag")(operators.Privacy.dpCounts(
          spark.table(s"$db.corpus").join(ingest.select(col("doc_id"), col("lang")), Seq("doc_id")),
          Seq("lang"), epsilon = 0.5, seed = "ops1").count())
        spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
        Seq(dir1, ck1, dir2, ck2, dir3, ck3).foreach(d => Harness.rmTree(java.nio.file.Paths.get(d)))
      }
    })

  private val bySection: Map[String, Ctx => Unit] = sections.toMap

  /** The 100× tier: the headliner shapes whose fixtures keep output
    * ~linear under 100× replication (perturbed replicas, generated inputs,
    * fixed-batch incremental paths). */
  val Tier100: Seq[String] = Seq("jaccard_perturbed", "fuzzy_zipf", "sampling", "kmv_cms",
    "pagerank", "span_scrub_perturbed", "bloom_decontamination", "bm25", "kmv_setops",
    "sessionize", "zorder", "bin_packing", "token_divergence", "containment_snippets",
    "incremental_dedup_perturbed", "bm25_index_perturbed", "ivfpq_index", "cc_incremental_star",
    "incremental_minhash_perturbed", "pmi_perturbed", "label_propagation_graph", "delete",
    "lpa_incremental", "pagerank_incremental", "substring_incremental", "hot_window",
    "substring_dedup")
}
