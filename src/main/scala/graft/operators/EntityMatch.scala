package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import graft.config.Specs.NodeOps
import graft.functions.{SimilarityFunctions => S}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity matching (SURVEY.md §2.4 J3/J4, §3.3): exact key match + leveled
  * fuzzy record-linkage + manual MERGE upsert into the primary entity table.
  *
  * The reference collapses BOTH frames to driver pandas for the fuzzy pass
  * (etl_consume_entity_match.py:243-245) — a scale dead-end called out in its
  * own comments. Here each level is a distributed blocking equi-join: both
  * sides shuffle only on the block key, per-field similarity runs on candidate
  * pairs, and each incoming row keeps its best candidate via one window. At
  * 100 TB the block key bounds the join fan-out; hot blocks are guarded by a
  * primary-side candidate collapse plus an explicit salt split for
  * genuinely-diverse hot blocks (see [[fuzzyMatch]] — AQE's skew-join
  * cannot split this shape: it keys on partition input bytes, and a hot
  * block is tiny-input / quadratic-output).
  */
object EntityMatch {

  case class FieldSpec(name: String, kind: String, method: String,
                       threshold: Option[Double], weight: Double)
  case class LevelSpec(id: String, blocks: Seq[String], fields: Seq[FieldSpec],
                       threshold: Double)
  case class MatchSpec(primaryTable: String, globalIdField: String, sortField: String,
                       sourcePrimaryKey: String, sourceSystemKey: String,
                       levels: Seq[LevelSpec],
                       partitionBy: Seq[String] = Seq.empty,
                       collapseIncoming: Boolean = false)

  def parseSpec(root: JsonNode): MatchSpec = {
    val exact = Option(root.get("exact_match_fields"))
    MatchSpec(
      primaryTable = root.str("primary_entity_table").getOrElse("entity_primary"),
      globalIdField = root.str("global_id_field").getOrElse("globalid"),
      sortField = root.str("sort_field").getOrElse(""),
      sourcePrimaryKey = exact.flatMap(_.str("source_primary_key")).getOrElse(""),
      sourceSystemKey = exact.flatMap(_.str("source_system_key")).getOrElse(""),
      // extension beyond the reference: partition the primary entity table so
      // upserts rewrite only affected partitions (see upsert)
      partitionBy = root.strList("primary_partition_by"),
      // extension: per-level incoming-signature collapse for head-heavy block
      // distributions (see fuzzyMatch) — off by default
      collapseIncoming = Option(root.get("collapse_incoming"))
        .exists(_.asBoolean(false)),
      levels = Option(root.get("levels")).toSeq.flatMap(_.elems).map { l =>
        LevelSpec(
          id = l.str("id").getOrElse("1"),
          blocks = l.strList("blocks"),
          fields = Option(l.get("fields")).toSeq.flatMap(_.elems).map { f =>
            FieldSpec(f.str("fieldname").get, f.str("type").getOrElse("exact"),
              f.str("method").getOrElse("jarowinkler"), f.dbl("threshold"),
              f.dbl("weight").getOrElse(1.0))
          },
          threshold = l.dbl("threshold").getOrElse(1.0))
      })
  }

  private val sliceRe = """(\w+)\[(\d*):(\d*)\]""".r

  /** Python-style `col[a:b]` slice markup → Spark substring, replicating the
    * reference's off-by-one conversion EXACTLY (`substring(col, a+1, b+1-a)` —
    * one char longer than a Python slice; etl_consume_entity_match.py:184-195)
    * so blocking behavior matches the reference bit-for-bit. */
  def blockPiece(spec: String): Column = spec match {
    case sliceRe(name, a, b) =>
      val start = if (a.isEmpty) 0 else a.toInt
      val stopExpr = if (b.isEmpty) s"length($name)" else b
      expr(s"substring($name, $start + 1, $stopExpr + 1 - $start)")
    case name => col(name)
  }

  def blockingCol(blocks: Seq[String]): Column = concat(blocks.map(blockPiece): _*)

  /** J3 exact match: left-outer join on (source_primary_key, source_system_key);
    * incoming keeps its gid else inherits the primary's
    * (etl_consume_entity_match.py:94-157). Returns (matched, unmatched).
    *
    * `materialize` truncates the join's lineage (executor-local checkpoint)
    * before the null-split: both split outputs AND every fuzzy-level branch
    * downstream otherwise re-execute the join subtree — ~5 executions in the
    * full job's final union. Swap for reliable `checkpoint` on clusters with
    * preemptible executors. */
  def exactMatch(incoming: DataFrame, primary: DataFrame, spec: MatchSpec,
                 materialize: Boolean = false): (DataFrame, DataFrame) = {
    val gid = spec.globalIdField
    val p = primary.select(
      col(spec.sourcePrimaryKey).as("__pk"), col(spec.sourceSystemKey).as("__sk"),
      col(gid).as("__primary_gid"))
      .dropDuplicates("__pk", "__sk")
    val joined0 = incoming.join(p,
      incoming(spec.sourcePrimaryKey) === col("__pk") &&
        incoming(spec.sourceSystemKey) === col("__sk"),
      "left")
      .withColumn(gid, coalesce(col(gid), col("__primary_gid")))
      .drop("__pk", "__sk", "__primary_gid")
    val joined = if (materialize) joined0.localCheckpoint(true) else joined0
    splitByNull(joined, gid)
  }

  /** P5 null-split (etl_consume_entity_match.py:74-91). */
  def splitByNull(df: DataFrame, field: String): (DataFrame, DataFrame) =
    (df.filter(col(field).isNotNull), df.filter(col(field).isNull))

  /** J4 distributed fuzzy match. For each level (in order): blocking equi-join
    * incoming×primary on the level's concatenated block column, score candidate
    * pairs by weighted-average features, keep pairs ≥ level threshold, and per
    * incoming row keep the best (highest score, deterministic tie-break).
    * Later levels override earlier ones, mirroring the reference's sequential
    * assignment loop (etl_consume_entity_match.py:269-273).
    *
    * `collapseIncoming` (opt-in): additionally dedupe the INCOMING side per
    * level to distinct (block, field-values) signatures before scoring, then
    * join the per-signature winner back to rows null-safely — EXACTLY
    * result-preserving (a row's winner is a pure function of its signature).
    * Worth it when incoming carries many duplicate field tuples (boilerplate
    * floods: F identical rows score once instead of F times); costs an extra
    * dedupe + join-back per level, so it stays off for mostly-unique feeds. */
  def fuzzyMatch(incoming: DataFrame, primary: DataFrame, spec: MatchSpec,
                 rowKey: Seq[String],
                 collapseIncoming: Boolean = false,
                 saltTupleThreshold: Int = 1024): (DataFrame, DataFrame) = {
    val gid = spec.globalIdField
    if (spec.levels.isEmpty || incoming.isEmpty) return splitByNull(incoming, gid)
    // a primary row with NO gid cannot assign anything — matching it would
    // just coalesce to null (the entity-match job never writes such rows, but
    // a dirty external primary table must not make a tie-break pick the null
    // candidate and silently un-match a row the non-null candidate would win;
    // the tuple collapse below also relies on min(gid) over non-null gids)
    val primaryClean = primary.filter(col(gid).isNotNull)

    var assignments: DataFrame = null
    spec.levels.zipWithIndex.foreach { case (level, li) =>
      val inc = incoming.withColumn("__block", blockingCol(level.blocks))
        .filter(col("__block").isNotNull).alias("i")
      val pri = primaryClean.withColumn("__block", blockingCol(level.blocks))
        .filter(col("__block").isNotNull)
        .select(col("__block"), col(gid).as("__cand_gid"),
          struct(level.fields.map(f => col(f.name)): _*).as("__pf")).alias("p")
      val prExp = pri.select(col("__block"), col("__cand_gid"), col("__pf.*"))
        .toDF(("__block" +: "__cand_gid" +: level.fields.map(f => s"__p_${f.name}")): _*)

      // Boilerplate-flood guard: the score below is a pure function of the
      // candidate's (block, field-values) tuple, and the per-row winner
      // tie-breaks on MIN __cand_gid among max-score candidates — so primary
      // rows with identical tuples are interchangeable up to that min.
      // Collapsing them to one row with min(gid) is EXACTLY result-preserving
      // (min over max-score tuples = min over the tuple-mins) and turns the
      // 100 TB scale-killer — a hot block of B boilerplate primary rows
      // joining F incoming flood rows (F×B candidates) — into F×distinct
      // tuples. groupBy groups nulls, so null-field tuples collapse too.
      // Residual skew (a hot block of genuinely DISTINCT tuples) is an
      // equi-join partition AQE's skew-join split redistributes.
      val fieldCols = level.fields.map(f => s"__p_${f.name}")
      val prDistinct = prExp.groupBy(("__block" +: fieldCols).map(col): _*)
        .agg(min(col("__cand_gid")).as("__cand_gid"))

      // optional incoming-side collapse: score each distinct signature once
      val sigNames = "__block" +: level.fields.map(f => s"__i_${f.name}")
      val leftFrame =
        if (!collapseIncoming) inc
        else inc.select(col("__block") +:
            level.fields.map(f => col(s"i.${f.name}").as(s"__i_${f.name}")): _*)
          .dropDuplicates(sigNames) // nulls group together, like <=> below
      def leftField(name: String): Column =
        if (collapseIncoming) col(s"__i_$name") else col(s"i.$name")

      // Distinct-tuple hot-block guard (salt split). The tuple collapse
      // above linearizes BOILERPLATE floods, but a hot block of genuinely
      // DISTINCT tuples still lands all of its (incoming × tuples) score
      // work in ONE task — and no built-in mechanism spreads it: AQE's
      // skew-join keys on partition INPUT bytes and this shape is
      // tiny-input / quadratic-output (measured: a 6.3k×6.3k hot block ran
      // 40M jaro evals in one 39 s task while 31 cores idled — AQE had
      // coalesced the tiny collapsed-tuple aggregate to ONE partition).
      // Blocks whose distinct-tuple count exceeds `saltTupleThreshold` are
      // split explicitly: incoming rows hash into S_b salt slices, the
      // block's tuples replicate across all S_b — each incoming row still
      // meets every tuple exactly once (exactly result-preserving,
      // EntityMatchSpec), per-task work drops to (inc_b/S_b)×tup_b.
      // S_b ≈ tup_b/(threshold/8), capped at 64 — replication stays
      // bounded on a frame that is already distinct-tuple-collapsed. Both
      // salted sides are EXPLICITLY co-repartitioned on (block, salt) —
      // explicit numPartitions is exempt from AQE coalescing, which is
      // what serialized the unguarded run. The hot map is materialized and
      // counted in one job (same control-flow-scalar pattern as the
      // isEmpty gate above): no hot blocks → the common path is untouched,
      // no extra joins, no salt column, no repartition.
      val (hotMap, hotBlocks) = Checkpoints.counted(prDistinct.groupBy(col("__block"))
        .agg(count(lit(1)).as("__tup_cnt"))
        .filter(col("__tup_cnt") > saltTupleThreshold)
        .select(col("__block"), least(lit(64),
          ceil(col("__tup_cnt") / lit(math.max(1, saltTupleThreshold / 8))))
          .cast("int").as("__nsalt")))
      val cands =
        if (hotBlocks == 0) leftFrame.join(prDistinct, Seq("__block"))
        else {
          val np = incoming.sparkSession.sessionState.conf.numShufflePartitions
          val saltHashCols =
            if (collapseIncoming) sigNames.map(col)
            else rowKey.map(k => col(s"i.$k"))
          val leftSalted = leftFrame.join(broadcast(hotMap), Seq("__block"), "left")
            .withColumn("__salt", when(col("__nsalt").isNull, lit(0))
              .otherwise(pmod(xxhash64(saltHashCols: _*), col("__nsalt")).cast("int")))
            .drop("__nsalt")
          val priSalted = prDistinct.join(broadcast(hotMap), Seq("__block"), "left")
            .withColumn("__salt", explode(when(col("__nsalt").isNull, array(lit(0)))
              .otherwise(sequence(lit(0), col("__nsalt") - 1))))
            .drop("__nsalt")
          leftSalted.repartition(np, col("__block"), col("__salt"))
            .join(priSalted.repartition(np, col("__block"), col("__salt")),
              Seq("__block", "__salt"))
        }
      val wSum = level.fields.map(_.weight).sum
      // per-field similarity feature in [0,1] — recordlinkage semantics:
      // `exact` is 1/0 equality (null never matches); `string` with a
      // threshold is binarized jaro-winkler similarity.
      val score = level.fields.map { f =>
        val l = leftField(f.name)
        val r = col(s"__p_${f.name}")
        val feat = f.kind match {
          case "exact" => when(l.isNotNull && r.isNotNull && l === r, 1.0).otherwise(0.0)
          case "string" =>
            val sim = coalesce(S.jaro_winkler(l.cast("string"), r.cast("string")), lit(0.0))
            f.threshold.fold(sim)(t => when(sim >= t, 1.0).otherwise(0.0))
          case k => throw new IllegalArgumentException(s"unsupported comparator type $k")
        }
        feat * f.weight
      }.reduce(_ + _) / wSum

      val scored0 = cands.withColumn("__score", score)
        .filter(col("__score") >= level.threshold)
      val scored =
        if (!collapseIncoming)
          scored0
            .withColumn("__rn", row_number().over(
              Window.partitionBy(rowKey.map(k => col(s"i.$k")): _*)
                .orderBy(col("__score").desc, col("__cand_gid"))))
            .filter(col("__rn") === 1)
            .select(rowKey.map(k => col(s"i.$k")) :+ col("__cand_gid").as("__new_gid") :+
              lit(li).as("__level"): _*)
        else {
          // one winner per SIGNATURE (same tie-break), then a null-safe
          // join-back hands it to every row carrying that signature — inner,
          // so signatures with no qualifying candidate drop out exactly as
          // unmatched rows do on the direct path
          val winNames = sigNames.indices.map(i => s"__w_$i")
          val perSig = scored0
            .withColumn("__rn", row_number().over(
              Window.partitionBy(sigNames.map(col): _*)
                .orderBy(col("__score").desc, col("__cand_gid"))))
            .filter(col("__rn") === 1)
            .select(sigNames.map(col) ++ Seq(col("__cand_gid"), col("__score")): _*)
            .toDF(winNames ++ Seq("__w_gid", "__w_score"): _*)
          val rowsWithSig = inc.select(rowKey.map(k => col(s"i.$k")) ++
            (col("__block") +:
              level.fields.map(f => col(s"i.${f.name}").as(s"__i_${f.name}"))): _*)
          val cond = sigNames.zip(winNames)
            .map { case (l, w) => col(l) <=> col(w) }.reduce(_ && _)
          // re-apply the per-rowKey window over the joined winners: rowKey is
          // normally unique, but DUPLICATE rowKey values with different
          // signatures would otherwise emit one assignment per row where the
          // direct path picks a single winner across all of them — same
          // (score desc, gid) tie-break restores exact equivalence
          rowsWithSig.join(perSig, cond)
            .withColumn("__rn", row_number().over(
              Window.partitionBy(rowKey.map(col): _*)
                .orderBy(col("__w_score").desc, col("__w_gid"))))
            .filter(col("__rn") === 1)
            .select(rowKey.map(col) :+ col("__w_gid").as("__new_gid") :+
              lit(li).as("__level"): _*)
        }

      assignments =
        if (assignments == null) scored
        else assignments.unionByName(scored)
    }

    // later level wins per row (reference overwrites sequentially).
    // best is tiny (rowKey + gid per matched row) but its plan contains every
    // level's blocking join — materialize so the split below (and the
    // caller's union) executes those joins once, not once per consumer.
    val best = assignments
      .withColumn("__rn", row_number().over(
        Window.partitionBy(rowKey.map(col): _*).orderBy(col("__level").desc)))
      .filter(col("__rn") === 1)
      .select(rowKey.map(col) :+ col("__new_gid"): _*)
      .localCheckpoint(true)

    val out = incoming.join(best, rowKey, "left")
      .withColumn(gid, coalesce(col(gid), col("__new_gid")))
      .drop("__new_gid")
    splitByNull(out, gid)
  }

  /** fill_global_id: deterministic uuid per still-unmatched row
    * (etl_consume_entity_match.py:42-71). */
  def fillGlobalId(df: DataFrame, gidField: String): DataFrame =
    df.withColumn(gidField, coalesce(col(gidField), expr("uuid()")))

  /** K5 MERGE upsert: latest-per-gid incoming row updates (or inserts into)
    * the primary table. The operator owns the "latest" semantics (one row per
    * gid, newest by sort_field, matching the reference's window
    * etl_consume_entity_match.py:420-441); HOW rows are replaced is the
    * [[graft.catalog.TableFormat]] seam — [[graft.catalog.HiveParquetFormat]]
    * (partition-scoped rewrite, the sandbox default) and
    * [[graft.catalog.SqlMergeFormat]] (a real `MERGE INTO` for
    * Iceberg/Delta-backed deployments, etl_consume_entity_match.py:443-455)
    * are interchangeable here. */
  def upsert(spark: SparkSession, primaryTable: String, incoming: DataFrame,
             spec: MatchSpec,
             format: graft.catalog.TableFormat = graft.catalog.HiveParquetFormat): Unit = {
    val gid = spec.globalIdField
    val latest =
      if (spec.sortField.nonEmpty && incoming.columns.contains(spec.sortField))
        incoming.withColumn("__rn", row_number().over(
          Window.partitionBy(col(gid)).orderBy(col(spec.sortField).desc)))
          .filter(col("__rn") === 1).drop("__rn")
      else incoming.dropDuplicates(gid)
    format.mergeUpsert(spark, primaryTable, latest, gid)
  }

  /** Full entity-match job (etl_consume_entity_match.py:286-459): first run
    * creates the primary table with uuid-filled gids; subsequent runs split
    * prematched/tomatch, exact-match, fuzzy-match, uuid-fill, recombine, and
    * upsert. Returns the final incoming frame with gids assigned. */
  /** @param statsTable optional [[graft.catalog.FileStats]] index on the
    *        primary table (bloom on `sourcePrimaryKey`): the EXACT-match
    *        leg then reads only primary files whose stats admit the
    *        incoming batch's key set — result-preserving (a primary row
    *        whose pk is absent from the batch can never equi-join) and
    *        the 100 TB posture for a daily batch against a years-deep
    *        primary. The fuzzy leg joins on a DERIVED blocking column, so
    *        it keeps the full table read. Probe failures / over-bound key
    *        sets fall back to the plain read (keysPrunedScan's contract). */
  def run(spark: SparkSession, incoming0: DataFrame, spec: MatchSpec,
          rowKey: Seq[String], statsTable: Option[String] = None,
          maxPruneKeys: Int = 100000): DataFrame = {
    val gid = spec.globalIdField
    val incoming =
      if (incoming0.columns.contains(gid)) incoming0
      else incoming0.withColumn(gid, lit(null).cast("string"))

    if (!spark.catalog.tableExists(spec.primaryTable)) {
      val filled = fillGlobalId(incoming, gid)
      graft.catalog.TableWrite.createOrReplace(filled, spec.primaryTable, spec.partitionBy)
      // return the PERSISTED rows: uuid() is nondeterministic per execution,
      // so re-running the unmaterialized plan would hand the caller gids that
      // match nothing in the primary table
      spark.table(spec.primaryTable)
    } else {
      val primary = spark.table(spec.primaryTable)
      val (prematched, tomatch) = splitByNull(incoming, gid)
      // stats-pruned primary for the exact leg only: the equi-join on
      // (pk, sk) makes pk-filtered reads result-preserving
      val primaryForExact = statsTable.flatMap(st =>
        graft.catalog.FileStats.keysPrunedScan(spark, spec.primaryTable, st,
          spec.sourcePrimaryKey,
          tomatch.select(col(spec.sourcePrimaryKey)), maxPruneKeys))
        .getOrElse(primary)
      val (exactMatched, exactUnmatched) = exactMatch(tomatch, primaryForExact, spec,
        materialize = true)
      val (fuzzyMatched, fuzzyUnmatched) = fuzzyMatch(exactUnmatched, primary, spec, rowKey,
        collapseIncoming = spec.collapseIncoming)
      val newEntities = fillGlobalId(fuzzyUnmatched, gid)
      val all = prematched.unionByName(exactMatched)
        .unionByName(fuzzyMatched).unionByName(newEntities)
      // materialize BEFORE upsert: the plan references the primary table,
      // whose files the upsert's overwrite deletes — re-executing it after
      // the upsert (e.g. caller counts the result) would read dead files.
      // This scratch intentionally outlives the call (the returned frame
      // reads from it) — under the warehouse FS so executors see it.
      val scratch = graft.catalog.Scratch.newDir(spark, "match_result")
      graft.catalog.TableWrite.scratch(all, scratch)
      val materialized = spark.read.parquet(scratch)
      upsert(spark, spec.primaryTable, materialized, spec)
      // write-path index maintenance, the Retention.deleteRows convention:
      // the upsert rewrote partitions, so refresh the stats index under its
      // own recorded spec — tomorrow's batch prunes against fresh stats
      // instead of paying the staleness admit on every rewritten file.
      // Failures log and fall back (statsSpecOf/refresh are best-effort
      // here; the probe itself is correct under staleness regardless).
      statsTable.foreach { st =>
        try graft.catalog.FileStats.statsSpecOf(spark, st).foreach(sp =>
          graft.catalog.FileStats.refresh(spark, spec.primaryTable, st, sp))
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"post-upsert stats refresh of ${spec.primaryTable} failed — " +
                "pruning degrades until the next refresh", e)
        }
      }
      materialized
    }
  }
}
