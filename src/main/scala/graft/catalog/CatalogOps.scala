package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual,
  Literal}

/** Catalog-level physical-layout helpers.
  *
  * Bucketing is the batch answer to repeated co-located joins at 100 TB:
  * writing both fact tables bucketed (same column, same bucket count) lets
  * every subsequent equi-join on that column run with NO shuffle on either
  * side — the join becomes a per-bucket zip. Worth it whenever a join key is
  * hit repeatedly (here: orderkey between orders and lineitem). */
object CatalogOps {

  /** Creates `table` (and its database) bucketed, zstd like every
    * [[TableWrite]] table; an existing table is replaced. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Seq.empty): Unit = {
    TableWrite.createDatabaseOf(df.sparkSession, table)
    var w = df.write.format("parquet").option("compression", TableWrite.Codec)
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
  }

  /** `spark.table(table).filter(filter)` with FILE SKIPPING through the
    * table's [[FileStats]] index, for callers that hold an ordinary
    * `Column` predicate rather than hand-built [[FileStats.StatsPredicate]]s
    * — the general read-path hook the consume-SQL stage and the streaming
    * gates' stored reads use. The filter's top-level conjuncts are
    * inspected: `col = v` / `col IN (…)` become [[FileStats.KeysPredicate]]
    * and `col (<|<=|>|>=) v` / `BETWEEN` bounds fold into one
    * [[FileStats.RangePredicate]] per column — but ONLY for columns the
    * stats table actually indexes ([[FileStats.statsSpecOf]]).
    * Unrecognized or un-indexed conjuncts simply don't prune. The FULL
    * original filter is re-applied row-level on the pruned read, so the
    * result equals the plain filtered table read bit-for-bit whatever the
    * extraction recognized; when no stats table exists or nothing is
    * extractable, this IS the plain read. Correct-by-construction under
    * staleness for the same reason [[FileStats.pruneFiles]] is: unknown
    * files always survive. */
  def readPruned(spark: SparkSession, table: String, statsTable: String,
                 filter: Column): DataFrame = {
    val plain = spark.table(table).filter(filter)
    // EVERYTHING stats-related degrades to the plain read — a malformed or
    // concurrently-dropped stats table must cost pruning, never the read
    try readPrunedOrThrow(spark, table, statsTable, filter, plain)
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"stats-pruned read of $table via $statsTable failed — " +
            "falling back to the plain filtered read", e)
        plain
    }
  }

  /** Stats-pruned rewrite of an already-built SQL DataFrame — the
    * consume-stage read-path hook: every `Filter` sitting directly on a
    * catalog relation (through subquery aliases) whose table has an entry
    * in `statsTables` is replaced by the [[readPruned]] scan of that table
    * under the same predicate, so a consume-SQL `WHERE` on an indexed
    * column reads only the files whose [[FileStats]] admit it. Works on
    * the OPTIMIZED plan, where the optimizer has already pushed each
    * filter down to its scan — a predicate written above a join still
    * prunes the table it constrains. Row-identical by [[readPruned]]'s
    * contract (the full predicate is re-applied row-level; unknown or
    * unindexed files always survive); ANY failure — unresolvable rewrite,
    * subquery predicates, missing stats — degrades to the original frame,
    * never to an error or a row change. Table names in `statsTables` are
    * matched db-qualified, case-insensitively. */
  def prunePlanScans(spark: SparkSession, df: DataFrame,
                     statsTables: Map[String, String]): DataFrame = {
    if (statsTables.isEmpty) return df
    try {
      val out = prunePlanScansOrThrow(spark, df, statsTables)
      out.schema // force analysis NOW so a broken rewrite degrades here
      out
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "stats-pruned SQL rewrite failed — using the unpruned plan", e)
        df
    }
  }

  private def prunePlanScansOrThrow(spark: SparkSession, df: DataFrame,
                                    statsTables: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, PlanExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def canon(n: String): String =
      n.split('.').takeRight(2).mkString(".").toLowerCase(java.util.Locale.ROOT)
    val wanted = statsTables.map { case (t, st) => canon(t) -> st }
    def relationNameOf(plan: LogicalPlan): Option[String] = plan match {
      case s: SubqueryAlias => relationNameOf(s.child)
      case lr: LogicalRelation => lr.catalogTable.map(_.identifier.unquotedString)
      case h: HiveTableRelation => Some(h.tableMeta.identifier.unquotedString)
      case _ => None
    }
    var changed = false
    val rewritten = df.queryExecution.optimizedPlan.transformUp {
      case f @ LFilter(cond, child)
          if relationNameOf(child).exists(n => wanted.contains(canon(n))) &&
            cond.deterministic && !cond.exists(_.isInstanceOf[PlanExpression[_]]) =>
        // 2-part name: catalog metadata answers `spark_catalog.db.t`, but
        // the FileStats/TableIdentifier machinery speaks db.t
        val full = relationNameOf(child).get
        val name = full.split('.').takeRight(2).mkString(".")
        // rebind the predicate by NAME so it resolves against a fresh read
        val nameCond = cond.transform {
          case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
        }
        val pruned = readPruned(spark, name, wanted(canon(name)),
          org.apache.spark.sql.graftbridge.ColumnBridge.column(nameCond))
        val prunedPlan = pruned.queryExecution.analyzed
        val resolver = spark.sessionState.conf.resolver
        // graft the pruned subtree under the old output ids so every
        // downstream reference keeps resolving
        val projList = f.output.map { o =>
          val n = prunedPlan.output.find(a => resolver(a.name, o.name))
            .getOrElse(throw new IllegalStateException(
              s"pruned read of $name lost column ${o.name}"))
          Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier,
            explicitMetadata = Some(o.metadata))
        }
        changed = true
        Project(projList, prunedPlan)
    }
    if (!changed) df
    else org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, rewritten)
  }

  private def readPrunedOrThrow(spark: SparkSession, table: String,
                                statsTable: String, filter: Column,
                                plain: DataFrame): DataFrame = {
    // looked up once: the indexed columns here, the bloom geometry in prune
    val spec = FileStats.statsSpecOf(spark, statsTable)
    if (spec.isEmpty) return plain
    val indexed = spec.get.cols.toSet

    // the RESOLVED predicate, from the analyzed plan (the public Column is
    // ColumnNode-backed in Spark 4 — analysis is what turns it into real
    // Catalyst comparisons); literal-side casts the analyzer inserted for
    // type alignment fold here so the bounds carry their aligned values
    val cond: Expression = plain.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    } match {
      case Some(c) => c.transformUp {
        case cast: org.apache.spark.sql.catalyst.expressions.Cast
            if cast.child.isInstanceOf[Literal] && cast.foldable =>
          Literal.create(cast.eval(), cast.dataType)
      }
      case None => return plain
    }

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // resolve attribute names against the indexed set with the SESSION's
    // resolver (case-insensitive by default) — a filter written col("ID")
    // on indexed column `id` must not silently lose file skipping; the
    // canonical stats-table name is what flows into the predicates
    val resolver = spark.sessionState.conf.resolver
    def nameOf(e: Expression): Option[String] = e match {
      case a: Attribute => indexed.find(c => resolver(c, a.name))
      case _ => None
    }
    def valueOf(l: Literal): Option[Any] =
      Option(CatalystTypeConverters.convertToScala(l.value, l.dataType))

    // fold comparison conjuncts into per-column bounds; collect key sets
    val lo = scala.collection.mutable.Map.empty[String, Any]
    val hi = scala.collection.mutable.Map.empty[String, Any]
    val keys = scala.collection.mutable.ListBuffer.empty[FileStats.KeysPredicate]
    // later bounds only NARROW (keep the first — any recognized bound is a
    // valid admit filter; tightest-bound selection would need type-aware
    // comparison for no correctness gain)
    def setLo(c: String, v: Any): Unit = if (!lo.contains(c)) lo(c) = v
    def setHi(c: String, v: Any): Unit = if (!hi.contains(c)) hi(c) = v
    conjuncts(cond).foreach {
      case EqualTo(a, l: Literal) => nameOf(a).zip(valueOf(l)).foreach {
        case (c, v) => keys += FileStats.KeysPredicate(c, Seq(v)) }
      case EqualTo(l: Literal, a) => nameOf(a).zip(valueOf(l)).foreach {
        case (c, v) => keys += FileStats.KeysPredicate(c, Seq(v)) }
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        nameOf(a).foreach { c =>
          val ext = vs.map(v => valueOf(v.asInstanceOf[Literal]))
          if (ext.forall(_.isDefined)) keys += FileStats.KeysPredicate(c, ext.map(_.get))
        }
      case GreaterThan(a, l: Literal) =>
        nameOf(a).zip(valueOf(l)).foreach { case (c, v) => setLo(c, v) }
      case GreaterThanOrEqual(a, l: Literal) =>
        nameOf(a).zip(valueOf(l)).foreach { case (c, v) => setLo(c, v) }
      case LessThan(a, l: Literal) =>
        nameOf(a).zip(valueOf(l)).foreach { case (c, v) => setHi(c, v) }
      case LessThanOrEqual(a, l: Literal) =>
        nameOf(a).zip(valueOf(l)).foreach { case (c, v) => setHi(c, v) }
      case GreaterThan(l: Literal, a) => // v > col  ⇔  col < v
        nameOf(a).zip(valueOf(l)).foreach { case (c, v) => setHi(c, v) }
      case GreaterThanOrEqual(l: Literal, a) =>
        nameOf(a).zip(valueOf(l)).foreach { case (c, v) => setHi(c, v) }
      case LessThan(l: Literal, a) =>
        nameOf(a).zip(valueOf(l)).foreach { case (c, v) => setLo(c, v) }
      case LessThanOrEqual(l: Literal, a) =>
        nameOf(a).zip(valueOf(l)).foreach { case (c, v) => setLo(c, v) }
      case _ => () // unrecognized conjunct: row-level only, never prunes
    }
    val ranges = (lo.keySet ++ hi.keySet).toSeq.sorted.map(c =>
      FileStats.RangePredicate(c, lo.get(c), hi.get(c)))
    val preds: Seq[FileStats.StatsPredicate] = ranges ++ keys
    if (preds.isEmpty) return plain
    // PRUNE with the extracted predicates, FILTER with the original Column
    // (the extracted set is a superset-admitting relaxation, so the full
    // row-level filter restores exact semantics)
    val (root, selected, _) = FileStats.prune(spark, table, statsTable, spec, preds)
    FileStats.readFiles(spark, table, root, selected, filter)
  }
}
