package graft.dq

import graft.dq.Dqdl._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Outcome of one rule against one frame. */
case class RuleOutcome(rule: String, passed: Boolean, metric: Option[Double],
                       failureReason: Option[String]) {
  def outcome: String = if (passed) "Passed" else "Failed"
}

/** Result of a quarantine run: rows that passed, rows that failed (with
  * `quarantine_timestamp`), and per-rule outcomes. */
case class QuarantineResult(passed: DataFrame, failed: DataFrame,
                            outcomes: Seq[RuleOutcome])

/** Compiles parsed DQDL rules to Spark and evaluates them with the reference's
  * three action tiers (dataquality_check.py:116-258).
  *
  * Scale design: the aggregate metrics of a ruleset's three tiers and the
  * quarantine split's row counts are folded into ONE `df.agg(...)` pass
  * ([[RulesetPass]]; the reference's Glue DQ evaluates per-ruleset too); the
  * row-level quarantine split is a pair of complementary filters over one
  * boolean column — no extra shuffle. Each `CustomSql` rule is its own Spark
  * job by nature (arbitrary SQL over a temp view named `primary`).
  *
  * Null semantics: `ColumnValues` / `ColumnDataType` treat NULL as failing
  * (Glue DQ does not skip nulls); use `Completeness`/`IsComplete` to reason
  * about nulls explicitly.
  */
class DqEngine(quarantineSink: Option[(DataFrame, String) => Unit] = None) {

  /** Row-level pass predicate for a rule expr, where expressible.
    * Missing column → constant false (rule fails every row, like Glue marking
    * the whole frame failed). CustomSql handled separately (semi-join). */
  private def rowPredicate(df: DataFrame, e: Expr): Option[Column] = e match {
    case And(l, r) => for (a <- rowPredicate(df, l); b <- rowPredicate(df, r)) yield a && b
    case Or(l, r)  => for (a <- rowPredicate(df, l); b <- rowPredicate(df, r)) yield a || b
    case Leaf(rule) => rule match {
      // every leaf is coalesced to FALSE: a NULL input makes these SQL
      // predicates NULL, and a three-valued row predicate would make the
      // quarantine split drop the row from BOTH passed and failed frames
      case ColumnValues(c, pred) =>
        if (!df.columns.contains(c)) Some(lit(false))
        else Some(coalesce(valuePredicate(col(c), pred), lit(false)))
      case ColumnDataType(c, t) =>
        if (!df.columns.contains(c)) Some(lit(false))
        else Some(coalesce(try_cast_ok(col(c), t), lit(false)))
      case IsComplete(c) =>
        Some(if (df.columns.contains(c)) col(c).isNotNull else lit(false))
      case ColumnExists(c) => Some(lit(df.columns.contains(c)))
      case ColumnLength(c, op, n) =>
        if (!df.columns.contains(c)) Some(lit(false))
        else Some(coalesce(
          cmp(length(col(c).cast("string")).cast(DoubleType), op, lit(n)), lit(false)))
      case _ => None // dataset-level only (Completeness/RowCount/IsUnique/AggRule/CustomSql)
    }
  }

  private def valuePredicate(c: Column, pred: ValuePred): Column = pred match {
    case Matches(re)   => c.cast("string").rlike(s"^(?:$re)$$")
    case InList(vs)    => c.cast("string").isin(vs: _*)
    case Between(l, h) => c.cast(DoubleType).between(l, h)
    case Cmp(op, Left(d))  => cmp(c.cast(DoubleType), op, lit(d))
    case Cmp(op, Right(s)) => cmp(c.cast("string"), op, lit(s))
  }

  private def cmp(c: Column, op: String, v: Column): Column = op match {
    case ">" => c > v; case ">=" => c >= v; case "<" => c < v
    case "<=" => c <= v; case "=" => c === v; case "!=" => c =!= v
  }

  private def cmpD(a: Double, op: String, b: Double): Boolean = op match {
    case ">" => a > b; case ">=" => a >= b; case "<" => a < b
    case "<=" => a <= b; case "=" => a == b; case "!=" => a != b
  }

  /** Castability test used by ColumnDataType; DATE/TIMESTAMP/numeric DDL names. */
  private def try_cast_ok(c: Column, typeName: String): Column = {
    val ddl = typeName.toLowerCase match {
      case "int" | "integer" => "int"
      case "bigint" | "long" => "bigint"
      case "float"           => "float"
      case "double"          => "double"
      case "date"            => "date"
      case "timestamp"       => "timestamp"
      case "boolean"         => "boolean"
      case other             => other
    }
    c.isNotNull && try_element_cast(c, ddl).isNotNull
  }

  private def try_element_cast(c: Column, ddl: String): Column =
    c.cast("string").try_cast(ddl)

  // --------------------------------------------------------- dataset evaluation

  /** Adds to `aggs` the aggregate each metric leaf of `e` needs, keyed by
    * metric name: rules that share a metric share its column. */
  private def collectAggs(df: DataFrame, e: Expr,
                          aggs: scala.collection.mutable.LinkedHashMap[String, Column]): Unit =
    e match {
      case And(l, r) => collectAggs(df, l, aggs); collectAggs(df, r, aggs)
      case Or(l, r)  => collectAggs(df, l, aggs); collectAggs(df, r, aggs)
      case Leaf(rule) => rule match {
        // NULL predicate results count as VIOLATIONS (coalesce to false):
        // a plain avg would skip them and report an all-NULL column as 100%
        // compliant
        case ColumnValues(c, pred) if df.columns.contains(c) =>
          aggs.getOrElseUpdate(s"cv:${rule.describe}",
            avg(coalesce(valuePredicate(col(c), pred), lit(false)).cast(DoubleType)))
        case ColumnDataType(c, t) if df.columns.contains(c) =>
          aggs.getOrElseUpdate(s"cdt:$c:$t",
            avg(coalesce(try_cast_ok(col(c), t), lit(false)).cast(DoubleType)))
        case Completeness(c, _, _) if df.columns.contains(c) =>
          aggs.getOrElseUpdate(s"comp:$c", avg(col(c).isNotNull.cast(DoubleType)))
        case IsComplete(c) if df.columns.contains(c) =>
          aggs.getOrElseUpdate(s"comp:$c", avg(col(c).isNotNull.cast(DoubleType)))
        case IsUnique(c) if df.columns.contains(c) =>
          aggs.getOrElseUpdate(s"uniq:$c",
            (count_distinct(col(c)) === count(lit(1))).cast(DoubleType))
        case RowCount(_, _) =>
          aggs.getOrElseUpdate("rowcount", count(lit(1)).cast(DoubleType))
        case AggRule(agg, c, _, _) if df.columns.contains(c) =>
          val e = agg match {
            case "Mean" => avg(col(c).cast(DoubleType))
            case "Sum" => sum(col(c).cast(DoubleType))
            case "StandardDeviation" => stddev_pop(col(c).cast(DoubleType))
            case "DistinctValuesCount" => count_distinct(col(c)).cast(DoubleType)
            case "Uniqueness" =>
              count_distinct(col(c)).cast(DoubleType) / count(lit(1)).cast(DoubleType)
          }
          aggs.getOrElseUpdate(s"agg:$agg:$c", e)
        case ColumnLength(c, _, _) if df.columns.contains(c) =>
          aggs.getOrElseUpdate(s"len:${rule.describe}",
            avg(rowPredicate(df, Leaf(rule)).get.cast(DoubleType)))
        case _ => ()
      }
    }

  /** A rule's (passed, metric, failure reason) from the pass's `metrics`;
    * a CustomSql rule runs its own query over the temp view `primary`. */
  private def verdict(df: DataFrame, metrics: Map[String, Double],
                      e: Expr): (Boolean, Option[Double], Option[String]) = e match {
    case And(l, r) =>
      val (p1, m1, r1) = verdict(df, metrics, l); val (p2, _, r2) = verdict(df, metrics, r)
      (p1 && p2, m1, Seq(r1, r2).flatten.headOption)
    case Or(l, r) =>
      val (p1, m1, r1) = verdict(df, metrics, l); val (p2, _, r2) = verdict(df, metrics, r)
      (p1 || p2, m1, if (p1 || p2) None else Seq(r1, r2).flatten.headOption)
    case Leaf(rule) => rule match {
      case ColumnValues(c, _) if !df.columns.contains(c) =>
        (false, None, Some(s"column $c does not exist"))
      case r @ ColumnValues(_, _) =>
        val m = metrics(s"cv:${r.describe}")
        (m == 1.0, Some(m), if (m == 1.0) None else Some(f"compliance ${m * 100}%.2f%%"))
      case ColumnDataType(c, t) if !df.columns.contains(c) =>
        (false, None, Some(s"column $c does not exist"))
      case ColumnDataType(c, t) =>
        val m = metrics(s"cdt:$c:$t")
        (m == 1.0, Some(m), if (m == 1.0) None else Some(f"castable ${m * 100}%.2f%%"))
      case Completeness(c, _, _) if !df.columns.contains(c) =>
        (false, None, Some(s"column $c does not exist"))
      case Completeness(c, op, t) =>
        val m = metrics(s"comp:$c")
        (cmpD(m, op, t), Some(m), if (cmpD(m, op, t)) None else Some(f"completeness $m%.4f not $op $t"))
      case ColumnExists(c) =>
        (df.columns.contains(c), None,
          if (df.columns.contains(c)) None else Some(s"column $c does not exist"))
      case IsComplete(c) if !df.columns.contains(c) =>
        (false, None, Some(s"column $c does not exist"))
      case IsComplete(c) =>
        val m = metrics(s"comp:$c")
        (m == 1.0, Some(m), if (m == 1.0) None else Some(f"completeness $m%.4f < 1.0"))
      case IsUnique(c) if !df.columns.contains(c) =>
        (false, None, Some(s"column $c does not exist"))
      case IsUnique(c) =>
        val m = metrics(s"uniq:$c")
        (m == 1.0, Some(m), if (m == 1.0) None else Some("duplicate values present"))
      case RowCount(op, n) =>
        val m = metrics("rowcount")
        (cmpD(m, op, n), Some(m), if (cmpD(m, op, n)) None else Some(f"row count $m%.0f not $op $n"))
      case AggRule(agg, c, _, _) if !df.columns.contains(c) =>
        (false, None, Some(s"column $c does not exist"))
      case AggRule(agg, c, op, n) =>
        val m = metrics(s"agg:$agg:$c")
        (cmpD(m, op, n), Some(m), if (cmpD(m, op, n)) None else Some(f"$agg $m%.4f not $op $n"))
      case ColumnLength(c, _, _) if !df.columns.contains(c) =>
        (false, None, Some(s"column $c does not exist"))
      case r @ ColumnLength(_, _, _) =>
        val m = metrics(s"len:${r.describe}")
        (m == 1.0, Some(m), if (m == 1.0) None else Some(f"length compliance ${m * 100}%.2f%%"))
      case CustomSql(sql, cmpOpt) =>
        // same registration+analysis atomicity as markByRules
        val res = DqEngine.primaryViewLock.synchronized {
          df.createOrReplaceTempView("primary")
          df.sparkSession.sql(sql)
        }
        cmpOpt match {
          case Some((op, n)) =>
            // empty result (e.g. aggregate + HAVING with no groups) → NaN,
            // which fails every comparator, instead of head() throwing
            val v = res.limit(1).collect().headOption
              .flatMap(r => Option(r.get(0))).map(_.toString.toDouble)
              .getOrElse(Double.NaN)
            (cmpD(v, op, n), Some(v), if (cmpD(v, op, n)) None else Some(s"custom sql returned $v, expected $op $n"))
          case None =>
            val c = res.limit(1).count()
            (c > 0, Some(c.toDouble), if (c > 0) None else Some("custom sql returned no rows"))
        }
    }
  }

  /** A row-level CustomSql rule: a semi-join on the keys its query returns. */
  private def isSemiJoin(e: Expr): Boolean = e match {
    case Leaf(CustomSql(_, None)) => true
    case _ => false
  }

  /** One ruleset's three tiers over ONE metrics pass of `df`: the dataset
    * metrics of every tier's rules and the quarantine split's row counts
    * share a single `df.agg` (each separate aggregate is 2–3 Spark jobs
    * under AQE). Lazy: the aggregate runs when the first verdict or count
    * is read, and a tier's CustomSql queries run when that tier's verdicts
    * are first read, so a caller keeps the reference's side-effect order
    * (warn, then quarantine, then halt). */
  final class RulesetPass private[DqEngine] (df: DataFrame, warnRules: Seq[String],
                                             quarantineRules: Seq[String],
                                             haltRules: Seq[String]) {
    private val quarantineExprs = quarantineRules.map(Dqdl.parse)
    // a semi-join rule's per-row verdict needs its join: the split is then
    // counted over the marked frame, not in this pass
    private val semiJoin = quarantineExprs.exists(isSemiJoin)
    private val aggs = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    (warnRules ++ quarantineRules ++ haltRules).foreach(r => collectAggs(df, Dqdl.parse(r), aggs))
    // the quarantine tier's row-level predicates, conjoined; its
    // dataset-level rules fold in on the driver (see `counts`)
    private val rowPass: Option[Column] =
      if (quarantineRules.isEmpty || semiJoin) None
      else Some(quarantineExprs.flatMap(rowPredicate(df, _)).foldLeft(lit(true))(_ && _))
    private val columns = aggs.values.toSeq ++
      rowPass.toSeq.flatMap(p => Seq(count(lit(1)), count(when(p, 1))))
    private lazy val row: Option[Row] =
      if (columns.isEmpty) None else Some(df.agg(columns.head, columns.tail: _*).head())
    private lazy val metrics: Map[String, Double] = row.fold(Map.empty[String, Double]) { r =>
      aggs.keys.zipWithIndex.map { case (k, i) =>
        k -> (if (r.isNullAt(i)) 1.0 else r.getDouble(i)) // empty frame → vacuous pass
      }.toMap
    }
    private def outcomes(rules: Seq[String]): Seq[RuleOutcome] = rules.map { text =>
      val (p, m, reason) = verdict(df, metrics, Dqdl.parse(text))
      RuleOutcome(text, p, m, reason)
    }

    lazy val warn: Seq[RuleOutcome] = outcomes(warnRules)
    lazy val quarantine: Seq[RuleOutcome] = outcomes(quarantineRules)
    lazy val halt: Seq[RuleOutcome] = outcomes(haltRules)

    private lazy val marked = markByRules(df, quarantineRules, () => quarantine)
    /** Rows that pass every quarantine rule. */
    def passed: DataFrame = marked._1.filter(col("__dq_pass_all")).drop(marked._2: _*)
    /** Rows that fail a quarantine rule. */
    def failed: DataFrame = marked._1.filter(!col("__dq_pass_all")).drop(marked._2: _*)

    /** (rows, passing rows) of the quarantine split; (0, 0) without
      * quarantine rules. The pass counts the rows that meet every row-level
      * rule; a failed dataset-level rule then makes the passing count 0 —
      * the `lit(passed)` fold [[markByRules]] applies per row. A CustomSql
      * semi-join is counted over the marked frame instead. */
    lazy val counts: (Long, Long) =
      if (quarantineRules.isEmpty) (0L, 0L)
      else if (semiJoin) {
        val r = marked._1.agg(count(lit(1)), count(when(col("__dq_pass_all"), 1))).head()
        (r.getLong(0), r.getLong(1))
      } else {
        val r = row.get
        val datasetFailed = quarantineExprs.zip(quarantine).exists { case (e, o) =>
          rowPredicate(df, e).isEmpty && !o.passed
        }
        (r.getLong(aggs.size), if (datasetFailed) 0L else r.getLong(aggs.size + 1))
      }
  }

  /** The tiers' shared metrics pass over `df` (see [[RulesetPass]]); runs
    * nothing until a verdict or count is read. */
  private[graft] def pass(df: DataFrame, warnRules: Seq[String] = Nil,
                          quarantineRules: Seq[String] = Nil,
                          haltRules: Seq[String] = Nil): RulesetPass =
    new RulesetPass(df, warnRules, quarantineRules, haltRules)

  /** Evaluate rules dataset-level: one combined agg pass for metric rules plus
    * one spark.sql per CustomSql (temp view `primary`). */
  def evaluateDataset(df: DataFrame, rules: Seq[String]): Seq[RuleOutcome] =
    pass(df, warnRules = rules).warn

  // ------------------------------------------------------------------- actions

  /** warn_rules: evaluate + log; never mutates the frame.
    * Ref: dataquality_check.py:145-171. */
  def runWarn(df: DataFrame, rules: Seq[String]): Seq[RuleOutcome] =
    logWarnings(pass(df, warnRules = rules).warn)

  private def logWarnings(outcomes: Seq[RuleOutcome]): Seq[RuleOutcome] = {
    outcomes.filterNot(_.passed).foreach(o =>
      System.err.println(s"[dq][warn] ${o.rule}: ${o.failureReason.getOrElse("")}"))
    outcomes
  }

  /** halt_rules: raise if any rule fails. Ref: dataquality_check.py:116-142. */
  def runHalt(df: DataFrame, rules: Seq[String]): Seq[RuleOutcome] =
    haltOn(pass(df, haltRules = rules).halt)

  private def haltOn(outcomes: Seq[RuleOutcome]): Seq[RuleOutcome] = {
    if (outcomes.exists(!_.passed))
      throw new RuntimeException("Data quality check failed: " +
        outcomes.filterNot(_.passed).map(_.rule).mkString("; "))
    outcomes
  }

  /** The quarantine tier's marked frame: every input row plus the combined
    * `__dq_pass_all` flag (and per-CustomSql marker columns to drop).
    * Shared by [[runQuarantine]] (the reference's batch semantics: sink,
    * timestamp, all-quarantined halt) and [[splitByRules]] (the streaming
    * gate surface, which wants none of those). */
  private def markByRules(df: DataFrame, rules: Seq[String],
                          outcomesF: () => Seq[RuleOutcome]): (DataFrame, Seq[String]) = {
    val parsed = rules.map(r => r -> Dqdl.parse(r))
    // dataset-level verdicts are only needed when a rule falls through to
    // the fallback branch — read at most once, and NOT AT ALL for
    // row-level-only rulesets (the streaming gate's per-batch hot path:
    // the verdicts need the metrics pass and re-run CustomSql)
    lazy val outcomes = outcomesF()
    // Combine row predicates; CustomSql row-level rules become semi-joins.
    var current = df
    var pred: Column = lit(true)
    val markerCols = scala.collection.mutable.ListBuffer.empty[String]
    parsed.zipWithIndex.foreach { case ((_, e), i) =>
      rowPredicate(df, e) match {
        case Some(p) => pred = pred && p
        case None => e match {
          case Leaf(CustomSql(sql, None)) =>
            // the DQDL dialect hard-names the view "primary"
            // (dataquality_check.py:86-89), so registration + analysis
            // must be atomic against other DQ runs on the SAME session
            // (sql() analyzes eagerly, capturing the plan — after that the
            // view may be rebound freely). Streaming gates get a cloned
            // session per query and don't contend; this lock covers
            // same-session concurrent batch callers.
            val keys = DqEngine.primaryViewLock.synchronized {
              df.createOrReplaceTempView("primary")
              df.sparkSession.sql(sql).distinct()
            }
            val keyCols = keys.columns
            val markerName = s"__dq_pass_$i" // unique per rule — several
            markerCols += markerName        // CustomSql rules may coexist
            val marker = keys.withColumn(markerName, lit(true))
            current = current.join(marker, keyCols.toSeq, "left")
            pred = pred && col(markerName).isNotNull
          case _ =>
            // dataset-level rule inside quarantine tier: verdict applies to all rows
            pred = pred && lit(outcomes(i).passed)
        }
      }
    }
    (current.withColumn("__dq_pass_all", pred),
      "__dq_pass_all" +: markerCols.toSeq)
  }

  /** Row-level pass/fail split ONLY — the streaming-gate surface: no
    * quarantine sink, no all-rows-quarantined halt, no timestamp column
    * (micro-batch delivery wants deterministic frames and supplies its own
    * failure policy). Rule semantics are [[runQuarantine]]'s exactly —
    * same predicate compiler, same CustomSql semi-joins, same
    * dataset-level fold. */
  def splitByRules(df: DataFrame, rules: Seq[String]): (DataFrame, DataFrame) = {
    val p = pass(df, quarantineRules = rules)
    (p.passed, p.failed)
  }

  /** quarantine_rules: row-level split. Rows failing ANY rule are quarantined
    * (with `quarantine_timestamp`); dataset-only rules apply their verdict to
    * every row; row-level CustomSql keeps rows whose projected key(s) appear in
    * the query result (left-semi join — the reference's process_rows
    * semantics). Throws when every row fails.
    * Ref: dataquality_check.py:175-258. */
  def runQuarantine(df: DataFrame, rules: Seq[String],
                    sinkName: String = "quarantine"): QuarantineResult =
    quarantine(pass(df, quarantineRules = rules), sinkName)

  private def quarantine(p: RulesetPass, sinkName: String): QuarantineResult = {
    val failed = p.failed.withColumn("quarantine_timestamp", current_timestamp())
    val (total, passCount) = p.counts
    if (total > passCount) quarantineSink.foreach(sink => sink(failed, sinkName))
    if (total > 0 && passCount == 0)
      throw new RuntimeException("Data quality check quarantined all rows")
    QuarantineResult(p.passed, failed, p.quarantine)
  }

  /** Full ruleset orchestration, matching run_data_quality ordering and the
    * halt-runs-on-PRE-quarantine-frame quirk (dataquality_check.py:296-316):
    * every tier's metrics come from ONE pass over `df`, then warn is logged,
    * the quarantine sink written, and halt thrown, in that order.
    * Rule outcomes from every tier are appended to [[resultsLog]] (K7 — the
    * reference's DynamoDB DQ-results table); flush with [[writeResults]]. */
  def runRuleset(df: DataFrame, ruleset: Map[String, Seq[String]],
                 rulesetName: String = "ruleset"): DataFrame = {
    if (ruleset.isEmpty) return df
    val p = pass(df, ruleset.getOrElse("warn_rules", Nil),
      ruleset.getOrElse("quarantine_rules", Nil), ruleset.getOrElse("halt_rules", Nil))
    if (ruleset.contains("warn_rules"))
      record(rulesetName, "warn", logWarnings(p.warn))
    val filtered =
      if (ruleset.contains("quarantine_rules")) {
        val res = quarantine(p, rulesetName)
        record(rulesetName, "quarantine", res.outcomes)
        res.passed
      } else df
    // record, THEN throw (NOTE: the original frame, the reference's
    // pre-quarantine halt quirk)
    if (ruleset.contains("halt_rules")) {
      record(rulesetName, "halt", p.halt)
      haltOn(p.halt)
    }
    filtered
  }

  private val resultsBuf =
    scala.collection.mutable.ListBuffer.empty[(String, String, RuleOutcome)]
  private def record(rulesetName: String, action: String, outcomes: Seq[RuleOutcome]): Unit =
    resultsBuf ++= outcomes.map(o => (rulesetName, action, o))

  /** All (ruleset, action, outcome) rows recorded so far. */
  def resultsLog: Seq[(String, String, RuleOutcome)] = resultsBuf.toSeq

  /** K7: persist recorded outcomes as a parquet table/path
    * (execution_id, ruleset, action, rule, outcome, metric, failure_reason).
    * Append-only like the reference's per-run DynamoDB items — execution_id
    * distinguishes runs, so a rerun adds a new identifiable batch rather than
    * indistinguishable duplicates. */
  def writeResults(spark: org.apache.spark.sql.SparkSession, target: String,
                   executionId: String = ""): Unit = {
    import spark.implicits._
    val df = resultsBuf.toSeq.map { case (rs, act, o) =>
      (executionId, rs, act, o.rule, o.outcome,
        o.metric.getOrElse(Double.NaN), o.failureReason.getOrElse(""))
    }.toDF("execution_id", "ruleset", "action", "rule", "outcome", "metric", "failure_reason")
    // execution_id was added in front of the original 6 columns; appending to
    // a target created before that change would mix 6- and 7-column batches
    // (saveAsTable throws late, parquet paths read back inconsistently) —
    // fail fast with a migration message instead
    val existing: Option[org.apache.spark.sql.types.StructType] =
      if (target.contains("/"))
        // only a MISSING path means "fresh target"; any other read failure
        // (corrupt footer, permissions) must not skip the schema check — the
        // append would then create exactly the mixed-schema state this guards
        try Some(spark.read.parquet(target).schema)
        catch {
          // missing path OR existing-but-empty dir (e.g. a killed run left
          // only _temporary) both mean "fresh target"
          case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") ||
               e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
               e.getMessage.toLowerCase.contains("path does not exist") => None
        }
      else if (spark.catalog.tableExists(target)) Some(spark.table(target).schema)
      else None
    existing.filterNot(_.fieldNames.contains("execution_id")).foreach { old =>
      throw new IllegalStateException(
        s"DQ results target '$target' predates the execution_id column " +
        s"(found schema: ${old.fieldNames.mkString(", ")}); migrate it " +
        "(add an execution_id string column, e.g. rewrite with a '' default) " +
        "or point writeResults at a fresh target")
    }
    if (target.contains("/"))
      df.write.mode("append").option("compression", graft.catalog.TableWrite.Codec).parquet(target)
    else if (existing.isEmpty) graft.catalog.TableWrite.createOrReplace(df, target)
    else graft.catalog.TableWrite.append(df, target)
  }
}

object DqEngine {
  /** JVM-wide lock for the dialect-mandated "primary" temp-view name: view
    * registration and the eager analysis of the CustomSql that reads it
    * must not interleave with another DQ run on the same session. */
  private[dq] val primaryViewLock = new Object
}
