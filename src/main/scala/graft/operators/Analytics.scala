package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-profiling and event-analytics operators — the ANALYZE/funnel/
  * cohort readouts an ETL consume layer serves next to the raw tables. */
object Analytics {

  /** Column profile: one row per requested column with null/distinct/min/max
    * — the ANALYZE TABLE readout, computed in ONE scan (all columns'
    * aggregates in a single aggregation; no per-column passes). Values are
    * stringified for a uniform schema; numeric min/max keep their natural
    * ordering by casting BEFORE stringify.
    *
    * Exact count_distinct shuffles per-column distinct sets (acceptable for
    * profiling runs); swap in the HLL/KMV sketches for the streaming or
    * 100 TB profile — same output shape, bounded state. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        count_distinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val total = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("column"), col("__n").as("n"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_s"), col(s"__mx_$c").as("max_s"))
    }
    total.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Sketch-mode column profile — [[profile]]'s exact `count_distinct`
    * replaced by the [[graft.functions.expressions.SketchAggregates]] HLL
    * aggregate; every other statistic stays exact, and the OUTPUT SHAPE is
    * identical (AnalyticsSpec asserts schema equality), so callers swap the
    * two freely.
    *
    * This is the 100 TB profile: exact `count_distinct` shuffles each
    * column's full distinct set (a wide table profiles at the cost of
    * re-shuffling most of itself), while each HLL partial is 2^p bytes PER
    * COLUMN PER PARTITION — the shuffle is bounded by cols × partitions ×
    * 2^p regardless of data volume, and the registers merge
    * order-independently (also partition-invariantly — asserted in spec).
    * `n_distinct` is the rounded harmonic-mean estimate (±~1.04/√2^p
    * relative standard error; p = 12 → ~1.6%). */
  def profileSketch(df: DataFrame, cols: Seq[String], p: Int = 12): DataFrame = {
    import graft.functions.expressions.{SketchAggregates => SK}
    require(cols.nonEmpty)
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        SK.hll_sketch(col(c).cast("string"), p).as(s"__sk_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val total = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("column"), col("__n").as("n"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        // coalesce: the when/otherwise estimator is formally nullable; pin
        // the field non-null so the schema matches profile's count_distinct
        coalesce(round(SK.hll_estimate(col(s"__sk_$c"), p)).cast("long"), lit(0L))
          .as("n_distinct"),
        col(s"__mn_$c").as("min_s"), col(s"__mx_$c").as("max_s"))
    }
    total.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Funnel analysis: how many users reach step 1, steps 1→2 in order,
    * 1→2→3, … — the ordered-sequence conversion readout. A user counts for
    * step k iff there exist events e₁ < e₂ < … < e_k (strictly increasing
    * (ts, id) order) with the required types. Computed per user with one
    * min-aggregation per step over the PREVIOUS step's frontier — k bounded
    * joins on the user key, never a window over full event history.
    *
    * @return (step, event_type, n_users), step 1-based, monotone
    *         non-increasing n_users. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, idCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty)
    val base = events.select(col(userCol).as("__u"),
      struct(col(tsCol).as("ts"), col(idCol).as("id")).as("__o"),
      col(typeCol).as("__t"))
    // frontier: per user, the earliest event order at which step k completes
    var frontier: DataFrame = null
    val counts = steps.zipWithIndex.map { case (step, i) =>
      val matches = base.filter(col("__t") === step)
      val stepHits =
        if (i == 0) matches.groupBy(col("__u")).agg(min(col("__o")).as("__reached"))
        else matches.join(frontier, Seq("__u"))
          .filter(col("__o") > col("__reached"))
          .groupBy(col("__u")).agg(min(col("__o")).as("__reached"))
      val (hits, n) = Checkpoints.counted(stepHits) // feeds count AND next step
      frontier = hits
      (i + 1, step, n)
    }
    val s = events.sparkSession
    import s.implicits._
    counts.toDF("step", "event_type", "n_users")
      .select(col("step").cast("long").as("step"), col("event_type"),
        col("n_users"))
  }

  /** Conversion gaps: per user, seconds from the FIRST `fromStep` event to
    * the first `toStep` event strictly after it — the funnel's timing
    * companion (feed the gaps to [[CorpusStats.histogramQuantiles]] for
    * latency percentiles without a sort). Same strict (ts, id) frontier
    * semantics as [[funnel]]; users who never convert are absent.
    *
    * @return (user, gap_secs) — integer seconds, truncated. */
  def conversionGaps(events: DataFrame, userCol: String, tsCol: String,
                     typeCol: String, idCol: String,
                     fromStep: String, toStep: String): DataFrame = {
    val base = events.select(col(userCol).as("__u"),
      struct(col(tsCol).as("ts"), col(idCol).as("id")).as("__o"),
      col(typeCol).as("__t"))
    val first = base.filter(col("__t") === fromStep)
      .groupBy(col("__u")).agg(min(col("__o")).as("__from"))
    base.filter(col("__t") === toStep)
      .join(first, Seq("__u"))
      .filter(col("__o") > col("__from"))
      .groupBy(col("__u"), col("__from"))
      .agg(min(col("__o")).as("__to"))
      .select(col("__u").as(userCol),
        (unix_micros(col("__to.ts").cast("timestamp")) -
          unix_micros(col("__from.ts").cast("timestamp")))
          .divide(1000000L).cast("long").as("gap_secs"))
  }

  /** Retention cohorts: users by first-activity period × activity in later
    * periods — the "do they come back" matrix. Periods are integer
    * `floor((ts − epochStart) / periodSeconds)` so bucketing is exact
    * integer arithmetic on both engines.
    *
    * Shape: one agg for first-activity, one distinct on (user, period),
    * one join + agg — all keyed on the user/cohort, no windows.
    *
    * @return (cohort, period_offset, n_users), offset 0 = the cohort's own
    *         period. */
  def retentionCohorts(events: DataFrame, userCol: String, tsCol: String,
                       periodSeconds: Long, epochStartSeconds: Long = 0L): DataFrame = {
    require(periodSeconds > 0)
    // integer `div` end to end — float division of epoch seconds rounds
    // differently across engines at period boundaries
    val period = expr(s"(unix_micros(cast($tsCol as timestamp)) div 1000000" +
      s" - $epochStartSeconds) div $periodSeconds").cast("long")
    val activity = events.select(col(userCol).as("__u"), period.as("__p")).distinct()
    val cohorts = activity.groupBy(col("__u")).agg(min(col("__p")).as("cohort"))
    activity.join(cohorts, Seq("__u"))
      .groupBy(col("cohort"), (col("__p") - col("cohort")).as("period_offset"))
      .agg(count_distinct(col("__u")).as("n_users"))
  }

  /** Calibration (reliability) bins for a probabilistic score against a
    * binary label: scores bucket into `bins` equal-width bins over [0,1]
    * (scores ≥ 1 clamp into the top bin, scores < 0 into bin 0 — the
    * binning contract is [0,1] and out-of-range scores must not mint
    * phantom negative/overflow bin ids; NULL scores/labels are excluded —
    * a row with no prediction belongs in no reliability bin), each bin
    * reporting its size, mean
    * predicted probability and empirical positive rate — the reliability
    * diagram behind ECE, and the standard health check before a quality
    * classifier's scores are used as sampling weights (q135/q175 consume
    * scores as if calibrated; this measures whether they are).
    *
    * Determinism: the mean score is averaged over 6-dp-rounded DECIMAL
    * values, so the sum is exact and engine-order-independent; the positive
    * rate is a ratio of exact counts. One hash aggregation. */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val b = greatest(
      least(floor(col(scoreCol) * bins).cast("long"), lit(bins - 1L)), lit(0L))
    // NULL scores/labels are excluded, not binned: least()/greatest() SKIP
    // nulls, so a null score would otherwise land silently in the top bin
    // with a null mean contribution — a calibration diagram over rows that
    // carry no prediction is meaningless
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(b.as("bin"),
        round(col(scoreCol), 6).cast("decimal(18,6)").as("__s"),
        col(labelCol).cast("long").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__s")).cast("double") / count(lit(1)), 6).as("avg_score"),
        round(sum(col("__y")).cast("double") / count(lit(1)), 6).as("pos_rate"))
  }
}
