package graft.lineage

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
import java.io.{File, FileWriter}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.Await
import scala.concurrent.duration._

/** Data-lineage + numeric-audit log (SURVEY.md §2.12). The reference writes one
  * DynamoDB item per operation keyed by execution id + monotonically
  * increasing sequence (datalineage.py:60-89); here a JSONL file.
  *
  * The numeric audit (A1) sums every float/double/decimal column; the
  * reference loops `collect()` per column (datalineage.py:140-143) — we fold
  * everything into ONE agg pass, which is the only form that survives at
  * 100 TB, and on a frame about to be written into the write itself
  * ([[auditOnWrite]]), which costs no job at all. */
class Lineage(executionId: String, sink: Option[String] = None) {
  private val seq = new AtomicInteger(0)
  private val entries = scala.collection.mutable.ListBuffer.empty[String]

  private def esc(s: String): String = graft.config.Specs.jsonEscape(s)

  def update(df: DataFrame, operation: String, detail: String = ""): Unit = {
    val n = seq.incrementAndGet()
    val line = s"""{"execution_id":"${esc(executionId)}","seq":$n,""" +
      s""""op":"${esc(operation)}","detail":"${esc(detail)}"}"""
    entries += line
    sink.foreach { path =>
      val w = new FileWriter(new File(path), true)
      try w.write(line + "\n") finally w.close()
    }
  }

  /** The audit's aggregates — row count, then the sum of every
    * float/double/decimal column — and those columns' names. */
  private def auditAggs(df: DataFrame): (Seq[String], Seq[Column]) = {
    val numCols = df.schema.fields.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType ||
        f.dataType.isInstanceOf[DecimalType] => f.name
    }.toSeq
    (numCols, count(lit(1)).cast(DoubleType).as("__rowcount") +:
      numCols.map(c => sum(col(c).cast(DoubleType)).as(c)))
  }

  /** Records the audit line of one aggregated `row` of [[auditAggs]]. */
  private def recordAudit(df: DataFrame, phase: String, numCols: Seq[String],
                          row: Row): Map[String, Double] = {
    val metrics = ("rowcount" -> row.getDouble(0)) +: numCols.zipWithIndex.map {
      case (c, i) => c -> (if (row.isNullAt(i + 1)) 0.0 else row.getDouble(i + 1))
    }
    update(df, "numericaudit", s"$phase: " + metrics.map { case (k, v) => s"$k=$v" }.mkString(","))
    metrics.toMap
  }

  /** Single-pass numeric audit: row count + per-numeric-column sums. */
  def numericAudit(df: DataFrame, phase: String): Map[String, Double] = {
    val (numCols, aggs) = auditAggs(df)
    recordAudit(df, phase, numCols, df.agg(aggs.head, aggs.tail: _*).head())
  }

  /** [[numericAudit]] of `df`, taken by the action `write` runs instead of
    * an aggregate job of its own: `write` receives `df` with the audit
    * attached as a `Dataset.observe`, and the same line is recorded after
    * it returns. `write` must run the frame it receives exactly once (one
    * action, the frame not duplicated in its plan). A throwing `write`
    * records nothing. When the observation does not report — AQE can
    * replace an empty subtree, observation included — the audit falls back
    * to [[numericAudit]]'s aggregate. */
  def auditOnWrite(df: DataFrame, phase: String)(write: DataFrame => Unit): Map[String, Double] = {
    val (numCols, aggs) = auditAggs(df)
    val observation = Observation()
    write(df.observe(observation, aggs.head, aggs.tail: _*))
    // the observation is delivered by the listener bus, after the action
    scala.util.Try(Await.result(observation.future, 10.seconds)).toOption
      .filter(_.length == aggs.length) match {
      case Some(row) => recordAudit(df, phase, numCols, row)
      case None => numericAudit(df, phase)
    }
  }

  def log: Seq[String] = entries.toSeq
}
