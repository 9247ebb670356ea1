package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One benchmark workload. Every table it writes lives in databases named
  * after a namespace, so the timed pass and the traced pass never see each
  * other's state. */
trait Workload {
  def spark: SparkSession
  def exp: JsonNode

  /** Untimed: the workload's first steps (days, batches) in the namespace
    * the timed loop then continues, so class loading, code generation and
    * first-use costs land before timing. */
  def warmup(ns: String): Unit
  /** The closed loop over the remaining steps: every operation goes
    * through `rec.op` (or is recorded by `rec.external`). */
  def run(ns: String, rec: Recorder): Unit
  /** Untimed checks over the final state. */
  def finalChecks(ns: String, rec: Recorder): Unit
  /** Feed rows (or docs) behind `rows_per_s`. */
  def rowsDone(rec: Recorder): Long = rec.ops.filter(_.ok).map(_.rows).sum
  /** Seconds of the timed loop behind `wall_s`. */
  def wallSeconds(rec: Recorder): Double = rec.ops.map(_.seconds).sum
  /** The sample behind `op_p50_s`. */
  def opSamples(rec: Recorder): Seq[Double] = rec.ops.filter(_.ok).map(_.seconds).toSeq
  def databases(ns: String): Seq[String]
  def inputBytes: Long = exp.get("input_bytes").asLong
  /** Workload-specific per-layer figures of the traced pass. */
  def layerExtras(ns: String, rec: Recorder, tracer: Tracer): Map[String, Double] = Map.empty
  /** Traced pass only, after the trace is closed: isolated legs. */
  def legs(ns: String, rec: Recorder): Map[String, Double] = Map.empty

  protected def text(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
  protected def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}
