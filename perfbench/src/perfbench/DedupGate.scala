package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.catalog.{FileStats, Retention}
import graft.pipeline.{JobArgs, PipelineRunner}
import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `dedup_gate`: the training-data path. `StreamingOps.ingestDedupGate`
  * drains a directory of per-batch corpus parquet files with
  * `Trigger.AvailableNow`, one file per trigger, keeping its FileStats
  * block index (`statsTable`) itself; one micro-batch is one operation,
  * timed by the query's own `triggerExecution`. The corpus is then
  * maintained beside its index: one shard read (one block's docs through
  * the consume stage, its scan pruned by the index) and one forget request
  * (doc ids deleted from the corpus and the report, then the index
  * refreshed), each one operation. */
final class DedupGate(val spark: SparkSession, work: String, val exp: JsonNode)
    extends Workload {
  private val runner = new PipelineRunner(spark)
  private val files = elems(exp.get("files"))
  private val warmBatches = exp.get("warmup_batches").asInt
  private val threshold = exp.get("threshold").asDouble
  private val schema = "doc_id BIGINT, blk STRING, text STRING"
  private val shardSql = "SELECT doc_id, blk FROM {db}.corpus WHERE blk = '{blk}'"
  private var lastProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
  private var gateSeconds = 0.0
  // traced-pass figures read off the calls' own reports
  private val refreshReports = ArrayBuffer.empty[FileStats.RefreshReport]
  private val deleteReports = ArrayBuffer.empty[Retention.DeleteReport]
  private val readRatios = ArrayBuffer.empty[Double]
  private var pruneRatio = 0.0

  def databases(ns: String): Seq[String] = Seq(s"${ns}_gate", s"${ns}_gate_consume")

  private def corpus(ns: String) = s"${ns}_gate.corpus"
  private def index(ns: String) = s"${ns}_gate.corpus_stats"

  private def gate(ns: String, dir: String, rec: Recorder): Unit = {
    val db = s"${ns}_gate"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
    val ckpt = s"$work/${ns}_gate_ckpt"
    val t0 = System.nanoTime()
    val q = rec.span("streaming.dedup_gate") {
      val q = StreamingOps.ingestDedupGate(docs, "text", "doc_id", Seq("blk"), threshold,
        corpus(ns), s"$db.report", ckpt, availableNow = true,
        statsTable = Some(index(ns)))
      q.awaitTermination()
      q
    }
    gateSeconds = (System.nanoTime() - t0) / 1e9
    lastProgress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    spark.catalog.refreshTable(corpus(ns))
    spark.catalog.refreshTable(s"$db.report")
  }

  /** One block's docs through the consume stage, the scan pruned by the
    * gate's block index. */
  private def read(ns: String, blk: String): Unit = {
    val db = s"${ns}_gate"
    runner.cleanseToConsume(JobArgs("gate", "shard", "", s"$ns-shard-$blk", Map.empty, db),
      shardSql, Map("db" -> db, "blk" -> blk), Map.empty,
      statsTables = Map(corpus(ns) -> index(ns)))
  }

  /** The doc ids leave the corpus and the report; then the corpus's block
    * index is refreshed under the spec the gate recorded. Doc ids are not
    * in that index, so the delete discovers its partitions by a scan. */
  private def forget(ns: String, ids: Seq[Long], rec: Recorder): Unit = {
    import spark.implicits._
    val reports = rec.span("catalog.delete") {
      Retention.deleteRowsAll(spark, ids.toDF("doc_id"),
        Seq(Retention.DeleteTarget(corpus(ns), "doc_id"),
          Retention.DeleteTarget(s"${ns}_gate.report", "doc_id")))
    }
    val refreshed = rec.span("catalog.refresh") {
      val spec = FileStats.statsSpecOf(spark, index(ns))
        .getOrElse(throw new IllegalStateException(s"${index(ns)} has no spec"))
      FileStats.refresh(spark, corpus(ns), index(ns), spec)
    }
    if (rec.traced) {
      deleteReports ++= reports.map(_._2)
      refreshReports += refreshed
    }
  }

  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  /** Land generated batch files in the gate's source directory, keeping
    * their modification times (the stream takes files in that order). */
  private def drop(ns: String, fs: Seq[JsonNode]): String = {
    val dir = java.nio.file.Paths.get(s"$work/${ns}_stream")
    java.nio.file.Files.createDirectories(dir)
    fs.foreach { f =>
      val src = java.nio.file.Paths.get(f.get("path").asText)
      val dst = dir.resolve(src.getFileName)
      java.nio.file.Files.copy(src, dst)
      java.nio.file.Files.setLastModifiedTime(dst, java.nio.file.Files.getLastModifiedTime(src))
    }
    dir.toString
  }

  /** The warm-up files, through their own AvailableNow run of the gate,
    * then one shard read and one forget request. */
  def warmup(ns: String): Unit = {
    val rec = new Recorder(spark, false)
    val m = exp.get("warmup")
    gate(ns, drop(ns, files.take(warmBatches)), rec)
    read(ns, m.get("read_blk").asText)
    forget(ns, longs(m.get("forget")), rec)
  }

  /** The remaining files arrive and the gate resumes from its checkpoint;
    * then one shard read and one forget request. */
  def run(ns: String, rec: Recorder): Unit = {
    val db = s"${ns}_gate"
    val dir = drop(ns, files.drop(warmBatches))
    val failure = scala.util.Try(gate(ns, dir, rec)).failed.toOption
    failure.foreach { e =>
      System.err.println("[perfbench] dedup gate threw:")
      e.printStackTrace()
    }
    rec.sampleHeap()
    val report = rec.aux(spark.table(s"$db.report")
      .select(col("batch_id"), col("doc_id"), col("status")).collect())
    val stored = rec.aux(spark.table(corpus(ns))
      .select(col("batch_id"), col("doc_id")).collect())
    val keptByBatch = report.filter(_.getString(2) == "kept")
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rowsByBatch = report.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val corpusByBatch = stored.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val byBatch = lastProgress.map(p => p.batchId -> p).toMap
    files.zipWithIndex.drop(warmBatches).foreach { case (f, i) =>
      val want = f.get("kept").elements().asScala.map(_.asLong).toSet
      val got = keptByBatch.getOrElse(i.toLong, Set.empty)
      val ok = failure.isEmpty && byBatch.contains(i.toLong) &&
        rec.check(s"batch $i kept ids", got == want,
          s"${(got -- want).size} unexpected kept, ${(want -- got).size} missing") &&
        rec.check(s"batch $i report rows", rowsByBatch.getOrElse(i.toLong, 0) == f.get("ids").asInt,
          s"${rowsByBatch.getOrElse(i.toLong, 0)} != ${f.get("ids")}") &&
        rec.check(s"batch $i corpus ids", corpusByBatch.getOrElse(i.toLong, Set.empty) == want,
          "corpus survivors differ from the expected kept ids")
      val (start, secs) = byBatch.get(i.toLong).map { p =>
        (java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L,
          p.durationMs.get("triggerExecution").toLong / 1000.0)
      }.getOrElse((0L, 0.0))
      rec.external(OpRecord("micro_batch", s"batch $i", start, start + (secs * 1e9).toLong,
        ok, f.get("ids").asLong, if (ok) None else Some("batch failed its check or did not run")))
    }
    if (rec.traced) pruneRatio = rec.aux(storedFilesSelected(ns))

    val m = exp.get("timed")
    val blk = m.get("read_blk").asText
    rec.op("read", s"shard $blk", 0)(read(ns, blk)) { _ =>
      val got = spark.table(s"${db}_consume.shard").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      val want = longs(m.get("read_ids"))
      if (rec.traced) {
        val (_, _, pr) = FileStats.pruneFiles(spark, corpus(ns), index(ns),
          Seq(FileStats.KeysPredicate("blk", Seq(blk))))
        readRatios += pr.filesSelected.toDouble / pr.filesTotal
      }
      rec.check(s"shard $blk doc ids", got == want,
        s"${got.size} docs, ${got.diff(want).size} unexpected, ${want.diff(got).size} missing")
    }
    val ids = longs(m.get("forget"))
    rec.op("forget", ids.mkString(","), 0)(forget(ns, ids, rec)) { _ =>
      Seq(corpus(ns), s"$db.report").map { t =>
        val left = spark.table(t).filter(col("doc_id").isin(ids: _*)).count()
        rec.check(s"forgotten ids gone from $t", left == 0, s"$left rows remain")
      }.forall(identity)
    }
  }

  /** Files the index selects for each timed batch's stored-side read, over
    * the stored files it could read (those of earlier batches): the share
    * of the stored corpus the gate still reads. */
  private def storedFilesSelected(ns: String): Double = {
    val BatchDir = """batch_id=(\d+)""".r.unanchored
    def batchOf(f: FileStats.FileEntry): Long = f.rel match {
      case BatchDir(b) => b.toLong
      case _ => Long.MaxValue
    }
    val (_, all) = FileStats.listDataFiles(spark, corpus(ns))
    val counts = files.zipWithIndex.drop(warmBatches).map { case (f, i) =>
      val blocks = f.get("blocks").elements().asScala.map(_.asText).toSeq
      val (_, selected, _) = FileStats.pruneFiles(spark, corpus(ns), index(ns),
        Seq(FileStats.KeysPredicate("blk", blocks)))
      (selected.count(batchOf(_) < i), all.count(batchOf(_) < i))
    }
    counts.map(_._1).sum.toDouble / counts.map(_._2).sum
  }

  /** The gate's run plus the maintenance operations (checks excluded). */
  override def wallSeconds(rec: Recorder): Double =
    gateSeconds + rec.ops.filter(_.kind != "micro_batch").map(_.seconds).sum

  /** One micro-batch is the operation behind `op_p50_s`. */
  override def opSamples(rec: Recorder): Seq[Double] =
    rec.ops.filter(o => o.ok && o.kind == "micro_batch").map(_.seconds).toSeq

  def finalChecks(ns: String, rec: Recorder): Unit = {
    val db = s"${ns}_gate"
    val kept = spark.table(corpus(ns)).select("doc_id").collect().map(_.getLong(0)).toSet
    val want = longs(exp.get("kept")).toSet
    rec.check("corpus ids", kept == want,
      s"${(kept -- want).size} unexpected, ${(want -- kept).size} missing")
    val gone = longs(exp.get("warmup").get("forget")) ++ longs(exp.get("timed").get("forget"))
    val left = spark.table(s"$db.report").filter(col("doc_id").isin(gone: _*)).count()
    rec.check("forgotten ids gone from the report", left == 0, s"$left rows remain")
  }

  override def layerExtras(ns: String, rec: Recorder, tracer: Tracer): Map[String, Double] = {
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble / 1000).getOrElse(0.0)
    val seen = deleteReports.map(_.partitionsSeen).sum
    Map(
      "streaming.add_batch_s" -> Stats.median(lastProgress.map(ms(_, "addBatch"))),
      "streaming.overhead_s" -> Stats.median(lastProgress.map(p =>
        ms(p, "triggerExecution") - ms(p, "addBatch"))),
      "catalog.prune.files_selected_ratio" -> pruneRatio,
      "catalog.read.files_read_ratio" -> Stats.median(readRatios.toSeq),
      "catalog.refresh.files_scanned" ->
        Stats.median(refreshReports.map(_.filesScanned.toDouble).toSeq),
      "catalog.delete.partitions_rewritten_ratio" ->
        (if (seen > 0) deleteReports.map(_.partitionsRewritten).sum.toDouble / seen else 0.0))
  }
}
