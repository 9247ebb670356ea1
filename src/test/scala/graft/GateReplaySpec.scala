package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graftbridge.BusBridge
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.expressions.HashExpressions.fixedCentroids
import graft.streaming.StreamingOps

/** Forced re-delivery through every commit-logged gate: the at-least-once
  * case where the gate committed a batch but Spark did not. Each case runs
  * two batches, stops, deletes Spark's newest `commits/<id>` entry and
  * restarts over the same stream and checkpoint, so Spark re-runs that
  * batch through foreachBatch. The gate must skip it on its commit log
  * alone — no Spark job, every table row-identical, no partition and no
  * marker added — and a following empty micro-batch must commit nothing
  * and cost at most one Spark job: the emptiness probe, which also
  * materializes the gate's view (an eager checkpoint plus a `count()`
  * probe was 3 jobs under AQE). */
class GateReplaySpec extends SparkSpec {
  implicit def sqlCtx: SQLContext = spark.sqlContext
  import spark.implicits._

  private def names(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }

  private def markers(ckpt: String): Set[String] =
    names(Path.of(ckpt, "graft-commits")).toSet

  /** Deletes Spark's newest batch commit (and its checksum); returns its id. */
  private def dropNewestSparkCommit(ckpt: String): Long = {
    val d = Path.of(ckpt, "commits")
    val id = names(d).filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(d.resolve(id.toString))
    Files.deleteIfExists(d.resolve(s".$id.crc"))
    id
  }

  private def replayCase[A: Encoder](name: String, cols: Seq[String],
                                     batches: Seq[Seq[A]], tables: Seq[String])
                                    (gate: (DataFrame, String) => StreamingQuery): Unit = {
    val ckpt = Files.createTempDirectory(s"graft_replay_$name").toString
    val mem = MemoryStream[A]
    def start() = gate(mem.toDF().toDF(cols: _*), ckpt)
    val q = start()
    batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    def state() = tables.map { t =>
      spark.catalog.refreshTable(t)
      (spark.table(t).collect().map(_.toString).sorted.toSeq,
        spark.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0)).toSet)
    }
    val before = state()
    val marks = markers(ckpt)
    assert(before.forall(_._1.nonEmpty) && marks.nonEmpty, s"$name: nothing committed")
    val redelivered = dropNewestSparkCommit(ckpt)

    val counters = new Harness.Counters
    spark.sparkContext.addSparkListener(counters)
    val q2 = start()
    try {
      BusBridge.drain(spark.sparkContext)
      val s0 = counters.snapshot
      q2.processAllAvailable()
      BusBridge.drain(spark.sparkContext)
      assert(q2.recentProgress.exists(_.batchId == redelivered),
        s"$name: Spark did not re-deliver batch $redelivered")
      val s1 = counters.snapshot
      val jobs = counters.jobsBetween(s0, s1)
      assert(jobs.isEmpty, s"$name: the re-delivered batch ran Spark jobs: $jobs")
      mem.addData(Seq.empty[A]); q2.processAllAvailable()
      BusBridge.drain(spark.sparkContext)
      assert(q2.recentProgress.exists(_.batchId == redelivered + 1),
        s"$name: the empty micro-batch did not run")
      val emptyJobs = counters.jobsBetween(s1, counters.snapshot)
      assert(emptyJobs.size <= 1,
        s"$name: the empty micro-batch ran ${emptyJobs.size} Spark jobs: $emptyJobs")
    } finally {
      q2.stop()
      spark.sparkContext.removeSparkListener(counters)
    }
    assert(state() == before, s"$name: a table changed, or gained a partition")
    assert(markers(ckpt) == marks, s"$name: a commit marker was added")
  }

  private def db(name: String): String = {
    val d = s"replay_$name${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $d")
    d
  }

  test("onlineLogisticFit: a forced re-delivery is skipped without a job") {
    val wt = s"${db("olf")}.weights"
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "spam junk" else "clean text", i % 2))
    replayCase("olf", Seq("doc_id", "text", "y"), docs.grouped(20).toSeq, Seq(wt)) {
      (df, ckpt) => StreamingOps.onlineLogisticFit(df, "text", "doc_id", "y",
        numFeatures = 64, weightsTable = wt, checkpoint = ckpt)
    }
  }

  test("ingestDedupGate: a forced re-delivery is skipped without a job") {
    val d = db("dedup")
    val (ct, rt) = (s"$d.corpus", s"$d.report")
    val b1 = Seq((1L, "b", "alpha beta gamma delta"), (2L, "b", "alpha beta gamma delta"),
      (3L, "b", "epsilon zeta eta theta"))
    val b2 = Seq((10L, "b", "alpha beta gamma delta"), (11L, "b", "iota kappa lambda mu"))
    replayCase("dedup", Seq("doc_id", "blk", "text"), Seq(b1, b2), Seq(ct, rt)) {
      (df, ckpt) => StreamingOps.ingestDedupGate(df, "text", "doc_id", Seq("blk"), 0.7,
        ct, rt, ckpt)
    }
  }

  test("ingestDqGate: a forced re-delivery is skipped without a job") {
    val d = db("dq")
    val (ct, qt) = (s"$d.cleansed", s"$d.quarantine")
    val rows = Seq[(Long, Integer, String)](
      (1L, 50, "a"), (2L, 5, "a"), (3L, 50, null), (4L, null, "b"), (5L, 11, "b"))
    replayCase("dq", Seq("id", "v", "cat"), Seq(rows.take(3), rows.drop(3)), Seq(ct, qt)) {
      (df, ckpt) => StreamingOps.ingestDqGate(df, Seq("ColumnValues 'v' >= 10"), ct, qt, ckpt)
    }
  }

  test("ingestDatasetDqGate: a forced re-delivery is skipped without a job") {
    val d = db("dsdq")
    val (sink, res) = (s"$d.sink", s"$d.results")
    replayCase("dsdq", Seq("id", "status"),
      Seq(Seq((1L, "ok"), (2L, "bad")), Seq((3L, "ok"))), Seq(sink, res)) {
      (df, ckpt) => StreamingOps.ingestDatasetDqGate(df,
        warnRules = Seq("ColumnValues 'status' in ['ok']"),
        haltRules = Seq("RowCount <= 3"), sink, res, ckpt)
    }
  }

  test("ingestSubstringDedupGate: a forced re-delivery is skipped without a job") {
    val d = db("substr")
    val (rt, it) = (s"$d.report", s"$d.windex")
    val banner = "replay-shared-banner-text-block!!"
    replayCase("substr", Seq("doc_id", "text"),
      Seq(Seq((1L, s"first $banner"), (2L, s"second $banner")),
        Seq((3L, s"third $banner"), (4L, "quiet unique one"))), Seq(rt, it)) {
      (df, ckpt) => StreamingOps.ingestSubstringDedupGate(df, "text", "doc_id",
        banner.length, keepFirst = true, rt, it, ckpt)
    }
  }

  test("ingestRulesetDqGate: a forced re-delivery is skipped without a job") {
    val d = db("rsdq")
    val (cl, qt, res) = (s"$d.cleansed", s"$d.quarantine", s"$d.results")
    replayCase("rsdq", Seq("id", "status", "amount"),
      Seq(Seq((1L, "ok", 5.0), (2L, "bad", 7.0), (3L, "ok", -1.0)),
        Seq((4L, "ok", 2.0), (5L, "ok", -3.0))), Seq(cl, qt, res)) {
      (df, ckpt) => StreamingOps.ingestRulesetDqGate(df,
        warnRules = Seq("ColumnValues 'status' in ['ok']"),
        quarantineRules = Seq("ColumnValues 'amount' >= 0"),
        haltRules = Seq("ColumnValues 'amount' >= -100"), cl, qt, res, ckpt)
    }
  }

  test("ingestAnnGate: a forced re-delivery is skipped without a job") {
    val it = s"${db("ann")}.idx"
    val cs = fixedCentroids(100, 4, 8)
    val fc = fixedCentroids(200, 8, 4)
    val cb = Array.tabulate(2)(j => fc.slice(j * 4, j * 4 + 4))
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11).toFloat)))
    replayCase("ann", Seq("vec_id", "embedding"), Seq(vecs.take(25), vecs.drop(25)),
      Seq(it)) {
      (df, ckpt) => StreamingOps.ingestAnnGate(df, "embedding", "vec_id", cs, cb, it, ckpt)
    }
  }
}
