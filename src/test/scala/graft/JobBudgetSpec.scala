package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.BusBridge

import graft.catalog.{Compaction, FileStats, HiveParquetFormat, Retention}
import graft.config.Specs
import graft.operators.{Dedup, EntityMatch}
import graft.streaming.StreamingOps
import graft.pipeline.{JobArgs, PipelineRunner}
import graft.transforms.TransformContext

/** The collect-to-cleanse fixture of the job budget: a three-row policy CSV
  * plus one row that fails the quarantine rule, under warn, quarantine and
  * halt rules on both sides of the transforms. */
object StageFixture {
  private val mappingCsv =
    "SourceName,DestName\nPolicyNumber,policynumber\nPremium,premium\nUnits,units\n"

  val spec: Specs.DatasetSpec = Specs.datasetSpec(Specs.parseJson(
    """{"input_spec": {"csv": {"header": true}, "allow_schema_change": "permissive"},
        "transform_spec": {"changetype": {"premium": "double", "units": "int"}}}"""))

  val dq: Map[String, Map[String, Seq[String]]] = Specs.dqRules(Specs.parseJson(
    """{"before_transform": {"warn_rules": ["Completeness 'premium' > 0.5"]},
        "after_transform": {
          "warn_rules": ["ColumnValues 'units' <= 5"],
          "quarantine_rules": ["ColumnValues 'premium' >= 0"],
          "halt_rules": ["IsComplete 'policynumber'", "RowCount > 0"]}}"""))

  /** Writes the CSV into a fresh directory; returns (csv path, lineage sink). */
  def files(): (String, String) = {
    val dir = Files.createTempDirectory("graft_budget")
    val f = dir.resolve("policy.csv")
    Files.writeString(f, "PolicyNumber,Premium,Units\n" +
      "P1,1200.5,3\nP2,800.25,1\nP3,10.75,2\nP4,-4.5,9\n")
    (f.toString, dir.resolve("lineage.jsonl").toString)
  }

  def args(db: String, table: String, path: String, sink: String, exec: String): JobArgs =
    JobArgs("t", table, path, exec, Map("year" -> "2024"), db, lineageSink = Some(sink))

  def collect(spark: SparkSession, db: String, path: String, sink: String,
              exec: String): DataFrame =
    new PipelineRunner(spark).collectToCleanse(args(db, "policy", path, sink, exec), spec,
      Specs.mappingCsv(mappingCsv), dq, TransformContext(spark, filename = "policy.csv"))

  /** With `statsTables`, the query reads one policy through the index. */
  def consume(spark: SparkSession, db: String, sink: String, exec: String,
              statsTables: Map[String, String] = Map.empty): DataFrame =
    new PipelineRunner(spark).cleanseToConsume(args(db, "premiums", "", sink, exec),
      s"SELECT policynumber, premium * 2 AS premium2, year FROM $db.policy" +
        (if (statsTables.isEmpty) "" else " WHERE policynumber = 'P2'"),
      Map.empty, Map.empty, statsTables = statsTables)
}

/** Spark jobs per call of each public write-path entry point on a small
  * fixture. Job counts, unlike wall time, do not drift between sessions, so
  * a change that adds a pass over the data shows here. Each bound is the
  * largest count measured over repeated runs of the code it was set on; a
  * change that cuts jobs tightens its row. Every call runs on a table that
  * already exists unless the row says it creates one. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val counters = new Harness.Counters

  /** Runs `body`, asserts it ran at most `budget` Spark jobs, returns its value. */
  private def within[A](row: String, budget: Int)(body: => A): A = {
    spark.sparkContext.addSparkListener(counters)
    try {
      BusBridge.drain(spark.sparkContext)
      val s0 = counters.snapshot
      val a = body
      BusBridge.drain(spark.sparkContext)
      val jobs = counters.jobsBetween(s0, counters.snapshot)
      info(s"$row: ${jobs.size} jobs (budget $budget)")
      assert(jobs.size <= budget,
        s"$row: ${jobs.size} jobs > $budget: ${jobs.map(_.site).mkString("; ")}")
      a
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  private def freshDb(tag: String): String = {
    val d = s"budget_$tag${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $d")
    d
  }

  // two jobs for the CSV read's schema inference, two for the before audit
  // (which also fills the read's checkpoint), two for each ruleset's one
  // metrics pass, the quarantine sink, the table write (which also takes
  // the after audit) and the DQ results
  test("budget: collectToCleanse, warn + quarantine + halt rules, existing tables") {
    val db = freshDb("collect")
    val (path, sink) = StageFixture.files()
    StageFixture.collect(spark, db, path, sink, "warm")
    within("collectToCleanse", 11)(StageFixture.collect(spark, db, path, sink, "timed"))
    assert(spark.table(s"$db.policy").count() == 3)
    assert(spark.table(s"$db.policy_quarantine_after_transform").count() == 2)
  }

  test("budget: cleanseToConsume, existing consume table") {
    val db = freshDb("consume")
    val (path, sink) = StageFixture.files()
    StageFixture.collect(spark, db, path, sink, "e1")
    StageFixture.consume(spark, db, sink, "c1")
    within("cleanseToConsume", 2)(StageFixture.consume(spark, db, sink, "c2"))
    assert(spark.table(s"${db}_consume.premiums").count() == 3)
  }

  test("budget: cleanseToConsume with statsTables, existing consume table") {
    val db = freshDb("consumest")
    val (path, sink) = StageFixture.files()
    StageFixture.collect(spark, db, path, sink, "e1")
    FileStats.refresh(spark, s"$db.policy", s"$db.policy_stats",
      FileStats.StatsSpec(Seq("policynumber"), bloomCols = Seq("policynumber")))
    val stats = Map(s"$db.policy" -> s"$db.policy_stats")
    StageFixture.consume(spark, db, sink, "c1", stats)
    within("cleanseToConsume statsTables", 4)(StageFixture.consume(spark, db, sink, "c2", stats))
    assert(spark.table(s"${db}_consume.premiums").count() == 1)
  }

  // per gate: [batch 0 (creates the tables), batch 1, empty batch]. The
  // dedup gate's batch 1 runs 47 or 48 jobs (48 in 2 of 5 runs), and 59 or
  // 60 with its stats index (60 in 5 of 6): AQE sometimes adds a job to
  // the report checkpoint over two sort-merge joins
  private val gateBudgets = Map(
    "onlineLogisticFit" -> Seq(11, 14, 1),
    "ingestDedupGate" -> Seq(35, 48, 1),
    "ingestDedupGateStats" -> Seq(41, 60, 1),
    "ingestDqGate" -> Seq(3, 3, 1),
    "ingestDatasetDqGate" -> Seq(5, 5, 1),
    "ingestSubstringDedupGate" -> Seq(15, 18, 1),
    "ingestRulesetDqGate" -> Seq(6, 6, 1),
    "ingestAnnGate" -> Seq(2, 2, 1))

  /** The gate's three rows; `afterBatch(tables)` runs after each one,
    * outside its count. */
  private def gateRows[A](c: GateCase[A], afterBatch: Seq[String] => Unit = _ => ()): Unit = {
    import c.enc
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tables = c.tables(GateCases.db(spark, c.name))
    val ckpt = Files.createTempDirectory(s"graft_budget_${c.name}").toString
    val mem = MemoryStream[A]
    val q = c.start(tables, mem.toDF().toDF(c.cols: _*), ckpt)
    try {
      val budgets = gateBudgets(c.name)
      (c.batches :+ Seq.empty[A]).zip(Seq("batch 0", "batch 1", "empty")).zip(budgets)
        .foreach { case ((b, label), budget) =>
          within(s"${c.name} $label", budget) { mem.addData(b); q.processAllAvailable() }
          afterBatch(tables)
        }
    } finally q.stop()
  }

  GateCases.all(spark).foreach(c =>
    test(s"budget: ${c.name}, batch 0, batch 1 and an empty batch")(gateRows(c)))

  // the dedup gate's fixture with its FileStats block index: each batch
  // also runs the pruned stored-side read and the after-commit refresh. The
  // gate swallows a failed refresh (it only costs pruning), which would
  // read here as a cheaper batch: a follow-up refresh that scans nothing
  // shows the gate's own refresh covered the new partition
  test("budget: ingestDedupGate with statsTable, batch 0, batch 1 and an empty batch") {
    gateRows(GateCase("ingestDedupGateStats", Seq("doc_id", "blk", "text"),
      GateCases.dedupBatches, d => Seq(s"$d.corpus", s"$d.report", s"$d.corpus_stats"),
      (t, df, ckpt) => StreamingOps.ingestDedupGate(df, "text", "doc_id", Seq("blk"), 0.7,
        t(0), t(1), ckpt, statsTable = Some(t(2)))), { t =>
      // the gate rewrote the stats table from the batch's cloned session
      spark.catalog.refreshTable(t(2))
      val r = FileStats.refresh(spark, t(0), t(2), FileStats.statsSpecOf(spark, t(2)).get)
      assert(r.filesScanned == 0, s"the gate's refresh left files unindexed: $r")
    })
  }

  private def events(t: String, partitioned: Boolean): Unit = {
    val w = (0 until 24).map(i => (i.toLong, s"payload $i", s"d${i % 4}"))
      .toDF("user_id", "payload", "day").write
    (if (partitioned) w.partitionBy("day") else w).saveAsTable(t)
  }

  test("budget: deleteRows, partitioned, two of four partitions") {
    val t = s"${freshDb("delp")}.events"
    events(t, partitioned = true)
    val r = within("deleteRows partitioned", 13)(
      Retention.deleteRows(spark, t, "user_id", Seq(1L, 2L, 5L).toDF("user_id")))
    assert(r.partitionsRewritten == 2 && spark.table(t).count() == 21)
  }

  test("budget: deleteRows, unpartitioned") {
    val t = s"${freshDb("delu")}.events"
    events(t, partitioned = false)
    within("deleteRows unpartitioned", 8)(
      Retention.deleteRows(spark, t, "user_id", Seq(1L, 2L).toDF("user_id")))
    assert(spark.table(t).count() == 22)
  }

  test("budget: deleteRows with statsTable, pruned discovery and scoped refresh") {
    val db = freshDb("delst")
    val (t, st) = (s"$db.events", s"$db.events_stats")
    events(t, partitioned = true)
    FileStats.refresh(spark, t, st,
      FileStats.StatsSpec(Seq("user_id"), bloomCols = Seq("user_id")))
    val r = within("deleteRows statsTable", 24)(Retention.deleteRows(spark, t, "user_id",
      Seq(1L, 2L, 5L).toDF("user_id"), statsTable = Some(st)))
    assert(r.partitionsRewritten == 2 && spark.table(t).count() == 21)
  }

  test("budget: FileStats.refresh, create, full and scoped") {
    val db = freshDb("stats")
    val (t, st) = (s"$db.events", s"$db.events_stats")
    events(t, partitioned = true)
    val spec = FileStats.StatsSpec(Seq("user_id"), bloomCols = Seq("user_id"))
    def add(day: String): Unit =
      Seq((100L + day.length, "late", day)).toDF("user_id", "payload", "day")
        .write.mode("append").insertInto(t)
    within("FileStats.refresh create", 6)(FileStats.refresh(spark, t, st, spec))
    add("d9")
    within("FileStats.refresh full", 8)(FileStats.refresh(spark, t, st, spec))
    add("d10")
    val r = within("FileStats.refresh scoped", 7)(
      FileStats.refresh(spark, t, st, spec, scopeRels = Some(Set("day=d10"))))
    assert(r.filesScanned == 1)
  }

  test("budget: FileStats.refresh with nothing changed since the last refresh") {
    val db = freshDb("statsnoop")
    val (t, st) = (s"$db.events", s"$db.events_stats")
    events(t, partitioned = true)
    val spec = FileStats.StatsSpec(Seq("user_id"), bloomCols = Seq("user_id"))
    FileStats.refresh(spark, t, st, spec)
    val r = within("FileStats.refresh no-op", 1)(FileStats.refresh(spark, t, st, spec))
    assert(r.filesScanned == 0 && r.filesRemoved == 0 && r.filesKept > 0)
  }

  test("budget: consolidateBatches, three batches folded into the fourth") {
    val t = s"${freshDb("consol")}.corpus"
    (0 until 4).foreach { b =>
      Seq.tabulate(10)(i => (b * 100L + i, s"doc $b $i")).toDF("doc_id", "text")
        .withColumn("batch_id", lit(b.toLong))
        .write.mode(if (b == 0) "overwrite" else "append").partitionBy("batch_id")
        .saveAsTable(t)
    }
    assert(within("consolidateBatches", 4)(
      Compaction.consolidateBatches(spark, t, 3L, Seq("doc_id"))) == 3)
    assert(spark.table(t).count() == 40)
  }

  test("budget: compactTable with statsTable, both partitions compacted") {
    val db = freshDb("compst")
    val (t, st) = (s"$db.frag", s"$db.frag_stats")
    (0 until 40).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "p")
      .repartition(4).write.partitionBy("p").saveAsTable(t)
    FileStats.refresh(spark, t, st, FileStats.StatsSpec(Seq("id")))
    val r = within("compactTable statsTable", 9)(
      Compaction.compactTable(spark, t, targetBytes = 1L << 30, statsTable = Some(st)))
    assert(r.partitionsCompacted == 2 && spark.table(t).count() == 40)
  }

  test("budget: mergeUpsert, partitioned, one partition drained") {
    val t = s"${freshDb("upsert")}.primary"
    Seq(("k1", "a", 1), ("k2", "a", 1), ("k3", "b", 1)).toDF("k", "part", "v")
      .write.partitionBy("part").saveAsTable(t)
    // k3 is the only row of part=b; it moves to part=c, draining b
    within("mergeUpsert", 18)(HiveParquetFormat.mergeUpsert(spark, t,
      Seq(("k1", "a", 2), ("k3", "c", 2)).toDF("k", "part", "v"), "k"))
    assert(spark.table(t).select("k", "part", "v").as[(String, String, Int)].collect().toSet ==
      Set(("k1", "a", 2), ("k2", "a", 1), ("k3", "c", 2)))
  }

  /** Token sets of `rows` (id, space-separated text), all in block `b`. */
  private def toks(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text").select(col("doc_id"), lit("b").as("blk"),
      array_distinct(split(col("text"), " ")).as("toks"))

  // the dedup operators on a two-document stored side and a four-document
  // batch: a near-duplicate of a stored document, a within-batch pair and a
  // unique document; each row counts the call and the collect of its result.
  // incrementalDedup runs 37 or 38 jobs (38 in 3 of 6 runs), the gate's AQE
  // jitter
  private lazy val dedupStored = toks(5L -> "a b c d e", 9L -> "p q r s t")
  private lazy val dedupBatch = toks(100L -> "a b c d e f", 101L -> "x y z w v",
    102L -> "x y z w v u", 103L -> "m n o")

  test("budget: Dedup.incrementalDedup, one stored and one within-batch duplicate") {
    val report = within("Dedup.incrementalDedup", 38)(Dedup.incrementalDedup(
      dedupStored, dedupBatch, "toks", "doc_id", Seq("blk"), 0.7).collect())
    assert(report.map(r => r.getLong(0) -> r.getString(1)).toMap == Map(
      100L -> "dup_of_stored", 101L -> "kept", 102L -> "dup_in_batch", 103L -> "kept"))
  }

  test("budget: Dedup.jaccardCrossJoin, union and left orders") {
    for ((order, budget) <- Seq("union" -> 13, "left" -> 12)) {
      val pairs = within(s"Dedup.jaccardCrossJoin $order", budget)(Dedup.jaccardCrossJoin(
        dedupBatch, dedupStored, "toks", "doc_id", Seq("blk"), 0.7, freqFrom = order).collect())
      assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 5L)), order)
    }
  }

  /** The entity-match fixture: a spec over `table`, a two-customer first
    * day and a second day with an exact, a fuzzy and a new customer. */
  private def emFixture(table: String) = {
    val spec = EntityMatch.parseSpec(Specs.parseJson(
      """{"global_id_field": "globalid", "sort_field": "lastupdated",
          "exact_match_fields": {"source_primary_key": "customerno",
                                 "source_system_key": "srcsystemid"},
          "levels": [{"id": "1", "blocks": ["firstname[:1]", "zip"],
            "fields": [{"fieldname": "firstname", "type": "string", "weight": 0.3,
                        "method": "jarowinkler", "threshold": 0.85},
                       {"fieldname": "dob", "type": "exact", "weight": 0.7}],
            "threshold": 0.85}]}""")).copy(primaryTable = table)
    val cols = Seq("customerno", "srcsystemid", "firstname", "dob", "zip", "lastupdated")
    val day1 = Seq(("C1", "A01", "alice", "1990-01-01", "10001", "2024-01-01"),
      ("C2", "A01", "robert", "1985-05-05", "20002", "2024-01-01")).toDF(cols: _*)
    val day2 = Seq(("C1", "A01", "alice", "1990-01-01", "10001", "2024-03-01"),
      ("N1", "C25", "alicia", "1990-01-01", "10001", "2024-03-01"),
      ("N2", "C25", "nina", "1992-02-02", "40004", "2024-03-01")).toDF(cols: _*)
    (spec, day1, day2, Seq("customerno", "srcsystemid"))
  }

  test("budget: EntityMatch.run, creating the primary, then matching and upserting") {
    val table = s"${freshDb("em")}.primary"
    val (spec, day1, day2, key) = emFixture(table)
    within("EntityMatch.run create", 1)(EntityMatch.run(spark, day1, spec, key))
    within("EntityMatch.run match", 21)(EntityMatch.run(spark, day2, spec, key))
    // C1 matches exactly, N1 (alicia) fuzzily onto C1's entity, N2 is new
    assert(spark.table(table).count() == 3)
  }

  test("budget: EntityMatch.run with statsTable, matching and upserting") {
    val table = s"${freshDb("emst")}.primary"
    val st = s"${table}_stats"
    val (spec, day1, day2, key) = emFixture(table)
    EntityMatch.run(spark, day1, spec, key)
    FileStats.refresh(spark, table, st,
      FileStats.StatsSpec(Seq("customerno"), bloomCols = Seq("customerno")))
    within("EntityMatch.run match statsTable", 32)(
      EntityMatch.run(spark, day2, spec, key, statsTable = Some(st)))
    assert(spark.table(table).count() == 3)
  }
}
