package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit

import graft.catalog.{CatalogOps, Compaction, FileStats, HiveParquetFormat, Retention}
import graft.dq.DqEngine
import graft.pipeline.PipelineRunner
import graft.stores.TokenStore
import graft.streaming.StreamingOps

/** What every table write of the library promises, seen from the entry
  * points: a partition value is addressed exactly whatever characters it
  * holds, the caller's session conf is the same after a call as before it,
  * overwrite semantics do not depend on that conf, and the data files are
  * zstd whatever codec the session names. */
class TableWriteSpec extends SparkSpec {

  private def freshDb(ss: SparkSession, tag: String): String = {
    val d = s"tw_$tag${System.nanoTime()}"
    ss.sql(s"CREATE DATABASE $d")
    d
  }

  private def location(ss: SparkSession, table: String): Path =
    Paths.get(new java.net.URI(ss.sessionState.catalog.getTableMetadata(
      ss.sessionState.sqlParser.parseTableIdentifier(table)).location.toString))

  /** Data files under `root`, relative to it. */
  private def dataFiles(root: Path): Seq[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString)
      .filter(r => r.endsWith(".parquet") &&
        !r.split('/').exists(p => p.startsWith("_") || p.startsWith(".")))
      .toList
    finally s.close()
  }

  test("deleteRows addresses partition values holding a backslash or a quote exactly") {
    import spark.implicits._
    val t = s"${freshDb(spark, "esc")}.events"
    Seq((1L, "a\\b"), (2L, "a\\b"), (3L, "o'k"), (4L, "o'k"), (5L, "plain"))
      .toDF("user_id", "p").write.partitionBy("p").saveAsTable(t)
    val partsBefore = spark.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0)).toSet
    val r = Retention.deleteRows(spark, t, "user_id", Seq(1L, 3L).toDF("user_id"))
    assert(r.rowsDeleted == 2 && r.partitionsRewritten == 2, r.toString)
    assert(spark.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0)).toSet == partsBefore)
    assert(spark.table(t).as[(Long, String)].collect().sorted.toSeq ==
      Seq((2L, "a\\b"), (4L, "o'k"), (5L, "plain")))
  }

  test("no entry point changes the session conf; overwrite semantics hold under either mode") {
    val ss = spark.newSession()
    import ss.implicits._
    implicit val sqlCtx: SQLContext = ss.sqlContext
    def unchanged[A](what: String)(body: => A): A = {
      val before = ss.conf.getAll
      val a = body
      val after = ss.conf.getAll
      assert(after == before, s"$what changed the session conf: " +
        (after.toSet diff before.toSet).mkString(", ") + " / was " +
        (before.toSet diff after.toSet).mkString(", "))
      a
    }
    Seq("static", "dynamic").foreach { mode =>
      ss.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
      val db = freshDb(ss, s"conf$mode")
      val (path, sink) = StageFixture.files()
      unchanged(s"collectToCleanse ($mode)")(StageFixture.collect(ss, db, path, sink, "e1"))
      unchanged(s"cleanseToConsume ($mode)")(StageFixture.consume(ss, db, sink, "c1"))

      val runner = new PipelineRunner(ss)
      val t = s"$db.reload"
      def years(df: DataFrame): Set[(String, Int)] =
        df.select("year", "v").as[(String, Int)].collect().toSet
      unchanged(s"writePartitioned create ($mode)")(runner.writePartitioned(
        Seq(("2023", 1), ("2024", 2)).toDF("year", "v"), t, Seq("year"), "permissive"))
      unchanged(s"writePartitioned reload ($mode)")(runner.writePartitioned(
        Seq(("2024", 3)).toDF("year", "v"), t, Seq("year"), "permissive"))
      assert(years(ss.table(t)) == Set(("2023", 1), ("2024", 3)),
        s"a reload under a $mode session must keep the partitions it does not carry")
      unchanged(s"writePartitioned overwriteAll ($mode)")(runner.writePartitioned(
        Seq(("2024", 4)).toDF("year", "v"), t, Seq("year"), "permissive", overwriteAll = true))
      assert(years(ss.table(t)) == Set(("2024", 4)),
        s"overwriteAll under a $mode session must drop the partitions it does not carry")

      val u = s"$db.upsert"
      Seq(("k1", "a", 1), ("k2", "b", 1)).toDF("k", "part", "v")
        .write.partitionBy("part").saveAsTable(u)
      unchanged(s"mergeUpsert ($mode)")(HiveParquetFormat.mergeUpsert(ss, u,
        Seq(("k2", "a", 2)).toDF("k", "part", "v"), "k"))
      assert(ss.table(u).select("k", "part", "v").as[(String, String, Int)].collect().toSet ==
        Set(("k1", "a", 1), ("k2", "a", 2)))

      val spec = FileStats.StatsSpec(Seq("k"))
      unchanged(s"FileStats.refresh create ($mode)")(
        FileStats.refresh(ss, u, s"$db.upsert_stats", spec))
      Seq(("k3", 3, "c")).toDF("k", "v", "part").write.mode("append").insertInto(u)
      unchanged(s"FileStats.refresh delta ($mode)")(
        FileStats.refresh(ss, u, s"$db.upsert_stats", spec))
      unchanged(s"deleteRows ($mode)")(
        Retention.deleteRows(ss, u, "k", Seq("k1").toDF("k")))
      assert(ss.table(u).count() == 2)

      val mem = MemoryStream[(Long, Int)]
      val q = StreamingOps.ingestDqGate(mem.toDF().toDF("id", "v"),
        Seq("ColumnValues 'v' >= 10"), s"$db.cleansed", s"$db.quarantine",
        Files.createTempDirectory("graft_conf_gate").toString)
      try unchanged(s"a gate batch ($mode)") {
        mem.addData(Seq((1L, 50), (2L, 5))); q.processAllAvailable()
      } finally q.stop()
      ss.catalog.refreshTable(s"$db.cleansed")
      assert(ss.table(s"$db.cleansed").count() == 1)
    }
  }

  test("a gate batch, deleteRows, consolidateBatches and compactTable write zstd files") {
    val ss = spark.newSession() // no pipeline stage has run in it
    import ss.implicits._
    implicit val sqlCtx: SQLContext = ss.sqlContext
    val db = freshDb(ss, "zstd")
    def zstdAt(root: Path): Unit = {
      val files = dataFiles(root)
      assert(files.nonEmpty && files.forall(_.endsWith(".zstd.parquet")),
        s"$root: ${files.mkString(", ")}")
    }
    def zstdOnly(table: String): Unit = zstdAt(location(ss, table))

    val mem = MemoryStream[(Long, Int)]
    val q = StreamingOps.ingestDqGate(mem.toDF().toDF("id", "v"),
      Seq("ColumnValues 'v' >= 10"), s"$db.cleansed", s"$db.quarantine",
      Files.createTempDirectory("graft_zstd_gate").toString)
    try { mem.addData(Seq((1L, 50), (2L, 5))); q.processAllAvailable() } finally q.stop()
    zstdOnly(s"$db.cleansed")
    zstdOnly(s"$db.quarantine")

    val events = s"$db.events" // unpartitioned: the delete rewrites every file
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("user_id", "payload").write.saveAsTable(events)
    Retention.deleteRows(ss, events, "user_id", Seq(2L).toDF("user_id"))
    zstdOnly(events)

    val corpus = s"$db.corpus" // every partition is folded into batch 2
    (0 until 3).foreach { b =>
      Seq.tabulate(5)(i => (b * 10L + i, s"doc $b $i")).toDF("doc_id", "text")
        .withColumn("batch_id", lit(b.toLong))
        .write.mode(if (b == 0) "overwrite" else "append").partitionBy("batch_id")
        .saveAsTable(corpus)
    }
    Compaction.consolidateBatches(ss, corpus, 2L, Seq("doc_id"))
    zstdOnly(corpus)

    val frag = s"$db.frag" // four files in each partition, all compacted
    (0 until 40).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "p")
      .repartition(4).write.partitionBy("p").saveAsTable(frag)
    assert(Compaction.compactTable(ss, frag, targetBytes = 1L << 30)
      .partitionsCompacted == 2)
    zstdOnly(frag)

    val bucketed = s"${db}_b.orders" // writeBucketed creates the database too
    CatalogOps.writeBucketed(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), bucketed, Seq("id"), 2)
    zstdOnly(bucketed)

    val tokens = Files.createTempDirectory("graft_zstd_tokens").resolve("store")
    new TokenStore(tokens.toString).append(Seq(("a", "h1")).toDF("raw_data", "hash_key"))
    zstdAt(tokens)

    val results = Files.createTempDirectory("graft_zstd_dq").resolve("results")
    val engine = new DqEngine()
    engine.runRuleset(Seq(1L, 2L).toDF("id"), Map("warn_rules" -> Seq("RowCount > 0")), "t")
    engine.writeResults(ss, results.toString, "e1")
    zstdAt(results)
  }
}
