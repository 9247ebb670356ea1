package graft

import org.apache.spark.sql.functions._

/** Round-14: the ADVICE-item fixes (stats-spec discovery,
  * case-insensitive indexed-column resolution in readPruned, batch-typed
  * empty-index schema in the substring gate). */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.catalog.{CatalogOps, FileStats}
  import graft.catalog.FileStats.StatsSpec

  private def mkTable(db: String): String = {
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.events"
    // user_id is CLUSTERED like value (files are value-ranged), so a point
    // key genuinely lives in few files and the bloom leg can prune
    spark.range(0, 8000).select(
      col("id").as("event_id"),
      (col("id") % 500L).as("user_id"),
      (col("id") % 500L).cast("double").as("value"))
      .repartitionByRange(16, col("value"))
      .write.saveAsTable(t)
    t
  }

  test("statsSpecOf: none before creation, then the spec, then the widened spec") {
    val db = s"r14spec${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    assert(FileStats.statsSpecOf(spark, st).isEmpty)
    FileStats.refresh(spark, t, st, StatsSpec(Seq("value")))
    val s1 = FileStats.statsSpecOf(spark, st)
    assert(s1.exists(_.cols == Seq("value")), s1.toString)
    FileStats.refresh(spark, t, st,
      StatsSpec(Seq("value", "user_id"), bloomCols = Seq("user_id"),
        bloomBits = 1 << 14))
    val s2 = FileStats.statsSpecOf(spark, st)
    assert(s2.exists(_.cols == Seq("user_id", "value")), s2.toString)
    assert(s2.exists(_.bloomCols == Seq("user_id")), s2.toString)
  }

  test("readPruned: indexed-column match is case-insensitive (session " +
    "resolver) — col(\"VALUE\") on indexed `value` still prunes files") {
    val db = s"r14case${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    FileStats.refresh(spark, t, st,
      StatsSpec(Seq("value", "user_id"), bloomCols = Seq("user_id"),
        bloomBits = 1 << 14))
    def filesRead(df: org.apache.spark.sql.DataFrame): Int = df.inputFiles.length
    val pred = col("VALUE") >= 100.0 && col("Value") <= 140.0
    val pruned = CatalogOps.readPruned(spark, t, st, pred)
    val plain = spark.table(t).filter(pred)
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    assert(filesRead(pruned) < filesRead(plain),
      s"upper-cased attribute must still skip files: " +
        s"${filesRead(pruned)} vs ${filesRead(plain)}")
    // bloom key path too: mixed-case attribute on the bloom column
    val kPred = col("USER_id") === 13L
    val kPruned = CatalogOps.readPruned(spark, t, st, kPred)
    val kPlain = spark.table(t).filter(kPred)
    assert(kPruned.exceptAll(kPlain).isEmpty && kPlain.exceptAll(kPruned).isEmpty)
    assert(filesRead(kPruned) < filesRead(kPlain))
  }

  test("ingestSubstringDedupGate: a STRING id column round-trips — the " +
    "empty-index schema carries the batch id type, state still aggregates " +
    "to the one-shot union build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps
    import graft.operators.SuffixArray
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val db = s"r14sid${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    val (rt, it) = (s"$db.report", s"$db.windex")
    val ckpt = java.nio.file.Files.createTempDirectory("r14_sid_ckpt").toString
    val banner = "string-id-shared-banner-text-block!!"
    val minLen = banner.length
    val mem = MemoryStream[(String, String)]
    def gate() = StreamingOps.ingestSubstringDedupGate(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", minLen,
      keepFirst = true, rt, it, ckpt, availableNow = true)
    val b0 = Seq(("doc-a", s"first $banner"), ("doc-b", s"second $banner"))
    mem.addData(b0: _*)
    gate().awaitTermination()
    val b1 = Seq(("doc-c", s"third $banner"), ("doc-d", "quiet unique one"))
    mem.addData(b1: _*)
    gate().awaitTermination()
    Seq(rt, it).foreach(t => spark.catalog.refreshTable(t))
    // the table's first_doc type IS the batch id type
    assert(spark.table(it).schema("first_doc").dataType ==
      org.apache.spark.sql.types.StringType)
    val masked = spark.table(rt).select("doc_id", "n_masked")
      .as[(String, Long)].collect().toMap
    assert(masked("doc-a") == 0L && masked("doc-d") == 0L &&
      masked("doc-b") > 0L && masked("doc-c") > 0L, masked.toString)
    val aggIdx = spark.table(it).drop("batch_id")
      .groupBy(col("w")).agg(max(col("h")).as("h"), sum(col("cnt")).as("cnt"),
        min(struct(col("first_doc").as("d"), col("first_pos").as("p"))).as("f"))
      .select(col("h"), col("w"), col("cnt"),
        col("f.d").as("first_doc"), col("f.p").as("first_pos"))
    val unionIdx = SuffixArray.charWindowIndex(
      (b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text", minLen)
    assert(aggIdx.exceptAll(unionIdx).isEmpty && unionIdx.exceptAll(aggIdx).isEmpty,
      "string-id gate index must aggregate to the union build")
  }

  test("incrementalScrubRepeatedCharSpans: needUpdatedIndex=false is a " +
    "physical-strategy flag only — report AND updated index row-identical") {
    import graft.operators.SuffixArray
    val banner = "shared-fortycharacter-boilerplate-banner-text!!"
    val minLen = 40
    val stored = (0L until 40L).map(i =>
      (i, s"stored body $i ${if (i % 5 == 0) banner else ""}")).toDF("doc_id", "text")
    val batch = (100L until 120L).map(i =>
      (i, s"batch body $i ${if (i % 3 == 0) banner else ""}")).toDF("doc_id", "text")
    val idx = SuffixArray.charWindowIndex(stored, "doc_id", "text", minLen)
      .localCheckpoint(true)
    val (repT, updT) = SuffixArray.incrementalScrubRepeatedCharSpans(
      idx, batch, "doc_id", "text", minLen, keepFirst = true)
    val (repF, updF) = SuffixArray.incrementalScrubRepeatedCharSpans(
      idx, batch, "doc_id", "text", minLen, keepFirst = true,
      needUpdatedIndex = false)
    assert(repT.exceptAll(repF).isEmpty && repF.exceptAll(repT).isEmpty,
      "reports must be identical across the flag")
    // the lazily-built updated index (the flag's target) stays row-identical
    // if a caller executes it anyway — only checkpoint/hint strategy differs
    assert(updT.exceptAll(updF).isEmpty && updF.exceptAll(updT).isEmpty,
      "updated index must be identical across the flag")
    // and some masking actually happened, so the equality is not vacuous
    assert(repT.filter(col("n_masked") > 0).count() > 0)
  }
}
