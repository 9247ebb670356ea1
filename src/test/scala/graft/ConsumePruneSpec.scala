package graft

import org.apache.spark.sql.functions._
import graft.catalog.{CatalogOps, FileStats}
import graft.catalog.FileStats.StatsSpec
import graft.config.Specs
import graft.pipeline.{JobArgs, PipelineRunner}

/** Round-15 (VERDICT #3): the consume-SQL stage reads through the
  * stats-pruned path — a `WHERE` on an indexed column of a fragmented
  * table must read FEWER FILES than the plain scan (plan-level check via
  * inputFiles) while staying row-identical, both through
  * [[CatalogOps.prunePlanScans]] directly and end-to-end through
  * [[PipelineRunner.cleanseToConsume]]. */
class ConsumePruneSpec extends SparkSpec {

  /** value-ranged files so a range predicate genuinely isolates files */
  private def mkFragmented(db: String): (String, String) = {
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.orders"
    spark.range(0, 8000).select(
      col("id").as("order_id"),
      (col("id") % 1000L).as("cust_id"),
      col("id").cast("double").as("total"))
      .repartitionByRange(16, col("order_id"))
      .write.saveAsTable(t)
    val st = s"$db.orders_stats"
    FileStats.refresh(spark, t, st, StatsSpec(Seq("order_id", "cust_id"),
      bloomCols = Seq("cust_id"), bloomBits = 1 << 14))
    (t, st)
  }

  test("prunePlanScans: a consume-style SQL WHERE over a join reads fewer " +
    "files on the fragmented table, rows identical") {
    val db = s"r15cons${System.nanoTime()}"
    val (t, st) = mkFragmented(db)
    val total = spark.table(t).inputFiles.length
    assert(total >= 12, s"fixture must be fragmented, got $total files")
    val sql = s"""SELECT o.order_id, o.total, c.id AS cust
      FROM $t o JOIN (SELECT id FROM range(0, 1000)) c ON o.cust_id = c.id
      WHERE o.order_id >= 1000 AND o.order_id < 1500"""
    val plain = spark.sql(sql)
    val pruned = CatalogOps.prunePlanScans(spark, spark.sql(sql), Map(t -> st))
    assert(pruned.inputFiles.length < total,
      s"pruned read should skip files: ${pruned.inputFiles.length} vs $total")
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
  }

  test("prunePlanScans: unknown stats table degrades to the original plan") {
    val db = s"r15degr${System.nanoTime()}"
    val (t, _) = mkFragmented(db)
    val sql = s"SELECT * FROM $t WHERE order_id < 100"
    val plain = spark.sql(sql)
    val out = CatalogOps.prunePlanScans(spark, spark.sql(sql),
      Map(t -> s"$db.no_such_stats"))
    assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty)
  }

  test("prunePlanScans: a non-deterministic filter keeps its original plan") {
    // a pruned read re-evaluates the filter inside a fresh scan, so rand()
    // would draw again and the result would no longer be row-identical
    val db = s"r15rand${System.nanoTime()}"
    val (t, st) = mkFragmented(db)
    val df = spark.sql(s"SELECT * FROM $t WHERE cust_id = 13 AND rand(7) < 0.5")
    assert(CatalogOps.prunePlanScans(spark, df, Map(t -> st)) eq df)
  }

  test("cleanseToConsume(statsTables): end-to-end consume publish reads " +
    "pruned, result table row-identical to the unpruned run") {
    val db = s"r15c2c${System.nanoTime()}"
    val (t, st) = mkFragmented(db)
    val sql = s"""SELECT order_id, cust_id, total FROM $t
      WHERE order_id >= {lo} AND order_id < 2000"""
    def run(tbl: String, stats: Map[String, String]) = {
      val args = JobArgs("Bench", tbl, "", "r15-exec", Map.empty, db,
        environment = "Dev")
      new PipelineRunner(spark).cleanseToConsume(args, sql,
        Map("lo" -> "1000"), Map.empty, statsTables = stats)
    }
    val pruned = run("orders_pruned", Map(t -> st))
    val plain = run("orders_plain", Map.empty)
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    val outPruned = spark.table(s"${db}_consume.orders_pruned")
    val outPlain = spark.table(s"${db}_consume.orders_plain")
    assert(outPruned.exceptAll(outPlain).isEmpty &&
      outPlain.exceptAll(outPruned).isEmpty)
  }
}
