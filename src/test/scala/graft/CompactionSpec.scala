package graft

import graft.catalog.Compaction
import graft.operators.Layout
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Small-file compaction: content invariance, file-count reduction, the
  * never-touch guarantee for unselected partitions, idempotence, and layout
  * preservation (each rewritten file = a contiguous curve segment). */
class CompactionSpec extends SparkSpec {

  private def fileInventory(table: String): Map[String, Seq[(String, Long)]] = {
    val (root, _) = Compaction.listManifests(spark, table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        val rel = root.toUri.relativize(f.getPath.getParent.toUri).getPath.stripSuffix("/")
        buf += ((rel, n, f.getModificationTime))
      }
    }
    buf.toSeq.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
  }

  private def makeFragmented(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val orders = sf("orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
    // 12 writers per partition value → ~12 small files in each partition dir
    orders.repartition(12)
      .write.partitionBy("o_orderstatus").saveAsTable(table)
  }

  test("compaction is content-invariant and reduces file counts") {
    val t = "compact_t1"
    makeFragmented(t)
    val before = spark.table(t).orderBy(col("o_orderkey")).collect().toSeq
    val inv = fileInventory(t)
    assert(inv.values.forall(_.size > 1), "fixture must be fragmented")

    val report = Compaction.compactTable(spark, t, targetBytes = 64L << 20)
    assert(report.partitionsCompacted == inv.size)
    assert(report.filesAfter < report.filesBefore)
    // 64 MB target vs a tiny fixture → exactly one file per partition
    val after = fileInventory(t)
    assert(after.values.forall(_.size == 1),
      s"expected 1 file per partition, got ${after.view.mapValues(_.size).toMap}")
    assert(spark.table(t).orderBy(col("o_orderkey")).collect().toSeq == before)
  }

  test("unselected partitions keep their files byte-for-byte (mtime + name)") {
    val t = "compact_t2"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val orders = sf("orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), col("o_orderstatus"))
    // partition 'O' written as a single file (already compact), the rest
    // fragmented — only the fragmented ones may be rewritten
    orders.filter(col("o_orderstatus") === "O").coalesce(1)
      .write.partitionBy("o_orderstatus").saveAsTable(t)
    orders.filter(col("o_orderstatus") =!= "O").repartition(8)
      .write.mode("append").insertInto(t)

    val invBefore = fileInventory(t)
    assert(invBefore("o_orderstatus=O").size == 1)
    Thread.sleep(5) // ensure a rewrite would bump mtime
    val report = Compaction.compactTable(spark, t, targetBytes = 64L << 20)
    val invAfter = fileInventory(t)
    assert(invAfter("o_orderstatus=O") == invBefore("o_orderstatus=O"),
      "single-file partition must be untouched (same names, same mtimes)")
    assert(report.partitionsCompacted == invBefore.size - 1)
  }

  test("second pass is a no-op: nothing selected, nothing rewritten") {
    val t = "compact_t3"
    makeFragmented(t)
    Compaction.compactTable(spark, t, targetBytes = 64L << 20)
    val inv1 = fileInventory(t)
    val report2 = Compaction.compactTable(spark, t, targetBytes = 64L << 20)
    assert(report2.partitionsCompacted == 0 && report2.bytesRewritten == 0L)
    assert(fileInventory(t) == inv1, "no-op pass must not touch any file")
  }

  test("small targetBytes splits a partition into multiple near-even files") {
    val t = "compact_t4"
    makeFragmented(t)
    val (_, manifests) = Compaction.listManifests(spark, t)
    // pick a target that wants ~3 bins for the largest partition
    val target = math.max(1L, manifests.map(_.bytes).max / 3)
    Compaction.compactTable(spark, t, targetBytes = target)
    val after = fileInventory(t)
    // every partition ends at or below its pre-compaction count, and the
    // largest ends with >1 file (the bin split happened)
    assert(after.values.map(_.size).max > 1)
    // bin targets come from the PRE-compaction manifest (what the operator
    // binned on): compaction rewrites zstd whatever codec the fixture was
    // written with, so re-deriving the target from post-compaction bytes
    // would be asserting a different run
    val preBins = manifests.map(m =>
      m.rel -> math.max(1L, (m.bytes + target - 1) / target)).toMap
    val (_, m2) = Compaction.listManifests(spark, t)
    m2.foreach { m =>
      assert(m.files <= preBins(m.rel),
        s"${m.rel}: ${m.files} files for want=${preBins(m.rel)}")
    }
  }

  test("curve compaction keeps each output file a contiguous curve range") {
    val t = "compact_t5"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    sf("orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .repartition(16) // random row→file placement: curve ranges overlap
      .write.partitionBy("o_orderstatus").saveAsTable(t)
    val curve = Layout.mortonCode(
      Seq(pmod(col("o_orderkey"), lit(1024)), pmod(col("o_custkey"), lit(1024))), 10)
    // force multiple output files per partition so contiguity is non-trivial
    val (_, manifests) = Compaction.listManifests(spark, t)
    val target = math.max(1L, manifests.map(_.bytes).max / 4)
    Compaction.compactTable(spark, t, targetBytes = target, curve = Some(curve))

    val (root, _) = Compaction.listManifests(spark, t)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val partDirs = fs.listStatus(root).filter(s => s.isDirectory &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    var multiFileDirs = 0
    partDirs.foreach { d =>
      val files = fs.listStatus(d.getPath)
        .filter(f => !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      if (files.length > 1) multiFileDirs += 1
      // per-file curve [min,max] — ranges must not overlap across files of
      // one partition (each file is one contiguous curve segment)
      val ranges = files.map { f =>
        val r = spark.read.parquet(f.getPath.toString)
          .select(min(curve).as("lo"), max(curve).as("hi")).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(hi1 <= lo2, s"overlapping curve ranges in ${d.getPath}")
        case _ =>
      }
    }
    assert(multiFileDirs > 0, "fixture must yield a multi-file partition")
  }

  test("compaction emits a lineage event in the table's audit trail") {
    val t = "compact_t7"
    makeFragmented(t)
    val lin = new graft.lineage.Lineage("exec-compact")
    val report = Compaction.compactTable(spark, t, targetBytes = 64L << 20,
      lineage = Some(lin))
    assert(report.partitionsCompacted > 0)
    val events = lin.log
    assert(events.size == 1 && events.head.contains("\"op\":\"compact\"") &&
      events.head.contains(s"files=${report.filesBefore}->${report.filesAfter}"))
    // a no-op pass still records that it ran (audit completeness)
    Compaction.compactTable(spark, t, targetBytes = 64L << 20, lineage = Some(lin))
    assert(lin.log.size == 2 && lin.log(1).contains("partitions=0/"))
  }

  test("kllBounds multi-bin compaction stays content-invariant, respects bin targets") {
    val t = "compact_t9"
    makeFragmented(t)
    val before = spark.table(t).orderBy(col("o_orderkey")).collect().toSeq
    val (_, manifests) = Compaction.listManifests(spark, t)
    val target = math.max(1L, manifests.map(_.bytes).max / 3)
    val curve = Layout.mortonCode(
      Seq(pmod(col("o_orderkey"), lit(1024)), pmod(col("o_custkey"), lit(1024))), 10)
    Compaction.compactTable(spark, t, targetBytes = target,
      curve = Some(curve), kllBounds = true)
    assert(spark.table(t).orderBy(col("o_orderkey")).collect().toSeq == before)
    val preBins = manifests.map(m =>
      m.rel -> math.max(1L, (m.bytes + target - 1) / target)).toMap
    val (_, m2) = Compaction.listManifests(spark, t)
    m2.foreach { m =>
      assert(m.files <= preBins(m.rel),
        s"${m.rel}: ${m.files} files for want=${preBins(m.rel)}")
    }
  }

  test("mid-sweep swap failure rolls back fully: no duplicates, inventory byte-identical") {
    val t = "compact_t8"
    makeFragmented(t)
    val before = spark.table(t).orderBy(col("o_orderkey")).collect().toSeq
    val invBefore = fileInventory(t)
    // small target → multiple new files per partition, so the injected
    // failure lands with (a) earlier partitions fully swapped and (b) the
    // failing partition partially populated — the two leak shapes
    val (_, manifests) = Compaction.listManifests(spark, t)
    val target = math.max(1L, manifests.map(_.bytes).max / 3)
    var renamesIn = 0
    val ex = intercept[RuntimeException] {
      Compaction.compactTable(spark, t, targetBytes = target, swapHook = { _ =>
        renamesIn += 1
        if (renamesIn == 5) throw new java.io.IOException("injected swap failure")
      })
    }
    assert(ex.getMessage.contains("originals restored"))
    assert(renamesIn == 5, "failure must land mid-sweep, after some renames succeeded")
    // content invariance: the rollback must remove every already-renamed-in
    // new file before restoring trash — otherwise rows appear TWICE
    assert(spark.table(t).orderBy(col("o_orderkey")).collect().toSeq == before,
      "rolled-back table must hold exactly the original rows (no duplicates)")
    assert(fileInventory(t) == invBefore,
      "rolled-back inventory must be byte-identical (names + mtimes)")
  }

  test("unpartitioned table compacts to the bin count") {
    val t = "compact_t6"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    sf("orders").select(col("o_orderkey"), col("o_totalprice"))
      .repartition(10).write.saveAsTable(t)
    val before = spark.table(t).orderBy(col("o_orderkey")).collect().toSeq
    val report = Compaction.compactTable(spark, t, targetBytes = 64L << 20)
    assert(report.filesAfter == 1 && report.filesBefore == 10)
    assert(spark.table(t).orderBy(col("o_orderkey")).collect().toSeq == before)
  }
}
