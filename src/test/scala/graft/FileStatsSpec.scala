package graft

import graft.catalog.FileStats
import graft.catalog.FileStats.{KeysPredicate, RangePredicate, StatsSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The file-skipping stats index: per-file min/max + Bloom, incremental
  * refresh, measured pruning, and the scanPruned == full-filter contract. */
class FileStatsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------- bloom probe kernel

  test("bloomContainsAny agrees with the build-side bitset bit-for-bit") {
    import graft.functions.expressions.{Kernels, SketchAggregates}
    val mBits = 1 << 10
    val k = 5
    val words = new Array[Long](mBits / 64)
    val inserted = (0 until 200).map(i => s"key-$i")
    inserted.foreach(SketchAggregates.bloomSetBits(words, mBits, k, _))
    val bytes = {
      val buf = java.nio.ByteBuffer.allocate(8 * words.length)
      words.foreach(buf.putLong)
      buf.array()
    }
    // every probe agrees with the long[]-based test, member or not
    (inserted ++ (0 until 500).map(i => s"other-$i")).foreach { g =>
      val viaWords = SketchAggregates.bloomTest(words, mBits, k, g)
      val viaBytes = Kernels.bloomContainsAny(bytes, k,
        Array(SketchAggregates.md5Hash60(g)), Array(SketchAggregates.md5Hash60b(g)))
      assert(viaWords == viaBytes, s"probe disagreement on $g")
    }
    // no false negatives ever; any-of semantics
    assert(Kernels.bloomContainsAny(bytes, k,
      Array("nope-1", "key-7").map(SketchAggregates.md5Hash60),
      Array("nope-1", "key-7").map(SketchAggregates.md5Hash60b)))
  }

  test("bloom_contains_any expression: codegen path, null bitset -> null") {
    import graft.functions.expressions.HashExpressions
    import graft.functions.expressions.SketchAggregates.bloom_sketch
    val df = Seq("a", "b", "c").toDF("v")
      .agg(bloom_sketch(col("v"), 1 << 10, 5).as("bl"))
    val out = df.select(
      HashExpressions.bloom_contains_any(col("bl"), Seq("b"), 5).as("hit"),
      HashExpressions.bloom_contains_any(col("bl"), Seq("zz-not-there"), 5).as("miss"),
      HashExpressions.bloom_contains_any(lit(null).cast("binary"), Seq("b"), 5).as("nl"))
      .collect().head
    assert(out.getBoolean(0) && !out.getBoolean(1) && out.isNullAt(2))
  }

  // ------------------------------------------------- fixture

  /** A clustered, fragmented table: 16 files per partition, each file a
    * contiguous `value` range (what a Z-order/range layout produces), so
    * range predicates can prune hard. */
  private def mkTable(db: String): String = {
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.events"
    val df = spark.range(0, 32000).select(
      col("id").as("event_id"),
      (col("id") % 997L).as("user_id"),
      concat(lit("type_"), (col("id") % 7L).cast("string")).as("kind"),
      (col("id") % 1000L).cast("double").as("value"),
      (col("id") % 4L).cast("int").as("bucket"))
    df.repartitionByRange(16, col("value"))
      .write.partitionBy("bucket").saveAsTable(t)
    t
  }

  test("refresh is incremental: second call scans nothing, appends scan only new files") {
    val db = s"fstats${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    val spec = StatsSpec(Seq("value", "user_id"), bloomCols = Seq("user_id"),
      bloomBits = 1 << 14)
    val r1 = FileStats.refresh(spark, t, st, spec)
    assert(r1.filesScanned > 0 && r1.filesKept == 0)
    val r2 = FileStats.refresh(spark, t, st, spec)
    assert(r2.filesScanned == 0 && r2.filesKept == r1.filesScanned,
      s"steady-state refresh must scan nothing: $r2")
    // append two files -> exactly those get scanned
    Seq((900000L, 5L, "type_x", 42.0, 1), (900001L, 6L, "type_x", 43.0, 2))
      .toDF("event_id", "user_id", "kind", "value", "bucket")
      .repartition(1).write.mode("append").insertInto(t)
    spark.catalog.refreshTable(t)
    val r3 = FileStats.refresh(spark, t, st, spec)
    assert(r3.filesScanned >= 1 && r3.filesScanned <= 2 &&
      r3.filesKept == r1.filesScanned, s"append refresh: $r3")
    // the stats table is narrow: one row per file x declared column
    val n = spark.table(st).count()
    assert(n == (r3.filesKept + r3.filesScanned) * 2L, s"narrow rows: $n")
  }

  test("range pruning: clustered predicate reads <= 25% of files; scan equals full filter") {
    val db = s"fprune${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    val spec = StatsSpec(Seq("value"))
    FileStats.refresh(spark, t, st, spec)
    val preds = Seq(RangePredicate("value", Some(100.0), Some(180.0)))
    val (_, selected, rep) = FileStats.pruneFiles(spark, t, st, preds)
    assert(rep.filesTotal >= 60, s"fixture must be fragmented: $rep")
    assert(rep.filesSelected <= rep.filesTotal / 4,
      s"clustered range must prune hard: $rep")
    assert(rep.filesUnknown == 0, rep.toString)
    assert(selected.size == rep.filesSelected)
    val pruned = FileStats.scanPruned(spark, t, st, preds)
    val full = spark.table(t).filter(col("value") >= 100.0 && col("value") <= 180.0)
    assert(pruned.schema.map(f => (f.name, f.dataType)) ==
      full.schema.map(f => (f.name, f.dataType)), "schema must align")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
      "pruned scan must equal the unpruned filter")
    assert(pruned.count() > 0, "the rectangle is non-empty")
  }

  test("key pruning via bloom: point lookups touch few files, never miss") {
    val db = s"fkeys${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    // event_id is unique and clustered by the range layout (id % 1000 ~ id
    // ordering within partitions); user_id repeats every 997 rows so its
    // per-file ranges span everything — bloom is what prunes it
    val spec = StatsSpec(Seq("event_id", "user_id"),
      bloomCols = Seq("event_id", "user_id"), bloomBits = 1 << 16)
    FileStats.refresh(spark, t, st, spec)
    val (_, _, repPoint) = FileStats.pruneFiles(spark, t, st,
      Seq(KeysPredicate("event_id", Seq(12345L))))
    assert(repPoint.filesSelected <= math.max(4, repPoint.filesTotal / 8),
      s"point lookup must prune: $repPoint")
    val hit = FileStats.scanPruned(spark, t, st,
      Seq(KeysPredicate("event_id", Seq(12345L))))
    assert(hit.select("event_id").as[Long].collect().toSeq == Seq(12345L))
    // a user_id probe: value ranges are useless (every file spans them) but
    // the bloom still cuts: correctness first — every row must be found
    val rows = FileStats.scanPruned(spark, t, st,
      Seq(KeysPredicate("user_id", Seq(13L, 500L))))
    val expect = spark.table(t).filter(col("user_id").isin(13L, 500L))
    assert(rows.exceptAll(expect).isEmpty && expect.exceptAll(rows).isEmpty)
    assert(rows.count() == expect.count() && rows.count() > 0)
  }

  test("staleness is safe: files written after refresh always survive pruning") {
    val db = s"fstale${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    FileStats.refresh(spark, t, st, StatsSpec(Seq("value")))
    // a late file whose values sit squarely inside the query range
    Seq((777777L, 1L, "late", 150.0, 0))
      .toDF("event_id", "user_id", "kind", "value", "bucket")
      .repartition(1).write.mode("append").insertInto(t)
    spark.catalog.refreshTable(t)
    val preds = Seq(RangePredicate("value", Some(100.0), Some(180.0)))
    val (_, _, rep) = FileStats.pruneFiles(spark, t, st, preds)
    assert(rep.filesUnknown >= 1, s"the late file is unknown: $rep")
    val got = FileStats.scanPruned(spark, t, st, preds)
      .filter(col("event_id") === 777777L).count()
    assert(got == 1L, "an unindexed file must never be pruned away")
  }

  test("spec validation: partition columns, unsupported types, non-subset blooms rejected") {
    val db = s"fval${System.nanoTime()}"
    val t = mkTable(db)
    intercept[IllegalArgumentException] {
      FileStats.refresh(spark, t, s"$db.s1", StatsSpec(Seq("bucket")))
    }
    intercept[IllegalArgumentException] {
      FileStats.refresh(spark, t, s"$db.s2",
        StatsSpec(Seq("value"), bloomCols = Seq("value"))) // double: not bloomable
    }
    intercept[IllegalArgumentException] {
      FileStats.refresh(spark, t, s"$db.s3",
        StatsSpec(Seq("value"), bloomCols = Seq("user_id")))
    }
  }

  test("deleteRows with stats index: same result as full-scan path, index refreshed, untouched files intact") {
    import graft.catalog.Retention
    val db = s"fdel${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    FileStats.refresh(spark, t, st, StatsSpec(Seq("event_id", "user_id"),
      bloomCols = Seq("user_id"), bloomBits = 1 << 16))
    // the expected survivors, computed before any rewrite
    // the classic forget-me shape: one user; their ~32 rows scatter over
    // a fraction of the files, so the bloom prune has something to cut
    val doomed = spark.table(t).filter(col("user_id") === 13L)
      .select("user_id").distinct().localCheckpoint(true)
    val expect = spark.table(t).filter(!(col("user_id") === 13L))
      .select("event_id").as[Long].collect().toSet
    // fingerprint files of a partition the delete will NOT touch? user_id
    // spreads across all buckets, so instead fingerprint the files the
    // prune EXCLUDES - they must survive the delete byte-identical
    val (root, before, repB) = FileStats.pruneFiles(spark, t, st,
      Seq(KeysPredicate("user_id",
        doomed.as[Long].collect().toSeq.asInstanceOf[Seq[Any]])))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def stamp(f: FileStats.FileEntry): (String, Long, Long) = {
      val p = if (f.rel.isEmpty) new org.apache.hadoop.fs.Path(root, f.name)
        else new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root, f.rel), f.name)
      val s0 = fs.getFileStatus(p)
      (p.toString, s0.getLen, s0.getModificationTime)
    }
    val (_, allFiles) = (root, FileStats.listDataFiles(spark, t)._2)
    val excludedFiles = allFiles.map(f => (f.rel, f.name)).toSet --
      before.map(f => (f.rel, f.name)).toSet
    val excludedStamps = allFiles.filter(f => excludedFiles((f.rel, f.name)))
      .map(stamp).toSet
    assert(repB.filesSelected < repB.filesTotal,
      s"bloom must exclude some files for the invariance check to bite: $repB")

    val report = Retention.deleteRows(spark, t, "user_id", doomed.toDF(),
      statsTable = Some(st))
    assert(report.rowsDeleted > 0)
    val left = spark.table(t).select("event_id").as[Long].collect().toSet
    assert(left == expect, "stats-pruned delete must equal the full-scan semantics")
    // auto-refresh: no unknown files remain in the index
    val (_, _, repA) = FileStats.pruneFiles(spark, t, st,
      Seq(RangePredicate("event_id", Some(0L), Some(100L))))
    assert(repA.filesUnknown == 0, s"post-delete refresh must cover rewrites: $repA")
    // files the prune excluded were never rewritten (partition granularity
    // means SOME excluded files share a rewritten partition - check only
    // those in partitions the delete did not touch)
    val rewrittenRels = allFiles.map(f => (f.rel, f.name)).toSet --
      FileStats.listDataFiles(spark, t)._2.map(f => (f.rel, f.name)).toSet
    val touchedParts = rewrittenRels.map(_._1)
    val mustSurvive = allFiles
      .filter(f => excludedFiles((f.rel, f.name)) && !touchedParts(f.rel))
    mustSurvive.foreach { f =>
      assert(excludedStamps(stamp(f)), s"untouched file changed: $f")
    }
  }

  test("bloom built with non-default hash count: probe uses the recorded bloom_k, never misses") {
    import graft.catalog.Retention
    val db = s"fk3${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    FileStats.refresh(spark, t, st, StatsSpec(Seq("user_id"),
      bloomCols = Seq("user_id"), bloomBits = 1 << 16, bloomHashes = 3))
    // a probe with the old hardcoded k=5 would read unset positions and
    // falsely exclude files; the recorded bloom_k must win
    val expect = spark.table(t).filter(!(col("user_id") === 13L))
      .select("event_id").as[Long].collect().toSet
    val r = Retention.deleteRows(spark, t, "user_id", Seq(13L).toDF("user_id"),
      statsTable = Some(st))
    assert(r.rowsDeleted == 33, r.toString)
    assert(spark.table(t).select("event_id").as[Long].collect().toSet == expect)
    // the auto-refresh kept one geometry (no k=5 rows crept in)
    val ks = spark.table(st).filter(col("bloom_k").isNotNull)
      .select("bloom_k").distinct().as[Long].collect().toSeq
    assert(ks == Seq(3L), ks.toString)
  }

  test("null keys in the stats-pruned delete are ignored, like the full-scan path") {
    import graft.catalog.Retention
    val db = s"fnull${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    FileStats.refresh(spark, t, st, StatsSpec(Seq("user_id"), Seq("user_id"),
      bloomBits = 1 << 16))
    val keys = Seq(Some(13L), None).toDF("user_id")
    val r = Retention.deleteRows(spark, t, "user_id", keys, statsTable = Some(st))
    assert(r.rowsDeleted == 33, "the null key deletes nothing, 13 deletes its rows")
  }

  test("unbounded RangePredicate admits all-NULL files; zero-row files stop rescanning") {
    val db = s"fedge${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.t"
    Seq((1L, Some(1.0), 0), (2L, Some(2.0), 0)).toDF("id", "v", "b")
      .write.partitionBy("b").saveAsTable(t)
    // one file whose v is entirely NULL, one file with ZERO rows
    Seq((3L, None: Option[Double], 1)).toDF("id", "v", "b")
      .repartition(1).write.mode("append").insertInto(t)
    spark.table(t).filter(lit(false)).repartition(1)
      .write.mode("append").insertInto(t)
    spark.catalog.refreshTable(t)
    val st = s"$db.t_stats"
    val r1 = FileStats.refresh(spark, t, st, StatsSpec(Seq("v")))
    val r2 = FileStats.refresh(spark, t, st, StatsSpec(Seq("v")))
    assert(r2.filesScanned == 0,
      s"zero-row files must not rescan forever: $r2 (first: $r1)")
    // None/None: residual keeps every row incl. the null-v row
    val all = FileStats.scanPruned(spark, t, st,
      Seq(RangePredicate("v", None, None)))
    assert(all.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L),
      "an unconstrained range must not exclude the all-NULL file")
    // a real range still excludes both the null file and the empty file
    val (_, sel, _) = FileStats.pruneFiles(spark, t, st,
      Seq(RangePredicate("v", Some(0.5), Some(3.0))))
    assert(sel.size == spark.table(t).filter(col("b") === 0).inputFiles.length,
      "null-only and zero-row files are pruned for a bounded range")
  }

  test("compactTable(statsTable): a curve-preserving compact restores pruning AND refreshes the index") {
    import graft.operators.Layout
    import graft.catalog.Compaction
    val db = s"fcomp${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.pts"
    val pts = spark.range(0, 40000).select(
      pmod(col("id") * 7919, lit(256L)).as("x"),
      pmod(col("id") * 104729, lit(256L)).as("y"))
    Layout.zorderBy(pts, Seq(col("x"), col("y")), 8, 32).drop("zval")
      .write.saveAsTable(t)
    val st = s"$db.pts_stats"
    FileStats.refresh(spark, t, st, StatsSpec(Seq("x", "y")))
    val preds = Seq(RangePredicate("x", Some(100L), Some(131L)),
      RangePredicate("y", Some(100L), Some(131L)))
    val (_, _, fresh0) = FileStats.pruneFiles(spark, t, st, preds)
    assert(fresh0.filesSelected <= fresh0.filesTotal / 4, fresh0.toString)
    // ~30 tiny appends spanning the key space degrade pruning: the new
    // files are UNKNOWN (stats stale) so they all survive every predicate
    (0 until 30).foreach { i =>
      pts.filter(pmod(xxhash64(col("x") * 256 + col("y"), lit(i)), lit(50)) === 0)
        .coalesce(1).write.mode("append").saveAsTable(t)
    }
    spark.catalog.refreshTable(t)
    val before = spark.table(t).agg(count(lit(1)),
      sum(col("x") * 521 + col("y"))).collect().toSeq
    val (_, _, degraded) = FileStats.pruneFiles(spark, t, st, preds)
    assert(degraded.filesUnknown >= 30 &&
      degraded.filesSelected > degraded.filesTotal / 4, degraded.toString)
    // compact with the curve AND the stats hook: pruning bound restored,
    // index refreshed (zero unknown files), content untouched
    val curve = Layout.mortonCode(Seq(col("x"), col("y")), 8)
    val (_, manifests) = Compaction.listManifests(spark, t)
    val target = math.max(1L, manifests.map(_.bytes).sum / 32)
    Compaction.compactTable(spark, t, targetBytes = target,
      curve = Some(curve), statsTable = Some(st))
    val (_, _, after) = FileStats.pruneFiles(spark, t, st, preds)
    assert(after.filesUnknown == 0, s"compaction must refresh the index: $after")
    assert(after.filesSelected <= after.filesTotal / 4,
      s"compaction must restore the pruning bound: $after")
    assert(spark.table(t).agg(count(lit(1)),
      sum(col("x") * 521 + col("y"))).collect().toSeq == before)
    // and the pruned scan still equals the plain filter
    val pruned = FileStats.scanPruned(spark, t, st, preds)
    val full = spark.table(t).filter(col("x").between(100L, 131L) &&
      col("y").between(100L, 131L))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("keysPrunedScan: a null key cannot mask an over-bound key set (guard checks raw rows)") {
    val db = s"fguard${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    FileStats.refresh(spark, t, st, StatsSpec(Seq("user_id"), Seq("user_id"),
      bloomBits = 1 << 16))
    // 3 distinct non-null keys + a null, bound = 3: raw distinct count is 4
    // (> bound) so the probe MUST decline — pruning with a silently
    // truncated key set would drop real blocks
    val keys = Seq(Some(1L), Some(2L), Some(3L), None).toDF("user_id")
    assert(FileStats.keysPrunedScan(spark, t, st, "user_id", keys, 3).isEmpty,
      "over-bound sets (counting the null) must fall back")
    // at bound 4 it prunes, and the null is simply dropped
    val scan = FileStats.keysPrunedScan(spark, t, st, "user_id", keys, 4)
    assert(scan.isDefined)
    val expect = spark.table(t).filter(col("user_id").isin(1L, 2L, 3L))
    assert(scan.get.exceptAll(expect).isEmpty && expect.exceptAll(scan.get).isEmpty)
    // all-null keys => empty frame (null never equi-matches)
    val empty = FileStats.keysPrunedScan(spark, t, st, "user_id",
      Seq(None: Option[Long]).toDF("user_id"), 4)
    assert(empty.isDefined && empty.get.isEmpty)
  }

  test("same-name in-place rewrite: stale stats are ignored and refresh rescans the file") {
    val db = s"frw${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.docs"
    (0L until 1000L).map(i => (i, i % 50L)).toDF("id", "grp")
      .repartition(8).write.saveAsTable(t)
    val st = s"$db.docs_stats"
    val spec = StatsSpec(Seq("id"), Seq("id"), bloomBits = 1 << 14)
    FileStats.refresh(spark, t, st, spec)
    // replace ONE data file in place: same name, different content/length.
    // (Spark never does this — UUID part names — but an external writer
    // or a restored backup can; the stats must not keep pruning on the
    // replaced content.)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t))
    val root = new org.apache.hadoop.fs.Path(meta.location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val victim = fs.listStatus(root).filter(f => !f.isDirectory &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .maxBy(_.getLen).getPath
    val tmp = new org.apache.hadoop.fs.Path(root, "_tmp_rewrite")
    // new content: ids far outside the original range, so the OLD file
    // stats would wrongly exclude them
    Seq((999999L, 0L), (999998L, 1L)).toDF("id", "grp")
      .coalesce(1).write.parquet(tmp.toString)
    val newFile = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.delete(victim, false)
    fs.rename(newFile, victim)
    fs.delete(tmp, true)
    spark.catalog.refreshTable(t)
    assert(fs.getFileStatus(victim).getLen > 0)
    // BEFORE any refresh: the bytes mismatch downgrades the file to
    // UNKNOWN, so a probe for the new content finds it
    val got = FileStats.scanPruned(spark, t, st, Seq(KeysPredicate("id", Seq(999999L))))
    assert(got.select("id").as[Long].collect().toSeq == Seq(999999L),
      "stale stats must not exclude rewritten content")
    // refresh notices the rewrite (covered requires matching bytes)
    val r = FileStats.refresh(spark, t, st, spec)
    assert(r.filesScanned == 1, s"exactly the rewritten file rescans: $r")
    val again = FileStats.scanPruned(spark, t, st, Seq(KeysPredicate("id", Seq(999999L))))
    assert(again.select("id").as[Long].collect().toSeq == Seq(999999L))
  }

  test("auto-rebucket: a stats table created tiny rebuilds once the table outgrows it") {
    val db = s"fgrow${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.docs"
    // 1 file -> created with 1 bucket (the gate-auto-create shape)
    Seq((1L, 1L)).toDF("id", "grp").coalesce(1).write.saveAsTable(t)
    val st = s"$db.docs_stats"
    val spec = StatsSpec(Seq("id"))
    FileStats.refresh(spark, t, st, spec)
    def buckets(): Int = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(st))
      .properties("graft.stats.buckets").toInt
    assert(buckets() == 1)
    // grow past 64 files/bucket -> the next refresh rebuilds at today's size
    (2L until 1000L).map(i => (i, i % 9L)).toDF("id", "grp")
      .repartition(80).write.mode("append").insertInto(t)
    spark.catalog.refreshTable(t)
    FileStats.refresh(spark, t, st, spec)
    val nb = buckets()
    assert(nb > 1 && nb <= 1024, s"rebucketed count: $nb")
    // stats intact across the rebuild: steady state + pruning correct
    val r = FileStats.refresh(spark, t, st, spec)
    assert(r.filesScanned == 0, s"post-rebuild steady state: $r")
    val got = FileStats.scanPruned(spark, t, st,
      Seq(RangePredicate("id", Some(10L), Some(20L))))
    val expect = spark.table(t).filter(col("id").between(10L, 20L))
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("scanPruned reads under the CATALOG schema: date-shaped string partitions don't drift") {
    val db = s"fschema${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.daily"
    // partition column is a STRING holding date-shaped values — inference
    // would read it back as DATE and break the bit-for-bit contract
    Seq((1L, 10.0, "2024-01-05"), (2L, 20.0, "2024-01-06"),
        (3L, 30.0, "2024-01-05"), (4L, 40.0, "2024-01-07"))
      .toDF("id", "value", "day")
      .write.partitionBy("day").saveAsTable(t)
    val st = s"$db.daily_stats"
    FileStats.refresh(spark, t, st, StatsSpec(Seq("id")))
    val got = FileStats.scanPruned(spark, t, st,
      Seq(RangePredicate("id", Some(1L), Some(3L))))
    val expect = spark.table(t).filter(col("id").between(1L, 3L))
    assert(got.schema == expect.schema,
      s"catalog schema must survive the pruned read: ${got.schema.sql}")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    assert(got.filter(col("day") === "2024-01-05").count() == 2L)
  }

  test("readPruned: an ordinary Column filter gets file skipping; results bit-equal the plain read") {
    import graft.catalog.CatalogOps
    val db = s"frp${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    FileStats.refresh(spark, t, st, StatsSpec(Seq("value", "event_id"),
      bloomCols = Seq("event_id"), bloomBits = 1 << 14))
    // a consume-SQL-style predicate: an indexed range, an indexed key, and
    // an UN-indexed residual (kind) that must not break anything
    val pred = col("value") >= 100.0 && col("value") <= 180.0 &&
      col("kind") =!= "type_9"
    val pruned = CatalogOps.readPruned(spark, t, st, pred)
    val plain = spark.table(t).filter(pred)
    assert(pruned.schema == plain.schema, pruned.schema.sql)
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    assert(pruned.count() > 0)
    // the PLAN-LEVEL claim: the pruned read touches a fraction of the files
    val allFiles = spark.table(t).inputFiles.length
    val readFiles = pruned.inputFiles.length
    assert(allFiles >= 60, s"fixture must be fragmented: $allFiles")
    assert(readFiles <= allFiles / 4,
      s"clustered range must skip files: $readFiles of $allFiles")
    // point lookup through the bloom, plus key-flipped comparison forms
    val pred2 = lit(200L) <= col("event_id") && col("event_id") === 12345L
    val pruned2 = CatalogOps.readPruned(spark, t, st, pred2)
    assert(pruned2.select("event_id").as[Long].collect().toSeq == Seq(12345L))
    assert(pruned2.inputFiles.length <= math.max(4, allFiles / 8))
    // no stats table -> plain read, same rows
    val noIdx = CatalogOps.readPruned(spark, t, s"$db.absent_stats", pred)
    assert(noIdx.exceptAll(plain).isEmpty && plain.exceptAll(noIdx).isEmpty)
    // nothing extractable (unindexed column only) -> plain read, same rows
    val resid = CatalogOps.readPruned(spark, t, st, col("kind") === "type_3")
    val plainResid = spark.table(t).filter(col("kind") === "type_3")
    assert(resid.exceptAll(plainResid).isEmpty && plainResid.exceptAll(resid).isEmpty)
  }

  test("refresh rewrites only the stats buckets holding changed files") {
    val db = s"fbkt${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    val spec = StatsSpec(Seq("user_id"), Seq("user_id"), bloomBits = 1 << 16)
    FileStats.refresh(spark, t, st, spec)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(st))
    assert(meta.partitionColumnNames == Seq("sb"),
      "stats table must be bucket-partitioned")
    val root = new org.apache.hadoop.fs.Path(meta.location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def stamps(): Map[String, Set[(String, Long, Long)]] =
      fs.listStatus(root).filter(_.isDirectory)
        .filter(d => !d.getPath.getName.startsWith("_") && !d.getPath.getName.startsWith("."))
        .map(d => d.getPath.getName ->
          fs.listStatus(d.getPath).map(f =>
            (f.getPath.getName, f.getLen, f.getModificationTime)).toSet).toMap
    val before = stamps()
    // append ONE file -> at most one bucket changes; every other bucket's
    // files must stay byte-identical (the O(changed) rewrite contract —
    // with per-file bloom payloads a full rewrite per refresh would grow
    // with TOTAL file count)
    Seq((900002L, 7L, "type_x", 44.0, 3))
      .toDF("event_id", "user_id", "kind", "value", "bucket")
      .repartition(1).write.mode("append").insertInto(t)
    spark.catalog.refreshTable(t)
    val r = FileStats.refresh(spark, t, st, spec)
    assert(r.filesScanned == 1, r.toString)
    val after = stamps()
    val rewritten = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(rewritten.size <= 1, s"only the changed bucket rewrites: $rewritten")
    // pruning still correct over the mixed-age buckets
    val got = FileStats.scanPruned(spark, t, st,
      Seq(KeysPredicate("user_id", Seq(7L))))
    val expect = spark.table(t).filter(col("user_id") === 7L)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("a column named with the spec delimiters records the spec property and prunes") {
    val db = s"fdelim${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.t"
    spark.range(0, 4000).select(col("id").as("a,b"), (col("id") % 7L).as("x|y"))
      .repartitionByRange(8, col("`a,b`")).write.saveAsTable(t)
    val st = s"$db.t_stats"
    FileStats.refresh(spark, t, st, StatsSpec(Seq("x|y", "a,b"), bloomCols = Seq("a,b"),
      bloomBits = 1 << 14))
    val props = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(st)).properties
    assert(props.contains("graft.stats.spec"), props.toString)
    val spec = FileStats.statsSpecOf(spark, st)
    assert(spec.exists(s => s.cols == Seq("a,b", "x|y") && s.bloomCols == Seq("a,b")),
      spec.toString)
    val pred = col("`a,b`") === 1234L
    val pruned = graft.catalog.CatalogOps.readPruned(spark, t, st, pred)
    val plain = spark.table(t).filter(pred)
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    assert(pruned.count() == 1)
    assert(pruned.inputFiles.length < plain.inputFiles.length,
      s"${pruned.inputFiles.length} vs ${plain.inputFiles.length} files")
  }

  test("a stats table of the wrong schema costs pruning, never rows, at every entry point") {
    import graft.catalog.CatalogOps
    import graft.pipeline.{JobArgs, PipelineRunner}
    val db = s"fwrong${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.not_stats"
    Seq((1, "x")).toDF("a", "b").write.saveAsTable(st)
    val pred = col("user_id").isin(13L, 14L)
    val plain = spark.table(t).filter(pred)
    def same(df: DataFrame): Unit =
      assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
    same(FileStats.keysPrunedScan(spark, t, st, "user_id",
      Seq(13L, 14L).toDF("user_id"), 100).get)
    same(CatalogOps.readPruned(spark, t, st, pred))
    val args = JobArgs("S", "wrong_stats", "", "e", Map.empty, db)
    same(new PipelineRunner(spark).cleanseToConsume(args,
      s"SELECT * FROM $t WHERE user_id IN (13, 14)", Map.empty, Map.empty,
      statsTables = Map(t -> st)))
    same(spark.table(s"${db}_consume.wrong_stats"))
  }

  test("without its spec property statsSpecOf aggregates the spec, refusing mixed hash counts") {
    import graft.catalog.{CatalogOps, TableWrite}
    val db = s"fnoprop${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    val spec = StatsSpec(Seq("user_id", "value"), bloomCols = Seq("user_id"),
      bloomBits = 1 << 14, bloomHashes = 3)
    FileStats.refresh(spark, t, st, spec)
    // what a refresh that crashed before recording the property leaves
    spark.sql(s"ALTER TABLE $st UNSET TBLPROPERTIES ('graft.stats.spec')")
    assert(FileStats.statsSpecOf(spark, st).contains(spec))
    val pred = col("user_id") === 13L
    val plain = spark.table(t).filter(pred)
    def same(df: DataFrame): Unit =
      assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
    val pruned = CatalogOps.readPruned(spark, t, st, pred)
    same(pruned)
    assert(pruned.inputFiles.length < plain.inputFiles.length)
    // one bloom row recorded under another hash count
    TableWrite.append(spark.table(st).filter(col("bloom_k").isNotNull).limit(1)
      .withColumn("bloom_k", lit(5L)).localCheckpoint(true), st)
    val e = intercept[IllegalArgumentException](FileStats.statsSpecOf(spark, st))
    assert(e.getMessage.contains("mixes bloom hash counts"), e.getMessage)
    same(CatalogOps.readPruned(spark, t, st, pred))
  }

  // ------------------------------------------------- refresh's diff

  /** Every stats row, bucket and bloom bytes (as hex) included. */
  private def statsRows(st: String): Set[org.apache.spark.sql.Row] =
    spark.table(st).withColumn("bloom", hex(col("bloom"))).collect().toSet

  test("a new bloom geometry rescans every file and leaves one geometry") {
    val db = s"fgeo${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    val small = StatsSpec(Seq("user_id"), Seq("user_id"), bloomBits = 1 << 12)
    val r1 = FileStats.refresh(spark, t, st, small)
    val big = small.copy(bloomBits = 1 << 14)
    val r2 = FileStats.refresh(spark, t, st, big)
    assert(r2.filesScanned == r1.filesScanned && r2.filesKept == 0, r2.toString)
    assert(FileStats.statsSpecOf(spark, st).contains(big))
    val widths = spark.table(st).select(octet_length(col("bloom"))).distinct()
      .as[Int].collect().toSeq
    assert(widths == Seq((1 << 14) / 8), widths.toString)
    assert(spark.table(st).count() == r2.filesScanned.toLong, "one row per file")
    for (k <- Seq(0L, 13L, 500L, 996L)) {
      val got = FileStats.scanPruned(spark, t, st, Seq(KeysPredicate("user_id", Seq(k))))
      val expect = spark.table(t).filter(col("user_id") === k)
      assert(got.count() == expect.count() && got.exceptAll(expect).isEmpty, s"key $k")
    }
  }

  test("widening the spec's columns rescans every file and prunes on the new column") {
    val db = s"fwide${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    val r1 = FileStats.refresh(spark, t, st, StatsSpec(Seq("user_id")))
    val wide = StatsSpec(Seq("user_id", "value"))
    val r2 = FileStats.refresh(spark, t, st, wide)
    assert(r2.filesScanned == r1.filesScanned && r2.filesKept == 0, r2.toString)
    assert(FileStats.statsSpecOf(spark, st).contains(wide))
    assert(spark.table(st).count() == 2L * r2.filesScanned, "one row per file and column")
    val preds = Seq(RangePredicate("value", Some(100.0), Some(180.0)))
    val (_, _, rep) = FileStats.pruneFiles(spark, t, st, preds)
    assert(rep.filesUnknown == 0 && rep.filesSelected <= rep.filesTotal / 4, rep.toString)
    val pruned = FileStats.scanPruned(spark, t, st, preds)
    val full = spark.table(t).filter(col("value") >= 100.0 && col("value") <= 180.0)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("a scoped refresh leaves every out-of-scope stats row identical") {
    val db = s"fscope${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    val spec = StatsSpec(Seq("user_id", "value"), Seq("user_id"), bloomBits = 1 << 14)
    FileStats.refresh(spark, t, st, spec)
    def outside() = statsRows(st).filter(_.getAs[String]("rel") != "bucket=1")
    val before = outside()
    val inBefore = spark.table(st).filter(col("rel") === "bucket=1").count()
    Seq((900003L, 8L, "type_x", 45.0, 1))
      .toDF("event_id", "user_id", "kind", "value", "bucket")
      .repartition(1).write.mode("append").insertInto(t)
    val r = FileStats.refresh(spark, t, st, spec, scopeRels = Some(Set("bucket=1")))
    assert(r.filesScanned == 1 && r.filesRemoved == 0, r.toString)
    assert(outside() == before, "out-of-scope stats rows changed")
    assert(spark.table(st).filter(col("rel") === "bucket=1").count() == inBefore + 2)
  }

  test("a refresh after a file vanished drops exactly its rows and reports it removed") {
    val db = s"fgone${System.nanoTime()}"
    val t = mkTable(db)
    val st = s"$db.events_stats"
    val spec = StatsSpec(Seq("user_id"), Seq("user_id"), bloomBits = 1 << 14)
    FileStats.refresh(spark, t, st, spec)
    val (root, files) = FileStats.listDataFiles(spark, t)
    val victim = files.head
    val before = statsRows(st)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, victim.rel), victim.name), false))
    spark.catalog.refreshTable(t)
    val r = FileStats.refresh(spark, t, st, spec)
    assert(r == FileStats.RefreshReport(0, 1, files.length - 1), r.toString)
    def ofVictim(row: org.apache.spark.sql.Row) =
      row.getAs[String]("rel") == victim.rel && row.getAs[String]("file") == victim.name
    assert(before.count(ofVictim) == 1)
    assert(statsRows(st) == before.filterNot(ofVictim))
  }
}
