package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Small-file compaction — the OPTIMIZE verb of a table format, built from
  * plain Spark primitives for Hive-style Parquet tables.
  *
  * WHY: streaming CDC upserts ([[TableFormat.mergeUpsert]] per micro-batch)
  * and per-run partitioned appends (`Pipeline.writePartitioned`, the analog
  * of etl_collect_to_cleanse.py:335-350's clear-partition-then-append)
  * accumulate files far below the parquet sweet spot; at 100 TB the
  * per-file open/footer overhead and tiny row groups come to dominate scan
  * cost. The reference never needs this verb only because each Glue run
  * rewrites whole partitions (etl_cleanse_to_consume.py:186-195); an engine
  * with incremental writes must compact.
  *
  * SHAPE — partition-scoped, one data pass, file-level swap:
  *   1. a driver-side manifest walk lists data files per partition directory
  *      (cost ∝ file count, zero data read — the listing a table format's
  *      manifests would answer);
  *   2. partitions are selected only where rewriting reduces the file
  *      count: n_files ≥ `minFiles` AND n_files > ⌈bytes/targetBytes⌉ —
  *      the bin decision of `Sampling.binPackDocs` applied to manifests;
  *   3. each selected partition is rewritten INDEPENDENTLY (its own narrow
  *      read): ⌈bytes/targetBytes⌉ = 1 → `coalesce(1)`, NO shuffle at all;
  *      k > 1 → ONE range exchange on the `curve` column (Layout Z-order /
  *      Hilbert codes — every output file stays a CONTIGUOUS curve segment,
  *      so compaction preserves the clustering that makes min/max pruning
  *      work) or on a deterministic hash spread. Partitions rewrite
  *      concurrently (`parallelism` Spark jobs), so a backlog sweep is not
  *      serialized on per-job latency;
  *   4. the swap is pure file manipulation: old data files move to a trash
  *      dir, new files move into the partition directory — no second data
  *      pass, no catalog change (the partition SET is preserved, so
  *      partition metadata needs no update). Unselected partitions are
  *      never opened, never rewritten: their files stay byte-identical
  *      (asserted by mtime in CompactionSpec) — the K5-upsert FLAT-cost
  *      contract: compaction cost tracks the AFFECTED bytes only.
  *
  * On a failed swap the trash is restored and the scratch dir is left in
  * place for inspection. As with every Hive-parquet write in this repo the
  * commit is not snapshot-atomic — on Iceberg/Delta deployments prefer the
  * format's native OPTIMIZE/rewrite_data_files, whose semantics (content
  * invariance, partition scoping, layout preservation) this operator
  * matches without the jar. On object stores rename is a copy: run with a
  * real rename-capable FS (HDFS/EMRFS-consistent) or accept the copy cost.
  *
  * Sizing is approximate by nature (bins come from INPUT bytes; range cuts
  * are sample-based). What is exact: content invariance (q158's oracle),
  * per-partition file counts ≤ the bin target, and the never-touch
  * guarantee for unselected partitions.
  */
object Compaction {

  /** One partition directory's manifest: `rel` is the path relative to the
    * table root ("" for an unpartitioned table); `files`/`bytes` count data
    * files only (hidden `_`/`.` names excluded). */
  final case class PartitionManifest(rel: String, files: Int, bytes: Long)

  final case class CompactReport(
      partitionsSeen: Int, partitionsCompacted: Int,
      filesBefore: Int, filesAfter: Int, bytesRewritten: Long) {
    def filesRemoved: Int = filesBefore - filesAfter
  }

  /** Data files grouped by partition directory, in the order of the one
    * walk ([[FileStats.listDataFiles]]): cost ∝ file count, zero data read. */
  def listManifests(spark: SparkSession, table: String): (Path, Seq[PartitionManifest]) = {
    val (root, files) = FileStats.listDataFiles(spark, table)
    val byRel = files.groupBy(_.rel)
    (root, files.map(_.rel).distinct.map(rel =>
      PartitionManifest(rel, byRel(rel).size, byRel(rel).map(_.bytes).sum)))
  }

  private def binCount(bytes: Long, targetBytes: Long): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

  /** Consolidate a `batch_id`-partitioned streaming-state table's HISTORY:
    * fold every partition with batch_id < `upTo` into the batch_id=`upTo`
    * partition and drop the originals. Complements [[compactTable]], which
    * merges files WITHIN a partition and cannot touch the
    * one-partition-per-micro-batch sprawl the streaming gates
    * (`ingestDedupGate`/`ingestAnnGate`/`ingestDqGate`) accrue by design.
    *
    * Contract: callers' readers must select `batch_id < id` or
    * `<= watermark` ranges (the gate tables' shape) with
    * `upTo` ≤ the commit log's watermark — every consolidated row keeps
    * satisfying those predicates, and the replay guard never revisits
    * committed batches. NEVER for snapshot-keyed tables (the online-fit
    * weights hold one complete model per partition and read
    * `batch_id == watermark` exactly — deduping ACROSS snapshots would
    * splice an arbitrary per-feature mixture no training step ever
    * emitted; prune their history by dropping whole old partitions
    * instead).
    *
    * Crash safety under the single-writer window (run it via the gates'
    * `maintain` hook — between batches, never beside a live writer):
    * the deduplicated union of all rows ≤ upTo (`dedupKeys` — the table's
    * row identity) is first written DURABLY to a hidden scratch dir under
    * the table root (the write-ahead copy: the target partition's rows
    * exist on disk before anything deletes them — an in-memory
    * localCheckpoint would not survive a driver crash, and INSERT
    * OVERWRITE clears the target partition before its job commits), then
    * the target partition overwrites FROM the scratch, then the source
    * partitions drop, then the scratch deletes. A re-run after a crash at
    * ANY point converges: an incomplete scratch (no _SUCCESS) is
    * recomputed from the untouched table; a complete scratch is reused as
    * the source (the table's partial state is irrelevant); remaining drops
    * and the cleanup finish idempotently.
    *
    * @return number of source partitions folded away. */
  def consolidateBatches(spark: SparkSession, table: String, upTo: Long,
                         dedupKeys: Seq[String]): Int = {
    require(dedupKeys.nonEmpty,
      "dedupKeys required: the idempotent re-run after a mid-consolidation " +
        "crash dedups the old+new union on the table's row identity")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    require(meta.partitionColumnNames == Seq("batch_id"),
      s"$table must be partitioned by exactly (batch_id), " +
        s"got ${meta.partitionColumnNames.mkString(", ")}")
    val partNames = spark.sql(s"SHOW PARTITIONS $table").collect()
      .map(_.getString(0).stripPrefix("batch_id="))
    val nonNumeric = partNames.filter(p => scala.util.Try(p.toLong).isFailure)
    require(nonNumeric.isEmpty,
      s"$table has non-numeric batch_id partitions (${nonNumeric.take(3).mkString(", ")}) " +
        "— e.g. a null-batch_id backfill; repair the table before consolidating")
    val sources = partNames.map(_.toLong).filter(_ < upTo)
    val scratch = new Path(new Path(meta.location), s".graft_consolidate_upTo=$upTo")
    val fs = scratch.getFileSystem(spark.sessionState.newHadoopConf())
    if (sources.isEmpty) {
      fs.delete(scratch, true) // stale WAL from a fully-completed prior run
      return 0
    }
    // WRITE-AHEAD copy: durable before anything is deleted
    if (!fs.exists(new Path(scratch, "_SUCCESS")))
      TableWrite.scratch(spark.table(table).filter(col("batch_id") <= upTo)
        .dropDuplicates(dedupKeys).drop("batch_id"), scratch.toString)
    finishFromScratch(spark, table, upTo, sources.toSeq, scratch, fs)
    sources.length
  }

  /** The swap tail of [[consolidateBatches]], re-runnable from a COMPLETE
    * scratch (_SUCCESS present): overwrite the target partition from the
    * WAL copy, drop the folded sources, delete the WAL. Every step is
    * idempotent against a crash at any point, which is what lets
    * [[convergeConsolidation]] replay it verbatim. */
  private def finishFromScratch(spark: SparkSession, table: String, upTo: Long,
                                sources: Seq[Long], scratch: Path, fs: FileSystem): Unit = {
    TableWrite.overwritePartition(spark.read.parquet(scratch.toString), table,
      Seq("batch_id" -> upTo))
    sources.foreach(p =>
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (batch_id=$p)"))
    fs.delete(scratch, true)
  }

  /** STARTUP CONVERGENCE for [[consolidateBatches]]: finish any
    * consolidation that crashed mid-swap, BEFORE a gate processes its
    * first batch. The crash window this closes: after the target
    * partition's overwrite but before every source-partition drop,
    * rows exist in BOTH the upTo partition and the undropped sources — a
    * gate reader's `batch_id < id` range would see them twice until the
    * next maintenance tick happened to re-fold (and row-count-sensitive
    * stored state, e.g. incrementalWinnow's shared-fingerprint counts,
    * would diverge from the no-crash run in the interim).
    *
    * The lingering WAL scratch dir under the table root is the crash
    * evidence and carries everything needed to converge withOUT the
    * caller's dedupKeys: a scratch WITH `_SUCCESS` is the complete
    * deduplicated fold — replay the swap tail from it; a scratch WITHOUT
    * `_SUCCESS` means the table was never touched (the overwrite only runs
    * after the WAL commits) — delete the stale scratch and done. No
    * scratch → nothing to converge, O(1) listing cost.
    *
    * Single-writer window applies (run at gate startup or between
    * batches, never beside a live consolidation).
    *
    * @return source partitions folded away across all converged runs. */
  def convergeConsolidation(spark: SparkSession, table: String): Int = {
    if (!spark.catalog.tableExists(table)) return 0
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    if (meta.partitionColumnNames != Seq("batch_id")) return 0
    val root = new Path(meta.location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    // ascending upTo: an older crashed fold must finish before a newer one
    // re-reads its sources (processing a newer scratch first is legal —
    // its WAL supersedes the older fold — but then the older scratch is
    // STALE, which the sources-empty sweep below handles either way)
    val pending = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(".graft_consolidate_upTo="))
      .flatMap(p => scala.util.Try(
        p.getName.stripPrefix(".graft_consolidate_upTo=").toLong).toOption
        .map(p -> _))
      .sortBy(_._2)
    var folded = 0
    pending.foreach { case (scratch, upTo) =>
      val sources = spark.sql(s"SHOW PARTITIONS $table").collect()
        .map(_.getString(0).stripPrefix("batch_id="))
        .flatMap(p => scala.util.Try(p.toLong).toOption)
        .filter(_ < upTo).toSeq
      if (!fs.exists(new Path(scratch, "_SUCCESS")) || sources.isEmpty) {
        // incomplete WAL (table untouched) — or a STALE complete WAL: no
        // sources below upTo means either this fold's drops all finished
        // or a LATER successful consolidation already folded past upTo
        // (it deletes only its own scratch). Overwriting from a stale WAL
        // here would RESURRECT rows that now live in the later partition
        // — duplicates, the exact state this verb exists to repair. Sweep.
        fs.delete(scratch, true)
      } else {
        finishFromScratch(spark, table, upTo, sources, scratch, fs)
        folded += sources.length
      }
    }
    folded
  }

  /** Compact `table` so each partition holds ≈⌈bytes/targetBytes⌉ files.
    *
    * @param curve optional clustering column over the table's DATA columns
    *              (partition columns are constant per file — clustering on
    *              them is meaningless), e.g. `Layout.mortonCode(...)`; when
    *              present, rewritten files are contiguous curve segments.
    * @param minFiles partitions with fewer data files are never considered
    *                 (2 = "anywhere merging is possible").
    * @param parallelism concurrent per-partition rewrite jobs.
    * @param kllBounds price the multi-bin range cuts from a one-pass KLL
    *                  sketch ([[graft.operators.Layout.repartitionByKllRange]])
    *                  instead of Spark's reservoir sampling — tighter
    *                  file-size spread on skewed curve distributions at the
    *                  cost of one extra pass over each rewritten partition.
    * @param swapHook fault-injection seam (tests only): invoked with the
    *                 live destination path just before each new file is
    *                 renamed into its partition dir; throwing exercises the
    *                 mid-sweep rollback path.
    */
  def compactTable(spark: SparkSession, table: String, targetBytes: Long,
                   curve: Option[Column] = None, minFiles: Int = 2,
                   parallelism: Int = 4,
                   lineage: Option[graft.lineage.Lineage] = None,
                   kllBounds: Boolean = false,
                   swapHook: Path => Unit = _ => (),
                   statsTable: Option[String] = None): CompactReport = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(minFiles >= 2, "minFiles < 2 would select single-file partitions")
    val (root, manifests) = listManifests(spark, table)
    val selected = manifests.filter(m =>
      m.files >= minFiles && m.files > binCount(m.bytes, targetBytes))
    val filesBeforeAll = manifests.map(_.files).sum
    if (selected.isEmpty) {
      val report = CompactReport(manifests.size, 0, filesBeforeAll, filesBeforeAll, 0L)
      // a no-op pass still lands in the audit trail: "compaction ran and
      // found nothing" is operational signal, not silence
      lineage.foreach(_.update(spark.emptyDataFrame, "compact",
        s"table=$table partitions=0/${report.partitionsSeen} " +
          s"files=${report.filesBefore}->${report.filesAfter} bytes=0"))
      return report
    }

    // Schema from CATALOG METADATA, not spark.table(): constructing the
    // table relation eagerly file-lists the WHOLE table (measured 0.6 s →
    // 3.4 s at 10× table size with identical affected bytes — the one
    // growth term in an otherwise flat operation).
    val meta = FileStats.tableMeta(spark, table)
    val partCols = meta.partitionColumnNames.toSet
    val dataSchema = StructType(meta.schema.filterNot(f => partCols.contains(f.name)))
    val dataCols = dataSchema.fieldNames.toIndexedSeq
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val scratch = Scratch.newDir(spark, "compact")

    def liveDir(m: PartitionManifest): Path =
      if (m.rel.isEmpty) root else new Path(root, m.rel)
    def dataFilesIn(dir: Path) =
      fs.listStatus(dir).filter(s => s.isFile && FileStats.isDataName(s.getPath.getName))

    // Phase 1: write each selected partition's replacement files to scratch.
    // Independent Spark jobs, submitted from a bounded pool — the Spark
    // scheduler runs them concurrently, so many small partitions don't pay
    // serial per-job latency.
    FileStats.inParallel(parallelism)(selected.zipWithIndex.map { case (m, i) => () =>
      val part = spark.read.schema(dataSchema).parquet(liveDir(m).toString)
      val nBins = binCount(m.bytes, targetBytes)
      val key = curve.getOrElse(xxhash64(dataCols.map(col): _*))
      val arranged =
        if (nBins == 1) {
          val one = part.coalesce(1) // narrow: merge reads, zero shuffle
          if (curve.isDefined) one.sortWithinPartitions(key) else one
        } else if (kllBounds)
          graft.operators.Layout.repartitionByKllRange(part, key, nBins)
        else part.repartitionByRange(nBins, key).sortWithinPartitions(key)
      TableWrite.scratch(arranged, s"$scratch/$i")
    })

    // Phase 2: file-level swap per partition — old data files to trash, new
    // files in. On any swap failure, FIRST rename already-swapped-in new
    // files back to scratch (otherwise partitions swapped earlier in the
    // loop — or the partially-populated failing one — would hold BOTH old
    // and new copies of their rows after the trash restore), THEN restore
    // the trashed originals. Scratch is LEFT in place for inspection
    // (deleting it would destroy the only copy of a half-swapped partition).
    val moved = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)] // (trash, live) pairs restored on failure
    val movedIn = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)] // (live, scratch) new files un-swapped on failure
    try {
      selected.zipWithIndex.foreach { case (m, i) =>
        val dir = liveDir(m)
        val trash = new Path(scratch, s"trash_$i")
        fs.mkdirs(trash)
        dataFilesIn(dir).foreach { s =>
          val dst = new Path(trash, s.getPath.getName)
          if (!fs.rename(s.getPath, dst))
            throw new java.io.IOException(s"rename to trash failed: ${s.getPath}")
          moved += ((dst, s.getPath))
        }
        dataFilesIn(new Path(s"$scratch/$i")).foreach { s =>
          val dst = new Path(dir, s.getPath.getName)
          swapHook(dst)
          if (!fs.rename(s.getPath, dst))
            throw new java.io.IOException(s"rename into partition failed: ${s.getPath}")
          movedIn += ((dst, s.getPath))
        }
      }
    } catch {
      case e: Throwable =>
        // every rollback rename's RESULT is checked: a silently-failed
        // un-swap or restore would leave duplicate (or missing) rows while
        // the message claims a clean restore — report exactly what happened
        val failedRestores = scala.collection.mutable.ArrayBuffer.empty[String]
        movedIn.reverseIterator.foreach { case (live, back) =>
          if (fs.exists(live) && !fs.rename(live, back))
            failedRestores += s"un-swap $live"
        }
        moved.reverseIterator.foreach { case (trashed, orig) =>
          if (fs.exists(trashed) && !fs.rename(trashed, orig))
            failedRestores += s"restore $orig"
        }
        val state =
          if (failedRestores.isEmpty) "originals restored"
          else s"ROLLBACK INCOMPLETE (${failedRestores.size} renames failed: " +
            s"${failedRestores.take(5).mkString("; ")}) — table may hold " +
            "duplicate or missing rows; reconcile against the scratch dir"
        throw new RuntimeException(
          s"compaction swap failed; $state, scratch kept at $scratch", e)
    }
    Scratch.delete(spark, scratch)
    spark.catalog.refreshTable(table)

    val (_, after) = listManifests(spark, table)
    val report = CompactReport(manifests.size, selected.size,
      filesBeforeAll, after.map(_.files).sum, selected.map(_.bytes).sum)
    // the OPTIMIZE event belongs in the same audit trail as the writes that
    // fragmented the table (K8); content is invariant, so no numeric audit
    lineage.foreach(_.update(spark.emptyDataFrame, "compact",
      s"table=$table partitions=${report.partitionsCompacted}/${report.partitionsSeen} " +
        s"files=${report.filesBefore}->${report.filesAfter} bytes=${report.bytesRewritten}"))
    // OPTIMIZE is a write: without a refresh the rewritten partitions'
    // files are UNKNOWN to a FileStats index and every pruned scan reads
    // them (safe, but the compaction just un-did its own pruning win —
    // a curve-preserving rewrite exists precisely to tighten per-file
    // min/max boxes). The refresh scans only the replacement files.
    statsTable.filter(_ => report.partitionsCompacted > 0).foreach { st =>
      // a refresh failure must NOT surface a fully-successful compaction
      // as failed (stats staleness is a performance problem, the OPTIMIZE
      // result is not) — same posture as the gates' refresh hooks
      try FileStats.statsSpecOf(spark, st).foreach(sp =>
        FileStats.refresh(spark, table, st, sp))
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"post-compaction stats refresh of $st failed — rewritten " +
              "files stay unpruned until the next refresh", e)
      }
    }
    report
  }
}
