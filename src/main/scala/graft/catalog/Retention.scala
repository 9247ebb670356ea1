package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted row deletion over Hive-layout tables — the right-to-be-forgotten
  * verb a training-data lake must support alongside OPTIMIZE
  * ([[Compaction]]): given a frame of keys, rewrite ONLY the partitions that
  * contain matching rows, leaving every other partition's files untouched.
  *
  * One semi-join finds the affected partitions (one row per PARTITION, not
  * per deleted row); each one's survivors are written back with
  * [[TableWrite.overwritePartition]]. Static, not dynamic, deliberately:
  * dynamic overwrite only replaces partitions PRESENT in the result, so a
  * partition whose rows are ALL deleted would be skipped and silently keep
  * the very rows the delete targeted. A crash mid-delete leaves partitions
  * either old or new (Spark's file committer), never mixed; re-running the
  * same delete is a no-op (no matching keys remain).
  *
  * Scale shape: cost is one pruned scan + rewrite per AFFECTED partition —
  * a handful of deletion requests against a date-partitioned 100 TB table
  * touches only the dates those users appear in; the untouched-partition
  * invariance is spec-asserted file-by-file. Single writer assumed (the
  * Hive-layout caveat shared with [[Compaction.compactTable]]).
  */
object Retention {

  final case class DeleteReport(rowsDeleted: Long, partitionsRewritten: Int,
                                partitionsSeen: Int)

  /** Delete every row of `table` whose `keyCol` appears in `keys`.
    * Unpartitioned tables rewrite wholesale (there is nothing to prune).
    *
    * With `statsTable` (a [[FileStats]] index whose spec declares `keyCol`,
    * ideally as a bloom column), the affected-partition DISCOVERY reads
    * only the files whose per-file stats admit a key — cost ∝ files the
    * keys might live in, FLAT in table size — instead of the full-table
    * semi-join scan, which at 100 TB charges every forget-me batch a whole
    * table read. The key set is collected to the driver for the stats
    * probe (bounded by `maxDiscoveryKeys`; the md5 key hashes are computed
    * once and probed against every per-file filter in one stats-table
    * pass); larger batches fall back to the full scan, which is the right
    * trade anyway — a million-key delete touches most partitions. After
    * the rewrite the index is refreshed under the SAME spec it carries
    * (new files of rewritten partitions get scanned; dropped files'
    * rows vanish), so the next delete prunes correctly. Stats staleness is
    * never a correctness risk ([[FileStats.pruneFiles]] treats unknown
    * files as candidates). */
  def deleteRows(spark: SparkSession, table: String, keyCol: String,
                 keys: DataFrame,
                 lineage: Option[graft.lineage.Lineage] = None,
                 statsTable: Option[String] = None,
                 maxDiscoveryKeys: Int = 100000): DeleteReport = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val partCols = meta.partitionColumnNames
    val k = keys.select(col(keyCol)).distinct().localCheckpoint(true)
    val pruned = statsPrunedMatching(spark, table, keyCol, k, statsTable,
      maxDiscoveryKeys)
    // the files the pruned discovery admitted, listed NOW: the overwrites
    // below replace files, and the scoped refresh must name the files this
    // delete could have touched, not what a re-listing finds afterwards
    val admitted = pruned.filter(_ => partCols.nonEmpty)
      .flatMap(m => scala.util.Try(m.inputFiles.toSeq).toOption)
    val matching = pruned
      .getOrElse(spark.table(table).join(k, Seq(keyCol), "left_semi"))

    def overwrite(spec: Seq[(String, Any)]): Unit = {
      val pred = spec.map { case (c, v) => col(c) <=> lit(v) }.reduceOption(_ && _)
      val base = pred.fold(spark.table(table))(p => spark.table(table).filter(p))
      TableWrite.overwritePartition(
        base.join(k, Seq(keyCol), "left_anti")
          .localCheckpoint(true), // settle before overwriting the same files
        table, spec)
    }

    val report =
      if (partCols.isEmpty) {
        val n = matching.count()
        if (n > 0) overwrite(Nil)
        DeleteReport(n, if (n > 0) 1 else 0, 1)
      } else {
        // partition COUNT from the partition listing only (SHOW PARTITIONS
        // walks directories, not files) — a full listManifests file walk
        // here would contradict the affected-partitions-only cost contract
        val seen = spark.sql(s"SHOW PARTITIONS $table").count().toInt
        // one row per AFFECTED partition + the doomed-row count, one pass
        val affected = matching
          .groupBy(partCols.map(col): _*).agg(count(lit(1)).as("__n"))
          .collect()
        affected.foreach(row => overwrite(partCols.indices.map(i => partCols(i) -> row.get(i))))
        DeleteReport(affected.map(_.getLong(partCols.length)).sum,
          affected.length, seen)
      }
    lineage.foreach(_.update(spark.emptyDataFrame, "delete",
      s"table=$table key=$keyCol rows=${report.rowsDeleted} " +
        s"partitions=${report.partitionsRewritten}/${report.partitionsSeen}"))
    statsTable.filter(_ => report.partitionsRewritten > 0)
      .foreach(st => FileStats.statsSpecOf(spark, st).foreach { sp =>
        // SCOPED refresh (guide §6 — cost ∝ touched): a rewritten partition
        // must have held a matching row, and matching rows live only in
        // files the pruned discovery admitted — so the admitted files'
        // partition dirs are a sound SUPERSET of everything this delete
        // changed (admitted-but-unchanged files are re-recognized as
        // covered and skipped). The rels come from the pruned scan's own
        // resolved file list, snapshotted before the overwrites, never from
        // re-rendered partition specs. Unpartitioned tables and full-scan
        // discovery refresh unscoped.
        val scope: Option[Set[String]] = admitted.flatMap { files =>
          scala.util.Try {
            val rootNorm = FileStats.normPath(new org.apache.hadoop.fs.Path(meta.location).toString)
            files.map { p =>
              val norm = FileStats.normPath(p)
              val parent = norm.substring(0, norm.lastIndexOf('/'))
              require(parent == rootNorm || parent.startsWith(rootNorm + "/"),
                s"input file $p outside table root $rootNorm")
              if (parent == rootNorm) "" else parent.drop(rootNorm.length + 1)
            }.toSet
          }.toOption.filter(rs => rs.nonEmpty && !rs.contains(""))
        }
        FileStats.refresh(spark, table, st, sp, scopeRels = scope)
      })
    report
  }

  /** One derived table a forget-me request must reach: the key column the
    * document/user id appears under there, plus an optional [[FileStats]]
    * index for pruned discovery. */
  final case class DeleteTarget(table: String, keyCol: String,
                                statsTable: Option[String] = None)

  /** Right-to-be-forgotten PROPAGATION: delete one key set from a table
    * AND every derived table that remembers it — the dedup corpus/report,
    * a minhash signature index, BM25 postings + lengths, IVF-PQ code
    * tables (all of which are row-per-id by construction, so row deletion
    * leaves each index bit-equal to one built over a corpus that never
    * contained the ids; BM25's df/N/avgdl and ANN's candidate sets are
    * derived at SEARCH time from the surviving rows). The reference's
    * token store keeps raw↔hash pairs in exactly this derived-side-table
    * shape (`datatransform_dataprotection.py:158-173`) — a delete that
    * stops at the primary table is not a delete.
    *
    * Run inside the same single-writer window as the gates' `maintain`
    * hook — never beside a live writer of ANY target. Each target is
    * deleted independently ([[deleteRows]] semantics and crash posture
    * apply per table; a crash mid-list leaves completed targets clean and
    * the re-run converges — re-deleting an absent key is a no-op).
    *
    * What this verb deliberately does NOT do: rewrite rows that REFERENCE
    * a forgotten id in non-key columns (e.g. a dedup report's
    * `attributed_to`). Deleting those rows would falsify history for
    * surviving docs; scrubbing the reference is a schema-specific UPDATE
    * the caller owns. Declare such tables as extra targets keyed on the
    * referencing column if full erasure is required.
    *
    * @return per-table reports, in target order. */
  def deleteRowsAll(spark: SparkSession, keys: DataFrame,
                    targets: Seq[DeleteTarget],
                    lineage: Option[graft.lineage.Lineage] = None,
                    maxDiscoveryKeys: Int = 100000): Seq[(String, DeleteReport)] = {
    require(keys.columns.length == 1,
      s"keys must be a single-column frame, got ${keys.columns.mkString(", ")}")
    require(targets.nonEmpty, "no delete targets")
    val k = keys.distinct().localCheckpoint(true)
    targets.map { t =>
      t.table -> deleteRows(spark, t.table, t.keyCol, k.toDF(t.keyCol),
        lineage, t.statsTable, maxDiscoveryKeys)
    }
  }

  /** Stats-pruned replacement for the discovery semi-join: the shared
    * [[FileStats.keysPrunedScan]] probe, semi-joined back to the exact key
    * frame. None → caller falls back to the full scan (no/missing index,
    * key set over the probe bound, or keyCol not indexed). */
  private def statsPrunedMatching(spark: SparkSession, table: String,
                                  keyCol: String, k: DataFrame,
                                  statsTable: Option[String],
                                  maxDiscoveryKeys: Int): Option[DataFrame] =
    statsTable.filter(spark.catalog.tableExists).flatMap { st =>
      // spec-level indexed-column check — a catalog read, not a
      // stats-table job on the discovery hot path
      if (!FileStats.statsSpecOf(spark, st).exists(_.cols.contains(keyCol))) None
      else FileStats.keysPrunedScan(spark, table, st, keyCol, k, maxDiscoveryKeys)
        .map(_.join(k, Seq(keyCol), "left_semi"))
    }

}
