package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level MERGE seam (SURVEY.md §2.2 K5).
  *
  * The reference performs its entity-table upsert as an Iceberg
  * `MERGE INTO ... WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN INSERT`
  * (etl_consume_entity_match.py:443-455). This sandbox has no Iceberg jar, so
  * the default implementation is a partition-scoped Hive-Parquet rewrite with
  * identical row-level semantics (verified by q57's oracle); on a cluster with
  * a MERGE-capable v2 catalog (Iceberg, Delta) swap in [[SqlMergeFormat]] and
  * every caller — `EntityMatch.upsert`, its tests, the e2e pipeline — is
  * unchanged. The seam is the point: the merge STRATEGY is a deployment
  * concern, not operator logic.
  */
trait TableFormat {

  /** Upsert `latest` (already deduplicated to one row per `keyCol`) into
    * `table`: rows whose `keyCol` exists in the table replace the stored row;
    * the rest append. Implementations must leave rows with other keys
    * byte-identical where the storage layout allows it. */
  def mergeUpsert(spark: SparkSession, table: String, latest: DataFrame,
                  keyCol: String): Unit
}

/** Default format: managed Hive-style Parquet tables, no table-format jar
  * required.
  *
  * Partitioned tables rewrite ONLY the affected partitions
  * ([[TableWrite.overwritePresent]]) — the closest no-table-format
  * approximation of file-level MERGE: untouched partitions keep their files
  * byte-for-byte, so at 100 TB the rewrite cost tracks the batch's partition
  * footprint, not the table size (ScaleCheck section `upsert` measures
  * this). Unpartitioned tables fall back to a full anti-join + replace.
  */
object HiveParquetFormat extends TableFormat {

  def mergeUpsert(spark: SparkSession, table: String, latest: DataFrame,
                  keyCol: String): Unit = {
    val primary = spark.table(table)
    val partCols =
      try spark.catalog.listColumns(table).filter(_.isPartition)
        .collect().map(_.name).toSeq
      catch { case _: Exception => Seq.empty }
    // The drained-partition DROP below renders partition values as SQL
    // literals ([[TableWrite.literal]]); that round-trips exactly for
    // string, integral and DATE keys but NOT in general for
    // timestamp/decimal/float (Timestamp.toString, e.g. '2024-01-01
    // 00:00:00.0', may not cast back to the stored partition value, turning
    // DROP IF EXISTS into a silent no-op that leaves a stale duplicate key).
    // Fail fast rather than corrupt silently.
    partCols.foreach { c =>
      val dt = primary.schema(c).dataType
      import org.apache.spark.sql.types._
      val ok = dt match {
        case StringType | ByteType | ShortType | IntegerType | LongType | DateType => true
        case _ => false
      }
      require(ok, s"partition column '$c' has type ${dt.simpleString}; " +
        "only string, integral and date partition keys are supported " +
        "(timestamp/decimal/float values do not round-trip through DROP " +
        "PARTITION literals)")
    }
    if (partCols.isEmpty) {
      val kept = primary.join(latest.select(col(keyCol)), Seq(keyCol), "left_anti")
      val merged = kept.unionByName(latest.select(primary.columns.toIndexedSeq.map(col): _*))
      Scratch.withScratch(spark, "upsert") { scratch =>
        TableWrite.scratch(merged, scratch)
        TableWrite.createOrReplace(spark.read.parquet(scratch), table)
      }
    } else {
      // Affected partitions = those holding a stale version of an upserted
      // key (must drop the old row) ∪ those receiving a latest row. Every
      // affected partition is rewritten as (surviving old rows) ∪ (latest
      // rows); dynamic overwrite replaces exactly the partitions present in
      // the written frame and leaves the rest alone. The semi-joins on the
      // partition columns prune the primary scan at runtime (DPP/AQE); they
      // are null-SAFE so a __HIVE_DEFAULT_PARTITION__ (null key) partition
      // is kept intact rather than silently losing its non-upserted rows.
      val latestKeys = latest.select(col(keyCol)).distinct()
      val staleParts = primary.join(latestKeys, Seq(keyCol), "left_semi")
        .select(partCols.map(col): _*).distinct()
      val newParts = latest.select(partCols.map(col): _*).distinct()
      val affected = staleParts.unionByName(newParts).distinct()
      val aff = affected.toDF(partCols.map(c => s"__aff_$c"): _*)
      val nullSafeOn = partCols.map(c => col(c) <=> col(s"__aff_$c")).reduce(_ && _)
      val keptInAffected = primary
        .join(aff, nullSafeOn, "left_semi")
        .join(latest.select(col(keyCol)), Seq(keyCol), "left_anti")
      val replacement = keptInAffected.unionByName(latest.select(primary.columns.toIndexedSeq.map(col): _*))
      Scratch.withScratch(spark, "upsert") { scratch =>
        TableWrite.scratch(replacement, scratch)
        val materialized = spark.read.parquet(scratch)
        // A MERGE can DRAIN a partition: if a key's only row moves to another
        // partition and nothing else lives in the old one, the replacement
        // frame has no rows there and dynamic overwrite never touches it —
        // the stale row would survive. Compute the drained set BEFORE the
        // overwrite (affected's lineage scans the primary table; running it
        // afterwards would re-read files the overwrite just deleted). Small
        // by construction: bounded by the batch's distinct partition values.
        val drained = affected
          .join(materialized.select(partCols.map(col): _*).distinct()
            .toDF(partCols.map(c => s"__aff_$c"): _*),
            nullSafeOn, "left_anti")
          .collect()
        TableWrite.overwritePresent(materialized, table)
        drained.foreach { row =>
          val partSpec = partCols.zipWithIndex
            .map { case (c, i) => s"$c = ${TableWrite.literal(row.get(i))}" }.mkString(", ")
          spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($partSpec)")
        }
      }
    }
  }
}

/** MERGE-capable v2 catalogs (Iceberg, Delta): emit the reference's actual
  * statement (etl_consume_entity_match.py:443-455) and let the table format
  * do file-level row replacement. Untestable end-to-end in this sandbox (no
  * such jar on the classpath) — [[mergeSql]] is unit-tested for statement
  * shape, and q57 pins the semantics through [[HiveParquetFormat]], which this
  * class must match by contract. */
object SqlMergeFormat extends TableFormat {

  private def q(ident: String): String = s"`${ident.replace("`", "``")}`"

  /** The statement this format executes; exposed for tests. Null-safe equality
    * on the key mirrors the Hive path's null handling. */
  def mergeSql(table: String, sourceView: String, keyCol: String): String = {
    val k = q(keyCol)
    s"""MERGE INTO ${table} t
       |USING ${q(sourceView)} s
       |ON t.$k <=> s.$k
       |WHEN MATCHED THEN UPDATE SET *
       |WHEN NOT MATCHED THEN INSERT *""".stripMargin
  }

  def mergeUpsert(spark: SparkSession, table: String, latest: DataFrame,
                  keyCol: String): Unit = {
    val view = s"graft_merge_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    latest.createOrReplaceTempView(view)
    try spark.sql(mergeSql(table, view, keyCol))
    finally spark.catalog.dropTempView(view)
  }
}
