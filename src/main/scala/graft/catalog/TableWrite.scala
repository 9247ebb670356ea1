package graft.catalog

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit

/** The one way graft writes a catalog table (the bucketed create of
  * [[CatalogOps.writeBucketed]] aside, which writes [[Codec]] too): the
  * reference's partitioned reload, purge-then-publish, quarantine append
  * and entity create/upsert (SURVEY.md §2.2 K1, K2, K3, K5) are each one
  * of four verbs. Every verb
  * writes zstd ([[Codec]]), leaves the session conf as it found it (the
  * overwrite mode and the codec are options of the one statement, so a
  * stream thread and a pipeline stage can share a session) and aligns the
  * frame to the stored schema by name. Spark refreshes the writing
  * session's view of the table as part of the write, so no verb, and no
  * caller, refreshes it again.
  * The caller settles any frame that reads the table it overwrites (a
  * `localCheckpoint` or a scratch copy): the overwrite deletes its files. */
object TableWrite {

  /** The codec of every table and scratch file graft writes: ~30% smaller
    * than snappy at similar read speed — at 100 TB the scan-bytes saving
    * dominates the extra write cpu. */
  val Codec = "zstd"

  /** Creates `table` (and its database) from `df`; an existing table is
    * dropped and replaced, definition included (Spark refreshes it). */
  def createOrReplace(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    createDatabaseOf(df.sparkSession, table)
    val w = df.write.format("parquet").option("compression", Codec).mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).saveAsTable(table)
  }

  /** Creates the database `table` names, if it names one that is missing. */
  private[catalog] def createDatabaseOf(spark: SparkSession, table: String): Unit =
    spark.sessionState.sqlParser.parseTableIdentifier(table).database
      .foreach(db => spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))

  /** Static overwrite of the one partition `spec` names (column → value):
    * an empty `df` clears it. An empty `spec` replaces the whole table. */
  def overwritePartition(df: DataFrame, table: String, spec: Seq[(String, Any)]): Unit =
    insert(df, table, "OVERWRITE", Some("static"), spec)

  /** Dynamic overwrite: replaces exactly the partitions `df` has rows in. */
  def overwritePresent(df: DataFrame, table: String): Unit =
    insert(df, table, "OVERWRITE", Some("dynamic"), Nil)

  def append(df: DataFrame, table: String): Unit = insert(df, table, "INTO", None, Nil)

  /** Writes `df` to a scratch Parquet directory, replacing it. */
  def scratch(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", Codec).parquet(path)

  /** A partition-spec literal: numbers and booleans bare, null as `NULL`,
    * anything else (strings, dates, timestamps) quoted, which the partition
    * column's type coerces. Spark unescapes `\` and `'` inside the quotes,
    * so both are escaped: a bare `a\b` would address the partition `a<BS>`. */
  def literal(v: Any): String = v match {
    case null => "NULL"
    case n: java.lang.Number => n.toString
    case b: java.lang.Boolean => b.toString
    case other => "'" + other.toString.replace("\\", "\\\\").replace("'", "\\'") + "'"
  }

  private def quote(name: String): String = "`" + name.replace("`", "``") + "`"

  /** `INSERT OVERWRITE|INTO TABLE … WITH (options) [PARTITION (spec)]` from
    * a temp view of `df` holding every stored column the spec does not fix,
    * in stored order, cast to its stored type: a stored column `df` lacks
    * is written null, a `df` column the table lacks is dropped. */
  private def insert(df: DataFrame, table: String, verb: String, mode: Option[String],
                     spec: Seq[(String, Any)]): Unit = {
    val ss = df.sparkSession
    val stored = ss.sessionState.catalog.getTableMetadata(
      ss.sessionState.sqlParser.parseTableIdentifier(table)).schema
    val resolver = ss.sessionState.conf.resolver
    val cols = stored.fields.toSeq
      .filterNot(f => spec.exists { case (c, _) => resolver(c, f.name) })
      .map(f => df.columns.find(resolver(_, f.name))
        .fold(lit(null))(c => df.col(quote(c))).cast(f.dataType).as(f.name))
    val options = (("compression" -> Codec) +: mode.map("partitionOverwriteMode" -> _).toSeq)
      .map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
    val partition =
      if (spec.isEmpty) ""
      else spec.map { case (c, v) => s"${quote(c)} = ${literal(v)}" }
        .mkString(" PARTITION (", ", ", ")")
    val view = s"graft_write_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.select(cols: _*).createOrReplaceTempView(view)
    try ss.sql(s"INSERT $verb TABLE $table WITH ($options)$partition SELECT * FROM $view")
    finally { ss.catalog.dropTempView(view); () }
  }
}
