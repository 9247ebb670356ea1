package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode
import graft.catalog.{SchemaEvolution, TableWrite}
import graft.config.Specs
import graft.config.Specs.NodeOps
import graft.dq.DqEngine
import graft.lineage.Lineage
import graft.mapping.{CustomMapping, MappingRow}
import graft.sources.Sources
import graft.transforms.{TransformContext, TransformRegistry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Job arguments shared by the pipeline stages — the Scala analog of the Glue
  * job `args` (etl_collect_to_cleanse.py:58-73). */
case class JobArgs(
    sourceSystem: String,
    tableName: String,
    sourcePath: String,
    executionId: String,
    partition: Map[String, String], // year/month/day, zero-padded
    databaseName: String,
    environment: String = "Prod",
    lineageSink: Option[String] = None,
    specOutDir: Option[String] = None) // K10: generated mapping/spec land here

/** The 3-stage pipeline IR (SURVEY.md §3.4): Ingest → Map → DQ(before) →
  * Transform* → DQ(after) → Publish, then SQL → DQ(after_sparksql) → Publish.
  * One JVM, one SparkSession; the reference's Lambda/Step Functions boundaries
  * become function calls, executor boundaries remain Spark's. */
class PipelineRunner(spark: SparkSession) {

  /** Partition derivation from an event date (lambda_handler.py:137-148):
    * zero-padded month/day, int-cast for safety. */
  def partitionFor(date: java.time.LocalDate): Map[String, String] = Map(
    "year" -> f"${date.getYear}%04d",
    "month" -> f"${date.getMonthValue}%02d",
    "day" -> f"${date.getDayOfMonth}%02d")

  /** Collect → Cleanse (etl_collect_to_cleanse.py:58-353).
    *
    * `extraTransforms` is the user-extension seam: names resolve there
    * before the built-in registry, mirroring the reference's drop-in
    * transform modules (datatransform_premiumdemo.py:186-233). */
  def collectToCleanse(args: JobArgs, spec: Specs.DatasetSpec,
                       mapping: Seq[MappingRow],
                       dqRules: Map[String, Map[String, Seq[String]]],
                       ctx: TransformContext,
                       extraTransforms: Map[String, TransformRegistry.Transform] = Map.empty): DataFrame = {
    val lineage = ctx.lineage.getOrElse(new Lineage(args.executionId, args.lineageSink))

    // 1. format-dispatched read
    val isFixed = spec.inputSpec.exists(_.has("fixed"))
    if (isFixed) {
      val missing = mapping.filter(_.threshold.isEmpty)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        "fixed-width input: every mapping row needs a width (3rd column); missing for: " +
          missing.map(_.sourceName).mkString(", "))
      // silently skipping a width-less row would shift every later field's
      // offsets and garble the whole file
    }
    val fixedFields = mapping.collect {
      case MappingRow(_, dest, Some(w), _) if isFixed =>
        Sources.FixedWidthField(dest, w.toInt)
    }
    // read once per call: a lazy local checkpoint that the `before` audit's
    // job fills. Not cache(): the CacheManager matches cached plans by
    // path, so a file re-delivered to the same path in the same session
    // would be served from the first delivery's cache, and every call
    // would leave a cache entry behind
    val initial = Sources.read(spark, args.sourcePath, spec.inputSpec, fixedFields)
      .localCheckpoint(false)
    lineage.update(initial, "read", args.sourcePath)
    val before = lineage.numericAudit(initial, "before")

    // 2. empty-input abort (etl_collect_to_cleanse.py:249-250), from the
    // audit's row count
    if (before("rowcount") == 0.0)
      throw new RuntimeException("No data found in source file; aborting")

    // 3. mapping (or generated clean-names mapping when absent)
    val strictMapping = spec.inputSpec.flatMap(_.bool("strict_schema_mapping")).getOrElse(false)
    val mapped =
      if (mapping.nonEmpty && !spec.inputSpec.exists(_.has("fixed")))
        CustomMapping.applyMapping(initial, mapping, strictMapping)
      else if (mapping.isEmpty) {
        val (cleaned, renames) = CustomMapping.cleanColumnNames(initial)
        // K10: persist the generated mapping so a user can promote it to the
        // dataset's config (etl_collect_to_cleanse.py:256-263 writes the
        // recommended mapping CSV to the job TempDir when none exists)
        args.specOutDir.foreach { dir =>
          def q(f: String): String = // raw headers may contain CSV metachars
            if (f.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
              "\"" + f.replace("\"", "\"\"") + "\""
            else f
          writeText(s"$dir/${args.tableName}.csv",
            "SourceName,DestName\n" +
              renames.map { case (s, t) => s"${q(s)},${q(t)}" }.mkString("\n") + "\n")
        }
        cleaned
      } else initial
    lineage.update(mapped, "mapping")

    // K10: no transform spec → generate the recommended one next to the job
    // (etl_collect_to_cleanse.py:292-296)
    if (spec.transformSpec.isEmpty)
      args.specOutDir.foreach(dir =>
        writeText(s"$dir/${args.tableName}.json", CustomMapping.generateSpec(mapped)))

    // 4. DQ before_transform
    val engine = new DqEngine(Some(quarantineSink(args)))
    val afterDq1 = engine.runRuleset(mapped,
      dqRules.getOrElse("before_transform", Map.empty), "before_transform")

    // 5. transform chain (JSON key order); user transforms dispatch first
    val transformed = TransformRegistry.applyAll(afterDq1, spec.transformSpec, ctx, extraTransforms)

    // 6. partition + execution_id literal columns
    val withPartition = transformed.withColumns(
      args.partition.map { case (k, v) => k -> lit(v) } +
        ("execution_id" -> lit(args.executionId)))

    // 7. DQ after_transform
    val afterDq2 = engine.runRuleset(withPartition,
      dqRules.getOrElse("after_transform", Map.empty), "after_transform")

    // 8. schema-evolution gate + partitioned write, which also takes the
    // `after` audit
    val policy = spec.inputSpec.flatMap(_.str("allow_schema_change"))
      .getOrElse(SchemaEvolution.defaultPolicy(args.environment))
    lineage.auditOnWrite(afterDq2, "after")(observed =>
      write(observed, afterDq2, s"${args.databaseName}.${args.tableName}",
        args.partition.keys.toSeq, policy))

    // 9. K7: persist every recorded rule outcome next to the dataset (the
    // reference writes one DynamoDB item per rule on every job,
    // dataquality_check.py:92-113); execution_id keys the run
    if (engine.resultsLog.nonEmpty)
      engine.writeResults(spark, s"${args.databaseName}.${args.tableName}_dq_results",
        args.executionId)
    afterDq2
  }

  /** Cleanse → Consume (etl_cleanse_to_consume.py:69-247): run the per-dataset
    * Spark SQL (with `{placeholder}` substitution and optional
    * `CREATE TABLE <name> AS` target override), DQ, publish.
    *
    * `statsTables` (data table → its [[graft.catalog.FileStats]] stats
    * table) routes the SQL's scans through the stats-pruned read path
    * ([[graft.catalog.CatalogOps.prunePlanScans]]): a `WHERE` on an indexed
    * column then reads only the files whose per-file stats admit it —
    * row-identical, degrade-to-plain on any failure. Empty map (the
    * default) leaves the plan untouched.
    *
    * Returns a read of the published target, in the query's column order. */
  def cleanseToConsume(args: JobArgs, sql: String,
                       substitutions: Map[String, String],
                       dqRules: Map[String, Map[String, Seq[String]]],
                       viewSql: Seq[String] = Seq.empty,
                       statsTables: Map[String, String] = Map.empty): DataFrame = {
    // the reference's consume-job setting, for this stage only: the caller's
    // session conf is restored on return
    val dedup = "spark.sql.mapKeyDedupPolicy"
    val prior = spark.conf.getAll.get(dedup) // getOption would answer the default
    spark.conf.set(dedup, "LAST_WIN")
    try {
      val substituted = substitutions.foldLeft(sql) { case (s, (k, v)) =>
        s.replace(s"{$k}", v)
      }
      // CREATE TABLE <t> AS prefix overrides the target TABLE name; a bare name
      // stays inside the consume database, as in the reference (its regex only
      // captures a bare [\w]+ and swaps target_table within target_database,
      // etl_cleanse_to_consume.py:126-131). A dotted name overrides the db too
      // (extension).
      val createRe = "(?is)^\\s*CREATE\\s+TABLE\\s+([\\w.]+)\\s+AS\\s+(.*)".r
      val (target, query) = substituted match {
        case createRe(t, rest) =>
          (if (t.contains(".")) t else s"${args.databaseName}_consume.$t", rest)
        case q => (s"${args.databaseName}_consume.${args.tableName}", q)
      }
      val df = graft.catalog.CatalogOps.prunePlanScans(spark,
        spark.sql(query), statsTables)
      val engine = new DqEngine(Some(quarantineSink(args)))
      val filtered = engine.runRuleset(df,
        dqRules.getOrElse("after_sparksql", Map.empty), "after_sparksql")
      val partCols = args.partition.keys.toSeq.filter(filtered.columns.contains)
      // repartition on partition cols pre-write to avoid small files (:186)
      def spread(df: DataFrame): DataFrame =
        if (partCols.nonEmpty) df.repartition(partCols.map(col): _*) else df
      new Lineage(args.executionId, args.lineageSink).auditOnWrite(filtered, "consume")(observed =>
        write(spread(observed), spread(filtered), target, partCols, "permissive",
          overwriteAll = true))
      viewSql.foreach(v => spark.sql(v)) // Athena/Redshift passthrough → local views
      // K7: rule outcomes land beside the ACTUAL consume target (which a
      // CREATE TABLE <t> AS prefix may have overridden), keyed by execution_id
      if (engine.resultsLog.nonEmpty)
        engine.writeResults(spark, s"${target}_dq_results", args.executionId)
      // the published rows, not the lazy query: re-running it after the
      // policy is restored would fail on the duplicate map keys it built
      spark.table(target)
        .select(filtered.columns.toSeq.map(c => col(s"`${c.replace("`", "``")}`")): _*)
    } finally prior.fold(spark.conf.unset(dedup))(spark.conf.set(dedup, _))
  }

  /** Partitioned parquet table write with the evolution gate, through
    * [[TableWrite]]: an idempotent reload replaces exactly the partitions
    * present in the incoming frame — the reference's
    * clear-partition-then-append (etl_collect_to_cleanse.py:335-350)
    * without the manual delete — and `overwriteAll` (consume's
    * purge-then-publish) replaces the whole table.
    *
    * Schema changes: gate decides via [[SchemaEvolution.allowed]]; added
    * columns are applied with ALTER TABLE ADD COLUMNS; widening/reorder beyond
    * that falls back to a full-table rewrite (at real scale this is the cue to
    * use a table format with native evolution — Iceberg/Delta). */
  def writePartitioned(df: DataFrame, table: String, partitionCols: Seq[String],
                       policy: String, overwriteAll: Boolean = false): Unit =
    write(df, df, table, partitionCols, policy, overwriteAll)

  /** [[writePartitioned]] of `observed`, which is `df` with an audit
    * attached ([[Lineage.auditOnWrite]]): every branch runs `observed`
    * exactly once, and the widening rewrite takes the incoming partition
    * keys from the plain `df`, so the observation is never duplicated. */
  private def write(observed: DataFrame, df: DataFrame, table: String,
                    partitionCols: Seq[String], policy: String,
                    overwriteAll: Boolean = false): Unit = {
    if (!spark.catalog.tableExists(table))
      TableWrite.createOrReplace(observed, table, partitionCols)
    else {
      val existing = spark.table(table).schema
      if (!SchemaEvolution.allowed(existing, df.schema, policy))
        throw new RuntimeException(
          s"Schema change not allowed for table $table under policy $policy")
      val existingNames = existing.fieldNames.toSet
      val newCols = df.schema.fields.filterNot(f => existingNames.contains(f.name))
      val sameTypes = df.schema.fields.filter(f => existingNames.contains(f.name))
        .forall(f => existing(f.name).dataType == f.dataType)
      if (sameTypes) {
        if (newCols.nonEmpty) {
          val ddl = newCols.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
          spark.sql(s"ALTER TABLE $table ADD COLUMNS ($ddl)")
        }
        if (overwriteAll) TableWrite.overwritePartition(observed, table, Nil)
        else TableWrite.overwritePresent(observed, table)
      } else {
        // widening under evolve/permissive: full rewrite with the new schema.
        // Keep the overwrite semantics of the fast path: overwriteAll keeps
        // NO old rows; otherwise old rows in the incoming partitions are
        // replaced (idempotent per-partition reload), not duplicated.
        val widened = df.schema
        val old = spark.table(table)
        val oldAligned = old.select(widened.fieldNames.toIndexedSeq.map(n =>
          (if (old.columns.contains(n)) col(n).cast(widened(n).dataType)
           else lit(null).cast(widened(n).dataType)).as(n)): _*)
        val oldKept =
          if (overwriteAll) oldAligned.limit(0)
          else if (partitionCols.nonEmpty)
            oldAligned.join(df.select(partitionCols.map(col): _*).distinct(),
              partitionCols, "left_anti")
          else oldAligned.limit(0)
        // materialize to a scratch path (on the warehouse filesystem, so it
        // works on a real cluster) BEFORE the replace drops the table's files
        graft.catalog.Scratch.withScratch(spark, "evolve") { scratch =>
          TableWrite.scratch(oldKept.unionByName(observed), scratch)
          TableWrite.createOrReplace(spark.read.parquet(scratch), table, partitionCols)
        }
      }
    }
  }

  /** Driver-side small-text write (the local analog of the reference's
    * put_s3_object, which bypasses Spark for tiny config artifacts). */
  private def writeText(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, text)
  }

  /** Quarantine rows land in `<db>.<table>_quarantine_<ruleset>`
    * (dataquality_check.py:219-255). */
  private def quarantineSink(args: JobArgs)(failed: DataFrame, rulesetName: String): Unit = {
    val withPart = failed.withColumns(args.partition.map { case (k, v) => k -> lit(v) })
    val table = s"${args.databaseName}.${args.tableName}_quarantine_$rulesetName"
    // appends align leniently to the stored quarantine schema: historical
    // columns the failed frame no longer has become nulls (a quarantine
    // side-write must never kill the job over mapping drift); new columns
    // are dropped
    if (!spark.catalog.tableExists(table))
      TableWrite.createOrReplace(withPart, table, args.partition.keys.toSeq)
    else TableWrite.append(withPart, table)
  }
}
