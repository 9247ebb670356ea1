package graft.catalog

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-FILE min/max + Bloom statistics index over a Hive-layout table — the
  * file-skipping layer a production table format answers from its manifests,
  * rebuilt here from plain Spark primitives. The reference offloads this to
  * Athena/Glue partition pruning (predicates on non-partition columns always
  * scan every file); this index closes that gap for the homegrown catalog:
  * a predicate on any DECLARED column prunes to the files whose stats admit
  * a match before a single data byte is read, which is exactly what the
  * Z-order/Hilbert layout work ([[graft.operators.Layout]]) clusters min/max
  * ranges to enable.
  *
  * SHAPE:
  *   - The stats table (any name, managed) holds ONE ROW PER FILE × DECLARED
  *     COLUMN: `(rel, file, bytes, n_rows, col_name, family, min_long,
  *     max_long, min_dbl, max_dbl, min_str, max_str, bloom, bloom_k)`. Values are
  *     stored through a MONOTONE per-type ordinal encoding (integral /
  *     date / timestamp → LONG; float / double / decimal → DOUBLE; string
  *     stays STRING), and predicate bounds go through the same encoding, so
  *     pruning can never falsely exclude a file: v ∈ [lo,hi] ⇒
  *     enc(v) ∈ [enc(lo), enc(hi)] ⊆ [min,max] of v's file.
  *   - [[refresh]] is INCREMENTAL in data cost: it diffs the current file
  *     listing against the recorded files and scans ONLY uncovered files
  *     (one pass: per-file min/max/count plus an optional per-file Bloom
  *     filter over declared key columns), then rewrites the narrow stats
  *     table. At 100 TB the rewrite is O(total files) TINY rows while the
  *     scan is O(new bytes) — the term that matters.
  *   - [[pruneFiles]] evaluates predicates AGAINST THE STATS TABLE and
  *     returns the surviving files. Files with no stats rows (written since
  *     the last refresh) always survive — staleness costs performance,
  *     never correctness. Files whose stats VIOLATE any predicate (range
  *     disjoint, or Bloom says no key present — no false negatives) are
  *     skipped.
  *   - [[scanPruned]] and [[CatalogOps.readPruned]] read only the surviving
  *     files through ONE builder ([[readFiles]]: basePath-anchored so
  *     partition columns reconstruct) and re-apply the row-level predicate,
  *     so the result EQUALS `spark.table(t).filter(pred)` bit-for-bit — the
  *     oracle-checkable contract.
  *
  * Every reader and writer lists files through ONE walk, [[listDataFiles]],
  * and looks up the spec through ONE catalog read, [[statsSpecOf]]. The
  * driver-side file listing mirrors Spark's own scan planning (an
  * InMemoryFileIndex holds every file status on the driver); the per-file
  * stats rows it joins against stay distributed.
  *
  * Single writer assumed during [[refresh]] (the Hive-layout caveat shared
  * with [[Compaction.compactTable]]); readers are safe at any time because
  * unknown files admit. */
object FileStats {

  /** Which columns to index. `bloomCols` ⊆ `cols` additionally get a
    * per-file Bloom filter over the column's values rendered as strings
    * (integral/string columns only — the key-lookup shape), sized
    * `bloomBits` bits (power of two; default 2^20 = 128 KiB ≈ 10 bits/row
    * for a 100k-row file, ~1 % FPR) with `bloomHashes` probes. */
  final case class StatsSpec(cols: Seq[String], bloomCols: Seq[String] = Nil,
                             bloomBits: Int = 1 << 20, bloomHashes: Int = 5)

  sealed trait StatsPredicate { def column: String }
  /** `column BETWEEN lo AND hi` (either bound optional). */
  final case class RangePredicate(column: String, lo: Option[Any],
                                  hi: Option[Any]) extends StatsPredicate
  /** `column IN (keys)` — uses min/max range AND the per-file Bloom. */
  final case class KeysPredicate(column: String, keys: Seq[Any]) extends StatsPredicate

  final case class FileEntry(rel: String, name: String, bytes: Long)
  final case class RefreshReport(filesScanned: Int, filesRemoved: Int, filesKept: Int)
  final case class PruneReport(filesTotal: Int, filesSelected: Int, filesUnknown: Int)

  // ------------------------------------------------------------------ listing

  /** Threads of the [[listDataFiles]] walk over top-level directories. */
  private val WalkThreads = 8

  /** Data file or directory name: hidden `_`/`.` names (staging, scratch,
    * `_SUCCESS`) are never data. */
  private[catalog] def isDataName(n: String): Boolean =
    !n.startsWith("_") && !n.startsWith(".")

  private[catalog] def tableMeta(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** The one driver-side walk of a table's data files, each with its
    * partition-relative dir ("" at the root) — what a table format's
    * manifests would answer, and what [[Compaction.listManifests]] folds
    * per directory. Recursive `listStatus`, NOT `listFiles(recursive)`:
    * the located-status iterator materializes permissions, which on the
    * local FS forks an `ls -ld` PER FILE (measured 1.8 s for a 280-file
    * table — the walk was the dominant term of a no-op compaction); plain
    * statuses keep permissions lazy and only path/length are read. Hidden
    * dirs are pruned BEFORE descent, so staging/scratch trees cost nothing.
    *
    * The walk runs on [[WalkThreads]] threads over top-level directories:
    * on object stores each directory listing is a network round-trip, and
    * serializing thousands of them turns a no-op pass into minutes. The
    * threads share one cached Hadoop `FileSystem`: concurrent `listStatus`
    * is safe on the stock HDFS / S3A / local implementations but is not
    * guaranteed by the `FileSystem` contract.
    *
    * `onlyRels`: walk ONLY the given partition-relative dirs (the scoped
    * refresh of [[Retention.deleteRows]] — listing cost ∝ touched
    * partitions, not table size). A scoped rel that no longer exists lists
    * as empty (its files are gone — exactly what the caller must see). */
  def listDataFiles(spark: SparkSession, table: String,
                    onlyRels: Option[Seq[String]] = None): (Path, Seq[FileEntry]) = {
    val root = new Path(tableMeta(spark, table).location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def listed(dir: Path) = fs.listStatus(dir).toSeq.filter(st => isDataName(st.getPath.getName))
    def entry(rel: String, st: FileStatus) = FileEntry(rel, st.getPath.getName, st.getLen)
    def walk(dir: Path, rel: String): Seq[FileEntry] = listed(dir).flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory) walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
      else Seq(entry(rel, st))
    }
    val files = onlyRels match {
      case Some(rels) => rels.distinct.flatMap { r =>
        if (r.isEmpty) listed(root).filterNot(_.isDirectory).map(entry("", _))
        else try walk(new Path(root, r), r)
        catch { case _: java.io.FileNotFoundException => Nil } // emptied partition
      }
      case None =>
        val (dirs, top) = listed(root).partition(_.isDirectory)
        top.map(entry("", _)) ++ inParallel(WalkThreads)(
          dirs.map(d => () => walk(d.getPath, d.getPath.getName))).flatten
    }
    (root, files)
  }

  /** Runs `tasks` on at most `threads` threads and returns their results in
    * task order. The first failure cancels the tasks still running and is
    * rethrown as the task threw it, not wrapped by the pool. */
  private[catalog] def inParallel[A](threads: Int)(tasks: Seq[() => A]): Seq[A] =
    if (tasks.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, tasks.length)))
      try {
        val futures = tasks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
        try futures.map(_.get())
        catch {
          case e: ExecutionException =>
            pool.shutdownNow()
            throw Option(e.getCause).getOrElse(e)
        }
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
    }

  // ------------------------------------------------------------------ encoding

  /** The monotone ordinal encoding: which stats family a column lands in
    * and the Column expression producing the stored value. Monotonicity is
    * the correctness argument for decimal→double (cast-to-nearest is
    * order-preserving, and min/max commute with monotone maps), so no
    * slack is ever needed. */
  private def family(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | BooleanType => "long"
    case FloatType | DoubleType | _: DecimalType => "dbl"
    case StringType => "str"
    case other => throw new IllegalArgumentException(
      s"file stats do not support ${other.sql} columns")
  }

  private def encodeCol(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case DateType => unix_date(c).cast(LongType)
    case TimestampType => unix_micros(c)
    case BooleanType => when(c, 1L).otherwise(0L)
    case FloatType | DoubleType => c.cast(DoubleType)
    case _: DecimalType => c.cast(DoubleType)
    case StringType => c
    case other => throw new IllegalArgumentException(s"unsupported ${other.sql}")
  }

  /** Driver-side twin of [[encodeCol]] for predicate bounds. */
  private def encodeValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => throw new IllegalArgumentException("null predicate bound")
    case (n: Number, ByteType | ShortType | IntegerType | LongType) => n.longValue()
    case (d: java.sql.Date, DateType) => d.toLocalDate.toEpochDay
    case (d: java.time.LocalDate, DateType) => d.toEpochDay
    case (t: java.sql.Timestamp, TimestampType) =>
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    case (t: java.time.Instant, TimestampType) =>
      t.getEpochSecond * 1000000L + t.getNano / 1000L
    case (b: java.lang.Boolean, BooleanType) => if (b) 1L else 0L
    case (n: Number, FloatType | DoubleType | _: DecimalType) => n.doubleValue()
    case (s: String, StringType) => s
    case (other, t) => throw new IllegalArgumentException(
      s"predicate bound $other (${other.getClass.getSimpleName}) does not fit ${t.sql}")
  }

  /** Key rendered exactly as the build side's `CAST(col AS STRING)` —
    * why [[StatsSpec.bloomCols]] is restricted to integral/string. */
  private def bloomKeyString(v: Any, dt: DataType): String = (v, dt) match {
    case (n: Number, ByteType | ShortType | IntegerType | LongType) =>
      n.longValue().toString
    case (s: String, StringType) => s
    case (other, t) => throw new IllegalArgumentException(
      s"bloom key $other does not fit ${t.sql}")
  }

  private def bloomEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Scheme-independent path key: both the driver-built absolute path and
    * `_metadata.file_path` reduce to the same string. */
  private val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"
  private def normPath(p: String): String = p.replaceFirst(SchemeRe, "/")

  private def absPath(root: Path, f: FileEntry): Path =
    if (f.rel.isEmpty) new Path(root, f.name)
    else new Path(new Path(root, f.rel), f.name)

  private val statsSchema = StructType(Seq(
    StructField("rel", StringType), StructField("file", StringType),
    StructField("bytes", LongType), StructField("n_rows", LongType),
    StructField("col_name", StringType), StructField("family", StringType),
    StructField("min_long", LongType), StructField("max_long", LongType),
    StructField("min_dbl", DoubleType), StructField("max_dbl", DoubleType),
    StructField("min_str", StringType), StructField("max_str", StringType),
    StructField("bloom", BinaryType), StructField("bloom_k", LongType)))

  private def dataSchemaOf(spark: SparkSession, table: String): StructType = {
    val meta = tableMeta(spark, table)
    val partCols = meta.partitionColumnNames.toSet
    StructType(meta.schema.filterNot(f => partCols.contains(f.name)))
  }

  // ------------------------------------------------------------------ refresh

  /** Bring `statsTable` up to date with `table`'s current files: scan only
    * files not yet covered for every `spec.cols` entry (new files, or files
    * recorded under a NARROWER spec), drop rows of vanished files. Call it
    * after writes/compaction/deletes, or from a streaming gate's `maintain`
    * hook — between the table's writes, never beside one.
    *
    * Zero-row files produce no stats rows and therefore always admit at
    * prune time (they cost nothing to "read"). Changing `bloomBits`/
    * `bloomHashes` against a table carrying the spec property forces a
    * FULL RESCAN under the new geometry (mixed-geometry blooms would probe
    * wrong bit positions — a correctness hazard, never tolerated); legacy
    * tables without the property must still be dropped to resize. */
  def refresh(spark: SparkSession, table: String, statsTable: String,
              spec: StatsSpec,
              scopeRels: Option[Set[String]] = None): RefreshReport = {
    require(spec.cols.nonEmpty, "spec.cols must be non-empty")
    require(spec.bloomCols.toSet.subsetOf(spec.cols.toSet),
      "bloomCols must be a subset of cols")
    val dataSchema = dataSchemaOf(spark, table)
    val fieldsByName = dataSchema.fields.map(f => f.name -> f).toMap
    spec.cols.foreach { c =>
      require(fieldsByName.contains(c),
        s"$c is not a data column of $table (partition columns are pruned " +
          "by the catalog already and cannot carry file stats)")
      family(fieldsByName(c).dataType) // rejects unsupported types loudly
    }
    spec.bloomCols.foreach(c => require(bloomEligible(fieldsByName(c).dataType),
      s"bloom column $c must be integral or string, got ${fieldsByName(c).dataType.sql}"))

    // SCOPED refresh (the forget-path hook): the caller guarantees only
    // files under `scopeRels` changed since the last refresh (a
    // single-writer delete knows exactly which partitions it rewrote), so
    // listing, coverage, vanish detection and the bucketed rewrite all run
    // over the scope only — refresh cost ∝ touched partitions, not table
    // size. Preconditions for the scoped path: a healthy existing stats
    // table under the SAME geometry; anything else (creation, legacy
    // layout, geometry change, pending auto-rebucket — all of which need
    // the full listing) falls back to an unscoped refresh. The auto-
    // rebucket growth check is deliberately skipped in scoped mode: it is
    // deferred to the next full refresh, never lost.
    val (root, files) = listDataFiles(spark, table, scopeRels.map(_.toSeq))
    import scala.jdk.CollectionConverters._
    val curDf = spark.createDataFrame(
      files.map(f => org.apache.spark.sql.Row(f.rel, f.name, f.bytes)).asJava,
      StructType(Seq(StructField("rel", StringType), StructField("file", StringType),
        StructField("bytes", LongType)))).localCheckpoint(true)

    val exists = spark.catalog.tableExists(statsTable)
    val statsMeta = if (exists) Some(tableMeta(spark, statsTable)) else None
    val storedBuckets = statsMeta.flatMap(_.properties.get(BucketsProp))
      .flatMap(v => scala.util.Try(v.toInt).toOption)
    val legacyLayout = exists && (statsMeta.exists(
      _.partitionColumnNames != Seq("sb")) || storedBuckets.isEmpty)
    // GEOMETRY GUARD: a spec whose bloom bits/hashes differ from the
    // property the table is maintained under forces a full rescan —
    // mixed-geometry blooms would be probed at wrong bit positions, and a
    // false "absent" falsely excludes a file (correctness, not perf)
    val storedSpecProp = statsMeta.flatMap(_.properties.get(SpecProp))
      .flatMap(parseSpec)
    val geometryChanged = storedSpecProp.exists(p =>
      p.bloomHashes != spec.bloomHashes ||
        (spec.bloomCols.nonEmpty && p.bloomBits != spec.bloomBits))
    // the scoped path needs a healthy same-geometry table — anything that
    // would force a full rewrite re-runs unscoped (full listing)
    if (scopeRels.isDefined && (!exists || legacyLayout || geometryChanged))
      return refresh(spark, table, statsTable, spec, None)

    // NARROW bookkeeping read: coverage and vanish detection never touch
    // the bloom payload bytes (bloom presence is answered by bloom_k,
    // written iff the bloom is) — a steady-state refresh of a large table
    // must not pay an O(total bloom bytes) scan to conclude "nothing to do"
    val narrowSchema = StructType(Seq(StructField("rel", StringType),
      StructField("file", StringType), StructField("bytes", LongType),
      StructField("col_name", StringType), StructField("n_rows", LongType),
      StructField("has_bloom", BooleanType)))
    val oldNarrow = (
      if (exists) scopeRels
        .fold(spark.table(statsTable))(rs =>
          spark.table(statsTable).filter(col("rel").isin(rs.toSeq: _*)))
        .select(col("rel"), col("file"),
        col("bytes"), col("col_name"), col("n_rows"), col("bloom_k").isNotNull.as("has_bloom"))
      else spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), narrowSchema)
    ).localCheckpoint(true)
    // join includes BYTES so a same-name in-place rewrite (different
    // length) drops the stale rows and forces a rescan — without it the
    // old stats would keep pruning against the replaced content. (A
    // rewrite preserving name AND length is not detectable from the
    // listing; Spark's UUID part names make both vanishingly unlikely.)
    val oldKept = oldNarrow.join(curDf, Seq("rel", "file", "bytes"))

    // a file is COVERED iff every spec col has a row, with a bloom where one
    // is declared — anything else rescans (one pass re-derives everything)
    val coveredFiles = oldKept
      .filter(col("col_name").isin(spec.cols: _*) &&
        (!col("col_name").isin(spec.bloomCols: _*) || col("has_bloom") ||
          col("n_rows") === 0L))
      .select("rel", "file", "col_name").distinct()
      .groupBy("rel", "file").agg(count(lit(1)).as("__ncov"))
      .filter(col("__ncov") === spec.cols.size)
      .select("rel", "file")
    val toScan = (if (geometryChanged) curDf
      else curDf.join(coveredFiles, Seq("rel", "file"), "left_anti"))
      .select("rel", "file", "bytes").collect()
      .map(r => FileEntry(r.getString(0), r.getString(1), r.getLong(2)))

    val fresh: DataFrame =
      if (toScan.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), statsSchema)
      else {
        val paths = toScan.map(f => absPath(root, f).toString)
        val aggCols = count(lit(1)).as("__n") +: spec.cols.flatMap { c =>
          val enc = encodeCol(col(c), fieldsByName(c).dataType)
          val base = Seq(min(enc).as(s"__min_$c"), max(enc).as(s"__max_$c"))
          if (spec.bloomCols.contains(c))
            base :+ graft.functions.expressions.SketchAggregates
              .bloom_sketch(col(c).cast(StringType), spec.bloomBits, spec.bloomHashes)
              .as(s"__bloom_$c")
          else base
        }
        // the one O(new bytes) pass — checkpointed HERE so the
        // path-mapping require and every downstream select reuse the
        // materialized per-file aggregates instead of rescanning parquet
        val wide = spark.read.schema(dataSchema).parquet(paths: _*)
          .groupBy(regexp_replace(col("_metadata.file_path"), SchemeRe, "/").as("__p"))
          .agg(aggCols.head, aggCols.tail: _*)
          .localCheckpoint(true)
        val mapDf = spark.createDataFrame(
          toScan.map(f => org.apache.spark.sql.Row(
            normPath(absPath(root, f).toString), f.rel, f.name, f.bytes)).toSeq.asJava,
          StructType(Seq(StructField("__p", StringType), StructField("rel", StringType),
            StructField("file", StringType), StructField("bytes", LongType))))
        val joined = wide.join(broadcast(mapDf), Seq("__p"))
        require(joined.count() == wide.count(),
          s"stats path mapping lost files for $table — path normalization " +
            "does not round-trip on this filesystem")
        spec.cols.map { c =>
          val fam = family(fieldsByName(c).dataType)
          def pick(want: String, t: DataType, side: String): Column =
            if (fam == want) col(s"__${side}_$c").cast(t)
            else lit(null).cast(t)
          joined.select(col("rel"), col("file"), col("bytes"),
            col("__n").as("n_rows"), lit(c).as("col_name"), lit(fam).as("family"),
            pick("long", LongType, "min").as("min_long"),
            pick("long", LongType, "max").as("max_long"),
            pick("dbl", DoubleType, "min").as("min_dbl"),
            pick("dbl", DoubleType, "max").as("max_dbl"),
            pick("str", StringType, "min").as("min_str"),
            pick("str", StringType, "max").as("max_str"),
            (if (spec.bloomCols.contains(c)) col(s"__bloom_$c")
             else lit(null).cast(BinaryType)).as("bloom"),
            (if (spec.bloomCols.contains(c)) lit(spec.bloomHashes.toLong)
             else lit(null).cast(LongType)).as("bloom_k"))
        }.reduce(_ unionByName _)
      }

    // ZERO-ROW files produce no aggregate row; record explicit markers
    // (n_rows = 0, all stats null) so steady-state refresh really scans
    // nothing — and pruning correctly excludes them (no value matches an
    // empty file)
    val scannedSet = if (toScan.isEmpty) Set.empty[(String, String)]
      else fresh.select("rel", "file").distinct().collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val markers = toScan.filterNot(f => scannedSet((f.rel, f.name))).flatMap(f =>
      spec.cols.map(cn => org.apache.spark.sql.Row(
        f.rel, f.name, f.bytes, 0L, cn,
        family(fieldsByName(cn).dataType), null, null, null, null, null, null,
        null, null)))
    val markerDf = spark.createDataFrame(markers.toSeq.asJava, statsSchema)
    val rescanned = spark.createDataFrame(
      toScan.map(f => org.apache.spark.sql.Row(f.rel, f.name)).toSeq.asJava,
      StructType(Seq(StructField("rel", StringType), StructField("file", StringType))))
    val gone = oldNarrow.select("rel", "file").distinct()
      .join(curDf.select("rel", "file"), Seq("rel", "file"), "left_anti")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val removed = gone.length
    // BUCKETED incremental rewrite: the stats table is partitioned by a
    // hash bucket of the file identity, and only buckets holding CHANGED
    // files (scanned, or vanished) rewrite — with per-file Bloom payloads
    // a full-table rewrite per refresh would be the one term that grows
    // with TOTAL file count (1M files x 16-128 KiB bitsets is a real
    // table), while changed buckets track the write batch. A bucket whose
    // last rows vanished keeps dead rows until its next rewrite — they are
    // invisible (every reader joins stats to the live listing) and bounded.
    // bucket count: sized to the table at CREATION (small tables pay no
    // 64-dir overhead; big tables get O(changed)-rewrite granularity) and
    // PERSISTED as a table property — a file's bucket must be stable
    // across refreshes forever (rebucketing requires a rebuild: drop the
    // stats table)
    // AUTO-REBUCKET: a stats table created small (the streaming gates
    // auto-create on their first, tiny batch) must not keep ~1 bucket
    // forever — once the live file count outgrows the stored bucket count
    // by RebucketFactor, rebuild the whole table at the size it would get
    // if created today. The rebuild is a full O(total stats) rewrite, but
    // it fires at most once per 64× growth epoch (amortized O(1) per
    // file), after which refresh returns to O(changed buckets).
    val targetNb = math.max(1, math.min(1024, (files.length + 7) / 8))
    // grown is undecidable from a scoped (partial) listing — deferred to
    // the next full refresh in scoped mode
    val grown = scopeRels.isEmpty && exists && !legacyLayout &&
      storedBuckets.exists(b => b < 1024 && files.length > b.toLong * RebucketFactor)
    val fullRewrite = !exists || legacyLayout || grown || geometryChanged
    val nb: Int =
      if (fullRewrite) targetNb
      else storedBuckets.get // non-legacy existing table always has it
    val sbCol = pmod(
      expr("hash(concat(rel, '/', file))").cast(LongType), lit(nb.toLong))
      .cast("int")
    // changed buckets computed through the SAME Spark hash expression the
    // rows are bucketed with (a driver-side reimplementation would have to
    // track Spark's Murmur3 seed forever)
    val changedFiles = toScan.map(f => (f.rel, f.name)) ++ gone
    val changedBuckets: Set[Int] =
      if (fullRewrite || changedFiles.isEmpty) Set.empty
      else spark.createDataFrame(
        changedFiles.map { case (r, f) => org.apache.spark.sql.Row(r, f) }.toSeq.asJava,
        StructType(Seq(StructField("rel", StringType), StructField("file", StringType))))
        .select(sbCol.as("sb")).distinct().collect().map(_.getInt(0)).toSet
    // surviving old rows (FULL width, bloom payloads included) + fresh +
    // markers for a given source of old rows — the full-rewrite path feeds
    // the whole table through, the delta path only the changed buckets
    // (partition-pruned read: unchanged buckets' bloom bytes are never
    // touched; every fresh/marker row lies in a changed bucket by
    // construction, since its file is in toScan)
    def nextOf(oldFull: DataFrame): DataFrame = {
      // scoped mode: rows OUTSIDE the scope pass through UNTOUCHED — the
      // caller warrants they did not change, and the scoped curDf cannot
      // vouch for them (joining them against a scoped listing would drop
      // live rows of unchanged files that merely share a hash bucket with
      // a changed one)
      val (inScope, outScope) = scopeRels match {
        case Some(rs) => (oldFull.filter(col("rel").isin(rs.toSeq: _*)),
          oldFull.filter(!col("rel").isin(rs.toSeq: _*)))
        case None => (oldFull, oldFull.limit(0))
      }
      inScope.join(curDf, Seq("rel", "file", "bytes"))
        .join(rescanned, Seq("rel", "file"), "left_anti")
        .unionByName(outScope)
        .unionByName(fresh).unionByName(markerDf)
        .withColumn("sb", sbCol)
    }
    if (fullRewrite) {
      // full-table checkpoint only here, where the whole frame is written —
      // settled because the replace drops the table it reads
      TableWrite.createOrReplace(nextOf(
        if (exists) spark.table(statsTable).drop("sb")
        else spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), statsSchema))
        .localCheckpoint(true), statsTable, Seq("sb"))
      spark.sql(s"ALTER TABLE $statsTable SET TBLPROPERTIES ('$BucketsProp' = '$nb')")
    } else if (changedBuckets.nonEmpty) {
      // materialize ONLY the changed buckets (the whole point of the
      // bucketed layout — a full-frame checkpoint would pay O(total stats
      // bytes) per refresh); lineage is already settled, every input is a
      // checkpointed or driver-local frame
      TableWrite.overwritePresent(nextOf(spark.table(statsTable)
          .filter(col("sb").isin(changedBuckets.toSeq: _*)).drop("sb"))
        .localCheckpoint(true), statsTable)
    }
    // record the maintenance spec as metadata: spec discovery is a catalog
    // read ([[statsSpecOf]])
    spark.sql(s"ALTER TABLE $statsTable SET TBLPROPERTIES " +
      s"('$SpecProp' = ${TableWrite.literal(renderSpec(spec))})")
    RefreshReport(toScan.length, removed, files.length - toScan.length)
  }

  /** Table property recording the stats table's bucket count (set at
    * creation, then immutable until an auto-rebucket rebuild — a file's
    * rows must land in the same partition across incremental refreshes). */
  private val BucketsProp = "graft.stats.buckets"

  /** Table property recording the spec the stats table is maintained under
    * (`bits|k|cols,csv|bloomCols,csv`) — what [[statsSpecOf]] answers from,
    * so spec discovery is a metadata read instead of an O(stats-table)
    * aggregation over the bloom payloads. Set at the end of every
    * [[refresh]]. A column name carries the delimiters, and the escape
    * character `%`, percent-encoded. */
  private val SpecProp = "graft.stats.spec"

  private val NameEscapes = Seq("%" -> "%25", "," -> "%2C", "|" -> "%7C")

  private def encodeName(c: String): String =
    NameEscapes.foldLeft(c) { case (acc, (raw, esc)) => acc.replace(raw, esc) }

  private def decodeName(c: String): String =
    "%(25|2C|7C)".r.replaceAllIn(c, m => scala.util.matching.Regex.quoteReplacement(
      NameEscapes.collectFirst { case (raw, esc) if esc == m.matched => raw }.get))

  private def renderSpec(spec: StatsSpec): String =
    (Seq(spec.bloomBits.toString, spec.bloomHashes.toString) ++
      Seq(spec.cols, spec.bloomCols).map(_.sorted.map(encodeName).mkString(","))).mkString("|")

  private def parseSpec(s: String): Option[StatsSpec] = {
    val parts = s.split("\\|", -1)
    if (parts.length != 4) None
    else scala.util.Try {
      def names(p: String) = p.split(",", -1).toSeq.filter(_.nonEmpty).map(decodeName)
      StatsSpec(names(parts(2)), names(parts(3)), parts(0).toInt, parts(1).toInt)
    }.toOption
  }

  /** Live-files / stored-buckets ratio past which [[refresh]] rebuilds the
    * stats table at today's target bucket count (creation targets ~8
    * files/bucket; 64× past that the O(changed)-rewrite granularity is
    * gone and one amortized rebuild buys it back). */
  private val RebucketFactor = 64L

  // ------------------------------------------------------------------ pruning

  private def admitExpr(p: StatsPredicate, dt: DataType,
                        bloomHashes: Int): Column = {
    val fam = family(dt)
    val (minC, maxC) = fam match {
      case "long" => (col("min_long"), col("max_long"))
      case "dbl" => (col("min_dbl"), col("max_dbl"))
      case _ => (col("min_str"), col("max_str"))
    }
    def litOf(v: Any): Column = lit(encodeValue(v, dt))
    p match {
      case RangePredicate(_, None, None) =>
        // no constraint: even an all-NULL file admits (the residual is
        // `true` and keeps every row, so excluding here would break the
        // scanPruned == plain-filter contract)
        lit(true)
      case RangePredicate(_, lo, hi) =>
        val loOk = lo.map(v => maxC >= litOf(v)).getOrElse(lit(true))
        val hiOk = hi.map(v => minC <= litOf(v)).getOrElse(lit(true))
        maxC.isNotNull && loOk && hiOk
      case KeysPredicate(_, keys) =>
        if (keys.isEmpty) lit(false)
        else {
          val encs = keys.map(encodeValue(_, dt))
          val (loK, hiK) = fam match {
            case "str" =>
              // min/max under Spark's UTF8String (byte) ordering — Java's
              // UTF-16 ordering sorts supplementary-plane chars below
              // U+E000..U+FFFF, which could falsely exclude a file
              val ss = encs.map(_.asInstanceOf[String])
              implicit val utf8Ord: Ordering[String] = Ordering.comparatorToOrdering(
                (a: String, b: String) =>
                  org.apache.spark.unsafe.types.UTF8String.fromString(a)
                    .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)))
              (lit(ss.min(utf8Ord)), lit(ss.max(utf8Ord)))
            case "dbl" =>
              val ds = encs.map(_.asInstanceOf[Double])
              (lit(ds.min), lit(ds.max))
            case _ =>
              val ls = encs.map(_.asInstanceOf[Long])
              (lit(ls.min), lit(ls.max))
          }
          val range = maxC.isNotNull && maxC >= loK && minC <= hiK
          val bloomOk =
            if (!bloomEligible(dt)) lit(true)
            else coalesce(graft.functions.expressions.HashExpressions
              .bloom_contains_any(col("bloom"),
                keys.map(bloomKeyString(_, dt)), bloomHashes), lit(true))
          range && bloomOk
        }
    }
  }

  /** Files of `table` that MIGHT satisfy every predicate, per the stats.
    * Unknown files (no stats rows) survive; a file is excluded only when a
    * recorded stats row rules it out. The Bloom probe's hash count is the
    * spec's ([[statsSpecOf]]) — a probe with the wrong k would read unset
    * bit positions and could falsely report "absent". */
  def pruneFiles(spark: SparkSession, table: String, statsTable: String,
                 preds: Seq[StatsPredicate]): (Path, Seq[FileEntry], PruneReport) =
    prune(spark, table, statsTable, statsSpecOf(spark, statsTable), preds)

  /** [[pruneFiles]] under a spec the caller already looked up; no spec (no
    * stats table) selects every file. */
  private[catalog] def prune(spark: SparkSession, table: String, statsTable: String,
                             spec: Option[StatsSpec],
                             preds: Seq[StatsPredicate]): (Path, Seq[FileEntry], PruneReport) = {
    val fieldsByName = dataSchemaOf(spark, table).fields.map(f => f.name -> f).toMap
    preds.foreach(p => require(fieldsByName.contains(p.column),
      s"${p.column} is not a data column of $table"))
    val (root, files) = listDataFiles(spark, table)
    if (preds.isEmpty || spec.isEmpty)
      return (root, files, PruneReport(files.length, files.length, files.length))
    val kHashes = spec.get.bloomHashes
    // ALL predicates on a column must admit its stats row (a when-chain
    // would silently drop every predicate after the first per column —
    // e.g. readPruned's range + key pair on one column); rows of
    // non-predicate columns never exclude
    val admit = preds.groupBy(_.column).toSeq.sortBy(_._1)
      .foldLeft(lit(true)) { case (acc, (c, ps)) =>
        acc && (!(col("col_name") === c) ||
          ps.map(p => admitExpr(p, fieldsByName(c).dataType, kHashes))
            .reduce(_ && _))
      }
    // ONE job over the stats table: per-file verdict (a file is excluded
    // iff ANY of its stats rows DEFINITIVELY violates a predicate — a null
    // admit never excludes, matching the old `filter(!admit)` semantics).
    // The identity triple includes BYTES so stats of a same-name in-place
    // rewrite no longer match the listing and the file downgrades to
    // UNKNOWN (admits) rather than pruning on the replaced content's
    // stats; the triple match happens driver-side against the listing the
    // caller already holds (the old path collected the same O(files) rows).
    val verdicts = spark.table(statsTable)
      .groupBy(col("rel"), col("file"), col("bytes"))
      .agg(max(when(coalesce(admit, lit(true)), lit(0)).otherwise(lit(1)))
        .as("__excl"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> (r.getInt(3) == 1))
      .toMap
    val selected = files.filter(f =>
      !verdicts.getOrElse((f.rel, f.name, f.bytes), false))
    val unknown = files.count(f => !verdicts.contains((f.rel, f.name, f.bytes)))
    (root, selected, PruneReport(files.length, selected.length, unknown))
  }

  /** The bounded key-probe read both stats-pruned consumers share
    * ([[Retention.deleteRows]] discovery, the dedup gate's stored-side
    * read): collect up to `maxKeys` distinct keys and return
    * [[CatalogOps.readPruned]] of `table` filtered to them — which prunes
    * through [[KeysPredicate]] and falls back to the plain filtered read on
    * any stats failure. None ⇒ caller must fall back to the plain table
    * read: key set over the bound (checked on the RAW collected rows,
    * BEFORE null filtering, so a null can never mask a truncated key set)
    * or missing index. NULL keys are dropped after the bound check: they
    * never equi-match, so their stored rows are irrelevant; an all-null
    * key set returns an EMPTY frame for the same reason. */
  def keysPrunedScan(spark: SparkSession, table: String, statsTable: String,
                     keyCol: String, keys: DataFrame,
                     maxKeys: Int): Option[DataFrame] = {
    if (!spark.catalog.tableExists(statsTable)) return None
    val raw = keys.select(col(keyCol)).distinct().limit(maxKeys + 1).collect()
    if (raw.length > maxKeys) None
    else {
      val values = raw.map(_.get(0)).toSeq.filterNot(_ == null)
      Some(if (values.isEmpty) spark.table(table).limit(0)
        else CatalogOps.readPruned(spark, table, statsTable, col(keyCol).isin(values: _*)))
    }
  }

  /** The column spec an existing stats table is maintained under — what
    * every pruned read and the write-path maintenance hooks
    * ([[Retention.deleteRows]]'s auto-refresh, [[Compaction.compactTable]]'s
    * `statsTable`) use, so no caller-side spec plumbing is needed and
    * geometries never mix. A catalog read of the property [[refresh]]
    * records; only a stats table whose refresh crashed before recording it
    * pays an aggregation (columns recorded, which carry blooms, bitset size
    * from any stored bitset, hash count from `bloom_k`, which must hold one
    * value). None when no stats table exists, or an unrecorded one is empty. */
  def statsSpecOf(spark: SparkSession, statsTable: String): Option[StatsSpec] = {
    if (!spark.catalog.tableExists(statsTable)) return None
    tableMeta(spark, statsTable).properties.get(SpecProp).flatMap(parseSpec).orElse {
      val rows = spark.table(statsTable)
        .groupBy(col("col_name"))
        .agg(max(when(col("bloom").isNotNull, octet_length(col("bloom"))))
          .as("bloom_bytes"),
          min(col("bloom_k")), max(col("bloom_k")))
        .collect()
      val ks = rows.flatMap(r => Seq(2, 3).filterNot(r.isNullAt).map(r.getLong)).distinct
      require(ks.length <= 1,
        s"$statsTable mixes bloom hash counts (${ks.sorted.mkString(", ")}) — " +
          "rebuild it under one spec")
      val blooms = rows.filter(!_.isNullAt(1))
      val bits = blooms.map(_.getInt(1) * 8)
      if (rows.isEmpty) None
      else Some(StatsSpec(rows.map(_.getString(0)).toSeq.sorted,
        blooms.map(_.getString(0)).toSeq.sorted,
        if (bits.isEmpty) 1 << 20 else bits.max, ks.headOption.fold(5)(_.toInt)))
    }
  }

  /** Row-level residual of a stats predicate — what [[scanPruned]] applies
    * after the file cut so the result equals the unpruned filter exactly. */
  private def residual(p: StatsPredicate): Column = p match {
    case RangePredicate(c, lo, hi) =>
      val loOk = lo.map(v => col(c) >= lit(v)).getOrElse(lit(true))
      val hiOk = hi.map(v => col(c) <= lit(v)).getOrElse(lit(true))
      loOk && hiOk
    case KeysPredicate(c, keys) =>
      if (keys.isEmpty) lit(false) else col(c).isin(keys: _*)
  }

  /** `spark.table(table).filter(preds)` that reads ONLY the files the stats
    * admit. */
  def scanPruned(spark: SparkSession, table: String, statsTable: String,
                 preds: Seq[StatsPredicate]): DataFrame = {
    val (root, selected, _) = pruneFiles(spark, table, statsTable, preds)
    readFiles(spark, table, root, selected,
      preds.map(residual).reduceOption(_ && _).getOrElse(lit(true)))
  }

  /** The one pruned-scan builder ([[scanPruned]], [[CatalogOps.readPruned]]):
    * `table`'s `selected` files filtered by `rowFilter`, in the table's
    * column order; no file selected gives an empty frame. Read under the
    * CATALOG schema, not inference: data columns read under the table's
    * declared types, and partition values (reconstructed via basePath)
    * parse as strings cast to the declared partition type (Spark skips
    * type inference when the user schema names the column) — so a
    * date-shaped STRING partition can't drift to DATE and break the
    * bit-for-bit contract (or feed a wrongly typed partition spec to
    * Retention.deleteRows' rewrite). */
  private[catalog] def readFiles(spark: SparkSession, table: String, root: Path,
                                 selected: Seq[FileEntry], rowFilter: Column): DataFrame = {
    val tableSchema = spark.table(table).schema
    val cols = tableSchema.fields.map(f => col(f.name)).toSeq
    if (selected.isEmpty) spark.table(table).filter(lit(false)).select(cols: _*)
    else spark.read.schema(tableSchema).option("basePath", root.toString)
      .parquet(selected.map(f => absPath(root, f).toString): _*)
      .filter(rowFilter)
      .select(cols: _*)
  }
}
