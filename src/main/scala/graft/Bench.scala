package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    // optional arg: comma-separated query-name filter (local iteration only;
    // the driver invokes with no args → full suite)
    val wanted = args.headOption.map(_.split(",").toSeq)
    wanted.foreach { w =>
      val unknown = w.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, // a typo must not masquerade as a measurement
        s"unknown quer${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")}")
    }
    val selected = wanted.fold(SparkEntry.queries.toSeq)(w =>
      w.flatMap(k => SparkEntry.queries.get(k).map(k -> _)))
    // untimed warm-up: JIT/codegen/first-scan costs otherwise land on
    // whichever query happens to run first and distort its number (measured
    // ~3.5 s on the first non-trivial query with only a scan-agg warm-up).
    // Exercise the machinery the suite actually uses — parquet scan, hash
    // agg, broadcast + shuffle join, window, sort, localCheckpoint — on a
    // tiny generated frame so the codegen/janino/shuffle/block-manager
    // stacks are compiled before the first timed query.
    val warmDir = java.nio.file.Files.createTempDirectory("graft_warm")
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{broadcast, concat, count, lit, row_number}
      val base = spark.range(0, 100000).select(col("id"),
        (col("id") % 97).as("k"), concat(lit("s"), col("id") % 1000).as("s"))
      val agg = base.groupBy("k").agg(count(lit(1)).as("n"))
      base.join(agg, "k") // shuffle (AQE may broadcast)
        .join(broadcast(agg.select(col("k").as("k2"), col("n").as("n2"))),
          col("k") === col("k2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("id").desc)))
        .filter(col("rn") <= 3).orderBy(col("s"))
        .localCheckpoint(true).count()
      // CSV parse + schema inference + managed-table write paths: the
      // pipeline queries otherwise pay ~4 s of univocity/committer/catalog
      // first-use cost in whichever of them the suite happens to time first
      base.coalesce(2).write.mode("overwrite").option("header", "true")
        .csv(s"$warmDir/w.csv")
      spark.read.option("header", "true").option("inferSchema", true)
        .csv(s"$warmDir/w.csv").count()
      spark.read.option("header", "true").option("multiLine", true)
        .option("inferSchema", true).csv(s"$warmDir/w.csv").count()
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_warmup")
      base.limit(1000).withColumn("p", (col("id") % 2).cast("int"))
        .write.mode("overwrite").partitionBy("p").saveAsTable("graft_warmup.w")
      // one-time fixture staging (CSV feed, event stream, format files,
      // lookup store): queries re-use staged dirs, so whichever query ran
      // first was otherwise also timing a fixture write
      graft.queries.PipelineQueries.stageFixtures(spark, sfDir)
    } catch {
      // visible, never silent: a skipped warm-up means the first timed query
      // pays staging and can trip the regression gate as a false positive
      case e: Throwable => System.err.println(
        s"[bench-warmup] incomplete (${e.getClass.getSimpleName}: ${e.getMessage}); " +
          "first timed query may absorb staging cost")
    } finally {
      // leave no warm-up residue behind in the session or on disk
      try spark.sql("DROP DATABASE IF EXISTS graft_warmup CASCADE")
      catch { case _: Throwable => () }
      Harness.rmTree(warmDir)
    }
    // Run-health calibration: the same tiny fixed query timed before the
    // suite and again after it. On a healthy machine the two agree; on a
    // loaded shared sandbox the drift quantifies how much ambient load
    // moved underneath the run (the r7 driver artifact ran ~1.5-2× its pin
    // across the board and had to be adjudicated by hand) — "loaded": true
    // tells the gate and the judge to discount uniformly. MIN of three reps
    // after a GC: a single rep measures transient JVM state (post-suite
    // heap pressure, a GC pause landing mid-query — measured ~1.9× drift on
    // an otherwise-idle machine), not machine capability; the min is the
    // capability floor both probes can reach.
    def calibrate(): Double = {
      System.gc()
      (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0, 5000000L).select((col("id") % 997).as("k"))
          .groupBy("k").count()
          .agg(bit_xor(xxhash64(struct(col("k"), col("count"))))).head()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    calibrate() // untimed: compiles the calibration plan itself
    val calFirst = calibrate()
    val results = selected.map { case (name, fn) => name -> runTimed(spark, sfDir, fn) }
    // a re-time that fails counts as over the gate: the query broke, not just slowed
    val (regressionsConfirmed, failReport) = diffAgainstBaseline(
      results.collect { case (k, Right(v)) => k -> v },
      name => runTimed(spark, sfDir, SparkEntry.queries(name))
        .getOrElse(Double.PositiveInfinity))
    val calLast = calibrate()
    val summary = Summary(results, sfDir, calFirst, calLast, regressionsConfirmed, cpus)
    // Lossless per-query artifact: bench_full.json is the complete record
    // the baseline is re-pinned from (BASELINE.md §pinning). FULL-SUITE RUNS
    // ONLY: a filtered local-iteration run must not clobber the pin source
    // with a subset map. The pin source is written ONLY by default-core runs:
    // the driver's low-core scaling pass previously overwrote it and
    // destroyed the lossless default-core record of the same round (r14) —
    // every full run ALSO leaves a core-count-suffixed copy so both records
    // survive on disk whatever order the driver runs them in.
    if (wanted.isEmpty) {
      def writeArtifact(p: String): Unit =
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p), summary.fullLine + "\n")
        catch { case e: Exception =>
          System.err.println(s"[bench] $p write failed: ${e.getMessage}") }
      writeArtifact(s"bench_full_c$cpus.json")
      if (pinsBaseline(cpus)) writeArtifact("bench_full.json")
    }
    println(summary.line)
    // fail-fast exit LAST: exiting before the line is printed and
    // bench_full.json is written would discard the whole suite's timings —
    // the data needed to debug the very regression being reported
    spark.stop()
    // re-print the summary as the FINAL program line: spark.stop() (and the
    // regression report below) can emit after the first print, and the
    // driver's artifact keeps a bounded TAIL of stdout — the last line is
    // the one with the best chance of surviving the capture whole
    println(summary.line)
    if (failReport.nonEmpty) {
      failReport.foreach(r => System.err.println(s"[bench-regression] $r"))
      sys.exit(1)
    }
  }

  /** Whether a full run writes the `bench_full.json` pin source: only a run
    * on the default core count, so a scaling pass at other core counts never
    * overwrites the default-core record. */
  private[graft] def pinsBaseline(cpus: Int, default: Int = Harness.defaultCpus): Boolean =
    cpus == default

  /** Times one query: Right(seconds), or Left(the failure) when the query
    * throws — a failure is never recorded as a timing, since its partial
    * wall time measures how far the query got, not the query.
    *
    * Checksum aggregation: materializes EVERY column (count() would let
    * Catalyst prune the projections being measured — regex passes, hashes,
    * derived columns), while EliminateSorts drops the top-level orderBy
    * that exists only for the oracle's deterministic compare — a global
    * sort would execute the whole subtree twice (range-partitioner
    * sampling pass + sort pass) and we'd be timing the harness, not the
    * operator. bit_xor, NOT sum: ANSI mode throws ARITHMETIC_OVERFLOW on
    * a sum of uniform 64-bit hashes after a handful of rows, which would
    * abort (and under-time) every large-output query. Falls back to the
    * noop sink for column types xxhash64 can't digest. */
  private[graft] def runTimed(spark: SparkSession, sfDir: String,
                              fn: (SparkSession, String) => DataFrame): Either[String, Double] = {
    val t0 = System.nanoTime()
    val outcome = try {
      val out = fn(spark, sfDir)
      try out.agg(bit_xor(xxhash64(struct(out.columns.toIndexedSeq.map(col): _*)))).head()
      catch {
        // only a plan-time rejection (e.g. a type xxhash64 can't digest)
        // falls back to the noop sink; a RUNTIME failure must not silently
        // re-execute the whole query and report the doubled time
        case _: org.apache.spark.sql.AnalysisException =>
          out.write.format("noop").mode("overwrite").save()
      }
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
    }
    // untimed inter-query cleanup: drop caches and nudge the
    // ContextCleaner so one query's localCheckpoint blocks don't
    // pressure the next query's memory (position-dependent noise)
    try { spark.catalog.clearCache() } catch { case _: Throwable => () }
    System.gc()
    outcome
  }

  /** The run's outcome. `line` is the stdout summary, kept under 1.5 KB so
    * a capture that keeps only the last 2,000 chars of stdout still holds
    * it whole: totals, calibration, and the slowest queries. `fullLine` is the lossless record for `bench_full*.json`:
    * every query's seconds, and every failure with its error. Failed queries
    * count in `n` and `failed`, never in `value`. */
  private[graft] final case class Summary(
      results: Seq[(String, Either[String, Double])], sfDir: String,
      calFirst: Double, calLast: Double, regressionsConfirmed: Int, cpus: Int) {
    private val ok = results.collect { case (k, Right(v)) => k -> v }
    private val failed = results.collect { case (k, Left(e)) => k -> e }
    private def obj(kvs: Seq[(String, String)]) =
      kvs.map { case (k, v) => s"${Harness.str(k)}:$v" }.mkString("{", ",", "}")
    // a drift of either calibration against the other means ambient load
    // moved underneath the run — the gate and the reader discount uniformly
    private val loaded = calLast > 1.5 * calFirst || calFirst > 1.5 * calLast
    private def fields(queries: String, failures: String) =
      s"""{"metric":"total",$queries"value":${ok.map(_._2).sum},"unit":"sec",""" +
        s""""n":${results.size},"failed":${failed.size},$failures"sf":${Harness.str(sfDir)},""" +
        s""""calibration_first_s":$calFirst,"calibration_last_s":$calLast,"loaded":$loaded,""" +
        s""""regressions_confirmed":$regressionsConfirmed,"cpus":$cpus}"""

    def line: String = fields(
      s""""slowest":${obj(ok.sortBy(-_._2).take(10).map { case (k, v) => k -> Harness.num(v) })},""",
      s""""failed_queries":${failed.take(10).map(f => Harness.str(f._1)).mkString("[", ",", "]")},""")

    def fullLine: String = fields(
      s""""queries":${obj(ok.map { case (k, v) => k -> v.toString })},""",
      s""""failures":${obj(failed.map { case (k, e) => k -> Harness.str(e) })},""")
  }

  /** One adjudicated gate decision: queries over the first-pass gate
    * (>2× pin AND >1 s) are RE-TIMED once at end-of-suite — warm JVM, warm
    * code cache, no position effects — and only flagged if the re-time
    * ALSO exceeds the gate. Kills the cold-position false positives that
    * cleared on manual warm A/B in rounds 4-5 (q07/q20: flagged at
    * 1.35/1.81 s, warm at 0.42/0.25 s). Pure function of its inputs so the
    * spec can fabricate slow/fast re-times. */
  private[graft] def gateRegressions(
      results: Seq[(String, Double)],
      pinned: String => Option[Double],
      retime: String => Double): (Seq[String], Seq[String]) = {
    val flagged = results.flatMap { case (name, sec) =>
      pinned(name).collect { case b if b > 0 && sec > 2 * b && sec > 1.0 => (name, b, sec) }
    }
    val adjudicated = flagged.map { case (name, b, sec) =>
      val re = retime(name)
      val confirmed = re > 2 * b && re > 1.0
      val verdict = if (confirmed) "confirmed" else "cleared"
      (name, confirmed,
        f"$name: $sec%.2fs vs pinned $b%.2fs (${sec / b}%.1fx) (retimed: $re%.2fs — $verdict)")
    }
    (adjudicated.filter(_._2).map(_._1), adjudicated.map(_._3))
  }

  /** Regression gate against the pinned driver artifact (`bench_baseline.json`,
    * re-pinned each round from `bench_full.json` — BASELINE.md §pinning).
    * Queries >2× their pinned time AND >1 s absolute (smaller timings swing
    * 2-3× run to run from JIT/GC/position noise — measured), CONFIRMED by an
    * end-of-suite warm re-time ([[gateRegressions]]), are written to
    * `bench_regressions.txt` so the driver's captured stdout/stderr stays the
    * one-JSON-line contract (cleared flags are recorded too, annotated);
    * SPARK_GRAFT_FAIL_ON_REGRESSION=1 (local iteration) additionally prints
    * confirmed ones to stderr and exits non-zero. */
  /** Returns (confirmed-regression count, fail-fast report): the report is
    * non-empty only when SPARK_GRAFT_FAIL_ON_REGRESSION=1 and a regression
    * was confirmed — the CALLER exits after emitting the summary line and
    * bench_full.json, so a failing run still records its timings. */
  private def diffAgainstBaseline(results: Seq[(String, Double)],
                                  retime: String => Double): (Int, Seq[String]) = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "bench_baseline.json")
    val f = new java.io.File(path)
    if (!f.isFile) return (0, Seq.empty)
    try {
      val root = graft.config.Specs.parseJson(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      val base = root.get("queries")
      val (confirmed, report) = gateRegressions(results,
        name => Option(base.get(name)).map(_.asDouble), retime)
      java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_regressions.txt"),
        if (report.isEmpty) "none\n" else report.mkString("", "\n", "\n"))
      val fail = confirmed.nonEmpty &&
        sys.env.get("SPARK_GRAFT_FAIL_ON_REGRESSION").contains("1")
      (confirmed.size, if (fail) report else Seq.empty)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench-regression] baseline unreadable: ${e.getMessage}")
        (0, Seq.empty)
    }
  }
}
