package perfbench

import graft.GraftExtensions
import graft.config.Specs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

import scala.collection.mutable

/** JVM side of the benchmark: set-up, then the timed pass — traced in
  * trace mode. Writes one JSON document with every metric and every
  * operation, span and check record; `run.py` prints the summary.
  *
  * {{{
  * perfbench.Main --workload W --inputs DIR --work DIR --out FILE
  *                --trace 0|1 --gen-s S --launch-ms EPOCH_MS
  * }}}
  */
object Main {
  val Cores = 4

  private def session(warehouse: String, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }

  private def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 2000000L).select((col("id") % 997).as("k"))
        .groupBy("k").count()
        .agg(bit_xor(xxhash64(struct(col("k"), col("count"))))).head()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (0 until 3).map(_ => once()).min
  }

  def main(argv: Array[String]): Unit = {
    val mainNs = System.currentTimeMillis()
    def phase(p: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - mainNs) / 1000.0}%.1f s: $p")
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val traced = a("trace") == "1"
    val jvmStartS = (mainNs - a("launch-ms").toLong) / 1000.0
    val warehouse = s"$work/warehouse"
    val localDir = s"$work/spark-local"
    val exp = Specs.readJsonFile(s"$inputs/expected.json")

    def workloadFor(spark: SparkSession): Workload = workloadName match {
      case "daily_load" => new DailyLoad(spark, inputs, exp)
      case "dedup_gate" => new DedupGate(spark, work, exp)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: the session starts three times (stop, start again; the
    // median counts), then the workload's untimed warm-up steps run once —
    // repeating them would double a run's set-up cost.
    val sessionRuns = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to 3).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(warehouse, localDir)
      spark.range(1).count()
      sessionRuns += (System.nanoTime() - t0) / 1e9
    }
    val wl = workloadFor(spark)
    val tWarm = System.nanoTime()
    wl.warmup("t0")
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    phase("set up")
    val calBefore = if (traced) calibrate(spark) else 0.0
    val scratch = java.nio.file.Paths.get(warehouse, "_graft_scratch")
    val scratch0 = Stats.dirBytes(scratch)
    val rec = new Recorder(spark, traced)
    val tracer = new Tracer
    if (traced) spark.sparkContext.addSparkListener(tracer)
    rec.sampleHeap()
    wl.run("t0", rec)
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
    }
    val wall = wl.wallSeconds(rec)
    val stored = wl.databases("t0").map(db =>
      Stats.dirBytes(java.nio.file.Paths.get(warehouse, s"$db.db"))).sum +
      (Stats.dirBytes(scratch) - scratch0)
    phase("timed pass")
    rec.aux(wl.finalChecks("t0", rec))
    phase("final checks")

    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val setupS = a("gen-s").toDouble + jvmStartS + Stats.median(sessionRuns.toSeq) + warmupS
    e2e("setup_s") = (setupS, "s")
    e2e("wall_s") = (wall, "s")
    e2e("rows_per_s") = (if (wall > 0) wl.rowsDone(rec) / wall else 0.0, "rows/s")
    e2e("op_p50_s") = (Stats.median(wl.opSamples(rec)), "s")
    e2e("stored_bytes_per_input_byte") = (stored.toDouble / wl.inputBytes, "ratio")
    e2e("heap_peak_mb") = (rec.heapPeakMb, "MB")
    val attempted = rec.ops.size
    val failed = rec.ops.count(!_.ok)
    def kindP50(k: String): Double =
      Stats.median(rec.ops.filter(o => o.ok && o.kind == k).map(_.seconds).toSeq)

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      layer ++= tracer.layerMetrics(Cores)
      val jobs = tracer.jobIntervals.map { case (s, e) => (s * 1000000L, e * 1000000L) }
      // listener times are epoch ms, span times are nanoTime: align them
      val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
      def driverS(sp: SpanRecord): Double = {
        val (s, e) = (sp.startNs + offset, sp.endNs + offset)
        val inside = jobs.map { case (js, je) => (math.max(js, s), math.min(je, e)) }
        (e - s - Stats.unionLength(inside)) / 1e9
      }
      def spanP50(name: String): Double =
        Stats.median(rec.spans.filter(_.name == name).map(sp => (sp.endNs - sp.startNs) / 1e9).toSeq)
      def spanDriver(name: String): Double =
        Stats.median(rec.spans.filter(_.name == name).map(driverS).toSeq)
      Seq("pipeline.collect_to_cleanse", "pipeline.cleanse_to_consume",
        "operators.entity_match").foreach { n =>
        layer(s"$n.p50_s") = spanP50(n)
        layer(s"$n.driver_s") = spanDriver(n)
      }
      layer("catalog.refresh.p50_s") = spanP50("catalog.refresh")
      layer("catalog.delete.p50_s") = spanP50("catalog.delete")
      layer("read_p50_s") = kindP50("read")
      layer("forget_p50_s") = kindP50("forget")
      // workload-specific figures; 0 where the workload has none
      Seq("streaming.add_batch_s", "streaming.overhead_s", "catalog.refresh.files_scanned",
        "catalog.prune.files_selected_ratio", "catalog.read.files_read_ratio",
        "catalog.delete.partitions_rewritten_ratio").foreach(layer(_) = 0.0)
      layer ++= wl.layerExtras("t0", rec, tracer)
      layer ++= Seq("sources", "mapping", "transforms", "dq", "lineage", "pipeline")
        .map(l => s"$l.leg_s" -> 0.0)
      layer ++= wl.legs("t0", rec)
      // a separate untraced pass would double a traced run; the cost of
      // tracing is the listener's own callback time
      layer("trace.overhead_ratio") = if (wall > 0) tracer.handlerSeconds / wall else 0.0
      layer("jvm.gc_s") = rec.gcSeconds
      layer("host.calibration_s") = calBefore
      layer("host.calibration_after_s") = calibrate(spark)
      layer("failed_ops_ratio") = if (attempted > 0) failed.toDouble / attempted else 1.0
    }

    val correct = rec.checks.nonEmpty && rec.checks.forall(_._2) && failed == 0 &&
      attempted > 0
    val out = new StringBuilder
    def q(s: String) = "\"" + Specs.jsonEscape(s) + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    def obj(m: Iterable[(String, String)]) = m.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    def opsJson(r: Recorder) = r.ops.map(o => obj(Seq("kind" -> q(o.kind), "label" -> q(o.label),
      "seconds" -> num(o.seconds), "ok" -> o.ok.toString, "rows" -> o.rows.toString,
      "error" -> o.error.map(q).getOrElse("null")))).mkString("[", ",", "]")
    def spansJson(r: Recorder) = r.spans.map(s => obj(Seq("id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> q(s.name),
      "seconds" -> num((s.endNs - s.startNs) / 1e9)))).mkString("[", ",", "]")
    out ++= obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "e2e" -> obj(e2e.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> q(u))) }),
      "layer" -> obj(layer.map { case (k, v) => k -> num(v) }),
      "setup" -> obj(Seq("gen_s" -> a("gen-s"), "jvm_start_s" -> num(jvmStartS),
        "session_start_s" -> sessionRuns.map(num).mkString("[", ",", "]"),
        "warmup_s" -> num(warmupS))),
      "checks" -> rec.checks.map { case (n, ok, d) =>
        obj(Seq("name" -> q(n), "ok" -> ok.toString, "detail" -> q(d))) }.mkString("[", ",", "]"),
      "ops" -> opsJson(rec),
      "spans" -> spansJson(rec)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out.toString)
    spark.stop()
    phase("stopped")
  }
}
