package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.BusBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The measurement spine shared by the mains (`Bench`, `Verify`,
  * `Plans`, `ScaleCheck`): one temp-warehouse session builder, one listener
  * counting what a timed row did, [[Harness.Timer]], which turns each
  * timed row into one JSON line, and [[Harness.executedPlans]], which
  * records the physical plans a body of work ran. */
object Harness {

  /** Default local core count: `min(32, nproc)`. */
  def defaultCpus: Int = math.min(32, Runtime.getRuntime.availableProcessors())

  /** Cores for this run: `SPARK_GRAFT_CPUS` if set, else [[defaultCpus]]. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(defaultCpus)

  /** A `local[cores]` session with one shuffle partition per core, UTC, no
    * UI, and a fresh warehouse per JVM: the in-memory catalog starts empty
    * each run, so a persistent ./spark-warehouse would collide on the
    * managed-table locations an earlier run left behind. */
  def session(cores: Int = cpus, logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Best-effort recursive delete. `Files.walk` holds directory handles
    * until CLOSED, so the stream is closed even when a delete fails. */
  def rmTree(p: java.nio.file.Path): Unit =
    try {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    } catch { case _: Throwable => () }

  /** One finished Spark job: wall seconds between its listener start and
    * end events, and its call site. */
  final case class Job(id: Int, seconds: Double, site: String)

  /** Counter values at one instant; `finished` indexes the finished-job log. */
  final case class Snapshot(jobs: Long, shuffleWriteBytes: Long, spillBytes: Long,
                            inputBytes: Long, finished: Int)

  /** Running totals over every job and stage the session completes. Read
    * them only after [[BusBridge.drain]]: the listener bus is asynchronous. */
  final class Counters extends SparkListener {
    private val jobs = new AtomicLong
    private val shuffleWrite = new AtomicLong
    private val spill = new AtomicLong
    private val input = new AtomicLong
    private val running = new ConcurrentHashMap[Int, (Long, String)]()
    private val finished = ArrayBuffer.empty[Job]
    // running SQL execution -> the call site of its root execution: AQE
    // runs query stages from a helper thread, whose own call site has no
    // graft frame
    private val execSites = new ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId,
        s.rootExecutionId.flatMap(r => Option(execSites.get(r.asInstanceOf[Long])))
          .getOrElse(Option(s.description).getOrElse("")))
      case s: SparkListenerSQLExecutionEnd => execSites.remove(s.executionId)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      def prop(k: String) = Option(e.properties).flatMap(x => Option(x.getProperty(k)))
      // the root execution's call site, else an explicit call site or job
      // description if one was set, else the short call site Spark gives
      // the job's final stage
      val site = prop("spark.sql.execution.id").flatMap(_.toLongOption)
        .flatMap(id => Option(execSites.get(id))).filter(_.nonEmpty)
        .orElse(prop("callSite.short"))
        .orElse(prop("spark.job.description"))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
        .getOrElse("")
      running.put(e.jobId, (e.time, site))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(running.remove(e.jobId)).foreach { case (t0, site) =>
        finished.synchronized(finished += Job(e.jobId, (e.time - t0) / 1e3, site))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(e.stageInfo.taskMetrics).foreach { m =>
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
      }

    def snapshot: Snapshot = Snapshot(jobs.get, shuffleWrite.get, spill.get, input.get,
      finished.synchronized(finished.size))

    def jobsBetween(a: Snapshot, b: Snapshot): Seq[Job] =
      finished.synchronized(finished.slice(a.finished, b.finished).toSeq)
  }

  /** Every plan `body` executed on `spark` through a Dataset action, as
    * (action name, query execution) in completion order. Eager
    * `localCheckpoint`s are actions too, so the plans an operator hides
    * behind a materialization barrier are recorded as they ran. A public
    * `QueryExecutionListener` does the recording; the listener bus
    * delivers asynchronously, so it is drained before the result is read. */
  def executedPlans(spark: SparkSession)(body: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(action -> qe); ()
      }
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; BusBridge.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toList
  }

  /** JSON string literal. */
  def str(s: String): String = "\"" + config.Specs.jsonEscape(s) + "\""

  /** JSON number with millisecond precision, locale-independent. */
  def num(x: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, x)

  /** Jobs at least this long are listed, with call sites, in a row's record. */
  val SlowJobSeconds = 0.05

  /** One timed row: what it returned, how long it took, and what Spark did. */
  final case class Record(section: String, row: String, n: Int, rows: Long, wallS: Double,
                          jobs: Long, shuffleWriteBytes: Long, spillBytes: Long,
                          inputBytes: Long, slowJobs: Seq[Job]) {
    def json: String = {
      val slow = slowJobs.map(j => s"""{"job":${j.id},"s":${num(j.seconds)},"site":${str(j.site)}}""")
        .mkString("[", ",", "]")
      s"""{"section":${str(section)},"row":${str(row)},"n":$n,"rows":$rows,"wall_s":${num(wallS)},""" +
        s""""jobs":$jobs,"shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
        s""""input_bytes":$inputBytes,"slow_jobs":$slow}"""
    }
  }

  /** Times rows on one session. Each row first drops cached data and runs a
    * GC, untimed, so an earlier row's localCheckpoint blocks don't pressure
    * this row's memory (measured: the winnow 10× row ran 54.7 s isolated vs
    * 557 s late in the sequence, identical code and result rows). The
    * listener bus is drained before and after the row, so the counters are
    * exact. `close()` detaches the listener. */
  final class Timer(spark: SparkSession, n: Int, emit: String => Unit = println(_)) {
    private val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    /** Section name stamped on the records that follow. */
    var section = ""

    /** Times `body`, which returns (value, row count), and emits its record. */
    def apply[A](row: String)(body: => (A, Long)): A = {
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      System.gc()
      BusBridge.drain(spark.sparkContext)
      val before = counters.snapshot
      val t0 = System.nanoTime()
      val (a, rows) = body
      val wall = (System.nanoTime() - t0) / 1e9
      BusBridge.drain(spark.sparkContext)
      val after = counters.snapshot
      emit(Record(section, row, n, rows, wall, after.jobs - before.jobs,
        after.shuffleWriteBytes - before.shuffleWriteBytes,
        after.spillBytes - before.spillBytes, after.inputBytes - before.inputBytes,
        counters.jobsBetween(before, after).filter(_.seconds >= SlowJobSeconds)).json)
      a
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(counters)
  }
}
