package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One timed operation of a workload's closed loop. A failed operation
  * (thrown, or a correctness check said no) is kept as a record but never
  * as a timing sample. */
final case class OpRecord(kind: String, label: String, startNs: Long, endNs: Long,
                          ok: Boolean, rows: Long, error: Option[String]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A named interval around one public call into graft. `parent` is the
  * enclosing span's id (-1 at the top). */
final case class SpanRecord(id: Int, parent: Int, name: String, startNs: Long,
                            endNs: Long)

/** Records operations, spans, checks and heap samples for one timed pass.
  *
  * With `traced` set, each span tags its Spark jobs through the job group
  * (`pb:<span id>`) and description, so the trace can tie jobs to spans;
  * jobs run by the harness itself (checks, probes) carry the `pb-aux`
  * group and are left out of the per-layer figures. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  val ops = ArrayBuffer.empty[OpRecord]
  val spans = ArrayBuffer.empty[SpanRecord]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  private var heapPeak = 0L
  private var explicitGcMs = 0L
  private var nextSpan = 0
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private val sc = spark.sparkContext

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
  private val gcAtStart = gcMillis

  /** Heap in use right after a full GC, once it has settled: each GC lets
    * Spark's ContextCleaner drop blocks whose owners just died, so collect
    * until the figure stops falling (at most ten rounds). */
  def sampleHeap(): Unit = {
    // queued listener events hold plans and metrics: let them land first
    org.apache.spark.PerfbenchBus.drain(sc)
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val g0 = gcMillis
    var last = Long.MaxValue
    var used = Long.MaxValue
    var rounds = 0
    do {
      last = used
      System.gc()
      Thread.sleep(50)
      used = mem.getHeapMemoryUsage.getUsed
      rounds += 1
    } while (rounds < 10 && used < last - last / 100)
    explicitGcMs += gcMillis - g0
    heapPeak = math.max(heapPeak, math.min(used, last))
  }
  def heapPeakMb: Double = heapPeak / 1048576.0
  /** GC time spent by the program, not by the harness's own explicit GCs. */
  def gcSeconds: Double = (gcMillis - gcAtStart - explicitGcMs) / 1000.0

  private def withGroup[T](group: String, desc: String)(body: => T): T = {
    if (!traced) return body
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, desc)
    try body
    finally {
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  /** Harness-side Spark work (checks, probes): excluded from the trace. */
  def aux[T](body: => T): T = withGroup("pb-aux", "perfbench check")(body)

  def span[T](name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try withGroup(s"pb:$id", name)(body)
    finally {
      stack.pop()
      spans += SpanRecord(id, parent, name, t0, System.nanoTime())
    }
  }

  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
    ok
  }

  /** Run one operation: time `body`, then (untimed) run `verify` on its
    * result. A throw or a false check marks the operation failed. */
  def op[T](kind: String, label: String, rows: Long)(body: => T)
           (verify: T => Boolean): Unit = {
    val t0 = System.nanoTime()
    val res = scala.util.Try(body)
    val t1 = System.nanoTime()
    val (ok, err) = res match {
      case scala.util.Success(v) =>
        val passed = scala.util.Try(aux(verify(v)))
        passed match {
          case scala.util.Success(true) => (true, None)
          case scala.util.Success(false) => (false, Some("correctness check failed"))
          case scala.util.Failure(e) => (false, Some("check threw: " + e))
        }
      case scala.util.Failure(e) =>
        System.err.println(s"[perfbench] $kind $label threw:")
        e.printStackTrace()
        (false, Some(e.toString))
    }
    ops += OpRecord(kind, label, t0, t1, ok, rows, err)
    sampleHeap()
  }

  /** Record an operation timed elsewhere (a streaming micro-batch). */
  def external(rec: OpRecord): Unit = ops += rec
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def dirBytes(path: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(path)) 0L
    else {
      val s = java.nio.file.Files.walk(path)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
          .filterNot { p =>
            val n = p.getFileName.toString
            n.startsWith(".") && n.endsWith(".crc")
          }
          .map(p => java.nio.file.Files.size(p)).sum
      } finally s.close()
    }
}
