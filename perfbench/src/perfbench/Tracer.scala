package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Attributes every Spark job and stage of the traced pass to one graft
  * module: the innermost `graft.<module>.` frame of a call site.
  *
  * The call site searched first is that of the job's SQL execution — for a
  * nested execution, its ROOT execution's — because AQE and broadcast
  * helper threads submit stages whose own call site has no graft frame.
  * When that site has none, the execution's own site is searched, and a
  * job outside any SQL execution (CSV schema inference) falls back to its
  * stage's own call site. Frames of modules that only build plans
  * (`mapping`, `transforms`, `stores`, `functions`, ...) are skipped, so
  * such a job lands on the nearest enclosing module that runs it.
  *
  * On a streaming query's thread Spark reports the call site of the
  * query's `start()` for every job, so all work of a streaming gate
  * attributes to `streaming`. */
final class Tracer extends SparkListener {
  import Tracer._

  final class Job(val id: Int, val start: Long, val group: String,
                  val exec: Option[Long], val stageDetails: String) {
    @volatile var end: Long = -1L
  }
  final class Stage(val id: Int, val attempt: Int, val group: String,
                    val exec: Option[Long], val details: String) {
    @volatile var taskMs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var inputBytes = 0L
    @volatile var outputBytes = 0L
  }

  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val handlerNs = new java.util.concurrent.atomic.AtomicLong()
  /** Seconds the listener spent in its own callbacks: the trace's cost. */
  def handlerSeconds: Double = handlerNs.get / 1e9
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    handlerNs.addAndGet(System.nanoTime() - t0)
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[(Int, Int), Stage]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onOtherEvent(event: SparkListenerEvent): Unit = timed(event match {
    case e: SparkListenerSQLExecutionStart =>
      execs.put(e.executionId,
        Exec(e.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(e.executionId),
          Option(e.details).getOrElse("")))
    case _ =>
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val last = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs.put(e.jobId, new Job(e.jobId, e.time,
      prop(e.properties, "spark.jobGroup.id").getOrElse(""),
      prop(e.properties, "spark.sql.execution.id").flatMap(_.toLongOption),
      Option(last).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    timed(Option(jobs.get(e.jobId)).foreach(_.end = e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val si = e.stageInfo
    stages.put((si.stageId, si.attemptNumber()), new Stage(si.stageId, si.attemptNumber(),
      prop(e.properties, "spark.jobGroup.id").getOrElse(""),
      prop(e.properties, "spark.sql.execution.id").flatMap(_.toLongOption),
      Option(si.details).getOrElse("")))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    Option(stages.get((si.stageId, si.attemptNumber()))).foreach { s =>
      Option(si.taskMetrics).foreach { m =>
        s.taskMs = m.executorRunTime
        s.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
        s.spillBytes = m.diskBytesSpilled
        s.inputBytes = m.inputMetrics.bytesRead
        s.outputBytes = m.outputMetrics.bytesWritten
      }
    }
  }

  private def viaExec(exec: Option[Long]): Option[String] = exec.flatMap { id =>
    Option(execs.get(id)).flatMap { own =>
      Option(execs.get(own.root)).flatMap(r => moduleIn(r.details))
        .orElse(moduleIn(own.details))
    }
  }

  def moduleOfJob(j: Job): String =
    viaExec(j.exec).orElse(moduleIn(j.stageDetails)).getOrElse(Unattributed)
  def moduleOfStage(s: Stage): String =
    viaExec(s.exec).orElse(moduleIn(s.details)).getOrElse(Unattributed)

  private def included(group: String): Boolean = group != "pb-aux"

  def tracedJobs: Seq[Job] = jobs.values().asScala.toSeq.filter(j => included(j.group) && j.end >= 0)
  def jobIntervals: Seq[(Long, Long)] = tracedJobs.map(j => (j.start, j.end))

  /** `<module>.<metric>` for every reported module. */
  def layerMetrics(cores: Int): Map[String, Double] = {
    val byModJobs = tracedJobs.groupBy(moduleOfJob)
    val byModStages = stages.values().asScala.toSeq.filter(s => included(s.group))
      .groupBy(moduleOfStage)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val mb = 1048576.0
    Modules.foreach { m =>
      val js = byModJobs.getOrElse(m, Nil)
      val ss = byModStages.getOrElse(m, Nil)
      val taskS = ss.map(_.taskMs).sum / 1000.0
      // job intervals are in ms (listener event times)
      val jobS = Stats.unionLength(js.map(j => (j.start, j.end))) / 1000.0
      out(s"$m.jobs") = js.size.toDouble
      out(s"$m.task_s") = taskS
      out(s"$m.job_s") = jobS
      out(s"$m.slot_util") = if (jobS > 0) taskS / (jobS * cores) else 0.0
      out(s"$m.shuffle_mb") = ss.map(_.shuffleBytes).sum / mb
      out(s"$m.spill_mb") = ss.map(_.spillBytes).sum / mb
      out(s"$m.input_mb") = ss.map(_.inputBytes).sum / mb
      out(s"$m.output_mb") = ss.map(_.outputBytes).sum / mb
    }
    val totalTask = Modules.map(m => out(s"$m.task_s")).sum
    out("trace.unattributed_share") =
      if (totalTask > 0) out(s"$Unattributed.task_s") / totalTask else 0.0
    out.toMap
  }
}

object Tracer {
  private final case class Exec(root: Long, details: String)
  val Unattributed = "unattributed"
  val Tracked: Seq[String] =
    Seq("sources", "dq", "lineage", "pipeline", "catalog", "streaming", "operators")
  val Modules: Seq[String] = Tracked :+ Unattributed
  // a frame renders as "graft.dq.DqEngine.run(...)", possibly behind a
  // class-loader prefix ("app//graft.dq...")
  private val FrameRe = """(?:^|[/\s])graft\.([a-z][a-z0-9_]*)\.""".r

  /** Innermost tracked graft module in a call-site stack (innermost first). */
  def moduleIn(stack: String): Option[String] =
    if (stack == null || stack.isEmpty) None
    else stack.split("\n").iterator
      .flatMap(line => FrameRe.findFirstMatchIn(line).map(_.group(1)))
      .find(Tracked.contains)
}
