package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark substrate counters of one span (or of a whole phase). */
final class SparkCounts {
  var jobs = 0L
  var ccJobs = 0L          // jobs of the connected-components loop
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L          // executor run time
  var cpuNs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var bytesRead = 0L
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  /** max ÷ median task duration, worst stage with at least 4 tasks. */
  def skew: Double = stageTaskMs.values.filter(_.size >= 4).map { ts =>
    val sorted = ts.sorted
    sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
  }.foldLeft(1.0)(math.max)

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; ccJobs += o.ccJobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; busyMs += o.busyMs; cpuNs += o.cpuNs
    schedMs += o.schedMs; gcMs += o.gcMs; spillBytes += o.spillBytes
    shuffleWriteBytes += o.shuffleWriteBytes; bytesRead += o.bytesRead
    o.stageTaskMs.foreach { case (k, v) =>
      stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
  }
}

/** One traced call: name, parent span, start/end, its Spark counters. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long, counts: SparkCounts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder attributed through Spark job groups: every
  * span sets its own job group, so the listener charges each job,
  * stage and task to the innermost open span. Spans are written out
  * once, at the end of the run. */
final class Tracer(sc: SparkContext) extends SparkListener {

  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private val t0 = System.nanoTime()
  // listener-bus state (single listener thread)
  private val stageSpan = mutable.Map[Int, Int]()
  private val execSite = mutable.Map[Long, String]()
  /** Counters of everything outside any span (untraced phases). */
  val global = new SparkCounts
  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    val sp = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), 0L, new SparkCounts)
    spans.synchronized(spans += sp)
    open.push(sp)
    sc.setJobGroup(s"span-${sp.id}", name)
    try body
    finally {
      sp.endNs = System.nanoTime()
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.BenchAccess.drain(sc)

  def named(name: String): Seq[Span] = { drain(); spans.filter(_.name == name).toSeq }

  private def countsOf(props: java.util.Properties): SparkCounts =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(g => spans.synchronized(spans(g.drop(5).toInt).counts))
      .getOrElse(global)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite(s.executionId) = s.details
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val c = countsOf(j.properties)
    c.jobs += 1
    val site = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong)).getOrElse("")
    if (site.contains("propagateMin")) c.ccJobs += 1
    val owner = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.drop(5).toInt).getOrElse(-1)
    j.stageIds.foreach(stageSpan(_) = owner)
  }

  private def countsOfStage(stageId: Int): SparkCounts =
    stageSpan.get(stageId).filter(_ >= 0)
      .map(i => spans.synchronized(spans(i).counts)).getOrElse(global)

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    countsOfStage(s.stageInfo.stageId).stages += 1

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val c = countsOfStage(t.stageId)
    c.tasks += 1
    if (t.reason != Success) c.failedTasks += 1
    val m = t.taskMetrics
    val info = t.taskInfo
    c.stageTaskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer()) += info.duration
    if (m != null) {
      c.busyMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.bytesRead += m.inputMetrics.bytesRead
      c.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
    }
  }

  /** Counters summed over every span with one of `names` and its
    * descendants. */
  def countsUnder(names: Set[String]): SparkCounts = {
    drain()
    val all = spans.synchronized(spans.toSeq)
    val roots = all.filter(s => names(s.name)).map(_.id).toSet
    def under(s: Span): Boolean =
      roots(s.id) || (s.parent >= 0 && under(all(s.parent)))
    val out = new SparkCounts
    all.filter(under).foreach(s => out.add(s.counts))
    out
  }

  /** `<layer>.jobs`: Spark jobs launched under each layer's spans. */
  def jobsOf(layers: Seq[String]): Map[String, Double] =
    layers.map(n => s"$n.jobs" -> countsUnder(Set(n)).jobs.toDouble).toMap

  /** Every span with its own Spark counters (children excluded). */
  def write(p: Path): Unit = {
    drain()
    val rows = spans.synchronized(spans.toSeq).map { s =>
      val c = s.counts
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        s""""jobs":${c.jobs},"cc_jobs":${c.ccJobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""failed_tasks":${c.failedTasks},""" +
        f""""task_busy_s":${c.busyMs / 1e3}%.3f,"task_cpu_s":${c.cpuNs / 1e9}%.3f,""" +
        f""""sched_delay_s":${c.schedMs / 1e3}%.3f,"gc_s":${c.gcMs / 1e3}%.3f,""" +
        f""""spill_mb":${c.spillBytes / 1e6}%.4f,"task_skew":${c.skew}%.3f,""" +
        f""""shuffle_mb":${c.shuffleWriteBytes / 1e6}%.4f,"bytes_read":${c.bytesRead}}"""
    }
    Files.createDirectories(p.getParent)
    Files.write(p, rows.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
  }
}
