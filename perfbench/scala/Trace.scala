package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into graft, plus the Spark jobs,
  * stages and tasks those calls start.
  *
  * A span is opened on the driver thread only. While a span is open its id
  * rides the `graftbench.span` local property, which Spark copies onto every
  * job the thread (or a thread it spawns: broadcast, AQE, Runner's pool)
  * submits, so the listener can parent each job without guessing. Nothing
  * is recorded while `recording` is off: those are the untraced rounds that
  * `bench.trace_overhead` is measured against.
  */
final class Trace(sc: SparkContext) {
  final case class Span(id: Long, parent: Long, name: String, op: Long,
      startNs: Long, endNs: Long)

  @volatile var recording = false
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long]()
  private val spans = mutable.ArrayBuffer[Span]()
  var op: Long = -1

  def span[T](name: String)(body: => T): T = {
    if (!recording) return body
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    stack.push(id)
    sc.setLocalProperty(Trace.Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Trace.Prop, stack.headOption.map(_.toString).orNull)
      spans += Span(id, parent, name, op, t0, t1)
    }
  }

  def spanRecords: Seq[Span] = spans.toSeq

  // ------------------------------------------------------------ listener
  final class StageAgg {
    var tasks = 0L; var busyMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var input = 0L; var peakMem = 0L
    var startMs = -1L; var endMs = -1L
  }
  final case class Job(id: Int, span: Long, execution: String, startMs: Long,
      var endMs: Long, stages: Seq[Int], callSite: String)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
      span.foreach { s =>
        // The final stage is the job's result stage; its details hold the
        // long call site of the action that started the job.
        val site = if (e.stageInfos.isEmpty) ""
          else e.stageInfos.maxBy(_.stageId).details
        val exec = Option(e.properties.getProperty("spark.sql.execution.id")).getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, s.toLong, exec, e.time, -1L, e.stageIds,
          site.linesIterator.take(Trace.SiteLines).mkString("\n")))
        e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    private def agg(stageId: Int): Option[StageAgg] =
      if (!stageJob.containsKey(stageId)) None
      else Some(stages.computeIfAbsent(stageId, _ => new StageAgg))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      agg(e.stageInfo.stageId).foreach { a =>
        a.startMs = e.stageInfo.submissionTime.getOrElse(-1L)
        a.endMs = e.stageInfo.completionTime.getOrElse(-1L)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      agg(e.stageId).foreach { a =>
        val m = e.taskMetrics
        if (m != null) a.synchronized {
          a.tasks += 1
          a.busyMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
  }

  def jobRecords: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
  def stageRecords: Seq[(Int, Int, StageAgg)] =
    stages.asScala.toSeq.map { case (s, a) => (s.intValue, stageJob.get(s), a) }.sortBy(_._1)
}

object Trace {
  val Prop = "graftbench.span"
  /** Frames kept per job call site: enough to reach the innermost graft.*
    * frame below the harness and Spark's own entry frames. */
  val SiteLines = 40
}
