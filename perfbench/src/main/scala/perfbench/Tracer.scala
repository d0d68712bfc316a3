package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call into one public function of the program, including
  * forcing its result. Times are epoch milliseconds with sub-ms digits
  * (a nanoTime offset from one epoch anchor), so they line up with the
  * listener's stage times. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Double, endMs: Double)

/** Spans kept in memory and written when the run ends. Disabled, `span`
  * is a plain call: no job group is set and nothing is recorded, which is
  * what the untraced run measures.
  *
  * Each open span is the SparkContext job group of the driver thread, so
  * the [[StageListener]] can attribute every job and stage to the span
  * that submitted it. Spans nest; closing a span restores its parent's
  * group. Nothing inside the program is instrumented. */
final class Tracer(sc: SparkContext) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var enabled = false
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(Tracer.group(id), name)
      val start = nowMs
      try body
      finally {
        spans += Span(id, parent, op, name, start, nowMs)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p), "")
          case None => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  val Prefix = "perfbench-"
  def group(id: Int): String = s"$Prefix$id"
}

final case class JobRec(jobId: Int, span: Int, stageIds: Seq[Int])

final case class StageRec(stageId: Int, attempt: Int, submitMs: Long,
    completeMs: Long, numTasks: Int, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long, cpuNs: Long)

/** Benchmark-owned listener: records the jobs submitted under a span's
  * job group, every completed stage and each task's duration. The
  * aggregation (self time, union-interval driver gap, skew) happens after
  * the run, from these raw records. */
final class StageListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Tracer.Prefix)).foreach { g =>
      jobs.add(JobRec(e.jobId, g.stripPrefix(Tracer.Prefix).toInt, e.stageIds))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    for (s <- si.submissionTime; c <- si.completionTime)
      stages.add(StageRec(si.stageId, si.attemptNumber(), s, c, si.numTasks,
        if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
        if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled,
        if (tm == null) 0L else tm.jvmGCTime,
        if (tm == null) 0L else tm.executorCpuTime))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)

  def taskDurations(stageId: Int): Seq[Long] =
    Option(taskMs.get(stageId)).map(_.asScala.toSeq).getOrElse(Nil)
}
