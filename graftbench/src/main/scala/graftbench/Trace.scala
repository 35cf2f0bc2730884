package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval of the traced run. Durations come from the
  * monotonic clock; the epoch-millisecond bounds place Spark listener
  * events (which carry epoch-millisecond times) inside spans. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      item: String, startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long, count: Long)

/** In-memory span recorder, written out when the run ends. Spans nest
  * by call: a span opened inside another's body gets it as parent. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var pass: Int = -1
  var item: String = ""

  /** Time `body` as a span. The span is kept when the body throws. */
  def span[A](name: String)(body: => A): A = timed(name, (_: A) => -1L)(body)

  /** A span whose body returns its work count (rows, pairs, bytes). */
  def counted(name: String)(body: => Long): Long = timed(name, identity[Long])(body)

  private def timed[A](name: String, count: A => Long)(body: => A): A = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += null
    stack = id :: stack
    val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    var n = -1L
    try {
      val r = body
      n = count(r)
      r
    } finally {
      spans(id) = Span(id, name, parent, pass, item, s0, System.nanoTime(),
        m0, System.currentTimeMillis(), n)
      stack = stack.tail
    }
  }

  def all: Seq[Span] = spans.toSeq
}

/** Counts Spark jobs, stages and task metrics with their epoch-ms
  * times; the report assigns each event to the innermost span that
  * contains its time. Registered only for the traced passes. */
final class EventLog extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[(Int, Long)]()       // (id, start)
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()    // (id, end)
  val stages = new ConcurrentLinkedQueue[Long]()            // completion
  // finish, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input
  val tasks = new ConcurrentLinkedQueue[Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add((e.jobId, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add((e.jobId, e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Array(e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.diskBytesSpilled + m.memoryBytesSpilled,
      m.inputMetrics.bytesRead))
  }

  def toJson: Map[String, Any] = {
    val ends = jobEnds.asScala.toMap
    Map(
      "jobs" -> jobs.asScala.toSeq.map { case (id, s) =>
        Seq(s, ends.getOrElse(id, s)) },
      "stages" -> stages.asScala.toSeq,
      "tasks" -> tasks.asScala.toSeq.map(_.toSeq))
  }
}
