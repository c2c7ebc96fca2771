package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call boundary: epoch milliseconds on the driver's clock, so spans
  * line up with Spark's task launch/finish stamps (also epoch ms).
  */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startMs: Double, endMs: Double)

/** In-memory span recorder. Spans nest by call order; each span also
  * sets the Spark job group `<runId>/<name>` for the duration of the
  * call, so [[TaskRecorder]] can attribute every task to the layer that
  * caused it. Nothing is written until the run ends.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Int] = Nil

  def span[A](name: String)(f: => A): A = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, name, runId, nowMs, Double.NaN)
    stack = id :: stack
    sc.setJobGroup(s"$runId/$name", name)
    try f
    finally {
      spans(id) = spans(id).copy(endMs = nowMs)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$runId/${spans(p).name}", spans(p).name)
        case None => sc.clearJobGroup()
      }
    }
  }
}

/** One finished task, reduced to what the per-layer metrics need. */
final case class TaskRec(group: String, stageId: Int, launchMs: Long,
                         finishMs: Long, cpuNs: Long, gcMs: Long,
                         readBytes: Long, shuffleWriteBytes: Long,
                         spillBytes: Long)

/** SparkListener the benchmark registers itself: maps each job's stages
  * to the job group set by [[Tracer.span]] and keeps every task's
  * interval and metrics.
  */
final class TaskRecorder extends SparkListener {
  private val stageGroup = TrieMap.empty[Int, String]
  private val jobsByGroup = TrieMap.empty[String, AtomicInteger]
  private val taskQueue = new ConcurrentLinkedQueue[TaskRec]()
  private val started = new AtomicInteger
  private val ended = new AtomicInteger
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    jobsByGroup.getOrElseUpdate(g, new AtomicInteger).incrementAndGet()
    started.incrementAndGet()
    lastEventNs.set(System.nanoTime())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.incrementAndGet()
    lastEventNs.set(System.nanoTime())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) taskQueue.add(TaskRec(
      stageGroup.getOrElse(e.stageId, ""), e.stageId, info.launchTime,
      info.finishTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
    lastEventNs.set(System.nanoTime())
  }

  /** Wait until the listener bus has delivered every job that started:
    * all jobs ended and no event for 300 ms (the bus is asynchronous).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (System.nanoTime() < deadline &&
      (started.get() != ended.get() ||
        System.nanoTime() - lastEventNs.get() < 300_000_000L))
      Thread.sleep(50)
  }

  def tasks: Seq[TaskRec] = taskQueue.asScala.toSeq
  def jobs: Map[String, Int] = jobsByGroup.map { case (g, n) => g -> n.get() }.toMap

  def reset(): Unit = {
    drain()
    taskQueue.clear(); jobsByGroup.clear(); stageGroup.clear()
  }
}
