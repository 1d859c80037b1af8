package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch-relative nanoseconds
  * (`Tracer.nowNs`) so they line up with Spark's millisecond event times.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder: spans are appended as calls return and are
  * written out once, when the run ends. `enabled = false` makes `span` a
  * plain call, so untraced ops pay nothing.
  */
final class Tracer {
  val spans = new ArrayBuffer[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var enabled = false
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Tracer.nowNs()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, Tracer.nowNs())
        stack = stack.tail
      }
    }
}

object Tracer {
  private val epochNs = System.currentTimeMillis() * 1000000L
  private val base = System.nanoTime()
  def nowNs(): Long = epochNs + (System.nanoTime() - base)
}

/** Spark-engine counters for one op, observed from outside the library
  * through a SparkListener (jobs, stages, tasks) and a
  * QueryExecutionListener (actions and their planning phases).
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]() // start, end ms
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stageMs = new ConcurrentLinkedQueue[Long]()
  val actions = new AtomicInteger
  val planMs = new AtomicLong
  val tasksOk = new AtomicInteger
  val tasksFailed = new AtomicInteger
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong

  def reset(): Unit = {
    jobs.clear(); jobStart.clear(); stageMs.clear()
    Seq(actions, tasksOk, tasksFailed).foreach(_.set(0))
    Seq(planMs, cpuNs, gcMs, inputBytes, shuffleWrite, shuffleRead, spill).foreach(_.set(0))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add((jobStart.getOrDefault(e.jobId, e.time), e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      stageMs.add(c - s)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskInfo.successful) tasksOk.incrementAndGet() else tasksFailed.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    actions.incrementAndGet()
    planMs.addAndGet(Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Counters of the op that just ended, as JSON fields. */
  def snapshot(): Map[String, Any] = {
    val mb = 1024.0 * 1024.0
    Map(
      "jobs" -> jobs.asScala.toSeq.sorted.map { case (s, e) => Seq(s, e) },
      "actions" -> actions.get,
      "plan_ms" -> planMs.get,
      "executor_cpu_ms" -> cpuNs.get / 1e6,
      "gc_ms" -> gcMs.get,
      "input_mb" -> inputBytes.get / mb,
      "shuffle_write_mb" -> shuffleWrite.get / mb,
      "shuffle_read_mb" -> shuffleRead.get / mb,
      "spill_mb" -> spill.get / mb,
      "slowest_stage_ms" -> stageMs.asScala.foldLeft(0L)(math.max),
      "tasks_ok" -> tasksOk.get,
      "tasks_failed" -> tasksFailed.get)
  }
}
