package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative Spark counters at one instant. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
                      shuffleBytes: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes)
}

/** Counts jobs, completed stages, tasks, task CPU and shuffle bytes
  * written. Registered only by a traced run. */
final class Counters extends SparkListener {
  private val jobs, stages, tasks, cpuNs, shuffle = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  def snap: Snap = Snap(jobs.get, stages.get, tasks.get, cpuNs.get, shuffle.get)
}

/** One timed call: `req` is the question id, catalog entry or LOAD step. */
final case class Span(id: Int, parent: Int, name: String, req: String,
                      startNs: Long, endNs: Long, delta: Snap)

/** Span recorder. Off by default: `span` then only runs its body, so the
  * untraced run pays one branch per call. On, it drains the listener bus
  * at both boundaries so the counter deltas belong to the span. Spans stay
  * in memory until the run ends. */
object Trace {
  private var counters: Counters = null
  private var sc: SparkContext = null
  private val spans = ArrayBuffer[Span]()
  private var stack = List[Int]()

  def enable(ctx: SparkContext): Unit = {
    sc = ctx
    counters = new Counters
    ctx.addSparkListener(counters)
  }
  def on: Boolean = counters != null
  def all: Seq[Span] = spans.toSeq

  def span[T](name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      org.apache.spark.BenchBus.drain(sc)
      val c0 = counters.snap
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        org.apache.spark.BenchBus.drain(sc)
        spans(id) = Span(id, parent, name, req, t0, t1, counters.snap - c0)
        stack = stack.tail
      }
    }
}
