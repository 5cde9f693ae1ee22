package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** One timed call into a layer, recorded by the benchmark around its own
  * calls. `parent` is the id of the enclosing span (0 = none); every span
  * of one operation carries that operation's id. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span and counter recorder, switched on only for the phases
  * that trace. Disabled, every call is a plain pass-through: one branch
  * per call site. Spans are kept in memory and written out when the run
  * ends. */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** (op, name, value) samples for counts and sizes measured at a boundary. */
  val counts = new ConcurrentLinkedQueue[(Long, String, Double)]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val currentOp = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  def withOp[A](op: Long)(f: => A): A = {
    val prev = currentOp.get
    currentOp.set(op)
    try f finally currentOp.set(prev)
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), currentOp.get,
          name, t0, t1))
      }
    }

  def count(name: String, value: Double): Unit =
    if (enabled) counts.add((currentOp.get, name, value))
}

/** Accumulates Spark task and job metrics. With one operation in flight
  * (the traced run uses a single client), the delta between two snapshots
  * belongs to that operation. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, shuffleWriteBytes, spillBytes, gcMs =
    new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet(): Unit
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def snapshot(): Array[Long] = Array(jobs.get, stages.get, tasks.get, runMs.get,
    cpuNs.get, shuffleWriteBytes.get, spillBytes.get, gcMs.get)

  /** Record the per-operation deltas since `before` as counts. */
  def recordSince(before: Array[Long], tracer: Tracer): Unit = {
    val d = snapshot().zip(before).map { case (a, b) => a - b }
    tracer.count("spark.jobs", d(0).toDouble)
    tracer.count("spark.stages", d(1).toDouble)
    tracer.count("spark.tasks", d(2).toDouble)
    tracer.count("spark.task_run_ms", d(3).toDouble)
    tracer.count("spark.task_cpu_ms", d(4) / 1e6)
    tracer.count("spark.shuffle_write_bytes", d(5).toDouble)
    tracer.count("spark.spill_bytes", d(6).toDouble)
    tracer.count("spark.gc_ms", d(7).toDouble)
  }
}
