package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.monitoring.StepMonitor

/** Engine counters collected from outside the program: a SparkListener for
  * jobs, stages, tasks and their metrics, a StreamingQueryListener for
  * micro-batch progress, the program's StepMonitor for per-action
  * durations, and Spark's codegen counters. Nothing inside the program is
  * instrumented.
  *
  * Spans are counter snapshots: `snap` before and after a call into a
  * layer, `delta` between them. Listener delivery is asynchronous, so a
  * snapshot first drains the listener bus. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val c = Array.fill(Counter.values.size)(new AtomicLong())
  private def add(k: Counter.Value, v: Long): Unit = c(k.id).addAndGet(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(Counter.Jobs, 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(Counter.Stages, 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(Counter.Tasks, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(Counter.TaskMs, m.executorRunTime)
        add(Counter.GcMs, m.jvmGCTime)
        add(Counter.ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
        add(Counter.ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
        add(Counter.Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
        add(Counter.BytesRead, m.inputMetrics.bytesRead)
        add(Counter.BytesWritten, m.outputMetrics.bytesWritten)
      }
    }
  }

  /** durationMs of every completed micro-batch, in arrival order. */
  val progress = new ConcurrentLinkedQueue[java.util.Map[String, java.lang.Long]]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e.progress.durationMs)
  }

  /** The program's own query-execution monitor, one record per action. */
  val monitor = new StepMonitor

  private var installed = false

  /** Register the listeners (idempotent). */
  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(monitor)
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(monitor)
    installed = false
  }

  def snap(): Snap = {
    if (installed) GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    Snap(c.map(_.get).toVector,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime, System.nanoTime())
  }

  /** Run `f` and return its result with the counter deltas over it. */
  def span[T](f: => T): (T, Delta) = {
    val a = snap()
    val r = f
    (r, snap() - a)
  }
}

object Tracer {
  object Counter extends Enumeration {
    val Jobs, Stages, Tasks, TaskMs, GcMs, ShuffleRead, ShuffleWrite, Spill,
      BytesRead, BytesWritten = Value
  }

  /** `compiles` counts generated classes compiled (codegen cache misses);
    * `compileNs` is Spark's running total of codegen compile time. */
  final case class Snap(counters: Vector[Long], compiles: Long,
                        compileNs: Long, nanos: Long) {
    def -(o: Snap): Delta = Delta(
      counters.zip(o.counters).map { case (a, b) => a - b },
      compiles - o.compiles, (compileNs - o.compileNs) / 1e9,
      (nanos - o.nanos) / 1e9)
  }

  final case class Delta(counters: Vector[Long], compiles: Long,
                         compileS: Double, wallS: Double) {
    def apply(k: Counter.Value): Long = counters(k.id)
    def mb(k: Counter.Value): Double = apply(k) / 1048576.0
    def +(o: Delta): Delta = Delta(counters.zip(o.counters).map { case (a, b) => a + b },
      compiles + o.compiles, compileS + o.compileS, wallS + o.wallS)
  }
  val zero: Delta = Delta(Vector.fill(Counter.values.size)(0L), 0L, 0.0, 0.0)

  /** Peak heap use of this JVM so far, summed over the heap pools. */
  def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The engine metrics every traced workload reports. */
  def engineMetrics(d: Delta): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", d(Counter.Jobs).toDouble, "count"),
    ("spark.stages", d(Counter.Stages).toDouble, "count"),
    ("spark.tasks", d(Counter.Tasks).toDouble, "count"),
    ("spark.task_s", d(Counter.TaskMs) / 1000.0, "s"),
    ("spark.shuffle_read_mb", d.mb(Counter.ShuffleRead), "MB"),
    ("spark.shuffle_write_mb", d.mb(Counter.ShuffleWrite), "MB"),
    ("spark.spill_mb", d.mb(Counter.Spill), "MB"),
    ("spark.gc_s", d(Counter.GcMs) / 1000.0, "s"),
    ("jvm.peak_heap_mb", peakHeapMb, "MB"))
}
