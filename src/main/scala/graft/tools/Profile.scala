package graft.tools

import scala.collection.mutable
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import graft.{Session, SparkEntry}

/** Where a declared query (a `SparkEntry.queries` key) spends its time.
  *
  *  - `--jobs` (default): one warm run, then one measured run under a
  *    listener — wall, jobs, stages, tasks, summed task time, summed task
  *    deserialization time, summed task GC time, shuffle read and write,
  *    and spill (memory + disk), all summed over the run. Task time is
  *    `executorRunTime`, which excludes deserialization: a task binary
  *    that ships a large plan shows up in `deser=` (and `gc=`) only;
  *  - `--stages`: the same measured run broken down per stage, the 30
  *    slowest stages with the first `graft.` frame of their call site. A
  *    stage AQE submits from its own thread has no such frame; it is
  *    credited to the frame that started the measured run;
  *  - `--plan`: the formatted executed plan with its count of shuffle
  *    exchanges, broadcast exchanges, whole-stage codegen spans and
  *    expression nodes (summed over every operator, subqueries included,
  *    a proxy for the size of the task binaries). It is
  *    planned with AQE off, because an adaptive plan hides its codegen
  *    spans until it has run. A gate ending in `.localCheckpoint(true)`
  *    runs its pipeline while the plan is built, so its plan shows only
  *    the scan of the checkpoint.
  *
  * Usage: runMain graft.tools.Profile q1,q2 [--jobs|--stages|--plan]
  * against [[Session.sfDir]]. */
object Profile {

  sealed trait Report { def render: String }

  final case class Jobs(query: String, wallS: Double, jobs: Int, stages: Int,
                        tasks: Int, taskS: Double, deserS: Double, gcS: Double,
                        shuffleReadMb: Double, shuffleWriteMb: Double,
                        spillMb: Double) extends Report {
    def render: String =
      f"JOBS $query%-28s wall=$wallS%.2fs jobs=$jobs stages=$stages tasks=$tasks " +
        f"task=$taskS%.2fs deser=$deserS%.2fs gc=$gcS%.2fs " +
        f"shuffle_read=$shuffleReadMb%.1fMB " +
        f"shuffle_write=$shuffleWriteMb%.1fMB spill=$spillMb%.1fMB"
  }

  final case class Stage(id: Int, wallMs: Long, tasks: Int, taskMs: Long,
                         deserMs: Long, gcMs: Long, maxTaskMs: Long,
                         callSite: String)

  final case class Stages(query: String, wallS: Double, total: Int,
                          top: Seq[Stage]) extends Report {
    def render: String =
      (f"STAGES $query wall=$wallS%.2fs ($total stages)" +: top.map { s =>
        f"  wall=${s.wallMs / 1000.0}%6.2fs task=${s.taskMs / 1000.0}%7.2fs " +
          f"deser=${s.deserMs / 1000.0}%6.2fs gc=${s.gcMs / 1000.0}%6.2fs " +
          f"max=${s.maxTaskMs / 1000.0}%5.2fs tasks=${s.tasks}%4d #${s.id} ${s.callSite}"
      }).mkString("\n")
  }

  final case class Plan(query: String, shuffles: Int, broadcasts: Int,
                        codegenSpans: Int, expressionNodes: Int,
                        formatted: String) extends Report {
    def render: String =
      s"$formatted\nPLAN $query shuffles=$shuffles broadcasts=$broadcasts " +
        s"codegenSpans=$codegenSpans expressionNodes=$expressionNodes"
  }

  private final class Acc {
    var tasks = 0; var taskMs = 0L; var deserMs = 0L; var gcMs = 0L
    var maxTaskMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var wallMs = 0L; var callSite = ""; var done = false
  }

  /** The first program frame outside this profiler in a call stack. */
  private def graftFrame(frames: Iterator[String]): Option[String] =
    frames.map(_.trim)
      .find(f => f.startsWith("graft.") && !f.startsWith("graft.tools.Profile"))

  /** Per-stage task metrics of everything the session runs while
    * installed; `caller` is the call site of stages without their own. */
  private final class Recorder(caller: String) extends SparkListener {
    var jobs = 0
    val stages = mutable.LinkedHashMap[Int, Acc]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new Acc)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.deserMs += m.executorDeserializeTime
        s.gcMs += m.jvmGCTime
        s.maxTaskMs = math.max(s.maxTaskMs, m.executorRunTime)
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val s = stages.getOrElseUpdate(info.stageId, new Acc)
      s.done = true
      s.wallMs = (for (end <- info.completionTime; start <- info.submissionTime)
        yield end - start).getOrElse(0L)
      s.callSite = graftFrame(info.details.linesIterator).getOrElse(caller)
    }
  }

  private def runOnce(spark: SparkSession, sfDir: String, query: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(query)(spark, sfDir).queryExecution.toRdd.count()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    wall
  }

  /** A warm run, then a measured run with the recorder installed. */
  private def measure(spark: SparkSession, sfDir: String,
                      query: String): (Double, Recorder) = {
    runOnce(spark, sfDir, query)
    val sc = spark.sparkContext
    GraftListenerBridge.waitUntilListenerBusEmpty(sc)
    val stack = Thread.currentThread.getStackTrace.map(_.toString)
    val rec = new Recorder(graftFrame(stack.iterator)
      .getOrElse(stack.find(_.startsWith("graft.")).get))
    sc.addSparkListener(rec)
    try {
      val wall = runOnce(spark, sfDir, query)
      GraftListenerBridge.waitUntilListenerBusEmpty(sc)
      (wall, rec)
    } finally sc.removeSparkListener(rec)
  }

  private def audit(spark: SparkSession, sfDir: String, query: String): Plan = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val qe = SparkEntry.queries(query)(spark, sfDir).queryExecution
      val plan = qe.executedPlan
      Plan(query,
        plan.collectWithSubqueries { case e: ShuffleExchangeExec => e }.size,
        plan.collectWithSubqueries { case e: BroadcastExchangeExec => e }.size,
        plan.collectWithSubqueries { case e: WholeStageCodegenExec => e }.size,
        plan.collectWithSubqueries { case p =>
          p.expressions.map(_.collect { case e => e }.size).sum }.sum,
        qe.explainString(FormattedMode))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The report for one query in one mode (`--jobs`, `--stages` or
    * `--plan`); the session is left running with its confs as found. */
  def report(spark: SparkSession, sfDir: String, query: String,
             mode: String = "--jobs"): Report = mode match {
    case "--plan" => audit(spark, sfDir, query)
    case "--jobs" =>
      val (wall, r) = measure(spark, sfDir, query)
      val ss = r.stages.values.toSeq
      def mb(f: Acc => Long) = ss.map(f).sum / 1048576.0
      Jobs(query, wall, r.jobs, ss.count(_.done), ss.map(_.tasks).sum,
        ss.map(_.taskMs).sum / 1000.0, ss.map(_.deserMs).sum / 1000.0,
        ss.map(_.gcMs).sum / 1000.0, mb(_.shuffleRead), mb(_.shuffleWrite),
        mb(_.spill))
    case "--stages" =>
      val (wall, r) = measure(spark, sfDir, query)
      val done = r.stages.toSeq.filter(_._2.done)
      Stages(query, wall, done.size, done.sortBy(-_._2.wallMs).take(30).map {
        case (id, s) => Stage(id, s.wallMs, s.tasks, s.taskMs, s.deserMs, s.gcMs,
          s.maxTaskMs, s.callSite)
      })
    case other =>
      throw new IllegalArgumentException(s"unknown mode $other (--jobs|--stages|--plan)")
  }

  def main(args: Array[String]): Unit = {
    val queries = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("usage: Profile q1,q2 [--jobs|--stages|--plan]"))
    val mode = args.lift(1).getOrElse("--jobs")
    val spark = Session.build()
    try queries.foreach(q => println(report(spark, Session.sfDir, q, mode).render))
    finally spark.stop()
  }
}
