package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.MultiAlertDef
import graft.operators._
import graft.sinks.DataWriter
import graft.sources.{FakeData, FormSource}
import Tracer.Counter

/** batch_recompute: the nightly full recompute. Raw demo_case,
  * demo_alert and demo_register CSV exports go through
  * `DataPipeline.process`; `DataWriter.write` writes `data` and
  * `disregarded`; the written `data` is read back and `MultipleAlerts`
  * runs the threshold, weekly and double-doubling detectors and
  * `promote`; then the dashboard queries read the new store.
  *
  * One round is that whole sequence; rounds repeat until `--seconds`
  * have passed (at least [[MinRounds]]) and the medians are reported.
  * A round costs about 30 s on 4 cores, most of it per-plan work that
  * does not scale with rows (see perfbench/README.md), so with a short
  * `--seconds` a run measures one round. The traced run also lands a
  * micro-batch through the streaming path ([[StreamIngest.probe]]). */
object BatchRecompute {

  val CaseRows = 4000
  val AlertRows: Int = CaseRows / 50
  val RegisterRows: Int = CaseRows / 10
  val SetupRounds = 3
  val MinRounds = 1
  val QueriesPerRound = 16

  final case class Inputs(dir: String) {
    def form(name: String): String = s"$dir/$name"
    val names = Seq("demo_case", "demo_alert", "demo_register")
  }

  /** Generate and land the three forms from the seed. The patient pool
    * (a fifteenth of the case rows) makes visit control merge repeat
    * (patient, diagnosis) visits. */
  def land(spark: SparkSession, dir: String, seed: Long): Inputs = {
    val in = Inputs(dir)
    Fixtures.landCsv(Fixtures.withInstanceId(FakeData.form(spark, "demo_case",
      Fixtures.caseFields(CaseRows / 15), CaseRows, seed)),
      Fixtures.caseKeys, in.form("demo_case"))
    Fixtures.landCsv(Fixtures.alertForm(spark, AlertRows, CaseRows, seed),
      Fixtures.alertKeys, in.form("demo_alert"))
    Fixtures.landCsv(Fixtures.withInstanceId(FakeData.form(spark, "demo_register",
      Fixtures.registerFields, RegisterRows, seed)),
      Fixtures.registerKeys, in.form("demo_register"))
    in
  }

  def forms(spark: SparkSession, in: Inputs): Map[String, DataFrame] =
    in.names.map(n => n -> FormSource.csv(spark, in.form(n))).toMap

  final case class Outputs(dir: String) {
    val data = s"$dir/data"
    val disregarded = s"$dir/disregarded"
    val alerts = s"$dir/alerts"
    val promoted = s"$dir/promoted"
  }

  /** The alert rows of every configured detector over written `data`. */
  def detect(data: DataFrame, multi: Seq[MultiAlertDef]): DataFrame = {
    val cols = Seq("var_id", "clinic", "duration", "uuids")
    val thresholds = multi.filter(_.alertType == "threshold").flatMap { a =>
      Seq(MultipleAlerts.dailyThreshold(data, a.varId, a.limits(0)),
        MultipleAlerts.weeklyThreshold(data, a.varId, a.limits(1)))
    }
    val doubles = multi.filter(_.alertType == "double").map(_.varId)
    val all = thresholds ++
      (if (doubles.isEmpty) Nil
       else Seq(MultipleAlerts.doubleDoublingMulti(data, doubles)))
    // the detectors' shapes differ: daily rows carry a day, weekly and
    // double-doubling rows an epi week
    def or(df: DataFrame, c: String, t: String) =
      (if (df.columns.contains(c)) col(c) else lit(null).cast(t)).as(c)
    all.map(df => df.select(cols.map(col) ++ Seq(or(df, "day", "date"),
      or(df, "epi_year", "int"), or(df, "epi_week", "int"), col("n")): _*))
      .reduce(_.unionByName(_))
  }

  /** The recompute proper: process and write, then alerts. Returns the
    * seconds to `data`+`disregarded` written and to alerts written. */
  def recompute(spark: SparkSession, in: Inputs, cfg: Fixtures.Config,
                out: Outputs, plan: Option[PlanProbe] = None): (Double, Double) = {
    val t0 = System.nanoTime()
    val res = DataPipeline.process(spark, forms(spark, in), cfg.engine)
    plan.foreach(_.probe(res.data, (System.nanoTime() - t0) / 1e9))
    DataWriter.write(res.data, out.data)
    DataWriter.write(res.disregarded, out.disregarded)
    val t1 = System.nanoTime()
    writeAlerts(spark, in, cfg, out)
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def writeAlerts(spark: SparkSession, in: Inputs, cfg: Fixtures.Config,
                  out: Outputs): Unit = {
    val data = DataWriter.read(spark, out.data)
    val alerts = detect(data, cfg.multiAlerts)
    alerts.write.parquet(out.alerts)
    val written = spark.read.parquet(out.alerts)
    val promoted = MultipleAlerts.promote(data,
      written.filter(col("duration") === 1), FormSource.csv(spark, in.form("demo_case")),
      cfg.engine.alertData, alertIdLength = cfg.engine.alertIdLength)
    promoted.filter(map_contains_key(col("variables"), "alert_type") ||
        map_contains_key(col("variables"), "master_alert"))
      .write.parquet(out.promoted)
  }

  /** Planning times of one `DataPipeline.process` result. */
  final class PlanProbe {
    val construct, optimize, physical = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probe(df: DataFrame, constructS: Double): Unit = {
      construct += constructS
      optimize += Stats.time(df.queryExecution.optimizedPlan)._2
      physical += Stats.time(df.queryExecution.executedPlan)._2
    }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    val trace = ctx.args.trace
    val fixtures = new File(ctx.args.root, "perfbench/fixtures")
    val in = land(spark, ctx.dir("in"), seed)
    val rawRows = CaseRows + AlertRows + RegisterRows
    Log(s"inputs landed: $rawRows rows")

    // set-up: the configuration loaded from the fixture files, repeated;
    // a traced run reports no set-up time and skips it
    var cfg: Fixtures.Config = null
    val setups = (1 to SetupRounds).map { _ =>
      Stats.time { cfg = Fixtures.load(spark, fixtures) }._2
    }
    Log(s"set-up rounds: ${setups.mkString(", ")}")
    val tracer = new Tracer(spark)

    // rounds until --seconds have passed; a traced run makes one round
    val dataS, alertS, wallS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val plan = new PlanProbe
    var traced = Tracer.zero
    var round = 0
    var out: Outputs = null
    if (trace) tracer.install()
    val start = System.nanoTime()
    while (round < MinRounds || (!trace && (System.nanoTime() - start) / 1e9 < ctx.args.seconds)) {
      if (out != null) Files.rm(new File(out.dir))
      out = Outputs(ctx.dir(s"out$round"))
      val (((d, a)), delta) = tracer.span(
        recompute(spark, in, cfg, out, if (trace) Some(plan) else None))
      Log(f"round $round: data $d%.2f s, alerts $a%.2f s")
      dataS += d; alertS += a; wallS += d + a
      traced = delta
      round += 1
    }

    if (ctx.args.dropOutputRow) Checks.dropOneRow(spark, out.data)
    var problems = Checks.batch(spark, in, cfg, out)
    var attempted = round.toLong
    var failed = 0L

    val metrics =
      if (!trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("wall_s", Stats.median(wallS.toSeq), "s"),
        ("rows_per_s", rawRows / Stats.median(dataS.toSeq), "1/s"))
      else {
        val (reads, overhead, readFailures) = dashboardReads(spark, tracer, cfg, out, seed)
        attempted += reads.size + readFailures
        failed += readFailures
        val ops = Operators.isolated(spark, tracer, in, cfg, out.data, ctx.dir("iso"))
        val isoWrite = Operators.dataWrite(spark, tracer, out.data, ctx.dir("iso_write"))
        val dataFiles = Files.dataFiles(new File(out.data)).count(_.getName.endsWith(".parquet"))
        val stream = StreamIngest.probe(spark, tracer, in, cfg, out, seed, ctx.dir("stream"))
        val (rowsIn, sourceProblem) = Checks.sources(spark, in)
        problems ++= stream.problems ++ sourceProblem
        ops.metrics(dataS.head) ++ Seq(
          ("plan.construct_s", plan.construct.head, "s"),
          ("plan.optimize_s", plan.optimize.head, "s"),
          ("plan.physical_s", plan.physical.head, "s"),
          ("codegen.compile_s", traced.compileS, "s"),
          ("codegen.classes", traced.compiles.toDouble, "count"),
          ("sinks.data_write_s", isoWrite, "s"),
          ("sinks.bytes_written_mb", traced.mb(Counter.BytesWritten), "MB"),
          ("sinks.store_files", dataFiles.toDouble, "count"),
          ("alerts.wall_s", alertS.head, "s"),
          ("sources.rows_in", rowsIn.toDouble, "count")) ++
          stream.metrics ++
          serveMetrics(reads) ++
          Tracer.engineMetrics(traced) ++ Seq(("trace_overhead", overhead, "ratio"))
      }
    problems.foreach(p => System.err.println(s"check failed: $p"))
    Result(problems.isEmpty, attempted, failed,
      if (trace) PerLayer.complete(metrics) else metrics)
  }

  /** The dashboard reads of a traced run, each run once with the
    * listeners off and once on, in alternating order. Returns the traced
    * reads, the traced ÷ untraced read time (trace_overhead) and the
    * number of reads that failed. */
  def dashboardReads(spark: SparkSession, tracer: Tracer, cfg: Fixtures.Config,
                     out: Outputs, seed: Long): (Seq[(Dashboard.Read, Tracer.Delta)], Double, Long) = {
    val clinics = cfg.engine.locations.filter(_.level == "clinic").map(_.id)
    val traced = scala.collection.mutable.ArrayBuffer.empty[(Dashboard.Read, Tracer.Delta)]
    var on, off = 0.0
    var failures = 0L
    Dashboard.mix(new scala.util.Random(seed), cfg.engine.codes, clinics, QueriesPerRound)
      .zipWithIndex.foreach { case (query, i) =>
        try Seq(i % 2 == 0, i % 2 == 1).foreach { tracing =>
          if (tracing) tracer.install() else tracer.uninstall()
          val (r, d) = tracer.span(Dashboard.run(spark, out.data, query))
          if (tracing) { traced += ((r, d)); on += r.latencyS } else off += r.latencyS
        } catch { case e: Exception =>
          failures += 1; System.err.println(s"query ${query.kind} failed: $e")
        }
      }
    tracer.install()
    (traced.toSeq, on / off, failures)
  }

  /** Per-query read-path metrics over the traced reads. */
  def serveMetrics(reads: Seq[(Dashboard.Read, Tracer.Delta)]): Seq[(String, Double, String)] = {
    def med(f: ((Dashboard.Read, Tracer.Delta)) => Double) = Stats.median(reads.map(f))
    val lat = reads.map(_._1.latencyS * 1000)
    Seq(
      ("serve.query_p50_ms", Stats.median(lat), "ms"),
      ("serve.query_p90_ms", Stats.quantile(lat, 0.9), "ms"),
      ("serve.files_read", med(_._1.filesRead.toDouble), "count"),
      ("serve.bytes_read_mb", med(_._2.mb(Counter.BytesRead)), "MB"),
      ("serve.tasks", med(_._2(Counter.Tasks).toDouble), "count"))
  }
}
