package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.operators.Dedup
import Tracer.Counter

/** curation_gates: one pass over a fixed list of curation gates at the
  * fixed scale-factor testdata. The inputs are the environment's testdata,
  * so the seed selects nothing here; it only names the run.
  *
  * Memo caches stay out of the timings: `TrainingDataQueries` memoizes a
  * few fitted results per (session, directory), and no two listed gates
  * share one (web_pipeline_mm holds webPipelineFrame and phashKeepIds,
  * decontaminate_sa holds deconSaFit; the others use none), the warm-up
  * runs on the smaller scale factor, whose cache keys differ, and each
  * gate is timed at its first call in the session. Between gates the
  * session's cached frames and Dedup's tracked caches are released
  * outside the timing. A cache hit would show as a gate with no jobs. */
object CurationGates {

  /** dedup_keep and quality_signals are not listed, to keep a run short
    * (see perfbench/README.md) */
  val Gates: Seq[String] = Seq("corpus_pipeline", "web_pipeline_mm",
    "decontaminate_sa", "pack_greedy", "host_pagerank", "bpe_merges")
  val SetupRounds = 3
  /** scale factors of the measured pass and the warm-up */
  val MeasuredSf = "0.1"
  val WarmupSf = "0.01"
  /** set-up warm-up gate; it holds no memo cache */
  val SetupGates: Seq[String] = Seq("bpe_merges")

  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Dedup.releaseIntermediateCaches(blocking = true)
  }

  /** Call a gate and materialize its whole output (gates end in an eager
    * checkpoint, so the call itself does most of the work). */
  def call(spark: SparkSession, gate: String, dir: String): DataFrame = {
    val df = SparkEntry.queries(gate)(spark, dir)
    df.queryExecution.toRdd.count()
    df
  }

  /** Row count and an order-independent content hash of a gate output
    * ([[Checks.fingerprint]] of each row's JSON rendering, with doubles
    * rounded to 9 significant digits). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val normed = df.select(df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      (f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c.cast("double"))
        case _ => c
      }).as(f.name)
    }: _*)
    Checks.fingerprint(normed.select(
      to_json(struct(normed.columns.map(c => col(s"`$c`")): _*)).as("row")))
  }

  /** The output without one row (`--drop-output-row`). */
  private def dropFirstRow(df: DataFrame): DataFrame = {
    val numbered = df.withColumn("__row", monotonically_increasing_id())
    numbered.filter(col("__row") =!= numbered.agg(min("__row")).head().getLong(0))
      .drop("__row")
  }

  def golden(root: File): Map[String, (Long, Long)] = {
    val f = new File(root, "perfbench/golden/curation_sf0.1.csv")
    if (!f.exists()) Map.empty
    else Fixtures.readCsv(f).map(r => r("gate") -> ((r("rows").toLong, r("hash").toLong))).toMap
  }

  /** A scale factor's testdata directory, from the table in TESTDATA.md,
    * the one place that records where the fixed testdata lives. */
  def testdata(root: File, sf: String): String = {
    val row = ("^\\|\\s*" + java.util.regex.Pattern.quote(sf) + "\\s*\\|\\s*`([^`]+)`").r
    val src = scala.io.Source.fromFile(new File(root, "TESTDATA.md"), "UTF-8")
    try src.getLines().flatMap(l => row.findFirstMatchIn(l).map(_.group(1)))
      .nextOption().map(_.stripSuffix("/"))
      .getOrElse(throw new IllegalStateException(s"TESTDATA.md lists no sf$sf directory"))
    finally src.close()
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val measured = testdata(ctx.args.root, MeasuredSf)
    val warmup = testdata(ctx.args.root, WarmupSf)
    require(new File(measured).isDirectory && new File(warmup).isDirectory,
      s"testdata missing: $measured, $warmup")

    // set-up: a new session and the warm-up gate on the smaller scale
    // factor, repeated
    val setups = (1 to SetupRounds).map { _ =>
      Stats.time {
        val s = spark.newSession()
        SetupGates.foreach(g => call(s, g, warmup))
        release(s)
      }._2
    }
    Log(s"set-up rounds: ${setups.mkString(", ")}")

    val tracer = new Tracer(spark)
    val trace = ctx.args.trace
    // a traced run makes an untraced pass first (for trace_overhead), each
    // pass in its own session so no gate meets a memo cache
    val passes = if (trace) Seq(false, true) else Seq(false)
    var timed = Seq.empty[(String, Tracer.Delta, (Long, Long))]
    val walls = passes.map { traced =>
      if (traced) tracer.install()
      val s = spark.newSession()
      timed = Gates.map { g =>
        val (df, d) = tracer.span(call(s, g, measured))
        val fp = fingerprint(
          if (ctx.args.dropOutputRow && g == Gates.head) dropFirstRow(df) else df)
        Log(f"$g ${d.wallS}%.2f s")
        release(s)
        (g, d, fp)
      }
      timed.map(_._2.wallS).sum
    }

    val expect = golden(ctx.args.root)
    val problems = timed.flatMap { case (g, _, got) =>
      expect.get(g) match {
        case Some(want) if want == got => None
        case Some(want) => Some(s"$g: (rows, hash) $got, golden $want")
        case None => Some(s"$g: no golden")
      }
    }
    problems.foreach(p => System.err.println(s"check failed: $p"))
    if (ctx.args.printGolden)
      timed.foreach { case (g, _, (r, h)) => System.err.println(s"golden,$g,$r,$h") }
    val wall = walls.last
    val docs = spark.read.parquet(s"$measured/documents.parquet").count()

    val metrics =
      if (!trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("wall_s", wall, "s"),
        ("rows_per_s", docs * Gates.size / wall, "1/s"))
      else {
        val sum = timed.map(_._2).reduce(_ + _)
        PerLayer.complete(Seq(
          ("codegen.compile_s", sum.compileS, "s"),
          ("codegen.classes", sum.compiles.toDouble, "count")) ++
          timed.flatMap { case (g, d, _) =>
            Seq((s"curation.$g.s", d.wallS, "s"), (s"curation.$g.jobs", d(Counter.Jobs).toDouble, "count"))
          } ++
          Tracer.engineMetrics(sum) ++ Seq(
          ("trace_overhead", walls.last / walls.head, "ratio")))
      }
    Result(problems.isEmpty, Gates.size.toLong, 0L, metrics)
  }
}
