package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.Tables

/** Benchmark entry point. One run = one workload, one seed, one JSON line.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --root <checkout> [--drop-output-row] [--print-golden]
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` installs the
  * engine listeners and reports the per-layer metrics. `--drop-output-row`
  * deletes one written output row before the output checks run, to show
  * that the checks catch it (the run must then report correct=false).
  * `--print-golden` prints the curation gates' fingerprints to stderr as
  * rows of perfbench/golden/curation_sf0.1.csv.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, root: File, dropOutputRow: Boolean,
                        printGolden: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--root")).getAbsoluteFile,
      argv.contains("--drop-output-row"), argv.contains("--print-golden"))
  }

  def session(root: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val tmp = new File(root, ".bench_build/tmp")
    tmp.mkdirs()
    val b = SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.getPath)
      .config("spark.sql.warehouse.dir", new File(root, ".bench_build/warehouse").getPath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = new File(args.root,
      s".bench_build/work/${args.workload}-${ProcessHandle.current().pid()}")
    Files.rm(work)
    work.mkdirs()
    val spark = session(args.root)
    val ctx = Ctx(spark, args, work)
    val result =
      try args.workload match {
        case "batch_recompute" => BatchRecompute.run(ctx)
        case "curation_gates"  => CurationGates.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally {
        spark.stop()
        Files.rm(work)
      }
    System.out.println(result.json)
    System.out.flush()
  }
}

/** What every workload receives. */
final case class Ctx(spark: SparkSession, args: Main.Args, work: File) {
  def dir(name: String): String = new File(work, name).getPath
}

/** Every per-layer metric a traced run reports, in order. A workload
  * that does not exercise a layer reports its metrics as 0. */
object PerLayer {
  val metrics: Seq[(String, String)] = Seq(
    "operators.qc.s" -> "s", "operators.ivc.s" -> "s", "operators.fanout.s" -> "s",
    "operators.links.s" -> "s", "operators.codes.s" -> "s", "operators.alerts.s" -> "s",
    "operators.ivc.shuffle_mb" -> "MB", "operators.links.shuffle_mb" -> "MB",
    "operators.fused_ratio" -> "ratio",
    "plan.construct_s" -> "s", "plan.optimize_s" -> "s", "plan.physical_s" -> "s",
    "codegen.compile_s" -> "s", "codegen.classes" -> "count",
    "sinks.data_write_s" -> "s", "sinks.upsert_s" -> "s", "sinks.bytes_written_mb" -> "MB",
    "sinks.write_amp" -> "ratio", "sinks.store_files" -> "count",
    "alerts.wall_s" -> "s",
    "streaming.batch_s" -> "s", "streaming.start_s" -> "s",
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "sources.rows_in" -> "count", "sources.malformed" -> "count",
    "serve.query_p50_ms" -> "ms", "serve.query_p90_ms" -> "ms",
    "serve.files_read" -> "count", "serve.bytes_read_mb" -> "MB", "serve.tasks" -> "count") ++
    CurationGates.Gates.flatMap(g => Seq(s"curation.$g.s" -> "s", s"curation.$g.jobs" -> "count")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_s" -> "s", "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB",
      "trace_overhead" -> "ratio")

  /** The full per-layer list with the measured values filled in. */
  def complete(measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val byName = measured.map(m => m._1 -> m).toMap
    val unknown = byName.keySet -- metrics.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    metrics.map { case (n, u) => byName.get(n).map(_.copy(_3 = u)).getOrElse((n, 0.0, u)) }
  }
}

/** The run's result line. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** Files of a directory tree that a reader would open (no `_`/`.`
    * prefixed metadata), with their total size in bytes. */
  def dataFiles(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .flatMap(dataFiles)
    else Seq(f)

  def bytes(f: File): Long = dataFiles(f).map(_.length).sum
}

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1000.0}%7.1f s] $msg")
}

/** Order statistics over the samples of one run. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def time[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }
}
