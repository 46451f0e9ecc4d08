package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tools.Profile

/** Per-gate timer: runs `SparkEntry.queries` gates in this JVM against
  * [[Session.sfDir]] and prints ONE compact JSON line
  * `{"metric":"total","value":N,"unit":"sec","value_median":M,"n_queries":K,"failed":[...],"sf":...,"detail":"bench_detail.json"}`.
  *
  * The JVM is primed once ([[prime]]); then each gate runs once warm
  * (codegen, first-contact JIT) and [[Reps]] timed reps. Every run is
  * forced through `queryExecution.toRdd.count()`, full materialization:
  * a plain `.count()` lets Catalyst prune projections and unique-key left
  * joins above the timed work. `value` sums the gates' min-of-reps and
  * `value_median` their medians. The last rep runs under
  * [[Profile.jobs]], so `bench_detail.json` (working directory) carries
  * per gate the warm time, the reps, and that rep's jobs, stages, tasks,
  * task, deserialization and GC seconds, shuffle read/write and spill.
  *
  * A gate's time depends on where it runs. Measured on 4 cores at
  * sf0.01, the five alphabetically last gates summed 4.75 s of min-of-reps
  * late in a full suite, and 6.54 s and 6.97 s in two isolated passes (one
  * fresh JVM per gate): alone, a gate is still warming up through its
  * reps, which outweighs any in-JVM aging. Compare a gate only with a run
  * of the same shape. Bench is a per-gate diagnostic; changes are judged
  * on perfbench with paired runs (`scripts/bench_ab.py`).
  *
  * A gate that throws is named in `failed`, left out of every total, and
  * the run exits 1 after the suite.
  *
  * Usage: runMain graft.Bench [q1,q2]   (default: every gate) */
object Bench {

  type Gate = (SparkSession, String) => DataFrame

  /** Timed reps per gate, after its warm run. */
  val Reps = 4

  private val DetailPath = "bench_detail.json"

  final case class Timing(name: String, warmS: Double, reps: Seq[Double],
                          counters: Profile.Jobs) {
    def min: Double = reps.min
    def median: Double = reps.sorted.apply(reps.size / 2)
  }

  final case class Suite(sfDir: String, timings: Seq[Timing], failed: Seq[String]) {
    def total: Double = timings.map(_.min).sum
    def totalMedian: Double = timings.map(_.median).sum

    private def summary: String =
      s""""metric":"total","value":${ms(total)},"unit":"sec",""" +
        s""""value_median":${ms(totalMedian)},"n_queries":${timings.size},""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir""""

    /** The stdout line: short, so that a tail capture of the output parses. */
    def line: String = s"""{$summary,"detail":"$DetailPath"}"""

    def detail: String = timings.map { t =>
      val c = t.counters
      s""""${t.name}":{"warm":${ms(t.warmS)},"t":[${t.reps.map(ms).mkString(",")}],""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_s":${ms(c.taskS)},"deser_s":${ms(c.deserS)},"gc_s":${ms(c.gcS)},""" +
        s""""shuffle_read_mb":${ms(c.shuffleReadMb)},""" +
        s""""shuffle_write_mb":${ms(c.shuffleWriteMb)},"spill_mb":${ms(c.spillMb)}}"""
    }.mkString(s"""{$summary,"gates":{""", ",", "}}")
  }

  /** ms precision: the noise floor is far above 1 ms. */
  private def ms(t: Double): Double = math.rint(t * 1000) / 1000

  private def force(spark: SparkSession, sfDir: String, gate: Gate): Unit =
    gate(spark, sfDir).queryExecution.toRdd.count(): Unit

  /** Untimed priming before the first timed gate: a few passes of
    * representative work (parquet scan, hash join, aggregation, window,
    * sort) drain the young JVM's background JIT queue over the Spark
    * infrastructure every gate crosses, so the first gates are not billed
    * for it. A priming gate that throws is ignored. */
  def prime(spark: SparkSession, sfDir: String): Unit = {
    for (_ <- 1 to 4;
         name <- Seq("q1_pricing_summary", "q3_top_orders", "q_window_analytics"))
      try force(spark, sfDir, SparkEntry.queries(name))
      catch { case _: Throwable => () }
    System.gc()
  }

  /** Seconds for one run of `gate`, taken after a `System.gc()` so that a
    * rep is not billed for the previous rep's garbage. Throws what the
    * gate throws. */
  def time(spark: SparkSession, sfDir: String, gate: Gate): Double = {
    System.gc()
    val t0 = System.nanoTime()
    force(spark, sfDir, gate)
    (System.nanoTime() - t0) / 1e9
  }

  /** Prime, then time each gate in order; the session is left running. */
  def run(spark: SparkSession, sfDir: String, gates: Seq[(String, Gate)]): Suite = {
    prime(spark, sfDir)
    val failed = Vector.newBuilder[String]
    val timings = gates.flatMap { case (name, gate) =>
      try {
        val warm = time(spark, sfDir, gate)
        val reps = Seq.fill(Reps - 1)(time(spark, sfDir, gate))
        System.gc()
        val last = Profile.jobs(spark, name)(force(spark, sfDir, gate))
        val t = Timing(name, warm, reps :+ last.wallS, last)
        System.err.println(f"[bench] $name%-28s warm=$warm%7.2fs " +
          f"runs=${t.reps.map(r => f"$r%.2f").mkString(",")} min=${t.min}%7.2fs")
        Some(t)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        None
      }
    }
    Suite(sfDir, timings, failed.result())
  }

  def main(args: Array[String]): Unit = {
    val all = SparkEntry.queries
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(all.keys.toSeq).sorted
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(", ")}")
    val spark = Session.build()
    val suite =
      try run(spark, Session.sfDir, names.map(n => n -> all(n)))
      finally spark.stop()
    Files.writeString(Paths.get(DetailPath), suite.detail)
    println(suite.line)
    if (suite.failed.nonEmpty) {
      System.err.println(
        s"[bench] ${suite.failed.size} queries failed: ${suite.failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
