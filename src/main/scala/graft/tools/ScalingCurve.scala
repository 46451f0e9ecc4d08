package graft.tools

import graft.{Session, SparkEntry, Tables}

/** Measured scaling curves across the three testdata decades
  * (sf0.001 → sf0.01 → sf0.1, 10× data each step) for the headline
  * queries — the runtime companion to PlanInvarianceSpec's pinned plan
  * shapes: the 100× claim should ride on BOTH "the plan is the same
  * shape" and "wall time grows at-or-under the data growth".
  *
  * Method: one JVM, primed (same pass the bench uses), per (query, sf):
  * one warm construction+run, then `reps` timed runs, min reported.
  * Expect ratios well UNDER 10× per decade at these toy sizes — fixed
  * per-job scheduling dominates small SFs; a ratio NEAR or
  * ABOVE 10× flags a super-linear stage (quadratic pair blowup, a
  * driver-side collect growing with the corpus, a skew hotspot).
  *
  * Usage: runMain graft.tools.ScalingCurve [queries] [reps]
  *        (defaults: the 10 heaviest + 3 representative linear ops, 3)
  */
object ScalingCurve {
  private val DefaultQueries = Seq(
    "quality_lr", "corpus_pipeline", "a6_multiple_link",
    "dedup_components_stars", "dedup_jaccard_prefix",
    "dedup_containment_prefix", "dedup_keep_best",
    "ann_ivfpq", "dedup_components", "ccnet_buckets", "dsir_weights",
    "dedup_exact", "text_langid", "corpus_mix")

  def main(args: Array[String]): Unit = {
    val names = args.headOption.filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSeq).getOrElse(DefaultQueries)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")
    val spark = Session.build()
    // corpus sizes per SF, for the data-growth denominator
    sfs.foreach { dir =>
      val docs = Tables.documents(spark, dir).count()
      val li = Tables.lineitem(spark, dir).count()
      println(s"SCALING sf=$dir documents=$docs lineitem=$li")
    }
    // priming (the bench's discipline): drain infra JIT before timing
    Seq("q1_pricing_summary", "q3_top_orders", "q_window_analytics")
      .flatMap(SparkEntry.queries.get).foreach { fn =>
        (1 to 4).foreach { _ =>
          try fn(spark, sfs.last).queryExecution.toRdd.count()
          catch { case _: Throwable => () }
        }
      }
    spark.catalog.clearCache()
    def timeOnce(name: String, dir: String): Double = {
      System.gc()
      val t0 = System.nanoTime()
      // a failed query must NOT report its time-to-failure as a
      // measurement — NaN poisons the min and the ratio columns so the
      // table shows the failure instead of a fast bogus number
      val ok =
        try { SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[scaling] $name @ $dir FAILED: ${e.getMessage}")
          false
        }
      spark.catalog.clearCache()
      if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
    }
    println(f"${"query"}%-24s ${"sf0.001"}%8s ${"sf0.01"}%8s ${"sf0.1"}%8s ${"x01/001"}%8s ${"x1/01"}%8s")
    names.foreach { name =>
      if (!SparkEntry.queries.contains(name))
        println(s"SCALING $name: unknown query")
      else {
        val mins = sfs.map { dir =>
          timeOnce(name, dir) // warm: codegen + first-contact JIT
          (1 to reps).map(_ => timeOnce(name, dir)).min
        }
        println(f"SCALING ${name}%-24s ${mins(0)}%8.2f ${mins(1)}%8.2f ${mins(2)}%8.2f " +
          f"${mins(1) / mins(0)}%8.2f ${mins(2) / mins(1)}%8.2f")
      }
    }
    spark.stop()
  }
}
