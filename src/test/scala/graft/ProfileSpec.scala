package graft

import scala.reflect.ClassTag
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Profile

/** The profiler stays runnable: each mode reports on a real gate in the
  * shared session, and leaves the session running with its confs as found.
  * Bench's in-process core records one rep per gate through it. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def report[R <: Profile.Report: ClassTag](mode: String): R =
    Profile.report(spark, sfDir, "q1_pricing_summary", mode) match {
      case r: R  => r
      case other => fail(s"$mode reported $other")
    }

  test("--jobs counts the measured run's jobs, stages and tasks") {
    val r = report[Profile.Jobs]("--jobs")
    assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= 1, r.render)
    assert(r.deserS >= 0 && r.gcS >= 0, r.render)
    assert(r.render.contains(" deser=") && r.render.contains(" gc="), r.render)
  }

  test("--stages rows carry a graft. call site") {
    val r = report[Profile.Stages]("--stages")
    assert(r.top.nonEmpty, r.render)
    assert(r.top.forall(_.callSite.startsWith("graft.")), r.render)
    assert(r.top.forall(s => s.deserMs >= 0 && s.gcMs >= 0), r.render)
    assert(r.render.contains(" deser=") && r.render.contains(" gc="), r.render)
  }

  test("--plan counts a shuffle, then restores AQE and keeps the session") {
    val r = report[Profile.Plan]("--plan")
    assert(r.shuffles >= 1 && r.codegenSpans >= 1, r.render)
    assert(r.expressionNodes >= 1 && r.render.contains("expressionNodes="), r.render)
    assert(r.formatted.contains("Exchange"))
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() === 3L)
  }

  test("Bench times a gate with Profile's counters and names a gate that throws") {
    val boom: Bench.Gate = (_, _) => throw new IllegalStateException("injected gate failure")
    val suite = Bench.run(spark, sfDir, Seq(
      "q1_pricing_summary" -> SparkEntry.queries("q1_pricing_summary"), "boom" -> boom))
    assert(suite.failed === Seq("boom"))
    val Seq(t) = suite.timings
    assert(t.name === "q1_pricing_summary" && t.reps.size === 4)
    val c = t.counters
    assert(c.jobs >= 1 && c.tasks >= 1 && c.deserS >= 0 && c.gcS >= 0, c.render)
    assert(suite.total === t.min && suite.totalMedian === t.median)
    assert(suite.line.contains(""""n_queries":1,"failed":["boom"]"""))
    assert(!suite.detail.contains(""""boom":{"""), suite.detail)
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() === 3L)
  }
}
