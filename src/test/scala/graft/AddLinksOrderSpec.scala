package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.config.{CodeDef, LinkDef}
import graft.operators.AddLinks

/** Regression gate for the round-3 ordering bug: link-array order must hold
  * under aggregation implementation fallback, not just on spec-sized data.
  *
  * `ObjectHashAggregateExec` switches to sort-based aggregation once a
  * partition exceeds `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * distinct groups (default 128); the group straddling the switch gets its
  * rows split between the hash-map phase and the sorted-run phase, which is
  * how a `sortWithinPartitions` + `groupBy.collect_list` formulation (no
  * ordering contract) silently rotated arrays at sf0.01 while staying green
  * on small specs. This spec forces the fallback at threshold=2 over
  * hundreds of groups per partition, so any future order-sensitive
  * aggregation without a contract fails in `sbt test` instead of in the
  * driver's oracle run. */
class AddLinksOrderSpec extends AnyFunSuite {

  // independent SQLConf on the shared context: the forced fallback must not
  // leak into other suites
  private lazy val spark = {
    val s = SparkSpec.spark.newSession()
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2")
    s
  }

  private val nGroups = 600
  private val perGroup = 5

  // input arrives in REVERSE order-key order, so any formulation that leaks
  // arrival order into the arrays is wrong for every group
  private def fixtures() = {
    import spark.implicits._
    val base = (1 to nGroups)
      .map(g => (f"g$g%04d", Map("k" -> f"g$g%04d")))
      .toDF("uuid", "data")
    val linked = (1 to nGroups).flatMap { g =>
      (perGroup to 1 by -1).map { j =>
        Map("k" -> f"g$g%04d", "ok" -> s"k$j", "v" -> s"v$g:$j")
      }
    }.map(Tuple1(_)).toDF("data")
    (base, linked)
  }

  private val link = LinkDef("items", "t", "base", "linked",
    Seq("k"), Seq("k"), Seq("match"),
    orderByColumn = "ok", orderByIsDate = false)

  test("link arrays stay order-key-sorted under forced sort-based fallback") {
    val (base, linked) = fixtures()
    val out = AddLinks.linkMatches(base, linked, link, alertIdLength = 6,
      payload = Some(element_at(col("__l_data"), "ok")))
    val rows = out.select(col("uuid"), col("__linked")).collect()
    assert(rows.length === nGroups)
    val expected = (1 to perGroup).map(j => s"k$j")
    rows.foreach { r =>
      val arr = r.getSeq[String](1)
      assert(arr === expected, s"misordered array for group ${r.getString(0)}")
    }
  }

  test("full-map arrays stay sorted too (default payload)") {
    val (base, linked) = fixtures()
    val out = AddLinks.linkMatches(base, linked, link, alertIdLength = 6)
    val rows = out
      .select(col("uuid"),
        transform(col("__linked"), m => element_at(m, "ok")).as("oks"))
      .collect()
    assert(rows.length === nGroups)
    val expected = (1 to perGroup).map(j => s"k$j")
    rows.foreach { r =>
      assert(r.getSeq[String](1) === expected,
        s"misordered array for group ${r.getString(0)}")
    }
  }

  test("first/last pre-aggregations match the sorted array ends") {
    val (base, linked) = fixtures()
    val codes = Seq(
      CodeDef(id = "first_v", form = "linked", multipleLink = Some("first"),
        method = "value", condition = "None", dbColumn = "v"),
      CodeDef(id = "last_v", form = "linked", multipleLink = Some("last"),
        method = "value", condition = "None", dbColumn = "v"),
      CodeDef(id = "n", form = "linked", multipleLink = Some("count"),
        method = "not_null", condition = "None", dbColumn = "v"))
    val out = AddLinks(base, Map("linked" -> linked), Seq(link),
      linkCodes = codes, collectArrays = false)
    val rows = out.select(col("uuid"),
      col("__lc_first_v").getField("v"), col("__lc_last_v").getField("v"),
      col("__lc_n")).collect()
    assert(rows.length === nGroups)
    rows.foreach { r =>
      val g = r.getString(0).drop(1).toInt
      assert(r.getString(1) === s"v$g:1")
      assert(r.getString(2) === s"v$g:$perGroup")
      assert(r.getLong(3) === perGroup)
    }
  }
}
