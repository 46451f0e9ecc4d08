package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.config._
import graft.functions.{EpiWeek, MapResolver}
import graft.operators.ToCodes

/** Config-layer features added in round 2:
  *  - CalculationParameters (model.py:231-236, database_setup.py:331-362)
  *    consumed by calc rules as `<file>.<group>.<key>` paths and by dynamic
  *    per-row lookups;
  *  - custom per-year epi-week config (util/epi_week.py:58-81, 176-180),
  *    property-checked against a direct port of the reference algorithm.
  */
class ConfigFeaturesSpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  // the two parameter files the specs assert against, from the test classpath
  private lazy val params = CalculationParameters.load(
    Seq("medicine_kits", "vaccination_vials").map { stem =>
      new java.io.File(getClass.getResource(
        s"/calculation_parameters/$stem.json").toURI).getPath
    })

  test("parameter files load keyed by file stem with stringified leaves") {
    assert(params.keySet === Set("medicine_kits", "vaccination_vials"))
    assert(params("medicine_kits")("barcode_albe")("dose") === "1")
    assert(params("medicine_kits")("barcode_albe")("tablets_in_kit") === "200")
    assert(params("vaccination_vials")("vials")("BCG") === "20")
  }

  test("calc rule consumes a parameter via its <file>.<group>.<key> path") {
    // kits needed = tablets dispensed / tablets_in_kit (medicine_kits fixture)
    val df = Seq(Tuple1(Map("dispensed" -> "600"))).toDF("data")
    val code = CodeDef(id = "kits_needed", method = "calc", condition = "None",
      calculation = "dispensed / medicine_kits.barcode_albe.tablets_in_kit",
      dbColumn = "dispensed,medicine_kits.barcode_albe.tablets_in_kit")
    val r = new ParameterResolver(new MapResolver(col("data")), params)
    val out = ToCodes(df, Seq(code), r)
    val vars = out.select("variables").as[Map[String, String]].head()
    assert(vars("kits_needed").toDouble === 3.0) // 600 / 200
  }

  test("dynamic parameter lookup by a row column") {
    // vaccination_vials: vials per antigen, keyed by the record's antigen
    val df = Seq(("r1", "BCG"), ("r2", "ROTARIX")).toDF("id", "antigen")
    val out = df.select(col("id"),
      CalculationParameters.value(params, "vaccination_vials", "vials",
        col("antigen")).as("vials"))
      .as[(String, String)].collect().toMap
    assert(out("r1") === "20" && out("r2") === "1")
  }

  // --- custom per-year epi weeks ---

  // the docstring example (epi_week.py:56-60), extended with a long year:
  // 2011 starts 2011-01-02; 2012 starts 2011-12-31
  private val customCfg = EpiWeek.Custom(Map(
    2011 -> java.time.LocalDate.of(2011, 1, 2),
    2012 -> java.time.LocalDate.of(2011, 12, 31),
    2013 -> java.time.LocalDate.of(2012, 12, 30)))

  /** Direct port of the reference algorithm
    * (__get_epi_week_for_custom_config + epi_week_for_date). */
  private def model(d: java.time.LocalDate): Option[(Int, Int)] = {
    val sorted = customCfg.starts.toSeq.sortBy(_._2.toEpochDay).reverse
    sorted.find { case (_, start) => !d.isBefore(start) }.map {
      case (year, start) =>
        val week = java.time.temporal.ChronoUnit.DAYS.between(start, d).toInt / 7 + 1
        if (week == 53) (year, 53) else (year, week) // leave_as_is
    }
  }

  test("custom epi-week config matches the reference algorithm (property)") {
    val days = Gen.choose(-30L, 830L) // straddles both configured boundaries
    val base = java.time.LocalDate.of(2011, 1, 2)
    check(forAll(Gen.listOfN(60, days)) { offsets =>
      val dates = offsets.map(base.plusDays)
      val df = dates.map(d => Tuple1(java.sql.Date.valueOf(d))).toDF("d")
      val yw = EpiWeek.epiYearWeek(col("d"), customCfg)
      val got = df.select(yw.getField("epi_year"), yw.getField("epi_week"))
        .collect().map(r =>
          if (r.isNullAt(0)) None else Some((r.getInt(0), r.getInt(1))))
      val expected = dates.map(model)
      Prop(got.toSeq == expected.toSeq)
    })
  }

  test("custom epi-week year boundaries are exact") {
    val df = Seq(
      "2011-01-01", // before every configured start -> null (reference raises)
      "2011-01-02", // first day of 2011 -> week 1
      "2011-12-30", // last day of 2011's epi year (52 weeks + 1 day short)
      "2011-12-31", // first day of epi 2012
      "2012-12-29", // last day of epi 2012: day 364 -> one-day week 53
      "2012-12-30"  // first day of epi 2013
    ).map(Tuple1(_)).toDF("s").withColumn("d", col("s").cast("date"))
    val yw = EpiWeek.epiYearWeek(col("d"), customCfg)
    val rows = df.select(col("s"), yw.getField("epi_year"), yw.getField("epi_week"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else (r.getInt(1), r.getInt(2)))).toMap
    assert(rows("2011-01-01") === null)
    assert(rows("2011-01-02") === (2011, 1))
    assert(rows("2011-12-30") === (2011, 52))
    assert(rows("2011-12-31") === (2012, 1))
    assert(rows("2012-12-29") === (2012, 53)) // leave_as_is keeps week 53
    assert(rows("2012-12-30") === (2013, 1))
  }
}
