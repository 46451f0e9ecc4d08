package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.config._
import graft.operators._

/** Step-level tests over in-memory form DataFrames — ports of the reference's
  * test_quality_control.py / test_to_data_type.py / test_add_links.py /
  * test_initial_visit_control.py assertions (which are arrival-order
  * insensitive, so the batch recompute must reproduce them exactly).
  */
class PipelineStepsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def form(rows: (String, Map[String, String])*) =
    rows.toSeq.toDF("uuid", "data")

  // --- QualityControl ---

  test("qc discard code drops failing rows") {
    val df = form(
      "u1" -> Map("results./bmi_height" -> "170"),
      "u2" -> Map("results./bmi_height" -> "20")) // fails 50<=h<220? no: 20 fails
    val qc = QualityControlDef(qcCodes = Seq(
      CodeDef(id = "qc_1", method = "between", condition = "50,220",
        calculation = "results./bmi_height", dbColumn = "results./bmi_height",
        category = Seq("discard"))))
    val out = QualityControl(df, qc).select("uuid").as[String].collect().toSet
    assert(out === Set("u1"))
  }

  test("qc repair code nulls the failing column, keeps the row") {
    val df = form(
      "u1" -> Map("results./bmi_height" -> "170", "other" -> "x"),
      "u2" -> Map("results./bmi_height" -> "700", "other" -> "y"))
    val qc = QualityControlDef(qcCodes = Seq(
      CodeDef(id = "qc_1", method = "between", condition = "50,220",
        calculation = "results./bmi_height", dbColumn = "results./bmi_height")))
    val out = QualityControl(df, qc)
      .select(col("uuid"), element_at(col("data"), "results./bmi_height").as("h"))
      .as[(String, Option[String])].collect().toMap
    assert(out("u1") === Some("170"))
    assert(out("u2").isEmpty)
  }

  test("qc replace:<col> copies the replacement column in on failure") {
    val df = form(
      "u1" -> Map("age" -> "999", "child_age" -> "4"))
    val qc = QualityControlDef(qcCodes = Seq(
      CodeDef(id = "qc_2", method = "between", condition = "0,120",
        calculation = "age", dbColumn = "age",
        category = Seq("replace:child_age"))))
    val out = QualityControl(df, qc)
      .select(element_at(col("data"), "age")).as[String].head()
    assert(out === "4")
  }

  test("qc repair then discard on one column: the program equals the column oracle") {
    val df = form(
      "u1" -> Map("age" -> "30"),
      "u2" -> Map("age" -> "300"),   // repaired to null, then discarded
      "u3" -> Map("age" -> ""),
      "u4" -> Map("other" -> "x"),
      "u5" -> Map("age" -> "abc"),
      "u6" -> Map("age" -> "119.5"))
    val codes = Seq(
      CodeDef(id = "qc_age", method = "between", condition = "0,120",
        calculation = "age", dbColumn = "age"),
      CodeDef(id = "qc_age_given", method = "not_null", condition = "None",
        dbColumn = "age", category = Seq("discard")))
    // the QC loop over the Column formulation of each rule
    val oracle = codes.foldLeft(df) { (acc, code) =>
      val pred = ColumnCompiler.compile(code, new graft.functions.MapResolver(col("data")))
        .applicable
      if (code.category == Seq("discard")) acc.filter(pred)
      else acc.withColumn("data", when(pred, col("data"))
        .otherwise(map_concat(col("data"), map(lit("age"), lit(null).cast("string")))))
    }
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("uuid", "data").as[(String, Map[String, String])].collect().toMap
    val main = rows(QualityControl(df, QualityControlDef(qcCodes = codes)))
    assert(main === rows(oracle))
    assert(main === Map("u1" -> Map("age" -> "30"), "u6" -> Map("age" -> "119.5")))
  }

  test("qc exclusion list and submission date gate") {
    val df = form(
      "u1" -> Map("SubmissionDate" -> "2016-04-17T02:43:31"),
      "u2" -> Map("SubmissionDate" -> "2016-04-17T02:43:31"),
      "u3" -> Map("SubmissionDate" -> "2015-01-01T00:00:00"))
    val qc = QualityControlDef(
      exclusionUuids = Seq("u2"),
      onlyImportAfter = Some("2016-01-01T00:00:00"))
    val out = QualityControl(df, qc).select("uuid").as[String].collect().toSet
    assert(out === Set("u1"))
  }

  test("qc deviceid approval and start-date cutoff") {
    val df = form(
      "u1" -> Map("deviceid" -> "d1", "SubmissionDate" -> "2016-04-17"),
      "u2" -> Map("deviceid" -> "d9", "SubmissionDate" -> "2016-04-17"),
      "u3" -> Map("deviceid" -> "d2", "SubmissionDate" -> "2016-04-17"))
    val qc = QualityControlDef(
      approvedDeviceIds = Some(Seq("d1", "d2")),
      deviceStartDates = Map("d2" -> "2017-01-01"))
    val out = QualityControl(df, qc).select("uuid").as[String].collect().toSet
    assert(out === Set("u1")) // u2: unapproved; u3: before clinic start date
  }

  test("qc date validation drops unparseable event dates for matching type") {
    val df = form(
      "u1" -> Map("intro./visit" -> "new", "pt./visit_date" -> "2016-04-17"),
      "u2" -> Map("intro./visit" -> "new", "pt./visit_date" -> "garbage"),
      "u3" -> Map("intro./visit" -> "return", "pt./visit_date" -> "garbage"))
    val out = QualityControl(df, QualityControlDef(),
      dateValidationColumns = Seq((Some(("intro./visit", "new")), "pt./visit_date")))
      .select("uuid").as[String].collect().toSet
    assert(out === Set("u1", "u3")) // u3 not in the type → date not validated
  }

  // --- InitialVisitControl ---

  test("initial visit control demotes later duplicate new visits") {
    val cfg = InitialVisitDef("demo_case",
      identifierKeys = Seq("pt./pid", "icd_code"),
      visitTypeKey = "intro./visit", visitDateKey = "pt./visit_date",
      moduleKey = "intro./module", moduleValue = "ncd")
    val df = form(
      "u1" -> Map("pt./pid" -> "1", "icd_code" -> "A80.9", "intro./visit" -> "new",
        "pt./visit_date" -> "2016-01-02", "intro./module" -> "ncd"),
      "u2" -> Map("pt./pid" -> "1", "icd_code" -> "A80.9", "intro./visit" -> "new",
        "pt./visit_date" -> "2016-01-01", "intro./module" -> "ncd"),
      "u3" -> Map("pt./pid" -> "1", "icd_code" -> "A80.9", "intro./visit" -> "new",
        "pt./visit_date" -> "2016-02-01", "intro./module" -> "cd"), // other module
      "u4" -> Map("pt./pid" -> "2", "icd_code" -> "A80.9", "intro./visit" -> "new",
        "pt./visit_date" -> "2016-03-01", "intro./module" -> "ncd"))
    val out = InitialVisitControl(df, cfg)
      .select(col("uuid"), element_at(col("data"), "intro./visit").as("v"))
      .as[(String, String)].collect().toMap
    assert(out === Map(
      "u1" -> "return", // later than u2
      "u2" -> "new",    // earliest in group
      "u3" -> "new",    // different module — untouched
      "u4" -> "new"))   // different patient
  }

  // --- ToDataType ---

  test("to_data_type fans a form into matching typed streams") {
    val types = Seq(
      DataTypeDef("case", "demo_case", Some("intro./visit"), Some("new"),
        "pt./visit_date", "tot_1"),
      DataTypeDef("visit", "demo_case", None, None, "pt./visit_date", "vis_0"))
    val df = form(
      "u1" -> Map("intro./visit" -> "new"),
      "u2" -> Map("intro./visit" -> "return"))
    val streams = ToDataType.fanOut(df, "demo_case", types)
      .map { case (t, d) => t.name -> d.select("uuid").as[String].collect().toSet }
      .toMap
    assert(streams("case") === Set("u1"))
    assert(streams("visit") === Set("u1", "u2"))
  }

  // --- AddLinks ---

  test("add_links match method collects ordered linked rows") {
    val base = form(
      "c1" -> Map("pt./pid" -> "101"),
      "c2" -> Map("pt./pid" -> "202"))
    val linked = form(
      "f1" -> Map("pid" -> "101", "visit_date" -> "2016-01-05", "lab" -> "yes"),
      "f2" -> Map("pid" -> "101", "visit_date" -> "2016-01-02", "lab" -> "no"),
      "f3" -> Map("pid" -> "999", "visit_date" -> "2016-01-03", "lab" -> "no"))
    val link = LinkDef("followups", "case", "demo_case", "demo_followup",
      Seq("pt./pid"), Seq("pid"), Seq("match"), "visit_date", orderByIsDate = true)
    val out = AddLinks(base, Map("demo_followup" -> linked), Seq(link))
      .select(col("uuid"),
        transform(element_at(col("links"), "followups"),
          m => element_at(m, "lab")).as("labs"))
      .as[(String, Option[Seq[String]])].collect().toMap
    assert(out("c1") === Some(Seq("no", "yes"))) // date-ordered f2 then f1
    assert(out("c2").isEmpty)
  }

  test("add_links lower_match normalizes case and dashes") {
    val base = form("c1" -> Map("code" -> "A80-9"))
    val linked = form("f1" -> Map("code" -> "a80_9", "v" -> "x"))
    val link = LinkDef("norm", "case", "a", "b",
      Seq("code"), Seq("code"), Seq("lower_match"), "v", orderByIsDate = false)
    val out = AddLinks(base, Map("b" -> linked), Seq(link))
      .select(size(element_at(col("links"), "norm"))).as[Int].head()
    assert(out === 1)
  }

  test("add_links alert_match joins on uuid suffix") {
    val base = form(
      "c1" -> Map("uuid_col" -> "uuid:abcdef123456"))
    val linked = form(
      "f1" -> Map("pt./alert_id" -> "123456", "v" -> "x"),
      "f2" -> Map("pt./alert_id" -> "999999", "v" -> "y"))
    val link = LinkDef("alert_investigation", "case", "demo_case", "demo_alert",
      Seq("uuid_col"), Seq("pt./alert_id"), Seq("alert_match"), "v",
      orderByIsDate = false)
    val out = AddLinks(base, Map("demo_alert" -> linked), Seq(link),
      alertIdLength = 6)
      .select(size(element_at(col("links"), "alert_investigation"))).as[Int].head()
    assert(out === 1)
  }

  test("add_links to_condition filters linked rows") {
    val base = form("c1" -> Map("pt./pid" -> "1"))
    val linked = form(
      "f1" -> Map("pid" -> "1", "status" -> "ok", "v" -> "a"),
      "f2" -> Map("pid" -> "1", "status" -> "void", "v" -> "b"))
    val link = LinkDef("l", "case", "a", "b", Seq("pt./pid"), Seq("pid"),
      Seq("match"), "v", orderByIsDate = false,
      toCondition = Some(("status", "ok")))
    val out = AddLinks(base, Map("b" -> linked), Seq(link))
      .select(transform(element_at(col("links"), "l"),
        m => element_at(m, "v"))).as[Seq[String]].head()
    assert(out === Seq("a"))
  }

  // --- MultipleAlerts ---

  private def codedData(rows: (String, Int, String, Map[String, String])*) =
    rows.toSeq.toDF("uuid", "clinic", "d", "variables")
      .withColumn("date", col("d").cast("timestamp")).drop("d")
      .withColumn("epi_year", lit(2016))
      .withColumn("epi_week", weekofyear(col("date")))

  test("daily threshold alert fires at the limit with sorted uuids") {
    val data = codedData(
      ("a1", 1, "2016-01-04", Map("cmd_1" -> "1")),
      ("a2", 1, "2016-01-04", Map("cmd_1" -> "1")),
      ("a3", 1, "2016-01-04", Map("cmd_1" -> "1")),
      ("a4", 1, "2016-01-05", Map("cmd_1" -> "1")),
      ("a5", 2, "2016-01-04", Map("cmd_2" -> "1")))
    val alerts = MultipleAlerts.dailyThreshold(data, "cmd_1", 3)
    val row = alerts.select(col("clinic"), col("n"), col("uuids")).head()
    assert(alerts.count() === 1)
    assert(row.getInt(0) === 1 && row.getLong(1) === 3L)
    assert(row.getSeq[String](2) === Seq("a1", "a2", "a3"))
  }

  /** Weekly fixture shaped like the reference's `self.double` /
    * `self.double_new_year` (test_add_multiple_alerts.py:231-330, 433-533):
    * `counts` records per listed (epi_year, epi_week), uuids w<i>r<j>. */
  private def weeklyData(counts: (Int, Int, Int)*) = {
    val rows = counts.zipWithIndex.flatMap { case ((y, wk, n), i) =>
      Seq.tabulate(n)(j => (f"w$i%02dr$j%02d", 1, y, wk))
    }
    rows.toSeq.toDF("uuid", "clinic", "epi_year", "epi_week")
      .withColumn("date", lit("2016-01-04").cast("timestamp"))
      .withColumn("variables", map(lit("cmd_1"), lit("1")))
  }

  test("hospital limits gate Hospital clinics at the higher threshold") {
    // threshold:3,5,5,8-style config (add_multiple_alerts.py:183-205):
    // clinic 1 (Hospital) has 4 cases -> passes base 3, fails hospital 5;
    // clinic 2 (Primary) has 4 cases -> base limit applies, alert fires
    val data = codedData(
      (1 to 4).map(i => (s"h$i", 1, "2016-01-04", Map("cmd_1" -> "1"))) ++
        (1 to 4).map(i => (s"p$i", 2, "2016-01-04", Map("cmd_1" -> "1"))): _*)
      .withColumn("clinic_type",
        when(col("clinic") === 1, "Hospital").otherwise("Primary"))
    val alerts = MultipleAlerts
      .dailyThreshold(data, "cmd_1", 3, hospitalLimit = Some(5))
      .select(col("clinic")).as[Int].collect().toSet
    assert(alerts === Set(2))
    // without the hospital limit both clinics alert at the base limit
    val base = MultipleAlerts.dailyThreshold(data, "cmd_1", 3)
      .select(col("clinic")).as[Int].collect().toSet
    assert(base === Set(1, 2))
  }

  test("double doubling detects two consecutive doublings over min total") {
    // reference self.double: weeks 1,2,3 with counts 2,4,8 → one alert whose
    // uuids are the LAST week's (test_add_multiple_alerts.py:571-614)
    val data = weeklyData((2016, 1, 2), (2016, 2, 4), (2016, 3, 8))
    val alerts = MultipleAlerts.doubleDoubling(data, "cmd_1", minTotal = 14)
    val row = alerts.select(col("epi_year"), col("epi_week"), col("n"),
      col("uuids")).head()
    assert(alerts.count() === 1)
    assert(row.getInt(0) === 2016 && row.getInt(1) === 3)
    assert(row.getLong(2) === 8L)
    assert(row.getSeq[String](3).length === 8)
    assert(row.getSeq[String](3).forall(_.startsWith("w02")))
  }

  test("double doubling: earliest week count must exceed 1") {
    // reference deletes one week-1 record → counts 1,4,8 → no alert
    val data = weeklyData((2016, 1, 1), (2016, 2, 4), (2016, 3, 8))
    assert(MultipleAlerts.doubleDoubling(data, "cmd_1").count() === 0)
  }

  test("double doubling: a missing week breaks the chain") {
    // weeks 1,5,9 with counts 2,4,8 — the reference's counts.get(week±k, 0)
    // sees the zero weeks, so no alert (ADVICE round 1)
    val data = weeklyData((2016, 1, 2), (2016, 5, 4), (2016, 9, 8))
    assert(MultipleAlerts.doubleDoubling(data, "cmd_1").count() === 0)
  }

  test("double doubling: 5-week window total gate") {
    // counts 2,4,8 sum to exactly 14 — passes the default gate, fails 15
    val data = weeklyData((2016, 1, 2), (2016, 2, 4), (2016, 3, 8))
    assert(MultipleAlerts.doubleDoubling(data, "cmd_1", minTotal = 14).count() === 1)
    assert(MultipleAlerts.doubleDoubling(data, "cmd_1", minTotal = 15).count() === 0)
  }

  test("joint double doubling equals the per-variable union") {
    // r16: the joint (var_id, clinic)-keyed pass must be row-for-row the
    // unionByName of single-variable runs — including events that carry
    // SEVERAL alert variables (one exploded row each) and variables
    // outside the requested list (ignored by both paths).
    val rows = Seq(
      // clinic 1, var a: weeks 1,2,3 = 2,4,8 → alerts
      (2016, 1, 2, Map("a" -> "1")), (2016, 2, 4, Map("a" -> "1")),
      (2016, 3, 8, Map("a" -> "1", "b" -> "1")),
      // clinic 1, var b rides the shared week-3 rows plus its own — the
      // week-3 multi-var rows count for BOTH detectors
      (2016, 1, 3, Map("b" -> "1", "zz" -> "1")), (2016, 2, 6, Map("b" -> "1")),
      (2016, 3, 4, Map("b" -> "1")),
      // a variable never asked for
      (2016, 1, 9, Map("zz" -> "1")))
    val data = rows.zipWithIndex.flatMap { case ((y, wk, n, vars), i) =>
      Seq.tabulate(n)(j => (f"u$i%02dr$j%02d", 1, y, wk, vars))
    }.toDF("uuid", "clinic", "epi_year", "epi_week", "variables")
      .withColumn("date", lit("2016-01-04").cast("timestamp"))
    val vars = Seq("a", "b")
    val single = vars.map(v => MultipleAlerts.doubleDoubling(data, v))
      .reduce(_.unionByName(_))
      .select(col("var_id"), col("clinic"), col("epi_year"), col("epi_week"),
        col("n"), col("uuids"))
    val joint = MultipleAlerts.doubleDoublingMulti(data, vars)
      .select(col("var_id"), col("clinic"), col("epi_year"), col("epi_week"),
        col("n"), col("uuids"))
    val s = single.collect().map(_.toString).sorted
    val j = joint.collect().map(_.toString).sorted
    assert(s.nonEmpty) // the fixture must actually fire alerts
    assert(j.toSeq === s.toSeq)
  }

  test("double doubling across the year boundary") {
    // reference self.double_new_year (test_add_multiple_alerts.py:616-639):
    // (year-1, week 52)=2, (year, 1)=4, (year, 2)=8 → one alert
    val data = weeklyData((2015, 52, 2), (2016, 1, 4), (2016, 2, 8))
    val alerts = MultipleAlerts.doubleDoubling(data, "cmd_1", minTotal = 14)
    val row = alerts.select(col("epi_year"), col("epi_week"), col("n")).head()
    assert(alerts.count() === 1)
    assert(row.getInt(0) === 2016 && row.getInt(1) === 2 && row.getLong(2) === 8L)
  }

  test("representative promotion marks rep and sub alerts with form enrichment") {
    val data = codedData(
      ("a1", 1, "2016-01-04", Map("cmd_1" -> "1")),
      // a2 carries stale alert keys that must be dropped on demotion
      // (add_multiple_alerts.py:131-137)
      ("a2", 1, "2016-01-04", Map("cmd_1" -> "1", "alert" -> "1", "alert_id" -> "zz")),
      ("a3", 1, "2016-01-04", Map("cmd_1" -> "1")),
      ("b9", 2, "2016-01-04", Map("cmd_1" -> "1")))
    val formDf = form(
      "a1" -> Map("age" -> "30"), "a2" -> Map("age" -> "31"),
      "a3" -> Map("age" -> "32"), "b9" -> Map("age" -> "33"))
    val alerts = MultipleAlerts.dailyThreshold(data, "cmd_1", 3)
    val promoted = MultipleAlerts.promote(data, alerts, formDf,
      alertData = Map("age" -> "age"), alertIdLength = 2)
      .select(col("uuid"), col("variables")).as[(String, Map[String, String])]
      .collect().toMap
    assert(promoted("a1")("alert") === "1")
    assert(promoted("a1")("alert_type") === "threshold")
    assert(promoted("a1")("alert_duration") === "1")
    assert(promoted("a1")("alert_id") === "a1")
    assert(promoted("a1")("alert_reason") === "cmd_1")
    assert(promoted("a1")("alert_age") === "30") // rep enriched from ITS form row
    assert(promoted("a2")("sub_alert") === "1")
    assert(promoted("a2")("master_alert") === "a1")
    assert(promoted("a2")("alert_age") === "31") // subs enriched too
    assert(!promoted("a2").contains("alert"))    // stale alert keys dropped
    assert(!promoted("a2").contains("alert_id"))
    assert(promoted("a3")("master_alert") === "a1")
    assert(!promoted("b9").contains("alert")) // below threshold clinic untouched
  }
}
