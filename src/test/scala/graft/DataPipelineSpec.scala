package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{CacheProbe, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Expression, MapFromEntries}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import graft.config._
import graft.functions.EvalCatalog
import graft.operators.DataPipeline
import graft.sources.FormSource

/** End-to-end demo-pipeline test (SURVEY.md §7.2 step 5): raw forms →
  * QC → visit control → fan-out → codes → located, epi-tagged `data` rows,
  * including register multiple-row splitting and disregard routing.
  */
class DataPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val locations = Seq(
    LocationNode(1, "Demo", "country", 0),
    LocationNode(2, "Region A", "region", 1),
    LocationNode(3, "District X", "district", 2),
    LocationNode(4, "Clinic 1", "clinic", 3, deviceIds = Seq("d1"),
      clinicType = Some("Hospital")),
    LocationNode(5, "Clinic 2", "clinic", 2, deviceIds = Seq("d2"),
      clinicType = Some("Primary"))) // parented at region level (no district)

  private val codes = Seq(
    CodeDef(id = "gen_1", typ = "case", method = "match", dbColumn = "gender",
      condition = "female", calculationGroup = Some("gender"),
      category = Seq("gender")),
    CodeDef(id = "gen_2", typ = "case", method = "match", dbColumn = "gender",
      condition = "male", calculationGroup = Some("gender"),
      category = Seq("gender")),
    CodeDef(id = "cmd_1", typ = "case", method = "match", dbColumn = "icd_code",
      condition = "A80.9", alert = true, alertType = "individual"),
    CodeDef(id = "dis_1", typ = "case", method = "match", dbColumn = "status",
      condition = "void", disregard = true),
    CodeDef(id = "reg_1", typ = "register", method = "not_null",
      condition = "None", dbColumn = "consultations"))

  private val cfg = DataPipeline.EngineConfig(
    dataTypes = Seq(
      DataTypeDef("case", "demo_case", Some("intro./visit"), Some("new"),
        "pt./visit_date", "tot_1"),
      DataTypeDef("register", "demo_register", None, None, "end",
        "reg_count", multipleRow = Some("row_count"))),
    codes = codes,
    locations = locations,
    devices = Seq(DeviceDef("d1", Seq("pilot", "hospital")), DeviceDef("d2")),
    alertData = Map("gender" -> "gender"))

  private def caseRow(gender: String, icd: String = "", status: String = "",
                      device: String = "d1") = Map(
    "intro./visit" -> "new", "pt./visit_date" -> "2016-04-17",
    "SubmissionDate" -> "2016-04-18T10:00:00", "deviceid" -> device,
    "gender" -> gender, "icd_code" -> icd, "status" -> status)

  private def forms = {
    val caseForm = Seq(
      ("u1", caseRow("female", icd = "A80.9")),
      ("u2", caseRow("male", device = "d2")),
      ("u3", caseRow("male", device = "d9")),        // unknown device → dropped
      ("u4", caseRow("female", icd = "A80.9", status = "void")), // disregarded
      ("u5", Map("intro./visit" -> "return", "deviceid" -> "d1",
        "pt./visit_date" -> "2016-04-17"))            // not the case type
    ).toDF("uuid", "data")
    val registerForm = Seq(
      ("r1", Map("deviceid" -> "d1", "end" -> "2016-04-18", "row_count" -> "2",
        "consultations$1" -> "10", "consultations$2" -> "20",
        "consultations$3" -> ""))
    ).toDF("uuid", "data")
    Map("demo_case" -> caseForm, "demo_register" -> registerForm)
  }

  private var processed = false
  private lazy val result = {
    processed = true
    DataPipeline.process(spark, forms, cfg)
  }

  override def afterAll(): Unit =
    try { if (processed) result.release() } finally super.afterAll()

  private object Plans extends AdaptiveSparkPlanHelper

  test("location join resolves the hierarchy and drops unknown devices") {
    val rows = result.data.filter(col("type") === "case")
      .select(col("uuid"), col("clinic"), col("district"), col("region"),
        col("country")).collect()
      .map(r => r.getString(0) -> (r.getInt(1), Option(r.get(2)), Option(r.get(3)),
        r.getInt(4))).toMap
    assert(rows("u1") === ((4, Some(3), Some(2), 1)))
    assert(rows("u2") === ((5, None, Some(2), 1))) // clinic parented at region
    assert(!rows.contains("u3"))
    assert(!rows.contains("u5"))
  }

  test("device tags attach from the devices dimension (model.py:81-84)") {
    val rows = result.data.filter(col("type") === "case")
      .select(col("uuid"), col("tags")).collect()
      .map(r => r.getString(0) -> Option(r.getSeq[String](1)).map(_.toSeq)).toMap
    assert(rows("u1") === Some(Seq("pilot", "hospital"))) // d1's tags
    assert(rows("u2") === Some(Seq())) // d2 registered, no tags
  }

  test("epi columns and counters are attached") {
    val r = result.data.filter(col("uuid") === "u1")
      .select(col("epi_year"), col("epi_week"),
        element_at(col("variables"), "tot_1"),
        element_at(col("variables"), "data_entry"),
        element_at(col("variables"), "gen_1")).head()
    assert(r.getInt(0) === 2016)
    assert(r.getInt(1) > 0)
    assert(r.getString(2) === "1" && r.getString(3) === "1" && r.getString(4) === "1")
  }

  test("disregard routes to the disregarded output only with an alert") {
    val kept = result.data.select("uuid").as[String].collect().toSet
    val out = result.disregarded.select("uuid").as[String].collect().toSet
    assert(out === Set("u4"))
    assert(!kept.contains("u4"))
  }

  test("alert injection carries alert_data context") {
    val vars = result.data.filter(col("uuid") === "u1")
      .select("variables").as[Map[String, String]].head()
    assert(vars("alert") === "1")
    assert(vars("alert_reason") === "cmd_1")
    assert(vars("alert_gender") === "female")
  }

  test("in_geometry location resolves via point-in-polygon") {
    val geoLocations = Seq(
      LocationNode(1, "Demo", "country", 0),
      LocationNode(2, "Region A", "region", 1),
      LocationNode(3, "District X", "district", 2,
        rings = Seq(Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)))),
      LocationNode(6, "District Y", "district", 2,
        rings = Seq(Seq((20.0, 20.0), (30.0, 20.0), (30.0, 30.0), (20.0, 30.0)))))
    val cfg2 = DataPipeline.EngineConfig(
      dataTypes = Seq(DataTypeDef("geo", "geo_form", None, None, "d", "g_1",
        location = "in_geometry$lng,lat")),
      codes = Nil, locations = geoLocations)
    val form = Seq(
      ("g1", Map("lng" -> "5.0", "lat" -> "5.0", "d" -> "2016-01-01")),
      ("g2", Map("lng" -> "25.0", "lat" -> "25.0", "d" -> "2016-01-01")),
      ("g3", Map("lng" -> "50.0", "lat" -> "50.0", "d" -> "2016-01-01"))
    ).toDF("uuid", "data")
    val res = DataPipeline.process(spark, Map("geo_form" -> form), cfg2)
    val out = try res.data.select(col("uuid"), col("district"), col("region"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
      finally res.release()
    assert(out === Map("g1" -> ((3, 2)), "g2" -> ((6, 2)))) // g3 outside → dropped
  }

  test("multiple_link codes aggregate over linked rows") {
    val linkCfg = cfg.copy(
      links = Seq(LinkDef("followups", "case", "demo_case", "demo_followup",
        Seq("pt./pid"), Seq("pid"), Seq("match"), "visit_date", orderByIsDate = true)),
      codes = cfg.codes ++ Seq(
        CodeDef(id = "fu_count", typ = "case", form = "demo_followup",
          multipleLink = Some("count"), method = "not_null", condition = "None",
          dbColumn = "pid"),
        CodeDef(id = "fu_any_lab", typ = "case", form = "demo_followup",
          multipleLink = Some("any"), method = "match", dbColumn = "lab",
          condition = "yes"),
        CodeDef(id = "fu_last_lab", typ = "case", form = "demo_followup",
          multipleLink = Some("last"), method = "match", dbColumn = "lab",
          condition = "yes")))
    val caseForm = Seq(
      ("c1", caseRow("female") + ("pt./pid" -> "101")),
      ("c2", caseRow("male") + ("pt./pid" -> "999"))).toDF("uuid", "data")
    val followups = Seq(
      ("f1", Map("pid" -> "101", "visit_date" -> "2016-01-05", "lab" -> "no")),
      ("f2", Map("pid" -> "101", "visit_date" -> "2016-01-02", "lab" -> "yes"))
    ).toDF("uuid", "data")
    val res = DataPipeline.process(spark,
      Map("demo_case" -> caseForm, "demo_followup" -> followups), linkCfg)
    val out = try res.data.filter(col("type") === "case")
      .select(col("uuid"), col("variables"))
      .as[(String, Map[String, String])].collect().toMap
      finally res.release()
    assert(out("c1")("fu_count") === "2")
    assert(out("c1")("fu_any_lab") === "1")     // some linked row has lab=yes
    assert(!out("c1").contains("fu_last_lab"))  // last (by date) row has lab=no
    assert(!out("c2").contains("fu_count"))     // no linked rows
  }

  test("retainRawData=false with link codes drops the map, keeps link outcomes") {
    // regression: AddLinks' __lc_* columns are consumed by ToCodes, so the
    // raw-map drop must not try to keep them (selecting them once crashed)
    val linkCfg = cfg.copy(
      retainRawData = false,
      links = Seq(LinkDef("followups", "case", "demo_case", "demo_followup",
        Seq("pt./pid"), Seq("pid"), Seq("match"), "visit_date", orderByIsDate = true)),
      codes = cfg.codes ++ Seq(
        CodeDef(id = "fu_count", typ = "case", form = "demo_followup",
          multipleLink = Some("count"), method = "not_null", condition = "None",
          dbColumn = "pid")))
    val caseForm = Seq(
      ("c1", caseRow("female") + ("pt./pid" -> "101"))).toDF("uuid", "data")
    val followups = Seq(
      ("f1", Map("pid" -> "101", "visit_date" -> "2016-01-05", "lab" -> "no"))
    ).toDF("uuid", "data")
    val res = DataPipeline.process(spark,
      Map("demo_case" -> caseForm, "demo_followup" -> followups), linkCfg)
    try {
      val out = res.data.filter(col("type") === "case")
      assert(!out.columns.contains("data"))
      val vars = out.select(col("variables"))
        .as[Map[String, String]].head()
      assert(vars("fu_count") === "1")
    } finally res.release()
  }

  test("a link to a form that was not given fails naming the link and form") {
    // a streamed micro-batch carries only its own form; a cross-form link
    // must say which form it misses, not die on a bare map lookup
    val linkCfg = cfg.copy(
      links = Seq(LinkDef("followups", "case", "demo_case", "demo_followup",
        Seq("pt./pid"), Seq("pid"), Seq("match"), "visit_date", orderByIsDate = true)))
    val caseForm = Seq(
      ("c1", caseRow("female") + ("pt./pid" -> "101"))).toDF("uuid", "data")
    val e = intercept[IllegalArgumentException] {
      DataPipeline.process(spark, Map("demo_case" -> caseForm), linkCfg)
    }
    assert(e.getMessage.contains("link followups reads form demo_followup"))
    assert(e.getMessage.contains("demo_case"))
  }

  test("register multiple_row splits into uuid-suffixed sub-records") {
    val regs = result.data.filter(col("type") === "register")
      .select(col("uuid"), element_at(col("variables"), "reg_1").as("v"),
        element_at(col("data"), "consultations").as("c"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(regs.keySet === Set("r1:1", "r1:2")) // $3 empty → no third sub-row
    assert(regs("r1:1") === (("1", "10")))
    assert(regs("r1:2") === (("1", "20")))
  }

  test("data and disregarded read one cached evaluation until release()") {
    // a catalog of ~70 codes: still one EvalCatalog per data type, planned
    // once, inside the cached relation
    val padded = cfg.copy(codes = cfg.codes ++
      (1 to 64).map(i => CodeDef(id = s"pad_$i",
        typ = "case", method = "match", dbColumn = "icd_code", condition = s"Z$i")))
    def evaluators(plan: org.apache.spark.sql.execution.SparkPlan) =
      Plans.collect(plan) { case p => p }
        .flatMap(_.expressions.flatMap(_.collect { case e: EvalCatalog => e }))
    val entriesBefore = CacheProbe.entries(spark)
    val res = DataPipeline.process(spark, forms, padded)
    val (dataRows, disregardedRows, shared) =
      try {
        val plan = res.disregarded.queryExecution.executedPlan
        val scans = Plans.collect(plan) { case s: InMemoryTableScanExec => s }
        assert(scans.size === 1)
        assert(evaluators(plan).isEmpty)
        // one evaluator per data type (case, register)
        val relation = scans.head.relation
        assert(evaluators(relation.cachedPlan).size === padded.dataTypes.size)
        val shared = relation.cacheBuilder.logicalPlan
        assert(CacheProbe.holds(spark, shared))
        // a second call over the same inputs gets its own frame: it does not
        // read this unreleased result's rows
        val again = DataPipeline.process(spark, forms, padded)
        try assert(CacheProbe.entries(spark) === entriesBefore + 2)
        finally again.release()
        (res.data.collect().toSeq, res.disregarded.collect().toSeq, shared)
      } finally res.release()
    assert(!CacheProbe.holds(spark, shared))
    assert(CacheProbe.entries(spark) === entriesBefore)

    // content: the same routing as the uncached small-catalog run
    assert(disregardedRows.map(_.getAs[String]("uuid")) === Seq("u4"))
    assert(!dataRows.exists(_.getAs[String]("uuid") == "u4"))
    // the two outputs partition exactly the rows of one unfiltered
    // evaluation (run fresh, now that nothing caches it)
    val unfiltered = GraftColumnBridge.ofRows(spark, shared)
      .select(res.data.columns.map(col).toSeq: _*).collect().toSeq
    def bag(rows: Seq[Row]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    assert(unfiltered.size === dataRows.size + disregardedRows.size)
    assert(bag(unfiltered) === bag(dataRows ++ disregardedRows))
  }

  test("a second process call over the same forms compiles no new class") {
    // the call number that keeps each cached frame apart lives in the
    // analyzed plan only, so every call generates the same code
    def run(): DataPipeline.Result = {
      val res = DataPipeline.process(spark, forms, cfg)
      res.data.collect(); res.disregarded.collect()
      res
    }
    val entriesBefore = CacheProbe.entries(spark)
    val first = run()
    try {
      val compiled = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
      val second = run()
      try {
        assert(org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount === compiled)
        assert(CacheProbe.entries(spark) === entriesBefore + 2)
      } finally second.release()
    } finally first.release()
  }

  test("CSV forms: QC and date filters read the columns, not a map build") {
    // pushed below FormSource's map and QC's repair, every filter would
    // otherwise carry its own copy of the map build; the rule must resolve
    // each field read to its column
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_forms")
    java.nio.file.Files.writeString(dir.resolve("demo_case.csv"),
      "meta/instanceID,intro./visit,pt./visit_date,SubmissionDate,deviceid," +
        "gender,age,icd_code,status\n" +
        "u1,new,2016-04-17,2016-04-18T10:00:00,d1,female,30,A80.9,\n" +
        "u2,new,2016-04-17,2016-04-18T10:00:00,d2,male,300,,\n" +
        "u3,new,garbage,2016-04-18T10:00:00,d1,male,40,,\n" +
        "u4,new,2016-04-17,2016-04-18T10:00:00,d1,,50,,\n")
    val qc = QualityControlDef(qcCodes = Seq(
      CodeDef(id = "qc_age", method = "between", condition = "0,120",
        calculation = "age", dbColumn = "age"),
      CodeDef(id = "qc_gender", method = "not_null", condition = "None",
        dbColumn = "gender", category = Seq("discard"))))
    val res = DataPipeline.process(spark,
      Map("demo_case" -> FormSource.csv(spark, dir.resolve("demo_case.csv").toString)),
      cfg.copy(dataTypes = cfg.dataTypes.take(1), qc = Map("demo_case" -> qc)))
    try {
      val cached = Plans.collect(res.data.queryExecution.executedPlan) {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }
      assert(cached.size === 1)
      val filters: Seq[Expression] = Plans.collect(cached.head) {
        case f: FilterExec => Seq(f.condition)
        case s: FileSourceScanExec => s.dataFilters
      }.flatten
      assert(filters.nonEmpty)
      val mapBuilds = filters.filter(_.exists(e =>
        e.isInstanceOf[ArrayFilter] || e.isInstanceOf[MapFromEntries]))
      assert(mapBuilds.isEmpty, mapBuilds.mkString("\n"))
      // u3: unparseable visit date; u4: no gender (discarded)
      val ages = res.data.select(col("uuid"), element_at(col("data"), "age"))
        .as[(String, Option[String])].collect().toMap
      assert(ages === Map("u1" -> Some("30"), "u2" -> None))
    } finally res.release()
  }
}
