package perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config._
import graft.operators.DataPipeline
import graft.sources.FakeData

/** The benchmark's inputs: the demo-shaped configuration (perfbench/fixtures,
  * see make_fixtures.py) and seeded raw forms drawn with the program's own
  * FakeData generator. Forms land as ODK-style CSV exports (one column per
  * field, all strings) before any timing starts. */
object Fixtures {

  final case class Config(engine: DataPipeline.EngineConfig,
                          multiAlerts: Seq[MultiAlertDef])

  /** Small CSV reader for the config files: header row, `"`-quoted fields,
    * no embedded newlines. */
  def readCsv(f: File): Seq[Map[String, String]] = {
    def split(line: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var quoted = false
      var i = 0
      while (i < line.length) {
        val ch = line.charAt(i)
        if (quoted) {
          if (ch == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') {
            cur += '"'; i += 1
          } else if (ch == '"') quoted = false
          else cur += ch
        } else if (ch == '"') quoted = true
        else if (ch == ',') { out += cur.toString; cur.clear() }
        else cur += ch
        i += 1
      }
      out += cur.toString
      out.toSeq
    }
    val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty).toSeq
    val header = split(lines.head)
    lines.tail.map(l => header.zip(split(l).padTo(header.length, "")).toMap)
  }

  private def opt(s: String): Option[String] = Option(s).map(_.trim).filter(_.nonEmpty)

  /** Load the whole pipeline configuration from the fixture files. */
  def load(spark: SparkSession, dir: File): Config = {
    def csv(name: String) = readCsv(new File(dir, name))
    val codes = CodesCsv.load(spark, new File(dir, "codes.csv").getPath)
    val dataTypes = csv("data_types.csv").map { r =>
      DataTypeDef(r("type"), r("form"), opt(r("db_column")), opt(r("condition")),
        r("date"), r("var"), opt(r("multiple_row")),
        opt(r("location")).getOrElse("deviceid"))
    }
    val links = csv("links.csv").map { r =>
      val order = r("order_by").split(";")
      LinkDef(r("name"), r("type"), r("from_form"), r("to_form"),
        r("from_column").split(";").toSeq, r("to_column").split(";").toSeq,
        r("method").split(";").toSeq, order(0),
        orderByIsDate = order.length > 1 && order(1) == "date",
        toCondition = opt(r("to_condition")).map { c =>
          val Array(k, v) = c.split(":", 2); (k, v)
        })
    }
    val exclusions = csv("exclusion_list.csv").groupBy(_("form"))
      .map { case (f, rs) => f -> rs.map(_("uuid")) }
    val qc = csv("quality_control.csv").groupBy(_("form")).map { case (form, rs) =>
      form -> QualityControlDef(
        qcCodes = rs.map(r => CodeDef(id = r("id"), typ = "import", form = form,
          method = r("method"), dbColumn = r("db_column"),
          condition = r("condition"), calculation = r("calculation"),
          category = opt(r("category")).toSeq)),
        exclusionUuids = exclusions.getOrElse(form, Nil))
    }
    val ivc = csv("visit_control.csv").map { r =>
      InitialVisitDef(r("form"), r("identifier_keys").split(";").toSeq,
        r("visit_type_key"), r("visit_date_key"), r("module_key"), r("module_value"))
    }
    val locRows = csv("locations.csv")
    val locations = locRows.map { r =>
      LocationNode(r("id").toInt, r("name"), r("level"), r("parent").toInt,
        deviceIds = opt(r("deviceid")).toSeq.flatMap(_.split(",").map(_.trim)),
        clinicType = opt(r("clinic_type")),
        caseTypes = opt(r("case_type")).toSeq.flatMap(_.split(",")),
        population = opt(r("population")).map(_.toLong))
    }
    val devices = locRows.flatMap { r =>
      val tags = opt(r("device_tags")).toSeq.flatMap(_.split(",").map(_.trim))
      opt(r("deviceid")).toSeq.flatMap(_.split(",").map(_.trim))
        .map(d => DeviceDef(d, tags))
    }
    val alertData = csv("alert_data.csv").map(r => r("name") -> r("column")).toMap
    val multi = csv("multiple_alerts.csv").map { r =>
      MultiAlertDef(r("var_id"), r("alert_type"),
        opt(r("limits")).toSeq.flatMap(_.split(";").map(_.toInt)))
    }
    Config(DataPipeline.EngineConfig(
      dataTypes = dataTypes, codes = codes, links = links, qc = qc,
      initialVisit = ivc, locations = locations, devices = devices,
      alertData = alertData, retainRawData = false), multi)
  }

  /** The configuration restricted to what one form's stream can run: its
    * data types, their codes on that form, and links within the form. */
  def forForm(cfg: DataPipeline.EngineConfig, form: String): DataPipeline.EngineConfig = {
    val types = cfg.dataTypes.filter(_.form == form)
    val names = types.map(_.name).toSet
    cfg.copy(dataTypes = types,
      codes = cfg.codes.filter(c => names(c.typ) && c.form == form),
      links = cfg.links.filter(l => names(l.typ) && l.toForm == form))
  }

  // ---- raw forms ------------------------------------------------------

  val Icd: Seq[String] = Seq("A00", "A01.0", "A03", "A05", "A06", "A08", "A09",
    "A15", "A20", "A22", "A27", "A30", "A33", "A36", "A37", "A39", "A75",
    "A80.9", "A82", "A90", "A91", "A92", "A95", "B01", "B05.9", "B15", "B16",
    "B17", "B26", "B50", "B54", "E10", "E11", "E40", "E43", "I10", "I21",
    "J06", "J10", "J18", "J45", "K29", "L03", "N39", "O14", "T14", "Z32", "F32")
  val Symptoms: Seq[String] = Seq("fever", "cough", "rash", "diarrhoea",
    "vomiting", "headache", "jaundice", "paralysis", "bleeding", "dyspnoea",
    "convulsion", "oedema")
  /** d0..d39 are registered; d_unknown is not, so its records drop at the
    * location join. */
  val Devices: Seq[String] = (0 until 40).map(i => s"d$i") :+ "d_unknown"
  val RegisterFields: Seq[String] = Seq("consult./consultations",
    "consult./ncd_consultations", "consult./consultations_refugee",
    "surveillance./afp", "surveillance./measles")
  val RepeatGroups = 3

  private val yesNo = FakeData.OneOf(Seq("yes", "no"))
  /** ~10% of submissions are test records; those that also raise an
    * individual alert are disregarded. */
  private val testRecord = FakeData.OneOf("yes" +: Seq.fill(9)("no"))

  def caseFields(patients: Int): Map[String, FakeData.FieldKind] = Map(
    "SubmissionDate" -> FakeData.DateWithin("2016-05-02", 120),
    "deviceid" -> FakeData.OneOf(Devices),
    "intro./visit" -> FakeData.OneOf(Seq("new", "new", "return", "referral")),
    "intro./module" -> FakeData.OneOf(Seq("ncd", "cd", "mh")),
    "pt./pid" -> FakeData.PatientId(patients),
    "patientid" -> FakeData.PatientId(patients),
    "pt./visit_date" -> FakeData.DateWithin("2016-04-30", 120),
    "pt1./age" -> FakeData.IntRange(0, 125),
    "pt1./gender" -> FakeData.OneOf(Seq("male", "female")),
    "pt1./status" -> FakeData.OneOf(Seq("refugee", "national")),
    "nationality" -> FakeData.OneOf(Seq("demo", "null_island")),
    "icd_code" -> FakeData.OneOf(Icd),
    "symptoms" -> FakeData.MultipleOf(Symptoms, 3),
    "pregnant" -> yesNo, "smoke_ever" -> yesNo, "smoke_now" -> yesNo,
    "vaccination" -> yesNo, "sari" -> yesNo, "breastfeed" -> yesNo,
    "pip./namru" -> FakeData.IntRange(1, 400),
    "results./bp_systolic" -> FakeData.IntRange(60, 200),
    "results./bp_diastolic" -> FakeData.IntRange(40, 100),
    "results./bmi_weight" -> FakeData.IntRange(40, 120),
    "results./bmi_height" -> FakeData.IntRange(30, 210),
    "results./glucose_fasting" -> FakeData.IntRange(1, 200),
    "results./hba1c" -> FakeData.IntRange(1, 20),
    "test_record" -> testRecord)

  val alertFields: Map[String, FakeData.FieldKind] = Map(
    "SubmissionDate" -> FakeData.DateWithin("2016-05-02", 120),
    "deviceid" -> FakeData.OneOf(Devices.init),
    "alert_labs./return_lab" -> FakeData.OneOf(Seq("yes", "no", "unsure")),
    "pt./checklist" -> FakeData.MultipleOf(
      Seq("referral", "case_management", "contact_tracing", "return_lab")))

  val registerFields: Map[String, FakeData.FieldKind] = Map(
    "SubmissionDate" -> FakeData.DateWithin("2016-05-02", 120),
    "deviceid" -> FakeData.OneOf(Devices),
    "intro./module" -> FakeData.OneOf(Seq("ncd", "cd")),
    "row_count" -> FakeData.IntRange(1, RepeatGroups),
    "test_record" -> testRecord) ++
    (for (f <- RegisterFields; i <- 1 to RepeatGroups) yield
      s"$f$$$i" -> FakeData.OneOf(Seq("", "", "0", "3", "12", "45", "80", "150"))).toMap

  /** The numeric row id FakeData encodes in its uuids. */
  def idOf(uuid: Column): Column = substring_index(uuid, ":", -1).cast("long")

  /** Canonical `(uuid, data)` form with the uuid also inside the data map
    * under the ODK key, as exported submissions carry it. */
  def withInstanceId(form: DataFrame): DataFrame =
    form.withColumn("data",
      map_concat(col("data"), map(lit("meta/instanceID"), col("uuid"))))

  /** The alert investigations point at demo_case records through the last
    * six characters of their uuid (alert_match). */
  def alertForm(spark: SparkSession, n: Int, nCase: Long, seed: Long): DataFrame =
    withInstanceId(FakeData.form(spark, "demo_alert", alertFields, n, seed))
      .withColumn("data", map_concat(col("data"), map(lit("pt./alert_id"),
        substring(concat(lit("uuid:demo_case:"),
          pmod(xxhash64(col("uuid"), lit(seed)), lit(nCase)).cast("string")), -6, 6))))

  /** Land a canonical form as an ODK-style CSV export, one column per key. */
  def landCsv(form: DataFrame, keys: Seq[String], path: String): Unit =
    form.select(keys.sorted.map(k => element_at(col("data"), k).as(k)): _*)
      .write.option("header", "true").csv(path)

  def caseKeys: Seq[String] = "meta/instanceID" +: caseFields(1).keys.toSeq
  def alertKeys: Seq[String] = Seq("meta/instanceID", "pt./alert_id") ++ alertFields.keys
  def registerKeys: Seq[String] = "meta/instanceID" +: registerFields.keys.toSeq

  // ---- independent expectations ---------------------------------------

  /** Expected `(uuid, type, store)` rows of a recompute over raw demo_case
    * records, derived with plain column filters from the raw fields and
    * the fixture values, without the program's operators: QC (exclusion
    * list, age discard), initial visit control (earliest new visit per
    * patient and diagnosis in the ncd module stays new), known device and
    * the data-type condition; `store` routes disregarded records.
    * `raw` has one string column per field. */
  def expectedCaseKeys(raw: DataFrame, cfg: Config): DataFrame = {
    val devices = cfg.engine.devices.map(_.deviceId)
    val excluded = cfg.engine.qc.get("demo_case").toSeq.flatMap(_.exclusionUuids)
    val age = col("`pt1./age`").cast("double")
    val passed = raw
      .filter(!col("`meta/instanceID`").isin(excluded: _*))
      .filter(age.isNotNull && age >= 0 && age < 121)
      .filter(to_date(col("`pt./visit_date`"), "yyyy-MM-dd").isNotNull)
    val joins = col("patientid").isNotNull && col("patientid") =!= "" &&
      col("icd_code").isNotNull && col("icd_code") =!= "" &&
      col("`intro./visit`") === "new" && col("`intro./module`") === "ncd"
    val firsts = passed.filter(joins)
      .groupBy(col("patientid"), col("icd_code"))
      .agg(min(struct(col("`pt./visit_date`"), col("`meta/instanceID`")))
        .getField("meta/instanceID").as("__first"))
      .select("__first")
    // visit control sees records of unknown devices too; they drop later,
    // at the location join
    val labelled = passed.join(firsts,
        col("`meta/instanceID`") === col("__first"), "left")
      .withColumn("__visit",
        when(joins && col("__first").isNull, lit("return"))
          .otherwise(col("`intro./visit`")))
      .filter(col("deviceid").isin(devices: _*))
    def keys(df: DataFrame, typ: String) = df.select(
      col("`meta/instanceID`").as("uuid"), lit(typ).as("type"),
      disregarded(cfg, typ).as("store"), col("SubmissionDate").as("submitted"))
    keys(labelled.filter(col("__visit") === "new"), "case")
      .unionByName(keys(labelled, "visit"))
  }

  /** A record is disregarded when a disregard code (test_record == yes)
    * and an individual alert (diagnosis match) both hold for its type. */
  private def disregarded(cfg: Config, typ: String): Column = {
    val codes = cfg.engine.codes.filter(_.typ == typ)
    def conditions(cs: Seq[CodeDef], column: String) = cs.map { c =>
      require(c.method == "match" && c.dbColumn == column,
        s"expectation model does not cover code ${c.id}")
      c.condition
    }
    val testValues = conditions(codes.filter(_.disregard), "test_record")
    val alertIcds = conditions(
      codes.filter(c => c.alert && c.alertType == "individual"), "icd_code")
    when(col("test_record").isin(testValues: _*) &&
      (if (alertIcds.isEmpty) lit(false) else col("icd_code").isin(alertIcds: _*)),
      lit("disregarded")).otherwise(lit("data"))
  }

  /** Expected register rows: known device, then one sub-record `uuid:i`
    * per repeat group with a non-empty value. */
  def expectedRegisterKeys(raw: DataFrame, cfg: Config): DataFrame = {
    val devices = cfg.engine.devices.map(_.deviceId)
    val store = disregarded(cfg, "register")
    val n = greatest(coalesce(col("row_count").cast("int"), lit(0)), lit(1))
    (1 to RepeatGroups).map { i =>
      val nonEmpty = RegisterFields.map { f =>
        val c = col(s"`$f$$$i`"); c.isNotNull && c =!= ""
      }.reduce(_ || _)
      raw.filter(col("deviceid").isin(devices: _*) && lit(i) <= n && nonEmpty)
        .select(concat(col("`meta/instanceID`"), lit(s":$i")).as("uuid"),
          lit("register").as("type"), store.as("store"),
          col("SubmissionDate").as("submitted"))
    }.reduce(_.unionByName(_))
  }
}
