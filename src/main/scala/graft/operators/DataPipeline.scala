package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config._
import graft.functions.{EpiWeek, MapResolver, VariableCompiler}
import graft.functions.EpiWeek.YearStartPolicy

/** The full batch pipeline (reference pipeline_worker/pipeline.py:27-61 wired
  * per demo_config.py:13-19):
  *
  *   quality_control → initial_visit_control → [write raw] → to_data_type →
  *   add_links → to_codes → [write data] → add_multiple_alerts → [write]
  *
  * assembled as one DataFrame program per data type. The reference's three
  * write barriers exist because later steps read earlier tables back; in the
  * batch recompute the set-based operators (AddLinks, MultipleAlerts) consume
  * the in-plan DataFrames directly, so no barrier cuts the plan.
  *
  * The per-type programs union into one frame of coded rows, which
  * [[process]] evaluates once, in one job, as an eager local checkpoint:
  * `data` and `disregarded` are two filters over it, so every action on
  * either output (the sinks, an `isEmpty` probe) scans the checkpoint's
  * blocks instead of re-planning and re-running QC, visit control, links,
  * the code catalog and the location joins. The blocks belong to the
  * returned [[Result]] and go when it does; no caller releases anything.
  */
object DataPipeline {

  final case class EngineConfig(
      dataTypes: Seq[DataTypeDef],
      codes: Seq[CodeDef],                       // full catalog, all types
      links: Seq[LinkDef] = Nil,
      qc: Map[String, QualityControlDef] = Map.empty,       // per form
      initialVisit: Seq[InitialVisitDef] = Nil,
      locations: Seq[LocationNode] = Nil,
      devices: Seq[DeviceDef] = Nil,    // device tags (model.py:81-84)
      alertData: Map[String, String] = Map.empty,
      policy: YearStartPolicy = EpiWeek.StartDay(0),
      alertIdLength: Int = 6,
      /** named JSON parameter blobs (database_setup.py:331-362); rules
        * reference them as `<file>.<group>.<key>` pseudo-columns */
      calculationParameters: CalculationParameters.Params = Map.empty,
      /** false drops the raw form map from the data rows after coding —
        * the reference's `data` table carries no raw form payload either
        * (model.py:97-128) — so the scan reads only the fields the steps
        * reference. Default true for callers (and specs) that read raw
        * fields back off the pipeline output. */
      retainRawData: Boolean = true)

  /** The outputs of one [[process]] call: two filters over its checkpoint
    * of coded rows. */
  final class Result private[DataPipeline] (coded: DataFrame) {
    val data: DataFrame = coded.filter(!col("disregard")).drop("disregard")
    val disregarded: DataFrame = coded.filter(col("disregard")).drop("disregard")
  }

  /** Run the pipeline over raw form DataFrames `(uuid, data)`, once, in one
    * job into a local checkpoint, and return when that job is done. */
  def process(spark: SparkSession, forms: Map[String, DataFrame],
              cfg: EngineConfig): Result = {
    // P1 + P2 per form
    val cleaned: Map[String, DataFrame] = forms.map { case (name, df) =>
      val dateValidations = cfg.dataTypes.filter(_.form == name).map { t =>
        ((t.dbColumn, t.condition) match {
          case (Some(c), Some(v)) => Some((c, v))
          case _                  => None
        }, t.dateColumn)
      }
      val qced = cfg.qc.get(name)
        .map(q => QualityControl(df, q, dateValidations))
        .getOrElse(df)
      val ivced = cfg.initialVisit.find(_.form == name)
        .map(iv => InitialVisitControl(qced, iv))
        .getOrElse(qced)
      name -> ivced
    }

    // per data type: fan-out → links → codes → data row
    val perType: Seq[DataFrame] = cfg.dataTypes.flatMap { t =>
      cleaned.get(t.form).map { form =>
        val (_, typed) = ToDataType.fanOut(form, t.form, Seq(t)).head
        val typeLinks = cfg.links.filter(_.typ == t.name)
        // codes over LINKED forms (self-links stay main-record codes,
        // mirroring buildDataRows' linkedForms) pre-aggregate at link
        // build time — ToCodes then reads a plain column per code
        val linkForms = typeLinks.filter(_.toForm != t.form).map(_.toForm).toSet
        val linkCodes = cfg.codes.filter(c => c.typ == t.name && linkForms(c.form))
        val withLinks = AddLinks(typed, cleaned, typeLinks, cfg.alertIdLength,
          linkCodes, cfg.policy)
        buildDataRows(spark, withLinks, t, cfg)
      }
    }
    new Result(perType.reduce(_.unionByName(_)).localCheckpoint(true))
  }

  /** to_codes step wrapper (process_steps/to_codes.py:32-152): location
    * resolution, multiple-row splitting, code evaluation, epi-week columns,
    * per-type counters. */
  private def buildDataRows(spark: SparkSession, typed: DataFrame,
                            t: DataTypeDef, cfg: EngineConfig): DataFrame = {
    val r = new MapResolver(col("data"))

    // multiple_row splitting (process_steps/to_codes.py:110-136): a register
    // form packs repeat groups col$1..col$N; split into sub-records with
    // uuid suffix :i
    val split = t.multipleRow match {
      case None => typed
      case Some(countCol) =>
        val n = coalesce(r.get(countCol).cast("int"), lit(0))
        // one candidate sub-record per repeat index; keep only indices where
        // at least one `col$i` value is non-empty (the reference's non-empty
        // guard), then rename `col$i` → `col`
        val subs = filter(
          transform(sequence(lit(1), greatest(n, lit(1))), i => struct(
            i.as("i"),
            size(map_filter(col("data"), (k, v) =>
              k.endsWith(concat(lit("$"), i.cast("string"))) && v =!= ""))
              .as("nonempty"),
            transform_keys(
              map_filter(col("data"), (k, _) =>
                !k.contains("$") || k.endsWith(concat(lit("$"), i.cast("string")))),
              (k, _) => regexp_replace(k, "\\$[0-9]+$", "")).as("m"))),
          s => s.getField("nonempty") > 0)
        typed
          .select(col("*"), explode(subs).as("__sub"))
          .withColumn("uuid",
            concat(col("uuid"), lit(":"), col("__sub.i").cast("string")))
          .withColumn("data", col("__sub.m"))
          .drop("__sub")
    }

    // location resolution (codes/to_codes.py:104-180); unknown device /
    // point outside every district → drop (inner joins)
    val nullTags = lit(null).cast("array<string>")
    val withLoc =
      if (cfg.locations.isEmpty) split.withColumn("tags", nullTags)
      else if (t.location.startsWith("in_geometry")) {
        // "in_geometry$<xcol>,<ycol>": point-in-district-polygon via the
        // native PointInPolygon expression against the broadcast dimension
        val fields = t.location.split("\\$")(1).split(",")
        val px = r.get(fields(0)).cast("double")
        val py = r.get(fields(1)).cast("double")
        // one row per (district, ring): the join predicate is then a direct
        // PointInPolygon call on a bound column — no lambda indirection
        val dim = broadcast(Locations.districtDimension(spark, cfg.locations)
          .select(col("district"), col("region"), col("zone"), col("country"),
            explode(col("rings")).as("__ring")))
        val joined = split.join(dim,
          graft.functions.PointInPolygon.pointInPolygon(px, py, col("__ring")),
          "inner").drop("__ring")
        // deterministic pick when polygons overlap: lowest district id
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("uuid")).orderBy(col("district"))
        joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .drop("__rn")
          .withColumn("clinic", lit(null).cast("int"))
          .withColumn("clinic_type", lit(null).cast("string"))
          .withColumn("case_type", lit(null).cast("array<string>"))
          // reference sets tags: None for geometry-located rows
          // (to_codes.py:163-170)
          .withColumn("tags", nullTags)
      } else {
        val dim = broadcast(Locations.deviceDimension(spark, cfg.locations)
          .withColumnRenamed("deviceid", "__dev"))
        // optional "deviceid:<col>:<prefix>" override of the device column
        val parts = t.location.split(":")
        val devCol = if (parts.length >= 2) parts(1) else "deviceid"
        val prefix = if (parts.length >= 3) parts(2) else ""
        val devVal = concat(lit(prefix), r.get(devCol))
        val located = split.join(dim, devVal === col("__dev"), "inner").drop("__dev")
        // device tags (to_codes.py:122-127: tags = devices.get(deviceid)) —
        // the devices dimension is config-sized, so it compiles into a
        // literal map lookup, not a join
        val tags =
          if (cfg.devices.isEmpty) lit(null).cast("array<string>")
          else element_at(
            map(cfg.devices.flatMap(d =>
              Seq(lit(d.deviceId), array(d.tags.map(lit): _*).cast("array<string>"))): _*),
            r.get("deviceid"))
        located.withColumn("tags", tags)
      }

    // code evaluation for this data type; codes targeting a linked form
    // read the outcome AddLinks pre-aggregated with their multiple_link
    // method
    val typeCodes = cfg.codes.filter(c => c.typ == t.name)
    // self-links (toForm == main form) stay main-record codes — a code on the
    // main form must not be rerouted through its own link
    val linkedForms = cfg.links.filter(_.typ == t.name)
      .filter(_.toForm != t.form)
      .map(_.toForm).toSet
    val resolver =
      if (cfg.calculationParameters.isEmpty) r
      else new ParameterResolver(r, cfg.calculationParameters)

    // event date + epi columns (process_steps/to_codes.py:138-152): the
    // event date is parsed once, and one projection derives the columns
    val withEvent = withLoc.select(col("*"),
      VariableCompiler.parseDate(r.get(t.dateColumn)).as("__event_date"))
    val eventDate = col("__event_date")
    val yw = EpiWeek.epiYearWeek(eventDate, cfg.policy)
    val withDates = withEvent.select(withLoc.columns.toSeq.map(n => col(s"`$n`")) ++ Seq(
      date_trunc("DAY", eventDate).as("date"),
      yw.getField("epi_year").as("epi_year"),
      yw.getField("epi_week").as("epi_week"),
      VariableCompiler.parseDate(r.get("SubmissionDate")).as("submission_date"),
      r.get("deviceid").as("device_id")): _*)
    // per-type counters (process_steps/to_codes.py:106-108) fold into the
    // same map build — a separate map_concat would copy the map per row
    val coded = ToCodes(withDates, typeCodes, resolver,
      cfg.policy, cfg.alertData, linkedForms,
      staticEntries = Seq(t.varName -> "1", "data_entry" -> "1"))
    if (cfg.retainRawData) coded else coded.drop("data")
  }
}
