package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.sinks.DataWriter
import Tracer.Counter

/** The step-isolated pass of a traced batch_recompute run: each pipeline
  * step's public function runs alone on an input that was materialized to
  * parquet outside its span; its span covers computing and writing its
  * whole output, which becomes the next step's input. */
object Operators {

  final case class Steps(qc: Double, ivc: Double, fanout: Double, links: Double,
                         codes: Double, alerts: Double, ivcShuffleMb: Double,
                         linksShuffleMb: Double) {
    /** `dataWallS` is the traced round's time to `data` and `disregarded`
      * written, which runs every step fused in one plan per write. */
    def metrics(dataWallS: Double): Seq[(String, Double, String)] = Seq(
      ("operators.qc.s", qc, "s"), ("operators.ivc.s", ivc, "s"),
      ("operators.fanout.s", fanout, "s"), ("operators.links.s", links, "s"),
      ("operators.codes.s", codes, "s"), ("operators.alerts.s", alerts, "s"),
      ("operators.ivc.shuffle_mb", ivcShuffleMb, "MB"),
      ("operators.links.shuffle_mb", linksShuffleMb, "MB"),
      ("operators.fused_ratio", dataWallS / (qc + ivc + fanout + links + codes), "ratio"))
  }

  /** Write a step's output to parquet and read it back as the next
    * step's input; the span over this write is the step's time. */
  private def materialize(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  def isolated(spark: SparkSession, tracer: Tracer, in: BatchRecompute.Inputs,
               cfg: Fixtures.Config, dataPath: String, dir: String): Steps = {
    val e = cfg.engine
    val forms = BatchRecompute.forms(spark, in).map { case (n, df) =>
      n -> materialize(spark, df, s"$dir/raw_$n")
    }
    def step(name: String)(df: => DataFrame): (DataFrame, Tracer.Delta) = {
      val (out, d) = tracer.span(materialize(spark, df, s"$dir/$name"))
      Log(f"step $name ${d.wallS}%.2f s")
      (out, d)
    }
    val caseTypes = e.dataTypes.filter(_.form == "demo_case")
    // the same per-type date validations DataPipeline hands QC
    val dateValidations = caseTypes.map { t =>
      ((t.dbColumn, t.condition) match {
        case (Some(c), Some(v)) => Some((c, v))
        case _                  => None
      }, t.dateColumn)
    }
    val (qced, qc) = step("qc")(
      QualityControl(forms("demo_case"), e.qc("demo_case"), dateValidations))
    val ivDef = e.initialVisit.find(_.form == "demo_case").get
    val (cleaned, ivc) = step("ivc")(InitialVisitControl(qced, ivDef))

    val caseType = caseTypes.find(_.name == "case").get
    val (typed, fanout) = step("fanout")(
      ToDataType.union(cleaned, "demo_case", caseTypes))
    val caseRows = typed.filter(typed("type") === caseType.name)
    val typeLinks = e.links.filter(_.typ == caseType.name)
    val linkForms = typeLinks.filter(_.toForm != caseType.form).map(_.toForm).toSet
    val linkCodes = e.codes.filter(c => c.typ == caseType.name && linkForms(c.form))
    val (_, links) = step("links")(AddLinks(caseRows, forms + ("demo_case" -> cleaned),
      typeLinks, e.alertIdLength, linkCodes, e.policy))

    // codes: the to_codes step (location join, multiple_row split, epi
    // columns, ToCodes) over the cleaned forms, with QC, visit control and
    // links switched off
    val codeCfg = e.copy(qc = Map.empty, initialVisit = Nil, links = Nil,
      codes = e.codes.filter(c => e.dataTypes.exists(t => t.name == c.typ && t.form == c.form)))
    val (_, codes) = step("codes")(DataPipeline.process(spark,
      Map("demo_case" -> cleaned, "demo_register" -> forms("demo_register")), codeCfg).data)

    val data = spark.read.parquet(dataPath)
    val (found, detect) = step("detect")(BatchRecompute.detect(data, cfg.multiAlerts))
    val (_, promote) = step("promote")(MultipleAlerts.promote(data,
      found.filter(found("duration") === 1), forms("demo_case"), e.alertData,
      alertIdLength = e.alertIdLength))
    Steps(qc.wallS, ivc.wallS, fanout.wallS, links.wallS, codes.wallS,
      detect.wallS + promote.wallS,
      ivc.mb(Counter.ShuffleWrite), links.mb(Counter.ShuffleWrite))
  }

  /** `DataWriter.write` alone, over the already-written `data` read back. */
  def dataWrite(spark: SparkSession, tracer: Tracer, dataPath: String, out: String): Double =
    tracer.span(DataWriter.write(spark.read.parquet(dataPath), out))._2.wallS
}
