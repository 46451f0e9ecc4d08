package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.config.CodesCsv
import graft.functions.{EpiWeek, MapResolver}
import graft.operators.ToCodes

/** Fidelity test over a demo rule catalog in the AggregationVariables CSV
  * format: every row must compile into the catalog program and evaluate
  * over a form row — the whole catalog becomes one wide projection, exactly
  * what production would run.
  *
  * The catalog (`variable_codes/demo_codes.csv` on the test classpath) is
  * transcribed from the demo country config's schema and representative
  * rows (FIXTURES.md §5), grown to cover every method, condition form,
  * calc operator, multiple_link method and disregard kind: 84 case codes
  * (5 of them multiple_link), 66 visit and 40 register codes.
  */
class DemoCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private lazy val catalog = CodesCsv.load(spark, new java.io.File(
    getClass.getResource("/variable_codes/demo_codes.csv").toURI).getPath)

  test("the full demo catalog loads") {
    assert(catalog.size === 190) // every row of the CSV
    // duplicate string ids are legal in the catalog (id_pk is the real key);
    // this one happens to have none
    assert(catalog.map(_.id).distinct.size === 190)
  }

  test("every demo code compiles to a Column pair") {
    // each code compiles alone into a CatalogProgram, so a failure names it
    val r = new MapResolver(col("data"))
    val failures = catalog.flatMap { code =>
      try { ToCodes.outcomes(Seq(code), r, EpiWeek.StartDay(0)); None }
      catch { case e: Throwable => Some(s"${code.id}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, s"non-compiling codes:\n${failures.mkString("\n")}")
  }

  test("the full case catalog evaluates as one projection over a form row") {
    val caseCodes = catalog.filter(c => c.typ == "case" && c.multipleLink.isEmpty)
    val row = Map(
      "intro./visit" -> "new", "pt1./gender" -> "female", "pt1./age" -> "25",
      "icd_code" -> "A80.9", "pregnant" -> "yes", "module" -> "ncd",
      "pt./visit_date" -> "2016-04-17", "SubmissionDate" -> "2016-04-18T10:00:00",
      "results./bmi_weight" -> "70", "results./bmi_height" -> "175",
      "nationality" -> "demo", "pt1./status" -> "refugee",
      "intro_module" -> "mh,imci", "vaccination_type" -> "bcg,hepb",
      "symptoms" -> "A9_4,B15-17_2", "smoke_ever" -> "yes", "smoke_now" -> "no")
    val df = Seq(Tuple1(row)).toDF("data")
    val out = ToCodes(df, caseCodes, new MapResolver(col("data")),
      EpiWeek.StartDay(0))
    val vars = out.select("variables").as[Map[String, String]].head()
    // sanity: demographic + clinical codes fired from this row
    assert(vars.nonEmpty)
    assert(vars.exists { case (k, _) => k.startsWith("gen_") },
      s"expected a gender code among ${vars.keys.toSeq.sorted.take(40)}")
    // polio case A80.9 must raise the individual alert
    assert(vars.get("alert").contains("1"))
    // BMI between-band: 70 / 1.75² ≈ 22.86 ∈ [0,50) fires lab_3, not the
    // overweight (25+) or obese (30+) bands
    assert(vars.get("lab_3").contains("1"))
    assert(!vars.contains("lab_4") && !vars.contains("lab_5"))
    // the submission_date value-code stores the raw value
    assert(vars.get("submission_date").contains("2016-04-18T10:00:00"))
  }
}
