package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.config.CodeDef
import graft.functions.{EpiWeek, MapResolver}
import graft.operators.ToCodes

/** Port of the reference's pipeline_worker/tests/variable_test.py — every
  * predicate method against the {applicable, value} contract, plus the
  * calc-string parser corner cases. Rows are Map[String,String] like the raw
  * ODK form data; a missing key is a missing column.
  *
  * One list of cases runs through both rule evaluators: the catalog
  * program ([[ToCodes.outcomes]]) and the Column oracle
  * ([[ColumnCompiler]]). Each case evaluates as one frame, one row per
  * check, with the checks' codes compiled together and keyed by position.
  */
class VariableCompilerSpec extends AnyFunSuite {
  import VariableCompilerSpec._
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  /** demo country config uses epi_week day:0 (demo_config.py:41) */
  private val policy = EpiWeek.StartDay(0)

  /** Either evaluator: one (applicable, value) pair per code. */
  private val evaluators: Seq[(String, Seq[CodeDef] => Seq[(Column, Column)])] = Seq(
    "catalog program" -> (codes =>
      ToCodes.outcomes(codes, new MapResolver(col("data")), policy)),
    "column oracle" -> (codes => codes.map { c =>
      val o = ColumnCompiler.compile(c, new MapResolver(col("data")), policy)
      (o.applicable, o.value.cast("string"))
    }))

  private def runCase(checks: Seq[Check]): Unit =
    for ((name, evaluate) <- evaluators) {
      val pairs = evaluate(checks.map(_.code))
      val df = checks.zipWithIndex.map { case (c, i) => (i, c.row) }.toDF("i", "data")
      val got = df.select(col("i") +: pairs.flatMap { case (a, v) => Seq(a, v) }: _*)
        .collect().map(r => r.getInt(0) -> r).toMap
      checks.zipWithIndex.foreach { case (c, i) =>
        val applicable = got(i).getBoolean(1 + 2 * i)
        val value = Option(got(i).getString(2 + 2 * i))
        val ok = c.expect match {
          case Fires        => applicable
          case FiresWith(v) => applicable && value.contains(v)
          case Skips        => !applicable
        }
        assert(ok, s"$name: ${c.code.method} over ${c.row}: expected ${c.expect}, " +
          s"got ($applicable, $value)")
      }
    }

  private def rejected(code: CodeDef): Unit =
    for ((name, evaluate) <- evaluators)
      withClue(name) { assertThrows[IllegalArgumentException](evaluate(Seq(code))) }

  private val notNull = CodeDef(id = "4", method = "not_null", condition = "None",
    dbColumn = "index")
  private val value = CodeDef(id = "4", method = "value", condition = "None",
    dbColumn = "index")
  private val valueDate = value.copy(dbColumn = "d", calculation = "date")
  private val powDiv = CodeDef(id = "4", method = "between", condition = "0,1",
    calculation = "A**2/(B-4)", dbColumn = "A,B")
  private val toDate = CodeDef(id = "4", method = "between",
    condition = "1388527200,2019679200", // 2014..2034
    calculation = "Variable.to_date(A)", dbColumn = "A")
  private val bounds = CodeDef(id = "4", method = "between", condition = "10,20",
    calculation = "A", dbColumn = "A")
  private val calcSum = CodeDef(id = "4", method = "calc", condition = "None",
    calculation = "A+B", dbColumn = "A,B")
  private val calcDiv = calcSum.copy(calculation = "A/B")
  private val match1 = CodeDef(id = "4", method = "match", dbColumn = "column1",
    condition = "A")
  private val subMatch1 = match1.copy(method = "sub_match")
  private val andMatch = CodeDef(id = "4", method = "match and match",
    dbColumn = "column1;column2", condition = "A;B")
  private val orMatch = andMatch.copy(method = "match or match")

  private def cols(c1: String, c2: String) = Map("column1" -> c1, "column2" -> c2)

  /** The reference's cases (variable_test.py line ranges), as checks. */
  private val cases: Seq[(String, Seq[Check])] = Seq(
    // --- not_null (variable_test.py:29-46) ---
    "not_null" -> Seq(
      Check(notNull, Map("index" -> "hei"), Fires),
      Check(notNull, Map("index" -> ""), Skips),
      Check(notNull, Map.empty, Skips)),
    // --- value (variable_test.py:48-68) ---
    "value returns the raw value truthy-gated" -> Seq(
      Check(value, Map("index" -> "hei"), FiresWith("hei")),
      Check(value, Map("index" -> ""), Skips),
      Check(value, Map.empty, Skips)),
    "value with calculation=date ISO-formats" -> Seq(
      Check(valueDate, Map("d" -> "Apr 17, 2016"), FiresWith("2016-04-17T00:00:00")),
      Check(valueDate, Map("d" -> "not a date"), Skips)),
    // --- between (variable_test.py:70-118) ---
    "between with power and division" -> Seq(
      Check(powDiv, Map("A" -> "1", "B" -> "6"), Fires),    // 1/2 = 0.5
      Check(powDiv, Map("A" -> "2", "B" -> "6"), Skips),    // 4/2 = 2
      Check(powDiv, Map("A" -> "2", "B" -> "400"), Fires),  // ~0.01
      Check(powDiv, Map("A" -> "2", "B" -> "1"), Skips),    // negative
      Check(powDiv, Map("A" -> "2"), Skips)),               // missing column
    "between with Variable.to_date" -> Seq(
      Check(toDate, Map("A" -> "01-Jan-2016"), Fires),
      Check(toDate, Map("A" -> "01-Jan-2035"), Skips),
      Check(toDate, Map("A" -> "01-Jan-2010"), Skips)),
    "between bounds are lower-inclusive upper-exclusive" -> Seq(
      Check(bounds, Map("A" -> "10"), Fires),
      Check(bounds, Map("A" -> "20"), Skips),
      Check(bounds, Map("A" -> "19.999"), Fires)),
    // --- calc (variable_test.py:120-164) ---
    "calc computes and result 0 is applicable" -> Seq(
      Check(calcSum, Map("A" -> "1", "B" -> "6"), FiresWith("7.0")),
      Check(calcSum, Map("A" -> "2", "B" -> "400"), FiresWith("402.0")),
      Check(calcSum, Map("A" -> "2"), Skips), // missing column → not applicable
      Check(calcSum, Map("A" -> "2", "B" -> "-2"), FiresWith("0.0"))),
    "calc empty string treated as 0" -> Seq(
      Check(calcSum, Map("A" -> "3", "B" -> ""), FiresWith("3.0"))),
    "calc division by zero yields 0" -> Seq(
      Check(calcDiv, Map("A" -> "3", "B" -> "0"), FiresWith("0.0"))),
    // --- match (variable_test.py:166-188) ---
    "match exact membership" -> Seq(
      Check(match1, Map("column1" -> "A"), Fires),
      Check(match1, Map("column1" -> "B"), Skips),
      Check(match1, Map("column1" -> "Aa"), Skips),
      Check(match1.copy(condition = "A,C"), Map("column1" -> "A"), Fires),
      Check(match1.copy(condition = "A,C"), Map("column1" -> "C"), Fires),
      Check(match1.copy(condition = "A,C"), Map("column1" -> "B"), Skips),
      Check(match1.copy(condition = "A,C"), Map("column1" -> "Aa"), Skips)),
    // --- sub_match (variable_test.py:190-215) ---
    "sub_match matches exact or substring" -> Seq(
      Check(subMatch1, Map("column1" -> "A"), Fires),
      Check(subMatch1, Map("column1" -> "A3"), Fires),
      Check(subMatch1, Map("column1" -> "B"), Skips),
      Check(subMatch1.copy(condition = "A,C"), Map("column1" -> "A"), Fires),
      Check(subMatch1.copy(condition = "A,C"), Map("column1" -> "C"), Fires),
      Check(subMatch1.copy(condition = "A,C"), Map("column1" -> "A1"), Fires),
      Check(subMatch1.copy(condition = "A,C"), Map("column1" -> "C3"), Fires),
      Check(subMatch1.copy(condition = "A,C"), Map("column1" -> "B"), Skips)),
    // --- and / or (variable_test.py:217-310) ---
    "and combination" -> Seq(
      Check(andMatch, cols("A", "B"), Fires),
      Check(andMatch, cols("B", "A"), Skips),
      Check(andMatch, cols("Aa", "B"), Skips),
      Check(andMatch.copy(condition = "A,C;B"), cols("A", "B"), Fires),
      Check(andMatch.copy(condition = "A,C;B"), cols("C", "B"), Fires)),
    "or combination" -> Seq(
      Check(orMatch, cols("A", "B"), Fires),
      Check(orMatch, cols("B", "A"), Skips),
      Check(orMatch, cols("Aa", "B"), Fires),
      Check(orMatch, cols("Aa", "C"), Skips),
      Check(orMatch.copy(condition = "A,C;B"), cols("A", "B"), Fires),
      Check(orMatch.copy(condition = "A,C;B"), cols("C", "D"), Fires)),
    "mixed test types" -> {
      val c1 = CodeDef(id = "4", method = "match and sub_match",
        dbColumn = "column1;column2", condition = "A;B")
      val c2 = CodeDef(id = "4", method = "match and between",
        dbColumn = "column1;column2", calculation = "None;column2",
        condition = "A;4,9")
      val c3 = CodeDef(id = "4", method = "sub_match or not_null",
        dbColumn = "column1;column2", condition = "A;None")
      Seq(
        Check(c1, cols("A", "Bb"), Fires),
        Check(c1, cols("B", "A"), Skips),
        Check(c1, cols("Aa", "B"), Skips),
        Check(c2, cols("A", "5"), Fires),
        Check(c2, cols("A", "3"), Skips),
        Check(c2, cols("Aa", "5"), Skips),
        Check(c3, cols("A", "5"), Fires),
        Check(c3, cols("A", ""), Fires),
        Check(c3, cols("B", ""), Skips),
        Check(c3, cols("Aa", "5"), Fires))
    })

  for ((name, checks) <- cases) test(name)(runCase(checks))

  /** Codes neither evaluator may compile. */
  private val rejectedCases: Seq[(String, CodeDef)] = Seq(
    "between with undeclared column fails at compile" -> powDiv.copy(
      calculation = "C/(B-4)"),
    "calc with undeclared column fails at compile" -> calcSum.copy(
      calculation = "A+C"),
    "unknown method raises" -> match1.copy(method = "no_such_method"))

  for ((name, code) <- rejectedCases) test(name)(rejected(code))
}

object VariableCompilerSpec {
  sealed trait Expect
  /** applicable, whatever the value */
  case object Fires extends Expect
  /** applicable with this value */
  final case class FiresWith(value: String) extends Expect
  case object Skips extends Expect

  final case class Check(code: CodeDef, row: Map[String, String], expect: Expect)
}
