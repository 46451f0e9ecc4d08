package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.config.CodeDef
import graft.functions.EpiWeek.YearStartPolicy

/** Compiles one AggregationVariables row (a "code") into Catalyst columns.
  *
  * This is the Spark-native re-expression of the reference's Variable class
  * (codes/variable.py): where the reference compiles each rule to a Python
  * closure evaluated record-at-a-time, we compile it once into a `Column`
  * expression tree evaluated columnar under whole-stage codegen.
  *
  * Outcome contract (variable.py:147-173): `applicable` gates whether the
  * code id is written into `variables`; `value` is what gets stored (1 for
  * predicates, the computed number for calc, raw/ISO string for value).
  */
object VariableCompiler {

  /** Reference's permissive date-format ladder (variable.py:370-380) as Spark
    * datetime patterns, plus the SubmissionDate helper format
    * (util/datetime_helper.py:1-8). */
  val dateFormats: Seq[String] = Seq(
    "yyyy-MM-dd",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    "MMM d, yyyy",
    "d-MMM-yyyy",
    "d-MMM-yyyy h:mm:ss",
    "d-MMM-yyyy H:mm:ss",
    "MMM d, yyyy h:mm:ss a"
  )

  /** Shape regex per format, so the parse is DISPATCHED instead of tried:
    * a failed `try_to_timestamp` is exception-driven (~µs each), and a
    * coalesce ladder pays one failure per preceding format on EVERY value —
    * the dominant cost of date-heavy columns at corpus scale. One cheap
    * compiled-regex probe per shape picks the single parser to run.
    *
    * Parser per branch: the offset-free ISO shapes parse via Spark's native
    * string→timestamp/date CAST (a hand-written UTF8String parser, ~3×
    * faster than the DateTimeFormatter behind `try_to_timestamp` —
    * measured 1.7 s of a 2.6 s link-aggregation stage at sf0.1). A bare
    * cast-first design would be WRONG — cast accepts strings the ladder
    * must reject ("2020" parses as a year, but `Variable.to_date` must
    * fall through to its numeric value) — so the cast runs only inside a
    * shape branch whose regex admits exactly the strings the original
    * format parses; within a branch, cast and formatter agree (both null
    * out impossible dates non-ANSI). The exotic textual-month shapes keep
    * `try_to_timestamp`; the h/H ambiguity (12h vs 24h clock, same textual
    * shape) keeps the reference's h-then-H order inside its shape branch. */
  private val dateShapes: Seq[(String, Column => Column)] = {
    def fmt(fmts: String*): Column => Column =
      raw =>
        if (fmts.length == 1) try_to_timestamp(raw, lit(fmts.head))
        else coalesce(fmts.map(f => try_to_timestamp(raw, lit(f))): _*)
    def castTs: Column => Column = _.cast("timestamp")
    Seq(
      "^\\d{4}-\\d{2}-\\d{2}$" -> ((raw: Column) =>
        raw.cast("date").cast("timestamp")),
      "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}$" -> castTs,
      "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$" -> castTs,
      "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{6}$" -> castTs,
      // NOT cast: the reference's format quotes Z as a LITERAL (naive
      // parse in session time), while cast would read it as a UTC offset —
      // identical only in UTC sessions, so keep the formatter's contract
      "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{6}Z$" ->
        fmt("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
      "^[A-Za-z]{3} \\d{1,2}, \\d{4}$" -> fmt("MMM d, yyyy"),
      "^\\d{1,2}-[A-Za-z]{3}-\\d{4}$" -> fmt("d-MMM-yyyy"),
      "^\\d{1,2}-[A-Za-z]{3}-\\d{4} \\d{1,2}:\\d{2}:\\d{2}$" ->
        fmt("d-MMM-yyyy h:mm:ss", "d-MMM-yyyy H:mm:ss"),
      "^[A-Za-z]{3} \\d{1,2}, \\d{4} \\d{1,2}:\\d{2}:\\d{2} [AaPp][Mm]$" ->
        fmt("MMM d, yyyy h:mm:ss a")
    )
  }

  /** Best-effort timestamp parse over the format ladder; null if no format
    * fits. Semantics identical to coalescing try_to_timestamp over
    * [[dateFormats]] (each shape regex admits exactly the strings its
    * format parses). */
  def parseDate(raw: Column): Column = {
    dateShapes.tail.foldLeft(
      when(raw.rlike(dateShapes.head._1), dateShapes.head._2(raw))) {
      case (acc, (shape, parse)) => acc.when(raw.rlike(shape), parse(raw))
    }
  }

  /** `Variable.to_date` (variable.py:321-367): date string → seconds since the
    * epi epoch (first epi-week-start weekday after 1970-01-01); non-date
    * values pass through as their numeric value. */
  def toDateSeconds(raw: Column, policy: YearStartPolicy): Column =
    toDateSecondsOf(parseDate(raw), raw, policy)

  /** As `toDateSeconds`, with the parse supplied by the caller (a
    * [[ColumnResolver.dateParsed]] pre-projection at catalog scale). */
  def toDateSecondsOf(parsed: Column, raw: Column,
                      policy: YearStartPolicy): Column = {
    // Reference epi_offset = (4 + start_weekday) % 7 days (variable.py:346-357):
    // days from the epoch (Thu 1970-01-01) to the first epi-week-start weekday.
    // "international" starts years on Jan 1, so the offset is 0 there.
    val off = policy match {
      case EpiWeek.International => 0L
      case EpiWeek.StartDay(w)   => ((4 + w) % 7).toLong * 86400L
      case _: EpiWeek.Custom     => 0L // no epoch notion for custom configs
    }
    when(parsed.isNotNull, (unix_timestamp(parsed) - off).cast("double"))
      .otherwise(raw.cast("double"))
  }

  /** A parsed date as the value method's ISO string (variable.py:233-249). */
  def isoDate(parsed: Column): Column = date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss")

  /** Compiled outcome of one code against one row shape. */
  final case class Compiled(applicable: Column, value: Column)

  /** Python-truthiness for the string values predicates gate on:
    * None, "" are falsy; the string "0" is truthy (identity check in
    * test_not_null/test_value — variable.py:226-249). */
  private def truthy(c: Column): Column = c.isNotNull && c =!= ""

  def compile(code: CodeDef, r: ColumnResolver,
              policy: YearStartPolicy = EpiWeek.International): Compiled = {
    val terms = code.methodTerms
    val ops = code.boolOps
    val cols = code.columnsPerTerm
    val conds = code.conditionsPerTerm
    require(conds.length >= terms.length || terms == Seq("value") || terms == Seq("calc"),
      s"code ${code.id}: need a condition per method term")

    terms match {
      case Seq("value") => compileValue(code, r)
      case Seq("calc")  => compileCalc(code, r, policy)
      case _ =>
        // per-term calculation strings are `;`-separated alongside the terms
        // (variable.py:128-141); only between terms consume theirs
        val calcPerTerm = code.calculation.split(";", -1).toSeq
          .padTo(terms.length, "")
        val termCols = terms.zipWithIndex.map { case (t, i) =>
          compileTerm(code, t, cols(i), conds(i), calcPerTerm(i), r, policy)
        }
        // and/or combine (variable.py:31-54): bitwise & | over term results,
        // left-to-right, no precedence (matches the reference's generated
        // `a&b|c` Python expression evaluation order... Python gives & higher
        // precedence than |; we reproduce that).
        val applicable = combineBool(termCols, ops)
        Compiled(coalesce(applicable, lit(false)), lit("1"))
    }
  }

  /** Python precedence: `&` binds tighter than `|`. */
  private def combineBool(terms: Seq[Column], ops: Seq[String]): Column = {
    require(terms.length == ops.length + 1)
    // fold runs of `and` first, then `or` the groups
    var orGroups = List.empty[Column]
    var current = terms.head
    ops.zip(terms.tail).foreach {
      case ("and", t) => current = current && t
      case ("or", t)  => orGroups = current :: orGroups; current = t
      case (op, _)    => throw new IllegalArgumentException(s"bad logic op $op")
    }
    (current :: orGroups).reduce(_ || _)
  }

  private def compileTerm(code: CodeDef, term: String, columns: Seq[String],
                          condition: Seq[String], calculation: String,
                          r: ColumnResolver,
                          policy: YearStartPolicy): Column = {
    val column = columns.head // multi-column specs only occur for calc/between
    val v = r.get(column)
    term match {
      case "match" =>
        // variable.py:200-205 — `row[col] in condition`; a "" condition also
        // admits the missing/empty value (conditions gain None when '' listed)
        val condList = condition
        val base = v.isin(condList: _*)
        val withNull =
          if (condList.contains("")) base || v.isNull else base
        coalesce(withNull, lit(false))
      case "sub_match" =>
        // variable.py:207-224 — exact match OR any condition substring of
        // value. Long condition lists (the ICD prefix catalogs) go through
        // the native ContainsAny expression: constant generated-code size
        // and a short-circuiting scan, vs ~1KB of Java per Contains branch.
        val subs =
          if (condition.length > 4) ContainsAny.containsAny(v, condition)
          else condition.map(c => v.contains(c)).reduce(_ || _)
        coalesce(v.isin(condition: _*) || subs, lit(false))
      case "not_null" =>
        // variable.py:226-231 — fails for missing, "", None; string "0" passes
        r.exists(column) && truthy(v)
      case "between" =>
        compileBetween(code, columns, condition, calculation, r, policy)
      case other =>
        throw new IllegalArgumentException(s"code ${code.id}: bad method term $other")
    }
  }

  /** between (variable.py:107-122, 251-286): evaluate `calculation`, test
    * lower-inclusive/upper-exclusive bounds. Missing or empty input → fail. */
  private def compileBetween(code: CodeDef, columns: Seq[String],
                             condition: Seq[String], calculation: String,
                             r: ColumnResolver,
                             policy: YearStartPolicy): Column = {
    val (sub, ordered) = CalcParser.substitute(calculation, columns)
    val ast = CalcParser.parse(sub)
    val numeric = (i: Int) => r.get(ordered(i)).cast("double")
    val toDated = (i: Int) =>
      toDateSecondsOf(r.dateParsed(ordered(i)), r.get(ordered(i)), policy)
    val result = CalcParser.lower(ast, numeric, toDated)
    val allPresent = columns.map(c => r.exists(c) && truthy(r.get(c))).reduce(_ && _)
    val lo = condition(0).toDouble
    val hi = condition(1).toDouble
    // div-by-zero → null result → coalesce(false) = reference's
    // ZeroDivisionError → 0
    allPresent && coalesce(result >= lo && result < hi, lit(false))
  }

  /** value (variable.py:233-249): return the raw value, truthy-gated;
    * calculation=="date" parses and ISO-formats it. */
  private def compileValue(code: CodeDef, r: ColumnResolver): Compiled = {
    val column = code.columnsPerTerm.head.head
    val v = r.get(column)
    if (code.calculation == "date") {
      val parsed = r.dateParsed(column)
      Compiled(
        coalesce(r.exists(column) && truthy(v) && parsed.isNotNull, lit(false)),
        isoDate(parsed))
    } else {
      Compiled(coalesce(r.exists(column) && truthy(v), lit(false)), v)
    }
  }

  /** calc (variable.py:288-313): arithmetic over columns; missing column →
    * not applicable; empty value → 0; ZeroDivision → 0; result 0 is still
    * applicable (variable.py:165-171). */
  private def compileCalc(code: CodeDef, r: ColumnResolver,
                          policy: YearStartPolicy): Compiled = {
    val columns = code.columnsPerTerm.head
    val (sub, ordered) = CalcParser.substitute(code.calculation, columns)
    val ast = CalcParser.parse(sub)
    val numeric = (i: Int) => {
      val raw = r.get(ordered(i))
      when(raw.isNull || raw === "", lit(0.0)).otherwise(raw.cast("double"))
    }
    val toDated = (i: Int) =>
      toDateSecondsOf(r.dateParsed(ordered(i)), r.get(ordered(i)), policy)
    val result = CalcParser.lower(ast, numeric, toDated)
    val allExist = columns.map(r.exists).reduce(_ && _)
    // null result (division by zero / unparseable operand) → 0, still applicable
    Compiled(allExist, coalesce(result, lit(0.0)).cast("string"))
  }

  /** calc variant keeping the numeric type (for gate queries that compare the
    * computed value against a SQL oracle as DOUBLE). */
  def compileCalcNumeric(code: CodeDef, r: ColumnResolver,
                         policy: YearStartPolicy = EpiWeek.International): Compiled = {
    val c = compileCalc(code, r, policy)
    Compiled(c.applicable, c.value.cast("double"))
  }
}
