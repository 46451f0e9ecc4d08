package graft

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.config.CodeDef
import graft.functions.{CalcParser, ColumnResolver, ContainsAny, EpiWeek, VariableCompiler}
import graft.functions.EpiWeek.YearStartPolicy

/** The Column formulation of one code rule, kept as the oracle that
  * [[graft.functions.CatalogProgram]]'s rules are checked against: the
  * reference's Variable class (codes/variable.py) compiled into Catalyst
  * `Column` trees, one (applicable, value) pair per code, with the
  * calculation AST lowered to Column arithmetic and long `sub_match` lists
  * scanned by [[ContainsAnyExpr]].
  *
  * Outcome contract (variable.py:147-173): `applicable` gates whether the
  * code id is written into `variables`; `value` is what gets stored (1 for
  * predicates, the computed number for calc, raw/ISO string for value). A
  * field is present when its value is non-null.
  */
object ColumnCompiler {

  /** Compiled outcome of one code against one row shape. */
  final case class Compiled(applicable: Column, value: Column)

  /** Python-truthiness for the string values predicates gate on:
    * None, "" are falsy; the string "0" is truthy (identity check in
    * test_not_null/test_value — variable.py:226-249). */
  private def truthy(c: Column): Column = c.isNotNull && c =!= ""

  /** The field's date parse; a [[BoundResolver]] supplies a pre-projected
    * one. */
  private def dateParsed(r: ColumnResolver, column: String): Column = r match {
    case b: BoundResolver => b.dateParsed(column)
    case _                => VariableCompiler.parseDate(r.get(column))
  }

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
        Compiled(coalesce(combineBool(termCols, ops), lit(false)), lit("1"))
    }
  }

  /** Python precedence: `&` binds tighter than `|` (variable.py:31-54). */
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
        val base = v.isin(condition: _*)
        val withNull = if (condition.contains("")) base || v.isNull else base
        coalesce(withNull, lit(false))
      case "sub_match" =>
        // variable.py:207-224 — exact match OR any condition substring of
        // value; long condition lists scan in one native expression
        val subs =
          if (condition.length > 4) ContainsAnyExpr(v, condition)
          else condition.map(c => v.contains(c)).reduce(_ || _)
        coalesce(v.isin(condition: _*) || subs, lit(false))
      case "not_null" =>
        // variable.py:226-231 — fails for missing, "", None; string "0" passes
        truthy(v)
      case "between" =>
        compileBetween(columns, condition, calculation, r, policy)
      case other =>
        throw new IllegalArgumentException(s"code ${code.id}: bad method term $other")
    }
  }

  /** between (variable.py:107-122, 251-286): evaluate `calculation`, test
    * lower-inclusive/upper-exclusive bounds. Missing or empty input → fail. */
  private def compileBetween(columns: Seq[String], condition: Seq[String],
                             calculation: String, r: ColumnResolver,
                             policy: YearStartPolicy): Column = {
    val (sub, ordered) = CalcParser.substitute(calculation, columns)
    val numeric = (i: Int) => r.get(ordered(i)).cast("double")
    val result = lower(CalcParser.parse(sub), numeric, toDated(r, ordered, policy))
    val allPresent = columns.map(c => truthy(r.get(c))).reduce(_ && _)
    // div-by-zero → null result → coalesce(false) = reference's
    // ZeroDivisionError → 0
    allPresent && coalesce(result >= condition(0).toDouble &&
      result < condition(1).toDouble, lit(false))
  }

  private def toDated(r: ColumnResolver, ordered: Seq[String],
                      policy: YearStartPolicy): Int => Column = i =>
    VariableCompiler.toDateSecondsOf(dateParsed(r, ordered(i)), r.get(ordered(i)), policy)

  /** value (variable.py:233-249): return the raw value, truthy-gated;
    * calculation=="date" parses and ISO-formats it. */
  private def compileValue(code: CodeDef, r: ColumnResolver): Compiled = {
    val column = code.columnsPerTerm.head.head
    val v = r.get(column)
    if (code.calculation == "date") {
      val parsed = dateParsed(r, column)
      Compiled(coalesce(truthy(v) && parsed.isNotNull, lit(false)),
        VariableCompiler.isoDate(parsed))
    } else {
      Compiled(coalesce(truthy(v), lit(false)), v)
    }
  }

  /** calc (variable.py:288-313): arithmetic over columns; missing column →
    * not applicable; empty value → 0; ZeroDivision → 0; result 0 is still
    * applicable (variable.py:165-171). */
  private def compileCalc(code: CodeDef, r: ColumnResolver,
                          policy: YearStartPolicy): Compiled = {
    val columns = code.columnsPerTerm.head
    val (sub, ordered) = CalcParser.substitute(code.calculation, columns)
    val numeric = (i: Int) => {
      val raw = r.get(ordered(i))
      when(raw.isNull || raw === "", lit(0.0)).otherwise(raw.cast("double"))
    }
    val result = lower(CalcParser.parse(sub), numeric, toDated(r, ordered, policy))
    val allPresent = columns.map(r.get(_).isNotNull).reduce(_ && _)
    // null result (division by zero / unparseable operand) → 0, still applicable
    Compiled(allPresent, coalesce(result, lit(0.0)).cast("string"))
  }

  /** Lower a calculation AST to a Column.
    *
    * @param numeric  numeric value of column i (reference: float(raw), with
    *                 method-specific empty/missing handling applied by caller)
    * @param toDated  `Variable.to_date` value of column i: date-parse → seconds
    *                 since epi epoch, falling back to the numeric value
    *                 (variable.py:321-367 returns the element unchanged when
    *                 it isn't a date string)
    */
  def lower(ast: CalcParser.Ast, numeric: Int => Column, toDated: Int => Column): Column = {
    import CalcParser._
    def go(a: Ast): Column = a match {
      case Num(v)         => lit(v)
      case Ref(i)         => numeric(i)
      case Neg(e)         => -go(e)
      case ToDate(Ref(i)) => toDated(i)
      case ToDate(e)      => go(e) // to_date of a non-column: passthrough
      case Bin('+', l, r) => go(l) + go(r)
      case Bin('-', l, r) => go(l) - go(r)
      case Bin('*', l, r) => go(l) * go(r)
      case Bin('/', l, r) => try_divide(go(l), go(r))
      case Bin('^', l, r) => pow(go(l), go(r))
      case Bin(op, _, _)  => throw new IllegalArgumentException(s"bad op $op")
      case Fn("abs", e)   => abs(go(e))
      // python int(): truncation toward zero
      case Fn("int", e)   => go(e).cast("long").cast("double")
      case Fn(n, _)       => throw new IllegalArgumentException(s"bad fn $n")
      case Cmp(op, l, r) =>
        val (lc, rc) = (go(l), go(r))
        val cond = op match {
          case "<"  => lc < rc
          case "<=" => lc <= rc
          case ">"  => lc > rc
          case ">=" => lc >= rc
          case "==" => lc === rc
          case "!=" => lc =!= rc
        }
        when(cond, lit(1.0)).otherwise(lit(0.0))
    }
    go(ast)
  }
}

/** "Any of these literals is a substring of the value" as a Catalyst
  * expression: the needle list is one referenced array and the generated
  * code a fixed-size call to [[ContainsAny.containsAny]], where a
  * `Contains` OR-chain over a 900-element list would generate ~1 MB of Java
  * per code.
  */
case class ContainsAnyExpr(child: Expression, needles: Array[UTF8String])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"contains_any expects a string child, got ${child.dataType}")

  override protected def nullSafeEval(value: Any): Any =
    ContainsAny.containsAny(value.asInstanceOf[UTF8String], needles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val needlesRef = ctx.addReferenceObj("needles", needles,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.ContainsAny.containsAny($v, $needlesRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ContainsAnyExpr {
  def apply(value: Column, needles: Seq[String]): Column =
    GraftColumnBridge.column(ContainsAnyExpr(
      GraftColumnBridge.expression(value),
      needles.map(UTF8String.fromString).toArray))
}
