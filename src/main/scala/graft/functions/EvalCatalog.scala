package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapBuilder, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.config.CodeDef

/** A whole code catalog evaluated as ONE native Catalyst expression — the
  * reference's own shape (codes/to_codes.py): a loop over a compiled
  * catalog per record.
  *
  * The children are the catalog's typed LEAVES ([[CatalogProgram.Leaf]]),
  * computed by Catalyst once per distinct input column: the raw string,
  * its `cast(double)`, the ISO date string and `Variable.to_date` seconds
  * of the pre-parsed date, and the (applicable, value) pair of codes the
  * program cannot express (multiple_link codes). Every cast and parse stays
  * a Catalyst expression; the program only tests, combines and folds. So
  * the plan grows with the catalog's input columns, not with its codes, and
  * `doGenCode` is the leaves plus one static call whatever the catalog size:
  * the program travels as a reference object.
  *
  * Output `struct(variables, categories, disregard)`, the semantics of
  * [[graft.operators.ToCodes]]: first applicable member per group, lowest
  * `(priority, index)` in priority groups, the last firing alert code's
  * reason, `disregard = anyDisregard && anyAlert`, and both maps built
  * through Spark's own map builder, so `spark.sql.mapKeyDedupPolicy`
  * decides duplicate keys exactly as `map_from_entries` did (LAST_WIN keeps
  * the first insertion's position).
  */
case class EvalCatalog(children: Seq[Expression], program: CatalogProgram)
    extends Expression {

  override def nullable: Boolean = false
  override def dataType: DataType = EvalCatalog.OutputType

  override def eval(input: InternalRow): Any = {
    val leaves = new Array[AnyRef](children.length)
    var i = 0
    while (i < leaves.length) {
      leaves(i) = children(i).eval(input).asInstanceOf[AnyRef]
      i += 1
    }
    EvalCatalog.evaluate(program, leaves)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val programRef = ctx.addReferenceObj("catalog", program,
      classOf[CatalogProgram].getName)
    val leaves = ctx.freshName("leaves")
    val assigns = children.zipWithIndex.map { case (child, i) =>
      val c = child.genCode(ctx)
      s"""
         |${c.code}
         |if (${c.isNull}) {
         |  $leaves[$i] = null;
         |} else {
         |  $leaves[$i] = ${c.value};
         |}
       """.stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(assigns,
      funcName = "evalCatalogLeaves", extraArguments = ("Object[]", leaves) :: Nil)
    ev.copy(isNull = FalseLiteral,
      code = code"""
        |Object[] $leaves = new Object[${children.length}];
        |$body
        |InternalRow ${ev.value} = graft.functions.EvalCatalog.evaluate($programRef, $leaves);
        |""".stripMargin)
  }

  override def prettyName: String = "eval_catalog"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EvalCatalog = copy(children = newChildren)
}

object EvalCatalog {

  val OutputType: StructType = StructType(Seq(
    StructField("variables", MapType(StringType, StringType), nullable = false),
    StructField("categories", MapType(StringType, StringType), nullable = false),
    StructField("disregard", BooleanType, nullable = false)))

  private val AlertKey = UTF8String.fromString("alert")
  private val AlertTypeKey = UTF8String.fromString("alert_type")
  private val AlertReasonKey = UTF8String.fromString("alert_reason")
  private val Individual = UTF8String.fromString("individual")

  /** Evaluate the program over one row's leaves. Static (Java-callable) so
    * the generated code invokes it directly; named apart from the
    * expression's own `eval`, which would suppress the static forwarder. */
  def evaluate(p: CatalogProgram, leaves: Array[AnyRef]): InternalRow = {
    val vars = new ArrayBasedMapBuilder(StringType, StringType)
    val cats = new ArrayBasedMapBuilder(StringType, StringType)
    var anyAlert = false
    var anyDisregard = false
    var reason: UTF8String = null

    def fire(c: Int): Unit = {
      val id = p.ids(c)
      val cs = p.categories(c)
      var k = 0
      while (k < cs.length) { cats.put(cs(k), id); k += 1 }
      if (p.alert(c)) { anyAlert = true; reason = id }
      if (p.disregard(c)) anyDisregard = true
    }

    var g = 0
    while (g < p.groups.length) {
      val members = p.groups(g)
      if (!p.priorityGroup(g)) {
        // first applicable member wins; the loop breaks (to_codes.py:305)
        var i = 0
        var hit = -1
        while (hit < 0 && i < members.length) {
          if (p.rules(members(i)).applicable(leaves)) hit = members(i)
          i += 1
        }
        if (hit >= 0) {
          vars.put(p.ids(hit), p.rules(hit).value(leaves))
          fire(hit)
        }
      } else {
        // every applicable member fires; the variables entry goes to the
        // lowest (priority, catalog index) — members are in index order,
        // so a strict < keeps the earlier of two equal priorities
        val fired = new Array[Boolean](members.length)
        var best = -1
        var i = 0
        while (i < members.length) {
          val c = members(i)
          if (p.rules(c).applicable(leaves)) {
            fired(i) = true
            if (best < 0 || p.priority(c) < p.priority(best)) best = c
          }
          i += 1
        }
        if (best >= 0) vars.put(p.ids(best), p.rules(best).value(leaves))
        i = 0
        while (i < members.length) {
          if (fired(i)) fire(members(i))
          i += 1
        }
      }
      g += 1
    }

    var s = 0
    while (s < p.staticKeys.length) {
      vars.put(p.staticKeys(s), p.staticValues(s)); s += 1
    }
    if (anyAlert) {
      vars.put(AlertKey, CatalogProgram.One)
      vars.put(AlertTypeKey, Individual)
      vars.put(AlertReasonKey, reason)
      var a = 0
      while (a < p.alertDataKeys.length) {
        vars.put(p.alertDataKeys(a), leaves(p.alertDataLeaves(a))); a += 1
      }
    }
    new GenericInternalRow(Array[Any](vars.build(), cats.build(),
      anyDisregard && anyAlert))
  }
}

/** A code catalog compiled for [[EvalCatalog]]: per-code rules over leaf
  * indices, group and priority tables, and the category / alert /
  * disregard flags. Built once per plan by [[CatalogProgram.compile]].
  */
final class CatalogProgram private (
    val ids: Array[UTF8String],
    val rules: Array[CatalogProgram.Rule],
    val categories: Array[Array[UTF8String]],
    val alert: Array[Boolean],
    val disregard: Array[Boolean],
    val priority: Array[Int],
    val groups: Array[Array[Int]],
    val priorityGroup: Array[Boolean],
    val staticKeys: Array[UTF8String],
    val staticValues: Array[UTF8String],
    val alertDataKeys: Array[UTF8String],
    val alertDataLeaves: Array[Int]) extends Serializable {
  override def toString: String = s"catalog[${ids.length} codes]"
}

object CatalogProgram {

  /** An input the program reads, computed by Catalyst per row. */
  sealed trait Leaf
  object Leaf {
    /** The field's raw string (the resolver's `get`); null when absent. */
    final case class Raw(column: String) extends Leaf
    /** `cast(raw as double)`, non-ANSI: null when unparseable. */
    final case class AsDouble(column: String) extends Leaf
    /** `date_format` of the parsed date, ISO seconds; null when no date
      * format fits. */
    final case class IsoDate(column: String) extends Leaf
    /** `Variable.to_date`: seconds since the epi epoch, else the numeric
      * value ([[VariableCompiler.toDateSecondsOf]]). */
    final case class DateSeconds(column: String) extends Leaf
    /** The caller-compiled applicability of code `code` (a boolean). */
    final case class Applicable(code: Int) extends Leaf
    /** The caller-compiled value of code `code` (a string). */
    final case class Value(code: Int) extends Leaf
  }

  private[functions] val One = UTF8String.fromString("1")

  private def str(l: Array[AnyRef], i: Int): UTF8String =
    l(i).asInstanceOf[UTF8String]

  /** Python truthiness of a form value: None and "" are falsy. */
  private def truthy(v: UTF8String): Boolean = v != null && v.numBytes > 0

  /** One code's outcome over the leaves; `value` is read only for a code
    * whose entry is written. */
  sealed abstract class Rule extends Serializable {
    def applicable(l: Array[AnyRef]): Boolean
    def value(l: Array[AnyRef]): UTF8String
  }

  /** and/or-combined method terms, Python precedence: an OR of AND runs. */
  final class Predicate(anyOf: Array[Array[Term]]) extends Rule {
    def applicable(l: Array[AnyRef]): Boolean = {
      var o = 0
      while (o < anyOf.length) {
        val all = anyOf(o)
        var a = 0
        while (a < all.length && all(a).test(l)) a += 1
        if (a == all.length) return true
        o += 1
      }
      false
    }
    def value(l: Array[AnyRef]): UTF8String = One
  }

  final class RawValue(raw: Int) extends Rule {
    def applicable(l: Array[AnyRef]): Boolean = truthy(str(l, raw))
    def value(l: Array[AnyRef]): UTF8String = str(l, raw)
  }

  final class DateValue(raw: Int, iso: Int) extends Rule {
    def applicable(l: Array[AnyRef]): Boolean =
      truthy(str(l, raw)) && l(iso) != null
    def value(l: Array[AnyRef]): UTF8String = str(l, iso)
  }

  /** calc: applicable when every column is present; the value is the
    * arithmetic result, 0 when it is null, as `cast(double as string)`. */
  final class Calc(present: Array[Int], expr: Arith) extends Rule {
    def applicable(l: Array[AnyRef]): Boolean = {
      var i = 0
      while (i < present.length) {
        if (l(present(i)) == null) return false
        i += 1
      }
      true
    }
    def value(l: Array[AnyRef]): UTF8String = {
      val r = expr.eval(l)
      UTF8String.fromString(java.lang.Double.toString(if (r == null) 0.0 else r))
    }
  }

  /** An outcome the caller compiled into Catalyst (multiple_link codes). */
  final class Supplied(applicableLeaf: Int, valueLeaf: Int) extends Rule {
    def applicable(l: Array[AnyRef]): Boolean =
      java.lang.Boolean.TRUE == l(applicableLeaf)
    def value(l: Array[AnyRef]): UTF8String = str(l, valueLeaf)
  }

  /** One method term of a predicate code. */
  sealed abstract class Term extends Serializable {
    def test(l: Array[AnyRef]): Boolean
  }

  /** `row[col] in condition`; a "" condition also admits a missing value. */
  final class Match(raw: Int, conditions: java.util.HashSet[UTF8String],
                    orMissing: Boolean) extends Term {
    def test(l: Array[AnyRef]): Boolean = {
      val v = str(l, raw)
      if (v == null) orMissing else conditions.contains(v)
    }
  }

  /** Exact match or any condition a substring of the value. */
  final class SubMatch(raw: Int, conditions: java.util.HashSet[UTF8String],
                       needles: Array[UTF8String]) extends Term {
    def test(l: Array[AnyRef]): Boolean = {
      val v = str(l, raw)
      v != null && (conditions.contains(v) || ContainsAny.containsAny(v, needles))
    }
  }

  final class NotNull(raw: Int) extends Term {
    def test(l: Array[AnyRef]): Boolean = truthy(str(l, raw))
  }

  /** `lo <= calculation < hi` with every column present and non-empty;
    * a null result (division by zero, unparseable operand) fails. */
  final class Between(present: Array[Int], expr: Arith, lo: Double, hi: Double)
      extends Term {
    def test(l: Array[AnyRef]): Boolean = {
      var i = 0
      while (i < present.length) {
        if (!truthy(str(l, present(i)))) return false
        i += 1
      }
      val r = expr.eval(l)
      r != null && SQLOrderingUtil.compareDoubles(r, lo) >= 0 &&
        SQLOrderingUtil.compareDoubles(r, hi) < 0
    }
  }

  /** A [[CalcParser]] AST in postfix. Spark's double semantics: null
    * propagates, division by zero is null (`try_divide`), `**` is
    * `StrictMath.pow`, `int()` is the non-ANSI cast to long and back, and
    * comparisons order NaN above every number and equal to itself. */
  final class Arith(ops: Array[Int], consts: Array[Double], depth: Int)
      extends Serializable {
    import Arith._
    def eval(l: Array[AnyRef]): java.lang.Double = {
      val v = new Array[Double](depth)
      val nul = new Array[Boolean](depth)
      var sp = 0
      var pc = 0
      def push(d: java.lang.Double): Unit = {
        if (d == null) nul(sp) = true else { v(sp) = d; nul(sp) = false }
        sp += 1
      }
      while (pc < ops.length) {
        ops(pc) match {
          case OpConst =>
            v(sp) = consts(ops(pc + 1)); nul(sp) = false; sp += 1; pc += 2
          case OpLeaf =>
            push(l(ops(pc + 1)).asInstanceOf[java.lang.Double]); pc += 2
          case OpEmptyZero =>
            // calc operand: missing or "" reads 0, else the parsed value
            val raw = str(l, ops(pc + 1))
            if (raw == null || raw.numBytes == 0) { v(sp) = 0.0; nul(sp) = false; sp += 1 }
            else push(l(ops(pc + 2)).asInstanceOf[java.lang.Double])
            pc += 3
          case op if op <= OpTrunc =>
            val a = sp - 1
            if (!nul(a)) v(a) = op match {
              case OpNeg => -v(a)
              case OpAbs => Math.abs(v(a))
              case OpTrunc => v(a).toLong.toDouble
            }
            pc += 1
          case op =>
            val a = sp - 2
            val b = sp - 1
            sp -= 1
            if (nul(a) || nul(b)) {
              // a comparison with a null side is false (0.0), not null
              if (op >= OpLt) { v(a) = 0.0; nul(a) = false } else nul(a) = true
            } else op match {
              case OpAdd => v(a) = v(a) + v(b)
              case OpSub => v(a) = v(a) - v(b)
              case OpMul => v(a) = v(a) * v(b)
              case OpDiv => if (v(b) == 0) nul(a) = true else v(a) = v(a) / v(b)
              case OpPow => v(a) = StrictMath.pow(v(a), v(b))
              case _ =>
                val c = SQLOrderingUtil.compareDoubles(v(a), v(b))
                val t = op match {
                  case OpLt => c < 0
                  case OpLe => c <= 0
                  case OpGt => c > 0
                  case OpGe => c >= 0
                  case OpEq => c == 0
                  case _  => c != 0
                }
                v(a) = if (t) 1.0 else 0.0
            }
            pc += 1
        }
      }
      if (nul(0)) null else v(0)
    }
  }

  object Arith {
    private[CatalogProgram] final val OpConst = 0
    private[CatalogProgram] final val OpLeaf = 1
    private[CatalogProgram] final val OpEmptyZero = 2
    // unary
    private[CatalogProgram] final val OpNeg = 3
    private[CatalogProgram] final val OpAbs = 4
    private[CatalogProgram] final val OpTrunc = 5
    // binary
    private[CatalogProgram] final val OpAdd = 6
    private[CatalogProgram] final val OpSub = 7
    private[CatalogProgram] final val OpMul = 8
    private[CatalogProgram] final val OpDiv = 9
    private[CatalogProgram] final val OpPow = 10
    // comparisons (1.0 / 0.0)
    private[CatalogProgram] final val OpLt = 11
    private[CatalogProgram] final val OpLe = 12
    private[CatalogProgram] final val OpGt = 13
    private[CatalogProgram] final val OpGe = 14
    private[CatalogProgram] final val OpEq = 15
    private[CatalogProgram] final val OpNe = 16
  }

  /** Compile `codes` (catalog order) into a program and the leaves it reads,
    * in child order.
    *
    * @param supplied    codes whose outcome the caller compiles into
    *                    Catalyst (they read `Applicable`/`Value` leaves)
    * @param alertData   `alert_<name>` entries written from column values
    *                    when an individual alert fires, in this order
    * @param staticEntries entries every row carries after the code entries
    */
  def compile(codes: Seq[CodeDef], supplied: Set[Int],
              alertData: Seq[(String, String)],
              staticEntries: Seq[(String, String)]): (CatalogProgram, Seq[Leaf]) = {
    val leafIndex = scala.collection.mutable.LinkedHashMap.empty[Leaf, Int]
    def leaf(l: Leaf): Int = leafIndex.getOrElseUpdate(l, leafIndex.size)

    def conditionSet(cs: Seq[String]): java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String]()
      cs.foreach(c => s.add(UTF8String.fromString(c)))
      s
    }

    /** Postfix of a calculation over `columns`; `operand` compiles column
      * i of the substitution order. */
    def arith(calculation: String, columns: Seq[String],
              operand: String => Seq[Int]): Arith = {
      import Arith._
      val (sub, ordered) = CalcParser.substitute(calculation, columns)
      val ops = Vector.newBuilder[Int]
      val consts = scala.collection.mutable.ArrayBuffer.empty[Double]
      var depth = 0
      var maxDepth = 0
      def emit(code: Seq[Int], delta: Int): Unit = {
        ops ++= code; depth += delta; maxDepth = math.max(maxDepth, depth)
      }
      def go(a: CalcParser.Ast): Unit = a match {
        case CalcParser.Num(d) =>
          emit(Seq(OpConst, consts.length), 1)
          consts += d
        case CalcParser.Ref(i) => emit(operand(ordered(i)), 1)
        case CalcParser.Neg(e) => go(e); emit(Seq(OpNeg), 0)
        case CalcParser.ToDate(CalcParser.Ref(i)) =>
          emit(Seq(OpLeaf, leaf(Leaf.DateSeconds(ordered(i)))), 1)
        case CalcParser.ToDate(e) => go(e) // to_date of a non-column: passthrough
        case CalcParser.Fn("abs", e) => go(e); emit(Seq(OpAbs), 0)
        case CalcParser.Fn("int", e) => go(e); emit(Seq(OpTrunc), 0)
        case CalcParser.Fn(n, _) => throw new IllegalArgumentException(s"bad fn $n")
        case CalcParser.Bin(op, l, r) =>
          go(l); go(r)
          emit(Seq(op match {
            case '+' => OpAdd
            case '-' => OpSub
            case '*' => OpMul
            case '/' => OpDiv
            case '^' => OpPow
            case other => throw new IllegalArgumentException(s"bad op $other")
          }), -1)
        case CalcParser.Cmp(op, l, r) =>
          go(l); go(r)
          emit(Seq(op match {
            case "<"  => OpLt
            case "<=" => OpLe
            case ">"  => OpGt
            case ">=" => OpGe
            case "==" => OpEq
            case "!=" => OpNe
          }), -1)
      }
      go(CalcParser.parse(sub))
      new Arith(ops.result().toArray, consts.toArray, maxDepth)
    }

    def raw(column: String): Int = leaf(Leaf.Raw(column))

    def term(code: CodeDef, t: String, columns: Seq[String],
             condition: Seq[String], calculation: String): Term = {
      val column = columns.head
      t match {
        case "match" =>
          new Match(raw(column), conditionSet(condition), condition.contains(""))
        case "sub_match" =>
          new SubMatch(raw(column), conditionSet(condition),
            condition.map(UTF8String.fromString).toArray)
        case "not_null" => new NotNull(raw(column))
        case "between" =>
          val expr = arith(calculation, columns,
            c => Seq(Arith.OpLeaf, leaf(Leaf.AsDouble(c))))
          new Between(columns.map(raw).toArray, expr,
            condition(0).toDouble, condition(1).toDouble)
        case other =>
          throw new IllegalArgumentException(s"code ${code.id}: bad method term $other")
      }
    }

    def rule(code: CodeDef, i: Int): Rule =
      if (supplied(i)) new Supplied(leaf(Leaf.Applicable(i)), leaf(Leaf.Value(i)))
      else code.methodTerms match {
        case Seq("value") =>
          val column = code.columnsPerTerm.head.head
          if (code.calculation == "date")
            new DateValue(raw(column), leaf(Leaf.IsoDate(column)))
          else new RawValue(raw(column))
        case Seq("calc") =>
          val columns = code.columnsPerTerm.head
          val expr = arith(code.calculation, columns,
            c => Seq(Arith.OpEmptyZero, raw(c), leaf(Leaf.AsDouble(c))))
          new Calc(columns.map(raw).toArray, expr)
        case terms =>
          val conds = code.conditionsPerTerm
          require(conds.length >= terms.length,
            s"code ${code.id}: need a condition per method term")
          val calcPerTerm = code.calculation.split(";", -1).toSeq
            .padTo(terms.length, "")
          val compiled = terms.indices.map(k =>
            term(code, terms(k), code.columnsPerTerm(k), conds(k), calcPerTerm(k)))
          // `and` binds tighter than `or` (variable.py:31-54)
          val runs = Vector.newBuilder[Array[Term]]
          var run = Vector(compiled.head)
          code.boolOps.zip(compiled.tail).foreach {
            case ("and", t) => run :+= t
            case ("or", t)  => runs += run.toArray; run = Vector(t)
            case (op, _)    => throw new IllegalArgumentException(s"bad logic op $op")
          }
          runs += run.toArray
          new Predicate(runs.result().toArray)
      }

    val rules = codes.zipWithIndex.map { case (c, i) => rule(c, i) }.toArray
    // catalog order preserving group-by calculation_group (to_codes.py:33-36:
    // ungrouped codes form singleton groups)
    val grouped = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Int]]
    codes.zipWithIndex.foreach { case (c, i) =>
      val g = c.calculationGroup.getOrElse(s"__singleton_${c.id}")
      grouped(g) = grouped.getOrElse(g, Vector.empty) :+ i
    }
    val groups = grouped.values.map(_.toArray).toArray
    val program = new CatalogProgram(
      ids = codes.map(c => UTF8String.fromString(c.id)).toArray,
      rules = rules,
      categories = codes.map(_.category.map(UTF8String.fromString).toArray).toArray,
      alert = codes.map(c => c.alert && c.alertType == "individual").toArray,
      disregard = codes.map(_.disregard).toArray,
      priority = codes.map(_.calculationPriority.getOrElse(scala.Int.MaxValue)).toArray,
      groups = groups,
      priorityGroup = groups.map(_.exists(codes(_).calculationPriority.isDefined)),
      staticKeys = staticEntries.map(e => UTF8String.fromString(e._1)).toArray,
      staticValues = staticEntries.map(e => UTF8String.fromString(e._2)).toArray,
      alertDataKeys = alertData.map(e => UTF8String.fromString(s"alert_${e._1}")).toArray,
      alertDataLeaves = alertData.map(e => raw(e._2)).toArray)
    (program, leafIndex.keys.toSeq)
  }
}
