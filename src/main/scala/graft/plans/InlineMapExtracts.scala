package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types._

/** Optimizer rule: statically resolve literal-key extractions over map
  * expressions whose entries are known at plan time, across operator
  * boundaries, and prune the dead map construction.
  *
  * Why: the engine's record interface is `(uuid, data: map<string,string>)`
  * — callers adapt columnar sources by building the map with literal keys
  * and every operator consumes it via `element_at(data, "k")` / `data["k"]`.
  * Catalyst's own `SimplifyExtractValueOps` rewrites `GetMapValue(CreateMap,
  * key)` only when the map literal is INLINE in the same expression tree;
  * once the map crosses an operator boundary as an attribute,
  * `CollapseProject` refuses to inline it (multi-referenced, non-cheap),
  * so the map is physically built per row just to be picked apart by the
  * next projection. Measured at sf0.1 that adapter tax tripled a 600k-row
  * link join (3.0 s vs 1.0 s plain columns).
  *
  * Plan size matters as much as per-row cost. When a filter is pushed
  * below the projection that builds the map, Catalyst substitutes the
  * whole map expression into every extraction, so a CSV form with a
  * hundred columns and a date check that reads its field ten times
  * carries ten copies of the hundred-entry map build. `SortExec`'s
  * generated code references the `SortExec` itself, so every task after
  * a sort deserializes the whole upstream physical plan: unresolved, the
  * demo pipeline's coded-rows tasks each shipped a 6.9 MB binary.
  *
  * Resolved map shapes (see [[resolve]]; each is all-or-nothing):
  *  - `CreateMap` with literal, comparable keys and deterministic values
  *    (`map(lit("k"), col, …)`), and a folded map `Literal`;
  *  - [[graft.sources.FormSource.toFormShape]]'s null-dropping map,
  *    exactly `map_from_entries(filter(array(struct(lit k, v)…),
  *    e -> e.value IS NOT NULL))`: the key's last non-null value, i.e.
  *    `coalesce` over its repeats, last first;
  *  - a map-valued `CaseWhen` with deterministic conditions (QC's in-place
  *    repair): the lookup is distributed into every branch;
  *  - `map_concat` of non-null maps whose last child is static: it decides
  *    whether it holds the key (even with a null value), otherwise the
  *    lookup recurses into the remaining children.
  *
  * The rewrite: `element_at(m, "k")` where `m` is (or aliases, in the
  * child projection) such a map becomes the selected value expression
  * (the session runs `spark.sql.mapKeyDedupPolicy=LAST_WIN`, so duplicate
  * literal keys keep the last entry) or a typed null when the key is
  * provably absent — the non-ANSI `element_at` contract; ANSI-mode
  * extractions (`failOnError`) are left untouched. Map aliases whose every
  * consumer was rewritten are pruned from the child projection, so the map
  * is never built at all. Maps that do not fully resolve (read from
  * storage, non-literal keys, a shape not listed above) are untouched.
  *
  * Registered via [[GraftExtensions]] (`spark.sql.extensions`), so every
  * engine session — Verify, Bench, tests — plans with it.
  */
object InlineMapExtracts extends Rule[LogicalPlan] {

  // key types where `==` on evaluated values is key equality (strings are
  // UTF8String, numerics/booleans box to equal-by-value JVM types); complex
  // or binary keys would need ordering-aware comparison — bail on those
  private def comparableKeyType(t: DataType): Boolean = t match {
    case StringType | BooleanType | DateType | TimestampType => true
    case _: NumericType                                      => true
    case _                                                   => false
  }

  private def staticKey(k: Expression): Boolean =
    k.foldable && k.deterministic && comparableKeyType(k.dataType)

  /** The value expression `key` selects from `map`, or None when `map` does
    * not fully resolve. `defs` are the map aliases of the projection below
    * the extraction; their definitions resolve without further aliases. */
  private def resolve(map: Expression, key: Expression,
                      defs: Map[ExprId, Expression]): Option[Expression] = {
    val valueType = map.dataType match {
      case mt: MapType => mt.valueType
      case _           => return None
    }
    if (!key.foldable || !key.deterministic) return None
    val keyVal = key.eval()
    if (keyVal == null) return None
    val absent = Literal.create(null, valueType)

    // a map whose entries are all known: Some(the key's value, if present)
    def static(m: Expression): Option[Option[Expression]] = m match {
      case cm: CreateMap if cm.keys.nonEmpty && cm.keys.forall(staticKey) &&
          cm.values.forall(_.deterministic) =>
        Some(cm.keys.zip(cm.values).findLast(_._1.eval() == keyVal).map(_._2))
      case Literal(md: MapData, MapType(kt, vt, _)) if comparableKeyType(kt) =>
        Some((0 until md.numElements())
          .findLast(i => md.keyArray().get(i, kt) == keyVal)
          .map(i => Literal(md.valueArray().get(i, vt), vt)))
      case _ => None
    }

    def lookup(m: Expression, defs: Map[ExprId, Expression]): Option[Expression] =
      m match {
        case ar: AttributeReference =>
          defs.get(ar.exprId).flatMap(lookup(_, Map.empty))
        case MapFromEntries(ArrayFilter(CreateArray(entries, _),
            LambdaFunction(IsNotNull(GetStructField(v: NamedLambdaVariable, 1, _)),
              Seq(arg), _)))
            if arg.exprId == v.exprId && entries.forall {
              case CreateNamedStruct(Seq(_, k, _, value)) =>
                staticKey(k) && k.eval() != null && value.deterministic
              case _ => false
            } =>
          val hits = entries.collect {
            case CreateNamedStruct(Seq(_, k, _, value)) if k.eval() == keyVal => value
          }
          Some(hits match {
            case Seq()      => absent
            case Seq(value) => value
            case _          => Coalesce(hits.reverse)
          })
        case CaseWhen(branches, elseValue) if branches.forall(_._1.deterministic) =>
          val values = branches.map(b => lookup(b._2, defs))
          val otherwise = elseValue.map(lookup(_, defs)).getOrElse(Some(absent))
          // when every branch reads the same value the CASE is dropped: a
          // key a chain of repairs never touches then costs one copy, not
          // one per branch per repair
          if (!(otherwise +: values).forall(_.isDefined)) None
          else if (values.forall(_.get.semanticEquals(otherwise.get))) otherwise
          else Some(CaseWhen(branches.map(_._1).zip(values.map(_.get)), otherwise))
        // map_concat is null when any child is; all non-null, the last
        // child holding the key decides
        case mc: MapConcat if !mc.nullable =>
          def fromLast(children: Seq[Expression]): Option[Expression] =
            children match {
              case Seq(only)     => lookup(only, defs)
              case init :+ last  => static(last).flatMap(_.orElse(fromLast(init)))
              case _             => Some(absent)
            }
          fromLast(mc.children)
        case _ => static(m).map(_.getOrElse(absent))
      }

    lookup(map, defs)
  }

  /** Rewrite the map extractions in `e` that [[resolve]] resolves. */
  private def rewriteExtracts(e: Expression,
                              defs: Map[ExprId, Expression]): Expression =
    e.transformUp {
      case ea: ElementAt if !ea.failOnError =>
        resolve(ea.left, ea.right, defs).getOrElse(ea)
      case gm: GetMapValue =>
        resolve(gm.child, gm.key, defs).getOrElse(gm)
    }

  /** The map-typed aliases of `p`; extractions of them resolve when
    * their definitions do. */
  private def mapDefs(p: Project): Map[ExprId, Expression] =
    p.projectList.collect {
      case a @ Alias(m, _) if m.dataType.isInstanceOf[MapType] => a.exprId -> m
    }.toMap

  /** Inline `defs` into the parent expressions (+ optional filter between),
    * then drop map aliases nothing references anymore. Only called where
    * the parent's output is its own expression list, so pruning the child
    * cannot change the parent's schema. */
  private def inlineAcross(parentExprs: Seq[Expression],
                           filterCond: Option[Expression],
                           child: Project)
      : Option[(Seq[Expression], Option[Expression], Project)] = {
    val defs = mapDefs(child)
    if (defs.isEmpty) return None
    var changed = false
    def rw(e: Expression): Expression = {
      val r = rewriteExtracts(e, defs)
      if (!r.fastEquals(e)) changed = true
      r
    }
    val newParent = parentExprs.map(rw)
    val newCond = filterCond.map(rw)
    if (!changed) return None
    val needed = AttributeSet(newParent.flatMap(_.references) ++
      newCond.toSeq.flatMap(_.references))
    // inlined value expressions reference the child's INPUT attributes
    // (e.g. scan columns the map was built from); those must now pass
    // through the child projection — bail if any aren't available there
    val childProduced = AttributeSet(child.projectList.map(_.toAttribute))
    val fromBelow = (needed -- childProduced).toSeq
    if (!fromBelow.forall(child.child.outputSet.contains)) return None
    val kept = child.projectList.filter { ne =>
      !defs.contains(ne.exprId) || needed.contains(ne.toAttribute)
    } ++ fromBelow
    Some((newParent, newCond, Project(kept, child.child)))
  }

  private def named(es: Seq[Expression]): Seq[NamedExpression] =
    es.map(_.asInstanceOf[NamedExpression])

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // inline-CreateMap extractions anywhere (filters pushed below the
    // map-building projection end up in this shape); match only extract
    // roots — a catch-all would re-transform every subtree at every node,
    // quadratic on catalog-sized expressions
    val inlined = plan.transformAllExpressions {
      case ea: ElementAt   => rewriteExtracts(ea, Map.empty)
      case gm: GetMapValue => rewriteExtracts(gm, Map.empty)
    }
    inlined.transformUp {
      case p @ Project(list, child: Project) =>
        inlineAcross(list, None, child) match {
          case Some((nl, _, nc)) => Project(named(nl), nc)
          case None              => p
        }
      case p @ Project(list, Filter(cond, child: Project)) =>
        inlineAcross(list, Some(cond), child) match {
          case Some((nl, Some(ncond), nc)) => Project(named(nl), Filter(ncond, nc))
          case _                           => p
        }
      case a @ Aggregate(ge, ae, child: Project, hints) =>
        inlineAcross(ae ++ ge, None, child) match {
          case Some((all, _, nc)) =>
            val (nae, nge) = all.splitAt(ae.length)
            Aggregate(nge, named(nae), nc, hints)
          case None => a
        }
      case a @ Aggregate(ge, ae, Filter(cond, child: Project), hints) =>
        inlineAcross(ae ++ ge, Some(cond), child) match {
          case Some((all, Some(ncond), nc)) =>
            val (nae, nge) = all.splitAt(ae.length)
            Aggregate(nge, named(nae), Filter(ncond, nc), hints)
          case _ => a
        }
      case p @ Project(list, j: Join) => inlineOverJoin(p, list, j)
    }
  }

  /** Inline map aliases defined in a join's child projections into the
    * parent projection and the join condition. Only sides that cannot be
    * null-extended are eligible: on a null-extended row the map ATTRIBUTE
    * is null (extract → null), but an inlined value expression could
    * evaluate non-null over the nulled child attrs (e.g. a coalesce with
    * a literal default) — a silent wrong answer on outer joins. */
  private def inlineOverJoin(p: Project, list: Seq[NamedExpression],
                             j: Join): LogicalPlan = {
    def eligible(side: LogicalPlan, isLeft: Boolean): Option[Project] =
      side match {
        case pr: Project =>
          val safe = j.joinType match {
            case Inner                       => true
            case LeftOuter | LeftSemi        => isLeft
            case RightOuter                  => !isLeft
            case _                           => false
          }
          if (safe) Some(pr) else None
        case _ => None
      }
    val leftP = eligible(j.left, isLeft = true)
    val rightP = eligible(j.right, isLeft = false)
    val defs = leftP.map(mapDefs).getOrElse(Map.empty) ++
      rightP.map(mapDefs).getOrElse(Map.empty)
    if (defs.isEmpty) return p
    var changed = false
    def rw(e: Expression): Expression = {
      val r = rewriteExtracts(e, defs)
      if (!r.fastEquals(e)) changed = true
      r
    }
    val newList = list.map(rw)
    val newCond = j.condition.map(rw)
    if (!changed) return p
    val needed = AttributeSet(newList.flatMap(_.references) ++
      newCond.toSeq.flatMap(_.references))
    def pruneSide(side: LogicalPlan, pr: Option[Project]): Option[LogicalPlan] =
      pr match {
        case None => Some(side)
        case Some(proj) =>
          val produced = AttributeSet(proj.projectList.map(_.toAttribute))
          val fromBelow = (needed -- produced)
            .filter(a => proj.child.outputSet.contains(a)).toSeq
          // anything needed that neither this projection nor its child can
          // supply must come from the OTHER side; only bail if a map def
          // we inlined can't be satisfied here
          val kept = proj.projectList.filter { ne =>
            !defs.contains(ne.exprId) || needed.contains(ne.toAttribute)
          } ++ fromBelow
          Some(Project(kept, proj.child))
      }
    val stillNeeded = needed -- AttributeSet(
      leftP.map(_.child.outputSet.toSeq).getOrElse(Nil) ++
      leftP.map(_.projectList.map(_.toAttribute)).getOrElse(Nil) ++
      rightP.map(_.child.outputSet.toSeq).getOrElse(Nil) ++
      rightP.map(_.projectList.map(_.toAttribute)).getOrElse(Nil) ++
      (if (leftP.isEmpty) j.left.output else Nil) ++
      (if (rightP.isEmpty) j.right.output else Nil))
    if (stillNeeded.nonEmpty) return p // a reference we cannot satisfy — bail
    (pruneSide(j.left, leftP), pruneSide(j.right, rightP)) match {
      case (Some(nl), Some(nr)) =>
        Project(named(newList),
          Join(nl, nr, j.joinType, newCond, j.hint))
      case _ => p
    }
  }
}

/** `spark.sql.extensions` entry point wiring the engine's planner rules
  * into every session built with `Tables.requiredConfs`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(_ => InlineMapExtracts)
}
