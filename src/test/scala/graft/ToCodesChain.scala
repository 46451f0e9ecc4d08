package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.CodeDef
import graft.functions.{ColumnResolver, VariableCompiler, EpiWeek}
import graft.operators.AddLinks
import graft.functions.EpiWeek.YearStartPolicy

/** The `when()`-chain formulation of the coding step, kept as the oracle
  * that [[graft.operators.ToCodes]]' native `EvalCatalog` is checked
  * against (`EvalCatalogSpec`): every code becomes Catalyst `CaseWhen`
  * folds, one per output, in one projection over the catalog's
  * pre-projected input columns. Its plan and generated code grow with the
  * catalog; a large catalog may exceed the 64 KB method limit and run
  * interpreted, which only makes the oracle slower.
  *
  * Semantics (reference codes/to_codes.py:78-310):
  *  - calculation_group mutual exclusion: first applicable code in the group
  *    wins (to_codes.py:305-306) → CaseWhen chain.
  *  - calculation_priority: every applicable member contributes
  *    categories/alert/disregard; only the variables key is priority-gated,
  *    least over (priority, index).
  *  - categories: each hit writes category → its id; LAST_WIN dedup.
  *  - alert: alert=1, alert_type, alert_reason = LAST firing alert code,
  *    alert_<k> = row[col] (to_codes.py:292-301).
  *  - disregard only with an individual alert (to_codes.py:302-309).
  */
object ToCodesChain {

  private val entriesType = "array<struct<key:string,value:string>>"
  private def emptyEntries = array().cast(entriesType)
  private def nullString = lit(null).cast("string")

  /** `__lc_<id>` as a Column, backtick-quoted so code ids containing dots
    * resolve as a name, not a field access. */
  private def aggCol(codeId: String): Column =
    col(s"`${AddLinks.aggColName(codeId)}`")

  /** Drop by QUOTED Column, not by raw name: `df.drop(name)` parses a
    * dotted name as a nested-field access, fails to resolve, and silently
    * no-ops — a code id containing a dot would leak its `__lc_` column into
    * the pipeline output. The Column overload resolves the backtick-quoted
    * top-level attribute; names that are absent still no-op harmlessly. */
  private def dropQuoted(df: DataFrame, names: Seq[String]): DataFrame =
    names.map(n => col(s"`$n`")) match {
      case Seq() => df
      case cs    => df.drop(cs.head, cs.tail: _*)
    }

  /** Outcome of one code, honoring multiple_link aggregation over linked
    * rows (codes/to_codes.py:217-242): a code whose form is a *linked* form
    * evaluates against the linked matches with method last / first / count /
    * any / all instead of the main record.
    *
    * When the frame carries AddLinks' pre-aggregated `__lc_<id>` column
    * (`preAgg`), it is consumed for all five methods, like ToCodes does: a
    * null `__lc_<id>` means the left join found no linked rows, i.e. the
    * reference's not-present case. Otherwise the outcome is evaluated over
    * the `links[linkName]` array itself, which makes this the oracle for
    * the pre-aggregations. */
  private def compiledFor(code: CodeDef, r: ColumnResolver,
                          policy: YearStartPolicy,
                          linkNameForForm: Map[String, String],
                          preAgg: Set[String]): ColumnCompiler.Compiled = {
    linkNameForForm.get(code.form) match {
      case None => ColumnCompiler.compile(code, r, policy)
      case Some(linkName) if preAgg(code.id) =>
        val c = aggCol(code.id)
        code.multipleLink.getOrElse("last") match {
          case "first" | "last" =>
            ColumnCompiler.Compiled(
              c.isNotNull && c.getField("a"), c.getField("v"))
          case "count" =>
            ColumnCompiler.Compiled(c.isNotNull, c.cast("string"))
          case "any" | "all" =>
            ColumnCompiler.Compiled(coalesce(c, lit(false)), lit("1"))
          case other =>
            throw new IllegalArgumentException(s"bad multiple_link $other")
        }
      case Some(linkName) =>
        val arr = element_at(col("links"), linkName)
        def over(elem: Column) =
          ColumnCompiler.compile(code, new graft.functions.MapResolver(elem), policy)
        val present = arr.isNotNull && size(arr) > 0
        code.multipleLink.getOrElse("last") match {
          case "last"  =>
            val c = over(element_at(arr, -1))
            ColumnCompiler.Compiled(present && c.applicable, c.value)
          case "first" =>
            val c = over(element_at(arr, 1))
            ColumnCompiler.Compiled(present && c.applicable, c.value)
          case "count" =>
            ColumnCompiler.Compiled(present, size(arr).cast("string"))
          case "any"   =>
            ColumnCompiler.Compiled(
              present && exists(arr, m => over(m).applicable), lit("1"))
          case "all"   =>
            ColumnCompiler.Compiled(
              present && forall(arr, m => over(m).applicable), lit("1"))
          case other =>
            throw new IllegalArgumentException(s"bad multiple_link $other")
        }
    }
  }

  /** Static partial outputs of one slice of the catalog. All five columns
    * compose with plain concat / OR / coalesce, so chunks and groups fold
    * identically. */
  private final case class Partials(
      entries: Column,     // variables-map entries array (winners only)
      catEntries: Column,  // categories entries array (every hit)
      anyAlert: Column,    // did any firing member carry an individual alert
      alertReason: Column, // id of the LAST firing alert member, else null
      anyDisregard: Column)

  private def concatAll(parts: Seq[Column]): Column = parts match {
    case Seq()  => emptyEntries
    case Seq(c) => c
    case many   => concat(many: _*)
  }

  private def orAll(parts: Seq[Column]): Column =
    parts.reduceOption(_ || _).getOrElse(lit(false))

  private def lastReason(parts: Seq[Column]): Column = parts match {
    case Seq()  => nullString
    case Seq(c) => c
    case many   => coalesce(many.reverse: _*)
  }

  /** (category → id) literal entries for one code. */
  private def catsLit(code: CodeDef): Column =
    array(code.category.map(c =>
      struct(lit(c).as("key"), lit(code.id).as("value"))): _*)

  /** Fold group partials into chunk partials; groups that contribute nothing
    * to a fold (null markers) are pruned statically. */
  private def foldPartials(parts: Seq[Partials]): Partials = Partials(
    entries = concatAll(parts.map(_.entries)),
    catEntries = concatAll(parts.filter(_.catEntries != null).map(_.catEntries)),
    anyAlert = orAll(parts.filter(_.anyAlert != null).map(_.anyAlert)),
    alertReason = lastReason(parts.filter(_.alertReason != null).map(_.alertReason)),
    anyDisregard = orAll(parts.filter(_.anyDisregard != null).map(_.anyDisregard)))

  /** Partials of one mutual-exclusion group — five independent expressions,
    * no shared intermediate structs: GetStructField-over-CaseWhen gets torn
    * apart by SimplifyExtractValueOps into per-field copies anyway, so
    * sharing at the plan level is illusory. The member predicates appear in
    * several folds; runtime subexpression elimination in the generated
    * projection evaluates each once per row.
    *
    * Static pruning: groups without categories / alerts / disregard codes
    * contribute no expression at all to those folds (`null` markers), which
    * keeps the generated code proportional to what the catalog actually
    * uses. */
  private def groupPartials(group: Seq[(CodeDef, Int)], r: ColumnResolver,
                            policy: YearStartPolicy,
                            linkNameForForm: Map[String, String],
                            preAgg: Set[String] = Set.empty): Partials = {
    val members = group.map { case (code, idx) =>
      (code, idx, compiledFor(code, r, policy, linkNameForForm, preAgg))
    }
    val hasPriority = group.exists(_._1.calculationPriority.isDefined)
    val hasCats = members.exists(_._1.category.nonEmpty)
    def isAlert(c: CodeDef) = c.alert && c.alertType == "individual"
    val hasAlert = members.exists(m => isAlert(m._1))
    val hasDis = members.exists(_._1.disregard)

    if (!hasPriority) {
      // first applicable wins and the loop breaks (to_codes.py:305-306) —
      // every output is a first-match CaseWhen over the member predicates
      def firstMatch(f: ((CodeDef, Int, ColumnCompiler.Compiled)) => Column) =
        members.tail.foldLeft(
          when(members.head._3.applicable, f(members.head))) {
          case (acc, m) => acc.when(m._3.applicable, f(m))
        }
      Partials(
        entries = coalesce(firstMatch(m =>
          array(struct(lit(m._1.id).as("key"),
            m._3.value.cast("string").as("value")))), emptyEntries),
        catEntries = if (!hasCats) null
          else coalesce(firstMatch(m =>
            if (m._1.category.isEmpty) emptyEntries else catsLit(m._1)),
            emptyEntries),
        anyAlert = if (!hasAlert) null
          else coalesce(firstMatch(m => lit(isAlert(m._1))), lit(false)),
        alertReason = if (!hasAlert) null
          else firstMatch(m =>
            if (isAlert(m._1)) lit(m._1.id) else nullString),
        anyDisregard = if (!hasDis) null
          else coalesce(firstMatch(m => lit(m._1.disregard)), lit(false)))
    } else {
      // priority group (to_codes.py:260-309): the loop does NOT break —
      // every applicable member contributes categories/alert/disregard; only
      // the variables entry is priority-gated. least() skips nulls, so the
      // applicable member with the smallest (priority, idx) wins. (Least
      // requires > 1 children — a singleton priority group is just its own
      // conditional struct.)
      val candidates = members.map { case (code, idx, c) =>
        when(c.applicable, struct(
          lit(code.calculationPriority.getOrElse(Int.MaxValue)).as("p"),
          lit(idx).as("idx")))
      }
      val wmin =
        if (candidates.length == 1) candidates.head else least(candidates: _*)
      val widx = wmin.getField("idx")
      def byWinner(f: ((CodeDef, Int, ColumnCompiler.Compiled)) => Column) =
        members.tail.foldLeft(
          when(widx === members.head._2, f(members.head))) {
          case (acc, m) => acc.when(widx === m._2, f(m))
        }
      Partials(
        entries = coalesce(
          byWinner(m => array(struct(lit(m._1.id).as("key"),
            m._3.value.cast("string").as("value")))),
          emptyEntries),
        catEntries = if (!hasCats) null
          else concatAll(members.filter(_._1.category.nonEmpty).map {
            case (code, _, c) =>
              when(c.applicable, catsLit(code)).otherwise(emptyEntries)
          }),
        anyAlert = if (!hasAlert) null
          else orAll(members.filter(m => isAlert(m._1))
            .map(m => coalesce(m._3.applicable, lit(false)))),
        alertReason = if (!hasAlert) null
          else lastReason(members.filter(m => isAlert(m._1))
            .map(m => when(m._3.applicable, lit(m._1.id)))),
        anyDisregard = if (!hasDis) null
          else orAll(members.filter(_._1.disregard)
            .map(m => coalesce(m._3.applicable, lit(false)))))
    }
  }

  /** Catalog order preserving group-by calculation_group (to_codes.py:33-36:
    * ungrouped codes form singleton groups). */
  private def groupedCatalog(codes: Seq[CodeDef]): Seq[Seq[(CodeDef, Int)]] = {
    val grouped = scala.collection.mutable.LinkedHashMap.empty[String, Vector[(CodeDef, Int)]]
    codes.zipWithIndex.foreach { case (c, i) =>
      val g = c.calculationGroup.getOrElse(s"__singleton_${c.id}")
      grouped(g) = grouped.getOrElse(g, Vector.empty) :+ ((c, i))
    }
    grouped.values.map(_.toSeq).toSeq
  }

  private def emptyMapCol =
    map_from_entries(array().cast(entriesType))

  /** Compiled output columns for a code catalog against one row shape. */
  final case class Outputs(variables: Column, categories: Column, disregard: Column)

  /** Assemble the final outputs from the catalog-wide partials. */
  private def assemble(p: Partials, r: ColumnResolver,
                       alertData: Map[String, String],
                       staticEntries: Seq[(String, String)]): Outputs = {
    val baseEntries =
      if (staticEntries.isEmpty) p.entries
      else concat(p.entries, array(staticEntries.map { case (k, v) =>
        struct(lit(k).as("key"), lit(v).as("value")) }: _*))
    val alertEntries: Seq[Column] =
      Seq(
        struct(lit("alert").as("key"), lit("1").as("value")),
        struct(lit("alert_type").as("key"), lit("individual").as("value")),
        struct(lit("alert_reason").as("key"), p.alertReason.as("value"))) ++
      alertData.toSeq.map { case (name, column) =>
        struct(lit(s"alert_$name").as("key"), r.get(column).as("value"))
      }
    // the alert block is its own conditional ARRAY concatenated once —
    // `when(anyAlert, concat(base, alerts)).otherwise(base)` would emit the
    // whole catalog-wide base expression twice in generated code
    val allEntries = concat(baseEntries,
      when(p.anyAlert, array(alertEntries: _*)).otherwise(emptyEntries))
    // map_from_entries + LAST_WIN dedup ≡ dict insert order semantics
    val variables = map_from_entries(allEntries)

    val categories = when(size(p.catEntries) > 0, map_from_entries(p.catEntries))
      .otherwise(emptyMapCol)

    val disregard = p.anyDisregard && p.anyAlert
    Outputs(variables, categories, disregard)
  }

  /** Append variables/categories/disregard columns to `df`: every distinct
    * referenced form column is projected once into a bound attribute (and
    * its date parse, for columns the catalog reads as dates), then the three
    * outputs are single HOF-free expressions over them. */
  def apply(df: DataFrame, codes: Seq[CodeDef], r: ColumnResolver,
            policy: YearStartPolicy = EpiWeek.International,
            alertData: Map[String, String] = Map.empty,
            linkNameForForm: Map[String, String] = Map.empty,
            staticEntries: Seq[(String, String)] = Nil): DataFrame = {
    if (codes.isEmpty) {
      val vars =
        if (staticEntries.isEmpty) emptyMapCol
        else map(staticEntries.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      return df.withColumn("variables", vars)
        .withColumn("categories", emptyMapCol)
        .withColumn("disregard", lit(false))
    }
    val mainCodes = codes.filter(c => !linkNameForForm.contains(c.form))
    val mainCols = (mainCodes.flatMap(_.columnsPerTerm.flatten) ++
      alertData.values).filter(_.nonEmpty).distinct
    val attrMap = mainCols.zipWithIndex
      .map { case (c, i) => c -> s"__tc_c$i" }.toMap
    val dateCols = mainCodes.flatMap { c =>
      val valueDate =
        if (c.methodTerms == Seq("value") && c.calculation == "date")
          c.columnsPerTerm.head.headOption.toSeq
        else Nil
      val toDateCols =
        if (c.calculation.contains("Variable.to_date"))
          c.columnsPerTerm.flatten
        else Nil
      valueDate ++ toDateCols
    }.filter(_.nonEmpty).distinct
    val dateAttrMap = dateCols.zipWithIndex
      .map { case (c, i) => c -> s"__tc_d$i" }.toMap
    val projected0 = attrMap.foldLeft(df) { case (acc, (name, attr)) =>
      acc.withColumn(attr, r.get(name))
    }
    val projected = dateAttrMap.foldLeft(projected0) { case (acc, (name, attr)) =>
      acc.withColumn(attr, VariableCompiler.parseDate(r.get(name)))
    }
    val br = new BoundResolver(attrMap, dateAttrMap)
    val dfCols = df.columns.toSet
    val preAgg = codes.filter(c => linkNameForForm.contains(c.form))
      .map(_.id).filter(id => dfCols(AddLinks.aggColName(id))).toSet
    val preAggCols = preAgg.toSeq.map(AddLinks.aggColName)
    val p = foldPartials(groupedCatalog(codes).map(g =>
      groupPartials(g, br, policy, linkNameForForm, preAgg)))
    val o = assemble(p, br, alertData, staticEntries)
    dropQuoted(projected
      .withColumn("variables", o.variables)
      .withColumn("categories", o.categories)
      .withColumn("disregard", o.disregard),
      (attrMap.values ++ dateAttrMap.values).toSeq ++ preAggCols)
  }
}

/** Form fields pre-projected into bound attribute columns (`name → attr`),
  * with `dateAttrs` the columns whose date parse is also pre-projected. */
final class BoundResolver(attrs: Map[String, String],
                          dateAttrs: Map[String, String] = Map.empty)
    extends ColumnResolver {
  override def get(name: String): Column =
    attrs.get(name).map(col).getOrElse(lit(null).cast("string"))
  def dateParsed(name: String): Column =
    dateAttrs.get(name).map(col).getOrElse(VariableCompiler.parseDate(get(name)))
}
