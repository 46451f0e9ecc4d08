package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._
import graft.config.CodeDef
import graft.functions.{CatalogProgram, ColumnResolver, EvalCatalog, VariableCompiler, EpiWeek}
import graft.functions.CatalogProgram.Leaf
import graft.functions.EpiWeek.YearStartPolicy

/** The core rule-engine step (reference codes/to_codes.py:78-310 +
  * process_steps/to_codes.py:32-152): evaluate the whole code catalog against
  * each record and emit the `variables` / `categories` maps, alert tagging and
  * the disregard flag.
  *
  * The catalog compiles once, at plan time, into a [[CatalogProgram]] and runs
  * as ONE native [[EvalCatalog]] expression per call — a loop over the
  * compiled catalog per record, like the reference. Catalyst computes only
  * the program's typed leaves, once per distinct input column (raw value,
  * `cast(double)`, the parsed date's ISO string and `Variable.to_date`
  * seconds, and the multiple_link outcomes). The plan and the generated code
  * therefore grow with the columns the catalog reads, not with its codes: no
  * per-code `CaseWhen` folds, no 64 KB method limit to slice around, and
  * Catalyst prunes the read schema down to the referenced columns.
  *
  * Semantics (see [[EvalCatalog]]):
  *  - calculation_group mutual exclusion: first applicable code in the group
  *    wins, the rest are skipped (to_codes.py:305-306).
  *  - calculation_priority: within a group where any member declares a
  *    priority, the loop does NOT break — every applicable member still
  *    contributes categories/alert/disregard; only the variables-map key is
  *    priority-gated: numerically LOWEST priority wins, ties keep the earlier
  *    catalog entry (to_codes.py:260-282's overwrite loop).
  *  - categories: each hit writes category → its id; later groups
  *    overwrite on key collision (dict.update ≡ LAST_WIN map dedup).
  *  - alert: a firing code with alert & alert_type=="individual" injects
  *    alert=1, alert_type, alert_reason=<code id> (LAST firing alert code in
  *    catalog order) and alert_<k>=row[col] for the configured alert_data
  *    columns (to_codes.py:292-301).
  *  - disregard: a firing disregard code routes the record out — but only if
  *    an individual alert also fired (to_codes.py:302-309).
  */
object ToCodes {

  private def emptyMapCol =
    map_from_entries(array().cast("array<struct<key:string,value:string>>"))

  /** `__lc_<id>` as a Column, backtick-quoted so code ids containing dots
    * resolve as a name, not a field access. */
  private def aggCol(codeId: String): Column =
    col(s"`${AddLinks.aggColName(codeId)}`")

  /** (applicable, value) of a multiple_link code (codes/to_codes.py:217-242)
    * from the `__lc_<id>` column AddLinks pre-aggregated over the linked
    * matches with method last / first / count / any / all. A null column
    * means the left join found no linked rows, the reference's not-present
    * case. The program reads the pair as supplied leaves. */
  private def linkOutcome(code: CodeDef): (Column, Column) = {
    val c = aggCol(code.id)
    code.multipleLink.getOrElse("last") match {
      case "first" | "last" => (c.isNotNull && c.getField("a"), c.getField("v"))
      case "count"          => (c.isNotNull, c.cast("string"))
      case "any" | "all"    => (coalesce(c, lit(false)), lit("1"))
      case other => throw new IllegalArgumentException(s"bad multiple_link $other")
    }
  }

  /** A field's raw value; an empty column name reads as absent. Names stay
    * verbatim (no trim): the program resolves by the exact strings
    * columnsPerTerm yields. */
  private def raw(r: ColumnResolver, name: String): Column =
    if (name.isEmpty) lit(null).cast("string") else r.get(name)

  /** One [[EvalCatalog]] over the program's leaves, each computed by
    * Catalyst: `parsed(c)` is the date parse of column `c`, and `links`
    * the (applicable, value) pairs of the codes the program reads as
    * supplied. */
  private def evaluator(program: CatalogProgram, leaves: Seq[Leaf],
                        r: ColumnResolver, policy: YearStartPolicy,
                        parsed: String => Column,
                        links: Map[Int, (Column, Column)]): Column = {
    val leafCols = leaves.map {
      case Leaf.Raw(c)         => raw(r, c)
      case Leaf.AsDouble(c)    => raw(r, c).cast("double")
      case Leaf.IsoDate(c)     => VariableCompiler.isoDate(parsed(c))
      case Leaf.DateSeconds(c) =>
        VariableCompiler.toDateSecondsOf(parsed(c), raw(r, c), policy)
      case Leaf.Applicable(i)  => links(i)._1
      case Leaf.Value(i)       => links(i)._2.cast("string")
    }
    GraftColumnBridge.column(EvalCatalog(
      leafCols.map(GraftColumnBridge.expression), program))
  }

  /** Each code's own outcome, as one `(applicable, value)` column pair per
    * code in catalog order: `applicable` is a non-null boolean, `value` the
    * string the code would write (null when not applicable). The codes
    * compile as singleton groups with no categories, alert or disregard, and
    * every pair reads the `variables` map of ONE [[EvalCatalog]], so a
    * projection that selects several pairs evaluates the codes once per row.
    * Entries are keyed by position, because ids may repeat in a catalog.
    * This is how quality control, the link-code pre-aggregations and the
    * DSL gates evaluate a rule. */
  def outcomes(codes: Seq[CodeDef], r: ColumnResolver,
               policy: YearStartPolicy = EpiWeek.International): Seq[(Column, Column)] = {
    val singles = codes.zipWithIndex.map { case (c, i) =>
      c.copy(id = i.toString, category = Nil, alert = false, disregard = false,
        calculationGroup = None, calculationPriority = None)
    }
    val (program, leaves) = CatalogProgram.compile(singles, Set.empty, Nil, Nil)
    val vars = evaluator(program, leaves, r, policy,
      c => VariableCompiler.parseDate(raw(r, c)), Map.empty).getField("variables")
    singles.map(c => (map_contains_key(vars, c.id), element_at(vars, c.id)))
  }

  /** Append variables/categories/disregard columns to `df`.
    *
    * Shape: one projection pre-parses each column the catalog reads as a
    * date (the ~10-format ladder once per column, not once per leaf), then
    * one projection evaluates the [[EvalCatalog]] struct over the leaves and
    * unpacks it; `__lc_<id>` pre-aggregates consumed here are dropped.
    * A field's presence is its raw value being non-null, and an empty column
    * name reads as absent.
    *
    * @param linkedForms forms reached through a link: a code on one of them
    *        reads the `__lc_<id>` column [[AddLinks]] pre-aggregated, which
    *        `df` must carry
    * @param staticEntries entries every row's `variables` carries after the
    *        code entries (the per-type counters) */
  def apply(df: DataFrame, codes: Seq[CodeDef], r: ColumnResolver,
            policy: YearStartPolicy = EpiWeek.International,
            alertData: Map[String, String] = Map.empty,
            linkedForms: Set[String] = Set.empty,
            staticEntries: Seq[(String, String)] = Nil): DataFrame = {
    if (codes.isEmpty) {
      val vars =
        if (staticEntries.isEmpty) emptyMapCol
        else map(staticEntries.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      return df.withColumn("variables", vars)
        .withColumn("categories", emptyMapCol)
        .withColumn("disregard", lit(false))
    }
    val dfCols = df.columns.toSet
    val linkOutcomes: Map[Int, (Column, Column)] = codes.zipWithIndex.collect {
      case (c, i) if linkedForms(c.form) =>
        require(dfCols(AddLinks.aggColName(c.id)), s"code ${c.id} reads the " +
          s"linked form ${c.form}, but the frame has no ${AddLinks.aggColName(c.id)} " +
          "column: run AddLinks with the code among its linkCodes first")
        i -> linkOutcome(c)
    }.toMap
    val consumed = linkOutcomes.keySet.map(i => AddLinks.aggColName(codes(i).id))

    val (program, leaves) = CatalogProgram.compile(codes, linkOutcomes.keySet,
      alertData.toSeq, staticEntries)
    val dateCols = leaves.collect {
      case Leaf.IsoDate(c)     => c
      case Leaf.DateSeconds(c) => c
    }.distinct
    val dateAttr = dateCols.zipWithIndex.map { case (c, i) => c -> s"__tc_d$i" }.toMap
    val parsed =
      if (dateCols.isEmpty) df
      else df.select(col("*") +: dateCols.map(c =>
        VariableCompiler.parseDate(raw(r, c)).as(dateAttr(c))): _*)
    val catalog = evaluator(program, leaves, r, policy, c => col(dateAttr(c)),
      linkOutcomes)

    // the outputs replace same-named input columns in place, like withColumn
    val outputs = Seq("variables", "categories", "disregard")
    val keep = df.columns.toSeq.filterNot(consumed)
    val projected = keep.map(n =>
      if (outputs.contains(n)) col(s"__tc.$n").as(n) else col(s"`$n`")) ++
      outputs.filterNot(keep.contains).map(n => col(s"__tc.$n").as(n))
    parsed.select(keep.map(n => col(s"`$n`")) :+ catalog.as("__tc"): _*)
      .select(projected: _*)
  }
}
