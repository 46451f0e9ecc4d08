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

  /** Outcome of a multiple_link code over linked rows
    * (codes/to_codes.py:217-242): a code whose form is a *linked* form
    * evaluates against the linked matches with method last / first / count /
    * any / all instead of the main record. The program reads these as supplied
    * (applicable, value) leaves.
    *
    * When AddLinks pre-aggregated the code's outcome into a `__lc_<id>`
    * column (`preAgg` — the hot pipeline path), that plain codegen'd column
    * is consumed for ALL five methods: a null `__lc_<id>` means the left
    * join found no linked rows, i.e. the reference's not-present case. The
    * array formulations over `links[linkName]` remain as a fallback for
    * direct callers that attach link arrays without AddLinks; of those only
    * any/all use lambda HOFs (CodegenFallback, interpreted), which the
    * pipeline therefore never runs. */
  private def linkOutcome(code: CodeDef, linkName: String, preAgg: Boolean,
                          policy: YearStartPolicy): VariableCompiler.Compiled =
    if (preAgg) {
      val c = aggCol(code.id)
      code.multipleLink.getOrElse("last") match {
        case "first" | "last" =>
          VariableCompiler.Compiled(c.isNotNull && c.getField("a"), c.getField("v"))
        case "count" =>
          VariableCompiler.Compiled(c.isNotNull, c.cast("string"))
        case "any" | "all" =>
          VariableCompiler.Compiled(coalesce(c, lit(false)), lit("1"))
        case other =>
          throw new IllegalArgumentException(s"bad multiple_link $other")
      }
    } else {
      val arr = element_at(col("links"), linkName)
      def over(elem: Column) =
        VariableCompiler.compile(code, new graft.functions.MapResolver(elem), policy)
      val present = arr.isNotNull && size(arr) > 0
      code.multipleLink.getOrElse("last") match {
        case "last"  =>
          val c = over(element_at(arr, -1))
          VariableCompiler.Compiled(present && c.applicable, c.value)
        case "first" =>
          val c = over(element_at(arr, 1))
          VariableCompiler.Compiled(present && c.applicable, c.value)
        case "count" =>
          VariableCompiler.Compiled(present, size(arr).cast("string"))
        case "any"   =>
          VariableCompiler.Compiled(
            present && exists(arr, m => over(m).applicable), lit("1"))
        case "all"   =>
          VariableCompiler.Compiled(
            present && forall(arr, m => over(m).applicable), lit("1"))
        case other =>
          throw new IllegalArgumentException(s"bad multiple_link $other")
      }
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
    * @param staticEntries entries every row's `variables` carries after the
    *        code entries (the per-type counters) */
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
    // link codes whose outcome AddLinks pre-aggregated into a __lc_<id>
    // column on this frame read that plain column, and it is dropped after
    val dfCols = df.columns.toSet
    val linkOutcomes: Map[Int, VariableCompiler.Compiled] = codes.zipWithIndex.collect {
      case (c, i) if linkNameForForm.contains(c.form) =>
        i -> linkOutcome(c, linkNameForForm(c.form),
          dfCols(AddLinks.aggColName(c.id)), policy)
    }.toMap
    val consumed = linkOutcomes.keys.map(i => AddLinks.aggColName(codes(i).id))
      .filter(dfCols).toSet

    val (program, leaves) = CatalogProgram.compile(codes, linkOutcomes.keySet,
      alertData.toSeq, staticEntries)
    // names stay verbatim (no trim): the program resolves by the exact
    // strings columnsPerTerm yields
    def raw(name: String): Column =
      if (name.isEmpty) lit(null).cast("string") else r.get(name)
    val dateCols = leaves.collect {
      case Leaf.IsoDate(c)     => c
      case Leaf.DateSeconds(c) => c
    }.distinct
    val dateAttr = dateCols.zipWithIndex.map { case (c, i) => c -> s"__tc_d$i" }.toMap
    val leafCols = leaves.map {
      case Leaf.Raw(c)         => raw(c)
      case Leaf.AsDouble(c)    => raw(c).cast("double")
      case Leaf.IsoDate(c)     => VariableCompiler.isoDate(col(dateAttr(c)))
      case Leaf.DateSeconds(c) =>
        VariableCompiler.toDateSecondsOf(col(dateAttr(c)), raw(c), policy)
      case Leaf.Applicable(i)  => linkOutcomes(i).applicable
      case Leaf.Value(i)       => linkOutcomes(i).value.cast("string")
    }
    val parsed =
      if (dateCols.isEmpty) df
      else df.select(col("*") +: dateCols.map(c =>
        VariableCompiler.parseDate(raw(c)).as(dateAttr(c))): _*)
    val catalog = GraftColumnBridge.column(EvalCatalog(
      leafCols.map(GraftColumnBridge.expression), program))

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
