package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.config.{CodeDef, LinkDef}
import graft.functions.{EpiWeek, MapResolver, VariableCompiler}
import graft.functions.EpiWeek.YearStartPolicy

/** add_links step (reference
  * pipeline_worker/process_steps/add_links.py:28-157): record linkage between
  * a data type's base records and its linked forms.
  *
  * Per (from_column, to_column, method) triple the join predicate is:
  *   match       → equality on the raw values
  *   lower_match → equality on lower(replace(x, '-', '_'))
  *   alert_match → linked value == last-`alert_id_length` chars of base value
  *                 (the reference's substring(uuid, 42-len, len))
  * plus a non-empty guard on the linked value and an optional to_condition
  * filter. Matches are ordered by the link's order_by column (date-parsed or
  * lexical) and attached as `links[link_name] = [linked data …]`.
  *
  * The reference's "from-links" (a linked-form record re-emitting the base
  * records it points at — add_links.py:45-97) exist because its pipeline is
  * incremental; a batch recompute of to-links over base ∪ linked forms
  * produces exactly that closure, so this operator only implements the
  * set-based direction.
  *
  * Scale: one shuffle per link on the join key; the equality methods are all
  * equi-joins (alert_match included — the substring is computed into the join
  * key), so Catalyst picks hash joins and can broadcast small linked forms.
  *
  * ORDERING CONTRACT. Array order comes from a window-ordered collection:
  * `collect_list(payload) OVER (PARTITION BY uuid ORDER BY order_key ROWS
  * BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)` followed by
  * `groupBy(uuid).agg(first(arr))`. The window's sort order is contractual
  * (WindowExec requires and consumes a SortExec), and with an unbounded
  * frame every row of a group carries the identical full array, so `first`
  * is deterministic regardless of which aggregate implementation runs.
  * This replaced a `sortWithinPartitions` + `groupBy.collect_list` shape
  * that had NO ordering contract: ObjectHashAggregateExec falls back to
  * sort-based aggregation past `...sortBased.fallbackThreshold` (128)
  * distinct groups per partition and merges the straddling group's rows out
  * of order — it passed spec-sized data and broke at sf0.01 (round-3
  * regression; AddLinksOrderSpec now forces that fallback in-test).
  * Plan shape: Exchange(uuid) → Sort(uuid, ok) → Window → SortAggregate
  * (input already sorted, grouping key is the sort prefix) — one shuffle,
  * one sort. No lambda HOF anywhere: a post-aggregation `array_sort`
  * comparator is CodegenFallback and forced whole stages interpreted
  * (measured 29× on the p4 gate in round 2).
  *
  * `multiple_link` codes (codes/to_codes.py:217-242) are evaluated here as
  * order-insensitive PRE-AGGREGATIONS over the uncollected join rows
  * ([[linkCodeAggs]]): any/all → bool_or/bool_and of the code's
  * predicate, count → count(*), first/last → min_by/max_by of the
  * (applicable, value) struct keyed on the order key with a nulls-last
  * sentinel (the reference sorts None last — add_links.py:145-152). ToCodes
  * reads a linked-form code's outcome from its `__lc_<id>` column and
  * nowhere else, so callers that need only link-code outcomes can skip
  * array collection entirely (`collectArrays = false`), turning the whole
  * link step into one partial-aggregated shuffle of a few bytes per group.
  */
object AddLinks {

  private def normalize(c: Column): Column = lower(regexp_replace(c, "-", "_"))

  /** Total nulls-last ordering for min_by/max_by over the order key:
    * struct(isNull, key) — false sorts before true, so null keys are the
    * supremum. (A sentinel string is NOT safe: U+FFFF is below any
    * supplementary-plane character under UTF8 binary comparison.) */
  private def nullsLastKey(ok: Column): Column =
    struct(ok.isNull.as("n"), coalesce(ok, lit("")).as("k"))

  /** Column name carrying the pre-aggregated outcome of one multiple_link
    * code; consumed (and dropped) by ToCodes. */
  def aggColName(codeId: String): String = s"__lc_$codeId"

  /** Pre-aggregations for the multiple_link codes targeting this link's
    * form, one `__lc_<id>` per code, returned as (rowProjections, aggs):
    * the projections read every code's predicate/value from ONE
    * [[ToCodes.outcomes]] evaluator per joined row, scan-side, into plain
    * `__la_*` columns (see [[linkMatches]] —
    * shuffles and aggregation buffers then carry booleans/strings, not the
    * linked data map), and the aggs fold those columns:
    *
    *   any / all   → `bool_or` / `bool_and` of the code's predicate
    *   count       → `count(*)` (the reference counts linked rows, not
    *                 predicate hits — codes/to_codes.py:236-238)
    *   first / last→ `min_by` / `max_by` of struct(applicable, value) over
    *                 a (isNull, key) struct ordering: min_by/max_by skip
    *                 null keys, but the reference sorts None LAST, so a
    *                 null-keyed row CAN be the "last" match — the struct
    *                 makes null keys the supremum without a sentinel
    *
    * The predicates are never null (`bool_and` would skip a null where
    * `forall` over the linked rows reads it as false). All five
    * aggregations are order-INSENSITIVE (first/last order via the
    * min_by/max_by key), so they are immune to aggregation-order
    * nondeterminism by construction. */
  def linkCodeAggs(codes: Seq[CodeDef], link: LinkDef,
                   policy: YearStartPolicy): (Seq[Column], Seq[Column]) = {
    val ordKey = nullsLastKey(col("__ok"))
    val linkCodes = codes.filter(_.form == link.toForm)
    // one evaluator per joined row covers every code of this link
    val pairs = ToCodes.outcomes(linkCodes, new MapResolver(col("__l_data")), policy)
    val parts = linkCodes.zip(pairs).zipWithIndex.map {
      case ((c, (pred, value)), i) =>
        val pName = s"__la_p$i"
        val vName = s"__la_v$i"
        val out = aggColName(c.id)
        c.multipleLink.getOrElse("last") match {
          case "any"   => (Seq(pred.as(pName)), bool_or(col(pName)).as(out))
          case "all"   => (Seq(pred.as(pName)), bool_and(col(pName)).as(out))
          case "count" => (Seq.empty[Column], count(lit(1)).as(out))
          case "first" =>
            (Seq(pred.as(pName), value.as(vName)),
              min_by(struct(col(pName).as("a"), col(vName).as("v")), ordKey).as(out))
          case "last"  =>
            (Seq(pred.as(pName), value.as(vName)),
              max_by(struct(col(pName).as("a"), col(vName).as("v")), ordKey).as(out))
          case other =>
            throw new IllegalArgumentException(s"bad multiple_link $other")
        }
    }
    (parts.flatMap(_._1), parts.map(_._2))
  }

  /** (uuid → ordered linked array) for one link spec, plus any `extraAggs`
    * evaluated over the pre-collection join rows.
    *
    * SCALE SHAPE: every field the link needs — join keys (with the method
    * transform applied), order key, to_condition, agg inputs, payload — is
    * projected out of the data maps in narrow SCAN-SIDE projections BEFORE
    * the join, and the to/from condition filters run before the join too.
    * The join is then a pure equi-join on plain string columns, and the
    * shuffle/sort/aggregation buffers carry primitives; the linked map
    * itself crosses the join only when something downstream genuinely
    * consumes whole linked rows (full-map array collection). Measured at
    * sf0.1, maps flowing through the join+agg cost 3× the plain-column
    * shape.
    *
    * @param extraAggs aggregations over the joined rows, folding the
    *        `aggInputs` projections (see [[linkCodeAggs]]).
    * @param payload what to collect per matched row, as an expression over
    *        `__l_data`; defaults to the full linked map (the reference
    *        attaches whole linked dicts). Callers that only need one field
    *        should project it here — collecting strings instead of maps
    *        keeps the shuffle payload narrow and leaves no post-aggregation
    *        HOF to run. NOTE: `collect_list` drops null elements, so a
    *        payload that can be null (e.g. a missing map key) shifts
    *        positions relative to the full-map default; project a non-null
    *        payload or keep the default.
    * @param aggInputs named per-row projections over `__l_data` (evaluated
    *        pre-join) that `extraAggs` folds; from [[linkCodeAggs]].
    * @param collectArrays false skips array collection entirely (no window,
    *        no sort): the output is just `groupBy(uuid).agg(extraAggs)`,
    *        partial-aggregated map-side. Only valid with nonEmpty extraAggs. */
  def linkMatches(base: DataFrame, linked: DataFrame, link: LinkDef,
                  alertIdLength: Int,
                  extraAggs: Seq[Column] = Nil,
                  payload: Option[Column] = None,
                  collectArrays: Boolean = true,
                  aggInputs: Seq[Column] = Nil): DataFrame = {
    val fromKeys = link.fromColumns.indices.map(i => s"__fk_$i")
    val toKeys = link.toColumns.indices.map(i => s"__tk_$i")

    // base side: pre-join filter, then keys only (method transforms applied
    // here so the join itself is a plain equi-join)
    val bFiltered = link.fromCondition
      .map { case (c, v) => base.filter(element_at(col("data"), c) === v) }
      .getOrElse(base)
    val bKeyCols = link.fromColumns.lazyZip(link.methods).lazyZip(fromKeys).map {
      (fc, m, name) =>
        val bv = element_at(col("data"), fc)
        val key = m match {
          case "match"       => bv
          case "lower_match" => normalize(bv)
          case "alert_match" => substring(bv, -alertIdLength, alertIdLength)
          case other => throw new IllegalArgumentException(s"bad link method $other")
        }
        key.as(name)
    }
    val b = bFiltered.select(col("uuid").as("__b_uuid") +: bKeyCols: _*)

    // linked side: pre-join filter, then keys + order key + agg inputs +
    // payload — the data map survives only if whole rows are consumed
    val lFiltered = link.toCondition
      .map { case (c, v) => linked.filter(element_at(col("data"), c) === v) }
      .getOrElse(linked)
      .select(col("data").as("__l_data"))
    val orderKey = {
      val raw = element_at(col("__l_data"), link.orderByColumn)
      if (link.orderByIsDate) VariableCompiler.parseDate(raw).cast("string") else raw
    }
    // keep __l_data out of the shuffle unless the full-map arrays collect it
    val keepLinkedData = collectArrays && payload.isEmpty
    val lKeyCols = link.toColumns.lazyZip(link.methods).lazyZip(toKeys).map {
      (tc, m, name) =>
        val lv = element_at(col("__l_data"), tc)
        // "" normalizes to "", so guarding the transformed key ≡ guarding raw
        val key = m match {
          case "lower_match" => normalize(lv)
          case _             => lv
        }
        key.as(name)
    }
    val l = lFiltered.select(
      lKeyCols ++ Seq(orderKey.as("__ok")) ++ aggInputs ++
        payload.map(_.as("__pl")) ++
        (if (keepLinkedData) Seq(col("__l_data")) else Nil): _*)

    val conds = fromKeys.zip(toKeys).map { case (fk, tk) =>
      col(tk) === col(fk) && col(tk) =!= ""
    }
    val rows = b.join(l, conds.reduce(_ && _), "inner")
      .drop(fromKeys ++ toKeys: _*)

    if (!collectArrays) {
      require(extraAggs.nonEmpty, "collectArrays=false needs extraAggs")
      rows.groupBy(col("__b_uuid").as("uuid"))
        .agg(extraAggs.head, extraAggs.tail: _*)
    } else {
      // window-ordered collection (see object doc): contractual sort, every
      // row of the unbounded frame carries the identical full array
      val target = payload.map(_ => col("__pl")).getOrElse(col("__l_data"))
      val w = Window.partitionBy(col("__b_uuid"))
        .orderBy(col("__ok").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      rows.withColumn("__arr", collect_list(target).over(w))
        .groupBy(col("__b_uuid").as("uuid"))
        .agg(first(col("__arr")).as("__linked"), extraAggs: _*)
    }
  }

  /** Attach `links: map<string, array<map<string,string>>>` to `base`,
    * covering every link spec for this data type.
    *
    * @param linkCodes multiple_link codes of this data type whose form is a
    *        LINKED form — their outcomes are pre-aggregated into the
    *        `__lc_<id>` columns ToCodes reads. When two links share a
    *        toForm, only the FIRST link emits a code's column (one
    *        `__lc_<id>` per code — the catalog resolves links by form, so
    *        duplicates would be ambiguous).
    * @param collectArrays false skips the ordered-array collection (the
    *        `links` column stays an empty map): correct whenever every
    *        consumer reads only the pre-aggregated link-code outcomes. */
  def apply(base: DataFrame, forms: Map[String, DataFrame], links: Seq[LinkDef],
            alertIdLength: Int = 6,
            linkCodes: Seq[CodeDef] = Nil,
            policy: YearStartPolicy = EpiWeek.International,
            collectArrays: Boolean = true): DataFrame = {
    val emptyLinks = map_from_entries(
      array().cast("array<struct<key:string,value:array<map<string,string>>>>"))
    var aggedForms = Set.empty[String]
    links.foldLeft(base.withColumn("links", emptyLinks)) { (acc, link) =>
      val (aggInputs, aggs) =
        if (aggedForms(link.toForm)) (Nil, Nil)
        else linkCodeAggs(linkCodes, link, policy)
      aggedForms += link.toForm
      if (!collectArrays && aggs.isEmpty) acc
      else {
        require(forms.contains(link.toForm),
          s"link ${link.name} reads form ${link.toForm}, which is not among " +
            s"the forms given: ${forms.keys.toSeq.sorted.mkString(", ")}")
        val matches = linkMatches(base, forms(link.toForm), link, alertIdLength,
          aggs, payload = None, collectArrays = collectArrays,
          aggInputs = aggInputs)
          .withColumnRenamed("uuid", "__m_uuid")
        val joined = acc.join(matches, col("uuid") === col("__m_uuid"), "left")
        (if (collectArrays)
          joined.withColumn("links",
            when(col("__linked").isNotNull,
              map_concat(col("links"), map(lit(link.name), col("__linked"))))
              .otherwise(col("links")))
            .drop("__linked")
        else joined)
          .drop("__m_uuid")
      }
    }
  }
}
