package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.config.CodeDef
import graft.functions.{EpiWeek, FlatResolver}
import graft.operators.ToCodes

/** Gate queries exercising the Variable predicate/expression DSL (SURVEY.md
  * §2.4, reference codes/variable.py) and the ToCodes engine (§2.2 P5,
  * codes/to_codes.py) through the actual compiler — not hand-written
  * equivalents — over flat TPC-H columns, verified against SQL oracles.
  */
object DslQueries extends QueryPack {

  /** Codes applied to `part`: match / sub_match / between bands (group
    * mutual exclusion) / or-combination / priority overwrite. */
  private val partCatalog = Seq(
    CodeDef(id = "brand_13", method = "match", dbColumn = "p_brand",
      condition = "Brand#13", calculationGroup = Some("brand")),
    CodeDef(id = "brand_19", method = "match", dbColumn = "p_brand",
      condition = "Brand#19", calculationGroup = Some("brand")),
    CodeDef(id = "size_small", method = "between", condition = "1,10",
      calculation = "p_size", dbColumn = "p_size",
      calculationGroup = Some("size_band")),
    CodeDef(id = "size_medium", method = "between", condition = "10,25",
      calculation = "p_size", dbColumn = "p_size",
      calculationGroup = Some("size_band")),
    CodeDef(id = "size_large", method = "between", condition = "25,51",
      calculation = "p_size", dbColumn = "p_size",
      calculationGroup = Some("size_band")),
    CodeDef(id = "promo", method = "sub_match", dbColumn = "p_type",
      condition = "ROMO"),
    CodeDef(id = "combo", method = "match or between",
      dbColumn = "p_brand;p_size", condition = "Brand#5;45,51",
      calculation = "None;p_size"),
    // priority group: premium (priority 1) overwrites band_any (priority 2)
    CodeDef(id = "price_band_any", method = "between", condition = "900,2000",
      calculation = "p_retailprice", dbColumn = "p_retailprice",
      calculationGroup = Some("price"), calculationPriority = Some(2)),
    CodeDef(id = "price_premium", method = "between", condition = "1500,2000",
      calculation = "p_retailprice", dbColumn = "p_retailprice",
      calculationGroup = Some("price"), calculationPriority = Some(1))
  )

  /** Codes applied to `lineitem` for alert injection + disregard routing. */
  private val lineitemCatalog = Seq(
    CodeDef(id = "ret_r", method = "match", dbColumn = "l_returnflag",
      condition = "R", alert = true, alertType = "individual",
      category = Seq("returns")),
    CodeDef(id = "qty_heavy", method = "between", condition = "30,51",
      calculation = "l_quantity", dbColumn = "l_quantity"),
    CodeDef(id = "dis_open", method = "match", dbColumn = "l_linestatus",
      condition = "O", disregard = true)
  )

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dsl_predicates" -> ((s, dir) => {
      val df = Tables.part(s, dir)
      val out = ToCodes(df, partCatalog, new FlatResolver(df.columns.toSet))
      out.select(col("p_partkey"), explode(col("variables")).as(Seq("code", "value")))
        .select(col("p_partkey"), col("code"))
    }),

    "dsl_calc" -> ((s, dir) => {
      // r16: fanOut — the calc-parser arithmetic ran in the one-split
      // scan stage (Tables.fanOut)
      val df = Tables.fanOut(s, Tables.lineitem(s, dir), dir, "lineitem",
        col("l_orderkey"))
      val code = CodeDef(id = "net_price", method = "calc", condition = "None",
        calculation = "l_extendedprice * (1 - l_discount) + l_tax",
        dbColumn = "l_extendedprice,l_discount,l_tax")
      val Seq((applicable, value)) =
        ToCodes.outcomes(Seq(code), new FlatResolver(df.columns.toSet))
      df.filter(applicable)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          value.cast("double").as("calc_value"))
    }),

    "dsl_value_date" -> ((s, dir) => {
      // value method with calculation="date": permissive parse → ISO string
      // (variable.py:233-249). Input is a "Apr 17, 2016"-style string.
      // r16: fanOut — the permissive date-parse ladder is the value
      // projection here and ran in the one-split scan stage (Tables.fanOut)
      val df = Tables.fanOut(s, Tables.orders(s, dir), dir, "orders",
          col("o_orderkey"))
        .withColumn("datestr", date_format(col("o_orderdate"), "MMM d, yyyy"))
      val code = CodeDef(id = "visit_date", method = "value", condition = "None",
        calculation = "date", dbColumn = "datestr")
      val Seq((applicable, value)) =
        ToCodes.outcomes(Seq(code), new FlatResolver(Set("datestr")))
      df.filter(applicable)
        .select(col("o_orderkey"), value.as("iso_date"))
    }),

    "dsl_to_date_between" -> ((s, dir) => {
      // between over Variable.to_date seconds (epi epoch for day:0 policy =
      // 1970-01-05): [1996-01-01, 1998-01-01) expressed in epi-epoch seconds.
      // r16: fanOut PROBED AND REJECTED — paired A/B read 1.34 s without
      // vs 1.66 s with (the single to_date ladder is cheap next to the
      // exchange it would buy)
      val df = Tables.orders(s, dir)
        .withColumn("datestr", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      val code = CodeDef(id = "in_window", method = "between",
        condition = "820108800,883267200",
        calculation = "Variable.to_date(datestr)", dbColumn = "datestr")
      val Seq((applicable, _)) = ToCodes.outcomes(Seq(code),
        new FlatResolver(Set("datestr")), EpiWeek.StartDay(0))
      df.filter(applicable)
        .select(col("o_orderkey"))
    }),

    // The reference's canonical downstream query (docs/source/index.rst:75-77):
    // variables-membership filter + count group-by over epi week/location —
    // run against the ToCodes output, exactly how meerkat_api consumes `data`.
    "canonical_aggregation" -> ((s, dir) => {
      import graft.functions.EpiWeek
      // r16: fanOut PROBED AND REJECTED — paired A/B read 0.88 s without
      // vs 1.18 s with: the ToCodes ladder here is one cheap map build
      // and the row exchange costs more than the spread frees
      val df = Tables.lineitem(s, dir)
      val coded = ToCodes(df, lineitemCatalog, new FlatResolver(df.columns.toSet))
      val yw = EpiWeek.epiYearWeek(col("l_shipdate"), EpiWeek.International)
      coded
        .filter(map_contains_key(col("variables"), "ret_r"))
        .select(yw.getField("epi_year").as("epi_year"),
          yw.getField("epi_week").as("epi_week"), col("l_orderkey"))
        .groupBy(col("epi_year"), col("epi_week"))
        .agg(count(lit(1)).as("n_cases"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    }),

    // Priority-group fidelity (to_codes.py:260-309): the variables map is
    // priority-gated (lowest wins), but EVERY applicable member writes its
    // categories — so where both price codes apply, the winner is
    // price_premium while the "band" category comes from price_any (the
    // later catalog entry). Oracle-certifies the round-1 ADVICE fix.
    "dsl_priority_categories" -> ((s, dir) => {
      val df = Tables.part(s, dir)
      val catalog = Seq(
        CodeDef(id = "price_premium", method = "between",
          condition = "1500,2500", calculation = "p_retailprice",
          dbColumn = "p_retailprice", calculationGroup = Some("price"),
          calculationPriority = Some(1), category = Seq("band")),
        CodeDef(id = "price_any", method = "between",
          condition = "900,2000", calculation = "p_retailprice",
          dbColumn = "p_retailprice", calculationGroup = Some("price"),
          calculationPriority = Some(2), category = Seq("band", "seen")))
      val out = ToCodes(df, catalog, new FlatResolver(df.columns.toSet))
      out.select(col("p_partkey"),
          when(map_contains_key(col("variables"), "price_premium"), "price_premium")
            .when(map_contains_key(col("variables"), "price_any"), "price_any")
            .as("var_winner"),
          element_at(col("categories"), "band").as("band_src"),
          element_at(col("categories"), "seen").as("seen_src"))
        .filter(col("var_winner").isNotNull)
    }),

    "dsl_to_codes_alert" -> ((s, dir) => {
      // The engine's flagship coding gate is scan → ONE hash repartition →
      // coding projection → explode (spec-pinned in "plan shape: the
      // flagship coding gate"). In-row entry order stays deterministic via
      // array_sort over the map entries.
      //
      // Why an exchange at all: the driver's single-file testdata has ONE
      // parquet row group, so the scan is irreducibly one task and every
      // downstream operator inherits it — a fully exchange-free
      // formulation codes 600k rows on one core (measured 2.6 s at
      // sf0.1). The hash repartition is the minimal parallelism restore:
      // no sampling job, no sort, deterministic partitioning. At
      // production scale a multi-row-group/multi-file scan parallelizes
      // natively and AQE would coalesce this exchange's output to the
      // scan's own layout.
      val df = Tables.lineitem(s, dir).repartition(col("l_orderkey"))
      // staticEntries = the A7 unit counters (per-type var + data_entry,
      // process_steps/to_codes.py:106-108), folded into the same map build
      val out = ToCodes(df, lineitemCatalog, new FlatResolver(df.columns.toSet),
        alertData = Map("qty" -> "l_quantity"),
        staticEntries = Seq("tot_case" -> "1", "data_entry" -> "1"))
      out.select(col("l_orderkey"), col("l_linenumber"), col("disregard"),
          explode(array_sort(map_entries(col("variables")))).as("__e"))
        .select(col("l_orderkey"), col("l_linenumber"), col("disregard"),
          col("__e.key").as("code"), col("__e.value").as("value"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "dsl_predicates" ->
      """SELECT p_partkey, code FROM (
        |  SELECT p_partkey, CASE WHEN p_brand='Brand#13' THEN 'brand_13'
        |                         WHEN p_brand='Brand#19' THEN 'brand_19' END AS code FROM part
        |  UNION ALL
        |  SELECT p_partkey, CASE WHEN p_size>=1 AND p_size<10 THEN 'size_small'
        |                         WHEN p_size>=10 AND p_size<25 THEN 'size_medium'
        |                         WHEN p_size>=25 AND p_size<51 THEN 'size_large' END FROM part
        |  UNION ALL
        |  SELECT p_partkey, CASE WHEN p_type LIKE '%ROMO%' THEN 'promo' END FROM part
        |  UNION ALL
        |  SELECT p_partkey, CASE WHEN p_brand='Brand#5' OR (p_size>=45 AND p_size<51)
        |                         THEN 'combo' END FROM part
        |  UNION ALL
        |  SELECT p_partkey, CASE WHEN p_retailprice>=1500 AND p_retailprice<2000 THEN 'price_premium'
        |                         WHEN p_retailprice>=900 AND p_retailprice<2000 THEN 'price_band_any' END FROM part
        |) WHERE code IS NOT NULL ORDER BY 1, 2""".stripMargin,

    "dsl_calc" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |  l_extendedprice * (1 - l_discount) + l_tax AS calc_value
        |FROM lineitem ORDER BY 1, 2, 3""".stripMargin,

    "dsl_value_date" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_date
        |FROM orders ORDER BY 1""".stripMargin,

    "dsl_to_date_between" ->
      """SELECT o_orderkey FROM orders
        |WHERE date_diff('second', TIMESTAMP '1970-01-05 00:00:00', o_orderdate) >= 820108800
        |  AND date_diff('second', TIMESTAMP '1970-01-05 00:00:00', o_orderdate) < 883267200
        |ORDER BY 1""".stripMargin,

    "canonical_aggregation" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS epi_year,
        |  CAST((dayofyear(l_shipdate) - 1) // 7 + 1 AS INT) AS epi_week,
        |  count(*) AS n_cases,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dsl_priority_categories" ->
      """SELECT p_partkey,
        |  CASE WHEN p_retailprice >= 1500 AND p_retailprice < 2500 THEN 'price_premium'
        |       WHEN p_retailprice >= 900 AND p_retailprice < 2000 THEN 'price_any' END AS var_winner,
        |  CASE WHEN p_retailprice >= 900 AND p_retailprice < 2000 THEN 'price_any'
        |       WHEN p_retailprice >= 1500 AND p_retailprice < 2500 THEN 'price_premium' END AS band_src,
        |  CASE WHEN p_retailprice >= 900 AND p_retailprice < 2000 THEN 'price_any' END AS seen_src
        |FROM part
        |WHERE (p_retailprice >= 1500 AND p_retailprice < 2500)
        |   OR (p_retailprice >= 900 AND p_retailprice < 2000)
        |ORDER BY p_partkey""".stripMargin,

    "dsl_to_codes_alert" ->
      """WITH li AS (SELECT *, (l_returnflag = 'R') AS fired FROM lineitem)
        |SELECT l_orderkey, l_linenumber, disregard, code, value FROM (
        |  SELECT l_orderkey, l_linenumber, (l_linestatus='O' AND fired) AS disregard,
        |         'ret_r' AS code, '1' AS value FROM li WHERE fired
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, (l_linestatus='O' AND fired), 'qty_heavy', '1'
        |  FROM li WHERE l_quantity >= 30 AND l_quantity < 51
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, (l_linestatus='O' AND fired), 'alert', '1'
        |  FROM li WHERE fired
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, (l_linestatus='O' AND fired), 'alert_type', 'individual'
        |  FROM li WHERE fired
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, (l_linestatus='O' AND fired), 'alert_reason', 'ret_r'
        |  FROM li WHERE fired
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, (l_linestatus='O' AND fired), 'alert_qty',
        |         CAST(l_quantity AS VARCHAR)
        |  FROM li WHERE fired
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, (l_linestatus='O' AND fired), 'dis_open', '1'
        |  FROM li WHERE l_linestatus = 'O'
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, (l_linestatus='O' AND fired), 'tot_case', '1' FROM li
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, (l_linestatus='O' AND fired), 'data_entry', '1' FROM li)
        |ORDER BY 1, 2, 4, 5""".stripMargin
  )
}
