package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.config._
import graft.functions.EpiWeek
import graft.operators._

/** Gate queries for the reference's pipeline-step operators (SURVEY.md §2.2)
  * and aggregation operators (§2.3). Every query routes through the SHIPPED
  * operator objects in `graft.operators.*` — the testdata tables are adapted
  * into the operators' `(uuid, data)` / coded-data shapes, the operator runs,
  * and the result is projected back to oracle-comparable columns. The oracle
  * certifies the operator itself, not a hand-written equivalent.
  *
  * Mapping (reference step → operator → gate):
  *  - P1 quality_control  (quality_control.py:14-148)  → QualityControl → p1
  *  - P2 initial_visit_control (initial_visit_control.py:25-136) → InitialVisitControl → p2
  *  - P3 to_data_type     (to_data_type.py:16-49)      → ToDataType → p3
  *  - P4 add_links        (add_links.py:28-157)        → AddLinks → p4_*
  *  - A1 daily threshold  (add_multiple_alerts.py:154-216) → MultipleAlerts.dailyThreshold → a1
  *  - A2 weekly threshold (add_multiple_alerts.py:218-252) → MultipleAlerts.weeklyThreshold → a2
  *  - A3 double-doubling  (add_multiple_alerts.py:255-358) → MultipleAlerts.doubleDoubling → a3
  *  - A4 representative   (add_multiple_alerts.py:78-143)  → MultipleAlerts.promote → a4
  *  - A5 population rollup (database_setup.py:157-166)     → a5_population_rollup
  *  - A6 multiple_link agg (codes/to_codes.py:217-242)     → a6_multiple_link
  */
object PipelineQueries extends QueryPack {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** events → raw-form shape `(uuid, data map)` for the P-step operators.
    * uuid is zero-padded so lexicographic uuid ordering (what the operators
    * use, as the reference does on its string uuids) equals numeric event
    * order; ts round-trips through the ISO-micros format of the permissive
    * date ladder. */
  private def eventsForm(s: SparkSession, dir: String): DataFrame = {
    val iso = date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    Tables.events(s, dir).select(
      lpad(col("event_id").cast("string"), 10, "0").as("uuid"),
      map(
        lit("event_id"), col("event_id").cast("string"),
        lit("user_id"), col("user_id").cast("string"),
        lit("event_type"), col("event_type"),
        lit("ts"), iso,
        lit("SubmissionDate"), iso,
        lit("value"), col("value").cast("string"),
        lit("visit"), lit("new"),
        lit("module"), lit("m")).as("data"))
  }

  /** events → coded-data shape for the MultipleAlerts detectors: one
    * variables key per event_type plus the catch-all "any". */
  private def eventsData(s: SparkSession, dir: String): DataFrame = {
    val yw = EpiWeek.epiYearWeek(col("ts"), EpiWeek.International)
    Tables.events(s, dir).select(
      col("event_id").cast("string").as("uuid"),
      col("user_id").as("clinic"),
      col("ts").as("date"),
      yw.getField("epi_year").as("epi_year"),
      yw.getField("epi_week").as("epi_week"),
      map(col("event_type"), lit("1"), lit("any"), lit("1")).as("variables"))
  }

  private def d(m: org.apache.spark.sql.Column, k: String) = element_at(m, k)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P1 through QualityControl: only_import_after date gate + exclusion-list
    // anti-join + discard-category code + repair-to-null code
    // (quality_control.py:14-148). Sampling gate off (nondeterministic).
    "p1_quality_control" -> ((s, dir) => {
      val formDf = eventsForm(s, dir)
      val exclusions = Tables.events(s, dir)
        .filter(col("event_id") % 101 === 0)
        .select(lpad(col("event_id").cast("string"), 10, "0").as("uuid"))
      val qc = QualityControlDef(
        qcCodes = Seq(
          // discard code: rows failing the membership check are dropped
          CodeDef(id = "qc_type", method = "match", dbColumn = "event_type",
            condition = "click,error,purchase,view", category = Seq("discard")),
          // repair code: out-of-range value → column nulled in place
          CodeDef(id = "qc_value", method = "between", condition = "0,500",
            calculation = "value", dbColumn = "value")),
        onlyImportAfter = Some("2024-01-03"))
      QualityControl(formDf, qc, exclusions = Some(exclusions))
        .select(
          d(col("data"), "event_id").cast("long").as("event_id"),
          d(col("data"), "user_id").cast("long").as("user_id"),
          d(col("data"), "event_type").as("event_type"),
          d(col("data"), "value").cast("double").as("value_r"))
    }),

    // P2 through InitialVisitControl: earliest visit per identifier tuple
    // stays "new", later ones demoted to "return".
    "p2_initial_visit_control" -> ((s, dir) => {
      val cfg = InitialVisitDef(form = "events",
        identifierKeys = Seq("user_id", "event_type"),
        visitTypeKey = "visit", visitDateKey = "ts",
        moduleKey = "module", moduleValue = "m")
      InitialVisitControl(eventsForm(s, dir), cfg)
        .select(
          d(col("data"), "event_id").cast("long").as("event_id"),
          d(col("data"), "user_id").cast("long").as("user_id"),
          d(col("data"), "event_type").as("event_type"),
          d(col("data"), "visit").as("visit"))
    }),

    // P3 through ToDataType: conditional multicast — equality conditions only,
    // exactly the reference's row[db_column] == condition semantics.
    "p3_to_data_type" -> ((s, dir) => {
      val formDf = Tables.orders(s, dir).select(
        col("o_orderkey").cast("string").as("uuid"),
        map(lit("o_orderkey"), col("o_orderkey").cast("string"),
          lit("o_orderpriority"), col("o_orderpriority")).as("data"))
      val types = Seq(
        DataTypeDef(name = "urgent", form = "orders",
          dbColumn = Some("o_orderpriority"), condition = Some("1-URGENT"),
          dateColumn = "d", varName = "tot_1"),
        DataTypeDef(name = "low", form = "orders",
          dbColumn = Some("o_orderpriority"), condition = Some("5-LOW"),
          dateColumn = "d", varName = "tot_2"),
        DataTypeDef(name = "all_orders", form = "orders",
          dbColumn = None, condition = None,
          dateColumn = "d", varName = "tot_3"))
      ToDataType.union(formDf, "orders", types)
        .select(col("type"),
          d(col("data"), "o_orderkey").cast("long").as("o_orderkey"))
    }),

    // P4 "to-links" through AddLinks.linkMatches: equality link, matches
    // ordered by the link's order_by column (add_links.py:99-157). The item
    // string is projected as the collection payload, so the arrays carry
    // plain strings and the output needs no post-aggregation HOF.
    "p4_add_links_to" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").cast("string").as("uuid"),
        map(lit("o_orderkey"), col("o_orderkey").cast("string")).as("data"))
      // r16: fanOut — the 2-entry map build over the lineitems ran in the
      // one-split scan stage (per-stage profile: one 0.81 s task in a 3-task
      // stage); same measured fix as a6_multiple_link's link payload
      val linked = Tables.fanOut(s, Tables.lineitem(s, dir), dir,
        "lineitem", col("l_orderkey")).select(
        map(lit("l_orderkey"), col("l_orderkey").cast("string"),
          lit("item"), concat_ws(":", col("l_linenumber"), col("l_partkey")))
          .as("data"))
      val link = LinkDef("items", "order", "orders", "lineitem",
        Seq("o_orderkey"), Seq("l_orderkey"), Seq("match"),
        orderByColumn = "item", orderByIsDate = false)
      AddLinks.linkMatches(base, linked, link, alertIdLength = 6,
        payload = Some(d(col("__l_data"), "item")))
        .select(col("uuid").cast("long").as("o_orderkey"),
          size(col("__linked")).cast("long").as("n_links"),
          concat_ws(",", col("__linked")).as("items"))
    }),

    // P4 "alert_match" through AddLinks: linked value == last-N chars of the
    // base record's uuid (add_links.py:79-82), then per-customer rollup.
    "p4_add_links_alert_match" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .filter(length(col("o_orderkey").cast("string")) >= 3)
        .select(col("o_orderkey").cast("string").as("uuid"),
          map(lit("uuid"), col("o_orderkey").cast("string")).as("data"))
      val linked = Tables.customer(s, dir)
        .filter(length(col("c_custkey").cast("string")) === 3)
        .select(map(lit("alert_id"), col("c_custkey").cast("string")).as("data"))
      val link = LinkDef("alert_investigation", "case", "orders", "customer",
        Seq("uuid"), Seq("alert_id"), Seq("alert_match"),
        orderByColumn = "alert_id", orderByIsDate = false)
      AddLinks.linkMatches(base, linked, link, alertIdLength = 3)
        .select(col("uuid").cast("long").as("o_orderkey"),
          explode(col("__linked")).as("m"))
        .select(col("o_orderkey"), d(col("m"), "alert_id").cast("long").as("c_custkey"))
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("o_orderkey")).as("first_match"),
          max(col("o_orderkey")).as("last_match"))
    }),

    // A1 through MultipleAlerts.dailyThreshold.
    "a1_daily_threshold" -> ((s, dir) => {
      MultipleAlerts.dailyThreshold(eventsData(s, dir), "any", 5)
        .select(col("clinic").as("user_id"), col("day"), col("n"),
          concat_ws(",", col("uuids")).as("uuids"))
    }),

    // A2 through MultipleAlerts.weeklyThreshold (international epi weeks).
    "a2_weekly_threshold" -> ((s, dir) => {
      MultipleAlerts.weeklyThreshold(eventsData(s, dir), "any", 20)
        .select(col("clinic").as("user_id"), col("epi_year"), col("epi_week"),
          col("n"), concat_ws(",", col("uuids")).as("uuids"))
    }),

    // A3 through MultipleAlerts.doubleDoubling — the reference spec: three
    // consecutive weeks strictly doubling from >1, missing weeks break the
    // chain, ≥14 cases in a 5-week window around the run. One detector run
    // per alert variable, as the reference loops over its alert list.
    "a3_double_doubling" -> ((s, dir) => {
      // r16: fanOut PROBED AND REJECTED — the paired A/B read
      // 1.21 s without vs 2.69 s with: five detector passes each pay the
      // exchange, and the per-row map build is cheap next to it.
      // r16: the five per-variable detector runs (the reference loops its
      // alert list) collapsed to ONE (var_id, clinic)-keyed joint pass —
      // 5 corpus scans → 1; row set identical (spec-pinned ≡ the
      // unionByName of singles, oracle unchanged).
      MultipleAlerts.doubleDoublingMulti(eventsData(s, dir),
        Seq("click", "error", "purchase", "signup", "view"))
        .select(col("clinic").as("user_id"), col("var_id").as("event_type"),
          col("epi_year"), col("epi_week"), col("n"),
          concat_ws(",", col("uuids")).as("uuids"))
    }),

    // A4 through MultipleAlerts.promote: rep gains the full alert_* key set,
    // others demote to sub-alerts, and EVERY member is enriched from its own
    // raw form record (the data ⋈ form_table join of
    // add_multiple_alerts.py:89-101).
    "a4_alert_representative" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val uuid8 = lpad(col("event_id").cast("string"), 8, "0")
      val data = ev.select(uuid8.as("uuid"), col("user_id").as("clinic"),
        col("ts").as("date"), map(lit("evt"), lit("1")).as("variables"))
      val formDf = ev.select(uuid8.as("uuid"),
        map(lit("value"), col("value").cast("string")).as("data"))
      val alerts = MultipleAlerts.dailyThreshold(data, "evt", 5)
      MultipleAlerts.promote(data, alerts, formDf,
        alertData = Map("value" -> "value"), alertIdLength = 6)
        .filter(map_contains_key(col("variables"), "alert") ||
          map_contains_key(col("variables"), "sub_alert"))
        .select(col("uuid").cast("long").as("event_id"),
          explode(col("variables")).as(Seq("code", "value")))
        .filter(col("code") =!= "evt")
    }),

    // Analytic window-function surface: running totals, ranks, quartiles —
    // the generic per-entity history queries downstream consumers run.
    "q_window_analytics" -> ((s, dir) => {
      val wOrder = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRank = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      Tables.events(s, dir)
        .withColumn("running_value",
          sum(col("value").cast("decimal(18,2)"))
            .over(wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("value_rank", rank().over(wRank))
        .withColumn("quartile", ntile(4).over(wOrder))
        .select(col("event_id"), col("user_id"), col("running_value"),
          col("value_rank"), col("quartile"))
    }),

    // A5: hierarchical population rollup through the SHIPPED
    // Locations.populationRollup (database_setup.py:157-166): Spark
    // aggregates leaf populations (exact cents, so the driver-side Long
    // accumulation is lossless), the config-sized dimension collects to
    // the driver — the reference's rollup is driver-side UPDATEs over the
    // tiny locations table, ours is the same shape — and the accumulated
    // tree is emitted per level for the oracle.
    "a5_population_rollup" -> ((s, dir) => {
      import s.implicits._
      val leafCents = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"))
        .agg((sum(dec(col("c_acctbal"))) * 100).cast("long").as("cents"))
      // inner join: the oracle's customer⋈nation emits only customer-bearing
      // nations (and only regions reached through one), so the gate's output
      // set must match even at SFs where some nation has no customers
      val natRows = Tables.nation(s, dir)
        .join(leafCents, col("n_nationkey") === col("c_nationkey"))
        .select(col("n_nationkey").cast("int"), col("n_name"),
          col("n_regionkey").cast("int"), col("cents"))
        .collect()
      val regRows = Tables.region(s, dir)
        .select(col("r_regionkey").cast("int"), col("r_name")).collect()
      val liveRegions = natRows.map(_.getInt(2)).toSet
      // unique tree ids: regions at 1000+key (roots), nations at 100+key
      val nodes =
        regRows.map(r => LocationNode(1000 + r.getInt(0), r.getString(1),
          "region", 0)).toSeq ++
        natRows.map(r => LocationNode(100 + r.getInt(0), r.getString(1),
          "nation", 1000 + r.getInt(2), population = Some(r.getLong(3))))
      val rolled = Locations.populationRollup(nodes)
      nodes.filter(nd => nd.level == "nation" ||
          liveRegions(nd.id - 1000))
        .map(nd => (nd.level, nd.name, rolled.getOrElse(nd.id, 0L) / 100.0))
        .toDF("level", "name", "pop")
    }),

    // A6: multiple_link aggregation over linked rows — count / any / all /
    // first / last (codes/to_codes.py:217-242) — through the REAL machinery:
    // AddLinks attaches the ordered links array, ToCodes evaluates link
    // codes with their multiple_link methods over it.
    "a6_multiple_link" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").cast("string").as("uuid"),
        map(lit("o_orderkey"), col("o_orderkey").cast("string")).as("data"))
      // sort_key zero-pads (linenumber, partkey) so the link's lexical
      // order_by equals numeric order — first/last match min_by/max_by.
      // r16: fanOut — the 5-entry map build over 600k rows ran in the
      // one-split scan stage (Tables.fanOut; measured 4.30→2.47 s)
      val linked = Tables.fanOut(s, Tables.lineitem(s, dir), dir,
        "lineitem", col("l_orderkey")).select(map(
        lit("l_orderkey"), col("l_orderkey").cast("string"),
        lit("l_partkey"), col("l_partkey").cast("string"),
        lit("l_discount"), col("l_discount").cast("string"),
        lit("l_shipdate"), col("l_shipdate").cast("string"),
        lit("sort_key"), concat(
          lpad(col("l_linenumber").cast("string"), 3, "0"),
          lpad(col("l_partkey").cast("string"), 10, "0"))).as("data"))
      val link = LinkDef("items", "order", "orders", "lineitem",
        Seq("o_orderkey"), Seq("l_orderkey"), Seq("match"),
        orderByColumn = "sort_key", orderByIsDate = false)
      val codes = Seq(
        CodeDef(id = "n_links", form = "lineitem",
          multipleLink = Some("count"), method = "not_null",
          condition = "None", dbColumn = "l_partkey"),
        CodeDef(id = "any_high_disc", form = "lineitem",
          multipleLink = Some("any"), method = "between",
          condition = "0.05,2", calculation = "l_discount",
          dbColumn = "l_discount"),
        // all lineitems shipped in [1992-01-01, 1997-01-01), via
        // Variable.to_date epoch seconds (international policy -> unix)
        CodeDef(id = "all_early", form = "lineitem",
          multipleLink = Some("all"), method = "between",
          condition = "694224000,852076800",
          calculation = "Variable.to_date(l_shipdate)",
          dbColumn = "l_shipdate"),
        CodeDef(id = "first_part", form = "lineitem",
          multipleLink = Some("first"), method = "value",
          condition = "None", dbColumn = "l_partkey"),
        CodeDef(id = "last_part", form = "lineitem",
          multipleLink = Some("last"), method = "value",
          condition = "None", dbColumn = "l_partkey"))
      // all five multiple_link methods pre-aggregate inside AddLinks
      // (bool_or/bool_and/count/min_by/max_by at link-build time); ToCodes
      // consumes them as plain columns, so the link arrays are never needed
      // — collectArrays=false makes the link step one partial-aggregated
      // shuffle with no window, no sort, no map payloads
      val withLinks = AddLinks(base, Map("lineitem" -> linked), Seq(link),
        alertIdLength = 6, linkCodes = codes, policy = EpiWeek.International,
        collectArrays = false)
      // rows where the count code fires ≡ rows with ≥1 linked match; the
      // pre-agg column says so directly — filtering before ToCodes avoids
      // re-evaluating the whole variables map inside the Filter
      val coded = ToCodes(withLinks.filter(col("__lc_n_links").isNotNull),
        codes,
        new graft.functions.MapResolver(col("data")),
        policy = EpiWeek.International,
        linkedForms = Set("lineitem"))
      val vars = col("variables")
      coded
        .select(d(col("data"), "o_orderkey").cast("long").as("o_orderkey"),
          element_at(vars, "n_links").cast("long").as("n_links"),
          map_contains_key(vars, "any_high_disc").as("any_high_disc"),
          map_contains_key(vars, "all_early").as("all_early"),
          element_at(vars, "first_part").cast("long").as("first_part"),
          element_at(vars, "last_part").cast("long").as("last_part"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "p1_quality_control" ->
      """SELECT event_id, user_id, event_type,
        |  CASE WHEN value >= 0 AND value < 500 THEN value ELSE NULL END AS value_r
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-03'
        |  AND event_type <> 'signup'
        |  AND event_id NOT IN (SELECT event_id FROM events WHERE event_id % 101 = 0)
        |ORDER BY event_id""".stripMargin,

    "p2_initial_visit_control" ->
      """SELECT event_id, user_id, event_type,
        |  CASE WHEN row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
        |       THEN 'new' ELSE 'return' END AS visit
        |FROM events ORDER BY event_id""".stripMargin,

    "p3_to_data_type" ->
      """SELECT * FROM (
        |  SELECT 'urgent' AS type, o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT 'low' AS type, o_orderkey FROM orders WHERE o_orderpriority = '5-LOW'
        |  UNION ALL
        |  SELECT 'all_orders' AS type, o_orderkey FROM orders)
        |ORDER BY type, o_orderkey""".stripMargin,

    "p4_add_links_to" ->
      """SELECT o_orderkey, count(*) AS n_links,
        |  string_agg(CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR), ','
        |             ORDER BY CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)) AS items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "p4_add_links_alert_match" ->
      """SELECT c_custkey, count(*) AS n_matches,
        |  min(o_orderkey) AS first_match, max(o_orderkey) AS last_match
        |FROM customer
        |JOIN orders ON CAST(c_custkey AS VARCHAR) = right(CAST(o_orderkey AS VARCHAR), 3)
        |WHERE length(CAST(c_custkey AS VARCHAR)) = 3
        |  AND length(CAST(o_orderkey AS VARCHAR)) >= 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "a1_daily_threshold" ->
      """SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY CAST(event_id AS VARCHAR)) AS uuids
        |FROM events GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY 1, 2""".stripMargin,

    "a2_weekly_threshold" ->
      """SELECT user_id,
        |  CAST(year(ts) AS INT) AS epi_year,
        |  CAST((dayofyear(ts) - 1) // 7 + 1 AS INT) AS epi_week,
        |  count(*) AS n,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY CAST(event_id AS VARCHAR)) AS uuids
        |FROM events GROUP BY 1, 2, 3 HAVING count(*) >= 20
        |ORDER BY 1, 2, 3""".stripMargin,

    // Reference double_double (add_multiple_alerts.py:255-358): weekly counts
    // on a 52-week axis, densified so missing weeks count 0; run = three
    // consecutive weeks with count(w)>1 and two >=2x doublings; >=14 total in
    // a 5-week window centered on one of the run weeks.
    "a3_double_doubling" ->
      """WITH weekly AS (
        |  SELECT user_id, event_type,
        |    CAST(year(ts) AS BIGINT) * 52 + CAST((dayofyear(ts)-1)//7 + 1 AS BIGINT) - 1 AS wk,
        |    count(*) AS n,
        |    string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY CAST(event_id AS VARCHAR)) AS uuids
        |  FROM events GROUP BY 1, 2, 3),
        |bounds AS (SELECT user_id, event_type, min(wk) AS lo, max(wk) AS hi FROM weekly GROUP BY 1, 2),
        |dense AS (SELECT user_id, event_type, unnest(generate_series(lo, hi)) AS wk FROM bounds),
        |j AS (SELECT d.user_id, d.event_type, d.wk, coalesce(w.n, 0) AS n0, w.n, w.uuids
        |      FROM dense d LEFT JOIN weekly w
        |        ON d.user_id = w.user_id AND d.event_type = w.event_type AND d.wk = w.wk),
        |l AS (SELECT *,
        |    lag(n0, 1, 0) OVER win AS l1, lag(n0, 2, 0) OVER win AS l2,
        |    lag(n0, 3, 0) OVER win AS l3, lag(n0, 4, 0) OVER win AS l4,
        |    lead(n0, 1, 0) OVER win AS f1, lead(n0, 2, 0) OVER win AS f2
        |  FROM j WINDOW win AS (PARTITION BY user_id, event_type ORDER BY wk))
        |SELECT user_id, event_type,
        |  CAST(wk // 52 AS INT) AS epi_year, CAST(wk % 52 + 1 AS INT) AS epi_week,
        |  n, uuids
        |FROM l
        |WHERE l2 > 1 AND l1 >= 2*l2 AND n0 >= 2*l1
        |  AND (l4+l3+l2+l1+n0 >= 14 OR l3+l2+l1+n0+f1 >= 14 OR l2+l1+n0+f1+f2 >= 14)
        |ORDER BY 1, 2, 3, 4""".stripMargin,

    // Reference representative promotion incl. the form-table enrichment:
    // rep = lexicographically-smallest member uuid; rep gains alert/alert_type/
    // alert_duration/alert_reason/alert_id; others sub_alert+master_alert;
    // everyone gains alert_value from their own form record.
    "a4_alert_representative" ->
      """WITH g AS (
        |  SELECT lpad(CAST(event_id AS VARCHAR), 8, '0') AS uuid, event_id, user_id,
        |         CAST(ts AS DATE) AS day, CAST(value AS VARCHAR) AS val
        |  FROM events),
        |grp AS (
        |  SELECT *, count(*) OVER w AS n, min(uuid) OVER w AS rep
        |  FROM g WINDOW w AS (PARTITION BY user_id, day))
        |SELECT event_id, code, value FROM (
        |  SELECT event_id, 'alert' AS code, '1' AS value FROM grp WHERE n >= 5 AND uuid = rep
        |  UNION ALL SELECT event_id, 'alert_type', 'threshold' FROM grp WHERE n >= 5 AND uuid = rep
        |  UNION ALL SELECT event_id, 'alert_duration', '1' FROM grp WHERE n >= 5 AND uuid = rep
        |  UNION ALL SELECT event_id, 'alert_reason', 'evt' FROM grp WHERE n >= 5 AND uuid = rep
        |  UNION ALL SELECT event_id, 'alert_id', right(uuid, 6) FROM grp WHERE n >= 5 AND uuid = rep
        |  UNION ALL SELECT event_id, 'alert_value', val FROM grp WHERE n >= 5
        |  UNION ALL SELECT event_id, 'sub_alert', '1' FROM grp WHERE n >= 5 AND uuid <> rep
        |  UNION ALL SELECT event_id, 'master_alert', rep FROM grp WHERE n >= 5 AND uuid <> rep)
        |ORDER BY 1, 2, 3""".stripMargin,

    "q_window_analytics" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        |  CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS value_rank,
        |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS quartile
        |FROM events ORDER BY event_id""".stripMargin,

    "a5_population_rollup" ->
      """SELECT * FROM (
        |  SELECT 'nation' AS level, n_name AS name,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS pop
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'region' AS level, r_name AS name,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS pop
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 2)
        |ORDER BY level, name""".stripMargin,

    "a6_multiple_link" ->
      """SELECT o_orderkey, count(*) AS n_links,
        |  bool_or(l_discount >= 0.05 AND l_discount < 2) AS any_high_disc,
        |  bool_and(l_shipdate >= DATE '1992-01-01' AND l_shipdate < DATE '1997-01-01') AS all_early,
        |  min_by(l_partkey, lpad(CAST(l_linenumber AS VARCHAR), 3, '0')
        |         || lpad(CAST(l_partkey AS VARCHAR), 10, '0')) AS first_part,
        |  max_by(l_partkey, lpad(CAST(l_linenumber AS VARCHAR), 3, '0')
        |         || lpad(CAST(l_partkey AS VARCHAR), 10, '0')) AS last_part
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
