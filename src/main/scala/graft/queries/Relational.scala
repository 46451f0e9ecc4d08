package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Headline relational queries over the TPC-H-ish testdata.
  *
  * These exercise the canonical query pattern the reference's downstream
  * consumers run over the `data` table — membership filter + group-by counts
  * (docs/source/index.rst:75-77) — at TPC-H shape, plus the join/broadcast
  * paths every pipeline step relies on.
  *
  * Numeric discipline for oracle parity: aggregate in DECIMAL (exact,
  * order-insensitive), cast to DOUBLE only at the very end. Double sums would
  * differ in ulps between Spark and DuckDB because accumulation order differs.
  */
object Relational extends QueryPack {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> ((s, dir) => {
      // r16: fanOut — the decimal-arithmetic partial aggregation fused
      // into a ONE-split scan stage (Tables.fanOut; measured 1.49→0.98 s)
      val li = Tables.fanOut(s, Tables.lineitem(s, dir), dir, "lineitem",
        col("l_orderkey"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    "q3_top_orders" -> ((s, dir) => {
      val cutoff = lit("1998-01-01").cast("timestamp")
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord  = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
      val li   = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
      // customer is tiny at every SF relative to lineitem: broadcast it so the
      // big fact table never shuffles for this dimension filter.
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H q7 shape: bidirectional nation-pair volume with a year rollup —
    // the two-dimension-role join (supplier nation ≠ customer nation) plus
    // date bucketing. The nation-pair restriction is pushed INTO the dims:
    // suppliers/customers outside the two nations die at their (broadcast)
    // dimension joins, so the fact join builds ~8% of the rows the
    // filter-after-five-joins formulation built; with both roles restricted
    // to the two nations, the pair predicate reduces to inequality.
    "q7_nation_volume" -> ((s, dir) => {
      val nations = Seq("NATION_20", "NATION_11")
      val n1 = broadcast(Tables.nation(s, dir)
        .filter(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(s, dir)
        .filter(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      val sup = broadcast(Tables.supplier(s, dir)
        .join(n1, col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation")))
      val cust = Tables.customer(s, dir)
        .join(n2, col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      li.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("int").as("l_year"))
        .agg(sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"))
    }),

    // TPC-H q5 shape: the deep join chain with dimension broadcasts — the
    // plan every serious fact-table query at 100 TB reduces to.
    "q5_local_supplier" -> ((s, dir) => {
      val cutoffLo = lit("1996-01-01").cast("timestamp")
      val cutoffHi = lit("1998-01-01").cast("timestamp")
      val r = broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA"))
      val n = broadcast(Tables.nation(s, dir))
      val sup = broadcast(Tables.supplier(s, dir))
      val cust = Tables.customer(s, dir)
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= cutoffLo && col("o_orderdate") < cutoffHi)
      val li = Tables.lineitem(s, dir)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"))
    }),

    // ROLLUP/CUBE — grouping-set aggregations the reference lacks entirely
    // (bonus surface for downstream dashboards).
    "q_rollup" -> ((s, dir) => {
      // r16: fanOut — the 3-grouping-set partial aggregation (decimal
      // sums) fused into the one-split scan (per-stage profile: one 0.92 s
      // task); spread it before the rollup
      Tables.fanOut(s, Tables.lineitem(s, dir), dir, "lineitem",
          col("l_orderkey"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
    }),

    "q_cube" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    }),

    "q_region_rollup" -> ((s, dir) => {
      // Dimension join chain: region and nation are broadcast (tiny at any
      // scale); only customer streams.
      val r = broadcast(Tables.region(s, dir))
      val n = broadcast(Tables.nation(s, dir))
      Tables.customer(s, dir)
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
             sum(dec(col("c_acctbal"))).cast("double").as("sum_acctbal"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND ((n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
        |    OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,

    "q_region_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
