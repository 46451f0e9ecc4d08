package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.EpiWeek
import graft.functions.EpiWeek._

/** Gate queries for the epi-week function family (SURVEY.md §2.5,
  * reference util/epi_week.py). Exercised over `orders.o_orderdate`
  * (1995-2001 — spans year boundaries and week-53 years).
  */
object EpiQueries extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Policy "international": epi year starts Jan 1, week53 left as-is.
    "epi_week_international" -> ((s, dir) => {
      val yw = EpiWeek.epiYearWeek(col("o_orderdate"), International, LeaveAsIs)
      Tables.orders(s, dir)
        .select(yw.getField("epi_year").as("epi_year"),
                yw.getField("epi_week").as("epi_week"))
        .groupBy(col("epi_year"), col("epi_week"))
        .agg(count(lit(1)).as("n"))
    }),

    // Policy "international" + week-53 strategy include_in_1: week 53 rolls
    // into week 1 of the next epi year (epi_week.py:33-41).
    "epi_week_include_in_1" -> ((s, dir) => {
      val yw = EpiWeek.epiYearWeek(col("o_orderdate"), International, IncludeIn1)
      Tables.orders(s, dir)
        .select(yw.getField("epi_year").as("epi_year"),
                yw.getField("epi_week").as("epi_week"))
        .groupBy(col("epi_year"), col("epi_week"))
        .agg(count(lit(1)).as("n"))
    }),

    // Same policy with include_in_52: week 53 folds back into week 52 of
    // the same epi year (epi_week.py:33-41).
    "epi_week_include_in_52" -> ((s, dir) => {
      val yw = EpiWeek.epiYearWeek(col("o_orderdate"), International, IncludeIn52)
      Tables.orders(s, dir)
        .select(yw.getField("epi_year").as("epi_year"),
                yw.getField("epi_week").as("epi_week"))
        .groupBy(col("epi_year"), col("epi_week"))
        .agg(count(lit(1)).as("n"))
    }),

    // Policy "day:6" (epi year starts the first Sunday on/after Jan 1) with
    // the epi_week_start_date roundtrip as an extra column.
    "epi_week_day_policy" -> ((s, dir) => {
      val pol = StartDay(6)
      val yw = EpiWeek.epiYearWeek(col("o_orderdate"), pol, LeaveAsIs)
      Tables.orders(s, dir)
        .select(yw.getField("epi_year").as("epi_year"),
                yw.getField("epi_week").as("epi_week"))
        .groupBy(col("epi_year"), col("epi_week"))
        .agg(count(lit(1)).as("n"))
        .withColumn("week_start",
          EpiWeek.weekStartDate(col("epi_year"), col("epi_week"), pol))
    })
  )

  override def oracles: Map[String, String] = Map(
    "epi_week_international" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS epi_year,
        |  CAST((dayofyear(o_orderdate) - 1) // 7 + 1 AS INT) AS epi_week,
        |  count(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "epi_week_include_in_1" ->
      """WITH raw AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS y,
        |    CAST((dayofyear(o_orderdate) - 1) // 7 + 1 AS INT) AS w
        |  FROM orders)
        |SELECT CASE WHEN w >= 53 THEN y + 1 ELSE y END AS epi_year,
        |  CASE WHEN w >= 53 THEN 1 ELSE w END AS epi_week,
        |  count(*) AS n
        |FROM raw GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "epi_week_include_in_52" ->
      """WITH raw AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS y,
        |    CAST((dayofyear(o_orderdate) - 1) // 7 + 1 AS INT) AS w
        |  FROM orders)
        |SELECT y AS epi_year,
        |  CASE WHEN w = 53 THEN 52 ELSE w END AS epi_week,
        |  count(*) AS n
        |FROM raw GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "epi_week_day_policy" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS dt FROM orders),
        |s1 AS (SELECT dt,
        |  make_date(CAST(year(dt) AS INT), 1, 1)
        |    + to_days(CAST((6 - ((dayofweek(make_date(CAST(year(dt) AS INT), 1, 1)) + 6) % 7) + 7) % 7 AS INT)) AS ys
        |  FROM d),
        |s2 AS (SELECT dt,
        |  CAST(CASE WHEN dt < ys THEN year(dt) - 1 ELSE year(dt) END AS INT) AS ey
        |  FROM s1),
        |s3 AS (SELECT dt, ey,
        |  make_date(ey, 1, 1)
        |    + to_days(CAST((6 - ((dayofweek(make_date(ey, 1, 1)) + 6) % 7) + 7) % 7 AS INT)) AS eys
        |  FROM s2)
        |SELECT ey AS epi_year,
        |  CAST(date_diff('day', eys, dt) // 7 + 1 AS INT) AS epi_week,
        |  count(*) AS n,
        |  CAST(min(eys) + to_days((CAST(date_diff('day', eys, dt) // 7 + 1 AS INT) - 1) * 7) AS DATE) AS week_start
        |FROM s3 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
