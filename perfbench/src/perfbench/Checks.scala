package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.DataWriter

/** Output checks. Every expectation is computed by a path independent of
  * the program's operators (plain filters and group-bys over the raw
  * inputs or the written output) and holds for any seed. */
object Checks {

  /** Differences between two row multisets, as a problem line or None. */
  def diff(what: String, expected: DataFrame, actual: DataFrame): Option[String] =
    if (fingerprint(expected) == fingerprint(actual)) None
    else {
      val missing = expected.exceptAll(actual)
      val extra = actual.exceptAll(expected)
      Some(s"$what: ${missing.count()} expected rows missing " +
        s"(e.g. ${missing.take(3).mkString(" ")}), ${extra.count()} unexpected rows " +
        s"(e.g. ${extra.take(3).mkString(" ")})")
    }

  /** Row count and wrapping sum of a 64-bit hash of every row: equal for
    * equal multisets, in any order. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def hasParquet(path: String): Boolean =
    Files.dataFiles(new File(path)).exists(_.getName.endsWith(".parquet"))

  /** A written store, or an empty frame with `like`'s schema when the
    * writer produced no files (an empty output). */
  def store(spark: SparkSession, path: String, like: DataFrame): DataFrame =
    if (hasParquet(path)) spark.read.parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], like.schema)

  def rawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** Problems in a recompute's outputs: the `data` ∪ `disregarded` rows
    * against the plain-filter recompute from the raw forms, and the
    * threshold alert rows against a plain group-by on written `data`. */
  def batch(spark: SparkSession, in: BatchRecompute.Inputs, cfg: Fixtures.Config,
            out: BatchRecompute.Outputs): Seq[String] = {
    val data = spark.read.parquet(out.data)
    val disregarded = store(spark, out.disregarded, data)
    val keys = Seq(col("uuid"), col("type"))
    val actual = data.select(keys :+ lit("data").as("store"): _*)
      .unionByName(disregarded.select(keys :+ lit("disregarded").as("store"): _*))
    val expected = Fixtures.expectedCaseKeys(rawCsv(spark, in.form("demo_case")), cfg)
      .unionByName(Fixtures.expectedRegisterKeys(rawCsv(spark, in.form("demo_register")), cfg))
      .select("uuid", "type", "store")

    val alerts = spark.read.parquet(out.alerts)
    val has = (v: String) => map_contains_key(col("variables"), v)
    val alertChecks = cfg.multiAlerts.filter(_.alertType == "threshold").flatMap { a =>
      val daily = data.filter(has(a.varId))
        .groupBy(col("clinic"), to_date(col("date")).as("day"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= a.limits(0))
      val weekly = data.filter(has(a.varId))
        .groupBy(col("clinic"), col("epi_year"), col("epi_week"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= a.limits(1))
      val mine = alerts.filter(col("var_id") === a.varId)
      Seq(
        diff(s"daily threshold alerts ${a.varId}", daily,
          mine.filter(col("duration") === 1).select("clinic", "day", "n")),
        diff(s"weekly threshold alerts ${a.varId}", weekly,
          mine.filter(col("duration") === 7 && col("day").isNull)
            .select("clinic", "epi_year", "epi_week", "n")))
    }

    (diff("data/disregarded (uuid, type)", expected, actual) +: alertChecks).flatten
  }

  /** The rows `FormSource.csv` delivers must be the rows generated. */
  def sources(spark: SparkSession, in: BatchRecompute.Inputs): (Long, Option[String]) = {
    val generated = BatchRecompute.CaseRows + BatchRecompute.AlertRows +
      BatchRecompute.RegisterRows
    val rowsIn = BatchRecompute.forms(spark, in).values.map(_.count()).sum
    (rowsIn, if (rowsIn == generated) None
             else Some(s"sources delivered $rowsIn rows, generator wrote $generated"))
  }

  /** Corrupt a written store on purpose: rewrite it without one row. */
  def dropOneRow(spark: SparkSession, path: String): Unit = {
    val df = spark.read.parquet(path)
    val victim = df.select("uuid").orderBy("uuid").head().getString(0)
    val tmp = path + "_dropped"
    DataWriter.write(df.filter(col("uuid") =!= victim), tmp)
    Files.rm(new File(path))
    new File(tmp).renameTo(new File(path))
    System.err.println(s"dropped output row uuid=$victim from $path")
  }
}
