package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.config.CodeDef

/** The dashboard reads: a seeded mix of the queries a surveillance
  * dashboard runs against the `data` store, each opened fresh (a live
  * store changes between reads) and collected in full. */
object Dashboard extends AdaptiveSparkPlanHelper {

  sealed trait Query { def kind: String }
  /** variable-membership counts per clinic and epi week (the
    * canonical_aggregation shape) */
  final case class Membership(variable: String) extends Query { val kind = "membership" }
  final case class Categories(category: String) extends Query { val kind = "categories" }
  final case class AlertList() extends Query { val kind = "alerts" }
  final case class ClinicSeries(clinic: Int) extends Query { val kind = "clinic_series" }

  /** `n` queries in fixed shares (4 membership : 2 category : 2 alert
    * listing : 2 clinic series), their parameters and order drawn from
    * `rnd`; fixed shares keep the latency percentiles comparable across
    * seeds. */
  def mix(rnd: scala.util.Random, codes: Seq[CodeDef], clinics: Seq[Int],
          n: Int): Seq[Query] = {
    val vars = codes.filter(c => c.typ != "register" && c.multipleLink.isEmpty)
      .map(_.id).sorted
    val cats = codes.flatMap(_.category).distinct.sorted
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    rnd.shuffle((0 until n).map { i =>
      i % 10 match {
        case k if k < 4 => Membership(pick(vars))
        case k if k < 6 => Categories(pick(cats))
        case k if k < 8 => AlertList()
        case _          => ClinicSeries(pick(clinics))
      }
    })
  }

  def frame(data: DataFrame, q: Query): DataFrame = q match {
    case Membership(v) =>
      data.filter(map_contains_key(col("variables"), v))
        .groupBy(col("clinic"), col("epi_year"), col("epi_week"))
        .agg(count(lit(1)).as("n"))
    case Categories(c) =>
      data.filter(map_contains_key(col("categories"), c))
        .groupBy(col("type"), element_at(col("categories"), c).as("code"))
        .agg(count(lit(1)).as("n"))
    case AlertList() =>
      data.filter(element_at(col("variables"), "alert") === "1")
        .select(col("uuid"), col("type"), col("clinic"), col("date"),
          element_at(col("variables"), "alert_reason").as("reason"))
        .orderBy(col("date").desc, col("uuid"))
        .limit(200)
    case ClinicSeries(clinic) =>
      data.filter(col("clinic") === clinic)
        .groupBy(col("type"), col("date"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("type"), col("date"))
  }

  final case class Read(latencyS: Double, rows: Int, filesRead: Long)

  /** Run one query against the store at `path`. */
  def run(spark: SparkSession, path: String, q: Query): Read = {
    val t = System.nanoTime()
    val df = frame(spark.read.parquet(path), q)
    val rows = df.collect().length
    val latency = (System.nanoTime() - t) / 1e9
    val files = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    Read(latency, rows, files)
  }
}
