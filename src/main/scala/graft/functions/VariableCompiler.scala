package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.EpiWeek.YearStartPolicy

/** The reference's permissive date handling (codes/variable.py:233-249,
  * 321-380) as Catalyst columns: the format ladder ([[parseDate]]),
  * `Variable.to_date` seconds ([[toDateSeconds]]) and the value method's
  * ISO string ([[isoDate]]). The code rules themselves compile into a
  * [[CatalogProgram]]; these are the typed leaves it reads.
  */
object VariableCompiler {

  /** Reference's permissive date-format ladder (variable.py:370-380) as Spark
    * datetime patterns, plus the SubmissionDate helper format
    * (util/datetime_helper.py:1-8). */
  val dateFormats: Seq[String] = Seq(
    "yyyy-MM-dd",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    "MMM d, yyyy",
    "d-MMM-yyyy",
    "d-MMM-yyyy h:mm:ss",
    "d-MMM-yyyy H:mm:ss",
    "MMM d, yyyy h:mm:ss a"
  )

  /** Shape regex per format, so the parse is DISPATCHED instead of tried:
    * a failed `try_to_timestamp` is exception-driven (~µs each), and a
    * coalesce ladder pays one failure per preceding format on EVERY value —
    * the dominant cost of date-heavy columns at corpus scale. One cheap
    * compiled-regex probe per shape picks the single parser to run.
    *
    * Parser per branch: the offset-free ISO shapes parse via Spark's native
    * string→timestamp/date CAST (a hand-written UTF8String parser, ~3×
    * faster than the DateTimeFormatter behind `try_to_timestamp` —
    * measured 1.7 s of a 2.6 s link-aggregation stage at sf0.1). A bare
    * cast-first design would be WRONG — cast accepts strings the ladder
    * must reject ("2020" parses as a year, but `Variable.to_date` must
    * fall through to its numeric value) — so the cast runs only inside a
    * shape branch whose regex admits exactly the strings the original
    * format parses; within a branch, cast and formatter agree (both null
    * out impossible dates non-ANSI). The exotic textual-month shapes keep
    * `try_to_timestamp`; the h/H ambiguity (12h vs 24h clock, same textual
    * shape) keeps the reference's h-then-H order inside its shape branch. */
  private val dateShapes: Seq[(String, Column => Column)] = {
    def fmt(fmts: String*): Column => Column =
      raw =>
        if (fmts.length == 1) try_to_timestamp(raw, lit(fmts.head))
        else coalesce(fmts.map(f => try_to_timestamp(raw, lit(f))): _*)
    def castTs: Column => Column = _.cast("timestamp")
    Seq(
      "^\\d{4}-\\d{2}-\\d{2}$" -> ((raw: Column) =>
        raw.cast("date").cast("timestamp")),
      "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}$" -> castTs,
      "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$" -> castTs,
      "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{6}$" -> castTs,
      // NOT cast: the reference's format quotes Z as a LITERAL (naive
      // parse in session time), while cast would read it as a UTC offset —
      // identical only in UTC sessions, so keep the formatter's contract
      "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{6}Z$" ->
        fmt("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
      "^[A-Za-z]{3} \\d{1,2}, \\d{4}$" -> fmt("MMM d, yyyy"),
      "^\\d{1,2}-[A-Za-z]{3}-\\d{4}$" -> fmt("d-MMM-yyyy"),
      "^\\d{1,2}-[A-Za-z]{3}-\\d{4} \\d{1,2}:\\d{2}:\\d{2}$" ->
        fmt("d-MMM-yyyy h:mm:ss", "d-MMM-yyyy H:mm:ss"),
      "^[A-Za-z]{3} \\d{1,2}, \\d{4} \\d{1,2}:\\d{2}:\\d{2} [AaPp][Mm]$" ->
        fmt("MMM d, yyyy h:mm:ss a")
    )
  }

  /** Best-effort timestamp parse over the format ladder; null if no format
    * fits. Semantics identical to coalescing try_to_timestamp over
    * [[dateFormats]] (each shape regex admits exactly the strings its
    * format parses). */
  def parseDate(raw: Column): Column = {
    dateShapes.tail.foldLeft(
      when(raw.rlike(dateShapes.head._1), dateShapes.head._2(raw))) {
      case (acc, (shape, parse)) => acc.when(raw.rlike(shape), parse(raw))
    }
  }

  /** `Variable.to_date` (variable.py:321-367): date string → seconds since the
    * epi epoch (first epi-week-start weekday after 1970-01-01); non-date
    * values pass through as their numeric value. */
  def toDateSeconds(raw: Column, policy: YearStartPolicy): Column =
    toDateSecondsOf(parseDate(raw), raw, policy)

  /** As `toDateSeconds`, with the parse supplied by the caller (a
    * pre-projected parse at catalog scale). */
  def toDateSecondsOf(parsed: Column, raw: Column,
                      policy: YearStartPolicy): Column = {
    // Reference epi_offset = (4 + start_weekday) % 7 days (variable.py:346-357):
    // days from the epoch (Thu 1970-01-01) to the first epi-week-start weekday.
    // "international" starts years on Jan 1, so the offset is 0 there.
    val off = policy match {
      case EpiWeek.International => 0L
      case EpiWeek.StartDay(w)   => ((4 + w) % 7).toLong * 86400L
      case _: EpiWeek.Custom     => 0L // no epoch notion for custom configs
    }
    when(parsed.isNotNull, (unix_timestamp(parsed) - off).cast("double"))
      .otherwise(raw.cast("double"))
  }

  /** A parsed date as the value method's ISO string (variable.py:233-249). */
  def isoDate(parsed: Column): Column = date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss")
}
