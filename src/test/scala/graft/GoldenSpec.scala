package graft

import org.apache.spark.sql.{CacheProbe, Column, DataFrame}
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every `SparkEntry.queries` gate at sf0.001 against its committed golden
  * row: row count, a hash of the schema's names and types, and an
  * order-independent content hash, so an operator that drifts fails here
  * offline, without DuckDB.
  *
  * On a mismatch the failure message prints the whole observed table in
  * the golden file's format. Change a golden only with a reason in
  * CHANGES.md.
  *
  * The same pass pins that no gate's plan ends in a global sort (a `Sort`
  * over a range-partitioning exchange): gate row order is unspecified, and
  * a root range sort costs a sampling job and an exchange that no consumer
  * reads, and that no gate leaves an entry in the session's cache: a gate
  * owns its intermediates, so nothing outlives the frame it returns. */
class GoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val Dir = "/root/testdata/sf0.001"
  private val GoldenFile = "src/test/resources/golden/sf0.001.csv"

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloat(et)
    case MapType(_, vt, _) => hasFloat(vt)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  /** Doubles and floats, also nested ones, rounded to 9 significant digits
    * and rendered as text; everything else unchanged. */
  private def rounded(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case _ if !hasFloat(t) => c
    case ArrayType(et, _) => transform(c, x => rounded(x, et))
    case MapType(_, vt, _) => transform_values(c, (_, v) => rounded(v, vt))
    case StructType(fs) => when(c.isNotNull,
      struct(fs.map(f => rounded(c.getField(f.name), f.dataType).as(f.name)): _*))
  }

  /** (rows, wrapping sum of xxhash64 over each row's JSON rendering): equal
    * for equal row multisets, in any order. Unlike perfbench's
    * `CurationGates.fingerprint`, it rounds nested doubles too. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val row = to_json(struct(df.schema.fields.map(f =>
      rounded(col(s"`${f.name}`"), f.dataType).as(f.name)).toIndexedSeq: _*))
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(row)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def schemaHash(df: DataFrame): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(df.schema.catalogString)}%08x"

  private def endsInGlobalSort(plan: SparkPlan): Boolean = plan match {
    case a: AdaptiveSparkPlanExec => endsInGlobalSort(a.inputPlan)
    case w: WholeStageCodegenExec => endsInGlobalSort(w.child)
    case p: ProjectExec => endsInGlobalSort(p.child)
    case s: SortExec => s.global
    case _ => false
  }

  /** What one gate's pass observed: its golden line, whether its plan
    * ends in a global sort, and how many cache entries it left behind. */
  private final class Observed(val line: String, val globalSort: Boolean,
                               val cacheEntries: Int)

  /** One pass over every gate. A gate that throws gets the line
    * `name,error,<message>`, so it shows as an ordinary mismatch and the
    * rest of the table still prints. The cache is cleared only after its
    * entries are counted, so each gate is charged only its own. */
  private lazy val observed: Map[String, Observed] = {
    spark.catalog.clearCache()
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (line, sorted) = try {
        val df = fn(spark, Dir)
        val (rows, hash) = fingerprint(df)
        s"$name,$rows,${schemaHash(df)},$hash" ->
          endsInGlobalSort(df.queryExecution.executedPlan)
      } catch {
        case e: Exception =>
          s"$name,error,${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}" -> false
      }
      val entries = CacheProbe.entries(spark)
      spark.catalog.clearCache()
      name -> new Observed(line, sorted, entries)
    }.toMap
  }

  private val Header = "gate,rows,schema,hash"

  test("every gate matches its sf0.001 golden (rows, schema, content hash)") {
    val src = scala.io.Source.fromURL(
      getClass.getResource(GoldenFile.stripPrefix("src/test/resources")), "UTF-8")
    val golden = try src.getLines().drop(1).filter(_.nonEmpty).toSeq
      .map(l => l.takeWhile(_ != ',') -> l).toMap finally src.close()
    val table = (Header +: observed.toSeq.sortBy(_._1).map(_._2.line)).mkString("\n")
    val diffs = (golden.keySet ++ observed.keySet).toSeq.sorted.flatMap { g =>
      val want = golden.getOrElse(g, "(no golden)")
      val got = observed.get(g).map(_.line).getOrElse("(no gate)")
      if (want == got) None else Some(s"  golden:   $want\n  observed: $got")
    }
    if (diffs.nonEmpty)
      fail(s"${diffs.size} gates differ from $GoldenFile:\n${diffs.mkString("\n")}\n" +
        s"observed table:\n$table\n")
  }

  test("no gate's plan ends in a global sort") {
    val sorted = observed.collect { case (g, o) if o.globalSort => g }.toSeq.sorted
    if (sorted.nonEmpty) fail(s"gates ending in a global sort: ${sorted.mkString(", ")}")
  }

  test("no gate leaves a cache entry") {
    val leaks = observed.collect { case (g, o) if o.cacheEntries > 0 =>
      s"$g (${o.cacheEntries})" }.toSeq.sorted
    if (leaks.nonEmpty) fail(s"gates leaving cache entries: ${leaks.mkString(", ")}")
  }
}
