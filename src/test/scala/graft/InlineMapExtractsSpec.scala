package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, CaseWhen,
  CreateMap, ElementAt, Expression, GetMapValue, MapConcat, MapFromEntries}
import org.apache.spark.sql.functions._
import graft.plans.InlineMapExtracts
import graft.sources.FormSource

/** The InlineMapExtracts planner rule: literal-key extractions over
  * literal-keyed map adapters must be resolved statically (no CreateMap
  * left in the optimized plan) without changing results — including the
  * cross-projection case where the inlined value expressions reference
  * scan attributes the child projection didn't output (the p2 regression:
  * pass-through attributes must be added, or analysis fails with
  * ATTRIBUTE_NOT_FOUND at execution). The raw-form shapes — FormSource's
  * null-dropping `map_from_entries`, QC's map-valued `CASE WHEN` repair and
  * its `map_concat` — resolve the same way, all-or-nothing. */
class InlineMapExtractsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  /** Every expression node of every operator of the optimized plan. */
  private def optimized(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  private def hasCreateMap(df: DataFrame): Boolean = has[CreateMap](df)

  private def has[T: scala.reflect.ClassTag](df: DataFrame): Boolean =
    optimized(df).exists(implicitly[scala.reflect.ClassTag[T]].runtimeClass.isInstance)

  private def hasExtract(df: DataFrame): Boolean =
    optimized(df).exists(e => e.isInstanceOf[ElementAt] || e.isInstanceOf[GetMapValue])

  /** The rows of `df` planned without this rule: the reference answer. */
  private def withoutRule(df: => DataFrame): Seq[Row] = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, InlineMapExtracts.ruleName)
    try {
      val d = df
      assert(hasExtract(d), "excluding the rule leaves the extractions")
      d.collect().toSeq
    } finally spark.conf.unset(key)
  }

  private def sameRows(df: => DataFrame): Unit =
    assert(df.collect().toSeq.sortBy(_.toString) ===
      withoutRule(df).sortBy(_.toString))

  // FormSource.toFormShape's map over two columns with the same key
  private def entries(kvs: (String, Column)*): Column =
    map_from_entries(filter(array(kvs.map { case (k, v) =>
      struct(lit(k).as("key"), v.as("value")) }: _*),
      e => e.getField("value").isNotNull))

  // a non-local source so map values reference real scan attributes
  private def src = spark.range(100).select(
    col("id"), (col("id") % 10).as("grp"), (col("id") * 2).as("v"))

  test("cross-projection extraction inlines scan attributes and drops the map") {
    val mapped = src.select(
      map(lit("grp"), col("grp").cast("string"),
        lit("v"), col("v").cast("string")).as("data"))
    val out = mapped.select(
      element_at(col("data"), "grp").cast("long").as("g"),
      element_at(col("data"), "v").cast("long").as("vv"))
    assert(!hasCreateMap(out), "map adapter should be inlined away")
    assert(out.agg(sum("vv")).head().getLong(0) === (0L until 100L).map(_ * 2).sum)
    assert(out.select(countDistinct("g")).head().getLong(0) === 10)
  }

  test("aggregation over a map adapter inlines through the groupBy") {
    val mapped = src.select(
      map(lit("grp"), col("grp").cast("string"),
        lit("v"), col("v").cast("string")).as("data"))
    val out = mapped.groupBy(element_at(col("data"), "grp").as("g"))
      .agg(sum(element_at(col("data"), "v").cast("long")).as("s"))
    assert(!hasCreateMap(out), "map adapter should be inlined away")
    val rows = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("0") === (0L until 100L by 10L).map(_ * 2).sum)
  }

  test("missing literal key folds to null (non-ANSI element_at contract)") {
    val mapped = src.select(map(lit("a"), col("v").cast("string")).as("data"))
    val out = mapped.select(element_at(col("data"), "nope").as("x"))
    assert(!hasCreateMap(out))
    assert(out.filter(col("x").isNotNull).count() === 0)
  }

  test("duplicate literal keys keep the last entry (LAST_WIN)") {
    val mapped = src.select(
      map(lit("k"), lit("first"), lit("k"), lit("second")).as("data"))
    val out = mapped.select(element_at(col("data"), "k").as("x")).distinct()
    assert(out.collect().map(_.getString(0)).toSeq === Seq("second"))
  }

  test("inner-join child maps inline away") {
    val left = src.select(col("id"),
      map(lit("k"), col("id").cast("string")).as("ldata"))
    val right = src.select((col("id") * 3).as("rid"),
      map(lit("v"), col("v").cast("string")).as("rdata"))
    val out = left.join(right, col("id") === col("rid"))
      .select(element_at(col("ldata"), "k").cast("long").as("k"),
        element_at(col("rdata"), "v").cast("long").as("v"))
    assert(!hasCreateMap(out), "both join-side map adapters should inline away")
    // matches: id ∈ {0,3,...,99∩multiples-of-3 under 100 from id*3<100}
    val rows = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet === (0L until 100L by 3L).filter(_ / 3 < 100).toSet)
    rows.foreach { case (k, v) => assert(v === (k / 3) * 2) }
  }

  test("outer-join null-extended side is NOT inlined (stays null-correct)") {
    // the map value has a literal default: inlining it into null-extended
    // rows would yield "d" where the map attribute is null
    val left = src.select(col("id"))
    val right = src.filter(col("id") < 50).select(col("id").as("rid"),
      map(lit("v"), coalesce(col("v").cast("string"), lit("d"))).as("rdata"))
    val out = left.join(right, col("id") === col("rid"), "left")
      .select(col("id"), element_at(col("rdata"), "v").as("x"))
    assert(out.filter(col("id") >= 50 && col("x").isNotNull).count() === 0)
    assert(out.filter(col("id") < 50 && col("x").isNull).count() === 0)
  }

  test("random literal maps + lookups survive the rule (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    // random map shapes: duplicate keys, missing lookups, value exprs over
    // scan attributes — results must equal a driver-side model regardless
    // of what the rule inlined or pruned
    val keyGen = Gen.oneOf("k1", "k2", "k3", "k4")
    val entriesGen = Gen.listOfN(4, Gen.zip(keyGen, Gen.choose(0, 3)))
      .suchThat(_.nonEmpty)
    val lookupsGen = Gen.listOfN(3, keyGen)
    val prop = forAll(entriesGen, lookupsGen) { (entries, lookups) =>
      val mapArgs = entries.flatMap { case (k, mult) =>
        Seq(lit(k), (col("id") * mult).cast("string"))
      }
      val mapped = src.select(col("id"), map(mapArgs: _*).as("data"))
      val out = mapped.select(
        col("id") +: lookups.zipWithIndex.map { case (k, i) =>
          element_at(col("data"), k).as(s"v$i")
        }: _*).collect()
      // model: LAST_WIN duplicate keys, null on missing
      val lastWin = entries.toMap // toMap keeps the LAST duplicate
      val ok = out.forall { r =>
        val id = r.getLong(0)
        lookups.zipWithIndex.forall { case (k, i) =>
          val expected = lastWin.get(k).map(m => (id * m).toString)
          Option(r.getString(i + 1)) == expected
        }
      }
      Prop(ok)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("non-literal lookup keys stay correct (rule must not mis-resolve)") {
    // Spark's own SimplifyExtractValueOps may still rewrite this shape;
    // the contract here is purely behavioral
    val mapped = src.select(
      (col("id") % 2).cast("string").as("which"),
      map(lit("0"), lit("even"), lit("1"), lit("odd")).as("data"))
    val out = mapped.select(element_at(col("data"), col("which")).as("x"))
    assert(out.filter(col("x") === "even").count() === 50)
    assert(out.filter(col("x") === "odd").count() === 50)
  }

  test("FormSource.csv reads resolve to the columns, null cells included") {
    val dir = Files.createTempDirectory("graft_inline").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/form.csv"),
      "meta/instanceID,pt./visit_date,gender\nu1,2016-04-17,female\n" +
        "u2,,male\nu3,2016-04-19,\n")
    def reads = FormSource.csv(spark, s"$dir/form.csv")
      .filter(element_at(col("data"), "gender") =!= "x" ||
        element_at(col("data"), "pt./visit_date").isNotNull)
      .select(col("uuid"), element_at(col("data"), "pt./visit_date").as("d"),
        col("data")("gender").as("g"), element_at(col("data"), "nope").as("x"))
    assert(!hasExtract(reads) && !has[ArrayFilter](reads) && !has[MapFromEntries](reads),
      reads.queryExecution.optimizedPlan.toString)
    assert(reads.collect().map(r => (r.getString(0), Option(r.getString(1)),
      Option(r.getString(2)), Option(r.getString(3)))).toSet === Set(
      ("u1", Some("2016-04-17"), Some("female"), None),
      ("u2", None, Some("male"), None),
      ("u3", Some("2016-04-19"), None, None)))
    sameRows(reads)
  }

  test("repeated map_from_entries keys: the last non-null value wins") {
    def reads = src.select(col("id"),
      entries(
        "k" -> when(col("id") % 2 === 0, col("id").cast("string")),
        "j" -> col("v").cast("string"),
        "k" -> when(col("id") % 3 === 0, lit("three"))).as("data"))
      .select(col("id"), element_at(col("data"), "k").as("k"),
        element_at(col("data"), "j").as("j"))
    assert(!hasExtract(reads) && !has[MapFromEntries](reads))
    reads.collect().foreach { r =>
      val id = r.getLong(0)
      val k = if (id % 3 == 0) Some("three") else if (id % 2 == 0) Some(id.toString) else None
      assert(Option(r.getString(1)) === k && r.getString(2) === (id * 2).toString)
    }
    sameRows(reads)
  }

  // QualityControl's in-place repair of column k
  private def repaired(pred: Column) = src
    .select(col("id"), entries("k" -> col("grp").cast("string"),
      "j" -> col("v").cast("string")).as("data"))
    .withColumn("data", when(pred, col("data"))
      .otherwise(map_concat(col("data"), map(lit("k"), lit(null).cast("string")))))

  test("a CASE WHEN repair distributes: k reads null, other keys pass through") {
    // the filter is pushed below both projections, so it reads through the
    // CASE WHEN and the map_concat; each select collapses onto the CASE WHEN
    def read(key: String) = repaired(element_at(col("data"), "k") =!= "3")
      .filter(element_at(col("data"), "k").isNull ||
        element_at(col("data"), "j") =!= "4")
      .select(col("id"), element_at(col("data"), key).as("v"))
    for (key <- Seq("k", "j")) {
      val reads = read(key)
      assert(!hasExtract(reads) && !has[MapFromEntries](reads) && !has[MapConcat](reads),
        reads.queryExecution.optimizedPlan.toString)
      val got = reads.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got.keySet === (0L until 100L).toSet - 2L)
      got.foreach { case (id, v) =>
        assert(v === (if (key == "j") Some((id * 2).toString)
          else Some((id % 10).toString).filter(_ != "3")))
      }
      sameRows(read(key))
    }
  }

  test("a non-deterministic CASE WHEN condition is not distributed") {
    def reads = repaired(rand(7) > 0.5)
      .select(col("id"), element_at(col("data"), "k").as("k"))
    assert(hasExtract(reads) && has[CaseWhen](reads), reads.queryExecution.optimizedPlan.toString)
    val nulls = reads.filter(col("k").isNull).count()
    assert(nulls > 0 && nulls < 100)
  }

  test("partly resolvable CASE WHEN and map_concat stay as they were") {
    val stored = map_from_arrays(array(lit("k"), lit("s")),
      array(col("id").cast("string"), lit("stored")))
    def caseRead = src
      .select(col("id"), entries("k" -> col("grp").cast("string")).as("data"),
        stored.as("stored"))
      .select(col("id"), when(col("id") < 50, col("data"))
        .otherwise(col("stored")).as("m"))
      .select(col("id"), element_at(col("m"), "k").as("k"))
    assert(hasExtract(caseRead) && has[CaseWhen](caseRead) && has[MapFromEntries](caseRead))
    sameRows(caseRead)
    // the static last child resolves "k"; "s" needs the dynamic first child
    def concatRead = src
      .select(col("id"), map_concat(stored, map(lit("k"), col("grp").cast("string")))
        .as("m"))
      .select(element_at(col("m"), "k").as("k"), element_at(col("m"), "s").as("s"))
    assert(hasExtract(concatRead) && has[MapConcat](concatRead))
    assert(concatRead.filter(col("s") === "stored").count() === 100)
    sameRows(concatRead)
  }
}
