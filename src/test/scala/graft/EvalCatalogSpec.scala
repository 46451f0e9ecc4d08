package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.config.{CodeDef, CodesCsv, LinkDef}
import graft.functions.{EpiWeek, EvalCatalog, MapResolver}
import graft.operators.{AddLinks, ToCodes}

/** Equivalence of the native catalog evaluator ([[ToCodes]] over
  * [[EvalCatalog]]) with the `when()`-chain oracle ([[ToCodesChain]]): row
  * for row, `variables` and `categories` compared as ordered entry lists
  * (map key order included) and `disregard`, on the demo catalog per data
  * type and on a 708-code padding of it, over drawn form rows with "",
  * missing, "0", space-padded numbers, every date shape, NaN/Infinity and
  * operands that make a calc divide by zero; and the multiple_link codes
  * as [[AddLinks]] pre-aggregates them, against the chain over the link
  * arrays.
  */
class EvalCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private lazy val catalog = CodesCsv.load(spark, new java.io.File(
    getClass.getResource("/variable_codes/demo_codes.csv").toURI).getPath)

  private val policy = EpiWeek.StartDay(0)
  private val alertData = Map("age" -> "pt1./age", "gender" -> "pt1./gender")
  private def statics(t: String) = Seq(s"tot_$t" -> "1", "data_entry" -> "1")

  private val generic = Seq("", "0", "1", "-0", " 5 ", "7 ", "-3", "2.5", "1e3",
    "NaN", "Infinity", "-Infinity", "abc", "yes", "no", "training",
    "2016-04-17", "2016-04-17T10:00:00", "2016-04-17 10:00:00",
    "2016-04-17T10:00:00.123456", "2016-04-17T10:00:00.123456Z",
    "Apr 17, 2016", "17-Apr-2016", "17-Apr-2016 3:04:05",
    "17-Apr-2016 15:04:05", "Apr 17, 2016 3:04:05 PM", "2016-02-30", "2020")

  /** Values worth drawing per column: the catalog's own conditions (and
    * strings containing them, for sub_match), its between bounds and their
    * neighbours. */
  private def pools(codes: Seq[CodeDef]): Map[String, Seq[String]] = {
    val pairs = codes.flatMap { c =>
      val terms = c.methodTerms
      terms.indices.flatMap { k =>
        val cols = c.columnsPerTerm.lift(k).getOrElse(Nil)
        val conds = c.conditionsPerTerm.lift(k).getOrElse(Nil)
        val vals = terms(k) match {
          case "match"     => conds
          case "sub_match" => conds ++ conds.map(s => s"x${s}9")
          case "between" =>
            scala.util.Try(conds.take(2).map(_.toDouble)).toOption.toSeq.flatMap {
              case Seq(lo, hi) => Seq(lo, hi, lo - 0.5, (lo + hi) / 2).map(fmt)
              case _           => Nil
            }
          case _ => Nil
        }
        cols.map(_ -> vals)
      } ++ c.columnsPerTerm.flatten.map(_ -> Seq.empty[String])
    }
    pairs.groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2).distinct }
  }

  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e9) d.toLong.toString else d.toString

  private def rowGen(pool: Map[String, Seq[String]]): Gen[Map[String, String]] =
    Gen.sequence[Seq[Option[(String, String)]], Option[(String, String)]](
      pool.toSeq.sortBy(_._1).map { case (column, own) =>
        val value =
          if (own.isEmpty) Gen.oneOf(generic)
          else Gen.frequency(3 -> Gen.oneOf(own), 2 -> Gen.oneOf(generic))
        Gen.frequency(1 -> Gen.const(None), 4 -> value.map(v => Some(column -> v)))
      }).map(_.flatten.toMap)

  private def entries(r: Row, i: Int): Seq[(String, String)] =
    r.getSeq[Row](i).map(e => e.getString(0) -> e.getString(1))

  private def outcome(df: DataFrame): Map[Int, (Seq[(String, String)], Seq[(String, String)], Boolean)] =
    df.select(col("rid"), map_entries(col("variables")),
        map_entries(col("categories")), col("disregard"))
      .collect().map(r => r.getInt(0) -> ((entries(r, 1), entries(r, 2), r.getBoolean(3))))
      .toMap

  /** The native and the chain evaluation of the same rows; the first
    * disagreeing row, if any. */
  private def mismatch(rows: Seq[Map[String, String]], native: DataFrame,
                       chain: DataFrame): Option[String] = {
    val types = Seq("variables", "categories", "disregard")
    val schemaDiff = types.filter(n => native.schema(n).dataType != chain.schema(n).dataType)
    if (schemaDiff.nonEmpty) return Some(s"output types differ: $schemaDiff")
    if (native.columns.toSeq != chain.columns.toSeq)
      return Some(s"columns differ: ${native.columns.toSeq} vs ${chain.columns.toSeq}")
    // the native side must run its generated code, not an interpreted
    // projection (the test session already fails on a compile error)
    val a = withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(outcome(native))
    val b = outcome(chain)
    rows.indices.find(i => a.get(i) != b.get(i)).map(i =>
      s"row $i ${rows(i)}\n native ${a.get(i)}\n chain  ${b.get(i)}")
  }

  /** Both evaluations of `codes` over plain form rows. */
  private def plainMismatch(codes: Seq[CodeDef], rows: Seq[Map[String, String]],
                            staticEntries: Seq[(String, String)]): Option[String] = {
    val df = plainFrame(rows)
    val r = new MapResolver(col("data"))
    mismatch(rows,
      ToCodes(df, codes, r, policy, alertData, Set.empty, staticEntries),
      ToCodesChain(df, codes, r, policy, alertData, Map.empty, staticEntries))
  }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def plainFrame(rows: Seq[Map[String, String]]): DataFrame =
    rows.zipWithIndex.map { case (m, i) => (i, m) }.toDF("rid", "data")

  /** Checks `batches` drawn batches of `n` rows each, from a fixed seed. */
  private def equivalent(codes: Seq[CodeDef], n: Int, batches: Int, seed: Long,
                         staticEntries: Seq[(String, String)]): Unit = {
    val gen = Gen.listOfN(n, rowGen(pools(codes)))
    var failure: Option[String] = None
    val prop = Prop.forAllNoShrink(gen) { rows =>
      failure = plainMismatch(codes, rows, staticEntries)
      failure.isEmpty
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(batches).withInitialSeed(Seed(seed)), prop)
    assert(result.passed, failure.getOrElse(result.status.toString))
  }

  private lazy val mainCodes = catalog.filter(_.multipleLink.isEmpty)

  for (t <- Seq("case", "visit", "register"))
    test(s"demo catalog, $t codes: native evaluator equals the chain row for row") {
      equivalent(mainCodes.filter(_.typ == t), n = 250, batches = 2, seed = 7,
        staticEntries = statics(t))
    }

  /** The demo catalog's main-form codes repeated under fresh ids and groups
    * (priorities kept) up to 708 codes, the reference demo's size. */
  private lazy val padded: Seq[CodeDef] =
    Iterator.from(0).flatMap(k => mainCodes.map(c => c.copy(
      id = if (k == 0) c.id else s"${c.id}_p$k",
      calculationGroup = c.calculationGroup.map(g => s"${g}_p$k"))))
      .take(708).toSeq

  test("708-code padded catalog: native evaluator equals the chain row for row") {
    assert(padded.size === 708)
    equivalent(padded, n = 120, batches = 1, seed = 11, staticEntries = statics("case"))
  }

  /** The demo catalog's linked form, joined on a per-record `link_id`. */
  private val alertLink = LinkDef("alert_investigation", "case", "demo_case",
    "demo_alert", Seq("link_id"), Seq("pt./alert_id"), Seq("match"), "ord",
    orderByIsDate = false)

  test("multiple_link codes: pre-aggregated and link-array outcomes agree") {
    val codes = catalog.filter(c => c.typ == "case")
    val linkCodes = codes.filter(_.multipleLink.isDefined)
    assert(linkCodes.map(_.multipleLink.get).toSet ===
      Set("first", "last", "count", "any", "all"))
    val lab = "alert_labs./return_lab"
    // up to three linked rows per record, distinct order keys drawn out of
    // order, a missing or drawn lab value
    val linked = for {
      k <- Gen.choose(0, 3)
      ords <- Gen.pick(k, 0 to 9)
      labs <- Gen.listOfN(k, Gen.option(Gen.oneOf("yes", "no", "")))
    } yield ords.toSeq.zip(labs).map { case (o, v) =>
      Map("ord" -> o.toString) ++ v.map(lab -> _) }
    val gen = for {
      rows <- Gen.listOfN(120, rowGen(pools(codes.filter(_.multipleLink.isEmpty))))
      matches <- Gen.listOfN(120, linked)
    } yield rows.zip(matches)
    val drawn = gen.pureApply(Gen.Parameters.default, Seed(13))
    val rows = drawn.map(_._1)
    assert(drawn.exists(_._2.isEmpty) && drawn.exists(_._2.size == 3))

    val base = rows.zipWithIndex.map { case (m, i) =>
      (i, s"u$i", m + ("link_id" -> s"a$i"))
    }.toDF("rid", "uuid", "data")
    val alerts = drawn.zipWithIndex.flatMap { case ((_, ms), i) =>
      ms.zipWithIndex.map { case (m, j) => (s"l$i-$j", m + ("pt./alert_id" -> s"a$i")) }
    }.toDF("uuid", "data")
    // AddLinks pre-aggregates the link codes next to the ordered arrays:
    // ToCodes reads the former, the chain evaluates the oracle over the latter
    val withLinks = AddLinks(base, Map("demo_alert" -> alerts), Seq(alertLink),
      linkCodes = linkCodes, policy = policy)
    val r = new MapResolver(col("data"))
    val native = ToCodes(withLinks, codes, r, policy, alertData,
      Set("demo_alert"), statics("case"))
    val chain = ToCodesChain(
      withLinks.drop(linkCodes.map(c => AddLinks.aggColName(c.id)): _*), codes, r,
      policy, alertData, Map("demo_alert" -> alertLink.name), statics("case"))
    assert(mismatch(rows, native, chain).isEmpty)
  }

  test("link codes: one evaluator per linked row covers every code") {
    val linkCodes = catalog.filter(_.form == "demo_alert")
    val (inputs, _) = AddLinks.linkCodeAggs(linkCodes, alertLink, policy)
    // a range scan, not a local relation, so the projection is generated code
    val rows = spark.range(4).select(map(lit("alert_labs./return_lab"),
      when(col("id") % 2 === 0, "yes").otherwise("no")).as("__l_data"))
    val projected = rows.select(inputs: _*)
    val generated = org.apache.spark.sql.execution.debug.codegenStringSeq(
      projected.queryExecution.executedPlan).map(_._2).mkString
    assert(inputs.size === 6)
    assert("EvalCatalog\\.evaluate\\(".r.findAllIn(generated).size === 1, generated)
    assert(projected.collect().length === 4)
  }

  test("a linked-form code without its pre-aggregated column is refused") {
    val codes = catalog.filter(c => c.typ == "case")
    val err = intercept[IllegalArgumentException](ToCodes(plainFrame(Seq(Map("k" -> "v"))),
      codes, new MapResolver(col("data")), policy, linkedForms = Set("demo_alert")))
    assert(err.getMessage.contains("ale_1"), err.getMessage)
  }

  test("plan size: padding the case catalog from 180 to 708 codes adds at most 20% expression nodes") {
    def nodes(codes: Seq[CodeDef]): Int = {
      val df = ToCodes(plainFrame(Seq(Map("k" -> "v"))), codes,
        new MapResolver(col("data")), policy, alertData, Set.empty, statics("case"))
      df.queryExecution.analyzed.collect { case p => p }
        .map(_.expressions.map(_.collect { case e => e }.size).sum).sum
    }
    val base = nodes(padded.take(180))
    val full = nodes(padded)
    assert(full <= base * 1.2, s"180 codes: $base nodes, 708 codes: $full nodes")
    val evaluators = ToCodes(plainFrame(Seq(Map("k" -> "v"))), padded,
      new MapResolver(col("data")), policy).queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect { case e: EvalCatalog => e }))
    assert(evaluators.size === 1)
  }
}
