package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.config.CodeDef
import graft.functions.{EpiWeek, FlatResolver, MapResolver}
import graft.operators.ToCodes

/** Golden-map tests for the coding engine (reference
  * pipeline_worker/tests/to_codes_test.py:203-261 style): full expected
  * `variables` / `categories` dicts including group exclusion, priority
  * overwrite, alert injection and disregard routing.
  */
class ToCodesSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val catalog = Seq(
    CodeDef(id = "gen_1", method = "match", dbColumn = "gender",
      condition = "female", calculationGroup = Some("gender"),
      category = Seq("gender")),
    CodeDef(id = "gen_2", method = "match", dbColumn = "gender",
      condition = "male", calculationGroup = Some("gender"),
      category = Seq("gender")),
    // priority group: overlapping age bands, lower priority value wins
    CodeDef(id = "age_broad", method = "between", condition = "0,100",
      calculation = "age", dbColumn = "age",
      calculationGroup = Some("age"), calculationPriority = Some(2),
      category = Seq("age_band")),
    CodeDef(id = "age_child", method = "between", condition = "0,18",
      calculation = "age", dbColumn = "age",
      calculationGroup = Some("age"), calculationPriority = Some(1),
      category = Seq("age_band")),
    // alert-firing code
    CodeDef(id = "cmd_1", method = "match", dbColumn = "icd_code",
      condition = "A80.9", alert = true, alertType = "individual",
      category = Seq("cd", "case")),
    // disregard code
    CodeDef(id = "dis_1", method = "match", dbColumn = "status",
      condition = "discard", disregard = true),
    // plain counter
    CodeDef(id = "tot_1", method = "not_null", condition = "None",
      dbColumn = "uuid_col")
  )

  private def runRow(row: Map[String, String]):
      (Map[String, String], Map[String, String], Boolean) = {
    val df = Seq(Tuple1(row)).toDF("data")
    val out = ToCodes(df, catalog, new MapResolver(col("data")),
      EpiWeek.StartDay(0), alertData = Map("age" -> "age"))
    val r = out.select("variables", "categories", "disregard").head()
    (r.getMap[String, String](0).toMap, r.getMap[String, String](1).toMap,
      r.getBoolean(2))
  }

  test("group mutual exclusion: only one gender code fires") {
    val (vars, cats, _) = runRow(Map("gender" -> "female", "uuid_col" -> "u1"))
    assert(vars.contains("gen_1") && !vars.contains("gen_2"))
    assert(cats("gender") === "gen_1")
  }

  test("priority overwrite: lower priority value wins when both apply") {
    val (vars, cats, _) = runRow(Map("age" -> "10", "uuid_col" -> "u1"))
    assert(vars.contains("age_child") && !vars.contains("age_broad"))
    assert(cats("age_band") === "age_child")
    val (vars2, cats2, _) = runRow(Map("age" -> "40", "uuid_col" -> "u1"))
    assert(vars2.contains("age_broad") && !vars2.contains("age_child"))
    assert(cats2("age_band") === "age_broad")
  }

  test("alert injection adds alert keys and alert_data columns") {
    val (vars, cats, _) = runRow(Map(
      "icd_code" -> "A80.9", "age" -> "40", "uuid_col" -> "u1"))
    assert(vars("alert") === "1")
    assert(vars("alert_type") === "individual")
    assert(vars("alert_reason") === "cmd_1")
    assert(vars("alert_age") === "40")
    assert(cats("cd") === "cmd_1" && cats("case") === "cmd_1")
  }

  test("no alert keys without an alert-firing code") {
    val (vars, _, _) = runRow(Map("gender" -> "male", "uuid_col" -> "u1"))
    assert(!vars.contains("alert"))
  }

  test("disregard only routes when an individual alert also fired") {
    val (_, _, d1) = runRow(Map("status" -> "discard", "uuid_col" -> "u1"))
    assert(!d1) // disregard fired but no alert → kept (to_codes.py:302-309)
    val (_, _, d2) = runRow(Map(
      "status" -> "discard", "icd_code" -> "A80.9", "uuid_col" -> "u1"))
    assert(d2)
  }

  // to_codes.py:260-309: priority groups do NOT break — every applicable
  // member contributes categories / alert / disregard; only the variables-map
  // key is priority-gated. Winner (priority 1) is deliberately NOT the last
  // applicable member here.
  private val priCatalog = Seq(
    CodeDef(id = "sev_high", method = "between", condition = "50,1000",
      calculation = "score", dbColumn = "score",
      calculationGroup = Some("sev"), calculationPriority = Some(1),
      category = Seq("severity")),
    CodeDef(id = "sev_any", method = "between", condition = "0,1000",
      calculation = "score", dbColumn = "score",
      calculationGroup = Some("sev"), calculationPriority = Some(2),
      category = Seq("severity", "seen"),
      alert = true, alertType = "individual", disregard = true))

  test("priority group: non-winning applicable members still write categories/alert/disregard") {
    val df = Seq(Tuple1(Map("score" -> "60"))).toDF("data")
    val out = ToCodes(df, priCatalog, new MapResolver(col("data")),
      EpiWeek.StartDay(0))
    val r = out.select("variables", "categories", "disregard").head()
    val vars = r.getMap[String, String](0).toMap
    val cats = r.getMap[String, String](1).toMap
    // variables map is priority-gated: sev_high wins, sev_any key dropped
    assert(vars.contains("sev_high") && !vars.contains("sev_any"))
    // but the non-winning applicable member still fired its alert,
    // wrote its categories (last in catalog order wins the key), and
    // set disregard
    assert(vars("alert") === "1")
    assert(vars("alert_reason") === "sev_any")
    assert(cats("severity") === "sev_any")
    assert(cats("seen") === "sev_any")
    assert(r.getBoolean(2))
  }

  test("singleton priority group evaluates (least needs >1 children)") {
    // an ungrouped code with calculation_priority forms a one-member
    // priority group — must not break plan analysis
    val solo = Seq(CodeDef(id = "only", method = "between",
      condition = "0,100", calculation = "score", dbColumn = "score",
      calculationPriority = Some(1), category = Seq("c")))
    val df = Seq(Tuple1(Map("score" -> "5"))).toDF("data")
    val out = ToCodes(df, solo, new MapResolver(col("data")),
      EpiWeek.StartDay(0))
    val r = out.select("variables", "categories").head()
    assert(r.getMap[String, String](0).toMap === Map("only" -> "1"))
    assert(r.getMap[String, String](1).toMap === Map("c" -> "only"))
  }

  test("priority group: below the high band only sev_any applies and wins") {
    val df = Seq(Tuple1(Map("score" -> "10"))).toDF("data")
    val out = ToCodes(df, priCatalog, new MapResolver(col("data")),
      EpiWeek.StartDay(0))
    val r = out.select("variables", "categories", "disregard").head()
    val vars = r.getMap[String, String](0).toMap
    assert(vars.contains("sev_any") && !vars.contains("sev_high"))
    val cats = r.getMap[String, String](1).toMap
    assert(cats("severity") === "sev_any")
  }

  test("full golden variables map") {
    val (vars, cats, disregard) = runRow(Map(
      "gender" -> "female", "age" -> "10", "icd_code" -> "A80.9",
      "uuid_col" -> "u9"))
    assert(vars === Map(
      "gen_1" -> "1", "age_child" -> "1", "cmd_1" -> "1", "tot_1" -> "1",
      "alert" -> "1", "alert_type" -> "individual", "alert_reason" -> "cmd_1",
      "alert_age" -> "10"))
    assert(cats === Map(
      "gender" -> "gen_1", "age_band" -> "age_child",
      "cd" -> "cmd_1", "case" -> "cmd_1"))
    assert(!disregard)
  }

  test("plan shape: the flagship coding gate is one sort-free select") {
    // dsl_to_codes_alert = scan → ONE hash repartition (parallelism
    // restore over the single-row-group testdata; no sampling job, no
    // sort) → coding projection → explode. Pinned so a future formulation
    // can't quietly reintroduce a range sort or a stage-barrier exchange
    // into the engine's flagship query.
    val plan = graft.SparkEntry.queries("dsl_to_codes_alert")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert("Exchange rangepartitioning".r.findAllIn(plan).isEmpty, plan)
    assert(!plan.contains("Sort "), plan)
    assert(!plan.contains("BroadcastExchange"), plan)
  }

  test("pre-aggregated __lc_ column drops even when the code id contains a dot") {
    // df.drop("__lc_a.b") parses the dot as a field access and silently
    // no-ops — the quoted-Column drop must still remove the helper column
    val dotted = CodeDef(id = "a.b", form = "linkform",
      multipleLink = Some("count"))
    val df = Seq(Tuple1(Map("k" -> "v"))).toDF("data")
      .withColumn("__lc_a.b", lit(3L))
    val out = ToCodes(df, Seq(dotted), new MapResolver(col("data")),
      EpiWeek.StartDay(0), linkedForms = Set("linkform"))
    assert(!out.columns.contains("__lc_a.b"))
    val vars = out.select("variables").head().getMap[String, String](0).toMap
    assert(vars === Map("a.b" -> "3"))
  }

  test("flat frame: a null cell reads as absent through ToCodes and outcomes") {
    val df = Seq[(Int, Option[String], Option[String])](
      (1, Some("4"), Some("2")), (2, Some("4"), None),
      (3, None, Some("")), (4, Some(""), Some(""))).toDF("rid", "a", "b")
    val codes = Seq(
      CodeDef(id = "calc", method = "calc", condition = "None",
        calculation = "a+b", dbColumn = "a,b"),
      CodeDef(id = "nn", method = "not_null", condition = "None", dbColumn = "b"),
      CodeDef(id = "val", method = "value", condition = "None", dbColumn = "b"),
      CodeDef(id = "blank", method = "match", condition = "", dbColumn = "b"))
    val r = new FlatResolver(df.columns.toSet)
    val expected = Map(
      1 -> Map("calc" -> "6.0", "nn" -> "1", "val" -> "2"),
      // an absent operand makes calc inapplicable; "" admits the null
      2 -> Map("blank" -> "1"),
      3 -> Map("blank" -> "1"),
      // "" is present: calc reads it as 0
      4 -> Map("calc" -> "0.0", "blank" -> "1"))
    val coded = ToCodes(df, codes, r).select("rid", "variables")
      .as[(Int, Map[String, String])].collect().toMap
    assert(coded === expected)
    val pairs = ToCodes.outcomes(codes, r)
    val outcomes = df.select(col("rid") +: pairs.flatMap { case (a, v) =>
        Seq(a, v) }: _*).collect().map { row =>
      row.getInt(0) -> codes.indices.collect {
        case i if row.getBoolean(1 + 2 * i) => codes(i).id -> row.getString(2 + 2 * i)
      }.toMap
    }.toMap
    assert(outcomes === expected)
  }
}
