package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

/** Unit tests for the training-data operators: dedup family, similarity
  * search, text analysis, multimodal plumbing. */
class TrainingDataSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  test("salted join equals the unsalted join, including duplicate matches") {
    val skewed = ((1 to 500).map(i => ("hot", i.toLong)) ++
      Seq(("a", 9001L), ("b", 9002L))).toDF("k", "payload")
    // duplicate dim row for "hot": every skewed row must match twice
    val dim = Seq(("hot", "H1"), ("hot", "H2"), ("a", "A"), ("z", "Z"))
      .toDF("k", "label")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "label").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val plain = skewed.join(dim, Seq("k"))
    val salted = SkewJoin.saltedJoin(skewed, dim, Seq("k"), saltBuckets = 8)
    assert(canon(salted) === canon(plain))
    assert(canon(salted).size === 1001) // 500*2 hot + 1 for "a"
  }

  test("salted join scatters duplicate-identical rows via an explicit scatter column") {
    // duplicate-heavy skew: every hot row is IDENTICAL in the non-key
    // columns, so the default hash-scatter would land them all in one salt
    // bucket; a caller-provided row id spreads them
    val skewed = (1 to 96).map(i => ("hot", "same-payload", i.toLong))
      .toDF("k", "payload", "rid")
    val dim = Seq(("hot", "H"), ("cold", "C")).toDF("k", "label")
    val salted = SkewJoin.saltedJoin(skewed, dim, Seq("k"),
      saltBuckets = 8, scatterBy = Some(col("rid")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "rid", "label").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
        .sorted.toSeq
    assert(canon(salted) === canon(skewed.join(dim, Seq("k"))))
    // a map-only payload (unhashable) is fine once scatterBy is provided
    val mapSkewed = (1 to 10).map(i => ("hot", Map("p" -> i.toString), i.toLong))
      .toDF("k", "m", "rid")
    val viaMap = SkewJoin.saltedJoin(mapSkewed, dim, Seq("k"),
      saltBuckets = 4, scatterBy = Some(col("rid")))
    assert(viaMap.count() === 10)
  }

  test("salted join never drops rows for a string or null scatter column") {
    // a uuid-ish string (or a null) scatterBy used to be cast("long") →
    // null salt → the inner join on __salt silently dropped those rows
    val skewed = Seq(
      ("hot", "row-a"), ("hot", "row-b"), ("hot", null.asInstanceOf[String]),
      ("cold", "row-c"))
      .toDF("k", "sid")
    val dim = Seq(("hot", "H"), ("cold", "C")).toDF("k", "label")
    val salted = SkewJoin.saltedJoin(skewed, dim, Seq("k"),
      saltBuckets = 8, scatterBy = Some(col("sid")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "sid", "label").collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getString(2)))
        .sorted.toSeq
    assert(canon(salted) === canon(skewed.join(dim, Seq("k"))))
    assert(salted.count() === 4)
  }

  test("decontamination flags n-gram overlap with the benchmark and scrubs it") {
    val train = docs(
      1L -> "alpha beta gamma delta",   // shares "beta gamma delta" via 2L? no — with bench
      2L -> "one two three four five",
      3L -> "nothing in common here at all")
    val bench = docs(100L -> "zzz beta gamma delta qqq one two three")
    val out = Decontaminate.overlap(train, bench, k = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1: shingles {alpha beta gamma, beta gamma delta} — 1 matched
    // doc 2: {one two three, two three four, three four five} — 1 matched
    assert(out === Map(1L -> ((2L, 1L)), 2L -> ((3L, 1L))))
    val kept = Decontaminate.scrub(train, bench, k = 3)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(3L))
  }

  test("decontamination over-large benchmark falls back to a shuffle join") {
    val train = docs(
      1L -> "alpha beta gamma delta",
      2L -> "one two three four five",
      3L -> "nothing in common here at all")
    val bench = docs(100L -> "zzz beta gamma delta qqq one two three")
    def canon(maxGrams: Long) =
      Decontaminate.overlap(train, bench, k = 3, maxBroadcastGrams = maxGrams)
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // guard of 0 forces the shuffle path; results must be identical
    assert(canon(0L) === canon(Long.MaxValue))
    // the fallback plan carries no broadcast hint (AQE may still choose a
    // broadcast strategy at runtime for a genuinely small side — the guard
    // only refuses to FORCE one)
    val fallback = Decontaminate.overlap(train, bench, k = 3,
      maxBroadcastGrams = 0L)
    assert(!fallback.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("strategy=broadcast"))
    // the reverse report honors the same guard
    def reportCanon(maxGrams: Long) =
      Decontaminate.evalReport(train, bench, k = 3,
        maxBroadcastGrams = maxGrams)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(reportCanon(0L) === reportCanon(Long.MaxValue))
    val reportFallback = Decontaminate.evalReport(train, bench, k = 3,
      maxBroadcastGrams = 0L)
    assert(!reportFallback.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("strategy=broadcast"))
  }

  test("reverse decontamination reports per-benchmark-item contamination") {
    val train = docs(
      1L -> "alpha beta gamma delta",     // shares "beta gamma delta"
      2L -> "beta gamma delta echo",      // shares it too
      3L -> "nothing in common here")
    val bench = docs(
      100L -> "zzz beta gamma delta qqq", // hit by docs 1 and 2
      101L -> "totally clean eval item")  // zero hits — still reported
    val out = Decontaminate.evalReport(train, bench, k = 3)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out === Map(100L -> ((2L, 2L)), 101L -> ((0L, 0L))))
  }

  test("decontamination matches sub-k documents on whole-text equality") {
    // documented conservative semantics: an empty/short benchmark row
    // matches exactly-equal short training docs via the whole-doc gram
    val train = docs(1L -> "tiny doc", 2L -> "", 3L -> "other tiny")
    val bench = docs(100L -> "tiny doc", 101L -> "")
    val out = Decontaminate.overlap(train, bench, k = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(out === Map(1L -> 1.0, 2L -> 1.0))
  }

  test("PII scrub redacts phones and IPs, leaves version strings alone") {
    val d = Seq(
      (1L, "call 555-123-4567 or +14155551234 now"),
      (2L, "server at 192.168.0.1 responded"),
      (3L, "see http://10.0.0.1/path for docs"),      // IP inside URL → <URL>
      (4L, "version 1.2.3.4.5 is out"),               // 5 dotted groups: the
                                                      // leading quad redacts
      (5L, "ticket 1234567890 unchanged"))            // bare digit run kept
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextNormalize.scrubPii(col("text")).as("t"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "call <PHONE> or <PHONE> now")
    assert(out(2L) === "server at <IP> responded")
    assert(out(3L) === "see <URL> for docs")
    assert(out(4L) === "version <IP>.5 is out")
    assert(out(5L) === "ticket 1234567890 unchanged")
    val counts = d.filter(col("doc_id") === 1L)
      .select(TextNormalize.piiCounts(col("text"))
        .map { case (n, c) => c.as(n) }: _*).collect()(0)
    assert(counts.getAs[Int]("n_phones") === 2)
    assert(counts.getAs[Int]("n_ips") === 0)
  }

  test("line dedup removes corpus-frequent lines everywhere, keeps order") {
    val d = Seq(
      (1L, "keep one\nBOILER\nkeep two"),
      (2L, "BOILER\nunique a"),
      (3L, "unique b\nBOILER"),
      (4L, "BOILER"))                      // all lines boilerplate
      .toDF("doc_id", "text")
    val out = TextNormalize.dedupLines(d, maxDocFrequency = 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out === Map(
      1L -> (("keep one\nkeep two", 3L, 1L)),
      2L -> (("unique a", 2L, 1L)),
      3L -> (("unique b", 2L, 1L)),
      4L -> (("", 1L, 1L))))
  }

  test("line dedup counts documents, not occurrences") {
    // the same line twice INSIDE one doc is 1 toward document frequency,
    // and a rare line's intra-doc repeats survive
    val d = Seq((1L, "x\nx\nx"), (2L, "y")).toDF("doc_id", "text")
    val out = TextNormalize.dedupLines(d, maxDocFrequency = 1)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(out === Map(1L -> "x\nx\nx", 2L -> "y"))
  }

  test("hashed classifier score is the exact mean bucket weight") {
    val out = TextAnalysis.classifierScores(docs(1L -> "hello", 2L -> "hello hello"))
      .as[(Long, Double)].collect().toMap
    // independent recomputation of the weight formula
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("hello".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
    val w = (java.lang.Long.parseLong(hex, 16) % 4096) % 1001 - 500
    assert(out(1L) === w / 1000.0)
    assert(out(2L) === out(1L)) // mean of equal weights
  }

  test("vocabulary ranks by term frequency with token tiebreak") {
    val d = docs(1L -> "b a a c", 2L -> "a b")
    val out = TextAnalysis.vocabulary(d, topK = 2)
      .as[(String, Long, Long)].collect()
    assert(out === Array(("a", 3L, 2L), ("b", 2L, 2L)))
  }

  test("token-budget mix keeps a hash-ordered prefix under hard caps") {
    val d = (1 to 50).map(i => (i.toLong, "en", 10L)) ++
      (51 to 60).map(i => (i.toLong, "xx", 10L))
    val df = d.toDF("doc_id", "lang", "n_tokens")
    val out = Sampling.tokenBudgetMix(df, "lang", Map("en" -> 95L),
      tokenCountCol = "n_tokens", keyCol = "doc_id", salt = "t")
      .select("doc_id", "lang").as[(Long, String)].collect()
    // budget 95 fits 9 docs of 10 tokens (a 10th would cross the cap);
    // unbudgeted stratum dropped entirely
    assert(out.length === 9)
    assert(out.forall(_._2 == "en"))
    // kept set = the 9 lowest hash draws (prefix property)
    val drawn = df.filter(col("lang") === "en")
      .select(col("doc_id"), Sampling.draw(col("doc_id"), "t").as("h"))
      .as[(Long, String)].collect().sortBy(_._2).map(_._1).take(9).toSet
    assert(out.map(_._1).toSet === drawn)
  }

  test("token-budget mix invariants hold under random budgets (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val docs = (1 to 120).map(i =>
      (i.toLong, if (i % 3 == 0) "de" else "en", (i % 13 + 1).toLong))
    val df = docs.toDF("doc_id", "lang", "n_tokens")
    val tokensOf = docs.map(d => d._1 -> d._3).toMap
    val langOf = docs.map(d => d._1 -> d._2).toMap
    val drawOf = df.select(col("doc_id"),
        Sampling.draw(col("doc_id"), "pb").as("h"))
      .as[(Long, String)].collect().toMap
    val budgetGen = Gen.zip(Gen.choose(0L, 800L), Gen.choose(0L, 300L))
    val prop = forAll(budgetGen) { case (bEn, bDe) =>
      val budgets = Map("en" -> bEn, "de" -> bDe)
      val kept = Sampling.tokenBudgetMix(df, "lang", budgets,
        tokenCountCol = "n_tokens", keyCol = "doc_id", salt = "pb")
        .select("doc_id").as[Long].collect().toSet
      // reference model: per stratum, the maximal draw-ordered prefix
      // whose running token sum stays within the budget (tokens are >= 1
      // here, so filter(cum <= budget) == the takeWhile prefix)
      val expected = docs.groupBy(_._2).flatMap { case (l, ds) =>
        budgets.get(l).toSeq.flatMap { b =>
          var cum = 0L
          ds.sortBy(d => (drawOf(d._1), d._1))
            .takeWhile { d => cum += d._3; cum <= b }.map(_._1)
        }
      }.toSet
      val capped = kept.groupBy(langOf).forall { case (l, ids) =>
        ids.toSeq.map(tokensOf).sum <= budgets(l) }
      Prop(kept == expected && capped)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("simhash groups bound the per-group id sample while counting all members") {
    // 20 identical docs share one sketch; the sample must cap at
    // sampleSize smallest ids while n_docs counts the whole group
    val d = docs((1 to 20).map(i => (i.toLong, "same tokens here")): _*)
    val g = Dedup.simhashGroups(d, sampleSize = 16)
      .select(col("n_docs"), col("keep_id"), col("doc_ids")).collect()
    assert(g.length === 1)
    assert(g(0).getLong(0) === 20L)
    assert(g(0).getLong(1) === 1L)
    assert(g(0).getSeq[Long](2) === (1L to 16L))
  }

  test("token-budget mix: two-phase cut equals the single-window formulation") {
    // enough docs that draws populate many prefix buckets, varied token
    // counts so budget lines land mid-bucket, one stratum unbudgeted
    val d = (1 to 400).map(i =>
      (i.toLong, if (i % 3 == 0) "de" else "en", (i % 37 + 1).toLong)) ++
      (401 to 420).map(i => (i.toLong, "xx", 10L))
    val df = d.toDF("doc_id", "lang", "n_tokens")
    val budgets = Map("en" -> 1234L, "de" -> 567L)
    def kept(prefixLen: Int): Seq[Long] =
      Sampling.tokenBudgetMix(df, "lang", budgets,
        tokenCountCol = "n_tokens", keyCol = "doc_id", salt = "tp",
        drawPrefixLen = prefixLen)
        .select("doc_id").as[Long].collect().sorted.toSeq
    val single = kept(0)
    assert(single.nonEmpty)
    // every bucket granularity locates the same cut
    assert(kept(1) === single)
    assert(kept(2) === single)
    assert(kept(3) === single)
    // column order/set is preserved by the two-phase path
    assert(Sampling.tokenBudgetMix(df, "lang", budgets,
      tokenCountCol = "n_tokens", keyCol = "doc_id", salt = "tp")
      .columns.toSeq === Seq("doc_id", "lang", "n_tokens"))
  }

  test("corpus stats: exact tier is exact, approx tier lands close") {
    val d = Seq(
      (1L, "en", "s1", 10L), (2L, "en", "s2", 20L), (3L, "en", "s1", 30L),
      (4L, "en", "s3", 40L), (5L, "de", "s1", 5L))
      .toDF("doc_id", "lang", "source", "n_tokens")
    val exact = CorpusStats.stats(d, "lang", "n_tokens", "source")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // even-count median interpolates: (20+30)/2
    assert(exact === Map(
      "en" -> ((4L, 100L, 3L, 25.0)), "de" -> ((1L, 5L, 1L, 5.0))))
    val approx = CorpusStats.approxStats(d, "lang", "n_tokens", "source")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    // HLL at this cardinality is exact; schema and counts line up
    assert(approx === Map("en" -> 3L, "de" -> 1L))
  }

  test("histogram quantiles equal the sorted-sequence rank reference (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    val rowsGen = for {
      n <- Gen.choose(1, 60)
      vals <- Gen.listOfN(n, Gen.zip(Gen.oneOf("en", "de"),
        Gen.choose(0L, 12L))) // narrow range -> dense ties
    } yield vals
    val prop = forAll(rowsGen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((l, v), i) => (i.toLong, l, v) }
        .toDF("id", "lang", "len")
      val got = CorpusStats.histogramQuantiles(
          df.select(col("lang"), col("len")), "lang", "len", ps)
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), ps.indices.map(i => r.getLong(2 + i))))
        .toMap
      val want = rows.groupBy(_._1).map { case (l, g) =>
        val sorted = g.map(_._2).sorted
        val n = sorted.length.toLong
        l -> (n, ps.map { p =>
          val r = math.max(1L, math.ceil(p * n.toDouble).toLong)
          sorted((r - 1).toInt)
        })
      }
      Prop(got == want) :| s"n=${rows.length}"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("rollup report covers every grouping set and gid disambiguates real nulls") {
    val d = Seq(
      ("en", "web", 10L), ("en", "book", 20L), ("de", "web", 5L),
      (null.asInstanceOf[String], "web", 1L)) // a GENUINE null dim value
      .toDF("lang", "source", "len")
    val out = CorpusStats.rollupReport(d, "lang", "source", "len")
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getAs[Number]("gid").longValue(), r.getLong(3), r.getLong(4)))
      .toSet
    // gid 0 = fully grouped: the genuine-null row keeps gid 0
    assert(out.contains((None, Some("web"), 0L, 1L, 1L)))
    // gid 2 = lang rolled up: same (None, web) key but distinct gid
    assert(out.contains((None, Some("web"), 2L, 3L, 16L)))
    // grand total
    assert(out.contains((None, None, 3L, 4L, 36L)))
    // every one of the 4 grouping sets reports
    assert(out.map(_._3) === Set(0L, 1L, 2L, 3L))
    // per-dim rollups are complete
    assert(out.contains((Some("en"), None, 1L, 2L, 30L)))
    assert(out.contains((None, Some("book"), 2L, 1L, 20L)))
  }

  test("native token count equals split-based tokens on arbitrary strings (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    import graft.functions.TokenCount
    import org.apache.spark.unsafe.types.UTF8String
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar,
      3 -> Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'),
      1 -> Gen.oneOf('\u00e9', '\u4e2d', '\u00df', '\u00a0')) // multi-byte; NBSP is NOT \s
    val strGen = Gen.listOf(charGen).map(_.mkString)
    // static tier: byte scan == Java regex split semantics, char-exact
    val statProp = forAll(strGen) { s =>
      Prop(TokenCount.count(UTF8String.fromString(s)) ===
        s.split("\\s+").count(_.nonEmpty))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), statProp)
    assert(res.passed, res.status.toString)
    // engine tier: the codegen'd expression equals size(tokens(text))
    val sample = Seq("", "  ", "a", " a\tb\nc ", "é 中ß", "x y",
      "many  runs\r\nof  ws", (1 to 50).map(_ => "tok").mkString(" "))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = sample.toDF("doc_id", "text")
    val both = df.select(
        TextAnalysis.tokenCount(col("text")).as("fast"),
        size(TextAnalysis.tokens(col("text"))).as("ref"))
      .as[(Int, Int)].collect()
    assert(both.forall { case (f, r) => f == r })
  }

  test("native word shingles equal the HOF distinct-shingle chain (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    import graft.functions.WordShingles
    import org.apache.spark.unsafe.types.UTF8String
    // static tier vs a plain-Scala reference of the HOF semantics
    def ref(s: String, k: Int): Seq[String] = {
      val toks = s.split("\\s+").filter(_.nonEmpty).toSeq
      val all = if (toks.length >= k)
        (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
      else Seq(toks.mkString(" "))
      all.distinct // first-occurrence order, like array_distinct
    }
    val wordGen = Gen.frequency(
      5 -> Gen.oneOf("a", "b", "ab", "the", "é中"),
      1 -> Gen.alphaNumStr.suchThat(_.nonEmpty))
    val textGen = for {
      ws <- Gen.listOf(wordGen)
      sep <- Gen.oneOf(" ", "  ", "\t", "\n ")
    } yield ws.mkString(sep)
    val kGen = Gen.choose(1, 4)
    // all-windows reference (the non-distinct FEATURE shape: repeats
    // kept, no short-doc fallback)
    def refAll(s: String, k: Int): Seq[String] = {
      val toks = s.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.length >= k)
        (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
      else Seq.empty
    }
    val statProp = forAll(textGen, kGen) { (s, k) =>
      def run(distinct: Boolean) = {
        val a = WordShingles.shingles(UTF8String.fromString(s), k, distinct)
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      }
      (Prop(run(true) === ref(s, k))
        :| s"distinct s=$s k=$k got=${run(true)} want=${ref(s, k)}") &&
      (Prop(run(false) === refAll(s, k))
        :| s"all s=$s k=$k got=${run(false)} want=${refAll(s, k)}")
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), statProp)
    assert(res.passed, res.status.toString)
    // engine tier: the codegen'd expression equals the HOF chain
    val sample = Seq("", "  ", "one", "a b", "a b c d a b c d",
      "rep rep rep rep", "é 中 ß x y z")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = sample.toDF("doc_id", "text")
    val both = df.select(
        WordShingles.shingles(col("text"), 3).as("fast"),
        array_distinct(Dedup.shinglesFromTokens(
          TextAnalysis.tokens(col("text")), 3)).as("ref"))
      .as[(Seq[String], Seq[String])].collect()
    assert(both.forall { case (f, r) => f == r }, both.mkString("; "))
  }

  test("native md5 prefix equals the conv(substring(md5)) chain (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    import graft.functions.Md5Prefix
    import org.apache.spark.unsafe.types.UTF8String
    val strGen = Gen.frequency(
      5 -> Gen.alphaNumStr, 1 -> Gen.const(""),
      1 -> Gen.const("é中ß:dsir"), 1 -> Gen.const("a b c"))
    val lenGen = Gen.choose(1, 15)
    val statProp = forAll(strGen, lenGen) { (s, n) =>
      val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val want = java.lang.Long.parseLong(hex.substring(0, n), 16)
      Prop(Md5Prefix.prefix(UTF8String.fromString(s), n) === want) :|
        s"s=$s n=$n"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), statProp)
    assert(res.passed, res.status.toString)
    // engine tier: codegen'd expression equals the composable chain
    val df = Seq("tok", "", "é中", "spark:dsir").toDF("t")
    val both = df.select(
        Md5Prefix.prefix(col("t"), 6).as("fast"),
        conv(substring(md5(col("t").cast("binary")), 1, 6), 16, 10)
          .cast("long").as("ref"))
      .as[(Long, Long)].collect()
    assert(both.forall { case (f, r) => f == r }, both.mkString(";"))
  }

  test("NFC normalization composes decomposed sequences; ASCII passes untouched") {
    import graft.functions.NfcNormalize
    val d = docs(
      1L -> "cafe\u0301 latte", // decomposed e + combining acute
      2L -> "caf\u00e9 latte",  // precomposed - same canonical content
      3L -> "plain ascii")
    val out = d.select(col("doc_id"), NfcNormalize.nfc(col("text")).as("t"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === out(2L))
    assert(out(3L) === "plain ascii")
    // the dedup motivation: canonically-equal docs share a digest
    val digests = d.select(
      md5(NfcNormalize.nfc(col("text")).cast("binary")).as("h"))
      .distinct().count()
    assert(digests === 2)
    // fast paths return the SAME instance (no allocation)
    val ascii = org.apache.spark.unsafe.types.UTF8String.fromString("abc")
    assert(NfcNormalize.norm(ascii) eq ascii)
    val normalized = org.apache.spark.unsafe.types.UTF8String.fromString("caf\u00e9")
    assert(NfcNormalize.norm(normalized) eq normalized)
  }

  test("ANN recall@k measures approximate results against exact ground truth") {
    val exact = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
      (2L, 1, 20L), (2L, 2, 21L),              // only 2 true neighbors
      (3L, 1, 30L), (3L, 2, 31L), (3L, 3, 32L))
      .toDF("query_id", "rank", "neighbor_id")
    val approx = Seq(
      (1L, 1, 10L), (1L, 2, 12L), (1L, 3, 99L), // 2/3
      (2L, 1, 21L), (2L, 2, 20L),               // 2/2 (order-insensitive)
      (3L, 1, 98L), (3L, 2, 97L), (3L, 3, 96L)) // 0/3
      .toDF("query_id", "rank", "neighbor_id")
    val r = Similarity.recallAtK(approx, exact, k = 3)
      .as[(Long, Double)].collect().toMap
    assert(r === Map(1L -> 2.0 / 3, 2L -> 1.0, 3L -> 0.0))
    // tuning loop property on real vectors: widening IVF probes can only
    // help recall
    val e = (1 to 40).map(i => (i.toLong,
      Array.tabulate(8)(d => math.sin(i * 31 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = e.filter(col("vec_id") <= 5)
    val truth = Similarity.bruteForceTopK(e, queries, k = 3)
    def meanRecall(nProbe: Int): Double = {
      val ann = Similarity.ivfTopK(e, queries, k = 3, numCells = 8, nProbe = nProbe)
      Similarity.recallAtK(ann, truth, k = 3)
        .agg(avg(col("recall"))).as[Double].collect()(0)
    }
    val narrow = meanRecall(1)
    val wide = meanRecall(8)
    assert(wide >= narrow)
    assert(wide === 1.0) // probing every cell IS exhaustive search
  }

  test("document chunking windows tokens with overlap and passes short docs through") {
    val d = docs(
      1L -> (1 to 10).map(i => s"t$i").mkString(" "), // 10 toks
      2L -> "a b c",                                   // under the window
      3L -> "")                                        // empty
    val out = Packing.chunkDocuments(d, maxTokens = 4, overlap = 1)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        col("chunk_tokens"))
      .as[(Long, Int, String, Int)].collect().sorted.toSeq
    assert(out === Seq(
      // stride 3: starts 0,3,6 — each chunk re-reads 1 token of context
      (1L, 0, "t1 t2 t3 t4", 4),
      (1L, 1, "t4 t5 t6 t7", 4),
      (1L, 2, "t7 t8 t9 t10", 4),
      (2L, 0, "a b c", 3),
      (3L, 0, "", 0)))
    // boundary: exactly maxTokens stays one chunk; one more token rolls
    val edge = docs(7L -> "w x y z", 8L -> "v w x y z")
    val counts = Packing.chunkDocuments(edge, maxTokens = 4, overlap = 1)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(counts === Map(7L -> 1L, 8L -> 2L))
  }

  test("chunking invariants: full coverage, exact overlap, budget cap (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val gen = for {
      n <- Gen.choose(0, 60)         // tokens in the doc
      m <- Gen.choose(1, 12)         // maxTokens
      o <- Gen.choose(0, m - 1)      // overlap
    } yield (n, m, o)
    val prop = forAll(gen) { case (n, m, o) =>
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val chunks = Packing.chunkDocuments(
        Seq((1L, text)).toDF("doc_id", "text"), maxTokens = m, overlap = o)
        .select("chunk_id", "chunk_text", "chunk_tokens")
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
      val stride = m - o
      val covered = chunks.flatMap { case (id, _, len) =>
        (id * stride) until (id * stride + len) }.toSet
      Prop.all(
        // every chunk stays within budget
        Prop(chunks.forall(_._3 <= m)) :| "budget",
        // chunks jointly cover every token exactly once per owning window
        Prop(covered == (0 until n).toSet) :| "coverage",
        // chunk text is the exact token window
        Prop(chunks.forall { case (id, text, _) =>
          val toks = (id * stride until math.min(id * stride + m, n))
            .map(i => s"t${i + 1}")
          text == toks.mkString(" ")
        }) :| "window",
        // no degenerate trailing chunk: every chunk but the last is full,
        // and an empty doc still yields exactly one empty chunk
        Prop(chunks.init.forall(_._3 == m)) :| "full-prefix",
        Prop(n > 0 || chunks == Seq((0, "", 0))) :| "empty-doc")
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("incremental dedup: sketch never re-admits a dup; exact tier equals anti-join") {
    val history = (1 to 300).map(i => (i.toLong, s"hist doc $i"))
      .toDF("doc_id", "text").withColumn("digest", md5(col("text")))
    // batch: 100 true dups of history + 400 genuinely new docs
    val batch = ((1001 to 1100).map(i => (i.toLong, s"hist doc ${i - 1000}")) ++
      (2001 to 2400).map(i => (i.toLong, s"new doc $i")))
      .toDF("doc_id", "text").withColumn("digest", md5(col("text")))
    val sk = IncrementalDedup.sketch(history, "digest",
      expectedItems = 1000L, fpp = 0.01)
    // sketch-only tier: every true dup gone (no false negatives)...
    val sketchKept = IncrementalDedup.filterUnseen(batch, sk, "digest")
      .select("doc_id").as[Long].collect().toSet
    assert(sketchKept.forall(_ >= 2001L))
    // ...and over-drop stays near fpp (generous 10x bound on 400 draws)
    assert(sketchKept.size >= 360)
    // exact tier: precisely the anti-join's rows
    val exactKept = IncrementalDedup.filterUnseenExact(batch, history,
      "digest", sk).select("doc_id").as[Long].collect().sorted.toSeq
    val oracle = batch.join(history.select("digest"), Seq("digest"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(exactKept === oracle)
    assert(exactKept === (2001L to 2400L))
  }

  test("length-band filter drops per-group outliers, tiers agree on bulk data") {
    // group g: tokens 1..10 — p25=3.25, p75=7.75 → keep 4..7
    val d = ((1 to 10).map(i => (i.toLong, "g", i.toLong)) :+
      ((99L, "h", 1000L))) // singleton group: its own band keeps it
      .toDF("doc_id", "lang", "n_tokens")
    val kept = CorpusStats.lengthBandFilter(d, "lang", "n_tokens",
      loQ = 0.25, hiQ = 0.75)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(4L, 5L, 6L, 7L, 99L))
    // exact and sketch tiers agree on a smooth distribution
    val big = spark.range(0, 20000).selectExpr("id AS doc_id",
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS lang",
      "CAST((id * 7919) % 997 AS BIGINT) AS n_tokens")
    val e = CorpusStats.lengthBandFilter(big, "lang", "n_tokens", 0.1, 0.9)
      .count()
    val a = CorpusStats.lengthBandFilter(big, "lang", "n_tokens", 0.1, 0.9,
      exact = false).count()
    assert(math.abs(e - a) <= e / 100) // within 1% of each other
  }

  test("approx corpus stats honor sketch error bounds against the exact tier") {
    // 60k docs across two uneven strata, spread token counts, thousands of
    // distinct sources — enough mass that HLL++ and t-digest errors are
    // meaningfully exercised, not trivially zero
    val d = spark.range(0, 60000).selectExpr(
      "id AS doc_id",
      "CASE WHEN id % 5 = 0 THEN 'de' ELSE 'en' END AS lang",
      "concat('s', id % 4001) AS source",
      "CAST((id * 7919) % 10007 + 1 AS BIGINT) AS n_tokens")
    val exact = CorpusStats.stats(d, "lang", "n_tokens", "source")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val accuracy = 100 // rank error 1/accuracy = 1% — tight but testable
    val approx = CorpusStats.approxStats(d, "lang", "n_tokens", "source",
      accuracy)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // exact-rank quantile envelope for the t-digest bound: value at
    // rank 0.5 ± 1/accuracy
    val env = d.groupBy("lang").agg(
      percentile(col("n_tokens"), lit(0.5 - 1.0 / accuracy)).as("lo"),
      percentile(col("n_tokens"), lit(0.5 + 1.0 / accuracy)).as("hi"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    for (lang <- Seq("en", "de")) {
      val (e, a) = (exact(lang), approx(lang))
      assert(a._2 === e._2, s"$lang n_docs must be exact")
      assert(a._3 === e._3, s"$lang total_tokens must be exact")
      // HLL++ at default precision documents ~2% rsd; allow 3 sigma
      val rsdBound = 0.06 * e._4
      assert(math.abs(a._4 - e._4) <= rsdBound,
        s"$lang distinct ${a._4} vs exact ${e._4} beyond ${rsdBound}")
      val (lo, hi) = env(lang)
      assert(a._5 >= lo && a._5 <= hi,
        s"$lang approx median ${a._5} outside exact-rank envelope [$lo, $hi]")
    }
  }

  test("connected components converge on chains and mark canonical survivors") {
    // a 5-vertex chain (needs several propagation rounds), a separate pair,
    // and a duplicate edge — components = min reachable id
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L),
      (10L, 11L)).toDF("a", "b")
    // maxLocalEdges = 0 forces the BSP rounds — this spec pins the
    // distributed propagation, not the size-gated local fast path
    val out = Dedup.connectedComponents(pairs, maxLocalEdges = 0)
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, comp, can) => id -> ((comp, can)) }.toMap
    assert(out === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 3L -> ((1L, false)),
      4L -> ((1L, false)), 5L -> ((1L, false)),
      10L -> ((10L, true)), 11L -> ((10L, false))))
  }

  test("repetition features: duplicate-word fraction and top-bigram share") {
    val d = docs(1L -> "a a a b", 2L -> "x y", 3L -> "solo")
    val out = TextAnalysis.repetition(d)
      .as[(Long, Int, Int, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) === ((4, 2, 0.5, 2.0 / 3)))  // "a a" twice of 3 bigrams
    assert(out(2L) === ((2, 2, 0.0, 1.0)))
    assert(out(3L) === ((1, 1, 0.0, 0.0)))      // no bigrams
  }

  test("connected components with reliable checkpoints match local results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_chk").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.connectedComponents(pairs, reliableCheckpoints = true,
      maxLocalEdges = 0)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("star-contraction components equal min-label BSP on random graphs (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    // self-loops INCLUDED (1..30 × 1..30 collides often): both variants
    // must keep self-loop-only ids as canonical singletons
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(1L, 30L), Gen.choose(1L, 30L)))
    val prop = forAll(edgeGen) { es =>
      val pairs = es.toDF("a", "b")
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Boolean)].collect()
          .map { case (id, c, can) => id -> ((c, can)) }.toMap
      val bsp = toMap(Dedup.connectedComponents(pairs, maxIter = 100,
        maxLocalEdges = 0))
      val stars = toMap(Dedup.connectedComponentsStars(pairs))
      val local = toMap(Dedup.connectedComponents(pairs)) // size-gated path
      (Prop(stars == bsp) :| s"stars=$stars bsp=$bsp edges=$es") &&
        (Prop(local == bsp) :| s"local=$local bsp=$bsp edges=$es")
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("self-loop-only ids survive both component variants as singletons") {
    // (7,7) has no real neighbors: the BSP's symmetric closure keeps it, and
    // the star variant must re-attach it after dropping the self-loop edge;
    // (1,1) ALSO has a real edge and must not be duplicated. With only
    // self-loops, or no pairs, the star variant has no edge to contract and
    // its round probe, pruned with the empty join, never reports.
    val cases = Seq(
      Seq((1L, 2L), (1L, 1L), (7L, 7L)) ->
        Map(1L -> ((1L, true)), 2L -> ((1L, false)), 7L -> ((7L, true))),
      Seq((7L, 7L)) -> Map(7L -> ((7L, true))),
      Seq.empty[(Long, Long)] -> Map.empty[Long, (Long, Boolean)])
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Boolean)].collect()
        .map { case (id, c, can) => id -> ((c, can)) }.toMap
    cases.foreach { case (ps, want) =>
      val pairs = ps.toDF("a", "b")
      assert(toMap(Dedup.connectedComponents(pairs)) === want) // local path
      assert(toMap(Dedup.connectedComponents(pairs, maxLocalEdges = 0)) === want)
      assert(toMap(Dedup.connectedComponentsStars(pairs)) === want, ps)
    }
  }

  test("components size gate routes exactly at the maxLocalEdges boundary") {
    // the gate counts SYMMETRIC closure edges (2× the distinct undirected
    // pairs here — no self-loops, no duplicates): 3 pairs → 6 edges.
    // At the threshold the local union-find runs (result plan is a
    // LocalRelation — driver-computed); one below, the BSP rounds run
    // (checkpoint-scan leaves). Labels are identical either way.
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def isLocalRoute(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Boolean)].collect()
        .map { case (id, c, can) => id -> ((c, can)) }.toMap
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val want = Map(1L -> ((1L, true)), 2L -> ((1L, false)),
      3L -> ((3L, true)), 4L -> ((3L, false)),
      5L -> ((5L, true)), 6L -> ((5L, false)))
    val atGate = Dedup.connectedComponents(pairs, maxLocalEdges = 6)
    assert(isLocalRoute(atGate), "6 edges at maxLocalEdges=6 must go local")
    assert(toMap(atGate) === want)
    val overGate = Dedup.connectedComponents(pairs, maxLocalEdges = 5)
    assert(!isLocalRoute(overGate), "6 edges at maxLocalEdges=5 must go BSP")
    assert(toMap(overGate) === want)
  }

  test("components fast path handles int and mixed int/long id columns") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def isLocalRoute(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
    // pure-int pairs: fast path eligible, and the OUTPUT keeps int ids
    // (the BSP route would — the local route must match its schema)
    val ints = Seq((1, 2), (2, 3), (9, 9)).toDF("a", "b")
    val outInt = Dedup.connectedComponents(ints)
    assert(isLocalRoute(outInt))
    assert(outInt.schema("id").dataType === IntegerType)
    assert(outInt.schema("component").dataType === IntegerType)
    assert(outInt.as[(Int, Int, Boolean)].collect().map(r => r._1 -> r._2)
      .toMap === Map(1 -> 1, 2 -> 1, 3 -> 1, 9 -> 9))
    // mixed int/long columns: the symmetric-closure union widens both
    // sides to long — still integral, still fast-path eligible, long out
    val mixed = Seq((1, 2L), (2, 3L)).toDF("a", "b")
      .select(col("a").cast("int").as("a"), col("b").as("b"))
    assert(mixed.schema("a").dataType === IntegerType)
    assert(mixed.schema("b").dataType === LongType)
    val outMixed = Dedup.connectedComponents(mixed)
    assert(isLocalRoute(outMixed))
    assert(outMixed.schema("id").dataType === LongType)
    assert(outMixed.as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._2).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // non-integral ids (strings) must never go local: min-label ordering
    // across engines is only pinned for integers
    val strs = Seq(("x", "y"), ("y", "z")).toDF("a", "b")
    val outStr = Dedup.connectedComponents(strs)
    assert(!isLocalRoute(outStr))
    assert(outStr.as[(String, String, Boolean)].collect()
      .map(r => r._1 -> r._2).toMap ===
      Map("x" -> "x", "y" -> "x", "z" -> "x"))
  }

  test("connectedComponents rejects a round budget below the observable minimum") {
    // maxIter counts the TWO rounds folded into initialization; convergence
    // is first observable on round 3, so maxIter <= 2 can never succeed —
    // it must fail fast at the API, not report a phantom non-convergence
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    for (bad <- Seq(1, 2)) {
      val e = intercept[IllegalArgumentException] {
        Dedup.connectedComponents(pairs, maxIter = bad)
      }
      assert(e.getMessage.contains("maxIter"))
    }
    // the minimum usable budget converges a diameter-<=2 graph (BSP forced)
    val out = Dedup.connectedComponents(pairs, maxIter = 3, maxLocalEdges = 0)
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, c, _) => id -> c }.toMap
    assert(out === Map(1L -> 1L, 2L -> 1L))
  }

  test("curation operators leave no cache entry behind") {
    // each call below forces one intermediate that several branches (or
    // rounds, or GD steps) read; it is an eager local checkpoint the
    // returned frame owns, or the caller's frame, so no call adds an entry
    // to the session's cache and a second call (nothing served from a
    // cache) returns the same rows
    val d = docs(1L -> "a b c d e f g", 2L -> "a b c d e f g",
      3L -> "x y z w q r s", 4L -> "a b c d e f h", 5L -> "the the the cat")
    val langed = d.withColumn("lang", lit("en"))
    val grouped = d.select(
      concat(lit("s"), (col("doc_id") % 2).cast("string")).as("grp"),
      col("text"))
    val q = Seq((0, "a b"), (1, "x cat")).toDF("query_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 6L)).toDF("a", "b")
    val feats = QualityModel.features(d, 4,
      array_contains(TextAnalysis.tokens(col("text")), "a"))
    val sites: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "connectedComponents" -> (() => Dedup.connectedComponents(pairs)),
      "connectedComponents BSP" -> (() =>
        Dedup.connectedComponents(pairs, maxLocalEdges = 0)),
      "connectedComponentsStars" -> (() => Dedup.connectedComponentsStars(pairs)),
      "QualityModel.train" -> (() =>
        QualityModel.train(feats, 4, iters = 2, lr = 4.0).toSeq.toDF("w")),
      "cacheHashedPostings" -> (() => Dedup.cacheHashedPostings(d)),
      "jaccardPairs capped" -> (() =>
        Dedup.jaccardPairs(d, 0.5, maxShingleDf = Some(10))),
      "jaccardPairs" -> (() => Dedup.jaccardPairs(d, 0.5)),
      "minhashLshPairs" -> (() => Dedup.minhashLshPairs(d)),
      "minhashMatrix" -> (() => Dedup.minhashMatrix(grouped, "grp")),
      "minhashCalibration" -> (() => Dedup.minhashCalibration(d)),
      "subsampleTokens" -> (() => TextAnalysis.subsampleTokens(d)),
      "negativeSamples" -> (() => TextAnalysis.negativeSamples(
        TextAnalysis.skipGramPairs(d, window = 2), d, k = 2)),
      "scoreDocuments" -> (() => LanguageModel.scoreDocuments(d,
        LanguageModel.ngramCounts(d))),
      "scoreDocumentsUnigram" -> (() => LanguageModel.scoreDocumentsUnigram(d,
        LanguageModel.unigramCounts(d))),
      "scoreDocumentsKn" -> (() => LanguageModel.scoreDocumentsKn(d,
        LanguageModel.ngramCounts(d))),
      "perplexityBuckets" -> (() => LanguageModel.perplexityBuckets(langed,
        LanguageModel.ngramCounts(langed))),
      "bm25TopK" -> (() => Retrieval.bm25TopK(d, q, k = 2)),
      "duplicatedSpans" -> (() => SubstringDedup.duplicatedSpans(d, k = 3)))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val before = org.apache.spark.sql.CacheProbe.entries(spark)
    sites.foreach { case (name, site) =>
      val first = rows(site())
      assert(org.apache.spark.sql.CacheProbe.entries(spark) === before,
        s"$name left a cache entry")
      assert(rows(site()) === first, s"$name: a second call differs")
    }
  }

  test("gopher rules: each tripwire fails exactly the offending doc") {
    val good = ("the be " + Seq.fill(48)("word").mkString(" "))   // 50 words
    val short = "the be cat"                                      // word floor
    val symbols = ("the be " + Seq.fill(48)("#tag").mkString(" "))// 48 '#' / 50
    val numeric = ("the be " + Seq.fill(48)("1234").mkString(" "))// alpha 2/50
    val noStop = Seq.fill(50)("word").mkString(" ")               // 0 stopwords
    val longWords = ("the be " +
      Seq.fill(48)("w" * 12).mkString(" "))                       // mean > 10
    val d = docs(1L -> good, 2L -> short, 3L -> symbols,
      4L -> numeric, 5L -> noStop, 6L -> longWords)
    val out = TextAnalysis.gopherRules(d)
      .select(col("doc_id"), col("gopher_keep"))
      .as[(Long, Boolean)].collect().toMap
    assert(out === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> false))
    // spot-check the metrics behind doc 1 and doc 3's verdicts
    val m = TextAnalysis.gopherRules(d)
      .as[(Long, Int, Double, Double, Double, Int, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(m(1L)._2 === 50)                    // n_words
    assert(m(1L)._3 === (3 + 2 + 48 * 4) / 50.0) // mean word len
    assert(m(3L)._4 === 48 / 50.0)             // symbol-to-word ratio
    assert(m(1L)._6 === 2)                     // stopword hits
  }

  test("native gopher stats equal the HOF aggregate/filter chain (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    import graft.functions.GopherStats
    import org.apache.spark.unsafe.types.UTF8String
    // static tier vs a plain-Scala reference of the HOF semantics:
    // length() counts codepoints, rlike("[a-zA-Z]") is ASCII-only,
    // stopword match is unicode lower() equality
    val stop = Set("the", "be", "to", "of", "and", "that", "have", "with")
    def ref(s: String): (Int, Long, Int, Int) = {
      val toks = s.split("\\s+").filter(_.nonEmpty).toSeq
      (toks.length,
        toks.map(t => t.codePointCount(0, t.length).toLong).sum,
        toks.count(_.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))),
        toks.count(t => stop(t.toLowerCase)))
    }
    val wordGen = Gen.frequency(
      6 -> Gen.oneOf("the", "BE", "To", "word", "123", "#!?", "é中ß", "K"),
      1 -> Gen.alphaNumStr.suchThat(_.nonEmpty))
    val textGen = for {
      ws <- Gen.listOf(wordGen)
      sep <- Gen.oneOf(" ", "  ", "\t", "\n ")
    } yield ws.mkString(sep)
    val prop = forAll(textGen) { s =>
      val r = GopherStats.stats(UTF8String.fromString(s))
      val got = (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3))
      Prop(got === ref(s)) :| s"s=$s got=$got want=${ref(s)}"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
    // engine tier: the codegen'd gopherColumns equal the HOF formulation
    val sample = Seq("", "  ", "the be to of and that have with",
      "THE cat # ... ..... x1 é中", "K be the")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = sample.toDF("doc_id", "text")
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
    val gopherStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val both = df.select(
        struct(TextAnalysis.gopherColumns(col("text"), 3, 40)
          .map { case (n, c) => c.as(n) }: _*).as("fast"),
        struct(
          size(col("__toks")).as("n_words"),
          aggregate(col("__toks"), lit(0L), (acc, t) => acc + length(t))
            .as("char_sum"),
          size(filter(col("__toks"), t => t.rlike("[a-zA-Z]"))).as("n_alpha"),
          size(filter(col("__toks"),
            t => gopherStop.map(s => lower(t) === s).reduce(_ || _)))
            .as("n_stop")).as("ref"))
      .collect()
    both.foreach { row =>
      val f = row.getStruct(0); val r = row.getStruct(1)
      assert(f.getAs[Int]("n_words") === r.getAs[Int]("n_words"))
      assert(f.getAs[Int]("n_gopher_stopwords") === r.getAs[Int]("n_stop"))
      val nw = r.getAs[Int]("n_words")
      val want = if (nw > 0) r.getAs[Long]("char_sum").toDouble / nw else 0.0
      assert(f.getAs[Double]("mean_word_len") === want)
      val wantAlpha = if (nw > 0) r.getAs[Int]("n_alpha").toDouble / nw else 0.0
      assert(f.getAs[Double]("alpha_word_frac") === wantAlpha)
    }
  }

  test("gopher rules: ellipsis counting is non-overlapping like replace") {
    // "....." (5 dots) contains ONE non-overlapping '...' occurrence
    val d = docs(1L -> ("the be " + Seq.fill(48)("word").mkString(" ") +
      " ....."))
    val r = TextAnalysis.gopherRules(d)
      .as[(Long, Int, Double, Double, Double, Int, Boolean)].collect().head
    // 51 words now; 1 ellipsis / 51 words
    assert(r._2 === 51)
    assert(r._4 === 1 / 51.0)
  }

  test("native pq encode + adc dist equal the HOF folds (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    import graft.functions.PqExprs
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // plain-Scala reference of the HOF semantics: per subspace, argmin of
    // index-order (a-b)^2 sums with strict-< (ties to lowest cell)
    def refEncode(vec: Seq[Double], books: Seq[Seq[Seq[Double]]]): Seq[Int] =
      books.zipWithIndex.map { case (cells, j) =>
        var best = Double.MaxValue; var bestCell = -1
        cells.zipWithIndex.foreach { case (cent, c) =>
          val off = j * cent.length
          if (off + cent.length <= vec.length) {
            var acc = 0.0
            cent.indices.foreach { i =>
              val d = vec(off + i) - cent(i); acc += d * d }
            if (acc < best) { best = acc; bestCell = c }
          }
        }
        bestCell
      }
    val dimGen = Gen.choose(1, 3)
    val gen = for {
      subDim <- dimGen
      m <- Gen.choose(1, 3)
      nCells <- Gen.choose(1, 4)
      vec <- Gen.listOfN(subDim * m, Gen.choose(-3, 3).map(_.toDouble))
      books <- Gen.listOfN(m, Gen.listOfN(nCells,
        Gen.listOfN(subDim, Gen.choose(-3, 3).map(_.toDouble))))
    } yield (vec, books)
    def arr(xs: Seq[Double]) = new GenericArrayData(xs.toArray[Any])
    val prop = forAll(gen) { case (vec, books) =>
      val booksArr = new GenericArrayData(books.map(cells =>
        new GenericArrayData(cells.map(c => arr(c)).toArray[Any])).toArray[Any])
      val got = PqExprs.encode(arr(vec), booksArr)
      val gotSeq = (0 until got.numElements()).map(got.getInt)
      val want = refEncode(vec, books)
      (Prop(gotSeq === want) :| s"encode vec=$vec books=$books got=$gotSeq") && {
        // adc: tables[j][codes[j]] summed, null when any code is -1/oob
        val tables = books.map(_.map(_.sum)) // any per-cell doubles work
        val tArr = new GenericArrayData(tables.map(t => arr(t)).toArray[Any])
        val cArr = new GenericArrayData(want.toArray[Any])
        val gotD = PqExprs.adcDist(cArr, tArr)
        val wantD: Any =
          if (want.exists(c => c < 0)) null
          else want.zipWithIndex.map { case (c, j) => tables(j)(c) }.sum
        Prop((gotD: Any) === wantD) :| s"adc codes=$want got=$gotD want=$wantD"
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("product quantization: codebooks, codes, and ADC by hand (2-D, m=2)") {
    // two 2-dim subspaces; per subspace k=2 k-means over 4 points
    val vecs = Seq(
      (0L, Seq(0.0, 0.0, 10.0, 10.0)),
      (1L, Seq(1.0, 1.0, 11.0, 11.0)),
      (2L, Seq(10.0, 10.0, 0.0, 0.0)),
      (3L, Seq(11.0, 11.0, 1.0, 1.0))).toDF("vec_id", "embedding")
    val books = ProductQuantization.fit(vecs, dim = 4, m = 2, k = 2, iters = 3)
    val b = books.as[(Int, Int, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // subspace 0 (dims 0-1): points (0,0),(1,1),(10,10),(11,11), seeds the
    // two lowest-id subvectors (0,0),(1,1) — Lloyd settles at (0.5,0.5)
    // and (10.5,10.5). Subspace 1 (dims 2-3) sees the same point set with
    // seeds (10,10),(11,11); round 1 pulls cell 0's mean to (11/3, 11/3),
    // round 2 hands (10,10) to cell 1 — cell 0 DRIFTS to the (0,0)/(1,1)
    // cluster and the final centroids match subspace 0's.
    assert(b === Map(
      (0, 0) -> Seq(0.5, 0.5), (0, 1) -> Seq(10.5, 10.5),
      (1, 0) -> Seq(0.5, 0.5), (1, 1) -> Seq(10.5, 10.5)))
    val codes = ProductQuantization.encode(vecs, books, m = 2)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes === Map(
      0L -> Seq(0, 1), 1L -> Seq(0, 1), 2L -> Seq(1, 0), 3L -> Seq(1, 0)))
    // ADC for query 0: vec0/vec1 share codes [0,1] → adc 0.5+0.5 = 1.0
    // each, tie broken by vec_id; vec2/vec3 are far in both subspaces
    val adc = ProductQuantization.adcTopK(
      ProductQuantization.encode(vecs, books, m = 2),
      vecs.filter(col("vec_id") === 0L), books, m = 2, k = 2)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(adc.map(r => (r._2, r._3, r._4)).toSeq ===
      Seq((1, 0L, 1.0), (2, 1L, 1.0)))
  }

  test("product quantization: encode matches per-subspace kmeans assign") {
    // random-ish deterministic vectors; encode's in-row argmin must equal
    // running KMeans.assign per subspace on the sliced vectors
    val vecs = (0L until 20L).map { i =>
      (i, Seq.tabulate(6)(d => ((i * 7 + d * 3) % 11).toDouble))
    }.toDF("vec_id", "embedding")
    val m = 3
    val books = ProductQuantization.fit(vecs, dim = 6, m = m, k = 4, iters = 2)
    val codes = ProductQuantization.encode(vecs, books, m = m)
      .as[(Long, Seq[Int])].collect().toMap
    for (j <- 0 until m) {
      val sub = vecs.select(col("vec_id"),
        slice(col("embedding"), j * 2 + 1, 2).as("embedding"))
      val want = KMeans.assign(sub,
        books.filter(col("subspace") === j).select(col("cell"), col("centroid")))
        .as[(Long, Int, Double)].collect().map(r => r._1 -> r._2).toMap
      for ((id, cs) <- codes)
        assert(cs(j) === want(id), s"vec $id subspace $j")
    }
  }

  test("group cap: two-phase funnel equals the single window (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val rowsGen = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(1L, 1000L), Gen.oneOf("web", "books", "code"))))
    val prop = forAll(rowsGen) { rows =>
      val df = rows.distinct.toDF("doc_id", "source")
      def keep(sub: Int) =
        Sampling.groupCap(df, "source", maxPerGroup = 3,
          keyCol = "doc_id", salt = "t", subPartitions = sub)
          .as[(Long, String)].collect().toSet
      val want = keep(1)
      Prop(keep(4) == want && keep(7) == want) :| s"single=$want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("group cap keeps at most the quota per group, deterministically") {
    val df = (1L to 50L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    val out = Sampling.groupCap(df, "source", maxPerGroup = 5,
      keyCol = "doc_id", salt = "x", subPartitions = 4)
      .as[(Long, String)].collect()
    assert(out.groupBy(_._2).forall(_._2.length == 5))
    // pure function of the corpus: a second run keeps the identical set
    val again = Sampling.groupCap(df, "source", maxPerGroup = 5,
      keyCol = "doc_id", salt = "x", subPartitions = 4)
      .as[(Long, String)].collect()
    assert(out.toSet === again.toSet)
    // groups under quota pass through whole
    val small = Sampling.groupCap(df, "source", maxPerGroup = 100,
      keyCol = "doc_id", salt = "x").count()
    assert(small === 50)
  }

  test("kmeans: Lloyd trajectory and final assignment by hand (1-D)") {
    // ids 0..3 at 0, 1, 10, 11; k=2 seeds cells at [0.0] and [1.0].
    // Round 1: {0} vs {1,10,11} → means 0 and 22/3; round 2: {0,1} vs
    // {10,11} → 0.5 and 10.5; round 3: fixed point.
    val vecs = Seq((0L, Seq(0.0)), (1L, Seq(1.0)), (2L, Seq(10.0)),
      (3L, Seq(11.0))).toDF("vec_id", "embedding")
    val cents = KMeans.fit(vecs, k = 2, iters = 3)
      .as[(Int, Seq[Double])].collect().toMap
    assert(cents === Map(0 -> Seq(0.5), 1 -> Seq(10.5)))
    val asg = KMeans.assign(vecs, KMeans.fit(vecs, k = 2, iters = 3))
      .as[(Long, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(asg === Map(0L -> ((0, 0.25)), 1L -> ((0, 0.25)),
      2L -> ((1, 0.25)), 3L -> ((1, 0.25))))
    // one intermediate round, checked against the hand trajectory
    val after1 = KMeans.fit(vecs, k = 2, iters = 1)
      .as[(Int, Seq[Double])].collect().toMap
    assert(after1(0) === Seq(0.0))
    assert(after1(1) === Seq(22.0e9.floor / (3 * 1e9))) // fixed-point 22/3
  }

  test("kmeans local fast path equals the distributed rounds (r16)") {
    // same seeds, same round count: the driver replay (default gate) and
    // the per-round distributed loop (maxLocalRows = 0) must be
    // bit-identical — centroids are doubles, so this pins the IEEE op
    // sequence, not just approximate agreement
    val rnd = new scala.util.Random(13)
    val vecs = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(6)(rnd.nextDouble() * 4 - 2)))
      .toDF("vec_id", "embedding")
    val local = KMeans.fit(vecs, k = 5, iters = 3)
      .as[(Int, Seq[Double])].collect().toMap
    val dist = KMeans.fit(vecs, k = 5, iters = 3, maxLocalRows = 0L)
      .as[(Int, Seq[Double])].collect().toMap
    assert(local === dist)
    // the keyed joint fit (PQ shape) replays identically too: compare
    // codebooks from the gated path against per-subspace solo fits, the
    // existing equivalence contract
    val books = ProductQuantization.fit(vecs, dim = 6, m = 3, k = 3,
        iters = 2)
      .as[(Int, Int, Seq[Double])].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    for (j <- 0 until 3) {
      val slice = vecs.select(col("vec_id"),
        org.apache.spark.sql.functions.slice(
          col("embedding"), j * 2 + 1, 2).as("embedding"))
      val solo = KMeans.fit(slice, k = 3, iters = 2, maxLocalRows = 0L)
        .as[(Int, Seq[Double])].collect().toMap
      solo.foreach { case (cell, c) =>
        assert(books((j, cell)) === c, s"subspace $j cell $cell")
      }
    }
  }

  test("kmeans: empty cells keep their previous centroid") {
    val vecs = Seq((0L, Seq(0.0)), (1L, Seq(1.0))).toDF("vec_id", "embedding")
    val far = Seq((0, Seq(0.4)), (1, Seq(100.0))).toDF("cell", "centroid")
    val out = KMeans.lloyd(vecs, far)
      .as[(Int, Seq[Double])].collect().toMap
    assert(out === Map(0 -> Seq(0.5), 1 -> Seq(100.0)))
  }

  test("kmeans: equidistant vectors break ties to the lowest cell") {
    val vecs = Seq((7L, Seq(0.5))).toDF("vec_id", "embedding")
    val cents = Seq((0, Seq(0.0)), (1, Seq(1.0))).toDF("cell", "centroid")
    val out = KMeans.assign(vecs, cents)
      .as[(Long, Int, Double)].collect().toSeq
    assert(out === Seq((7L, 0, 0.25)))
  }

  test("kmeans representatives: nearest member per cell, ties to lowest id") {
    // fitted cells from the 1-D hand case: {0,1}→0.5 and {2,3}→10.5;
    // id 0 and id 1 are EQUIDISTANT from 0.5 → tie breaks to id 0
    val vecs = Seq((0L, Seq(0.0)), (1L, Seq(1.0)), (2L, Seq(10.0)),
      (3L, Seq(11.0))).toDF("vec_id", "embedding")
    val reps = KMeans.representatives(vecs, KMeans.fit(vecs, k = 2, iters = 3))
      .as[(Int, Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(reps === Seq((0, 0L, 0.25, 2L), (1, 2L, 0.25, 2L)))
    // property: the representative IS the assignment-frame argmin and
    // counts sum to the corpus
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = KMeans.fit(e, k = 4, iters = 2)
    val asg = KMeans.assign(e, cents)
      .as[(Long, Int, Double)].collect()
    val want = asg.groupBy(_._2).map { case (c, ms) =>
      val best = ms.minBy(m => (m._3, m._1))
      c -> ((best._1, ms.length.toLong))
    }
    val got = KMeans.representatives(e, cents)
      .as[(Int, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    assert(got === want)
    assert(got.values.map(_._2).sum === asg.length.toLong)
  }

  test("semdedup: hand case — in-cell cosine prune keeps the lowest id") {
    // Lloyd (k=2) converges to cells {0,1,2} (y-axis) and {3,4} (x≈10).
    // Within the y-axis cell, v1 and v2 are colinear with v0 (cos = 1.0)
    // → dropped; within the far cell cos(v3, v4) = 100/(10·√101) ≈ 0.995.
    val vecs = Seq(
      (0L, Seq(0.0, 1.0)), (1L, Seq(0.0, 2.0)), (2L, Seq(0.0, 3.0)),
      (3L, Seq(10.0, 0.0)), (4L, Seq(10.0, 1.0))
    ).toDF("vec_id", "embedding")
    val out = SemDedup.prune(vecs, k = 2, iters = 3, threshold = 0.9)
      .as[(Long, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L)._2 === 1 && out(3L)._2 === 1) // cell minima always keep
    assert(out(1L)._2 === 0 && out(2L)._2 === 0 && out(4L)._2 === 0)
    assert(out(0L)._1 === out(1L)._1 && out(1L)._1 === out(2L)._1)
    assert(out(3L)._1 === out(4L)._1)
    assert(out(0L)._1 !== out(3L)._1)
    // tighten the threshold past cos(v3, v4): v4 survives, colinears don't
    val tight = SemDedup.prune(vecs, k = 2, iters = 3, threshold = 0.999)
      .as[(Long, Int, Int)].collect().map(r => r._1 -> r._3).toMap
    assert(tight === Map(0L -> 1, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1))
  }

  test("fuzzy decontamination: LSH candidates verified by exact jaccard") {
    // train doc 1 is a light edit of bench doc 100 (high jaccard);
    // train doc 2 shares nothing with the bench
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val train = Seq(
      (1L, base + " tonight"),
      (2L, "completely unrelated content about spark shuffles and joins")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val hits = Decontaminate.fuzzyOverlap(train, bench, threshold = 0.5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(hits.map(h => (h._1, h._2)) === Seq((1L, 100L)))
    val (_, _, nc, j) = hits.head
    // exact jaccard by hand: shingle sets of the two texts
    def shingles(t: String): Set[String] = {
      val ts = t.split("\\s+").filter(_.nonEmpty).toSeq
      if (ts.size >= 3) ts.sliding(3).map(_.mkString(" ")).toSet
      else Set(ts.mkString(" "))
    }
    val (sa, sb) = (shingles(base + " tonight"), shingles(base))
    val inter = (sa & sb).size
    assert(nc === inter.toLong)
    assert(j === inter.toDouble / (sa.size + sb.size - inter).toDouble)
    // a threshold above the true jaccard rejects the candidate
    assert(Decontaminate.fuzzyOverlap(train, bench, threshold = j + 0.01)
      .count() === 0L)
  }

  test("keep-best: quality rule keeps the longest member, ties to lowest id") {
    // components: {1,2,3} and {10,11}; 4 is untouched (no edges)
    val comps = Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)
    ).toDF("id", "component", "is_canonical")
    val docs = Seq(
      (1L, "a b"), (2L, "a b c d"), (3L, "a b c"),   // longest = 2
      (10L, "x y"), (11L, "p q"),                     // tie → lowest id 10
      (4L, "solo")
    ).toDF("doc_id", "text")
    val kept = Dedup.applyKeepListBest(docs, comps,
        TextAnalysis.tokenCount(col("text")).cast("long"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept === Set(2L, 10L, 4L))
    // min-id rule for contrast: same clusters, different keepers
    val minKept = Dedup.applyKeepList(docs, comps)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(minKept === Set(1L, 10L, 4L))
  }

  test("keep-k: top-k per cluster by rank; k=1 equals keep-best") {
    val comps = Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)
    ).toDF("id", "component", "is_canonical")
    val docs = Seq(
      (1L, "a b"), (2L, "a b c d"), (3L, "a b c"),   // rank: 2 > 3 > 1
      (10L, "x y"), (11L, "p q"),                     // tie → id order 10, 11
      (4L, "solo")
    ).toDF("doc_id", "text")
    val q = TextAnalysis.tokenCount(col("text")).cast("long")
    // k=2: {1,2,3} keeps {2,3}; {10,11} keeps both; 4 untouched
    val k2 = Dedup.applyKeepListK(docs, comps, q, k = 2)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(k2 === Set(2L, 3L, 10L, 11L, 4L))
    // k beyond the largest cluster removes nothing
    val k9 = Dedup.applyKeepListK(docs, comps, q, k = 9)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(k9 === Set(1L, 2L, 3L, 10L, 11L, 4L))
    // k=1 degenerates to keep-best exactly (same (−rank, id) order)
    val k1 = Dedup.applyKeepListK(docs, comps, q, k = 1)
      .select(col("doc_id")).as[Long].collect().toSet
    val best = Dedup.applyKeepListBest(docs, comps, q)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(k1 === best)
    // the report's keep-k budget column prices the same policy:
    // sizes 3 and 2 at k=2 remove 1 and 0
    val rep = Dedup.componentSizeReport(comps, keepK = 2)
      .orderBy(col("component_size"))
      .select("component_size", "n_removed", "n_removed_at_k")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rep === Seq((2L, 1L, 0L), (3L, 2L, 1L)))
    intercept[IllegalArgumentException] {
      Dedup.applyKeepListK(docs, comps, q, k = 0)
    }
  }

  test("packing efficiency: hand-computed sweep row and concatSlice consistency") {
    val d = docs(1L -> "a b c", 2L -> "a b c d e", 3L -> "a b")
    val lens = d.select(col("doc_id"),
      size(graft.functions.WordShingles.allShingles(col("text"), 1))
        .cast("long").as("len"))
    // one bucket → stream offsets are the plain prefix sums 0, 4, 10;
    // stream = 13 (each doc pays one <eod>)
    val row = Packing.packingEfficiency(lens, "len", Seq(4), "doc_id",
        numBuckets = 1)
      .select("seq_len", "n_docs", "total_tokens", "n_oversize",
        "overflow_tokens", "lb_sequences", "lb_padding",
        "concat_sequences", "concat_tail_tokens", "n_straddle")
      .as[(Int, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // L=4: oversize = {doc 2 (5 > 4)}, overflow = 1, fit = 3+4+2 = 9,
    // lb = ⌈9/4⌉ = 3, lb_padding = 12−9 = 3; concat: ⌊13/4⌋ = 3 full,
    // tail 1; straddles: doc 2 spans [4,10) and doc 3 spans [10,13)
    assert(row === Seq((4, 3L, 10L, 1L, 1L, 3L, 3L, 3L, 1L, 2L)))
    // the concat metrics ARE concatSlice's: same bucketing, same stream
    val sliced = Packing.concatSlice(d, seqLen = 4, numBuckets = 1)
    assert(sliced.filter(col("n_tokens") === 4).count() === 3L)
    assert(sliced.filter(col("n_tokens") < 4)
      .agg(sum(col("n_tokens"))).as[Long].head() === 1L)
    intercept[IllegalArgumentException] {
      Packing.packingEfficiency(lens, "len", Seq(4, 4), "doc_id")
    }
  }

  test("nn leakage: max-cosine train neighbor, ties to lowest id, threshold verdict") {
    val train = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),  // both at cos 1 to bench 100
      (3L, Seq(0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Seq(2.0, 0.0)),                      // scale-invariant: cos 1
      (101L, Seq(-1.0, 1.0))                      // best is 3 at cos 1/√2
    ).toDF("vec_id", "embedding")
    val got = Similarity.nnLeakageReport(train, bench, threshold = 0.9)
      .orderBy(col("doc_id"))
      .select("doc_id", "neighbor_id", "max_cos", "leaked")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._4)) ===
      Seq((100L, 1L, true), (101L, 3L, false)))
    assert(got(0)._3 === 1.0)
    assert(math.abs(got(1)._3 - 1.0 / math.sqrt(2)) < 1e-15)
    // agrees with the window-based brute-force top-1 on the same split
    val bf = Similarity.bruteForceTopK(train, bench, k = 1)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toMap
    assert(got.map(r => (r._1, r._2)).toMap === bf)
  }

  test("ivfpq: joint fit is bit-identical to the solo trainers") {
    val vecs = (0L until 20L).map { i =>
      (i, Seq(math.sin(i * 0.7) * 3, math.cos(i * 1.3) * 2,
        math.sin(i * 2.1) - 1, math.cos(i * 0.4) + 2))
    }.toDF("vec_id", "embedding")
    val (coarse, books) = ProductQuantization.ivfPqFit(vecs, dim = 4, m = 2,
      coarseK = 3, pqK = 2, iters = 2)
    val wantCoarse = KMeans.fit(vecs, k = 3, iters = 2)
      .as[(Int, Seq[Double])].collect().toMap
    val gotCoarse = coarse.as[(Int, Seq[Double])].collect().toMap
    assert(gotCoarse === wantCoarse)
    val wantBooks = ProductQuantization.fit(vecs, dim = 4, m = 2, k = 2,
        iters = 2)
      .as[(Int, Int, Seq[Double])].collect().toSet
    val gotBooks = books.as[(Int, Int, Seq[Double])].collect().toSet
    assert(gotBooks === wantBooks)
  }

  test("ivfpq: composition matches a plain-Scala rerank of probed candidates") {
    val raw = (0L until 12L).map { i =>
      (i, Seq((i % 5).toDouble + 0.1 * i, ((i * 3) % 7).toDouble - 0.05 * i))
    }
    val vecs = raw.toDF("vec_id", "embedding")
    val coarseDf = KMeans.fit(vecs, k = 3, iters = 2)
    val booksDf = ProductQuantization.fit(vecs, dim = 2, m = 2, k = 2, iters = 2)
    val got = ProductQuantization.ivfPqTopK(vecs,
        vecs.filter(col("vec_id") < 3), coarseDf, booksDf,
        m = 2, k = 4, nProbe = 2)
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted

    val coarse = coarseDf.as[(Int, Seq[Double])].collect().toMap
    val books = booksDf.as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    def sq(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val byId = raw.toMap
    def argmin(cands: Seq[(Int, Double)]): Int =
      cands.minBy { case (c, d) => (d, c) }._1
    def asg(v: Seq[Double]): Int =
      argmin(coarse.toSeq.map { case (c, cent) => c -> sq(v, cent) })
    def codes(v: Seq[Double]): Seq[Int] = (0 until 2).map { j =>
      val sub = v.slice(j, j + 1)
      argmin(books(j).zipWithIndex.map { case (cent, c) => c -> sq(sub, cent) })
    }
    val want = (0L until 3L).flatMap { q =>
      val qv = byId(q)
      val probed = coarse.toSeq.map { case (c, cent) => (c, sq(qv, cent)) }
        .sortBy { case (c, d) => (d, c) }.take(2).map(_._1).toSet
      val cand = raw.filter { case (id, v) => id != q && probed(asg(v)) }
      val scored = cand.map { case (id, v) =>
        val cs = codes(v)
        val adc = (0 until 2).foldLeft(0.0) { (acc, j) =>
          acc + sq(qv.slice(j, j + 1), books(j)(cs(j))) }
        (id, adc)
      }
      scored.sortBy { case (id, d) => (d, id) }.take(4).zipWithIndex
        .map { case ((id, d), i) => (q, i + 1, id, d) }
    }.sorted
    assert(got === want)
  }

  test("dsir: importance weights match a plain-Scala reference bit-exactly") {
    val corpus = Seq(
      (0L, "spark table scan join", "en"), (1L, "der die und ist", "de"),
      (2L, "spark join fast", "en"), (3L, "la de y el", "es"),
      (4L, "spark table join fast scan", "en"), (5L, "", "de"),
      (6L, "der und spark", "de"))
    val docs = corpus.toDF("doc_id", "text", "lang")
    val B = 16
    val got = Dsir.importanceWeights(docs, docs.filter(col("lang") === "en"),
        numBuckets = B)
      .as[(Long, Long, Long)].collect().toSeq.sorted

    def grams(t: String): Seq[String] = {
      val ts = t.split("\\s+").filter(_.nonEmpty).toSeq
      ts ++ ts.zip(ts.drop(1)).map { case (a, b) => s"$a $b" }
    }
    def bucket(g: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest((g + ":dsir").getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(6)
      java.lang.Long.parseLong(hex, 16) % B
    }
    val rawB = corpus.flatMap { case (_, t, _) => grams(t).map(bucket) }
    val tgtB = corpus.filter(_._3 == "en")
      .flatMap { case (_, t, _) => grams(t).map(bucket) }
    val cr = rawB.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = tgtB.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (tr, tt) = (rawB.size.toLong, tgtB.size.toLong)
    val ratio = cr.map { case (b, c) =>
      b -> math.round((math.log((ct.getOrElse(b, 0L).toDouble + 1.0) /
        (tt.toDouble + 1.0 * B.toDouble)) -
        math.log((c.toDouble + 1.0) / (tr.toDouble + 1.0 * B.toDouble))) * 1e6)
    }
    val want = corpus.map { case (id, t, _) =>
      val bs = grams(t).map(bucket)
      (id, bs.size.toLong, bs.map(ratio).sum)
    }.sorted
    assert(got === want)
    // the empty document scores zero with zero features
    assert(got.find(_._1 == 5L).get === ((5L, 0L, 0L)))
    // identical text ⇒ identical weight regardless of the doc's own lang
    val twin = Seq((10L, "spark join fast", "de"), (11L, "spark join fast", "en"))
      .toDF("doc_id", "text", "lang")
    val tw = Dsir.importanceWeights(docs.unionByName(twin),
        docs.filter(col("lang") === "en"), numBuckets = B)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(tw(10L) === tw(11L))
    assert(tw(10L) === tw(2L))
  }

  test("dsir: stateless map-fold scoring equals the batch join path") {
    val corpus = Seq(
      (0L, "spark table scan join", "en"), (1L, "der die und ist", "de"),
      (2L, "spark join fast", "en"), (3L, "la de y el", "es"),
      (4L, "", "de"), (5L, "der und spark", "de"))
    val docs = corpus.toDF("doc_id", "text", "lang")
    val B = 16
    val tgt = docs.filter(col("lang") === "en")
    val batch = Dsir.importanceWeights(docs, tgt, numBuckets = B)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val stateless = Dsir.scoreStateless(docs,
        Dsir.ratioTable(docs, tgt, numBuckets = B), numBuckets = B)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(stateless === batch)
    // a doc with model-unseen grams: unseen buckets contribute nothing
    val fresh = Seq((9L, "zzz qqq spark")).toDF("doc_id", "text")
    val f = Dsir.scoreStateless(fresh,
        Dsir.ratioTable(docs, tgt, numBuckets = B), numBuckets = B)
      .as[(Long, Long, Long)].collect().head
    assert(f._2 <= 5L) // ≤ grams("zzz qqq spark") = 5, minus unseen buckets
  }

  test("bm25: matches a plain-Scala reference bit-exactly; funnel is exact") {
    val corpus = Seq(
      (0L, "a b a"), (1L, "b c"), (2L, "c c c c"), (3L, "d d a c"),
      (4L, "e"), (5L, "a a a a a a b"))
    val queryset = Seq((0, "a c"), (1, "d"), (2, "zzz"))
    val docs = corpus.toDF("doc_id", "text")
    val qdf = queryset.toDF("query_id", "text")
    val got = Retrieval.bm25TopK(docs, qdf, k = 3)
      .as[(Int, Int, Long, Long, Long)].collect().toSeq.sorted

    // reference: same formula, same double op order, plain Scala
    val toks = corpus.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val nd = corpus.size.toLong
    val avgdl = toks.values.map(_.size).sum.toDouble / nd.toDouble
    val want = queryset.flatMap { case (qid, qtext) =>
      val terms = qtext.split("\\s+").filter(_.nonEmpty).distinct
      val perDoc = corpus.flatMap { case (did, _) =>
        val tl = toks(did)
        val contribs = terms.flatMap { term =>
          val tf = tl.count(_ == term).toLong
          if (tf == 0) None else {
            val df = corpus.count { case (d2, _) => toks(d2).contains(term) }.toLong
            val idf = math.log(((nd - df).toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)
            val tfn = (tf.toDouble * (1.2 + 1.0)) /
              (tf.toDouble + 1.2 * (1.0 - 0.75 + 0.75 * (tl.size.toDouble / avgdl)))
            Some(math.round(idf * tfn * 1e6))
          }
        }
        if (contribs.isEmpty) None
        else Some((did, contribs.length.toLong, contribs.sum))
      }
      perDoc.sortBy { case (did, _, s) => (-s, did) }.take(3).zipWithIndex
        .map { case ((did, nt, s), i) => (qid, i + 1, did, nt, s) }
    }.sorted
    assert(got === want)
    assert(!got.exists(_._1 === 2)) // no-hit query retrieves nothing
    // the two-phase funnel is lossless
    val funneled = Retrieval.bm25TopK(docs, qdf, k = 3, subPartitions = 4)
      .as[(Int, Int, Long, Long, Long)].collect().toSeq.sorted
    assert(funneled === got)
  }

  test("semdedup: dropped rows always have a lower-id in-cell witness") {
    // invariants on a corpus with no engineered structure: every drop has
    // a lower-id same-cell neighbor at/over the threshold, every keep has
    // none, and threshold > 1 keeps everything (cosine can't exceed 1).
    val vecs = (0L until 40L).map { i =>
      (i, Seq(math.sin(i * 1.7), math.cos(i * 0.9), math.sin(i * 0.3 + 1)))
    }.toDF("vec_id", "embedding")
    val tau = 0.8
    val out = SemDedup.prune(vecs, k = 3, iters = 2, threshold = tau)
      .as[(Long, Int, Int)].collect()
    val cells = out.map(r => r._1 -> r._2).toMap
    val raw = (0L until 40L).map { i =>
      i -> Seq(math.sin(i * 1.7), math.cos(i * 0.9), math.sin(i * 0.3 + 1))
    }.toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    out.foreach { case (id, cell, kept) =>
      val witness = (0L until id).exists(j =>
        cells(j) == cell && cos(raw(j), raw(id)) >= tau)
      assert(witness === (kept == 0), s"id=$id kept=$kept")
    }
    val all = SemDedup.prune(vecs, k = 3, iters = 2, threshold = 1.5)
      .as[(Long, Int, Int)].collect()
    assert(all.forall(_._3 == 1))
  }

  // Plain-Scala reference BPE (Sennrich et al.): the oracle the
  // distributed learner is property-checked against.
  test("native apply-merges equals the HOF accumulator fold (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    // plain-Scala reference of the fold: last-piece join, first (= only,
    // lefts distinct) matching pair wins, merged symbol becomes the last
    def ref(pieces: Seq[String], ms: Seq[(String, String)]): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      pieces.foreach { x =>
        val hit = out.lastOption.flatMap(last =>
          ms.find { case (l, r) => l == last && r == x })
        hit match {
          case Some((l, r)) => out(out.length - 1) = l + r
          case None         => out += x
        }
      }
      out.toSeq
    }
    val sym = Gen.oneOf("a", "b", "c", "ab", "bc", "é")
    val gen = for {
      pieces <- Gen.listOf(sym)
      nm <- Gen.choose(0, 3)
      lefts <- Gen.pick(nm, Seq("a", "b", "c", "ab", "é"))
      rights <- Gen.pick(nm, Seq("a", "b", "c", "bc", "é"))
    } yield (pieces, lefts.zip(rights).toSeq
      .filter { case (l, r) => l != r }   // keep lefts/rights disjoint-ish
      .distinctBy(_._1).distinctBy(_._2))
    val prop = forAll(gen) { case (pieces, ms) =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.unsafe.types.UTF8String
      val expr = new graft.functions.ApplyMerges(
        org.apache.spark.sql.catalyst.expressions.Literal(null,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)), ms)
      val arr = new GenericArrayData(
        pieces.map(UTF8String.fromString).toArray[Any])
      val got = expr.applyBatch(arr)
      val gotSeq = (0 until got.numElements())
        .map(got.getUTF8String(_).toString)
      Prop(gotSeq === ref(pieces, ms)) :|
        s"pieces=$pieces ms=$ms got=$gotSeq want=${ref(pieces, ms)}"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  private def refBpeMerges(corpus: Seq[String], m: Int,
                           minFreq: Long = 2L): List[(String, String, Long)] = {
    def applyM(ps: List[String], l: String, r: String): List[String] =
      ps.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    val words = corpus.flatMap(_.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var segs = words.map { case (w, c) =>
      (w.map(_.toString).toList :+ "</w>") -> c }.toList
    var out = List.empty[(String, String, Long)]
    var done = false
    while (out.size < m && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((ps, c) <- segs; Seq(a, b) <- ps.sliding(2) if ps.size >= 2)
        counts((a, b)) = counts.getOrElse((a, b), 0L) + c
      val best = counts.toSeq
        .sortBy { case ((l, r), w) => (-w, l, r) }.headOption
      best match {
        case Some(((l, r), w)) if w >= minFreq =>
          out = out :+ ((l, r, w))
          segs = segs.map { case (ps, c) => applyM(ps, l, r) -> c }
        case _ => done = true
      }
    }
    out
  }

  test("BPE learning matches the reference implementation by hand") {
    // classic corpus shape: "low" ×3 + "lower" ×1 share the "lo"/"low" stem
    val corpus = Seq("low low low lower", "low newest newest")
    val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = BpeLearn.learn(docs(d: _*), numMerges = 5)
      .map(m => (m.left, m.right, m.weight))
    assert(got === refBpeMerges(corpus, 5))
    // greedy within-word repeats: "a a a" under (a, a) merges left-first
    val rep = BpeLearn.learn(docs(1L -> "aaa aaa"), numMerges = 2)
    assert(rep.map(m => (m.left, m.right, m.weight)) ===
      refBpeMerges(Seq("aaa aaa"), 2))
  }

  test("BPE learning equals the reference on random corpora (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.choose(1, 5)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.choose(3, 10)
      .flatMap(n => Gen.listOfN(n, wordGen).map(ws => Seq(ws.mkString(" "))))
    val prop = forAll(corpusGen) { corpus =>
      val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = BpeLearn.learn(docs(d: _*), numMerges = 4)
        .map(m => (m.left, m.right, m.weight))
      val want = refBpeMerges(corpus, 4)
      Prop(got == want) :| s"got=$got want=$want corpus=$corpus"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("BPE early-stops below the minimum pair frequency") {
    // every word unique, every pair weight 1 < minFrequency=2 → no merges
    assert(BpeLearn.learn(docs(1L -> "ab cd ef"), numMerges = 3).isEmpty)
  }

  test("tokenizer-learner local fast paths equal the distributed rounds (r16)") {
    // the size gate picks the physical route only: driver replay ≡
    // distributed merge loop, sequential and batched, BPE and WordPiece
    // (maxLocalWords = 0 forces the distributed rounds)
    val rnd = new scala.util.Random(29)
    val corpus = Seq.tabulate(12)(_ =>
      Seq.fill(8)(Seq.fill(rnd.nextInt(4) + 1)(
        ('a' + rnd.nextInt(4)).toChar).mkString).mkString(" "))
    val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    assert(BpeLearn.learn(docs(d: _*), numMerges = 5) ===
      BpeLearn.learn(docs(d: _*), numMerges = 5, maxLocalWords = 0L))
    assert(BpeLearn.learnBatched(docs(d: _*), numMerges = 6, batchSize = 3) ===
      BpeLearn.learnBatched(docs(d: _*), numMerges = 6, batchSize = 3,
        maxLocalWords = 0L))
    assert(WordPiece.learn(docs(d: _*), numMerges = 5) ===
      WordPiece.learn(docs(d: _*), numMerges = 5, maxLocalWords = 0L))
    assert(WordPiece.learnBatched(docs(d: _*), numMerges = 6, batchSize = 3) ===
      WordPiece.learnBatched(docs(d: _*), numMerges = 6, batchSize = 3,
        maxLocalWords = 0L))
  }

  test("tokenizer fertility: per-language ratios from exact counts") {
    val d = Seq(
      (0L, "aa aa", "en"),   // "aa" → 1 piece under vocab {aa}: 2 words, 2 subwords
      (1L, "aab", "en"),     // aa + UNK(b) → 2 subwords, 1 word
      (2L, "", "fr"),        // empty: 0 words, 0 subwords, 0 bytes
      (3L, "zz", "fr"))      // 2 UNK code points → 2 subwords
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.tokenizerFertility(d, Seq("aa"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    // en: 3 words, 4 subwords (aa, aa, aa, UNK-b), 8 bytes ("aa aa"=5 + "aab"=3)
    assert(got("en") === ((2L, 3L, 4L, 8L, 4.0 / 3.0, 2.0)))
    // fr: 1 word, 2 subwords, 2 bytes; zero-guards live on the en side only
    assert(got("fr") === ((2L, 1L, 2L, 2L, 2.0, 1.0)))
  }

  test("tokenizer fertility: zero-word language hits the ratio guards") {
    val d = Seq((0L, "", "xx"), (1L, "   ", "xx")).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.tokenizerFertility(d, Seq("aa"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(5), r.getDouble(6))).toMap
    assert(got("xx") === ((0L, 0L, 0.0, 0.0)))
  }

  test("epoch schedule: integral repeats, fractional last epoch, distinct permutations") {
    val rows = (0L until 200L).map(i =>
      (i, if (i % 2 == 0) "whole" else "frac")).toDF("doc_id", "lang")
    val out = Packing.epochSchedule(rows, "lang",
      Map("whole" -> 2.0, "frac" -> 1.5), "doc_id", salt = "t")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // integral stratum: every doc appears in exactly 2 epochs
    val wholeByDoc = out.filter(_._2 == "whole").groupBy(_._1)
    assert(wholeByDoc.values.forall(_.map(_._3).toSet == Set(0L, 1L)))
    // fractional stratum: every doc gets epoch 0; a md5-gated ~half gets 1
    val fracByDoc = out.filter(_._2 == "frac").groupBy(_._1)
    assert(fracByDoc.values.forall(v =>
      v.map(_._3).toSet == Set(0L) || v.map(_._3).toSet == Set(0L, 1L)))
    val nSecond = fracByDoc.values.count(_.exists(_._3 == 1L))
    assert(nSecond > 20 && nSecond < 80, s"fractional share off: $nSecond/100")
    // each (stratum, epoch) is a full 0..n-1 rank permutation, and the
    // two whole-stratum epochs are DIFFERENT permutations
    val e0 = out.filter(x => x._2 == "whole" && x._3 == 0L)
      .sortBy(_._4).map(_._1).toSeq
    val e1 = out.filter(x => x._2 == "whole" && x._3 == 1L)
      .sortBy(_._4).map(_._1).toSeq
    assert(e0.toSet === e1.toSet)
    assert(e0 != e1, "epoch permutations should differ")
    // unweighted strata drop
    val dropped = Packing.epochSchedule(rows, "lang",
      Map("whole" -> 1.0), "doc_id", salt = "t").collect()
    assert(dropped.forall(_.getString(1) == "whole"))
  }

  test("negative sampling: one draw each, frequency-biased, deterministic") {
    // "the" dominates the noise distribution (f^0.75 keeps it heavy)
    val text = (Seq.fill(200)("the") ++ Seq("cat", "dog", "sat")).mkString(" ")
    val d = docs(0L -> text)
    val pairs = TextAnalysis.skipGramPairs(d, window = 2)
    val nPairs = pairs.count()
    val out = TextAnalysis.negativeSamples(pairs, d, k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getInt(4), r.getString(5)))
    // exactly one negative per (pair, j): the interval probe is total
    assert(out.length === nPairs * 3)
    assert(out.map(x => (x._1, x._2, x._3, x._4)).distinct.length === out.length)
    // frequency bias: "the" carries ~97% of the noise mass at power 0.75
    val negs = out.map(_._5)
    assert(negs.count(_ == "the").toDouble / negs.length > 0.7,
      s"noise draws not frequency-biased: ${negs.groupBy(identity).view.mapValues(_.size).toMap}")
    // determinism: bit-identical rerun
    val out2 = TextAnalysis.negativeSamples(
      TextAnalysis.skipGramPairs(d, window = 2), d, k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getInt(4), r.getString(5)))
    assert(out.sortBy(_.toString).toSeq === out2.sortBy(_.toString).toSeq)
  }

  test("token subsampling: rare tokens always survive, frequent ones thin") {
    // "the" dominates; "rare" appears once — its keep probability is 1
    // (ratio below t), so every occurrence must survive any draw
    val text = (Seq.fill(400)("the") :+ "rare").mkString(" ")
    val out = TextAnalysis.subsampleTokens(docs(0L -> text), t = 1e-3)
      .collect().map(r => r.getString(2))
    assert(out.contains("rare"))
    val nThe = out.count(_ == "the")
    // P(keep) for ratio 400/401 at t=1e-3 is ~0.033 — all 400 surviving
    // would need every draw under 0.033 (p < 1e-580); bound loosely
    assert(nThe < 100, s"frequent token barely thinned: $nThe of 400")
    // determinism: a second run is bit-identical
    val out2 = TextAnalysis.subsampleTokens(docs(0L -> text), t = 1e-3)
      .collect().map(r => r.getString(2))
    assert(out.toSeq === out2.toSeq)
  }

  test("skip-gram pairs: hand fixture and symmetry invariant") {
    val d = docs(0L -> "a b c", 1L -> "a b")
    val got = TextAnalysis.skipGramPairs(d, window = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    // doc0: a(b+1,c+2) b(a-1,c+1) c(b-1,a-2); doc1: a(b+1) b(a-1)
    assert(got === Map(
      ("a", "b", 1) -> 2L, ("a", "c", 2) -> 1L,
      ("b", "a", -1) -> 2L, ("b", "c", 1) -> 1L,
      ("c", "b", -1) -> 1L, ("c", "a", -2) -> 1L))
    // symmetry: (x, y, +d) count equals (y, x, -d) count, always
    got.foreach { case ((x, y, dist), n) =>
      assert(got(((y, x, -dist))) === n, s"asymmetric pair ($x,$y,$dist)")
    }
  }

  test("session sequences: gap breaks, ts-tie order, and stats match sessions()") {
    import java.sql.Timestamp
    def t(min: Long) = new Timestamp(min * 60000L)
    val events = Seq(
      // user 1: two events 10 min apart, then a 31-min gap → new session
      (1L, t(0), 1L, "view"), (2L, t(10), 1L, "click"),
      (3L, t(41), 1L, "buy"),
      // user 2: two events at the SAME ts — order must follow event_id
      (5L, t(100), 2L, "b_second"), (4L, t(100), 2L, "a_first"),
      // exactly AT the 30-min gap → same session (break is strict >)
      (6L, t(130), 2L, "tail"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.operators.Sessionize
      .sessionSequences(events, "user_id", "ts", "30 minutes")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3), r.getString(4)))
      .sortBy(x => (x._1, x._2.getTime))
    assert(got === Seq(
      (1L, t(0), 2L, "view click"),
      (1L, t(41), 1L, "buy"),
      (2L, t(100), 3L, "a_first b_second tail")))
    // stats agree with the session_window-based sessions() on gap-broken data
    val stats = graft.operators.Sessionize
      .sessions(events, "user_id", "ts", "30 minutes")
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2.getTime)).toSeq
    assert(stats === got.map(x => (x._1, x._2, x._3)))
  }

  test("tokenizer pipeline: id sequences account for every corpus token") {
    // the composed gate end-to-end on the smallest fixture corpus
    val out = graft.queries.TrainingDataQueries
      .queries("tokenizer_pipeline")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // exact-full invariant: every sequence but each bucket's last is 32
    out.groupBy(_._1).foreach { case (b, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.init.forall(_._4 == 32L), s"bucket $b has a short mid-sequence")
      assert(sorted.last._4 > 0 && sorted.last._4 <= 32L)
    }
    // the stream carries only learned ids and the separator
    val pieceOk = out.forall(_._5.split(" ")
      .forall(t => t == "<eod>" || t.forall(_.isDigit)))
    assert(pieceOk)
    // token accounting: total stream tokens = sum over docs of
    // (subword count under the induced vocab + 1 separator)
    val docs0 = Tables.documents(spark, "/root/testdata/sf0.001")
    val nDocs = docs0.count()
    val nEod = out.flatMap(_._5.split(" ")).count(_ == "<eod>")
    assert(nEod === nDocs)
    assert(out.map(_._4).sum ===
      out.map(_._5.split(" ").count(_.nonEmpty).toLong).sum)
  }

  test("fill-in-the-middle: PSM round-trip reconstructs the document") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.oneOf("alpha", "beta", "g", "d4")
    val docGen = Gen.choose(0, 12)
      .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val prop = forAll(corpusGen) { corpus =>
      val out = FillInMiddle.transform(docs(corpus: _*), fimRate = 1.0)
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      Prop.all(corpus.map { case (id, text) =>
        val origToks = text.split("\\s+").filter(_.nonEmpty).toList
        val (fim, tf, np, nm, ns) = out(id)
        if (origToks.isEmpty)
          Prop(!fim && tf == "" && np == 0 && nm == 0 && ns == 0) :|
            s"empty doc: $tf"
        else {
          // parse <fim_pre> P <fim_suf> S <fim_mid> M and rebuild P M S
          val ts = tf.split(" ").toList
          val iSuf = ts.indexOf("<fim_suf>")
          val iMid = ts.indexOf("<fim_mid>")
          val pre = ts.slice(1, iSuf)
          val suf = ts.slice(iSuf + 1, iMid)
          val mid = ts.drop(iMid + 1)
          Prop(fim && ts.head == "<fim_pre>" &&
            (pre ++ mid ++ suf) == origToks &&
            np == pre.size && nm == mid.size && ns == suf.size) :|
            s"id=$id tf='$tf' orig=$origToks"
        }
      }: _*)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("fill-in-the-middle: zero rate passes documents through") {
    val out = FillInMiddle.transform(docs(0L -> "a   b c", 1L -> ""),
      fimRate = 0.0).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(out(0L) === ((false, "a b c")))
    assert(out(1L) === ((false, "")))
  }

  test("concat-slice: NULL text chunks like empty text") {
    val d = Seq((0L, "a b"), (1L, null), (2L, "c"))
      .toDF("doc_id", "text")
    val got = Packing.concatSlice(d, seqLen = 3, numBuckets = 1)
      .collect()
      .map(r => r.getLong(1) -> (r.getLong(3), r.getString(4))).toMap
    // stream = a b <eod> | <eod> | c <eod>  (6 tokens, L=3)
    assert(got(0L) === ((3L, "a b <eod>")))
    assert(got(1L) === ((3L, "<eod> c <eod>")))
  }

  test("wordpiece display degeneracy on #-initial words is characterized") {
    // a word STARTING with the literal '#' produces an initial symbol
    // whose internal form starts with the marker — display classifies it
    // as a continuation form (the ## convention's inherent degeneracy,
    // documented precondition)
    val got = WordPiece.learn(docs(0L -> "#a #a"), numMerges = 1)
    assert(got.map(m => (m.left, m.right)) === Seq(("#", "##a")))
    // internal "###a" keeps a leading marker → display keeps it too
    assert(got.head.merged === "###a")
  }

  test("concat-slice: exact sequence cuts straddling document boundaries") {
    // one bucket → one stream: docs ordered by id, each + <eod>
    // stream = a b c <eod> d e f g <eod> h <eod>  (11 tokens, L=5)
    val d = docs(0L -> "a b c", 1L -> "d e f g", 2L -> "h")
    val got = Packing.concatSlice(d, seqLen = 5, numBuckets = 1)
      .collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(got(0L) === ((2L, 5L, "a b c <eod> d")))
    assert(got(1L) === ((2L, 5L, "e f g <eod> h")))
    // the final partial sequence carries doc 2's trailing separator only
    assert(got(2L) === ((1L, 1L, "<eod>")))
  }

  test("concat-slice: per-bucket reconstruction and exact-full invariant") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.oneOf("aa", "b", "ccc", "dd")
    val docGen = Gen.choose(0, 9)
      .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val prop = forAll(corpusGen, Gen.oneOf(3, 7)) { (corpus, l) =>
      val out = Packing.concatSlice(docs(corpus: _*), seqLen = l,
        numBuckets = 2).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(3), r.getString(4)))
      val byBucket = out.groupBy(_._1)
      Prop.all(byBucket.toSeq.map { case (b, rows) =>
        val sorted = rows.sortBy(_._2)
        // every sequence but the last is exactly full
        val fullOk = sorted.init.forall(_._3 == l) &&
          sorted.last._3 <= l && sorted.last._3 > 0
        // concatenating the bucket's sequences reproduces its doc stream
        val rebuilt = sorted.map(_._4).mkString(" ")
        val expectStream = corpus
          .filter { case (id, _) =>
            val h = java.security.MessageDigest.getInstance("MD5")
              .digest(s"$id:slice".getBytes("UTF-8"))
              .take(4).map("%02x".format(_)).mkString
            java.lang.Long.parseLong(h, 16) % 2 == b
          }
          .sortBy(_._1)
          .map { case (_, t) =>
            (t.split("\\s+").filter(_.nonEmpty) :+ "<eod>").mkString(" ") }
          .mkString(" ")
        Prop(fullOk && rebuilt == expectStream) :|
          s"bucket=$b rebuilt='$rebuilt' expect='$expectStream' rows=$sorted"
      }: _*)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("span corruption: input/target round-trip reconstructs the corpus") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "x", "y9")
    val docGen = Gen.choose(0, 30)
      .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    def sentinel(s: String) = s.matches("<extra_id_\\d+>")
    val prop = forAll(corpusGen) { corpus =>
      // high probability so spans actually occur on short docs
      val out = SpanCorruption
        .corrupt(docs(corpus: _*), spanStartProb = 0.3, spanLen = 2)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), r.getString(2), r.getLong(3))).toMap
      val orig = corpus.toMap
      Prop.all(corpus.map { case (id, text) =>
        val (input, target, n) = out(id)
        val inToks = input.split(" ").filter(_.nonEmpty).toList
        val tgtToks = target.split(" ").filter(_.nonEmpty).toList
        // parse target into span lists keyed by sentinel rank
        val spans = scala.collection.mutable.Map.empty[Int, List[String]]
        var cur = -1
        tgtToks.foreach { t =>
          if (sentinel(t)) cur = t.stripPrefix("<extra_id_").stripSuffix(">").toInt
          else spans(cur) = spans.getOrElse(cur, Nil) :+ t
        }
        // splice spans back into the input at their sentinels
        val rebuilt = inToks.flatMap { t =>
          if (sentinel(t))
            spans.getOrElse(
              t.stripPrefix("<extra_id_").stripSuffix(">").toInt, Nil)
          else List(t)
        }
        val origToks = text.split("\\s+").filter(_.nonEmpty).toList
        val sentinelsIn = inToks.count(sentinel)
        val closing = tgtToks.lastOption.contains(s"<extra_id_$n>")
        // merged spans never leave two sentinels adjacent in the input
        val adjacent = inToks.sliding(2).exists {
          case List(a, b) => sentinel(a) && sentinel(b)
          case _ => false
        }
        Prop(rebuilt == origToks && sentinelsIn == n && closing &&
          !adjacent) :|
          s"id=$id input='$input' target='$target' n=$n rebuilt=$rebuilt orig=$origToks"
      }: _*)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("span corruption: stateless in-row twin ≡ the windowed batch path") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.oneOf("aa", "b", "ccc")
    val docGen = Gen.choose(0, 20)
      .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val prop = forAll(corpusGen, Gen.oneOf(1, 2, 4)) { (corpus, l) =>
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), r.getString(2), r.getLong(3))).toMap
      val batch = canon(SpanCorruption.corrupt(docs(corpus: _*),
        spanStartProb = 0.25, spanLen = l))
      val twin = canon(SpanCorruption.corruptStateless(docs(corpus: _*),
        spanStartProb = 0.25, spanLen = l))
      Prop(batch == twin) :| s"l=$l batch=$batch twin=$twin"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("span corruption: zero probability passes documents through") {
    val out = SpanCorruption
      .corrupt(docs(0L -> "a b   c", 1L -> ""), spanStartProb = 0.0)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getLong(3))).toMap
    assert(out(0L) === (("a b c", "<extra_id_0>", 0L)))
    assert(out(1L) === (("", "<extra_id_0>", 0L)))
  }

  test("span corruption: probability one masks everything as one span") {
    val out = SpanCorruption
      .corrupt(docs(0L -> "a b c d"), spanStartProb = 1.0, spanLen = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getLong(3))).toMap
    // every position proposes → one merged span covering the whole doc
    assert(out(0L) === (("<extra_id_0>", "<extra_id_0> a b c d <extra_id_1>", 1L)))
  }

  /** Plain-Scala interpolated modified-KN reference mirroring
    * [[LanguageModel.scoreDocumentsKn]]'s exact double-op order. */
  private def refKnScores(corpus: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long)] = {
    val docToks = corpus.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toList }
    val trans = docToks.flatMap { case (id, ts) =>
      ts.sliding(2).filter(_.size == 2).map(p => (id, p.head, p(1))) }
    val cnt = trans.groupBy { case (_, c, w) => (c, w) }
      .view.mapValues(_.size.toLong).toMap
    val ctot = cnt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1c = cnt.filter(_._2 == 1L).groupBy(_._1._1)
      .view.mapValues(_.size.toLong).toMap
    val n2c = cnt.filter(_._2 == 2L).groupBy(_._1._1)
      .view.mapValues(_.size.toLong).toMap
    val n3c = cnt.filter(_._2 >= 3L).groupBy(_._1._1)
      .view.mapValues(_.size.toLong).toMap
    val cw = cnt.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val bigrams = cnt.size.toLong
    val vocab = cnt.keys.map(_._2).toSet.size.toLong
    val Seq(k1, k2, k3, k4) =
      Seq(1L, 2L, 3L, 4L).map(k => cnt.values.count(_ == k).toLong)
    val healthy = k1 > 0 && k2 > 0 && k3 > 0 && k4 > 0
    val y = k1.toDouble / (k1 + 2L * k2).toDouble
    def clamp(raw: Double, k: Double) = math.min(math.max(raw, 0.0), k)
    val d1 = if (healthy)
      clamp(1.0 - 2.0 * y * (k2.toDouble / k1.toDouble), 1.0) else 0.75
    val d2 = if (healthy)
      clamp(2.0 - 3.0 * y * (k3.toDouble / k2.toDouble), 2.0) else 0.75
    val d3 = if (healthy)
      clamp(3.0 - 4.0 * y * (k4.toDouble / k3.toDouble), 3.0) else 0.75
    val perDoc = trans.groupBy(_._1).view.mapValues { ts =>
      val terms = ts.map { case (_, ctx, tok) =>
        val c = cnt.getOrElse((ctx, tok), 0L)
        val puni = (cw.getOrElse(tok, 0L) + 1L).toDouble /
          (bigrams + vocab + 1L).toDouble
        val p = ctot.get(ctx) match {
          case Some(ct) =>
            val d = if (c == 1L) d1 else if (c == 2L) d2 else d3
            val gamma = (d1 * n1c.getOrElse(ctx, 0L).toDouble +
              d2 * n2c.getOrElse(ctx, 0L).toDouble +
              d3 * n3c.getOrElse(ctx, 0L).toDouble) / ct.toDouble
            math.max(c.toDouble - d, 0.0) / ct.toDouble + gamma * puni
          case None => puni
        }
        (math.round(math.log(p) * 1e6),
          if (cnt.contains((ctx, tok))) 1L else 0L)
      }
      (ts.size.toLong, terms.map(_._2).sum, terms.map(_._1).sum)
    }.toMap
    corpus.map { case (id, _) =>
      id -> perDoc.getOrElse(id, (0L, 0L, 0L)) }.toMap
  }

  test("modified-KN scoring matches the reference implementation") {
    // repeated bigrams at several counts so all three discounts engage
    val corpus = Seq(
      0L -> "the cat sat on the mat the cat ran",
      1L -> "a cat sat a cat sat a cat sat",
      2L -> "the dog sat on a mat and the dog ran fast today",
      3L -> "unseen",
      4L -> "cat cat cat cat cat")
    val got = LanguageModel
      .scoreDocumentsKn(docs(corpus: _*),
        LanguageModel.ngramCounts(docs(corpus: _*)))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === refKnScores(corpus))
    // the zero-transition doc scores zero, not null
    assert(got(3L) === ((0L, 0L, 0L)))
  }

  test("modified-KN scoring equals the reference on random corpora (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.oneOf("a", "b", "c", "d", "aa", "ab")
    val docGen = Gen.choose(0, 6)
      .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val prop = forAll(corpusGen) { corpus =>
      val got = LanguageModel
        .scoreDocumentsKn(docs(corpus: _*),
          LanguageModel.ngramCounts(docs(corpus: _*)))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val want = refKnScores(corpus)
      Prop(got == want) :| s"got=$got want=$want corpus=$corpus"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("modified-KN continuation signature: frequent single-context token " +
    "scores below a rarer many-context token") {
    // "york" appears often but ALWAYS after "new"; "sat" appears in many
    // contexts — under an UNSEEN context, P_cont must rank sat > york
    val corpus = Seq(
      0L -> "new york new york new york new york new york",
      1L -> "cat sat dog sat bird sat fish sat")
    val model = LanguageModel.ngramCounts(docs(corpus: _*))
    // score two one-transition docs whose context is unseen in the model
    val probe = docs(10L -> "zz york", 11L -> "zz sat")
    val got = LanguageModel.scoreDocumentsKn(probe, model)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(11L) > got(10L),
      s"sat (many contexts) should outscore york (one context): $got")
  }

  /** Plain-Scala WordPiece reference: likelihood argmax
    * (w / (cl·cr), double division of exact longs) over the same greedy
    * single-merge re-segmentation as BPE, with the `##` continuation
    * convention. */
  private def refWordPiece(corpus: Seq[String], m: Int, minFreq: Long = 2L)
      : List[(String, String, Long, Long, Long)] = {
    def applyM(ps: List[String], l: String, r: String): List[String] =
      ps.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    val words = corpus.flatMap(_.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var segs = words.map { case (w, c) =>
      w.toList.zipWithIndex.map { case (ch, i) =>
        if (i == 0) ch.toString else "##" + ch } -> c
    }.toList
    var out = List.empty[(String, String, Long, Long, Long)]
    var done = false
    while (out.size < m && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      val syms = scala.collection.mutable.Map.empty[String, Long]
      for ((ps, c) <- segs) {
        ps.foreach(s => syms(s) = syms.getOrElse(s, 0L) + c)
        if (ps.size >= 2)
          for (Seq(a, b) <- ps.sliding(2))
            pairs((a, b)) = pairs.getOrElse((a, b), 0L) + c
      }
      val best = pairs.toSeq
        .filter { case (_, w) => w >= minFreq }
        .map { case ((l, r), w) =>
          (l, r, w, syms(l), syms(r),
            w.toDouble / (syms(l).toDouble * syms(r).toDouble)) }
        .sortBy { case (l, r, _, _, _, sc) => (-sc, l, r) }
        .headOption
      best match {
        case Some((l, r, w, cl, cr, _)) =>
          out = out :+ ((l, r, w, cl, cr))
          segs = segs.map { case (ps, c) => applyM(ps, l, r) -> c }
        case _ => done = true
      }
    }
    out
  }

  test("WordPiece learning matches the reference implementation by hand") {
    // "ab" dominates by count but "q"/"z" are rarer symbols: the
    // likelihood score must prefer (q, ##z) over (a, ##b)
    val corpus = Seq("ab ab ab ab qz qz ab a b a b")
    val got = WordPiece.learn(docs(0L -> corpus.head), numMerges = 3)
      .map(m => (m.left, m.right, m.weight, m.left_cnt, m.right_cnt))
    assert(got === refWordPiece(corpus, 3))
    // and the first merge is indeed the rare pair, not the frequent one
    assert(got.head._1 === "q" && got.head._2 === "##z")
  }

  test("WordPiece learning equals the reference on random corpora (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.choose(1, 5)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.choose(3, 10)
      .flatMap(n => Gen.listOfN(n, wordGen).map(ws => Seq(ws.mkString(" "))))
    val prop = forAll(corpusGen) { corpus =>
      val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = WordPiece.learn(docs(d: _*), numMerges = 4)
        .map(m => (m.left, m.right, m.weight, m.left_cnt, m.right_cnt))
      val want = refWordPiece(corpus, 4)
      Prop(got == want) :| s"got=$got want=$want corpus=$corpus"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("WordPiece display form strips constituent markers only") {
    assert(WordPiece.display("a##b") === "ab")
    assert(WordPiece.display("##a##b") === "##ab")
    assert(WordPiece.display("x") === "x")
    assert(WordPiece.display("##x") === "##x")
  }

  test("WordPiece merge floor applies to the pair count, not the score") {
    // all pairs weight 1 < minFrequency=2 → no merges even though scores
    // would be high (rare symbols)
    assert(WordPiece.learn(docs(1L -> "qz xv"), numMerges = 2).isEmpty)
  }

  /** Plain-Scala MaxMatch reference (greedy longest-match-first with the
    * initial/continuation split and whole-word UNK). */
  private def refMaxMatch(word: String, vocab: Set[String],
                          unk: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val hit = (word.length until i by -1).collectFirst {
        case j if i == 0 && !word.substring(0, j).startsWith("##") &&
          vocab.contains(word.substring(0, j)) => (j, word.substring(0, j))
        case j if i > 0 && vocab.contains("##" + word.substring(i, j)) =>
          (j, "##" + word.substring(i, j))
      }
      hit match {
        case Some((j, piece)) => out += piece; i = j
        case None => return List(unk)
      }
    }
    out.toList
  }

  test("WordPiece MaxMatch: longest match, continuation split, whole-word UNK") {
    import graft.functions.WordPieceMatch
    val vocab = Set("un", "##aff", "##able", "##ffa", "a", "##a", "##b", "un##x")
    def run(word: String): Seq[String] =
      Seq(word).toDF("word")
        .select(WordPieceMatch(col("word"), vocab, "[UNK]").as("p"))
        .collect().head.getSeq[String](0)
    // greedy longest at each position; ##ffa would misalign but maximal
    // munch never backtracks → un + ##aff + ##able
    assert(run("unaffable") === Seq("un", "##aff", "##able"))
    assert(run("unaffable") === refMaxMatch("unaffable", vocab, "[UNK]"))
    // unmatched tail → the WHOLE word collapses to UNK, not a partial list
    assert(run("unaffz") === Seq("[UNK]"))
    // initial entry never matches mid-word: "a" bare exists but after pos 0
    // only "##a" may match
    assert(run("aa") === Seq("a", "##a"))
    // entry with an INTERNAL literal marker ("un##x" does not START with
    // ## → initial entry, matched verbatim) — classification is by
    // prefix only, in the kernel and the reference alike
    assert(run("un##x") === Seq("un##x"))
    assert(run("un##x") === refMaxMatch("un##x", vocab, "[UNK]"))
  }

  test("WordPiece MaxMatch equals the reference on random vocab (property)") {
    import graft.functions.WordPieceMatch
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val pieceGen = Gen.choose(1, 3)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val vocabGen = for {
      init <- Gen.listOf(pieceGen)
      cont <- Gen.listOf(pieceGen.map("##" + _))
    } yield (init ++ cont).toSet
    val wordGen = Gen.choose(1, 8)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val prop = forAll(vocabGen, Gen.listOfN(6, wordGen)) { (vocab, words) =>
      if (vocab.isEmpty) Prop.passed
      else {
        val rows = words.toDF("word")
          .select(col("word"),
            WordPieceMatch(col("word"), vocab, "[UNK]").as("p"))
          .collect()
          .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
        val want = words.map(w => w -> refMaxMatch(w, vocab, "[UNK]")).toMap
        Prop(rows == want) :| s"vocab=$vocab got=$rows want=$want"
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("WordPiece vocabulary: alphabet plus merged display forms, deduped") {
    val d = docs(0L -> "ab ab ab ab")
    val merges = WordPiece.learn(d, numMerges = 1)
    assert(merges.map(_.merged) === Seq("ab"))
    val v = WordPiece.vocabulary(d, merges).collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(v === Map("a" -> -1, "##b" -> -1, "ab" -> 0))
  }

  test("batched WordPiece at batchSize=1 is identical to the sequential learner") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.choose(1, 5)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.choose(3, 10)
      .flatMap(n => Gen.listOfN(n, wordGen).map(ws => Seq(ws.mkString(" "))))
    val prop = forAll(corpusGen) { corpus =>
      val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val seq = WordPiece.learn(docs(d: _*), numMerges = 4)
      val b1 = WordPiece.learnBatched(docs(d: _*), numMerges = 4, batchSize = 1)
      Prop(seq == b1) :| s"seq=$seq b1=$b1 corpus=$corpus"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("batched WordPiece: disjoint batch scores are invariant mid-batch") {
    // two symbol-disjoint high-score stems: batching ("l","##o") and
    // ("e","##s") in one round must reproduce their sequential scores
    // exactly — merging one cannot perturb the other's w, cl or cr
    val corpus = Seq("lo lo lo lo es es es es", "lo es lo es")
    val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = WordPiece.learnBatched(docs(d: _*), numMerges = 2, batchSize = 2)
    val seq = WordPiece.learn(docs(d: _*), numMerges = 2)
    // same pair set with the same exact counts (order may differ only if
    // a minted symbol out-scored a later member — not the case here)
    assert(got.map(m => (m.left, m.right, m.weight, m.left_cnt, m.right_cnt))
      .toSet ===
      seq.map(m => (m.left, m.right, m.weight, m.left_cnt, m.right_cnt))
        .toSet)
    assert(got.map(_.rank) === Seq(0, 1))
  }

  test("batched BPE at batchSize=1 is identical to the sequential learner") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.choose(1, 5)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.choose(3, 10)
      .flatMap(n => Gen.listOfN(n, wordGen).map(ws => Seq(ws.mkString(" "))))
    val prop = forAll(corpusGen) { corpus =>
      val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val seq = BpeLearn.learn(docs(d: _*), numMerges = 4)
      val b1 = BpeLearn.learnBatched(docs(d: _*), numMerges = 4, batchSize = 1)
      Prop(seq == b1) :| s"seq=$seq b1=$b1 corpus=$corpus"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("incremental BPE: delta-maintained pair counts reproduce learnBatched exactly") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.choose(1, 5)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.choose(3, 10)
      .flatMap(n => Gen.listOfN(n, wordGen).map(ws => Seq(ws.mkString(" "))))
    val bsGen = Gen.oneOf(1, 2, 3)
    val prop = forAll(corpusGen, bsGen) { (corpus, bs) =>
      val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val plain = BpeLearn.learnBatched(docs(d: _*), numMerges = 5,
        batchSize = bs)
      val inc = BpeLearn.learnBatchedIncremental(docs(d: _*), numMerges = 5,
        batchSize = bs)
      Prop(plain == inc) :| s"bs=$bs plain=$plain inc=$inc corpus=$corpus"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("batched BPE: symbol-disjoint batch matches a plain-Scala reference") {
    // two independent frequent stems: ("l","o") and ("e","s") don't share
    // symbols, so one batch of 2 accepts both; the third merge needs the
    // next round's fresh counts
    val corpus = Seq("lo lo lo lo es es es", "lo es lo es")
    val d = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = BpeLearn.learnBatched(docs(d: _*), numMerges = 4, batchSize = 2)

    // reference: replay the same batched rule locally
    def refBatched(cs: Seq[String], m: Int, bs: Int): List[(String, String, Long)] = {
      val words = cs.flatMap(_.split("\\s+").filter(_.nonEmpty))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      var segs = words.map { case (w, c) =>
        (w.map(_.toString).toList :+ "</w>") -> c }.toList
      var out = List.empty[(String, String, Long)]
      var stop = false
      while (out.size < m && !stop) {
        val counts = segs.flatMap { case (ps, c) =>
          ps.zip(ps.drop(1)).map(p => p -> c) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toList
          .sortBy { case ((l, r), w) => (-w, l, r) }
        val used = scala.collection.mutable.Set.empty[String]
        val want = math.min(m - out.size, bs)
        var n = 0
        val batch = counts.take(want * 3).flatMap { case ((l, r), w) =>
          if (n < want && w >= 2L && !used(l) && !used(r)) {
            used += l; used += r; n += 1; Some((l, r, w))
          } else None
        }
        if (batch.isEmpty) stop = true
        else {
          out = out ++ batch
          segs = segs.map { case (ps, c) =>
            ps.foldLeft(List.empty[String]) { (acc, x) =>
              batch.find { case (l, r, _) => acc.nonEmpty &&
                acc.last == l && x == r } match {
                case Some((l, r, _)) => acc.init :+ (l + r)
                case None            => acc :+ x
              }
            } -> c
          }
        }
      }
      out
    }
    assert(got.map(g => (g.left, g.right, g.weight)) ===
      refBatched(corpus, 4, 2))
    // ranks are acceptance order
    assert(got.map(_.rank) === got.indices)
  }

  test("BPE segmentation applies learned merges in order") {
    val corpus = docs(1L -> "low low low lower lowest")
    val merges = BpeLearn.learn(corpus, numMerges = 3)
    val segs = BpeLearn.segmentWords(
      Seq("low", "lowest", "x").toDF("word"), merges)
      .as[(String, Seq[String])].collect().toMap
    // reference: replay the same merges locally
    def applyAll(w: String): List[String] =
      merges.foldLeft(w.map(_.toString).toList :+ "</w>") { (ps, m) =>
        ps.foldLeft(List.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == m.left && x == m.right)
            acc.init :+ m.merged
          else acc :+ x
        }
      }
    for ((w, ps) <- segs) assert(ps.toList === applyAll(w), s"word=$w")
  }

  test("bigram LM: counts, add-1 scores, and short-doc zeroes by hand") {
    val train = docs(1L -> "a b a b", 2L -> "a b")
    val model = LanguageModel.ngramCounts(train)
    val counts = model.as[(String, String, Long)].collect().toSet
    // transitions: doc1 (a,b)(b,a)(a,b), doc2 (a,b)
    assert(counts === Set(("a", "b", 3L), ("b", "a", 1L)))
    // V = distinct predicted tokens = {a, b} = 2; context totals a=3, b=1
    def micronats(c: Long, ctot: Long): Long =
      math.round(math.log((c + 1.0) / (ctot + 1.0 * 2)) * 1e6)
    val ab = micronats(3, 3) // p = 4/5
    val ba = micronats(1, 1) // p = 2/3
    val out = LanguageModel.scoreDocuments(
      docs(1L -> "a b a b", 2L -> "a b", 3L -> "solo"), model)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((3L, 3L, 2 * ab + ba)))
    assert(out(2L) === ((1L, 1L, ab)))
    assert(out(3L) === ((0L, 0L, 0L))) // < n tokens: no transitions, kept
  }

  test("bigram LM: unseen contexts back off to 1/V and count as misses") {
    val model = LanguageModel.ngramCounts(docs(1L -> "a b"))
    // V = {b} = 1; (z, z) unseen: p = (0+1)/(0+1·1) = 1 → 0 micro-nats
    val out = LanguageModel.scoreDocuments(docs(9L -> "z z"), model)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((9L, 1L, 0L, 0L)))
    // a LAST token is never a context: (b, q) above also backs off. Train
    // "a b c" so context b is real; then (b, q) is seen-context/unseen-token
    val model2 = LanguageModel.ngramCounts(docs(1L -> "a b c"))
    val out2 = LanguageModel.scoreDocuments(docs(8L -> "a b q"), model2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // V = {b, c} = 2; (a,b): p = (1+1)/(1+2); (b,q): p = (0+1)/(1+2)
    val ab = math.round(math.log(2.0 / 3) * 1e6)
    val bq = math.round(math.log(1.0 / 3) * 1e6)
    assert(out2 === Seq((8L, 2L, 1L, ab + bq)))
  }

  test("trigram LM contexts are the two preceding tokens") {
    val tr = LanguageModel.transitions(docs(1L -> "a b c d"), n = 3)
      .as[(Long, String, String)].collect().toSet
    assert(tr === Set((1L, "a b", "c"), (1L, "b c", "d")))
  }

  test("substring dedup: duplicated k-gram spans merge into maximal regions") {
    val d = docs(
      1L -> "a b c d e f",     // shares grams 0..2 with doc 2 → span [0,5)
      2L -> "a b c d e",       // whole doc duplicated → [0,5)
      3L -> "x x x x",         // WITHIN-doc repeat ("x x x" twice) → [0,4)
      4L -> "q w e",           // unique gram → no span
      5L -> "s t")             // shorter than k → no grams, never flagged
    val out = SubstringDedup.duplicatedSpans(d, k = 3)
      .as[(Long, Int, Int)].collect().sorted
    assert(out.toSeq === Seq((1L, 0, 5), (2L, 0, 5), (3L, 0, 4)))
  }

  test("substring dedup: touching spans merge, disjoint spans stay separate") {
    // "a b c" at pos 0 and 3: spans [0,3) and [3,6) touch → one region
    val touching = docs(1L -> "a b c a b c")
    assert(SubstringDedup.duplicatedSpans(touching, k = 3)
      .as[(Long, Int, Int)].collect().toSeq === Seq((1L, 0, 6)))
    // duplicated 3-grams at pos 0 and 4 of a 7-token doc: [0,3) vs [4,7)
    // leave token 3 clean between two separate spans
    val disjoint = docs(
      1L -> "a b c m x y z",
      2L -> "a b c n x y z")
    assert(SubstringDedup.duplicatedSpans(disjoint, k = 3)
      .as[(Long, Int, Int)].collect().sorted.toSeq ===
      Seq((1L, 0, 3), (1L, 4, 7), (2L, 0, 3), (2L, 4, 7)))
  }

  test("substring scrub removes exactly the flagged spans and keeps every doc") {
    val d = docs(
      1L -> "a b c d e f",
      2L -> "a b c d e",
      3L -> "x x x x",
      4L -> "q  w   e")        // untouched doc: whitespace normalized only
    val out = SubstringDedup.scrubSpans(d,
      SubstringDedup.duplicatedSpans(d, k = 3))
      .as[(Long, String)].collect().toMap
    assert(out === Map(
      1L -> "f", 2L -> "", 3L -> "", 4L -> "q w e"))
    // hand-built disjoint spans: kept tokens are those outside every span
    val spans = Seq((7L, 1, 3), (7L, 5, 7))
      .toDF("doc_id", "span_start", "span_end")
    val scrubbed = SubstringDedup.scrubSpans(
      docs(7L -> "p q r s t u v w"), spans)
      .as[(Long, String)].collect().toMap
    assert(scrubbed === Map(7L -> "p s t w"))
  }

  test("native span scrub equals the HOF filter/exists chain (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    import graft.functions.SpanScrub
    import org.apache.spark.unsafe.types.UTF8String
    // static tier vs a plain-Scala reference of the HOF semantics:
    // spans unordered, possibly overlapping, possibly out of range
    def ref(s: String, spans: Seq[(Int, Int)]): String =
      s.split("\\s+").filter(_.nonEmpty).zipWithIndex
        .collect { case (t, i)
          if !spans.exists(sp => i >= sp._1 && i < sp._2) => t }
        .mkString(" ")
    val textGen = Gen.listOf(Gen.oneOf("a", "bb", "é中", "x1")).map(_.mkString(" "))
    val spanGen = Gen.listOf(for {
      a <- Gen.choose(-1, 8); len <- Gen.choose(0, 4)
    } yield (a, a + len))
    val prop = forAll(textGen, spanGen) { (s, spans) =>
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        spans.map { case (a, b) =>
          org.apache.spark.sql.catalyst.InternalRow(a, b) }.toArray[Any])
      val got = SpanScrub.scrub(UTF8String.fromString(s), arr).toString
      Prop(got === ref(s, spans)) :| s"s=$s spans=$spans got=$got"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
    // engine tier: the codegen'd expression equals the HOF formulation
    val df = Seq(
      (1L, "a b c d e f", Seq((1, 3), (4, 5))),
      (2L, "a b", Seq.empty[(Int, Int)]),
      (3L, "", Seq((0, 2))),
      (4L, "q  w   e", Seq((0, 1), (0, 2))))
      .toDF("doc_id", "text", "spans")
    val both = df.select(
      SpanScrub.scrub(col("text"), col("spans")).as("fast"),
      concat_ws(" ", filter(TextAnalysis.tokens(col("text")),
        (_: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
          !exists(col("spans"),
            sp => i >= sp("_1") && i < sp("_2")))).as("ref"))
      .as[(String, String)].collect()
    both.foreach { case (fast, r) => assert(fast === r) }
  }

  test("star contraction converges on a chain far longer than its round budget") {
    // a 60-vertex path: diameter 59 — min-label BSP at its default
    // maxIter=25 correctly throws (the documented contract), while star
    // contraction needs O(log^2 n) rounds regardless of diameter
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxLocalEdges = 0).count()
    }
    // the size-gated local path is exact on the same chain regardless of
    // any round budget (diameter only limits the distributed route)
    assert(Dedup.connectedComponents(chain)
      .filter(org.apache.spark.sql.functions.col("component") === 1L)
      .count() === 60)
    val out = Dedup.connectedComponentsStars(chain)
      .as[(Long, Long, Boolean)].collect()
    assert(out.length === 60)
    assert(out.forall(_._2 == 1L))
    assert(out.count(_._3) === 1)
  }

  test("observed metrics are delivered by the eager localCheckpoint job") {
    // the BSP convergence probe rides the checkpoint's materialization via
    // Dataset.observe; if that delivery ever breaks, connectedComponents
    // stays CORRECT (scalar-agg fallback) but silently pays one extra job
    // per round — this spec pins the zero-extra-job mechanism
    val obs = org.apache.spark.sql.Observation()
    Seq(1L, 2L, 3L).toDF("x")
      .observe(obs, sum(col("x")).as("s"))
      .localCheckpoint(true)
    val got = org.apache.spark.sql.GraftColumnBridge.observedOrEmpty(obs)
    assert(got.get("s") === Some(6L))
  }

  test("observed metrics are delivered from MID-plan under join+distinct+checkpoint") {
    // the star-contraction convergence probe observes on the large-star
    // aggregation BELOW a join, filter, distinct and the eager checkpoint
    // — this spec pins that mid-plan CollectMetrics still accumulates and
    // delivers during the checkpoint's materialization job (otherwise
    // connectedComponentsStars stays correct but pays the scalar-agg
    // fallback every round)
    val obs = org.apache.spark.sql.Observation()
    val agg = Seq((1L, 10L), (2L, 10L), (2L, 20L)).toDF("u", "v")
      .groupBy("u").agg(min(col("v")).as("m"), count(lit(1)).as("deg"))
      .observe(obs, sum(col("deg")).as("n"))
    agg.join(Seq(1L, 2L).toDF("u"), "u")
      .select(col("u"), col("m")).distinct()
      .localCheckpoint(true)
    val got = org.apache.spark.sql.GraftColumnBridge.observedOrEmpty(obs)
    assert(got.get("n") === Some(3L))
  }

  test("keep list drops exactly the non-canonical cluster members") {
    val d = docs(1L -> "a", 2L -> "b", 3L -> "c", 10L -> "x", 11L -> "y")
    val pairs = Seq((1L, 2L), (10L, 11L)).toDF("a", "b")
    val kept = Dedup.applyKeepList(d, Dedup.connectedComponents(pairs))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 10L)) // 2 and 11 demoted; 3 untouched
  }

  test("exact dedup groups identical texts under one representative") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val out = Dedup.exact(d).select("keep_id", "n_dups")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L, 3L -> 1L))
  }

  test("shingles are word 3-grams; short docs collapse to one shingle") {
    val out = docs(1L -> "a b c d", 2L -> "a b")
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) === Seq("a b c", "b c d"))
    assert(out(2L) === Seq("a b"))
  }

  test("jaccard pairs find near-duplicates, not unrelated docs") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tonight",
      3L -> "completely different words appear in this document here")
    val pairs = Dedup.jaccardPairs(d, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("minhash LSH bands collide for near-identical docs") {
    val d = docs(
      1L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",
      2L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",  // identical → all bands match
      3L -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")
    val pairs = Dedup.minhashLshPairs(d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("prefix-filtered jaccard pairs equal the posting join on random corpora (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    // random word-soup corpora over a small vocabulary (collisions
    // frequent → real near-dup structure), random thresholds including
    // high ones where prefixes shrink to a few grams; compare the FULL
    // scored output (pair, n_common, jaccard), not just the pair set
    val vocab = Vector("the", "cat", "dog", "ran", "sat", "big", "red",
      "mat", "sun", "sky")
    val docGen = Gen.choose(3, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = Gen.choose(4, 10).flatMap(n => Gen.listOfN(n, docGen))
    val tGen = Gen.oneOf(0.2, 0.3, 0.5, 0.8, 1.0)
    val prop = forAll(corpusGen, tGen) { (texts, t) =>
      val d = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "text")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_a"), col("doc_b"), col("n_common"),
            col("jaccard"))
          .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
          .toSeq
      val base = canon(Dedup.jaccardPairs(d, t))
      val prefix = canon(Dedup.jaccardPairsPrefix(d, t))
      Prop(prefix == base) :| s"t=$t base=$base prefix=$prefix texts=$texts"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("prefix-filtered jaccard handles short docs, exact dups, and threshold 1.0") {
    // docs below k tokens collapse to ONE whole-text shingle (the
    // shinglesFromTokens fallback): identical short docs must pair at
    // jaccard 1.0 through the prefix path too (prefix length 1), and a
    // singleton stays unpaired; exact full-length dups pair at 1.0 even
    // at threshold 1.0, where prefixes shrink to a single gram
    val d = Seq(
      (1L, "tiny doc"), (2L, "tiny doc"), (3L, "other words"),
      (4L, "the quick brown fox jumps over the fence"),
      (5L, "the quick brown fox jumps over the fence"))
      .toDF("doc_id", "text")
    def pairs(t: Double) = Dedup.jaccardPairsPrefix(d, t)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(pairs(0.5) === Seq((1L, 2L, 1.0), (4L, 5L, 1.0)))
    assert(pairs(1.0) === Seq((1L, 2L, 1.0), (4L, 5L, 1.0)))
  }

  test("prefix-filtered jaccard over a shared postings frame equals the direct path") {
    // the corpus_pipeline arrangement: ONE cacheHashedPostings frame feeds
    // the prefix engine (and, in the pipeline, the decontamination leg) —
    // the shared-grams substitution must be output-identical to the
    // self-shingling path, scores included
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tonight",
      3L -> "completely different words appear in this document here",
      4L -> "the quick brown fox jumps over the lazy dog today")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
        .toSeq
    val direct = canon(Dedup.jaccardPairsPrefix(d, 0.3))
    val shared = canon(Dedup.jaccardPairsPrefix(d, 0.3,
      grams = Some(Dedup.cacheHashedPostings(d, k = 3))))
    assert(shared === direct)
    assert(direct.nonEmpty) // the near-dup trio must actually pair
  }

  test("prefix-filtered containment equals the posting join on random corpora (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    // same word-soup structure as the jaccard property, PLUS explicit
    // subset documents (a doc and a strict prefix of it) — the pair
    // family the asymmetric engine exists for, where the small side's
    // grams can sit anywhere in the large side's ranked postings
    val vocab = Vector("the", "cat", "dog", "ran", "sat", "big", "red",
      "mat", "sun", "sky")
    val docGen = Gen.choose(3, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = for {
      n <- Gen.choose(4, 9)
      ds <- Gen.listOfN(n, docGen)
      emb <- Gen.oneOf(true, false)
    } yield if (emb && ds.nonEmpty) {
      val host = ds.head
      ds :+ host.split(" ").take(math.max(3, host.split(" ").length / 2))
        .mkString(" ")
    } else ds
    val tGen = Gen.oneOf(0.2, 0.3, 0.5, 0.6, 0.8, 1.0)
    val prop = forAll(corpusGen, tGen) { (texts, t) =>
      val d = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "text")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_a"), col("doc_b"), col("n_common"),
            col("containment"))
          .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
          .toSeq
      val base = canon(Dedup.containmentPairs(d, t))
      val prefix = canon(Dedup.containmentPairsPrefix(d, t))
      Prop(prefix == base) :| s"t=$t base=$base prefix=$prefix texts=$texts"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("prefix containment finds subset pairs, short docs, and works over shared postings") {
    // doc 2 is doc 1's strict shingle-subset (containment 1.0, jaccard
    // far below it); docs 4/5 are identical short docs (one whole-text
    // shingle each); doc 3 matches nothing. At threshold 1.0 prefixes
    // shrink to one gram and the subset pair must still surface.
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "alpha beta gamma delta epsilon",
      3L -> "completely unrelated words in this one",
      4L -> "tiny doc", 5L -> "tiny doc")
    def pairs(t: Double) = Dedup.containmentPairsPrefix(d, t)
      .select(col("doc_a"), col("doc_b"), col("containment"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(pairs(0.6) === Seq((1L, 2L, 1.0), (4L, 5L, 1.0)))
    assert(pairs(1.0) === Seq((1L, 2L, 1.0), (4L, 5L, 1.0)))
    val shared = Dedup.containmentPairsPrefix(d, 0.6,
      grams = Some(Dedup.cacheHashedPostings(d, k = 3)))
      .select(col("doc_a"), col("doc_b"), col("containment"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(shared === pairs(0.6))
  }

  test("skew guards are identity when caps exceed observed maxima") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tonight",
      3L -> "completely different words appear in this document here",
      4L -> "the quick brown fox jumps over the lazy dog tomorrow")
    val base = Dedup.jaccardPairs(d, 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val guarded = Dedup.jaccardPairs(d, 0.3, maxShingleDf = Some(1000))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(guarded === base)
    val lshBase = Dedup.minhashLshPairs(d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lshGuarded = Dedup.minhashLshPairs(d, maxBucketSize = Some(1000))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lshGuarded === lshBase)
  }

  test("binding shingle-DF cap drops boilerplate-only pairs") {
    // docs share ONLY the boilerplate prefix; with the stop-shingle cap
    // binding (the prefix shingles appear in all 5 docs) the overlap — and
    // the pair — disappears
    val boiler = "copyright notice all rights reserved"
    val d = docs(
      1L -> s"$boiler unique alpha text one",
      2L -> s"$boiler unrelated beta words two",
      3L -> s"$boiler different gamma tokens three",
      4L -> s"$boiler other delta content four",
      5L -> s"$boiler more epsilon stuff five")
    val unguarded = Dedup.jaccardPairs(d, 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(unguarded.nonEmpty) // boilerplate alone clears the 0.2 threshold
    val guarded = Dedup.jaccardPairs(d, 0.2, maxShingleDf = Some(4))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(guarded.isEmpty)
  }

  test("binding LSH bucket cap skips the degenerate bucket") {
    // five identical docs form one degenerate bucket per band (size 5 > 3);
    // the guard drops those buckets and with them the quadratic pair set
    val d = docs((1L to 5L).map(i => i -> "same words in every doc body"): _*)
    assert(Dedup.minhashLshPairs(d).count() === 10) // 5 choose 2
    assert(Dedup.minhashLshPairs(d, maxBucketSize = Some(3)).count() === 0)
  }

  test("skew stats report maxima and what a cap would drop") {
    val d = docs(
      1L -> "shared shingle words here plus alpha",
      2L -> "shared shingle words here plus beta",
      3L -> "shared shingle words here plus gamma")
    val js = Dedup.jaccardSkewStats(d, cap = 2).head()
    assert(js.getLong(0) === 3L)     // "shared shingle words" in all 3 docs
    assert(js.getLong(1) >= 1L)      // at least that shingle dropped by cap=2
    val ls = Dedup.lshSkewStats(d, cap = 10).head()
    assert(ls.getLong(0) >= 1L && ls.getLong(1) === 0L)
  }

  test("deterministic sampling: reproducible, stratified, split-partitioned") {
    val d = (1L to 2000L).map(i => (i, s"doc $i", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    // reproducible: identical output on re-run (pure hash gate, no RNG)
    val s1 = Sampling.bernoulli(d, 0.3, "doc_id", salt = "x")
      .select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.bernoulli(d, 0.3, "doc_id", salt = "x")
      .select("doc_id").as[Long].collect().toSet
    assert(s1 === s2)
    assert(math.abs(s1.size - 600) < 120) // ~30% of 2000, loose tolerance
    // fraction 1.0 keeps everything; 0.0 keeps nothing
    assert(Sampling.bernoulli(d, 1.0, "doc_id").count() === 2000)
    assert(Sampling.bernoulli(d, 0.0, "doc_id").count() === 0)
    // stratified: full-fraction stratum survives whole, other downsampled
    val strat = Sampling.stratified(d, "lang", Map("de" -> 1.0, "en" -> 0.1),
      keyCol = "doc_id")
    val byLang = strat.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(byLang("de") === 1000L)
    assert(byLang("en") < 300L)
    // split: every row assigned exactly once, same doc -> same split on rerun
    val sp = Sampling.splitAssign(d,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "doc_id")
    val counts = sp.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 2000L)
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts("train") > 1400L && counts("train") < 1800L)
    val again = Sampling.splitAssign(d,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "doc_id")
    assert(sp.select("doc_id", "split").except(
      again.select("doc_id", "split")).count() === 0)
  }

  test("text scrub strips tags, redacts emails/urls, collapses whitespace") {
    val d = Seq((1L,
      "<p>Contact  bob@example.com or\nsee https://x.org/a?b=1 now</p>"))
      .toDF("doc_id", "text")
    val out = d.select(TextNormalize.scrub(col("text")).as("t"))
      .as[String].head()
    assert(out === "Contact <EMAIL> or see <URL> now")
    val counts = d.select(TextNormalize.redactionCounts(col("text"))
      .map { case (n, c) => c.as(n) }: _*).head()
    assert(counts.getInt(0) === 1 && counts.getInt(1) === 1 &&
      counts.getInt(2) === 2)
  }

  test("IVF ANN probes nearest cells; wider probes recover cross-cell neighbors") {
    // cells seeded by vec 0 (x-axis) and vec 1 (y-axis). vec 4 sits near
    // the y-axis but is queried from the x-cell: nProbe=1 misses it,
    // nProbe=2 finds it.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)),     // cell seed 0
      (1L, Seq(0.0f, 1.0f)),     // cell seed 1
      (2L, Seq(0.9f, 0.1f)),     // x-cell member
      (3L, Seq(0.1f, 0.9f)),     // y-cell member
      (4L, Seq(0.6f, 0.8f)))     // y-cell, but cosine-close to x queries too
      .toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") === 2L)
    def neighbors(nProbe: Int) =
      Similarity.ivfTopK(e, q, k = 4, numCells = 2, nProbe = nProbe)
        .select("neighbor_id").as[Long].collect().toSet
    val narrow = neighbors(1)
    assert(narrow === Set(0L)) // only the x-cell (seed 0 + itself excluded)
    val wide = neighbors(2)
    assert(Set(0L, 1L, 3L, 4L).subsetOf(wide)) // cross-cell recovered
  }

  test("embedding centroids are elementwise means per group") {
    val e = Seq(
      (1L, Seq(1.0f, 2.0f), 0), (2L, Seq(3.0f, 6.0f), 0),
      (3L, Seq(10.0f, 20.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val c = Similarity.centroids(e)
      .select("label", "pos", "mean")
      .as[(Int, Int, Double)].collect().toSet
    assert(c === Set((0, 0, 2.0), (0, 1, 4.0), (1, 0, 10.0), (1, 1, 20.0)))
  }

  test("sequence packing cuts running token counts at the budget") {
    // single bucket keeps the math inspectable: 5 docs x 100 tokens,
    // budget 250 -> start offsets 0,100,200,300,400 -> examples 0,0,0,1,1
    val d = (1L to 5L).map(i => (i, 100L)).toDF("doc_id", "n_tokens")
    val packed = Packing.packByBudget(d, "n_tokens", budget = 250,
      keyCol = "doc_id", numBuckets = 1)
    val ex = packed.select("doc_id", "example_id")
      .as[(Long, Long)].collect().toMap
    assert(ex === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L))
    val stats = Packing.exampleStats(packed, "n_tokens")
      .select("example_id", "n_docs", "n_tokens")
      .as[(Long, Long, Long)].collect().toSet
    // example 0 holds 3 docs (300 tokens: straddles the budget by design)
    assert(stats === Set((0L, 3L, 300L), (1L, 2L, 200L)))
    // determinism + full coverage at a larger scale
    val big = (1L to 500L).map(i => (i, (i % 37) + 1)).toDF("doc_id", "n_tokens")
    val p1 = Packing.packByBudget(big, "n_tokens", 64, "doc_id", numBuckets = 8)
    val p2 = Packing.packByBudget(big, "n_tokens", 64, "doc_id", numBuckets = 8)
    assert(p1.count() === 500)
    assert(p1.except(p2).count() === 0)
  }

  test("simhash is identical for identical content, differs for different") {
    val out = docs(1L -> "alpha beta gamma", 2L -> "alpha beta gamma",
        3L -> "delta epsilon zeta unrelated tokens")
      .select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) === out(2L))
    assert(out(1L) !== out(3L))
  }

  test("brute-force ANN ranks the exact duplicate vector first") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f)),   // same direction as 1
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(-1.0f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 1), k = 3)
      .orderBy(col("rank")).select("neighbor_id", "cos")
      .as[(Long, Double)].collect()
    assert(top.head._1 === 2L)
    assert(math.abs(top.head._2 - 1.0) < 1e-12)
    assert(top.last._1 === 4L) // most dissimilar ranks last
  }

  test("LSH ANN only searches within the sign bucket") {
    val e = Seq(
      (1L, Seq(1.0f, 1.0f)),
      (2L, Seq(1.0f, 2.0f)),    // same (+,+) bucket
      (3L, Seq(-1.0f, 1.0f))).toDF("vec_id", "embedding") // different bucket
    val out = Similarity.lshTopK(e, e.filter(col("vec_id") === 1), k = 5, bits = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out === Set(2L))
  }

  test("language id picks the marker-heavy language") {
    val out = docs(
      1L -> "the cat of the house and a dog",
      2L -> "el perro y la casa de el gato",
      3L -> "qwerty zxcvb")
      .select(col("doc_id"), TextAnalysis.predictedLang(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "es")
    assert(out(3L) === "und")
  }

  test("fingerprint is order- and duplication-invariant") {
    val out = docs(1L -> "b a c a", 2L -> "a b c", 3L -> "a b d")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("f"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === out(2L))
    assert(out(1L) !== out(3L))
  }

  test("multimodal decode runs partition-wise and resize keeps aspect") {
    val media = Multimodal.attachMedia(docs(1L -> ("x" * 1000)))
    val decoded = Multimodal.decodeFeatures(media)
    val r = Multimodal.resize(decoded, 256)
      .select("byte_len", "width", "height", "out_width", "out_height").head()
    assert(r.getInt(0) === 1000)
    val (w, h, ow, oh) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
    assert(math.max(ow, oh) <= 256)
    // aspect preserved within rounding
    assert(math.abs(ow.toDouble / oh - w.toDouble / h) < 0.02)
  }

  test("frame sampling strides the fake frame index") {
    val media = Multimodal.attachMedia(docs(1L -> ("x" * 450)))
    val out = Multimodal.sampleFrames(Multimodal.decodeFeatures(media), stride = 2)
      .select("sampled_frames").as[Seq[Int]].head()
    assert(out === Seq(0, 2, 4)) // 5 fake frames (450/100+1), stride 2
  }

  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def jpegBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  test("real PNG/JPEG payloads decode real dimensions via javax.imageio") {
    val media = Seq(
      (1L, pngBytes(100, 40)), (2L, jpegBytes(33, 77)),
      (3L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val out = Multimodal.decodeFeatures(media)
      .select("doc_id", "width", "height", "n_frames")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(out(1L) === ((100, 40, 1)))
    assert(out(2L) === ((33, 77, 1)))
    // unclaimed payload falls back to the deterministic codec (12 bytes)
    assert(out(3L) === ((64 + 12, 64 + 84, 1)))
  }

  test("codec policy pins the deterministic path or strict imageio") {
    val png = pngBytes(100, 40)
    val media = Seq((1L, png), (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    // ForceFake: the REAL png decodes via the deterministic codec — an
    // oracle-gated corpus must not change values when a JDK reader claims
    // a payload
    val fake = Multimodal.decodeFeatures(media, Multimodal.ForceFake)
      .select("doc_id", "width", "height")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(fake(1L) === ((64 + png.length % 576, 64 + (png.length * 7) % 296)))
    assert(fake(2L) === ((64 + 12, 64 + 84)))
    // ImageIoOnly: strict real decode; unclaimed payloads are dropped
    val strict = Multimodal.decodeFeatures(media, Multimodal.ImageIoOnly)
      .select("doc_id", "width", "height")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(strict === Map(1L -> ((100, 40))))
  }

  test("pixel resize scales, keeps aspect, and re-encodes decodable PNG") {
    val media = Seq((1L, pngBytes(100, 40)), (2L, "nope".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val out = Multimodal.resizePixels(media, maxDim = 50).collect()
    assert(out.length === 1) // undecodable payloads are dropped
    val r = out.head
    assert(r.getLong(0) === 1L)
    assert((r.getInt(2), r.getInt(3)) === ((50, 20)))
    // the re-encoded payload is itself a decodable PNG with those dims
    val round = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
    assert((round.getWidth, round.getHeight) === ((50, 20)))
  }

  /** 16×16 gray-as-truecolor PNG: pixel (x,y) carries raster value v as
    * RGB (v,v,v) — PNG is lossless and Rec.601 luma of (v,v,v) is
    * exactly v, so decode→luma must recover the raster bit-for-bit. */
  private def grayPng(raster: Seq[Long], w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until h).foreach(y => (0 until w).foreach { x =>
      val v = raster(y * w + x).toInt
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    })
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("real-pixel bridge: PNG decode recovers the raster and hashes bit-identically") {
    // the VERDICT r15 honesty gap: the hash tier must run on GENUINE
    // encoded bytes, not only fixture-synthesized rasters. Known
    // rasters → real PNG encode → Multimodal.lumaRasters decode must be
    // the identity, and hashMedia over the bytes must equal the kernel
    // over the raw rasters.
    val rnd = new scala.util.Random(67)
    val rasters = (1L to 10L).map(i =>
      i -> Seq.fill(256)(rnd.nextInt(256).toLong))
    val media = rasters.map { case (i, r) => (i, grayPng(r, 16, 16)) }
      .toDF("doc_id", "media")
    val decoded = Multimodal.lumaRasters(media, 16, 16)
      .as[(Long, Seq[Long])].collect().toMap
    assert(decoded === rasters.toMap) // lossless round-trip, bit-for-bit
    val fromBytes = PerceptualHash.hashMedia(media)
      .as[(Long, Seq[Long], Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val fromRasters = rasters.toDF("doc_id", "pixels")
      .select(col("doc_id"),
        graft.functions.PhashExprs.ahashBands(col("pixels"), 16, 16).as("a"),
        graft.functions.PhashExprs.dhashBands(col("pixels"), 16, 16).as("d"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(fromBytes === fromRasters)
  }

  test("real-pixel bridge: keep list end-to-end from encoded PNG bytes") {
    // base image: 8×8 cell grid (2×2 pixel blocks) at luma {0, 200},
    // bit pattern = even cells on → ahash bits reproduce the pattern
    // exactly (mean 100 splits the two levels)
    def raster(bits: Int => Boolean): Seq[Long] =
      (0 until 256).map { idx =>
        val c = (idx / 16 / 2) * 8 + (idx % 16) / 2
        if (bits(c)) 200L else 0L
      }
    val base: Int => Boolean = c => c % 2 == 0
    val nearDup: Int => Boolean = c =>
      if (c == 0 || c == 9) !base(c) else base(c) // 2 cells inverted
    val far: Int => Boolean = c => !base(c)       // all 64 inverted
    val media = Seq((1L, grayPng(raster(base), 16, 16)),
      (2L, grayPng(raster(nearDup), 16, 16)),
      (3L, grayPng(raster(far), 16, 16)),
      (4L, "not an image".getBytes("UTF-8"))) // quarantine leg
      .toDF("doc_id", "media")
    val hashed = PerceptualHash.hashMedia(media).localCheckpoint(true)
    assert(hashed.count() === 3L) // unclaimed payload dropped
    val pairs = PerceptualHash.nearDupPairs(hashed, numBands = 4,
      maxHamming = 3).as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L, 2L))) // the 2-cell flip, nothing else
    // the dHash veto on real bytes: at verify radius 0 the gradient
    // change from the same 2-cell flip kills the pair; at a loose
    // radius the conjunction keeps it with the same candidate hamming
    val strict = PerceptualHash.nearDupPairsAnd(hashed, numBands = 4,
      maxHamming = 3, maxHammingVerify = 0).count()
    assert(strict === 0L)
    val loose = PerceptualHash.nearDupPairsAnd(hashed, numBands = 4,
        maxHamming = 3, maxHammingVerify = 16)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(loose.map(p => (p._1, p._2, p._3)) === Set((1L, 2L, 2L)))
    assert(loose.head._4 > 0L) // the gradient really moved
    // pairs → components → keep list: canonical min id survives, the
    // near-dup drops, the far image passes through untouched
    val comps = Dedup.connectedComponents(
      pairs.toSeq.toDF("a", "b", "h").select(col("a"), col("b")))
    val kept = Dedup.applyKeepList(hashed.select(col("doc_id")), comps)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L))
  }

  test("real-pixel bridge: geometry rescale leg is deterministic and hashable") {
    // a 32×32 payload (pixel-doubled base) rescales to the declared
    // 16×16 geometry inside the bridge; bilinear interpolation is not
    // bit-pinnable across inputs, so the contract here is geometry +
    // determinism + the hash running end-to-end
    val rnd = new scala.util.Random(71)
    val base = Seq.fill(256)(rnd.nextInt(256).toLong)
    val doubled = (0 until 1024).map { idx =>
      val y = idx / 32; val x = idx % 32
      base((y / 2) * 16 + x / 2)
    }
    val media = Seq((1L, grayPng(doubled, 32, 32))).toDF("doc_id", "media")
    val r1 = Multimodal.lumaRasters(media, 16, 16)
      .as[(Long, Seq[Long])].head()
    assert(r1._2.length === 256)
    val r2 = Multimodal.lumaRasters(media, 16, 16)
      .as[(Long, Seq[Long])].head()
    assert(r1 === r2) // deterministic decode+rescale
    // hashMedia accepts the oversized payload (rescale is internal)
    assert(PerceptualHash.hashMedia(media).count() === 1L)
  }

  test("per-group vocabulary: bucketed heavy-hitter cut equals the single window") {
    // many distinct tokens per group so the 64 buckets are well populated,
    // engineered frequency ties so the (count desc, token asc) tiebreak is
    // exercised across bucket boundaries
    val rows = (1 to 300).map { i =>
      val lang = if (i % 2 == 0) "en" else "de"
      // tok{i%40} appears with varied multiplicity; heavy hitters tok0..tok4
      val body = (0 to i % 40).map(j => s"tok$j").mkString(" ")
      (i.toLong, lang, body)
    }
    val d = rows.toDF("doc_id", "lang", "text")
    def run(buckets: Int) =
      TextAnalysis.vocabularyPerGroup(d, "lang", topK = 7, buckets = buckets)
        .select("lang", "token", "term_freq", "rank")
        .as[(String, String, Long, Int)].collect().sortBy(r => (r._1, r._4))
        .toSeq
    val window = run(1)
    assert(window.nonEmpty && window.count(_._1 == "en") === 7)
    assert(run(64) === window)   // the gate's default
    assert(run(3) === window)    // buckets ≪ distinct tokens: heavy pruning
    assert(run(1000) === window) // buckets ≫ distinct tokens: ~no pruning
  }

  test("token-budget mix keeps null-keyed rows in both formulations") {
    // a null key has no md5 draw; it must sort first (nulls-first order)
    // and survive the two-phase path's bucket join rather than vanish
    val d: Seq[(Option[Long], Long, String, Long)] =
      (1 to 60).map(i => (Some(i.toLong), i.toLong, "en", (i % 7 + 1).toLong)) :+
        ((None, 999L, "en", 5L))
    val df = d.toDF("key", "rid", "lang", "n_tokens")
    def kept(prefixLen: Int): Set[Long] =
      Sampling.tokenBudgetMix(df, "lang", Map("en" -> 80L),
        tokenCountCol = "n_tokens", keyCol = "key", salt = "nk",
        drawPrefixLen = prefixLen)
        .select("rid").as[Long].collect().toSet
    val single = kept(0)
    // the null-keyed row sorts first and consumes budget in BOTH paths
    assert(single.contains(999L))
    assert(kept(2) === single)
  }

  test("capped pair generation never emits self-pairs for duplicate doc_id rows") {
    // the same doc_id appearing twice puts the id in a posting list twice;
    // the strict < of the self-join formulation never pairs an id with
    // itself, and the posting-list formulation must agree
    val d = Seq((1L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(d, threshold = 0.1, maxShingleDf = Some(100))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.jaccardPairs(d, threshold = 0.1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped === uncapped)
    assert(capped === Set((1L, 2L)))
    val lshCapped = Dedup.minhashLshPairs(d, maxBucketSize = Some(100))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lshUncapped = Dedup.minhashLshPairs(d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lshCapped === lshUncapped)
    assert(!lshCapped.exists(p => p._1 == p._2))
  }

  test("subword token count: greedy longest-match with UNK fallback") {
    import graft.functions.SubwordTokenCount.subwordTokenCount
    val vocab = Seq("table", "ta", "the", "a", "scan", "or", "er", "so",
      "rt", "str", "eam")
    val d = Seq(
      (1L, "the"), (2L, "table"), (3L, "sort"), (4L, "stream"),
      (5L, "order"), (6L, "zzz"), (7L, "the table sort stream order zzz"),
      (8L, ""), (9L, "   \t\n "))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"), subwordTokenCount(col("text"), vocab))
      .as[(Long, Int)].collect().toMap
    // greedy: "table" beats "ta"+?; "sort"=so+rt; "stream"=str+eam;
    // "order"=or+UNK(d)+er; "zzz"=3 UNKs — cross-checked against the
    // DuckDB recursive-CTE oracle formulation
    assert(out === Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 3,
      6L -> 3, 7L -> 12, 8L -> 0, 9L -> 0))
  }

  test("subword token count: UNK advances one code point, not one byte") {
    import graft.functions.SubwordTokenCount.subwordTokenCount
    // é is 2 UTF-8 bytes, 𝄞 (U+1D11E) is 4 — each must count as ONE unk;
    // a multi-byte vocab entry must match whole
    val d = Seq((1L, "héllo"), (2L, "𝄞𝄞"), (3L, "héllo"), (4L, "naïve"))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        subwordTokenCount(col("text"), Seq("llo", "h", "naïve")))
      .as[(Long, Int)].collect().toMap
    assert(out === Map(1L -> 3, 2L -> 2, 3L -> 3, 4L -> 1))
  }

  test("subword token count matches a reference fold on random strings (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    import graft.functions.SubwordTokenCount.subwordTokenCount
    val vocab = Seq("ab", "abc", "bc", "a", "x", "xyz", "日本", "語")
    def ref(text: String): Int =
      text.split("[ \t\n\f\r]+").filter(_.nonEmpty).map { w =>
        var i = 0; var c = 0
        while (i < w.length) {
          val lens = vocab.filter(v => w.startsWith(v, i)).map(_.length)
          c += 1
          i += (if (lens.nonEmpty) lens.max
                else Character.charCount(w.codePointAt(i)))
        }
        c
      }.sum
    val piece = Gen.oneOf("a", "b", "c", "ab", "abc", "x", "yz", "日",
      "本", "語", "日本語", "é", "𝄞", " ", "\t", "\n", "  ")
    val textGen = Gen.listOf(piece).map(_.mkString)
    val prop = forAll(textGen) { t =>
      val got = Seq(Tuple1(t)).toDF("text")
        .select(subwordTokenCount(col("text"), vocab)).as[Int].head()
      Prop(got == ref(t)) :| s"text='$t' got=$got want=${ref(t)}"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("subword segmentation emits the greedy pieces; size equals the count") {
    import graft.functions.SubwordTokenCount.{subwordTokenCount, subwordTokens}
    val vocab = Seq("table", "ta", "the", "a", "scan", "or", "er", "so",
      "rt", "str", "eam", "naïve")
    val d = Seq(
      (1L, "the table sort stream order zzz"),
      (2L, "naïve héllo"), (3L, ""), (4L, "  \t "))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        subwordTokens(col("text"), vocab).as("p"),
        subwordTokenCount(col("text"), vocab).as("n"))
      .as[(Long, Seq[String], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === Seq("the", "table", "so", "rt", "str", "eam",
      "or", "d", "er", "z", "z", "z"))
    assert(out(2L)._1 === Seq("naïve", "h", "é", "l", "l", "o"))
    assert(out(3L)._1 === Seq.empty)
    assert(out(4L)._1 === Seq.empty)
    // the two expressions are the same walk: |pieces| == count, always
    assert(out.values.forall { case (p, n) => p.length == n })
  }

  test("token-budget mix runs unchanged on a subword count column") {
    import graft.functions.SubwordTokenCount.subwordTokenCount
    val d = (1 to 30).map(i => (i.toLong, "en", "the table sort stream"))
      .toDF("doc_id", "lang", "text")
      .withColumn("n_sub",
        subwordTokenCount(col("text"), Seq("the", "table", "so", "rt",
          "str", "eam")).cast("long"))
    // each doc counts 1+1+2+2 = 6 subword tokens; budget 45 keeps 7 docs
    val kept = Sampling.tokenBudgetMix(d, "lang", Map("en" -> 45L),
      tokenCountCol = "n_sub", keyCol = "doc_id", salt = "sw")
      .select("doc_id").as[Long].collect()
    assert(kept.length === 7)
  }

  test("simhash degenerate group: sample spans hash sub-partitions exactly") {
    // 200 identical docs in ONE sketch group — far more members than any
    // single sub-partition's sample; the merged slice must still be the
    // sampleSize smallest ids and n_docs the full count
    val d = docs((1 to 200).map(i => (i.toLong, "all the same text")): _*)
    val g = Dedup.simhashGroups(d, sampleSize = 10, samplePartitions = 4)
      .select(col("n_docs"), col("keep_id"), col("doc_ids")).collect()
    assert(g.length === 1)
    assert(g(0).getLong(0) === 200L)
    assert(g(0).getLong(1) === 1L)
    assert(g(0).getSeq[Long](2) === (1L to 10L))
  }

  test("temperature mix: alpha=1 keeps everything, smallest stratum always whole") {
    val d = ((1 to 80).map(i => (i.toLong, "big")) ++
      (81 to 100).map(i => (i.toLong, "small")))
      .toDF("doc_id", "lang")
    val natural = Sampling.temperatureMix(d, "lang", alpha = 1.0,
      keyCol = "doc_id").count()
    assert(natural === 100L)
    val flat = Sampling.temperatureMix(d, "lang", alpha = 0.5,
      keyCol = "doc_id", salt = "t")
    val byLang = flat.groupBy("lang").count().as[(String, Long)]
      .collect().toMap
    // smallest stratum is never cut; the big one downsamples toward
    // f = sqrt(20/80) = 0.5 (hash-gated, so approximately 40 of 80)
    assert(byLang("small") === 20L)
    assert(byLang("big") < 80L && byLang("big") > 20L)
  }

  test("temperature mix: kept set matches the per-stratum hand threshold") {
    // 3:1 row weights, alpha=0.5 -> f_big = sqrt(1/3); replaying the exact
    // micro-quantized threshold per row must reproduce the operator's keeps
    val d = ((1 to 75).map(i => (i.toLong, "b")) ++
      (76 to 100).map(i => (i.toLong, "s"))).toDF("doc_id", "lang")
    val kept = Sampling.temperatureMix(d, "lang", alpha = 0.5,
      keyCol = "doc_id", salt = "h").select("doc_id").as[Long].collect().sorted
    val micro = math.floor(math.pow(25.0 / 75.0, 0.5) * 1e6).toLong
    val thr = f"${math.floor(micro.toDouble * 4294967296.0 / 1000000.0).toLong}%08x"
    val expected = d.withColumn("h",
        substring(md5(concat(col("doc_id").cast("string"), lit(":h"))
          .cast("binary")), 1, 8))
      .filter(when(col("lang") === "s", col("h") < lit("g"))
        .otherwise(col("h") < lit(thr)))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === expected.toSeq)
  }

  test("shard assign: bucketed cut equals the single-window order, shards balanced") {
    val d = (1 to 503).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "pos_in_shard").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val single = Packing.shardAssign(d, numShards = 7, keyCol = "doc_id",
      salt = "x", drawPrefixLen = 0)
    val bucketed = Packing.shardAssign(d, numShards = 7, keyCol = "doc_id",
      salt = "x", drawPrefixLen = 2)
    assert(canon(bucketed) === canon(single))
    // round-robin deal: shard sizes differ by at most 1, positions are
    // contiguous 0..size-1 within every shard
    val sizes = bucketed.groupBy("shard").count().as[(Int, Long)]
      .collect().toMap
    assert(sizes.values.max - sizes.values.min <= 1)
    val positions = bucketed.select("shard", "pos_in_shard")
      .as[(Int, Long)].collect().groupBy(_._1)
    positions.foreach { case (_, ps) =>
      assert(ps.map(_._2).sorted.toSeq === (0L until ps.length).toSeq)
    }
  }

  test("shard assign: permutation is a pure function of (key, salt)") {
    val d = (1 to 100).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "pos_in_shard").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val a = m(Packing.shardAssign(d, 4, "doc_id", salt = "s1"))
    val b = m(Packing.shardAssign(d.orderBy(rand(7)), 4, "doc_id", salt = "s1"))
    val c = m(Packing.shardAssign(d, 4, "doc_id", salt = "s2"))
    assert(a === b)   // input order can't matter
    assert(a !== c)   // the salt re-shuffles
  }

  test("shard manifest digests the replay order and detects any membership change") {
    import org.apache.commons.codec.digest.DigestUtils
    val d = (1 to 97).map(i => (i.toLong, (i % 11).toLong))
      .toDF("doc_id", "len")
    val sharded = Packing.shardAssign(d, numShards = 3, keyCol = "doc_id",
      salt = "mani")
    val manifest = Packing.shardManifest(sharded, "doc_id", "len")
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    // reference: md5 over ids joined in pos_in_shard order
    val byShard = sharded.select("shard", "pos_in_shard", "doc_id", "len")
      .as[(Int, Long, Long, Long)].collect().groupBy(_._1)
    val want = byShard.map { case (s, rs) =>
      val ordered = rs.sortBy(_._2)
      s -> ((rs.length.toLong, rs.map(_._4).sum, 0L,
        rs.length.toLong - 1,
        DigestUtils.md5Hex(ordered.map(_._3).mkString("|"))))
    }
    assert(manifest === want)
    // layout independence
    val again = Packing.shardManifest(
        Packing.shardAssign(d.repartition(9), 3, "doc_id", salt = "mani"),
        "doc_id", "len")
      .collect().map(r => r.getInt(0) -> r.getString(5)).toMap
    assert(again === manifest.map { case (s, v) => s -> v._5 })
    // dropping ONE document flips its shard's digest and no other count
    val dropped = Packing.shardManifest(
        Packing.shardAssign(d.filter(col("doc_id") =!= 42L), 3, "doc_id",
          salt = "mani"),
        "doc_id", "len")
      .collect().map(r => r.getInt(0) -> r.getString(5)).toMap
    assert(dropped !== manifest.map { case (s, v) => s -> v._5 })
  }

  // ——— functions.CompressRatio ———

  test("compress ratio matches the java.util.zip reference and orders repetition below prose") {
    def ref(s: String): Double = {
      val bytes = s.getBytes("UTF-8")
      if (bytes.isEmpty) return 1.0
      val d = new java.util.zip.Deflater(6, true)
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      d.end()
      total.toDouble / bytes.length
    }
    val texts = Seq(
      1L -> "spam spam spam spam spam spam spam spam spam spam spam spam",
      2L -> "the quick brown fox jumps over one lazy dog near riverbanks",
      3L -> "",
      4L -> "züricher straße — ünïcode bytes compress too")
    val got = texts.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.CompressRatio.ratio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    texts.foreach { case (id, t) => assert(got(id) === ref(t), s"doc $id") }
    assert(got(3L) === 1.0)
    assert(got(1L) < got(2L)) // repetition compresses below prose
    // layout independence (thread-local deflater state never leaks)
    val scattered = texts.toDF("doc_id", "text").repartition(7)
      .select(col("doc_id"),
        graft.functions.CompressRatio.ratio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scattered === got)
  }

  // ——— Dedup.pairGroupMatrix ———

  test("pair group matrix canonicalizes unordered group pairs and counts") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (1L, 6L),
      (3L, 7L)).toDF("doc_a", "doc_b")
    val members = Seq((1L, Some("web")), (2L, Some("books")),
      (3L, Some("web")), (4L, Some("books")), (5L, Some("books")),
      // 6 has NO membership and 7 a NULL group -> both pairs drop (a
      // null group must NOT fabricate an intra-group pair via
      // least/greatest null-skipping)
      (7L, None)).toDF("doc_id", "source")
    val got = Dedup.pairGroupMatrix(pairs, members, groupCol = "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got === Map(
      ("books", "web") -> 2L,  // (1,2) and (2,3), both directions canonicalize
      ("web", "web") -> 1L,    // (1,3)
      ("books", "books") -> 1L)) // (4,5)
  }

  // ——— Dedup.componentSizeReport ———

  test("component size report histograms clusters and keep-one removals") {
    // components: {1,2,3} -> 1, {4,5} -> 4, {6,7} -> 6
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 6L), (7L, 6L)).toDF("id", "component")
    val got = Dedup.componentSizeReport(comps).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      3L -> ((1L, 3L, 2L)),  // one 3-cluster, 3 docs, keep-one removes 2
      2L -> ((2L, 4L, 2L)))) // two 2-clusters, 4 docs, 2 removed
  }

  // ——— CorpusStats.driftReport ———

  test("drift report: identical distributions score exactly zero, shifts score high") {
    val ref = (1 to 200).map(i => (i.toLong, (i % 50).toDouble))
      .toDF("id", "x")
    val sameGot = CorpusStats.driftReport(ref, ref, Seq("x"), numBuckets = 5)
      .collect().head
    assert(sameGot.getString(0) === "x")
    assert(sameGot.getDouble(1) === 0.0) // pc == pr per bucket, term exactly 0
    assert(sameGot.getLong(2) === 200L && sameGot.getLong(3) === 200L)
    // a hard shift: current sits entirely above the reference range
    val cur = (1 to 100).map(i => (i.toLong, 1000.0 + i)).toDF("id", "x")
    val shifted = CorpusStats.driftReport(ref, cur, Seq("x"), 5)
      .collect().head.getDouble(1)
    assert(shifted > 0.25, s"psi=$shifted") // "shifted" per the standard reading
  }

  test("drift report matches a plain-Scala PSI with the same quantization") {
    val rnd = new scala.util.Random(9)
    val ref = (1 to 300).map(i => (i.toLong, rnd.nextInt(40).toDouble))
      .toDF("id", "x")
    val cur = (1 to 150).map(i => (i.toLong, (rnd.nextInt(40) / 2).toDouble))
      .toDF("id", "x")
    val b = 4
    val got = CorpusStats.driftReport(ref, cur, Seq("x"), b)
      .collect().head.getDouble(1)
    // reference: exact percentile cuts (Spark's own, to isolate the PSI
    // arithmetic), then the documented smoothing + micro-quantization
    val cuts = ref.agg(percentile(col("x"),
        typedlit((1 until b).map(_.toDouble / b)))).head
      .getSeq[Double](0)
    def counts(xs: Seq[Double]) = (0 until b).map { k =>
      xs.count(v => cuts.count(v > _) == k).toLong
    }
    val xr = ref.select("x").as[Double].collect().toSeq
    val xc = cur.select("x").as[Double].collect().toSeq
    val (nr, nc) = (counts(xr), counts(xc))
    val terms = (0 until b).map { k =>
      val pr = (nr(k) + 1).toDouble / (xr.size + b)
      val pc = (nc(k) + 1).toDouble / (xc.size + b)
      math.round((pc - pr) * math.log(pc / pr) * 1e6)
    }
    assert(got === terms.sum.toDouble / 1e6)
  }

  // ——— Packing.contextGroups ———

  test("context groups deal each stratum's md5 permutation into fixed-size windows") {
    import org.apache.commons.codec.digest.DigestUtils
    val d = ((1 to 10).map(i => (i.toLong, "a")) ++
      (11 to 15).map(i => (i.toLong, "b"))).toDF("vec_id", "cell")
    val got = Packing.contextGroups(d, "cell", "vec_id", groupSize = 4,
        salt = "g")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // rank within stratum follows the (md5 draw, key) permutation
    def perm(ids: Seq[Long]) = ids.sortBy(id =>
      (DigestUtils.md5Hex(s"$id:g").take(8), id))
    for ((cell, ids) <- Map("a" -> (1L to 10L), "b" -> (11L to 15L))) {
      val want = perm(ids)
      val byRank = got.filter(_._2 == cell).sortBy(_._3).map(_._1).toSeq
      assert(byRank === want, cell)
    }
    // groups of 4: stratum a -> [4,4,2], b -> [4,1]; pos = rank mod 4
    val sizes = got.groupBy(t => (t._2, t._4)).view.mapValues(_.length).toMap
    assert(sizes === Map(("a", 0L) -> 4, ("a", 1L) -> 4, ("a", 2L) -> 2,
      ("b", 0L) -> 4, ("b", 1L) -> 1))
    assert(got.forall(t => t._5 === t._3 % 4))
    intercept[IllegalArgumentException] {
      Packing.contextGroups(d, "cell", "vec_id", groupSize = 0)
    }
  }

  // ——— Curation.filterWithProvenance / filterAblation ———

  test("filter provenance tags keep, ordered reasons, first fail; null predicates fail") {
    val d = Seq(
      (1L, 30, 0.5),            // passes everything
      (2L, 3, 0.5),             // fails min_len only
      (3L, 3, 0.1),             // fails both
      (4L, 30, Double.NaN)      // NaN comparison -> null predicate -> fail
    ).toDF("doc_id", "len", "score")
    val rules = Seq(
      "min_len" -> (col("len") >= 10),
      "min_score" -> (when(isnan(col("score")), lit(null)
        .cast("boolean")).otherwise(col("score") >= 0.3)))
    val got = Curation.filterWithProvenance(d, rules)
      .select("doc_id", "keep", "n_fails", "fail_reasons", "first_fail")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getInt(2), r.getString(3),
          Option(r.getString(4))))).toMap
    assert(got(1L) === ((true, 0, "", None)))
    assert(got(2L) === ((false, 1, "min_len", Some("min_len"))))
    assert(got(3L) === ((false, 2, "min_len|min_score", Some("min_len"))))
    assert(got(4L) === ((false, 1, "min_score", Some("min_score"))))
    intercept[IllegalArgumentException] {
      Curation.filterWithProvenance(d, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Curation.filterWithProvenance(d,
        Seq("a" -> lit(true), "a" -> lit(false)))
    }
    intercept[IllegalArgumentException] {
      Curation.filterWithProvenance(d, Seq("a|b" -> lit(true)))
    }
    intercept[IllegalArgumentException] {
      Curation.filterWithProvenance(d, Seq("" -> lit(true)))
    }
    intercept[IllegalArgumentException] {
      Curation.filterAblation(d, Seq("" -> lit(true)))
    }
  }

  test("filter ablation counts total, unique, and cumulative kills per rule") {
    // 10 docs: 0-5 pass all; 6 fails r1 only; 7 fails r2 only;
    // 8 fails r1+r2; 9 fails r2+r3
    val d = (0 to 9).map { i =>
      (i.toLong,
        !(i == 6 || i == 8),  // r1 pass
        !(i == 7 || i == 8 || i == 9), // r2 pass
        i != 9)               // r3 pass
    }.toDF("doc_id", "a", "b", "c")
    val rules = Seq("r1" -> col("a"), "r2" -> col("b"), "r3" -> col("c"))
    val got = Curation.filterAblation(d, rules).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got("r1") === ((0, 2L, 1L, 2L, 10L))) // fails {6,8}; unique {6}; cum {6,8}
    assert(got("r2") === ((1, 3L, 1L, 4L, 10L))) // fails {7,8,9}; unique {7}; cum {6,7,8,9}
    assert(got("r3") === ((2, 1L, 0L, 4L, 10L))) // fails {9}; unique none; cum unchanged
    // identities: the last cumulative equals total minus keeps
    val keeps = Curation.filterWithProvenance(d, rules)
      .filter(col("keep")).count()
    assert(got("r3")._4 === 10L - keeps)
  }

  // ——— Packing.curriculumOrder ———

  test("curriculum order: equal-population bands, ramped key, md5 within-band permutation") {
    val d = (1 to 200).map(i => (i.toLong, i.toDouble)).toDF("doc_id", "score")
    val out = Packing.curriculumOrder(d, "score", "doc_id", numBands = 4,
        salt = "t")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2),
        r.getLong(3), r.getDouble(4)))
    // equal-population bands over a uniform score, in score order
    val byBand = out.groupBy(_._3).view.mapValues(_.map(_._2).sorted).toMap
    assert(byBand.keySet === Set(0, 1, 2, 3))
    assert(byBand.values.forall(_.length == 50))
    assert(byBand(0).max < byBand(1).min && byBand(2).max < byBand(3).min)
    // sorting by curriculum_key IS sorting by (band, band_rank)
    val byKey = out.sortBy(_._5).map(t => (t._3, t._4)).toSeq
    assert(byKey === out.map(t => (t._3, t._4)).sortBy(identity).toSeq)
    // within a band the permutation is the (md5 draw, key) order
    val want0 = out.filter(_._3 == 0).map(_._1).sortBy(id =>
      (org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$id:t")
        .take(8), id))
    assert(out.filter(_._3 == 0).sortBy(_._4).map(_._1).toSeq === want0.toSeq)
  }

  test("curriculum order and drift report surface null scores instead of banding them") {
    val d = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(3.0)),
      (4L, Some(4.0)), (5L, None)).toDF("doc_id", "score")
    val out = Packing.curriculumOrder(d, "score", "doc_id", numBands = 2,
        salt = "t").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(2)), Option(r.get(4)))))
      .toMap
    // the unscored doc gets a NULL band and null curriculum_key — it
    // must not lead the curriculum as "easiest"
    assert(out(5L) === ((None, None)))
    assert(out(1L)._1 === Some(0) && out(4L)._1 === Some(1))
    // drift report: null signal rows are excluded from BOTH sides' counts
    val ref = Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), None)
      .toDF("x")
    val curr = Seq(Some(1.0), None, None).toDF("x")
    val row = CorpusStats.driftReport(ref, curr, Seq("x"), numBuckets = 2)
      .collect().head
    assert(row.getLong(2) === 4L && row.getLong(3) === 1L)
  }

  test("curriculum order: cut ties land in the lower band; one band degenerates") {
    // 4 copies of each score value — cuts fall ON values
    val d = (0 until 40).map(i => (i.toLong, (i % 10).toDouble))
      .toDF("doc_id", "score")
    val out = Packing.curriculumOrder(d, "score", "doc_id", numBands = 2,
        salt = "t").collect()
      .map(r => (r.getDouble(1), r.getInt(2)))
    // median of 0..9 ×4 is 4.5 -> scores <= 4.5 band 0, > 4.5 band 1
    assert(out.filter(_._1 <= 4.5).forall(_._2 == 0))
    assert(out.filter(_._1 > 4.5).forall(_._2 == 1))
    val one = Packing.curriculumOrder(d, "score", "doc_id", numBands = 1,
        salt = "t").collect().map(r => r.getInt(2)).distinct
    assert(one.toSeq === Seq(0))
  }

  // ——— SftPrep.rejectionSample ———

  test("rejection sampling keeps top-k above threshold, ties to the lowest id") {
    val cands = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.9), (1L, 12L, 0.95), (1L, 13L, 0.4),
      (1L, 14L, 0.7), (2L, 20L, 0.3), (3L, 30L, 0.6))
      .toDF("prompt", "resp", "reward")
    val got = SftPrep.rejectionSample(cands, "prompt", "reward", "resp",
        k = 2, minScore = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2))
    assert(got.toSeq === Seq(
      (1L, 1L, 12L, 0.95), // best
      (1L, 2L, 10L, 0.9),  // 0.9 tie -> lower id wins rank 2
      (3L, 1L, 30L, 0.6))) // prompt 2's only candidate is under threshold
  }

  test("rejection sampling funnel is exact: subPartitions N equals the single window") {
    val rnd = new scala.util.Random(5)
    // one HOT prompt with 400 candidates plus a cold tail
    val cands = ((1 to 400).map(i => (0L, i.toLong, rnd.nextInt(50) / 50.0)) ++
      (1 to 60).map(i => ((i % 7 + 1).toLong, 1000L + i, rnd.nextDouble())))
      .toDF("prompt", "resp", "reward")
    def run(sp: Int) = SftPrep.rejectionSample(cands, "prompt", "reward",
        "resp", k = 5, minScore = 0.2, subPartitions = sp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(run(4) === run(1))
    assert(run(16) === run(1))
  }

  // ——— LinkGraph.pageRank ———

  /** Plain-Scala reference with the operator's exact integer fixed-point
    * semantics (every division a floor of non-negative longs). */
  private def refPageRank(edges: Seq[(String, String)], iters: Int,
                          dampNum: Long = 85L,
                          dampDen: Long = 100L): Map[String, Long] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val out = es.groupBy(_._1).map { case (s, g) => s -> g.length.toLong }
    val scale = LinkGraph.Scale
    val base = (dampDen - dampNum) * (scale / n) / dampDen
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(out.contains).map(r).sum
      val in = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map { case (s, _) => r(s) / out(s) }.sum
      }
      r = nodes.map(v => v ->
        (base + dampNum * (in.getOrElse(v, 0L) + dang / n) / dampDen)).toMap
    }
    r
  }

  private def runPageRank(edges: Seq[(String, String)], iters: Int) = {
    val out = LinkGraph.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    out.map(t => t._1 -> t._2).toMap -> out
  }

  test("pagerank matches the integer reference on a graph with a dangling sink and a self-loop") {
    // x has no out-edges (dangling — its mass redistributes uniformly);
    // d carries a self-loop (an ordinary edge by contract)
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a",
      "a" -> "x", "c" -> "d", "d" -> "d")
    val (got, rows) = runPageRank(edges, 5)
    assert(got === refPageRank(edges, 5))
    // fixed-point floors only ever DROP mass: total stays in (0.99, 1]·Scale
    val total = got.values.sum
    assert(total <= LinkGraph.Scale && total > LinkGraph.Scale * 99 / 100)
    // the double column is exactly rank_int / 1e12
    rows.foreach { case (_, ri, rd) => assert(rd === ri.toDouble / 1e12) }
  }

  test("pagerank matches the reference on random graphs") {
    for (seed <- Seq(1, 7, 23)) {
      val rnd = new scala.util.Random(seed)
      val nodes = (0 until 30).map(i => s"h$i")
      val edges = Seq.fill(100)(
        nodes(rnd.nextInt(30)) -> nodes(rnd.nextInt(30)))
      val (got, _) = runPageRank(edges, 4)
      assert(got === refPageRank(edges, 4), s"seed $seed")
    }
  }

  test("pagerank deduplicates edges and is layout-independent") {
    val edges = Seq("a" -> "b", "a" -> "b", "b" -> "c", "c" -> "a")
    val want = refPageRank(edges, 3)
    val (got, _) = runPageRank(edges ++ edges, 3)
    assert(got === want)
    val scattered = LinkGraph.pageRank(
        edges.toDF("src", "dst").repartition(7), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scattered === want)
  }

  test("pagerank rejects empty graphs and invalid damping") {
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(Seq.empty[(String, String)].toDF("src", "dst"), 3)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(Seq("a" -> "b").toDF("src", "dst"), 0)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(Seq("a" -> "b").toDF("src", "dst"), 3,
        dampNum = 101L, dampDen = 100L)
    }
  }

  // ——— LinkGraph.labelPropagate ———

  /** Plain-Scala reference of the synchronous clamped-majority semantics. */
  private def refLabelProp(edges: Seq[(String, String)],
                           seeds: Map[String, String],
                           iters: Int): Map[String, Option[String]] = {
    val eu = (edges ++ edges.map(_.swap)).distinct
    val nodes = eu.map(_._1).distinct.sorted
    val adj = eu.groupBy(_._2).map { case (d, g) => d -> g.map(_._1) }
    var l: Map[String, Option[String]] =
      nodes.map(v => v -> seeds.get(v).filter(_ => nodes.contains(v))).toMap
    for (_ <- 1 to iters) {
      val next = nodes.map { v =>
        val votes = adj.getOrElse(v, Nil).flatMap(l(_))
          .groupBy(identity).map { case (lb, g) => lb -> g.size }
        val win = if (votes.isEmpty) None
          else Some(votes.toSeq.minBy { case (lb, c) => (-c, lb) }._1)
        v -> seeds.get(v).orElse(win).orElse(l(v))
      }.toMap
      l = next
    }
    l
  }

  private def runLabelProp(edges: Seq[(String, String)],
                           seeds: Seq[(String, String)], iters: Int) =
    LinkGraph.labelPropagate(edges.toDF("src", "dst"),
        seeds.toDF("node", "label"), iters)
      .collect()
      .map(r => r.getString(0) ->
        ((Option(r.getString(1)), r.getBoolean(2)))).toMap

  test("label propagation: clamped seeds, majority with min-label ties, keep-previous") {
    // path a-b-c-d-e; seeds a='x', e='y'. Round 1 labels b and d; round 2
    // hits c with a {x, y} TIE -> min label 'x'; seeds never flip even
    // when outvoted.
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e")
    val seeds = Seq("a" -> "x", "e" -> "y")
    val got = runLabelProp(edges, seeds, 3)
    val want = refLabelProp(edges, seeds.toMap, 3)
    assert(got.map { case (n, (l, _)) => n -> l } === want)
    assert(got("c")._1 === Some("x")) // the tie broke to the smaller label
    assert(got("a") === ((Some("x"), true)) && got("e") === ((Some("y"), true)))
    // one round: c has no labeled neighbor yet and stays null
    val r1 = runLabelProp(edges, seeds, 1)
    assert(r1("c")._1 === None && r1("b")._1 === Some("x"))
  }

  test("label propagation matches the reference on random graphs and ignores off-graph seeds") {
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val nodes = (0 until 25).map(i => s"h$i")
      val edges = Seq.fill(60)(
        nodes(rnd.nextInt(25)) -> nodes(rnd.nextInt(25)))
      val seeds = Seq("h0" -> "edu", "h1" -> "ref", "h2" -> "edu",
        "zz-not-in-graph" -> "spam")
      val got = runLabelProp(edges, seeds, 4)
      assert(!got.contains("zz-not-in-graph"))
      assert(got.map { case (n, (l, _)) => n -> l } ===
        refLabelProp(edges, seeds.toMap, 4))
    }
  }

  test("label propagation: multi-label seed keeps the smallest; duplicate edges collapse") {
    val edges = Seq("a" -> "b", "a" -> "b", "b" -> "a")
    val got = runLabelProp(edges, Seq("a" -> "zz", "a" -> "aa"), 2)
    assert(got("a") === ((Some("aa"), true)))
    assert(got("b")._1 === Some("aa"))
  }

  test("link-graph local fast paths equal the distributed rounds (r16)") {
    // the size gate picks the physical route only: driver replay ≡ BSP
    // rounds row for row, ranks bit for bit (maxLocalEdges = 0 forces
    // the distributed loop on the same graphs)
    for (seed <- Seq(5, 19)) {
      val rnd = new scala.util.Random(seed)
      val nodes = (0 until 30).map(i => s"h$i")
      val edges = Seq.fill(90)(
        nodes(rnd.nextInt(30)) -> nodes(rnd.nextInt(30)))
      val prLocal = LinkGraph.pageRank(edges.toDF("src", "dst"), 4)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val prDist = LinkGraph.pageRank(edges.toDF("src", "dst"), 4,
          maxLocalEdges = 0L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(prLocal === prDist, s"pagerank seed=$seed")
      val seeds = Seq("h0" -> "edu", "h3" -> "ref")
      val lpLocal = LinkGraph.labelPropagate(edges.toDF("src", "dst"),
          seeds.toDF("node", "label"), 3)
        .collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2)))
        .toSet
      val lpDist = LinkGraph.labelPropagate(edges.toDF("src", "dst"),
          seeds.toDF("node", "label"), 3, maxLocalEdges = 0L)
        .collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2)))
        .toSet
      assert(lpLocal === lpDist, s"labelprop seed=$seed")
    }
  }

  test("scalar quantization: code range, endpoints, reconstruction bound") {
    val vecs = Seq(
      (1L, Array(0.0f, -2.0f, 7.0f)),
      (2L, Array(5.0f, -2.0f, 7.0f)),
      (3L, Array(10.0f, -2.0f, 3.0f))).toDF("vec_id", "embedding")
    val q = ScalarQuant.quantize(vecs)
    val codes = q.select("vec_id", "codes").as[(Long, Seq[Int])]
      .collect().toMap
    // dim 0 spans [0,10]: min codes 0, max clamps to 255, mid = floor(128)
    assert(codes(1L)(0) === 0 && codes(3L)(0) === 255)
    assert(codes(2L)(0) === 128)
    // degenerate dim 1 (all equal) codes to 0
    assert(codes.values.forall(_.apply(1) == 0))
    assert(codes.values.forall(_.forall(c => c >= 0 && c <= 255)))
    // midpoint reconstruction error bounded by range/512 per dimension
    val (mins, maxes) = ScalarQuant.collectStats(ScalarQuant.fitMinMax(vecs))
    val err = q.select(col("embedding").cast("array<double>").as("v"),
        ScalarQuant.decodeExpr(col("codes"), mins, maxes).as("r"))
      .select(aggregate(zip_with(col("v"), col("r"),
        (a, b) => abs(a - b)), lit(0.0), (acc, x) => greatest(acc, x)))
      .as[Double].collect().max
    val worst = (0 until 3).map(i => (maxes(i) - mins(i)) / 512.0).max
    assert(err <= worst + 1e-12)
  }

  test("native scalar-quant kernels match the HOF reference shape (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    // random stats + vectors, including out-of-range values (below mn /
    // above mx — streaming data the fit never saw), degenerate dims
    // (mn = mx), and vectors LONGER than the stats (HOF's out-of-range
    // element_at → null element)
    val dims = 5
    val statGen = Gen.listOfN(dims, Gen.zip(
      Gen.choose(-10.0, 10.0), Gen.choose(0.0, 5.0)))
    // values include EXTREME outliers (±1e10 and beyond the int range
    // after ·256 scaling): the floor code wraps through Spark's
    // non-ANSI long→int cast there, and the kernel must wrap-then-clamp
    // identically (a min-before-truncate bug survived the original
    // ±20 range — caught in round-12 review)
    val vecGen = Gen.choose(3, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(
        Gen.choose(-20.0, 20.0),
        Gen.oneOf(-1e10, -2.56e9, -1e7, 1e7, 1e10, 1e300, -1e300))))
    val prop = forAll(statGen, Gen.listOfN(8, vecGen)) { (stats, vs) =>
      val mins = stats.map(_._1).toArray
      val maxes = stats.map { case (lo, w) =>
        if (w < 0.5) lo else lo + w }.toArray // w<0.5 → degenerate dim
      val vecs = vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.toArray) }.toDF("vec_id", "embedding")
      val native = vecs.select(col("vec_id"),
          ScalarQuant.encodeExpr(col("embedding"), mins, maxes).as("c"))
        .withColumn("r", ScalarQuant.decodeExpr(col("c"), mins, maxes))
        .as[(Long, Seq[Option[Int]], Seq[Option[Double]])].collect().toSeq
      val hof = vecs.select(col("vec_id"),
          ScalarQuant.encodeExprHof(col("embedding"), mins, maxes).as("c"))
        .withColumn("r", ScalarQuant.decodeExprHof(col("c"), mins, maxes))
        .as[(Long, Seq[Option[Int]], Seq[Option[Double]])].collect().toSeq
      Prop(native.sortBy(_._1) == hof.sortBy(_._1)) :|
        s"native=$native hof=$hof mins=${mins.toSeq} maxes=${maxes.toSeq}"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("script profile: counts and dominant script by hand") {
    val d = Seq(
      (1L, "abc где 中文 123 !"),   // latin 3, cyr 3, han 2, digit 3, space 4, other 1
      (2L, ""),                      // all zero -> none
      (3L, "ab вг"),                 // latin/cyrillic tie -> latin wins
      (4L, "中中中 вг ج"),               // han 3 dominates
      (5L, "中中 вг")).toDF("doc_id", "text") // cyr/han tie -> cyrillic
    val out = d.select(col("doc_id") +:
        TextAnalysis.scriptColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getInt(r1.fieldIndex("n_latin")) === 3)
    assert(r1.getInt(r1.fieldIndex("n_cyrillic")) === 3)
    assert(r1.getInt(r1.fieldIndex("n_han")) === 2)
    assert(r1.getInt(r1.fieldIndex("n_digit")) === 3)
    assert(r1.getInt(r1.fieldIndex("n_space")) === 4)
    assert(r1.getInt(r1.fieldIndex("n_other")) === 1)
    assert(r1.getString(r1.fieldIndex("dominant_script")) === "latin")
    assert(out(2L).getString(out(2L).fieldIndex("dominant_script")) === "none")
    assert(out(3L).getString(out(3L).fieldIndex("dominant_script")) === "latin")
    assert(out(4L).getString(out(4L).fieldIndex("dominant_script")) === "han")
    assert(out(5L).getString(out(5L).fieldIndex("dominant_script")) === "cyrillic")
  }

  test("url canonicalization: ports, params, fragments, userinfo, domains by hand") {
    val urls = Seq(
      (1L, "HTTP://User:pw@WWW.Example.COM:80/a/B?utm_source=x&b=2&a=1#frag"),
      (2L, "https://example.com:8080/p?gclid=1"),
      (3L, "https://news.bbc.co.uk:443"),
      (4L, "http://localhost/x"),
      (5L, "https://a.b.example.com/p?z=1&y=2&utm_campaign=c")
    ).toDF("id", "u")
    val out = urls.select(col("id"),
        UrlOps.canonicalize(col("u")).as("c"),
        UrlOps.registeredDomain(UrlOps.host(col("u"))).as("d"))
      .as[(Long, String, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // default port + userinfo + fragment dropped, host lowercased, path
    // case kept, tracking params dropped, survivors sorted
    assert(out(1L)._1 === "http://www.example.com/a/B?a=1&b=2")
    assert(out(1L)._2 === "example.com")
    // non-default port kept; all-tracking query drops the "?" entirely
    assert(out(2L)._1 === "https://example.com:8080/p")
    // empty path becomes "/", :443 default for https, second-level TLD
    assert(out(3L)._1 === "https://news.bbc.co.uk/")
    assert(out(3L)._2 === "bbc.co.uk")
    // single-label host is its own domain
    assert(out(4L)._2 === "localhost")
    assert(out(5L)._1 === "https://a.b.example.com/p?y=2&z=1")
    assert(out(5L)._2 === "example.com")
  }

  test("temperature mix drops zero-weight strata instead of NaN-poisoning thresholds") {
    // lang "z" has only zero-token docs: it can't anchor p_min and is
    // dropped whole; the positive strata sample normally
    val d = ((1 to 40).map(i => (i.toLong, "big", 10L)) ++
      (41 to 50).map(i => (i.toLong, "small", 10L)) ++
      (51 to 55).map(i => (i.toLong, "z", 0L)))
      .toDF("doc_id", "lang", "w")
    val kept = Sampling.temperatureMix(d, "lang", alpha = 0.5,
      keyCol = "doc_id", weightCol = Some("w"), salt = "zg")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(!kept.contains("z"))
    assert(kept("small") === 10L)
    assert(kept.getOrElse("big", 0L) > 0L)
  }

  test("isUrl gates url-shaped rows; non-URLs canonicalize to the documented shell") {
    val d = Seq((1L, "https://a.example.com/x"), (2L, "not a url"),
      (3L, "ftp://files.example.org/f"), (4L, "//missing.scheme/x"))
      .toDF("id", "u")
    val flags = d.select(col("id"), UrlOps.isUrl(col("u")).as("ok"))
      .as[(Long, Boolean)].collect().toMap
    assert(flags === Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
    val shell = d.filter(!UrlOps.isUrl(col("u")))
      .select(UrlOps.canonicalize(col("u"))).as[String].collect()
    assert(shell.forall(_ === ":///"))
  }

  test("url categorize: rule kinds, first-match priority, label-boundary suffix") {
    val rules = Seq(
      ("gambling", "domain", "bad-casino.com"),
      ("social", "host_suffix", "social.example.com"),
      ("ads", "path_kw", "/promo"))
    val d = Seq(
      (1L, "https://www.bad-casino.com/p/1/promo"),  // domain beats path
      (2L, "http://feed.social.example.com/p/2"),    // suffix match
      (3L, "http://social.example.com/p/3"),         // exact host counts too
      (4L, "http://notsocial.example.com/p/4/promo"),// NOT a suffix; path hits
      (5L, "https://www.clean.example.com/p/5")      // unblocked
    ).toDF("doc_id", "url")
    val got = UrlOps.categorize(d, "url", rules)
      .select("doc_id", "category", "blocked")
      .as[(Long, Option[String], Boolean)].collect()
      .map { case (k, v, b) => k -> ((v, b)) }.toMap
    assert(got === Map(
      1L -> ((Some("gambling"), true)),
      2L -> ((Some("social"), true)),
      3L -> ((Some("social"), true)),
      4L -> ((Some("ads"), true)),
      5L -> ((None, false))))
    intercept[IllegalArgumentException] {
      UrlOps.categorize(d, "url", Seq(("x", "badkind", "p")))
    }
    // the broadcast-join twin agrees with the literal fold cell for cell
    // (same rules as a rule_pos-carrying table)
    val ruleDf = rules.zipWithIndex
      .map { case ((c, k, p), i) => (c, k, p, i.toLong) }
      .toDF("category", "kind", "pattern", "rule_pos")
    val viaJoin = UrlOps.categorizeBroadcast(d, "url", "doc_id", ruleDf)
      .select("doc_id", "category", "blocked")
      .as[(Long, Option[String], Boolean)].collect()
      .map { case (k, v, b) => k -> ((v, b)) }.toMap
    assert(viaJoin === got)
    // first-match-wins with a LATER rule matching the same URL: doc 1
    // also matches the path keyword but the domain rule has lower pos
    val hostDom = UrlOps.categorizeBroadcast(d, "url", "doc_id", ruleDf)
      .filter(col("doc_id") === 1L)
      .select("host", "domain", "category").as[(String, String, String)]
      .collect().head
    assert(hostDom === (("www.bad-casino.com", "bad-casino.com", "gambling")))
    // mistyped kinds and empty tables fail fast, like the literal fold —
    // a silently-dropped kind would turn a production blocklist off
    intercept[IllegalArgumentException] {
      UrlOps.categorizeBroadcast(d, "url", "doc_id",
        Seq(("x", "host-suffix", "p", 0L))
          .toDF("category", "kind", "pattern", "rule_pos"))
    }
    intercept[IllegalArgumentException] {
      UrlOps.categorizeBroadcast(d, "url", "doc_id",
        ruleDf.filter(col("rule_pos") < 0))
    }
    // the stateless (streaming) twin — in-row fold over the pos-sorted
    // broadcast rule array — agrees with both batch arrangements
    val viaFold = UrlOps.categorizeBroadcastStateless(d, "url", ruleDf)
      .select("doc_id", "category", "blocked")
      .as[(Long, Option[String], Boolean)].collect()
      .map { case (k, v, b) => k -> ((v, b)) }.toMap
    assert(viaFold === got)
    intercept[IllegalArgumentException] {
      UrlOps.categorizeBroadcastStateless(d, "url",
        Seq(("x", "badkind", "p", 0L))
          .toDF("category", "kind", "pattern", "rule_pos"))
    }
  }

  test("ivf recall sweep: widening probes is monotone, widest row is exhaustive") {
    import graft.operators.Similarity
    val e = (1 to 40).map(i => (i.toLong,
      Array.tabulate(8)(d => math.sin(i * 31 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") <= 5)
    val sweep = Similarity.ivfRecallSweep(e, q, k = 3, numCells = 8,
        nProbes = Seq(1, 2, 4, 8))
      .orderBy(col("n_probe"))
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(sweep.map(_._1) === Seq(1, 2, 4, 8))
    // pooled truth is |queries| × k everywhere
    assert(sweep.forall { case (_, nq, st, _, _) => nq === 5L && st === 15L })
    // recall is monotone in probe depth and exhaustive at numCells
    val recalls = sweep.map(_._5)
    assert(recalls === recalls.sorted)
    assert(recalls.last === 1000000L)
    // each sweep row equals an independent ivfTopK at that depth
    val truth = Similarity.bruteForceTopK(e, q, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    for ((np, _, _, hits, _) <- sweep) {
      val indep = Similarity.ivfTopK(e, q, k = 3, numCells = 8, nProbe = np)
        .select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      assert(hits === indep, s"nProbe=$np")
    }
    // degenerate: no queries → sum_truth 0 and recall pinned to 0, not null
    val none = Similarity.ivfRecallSweep(e, q.filter(col("vec_id") < 0),
        k = 3, numCells = 8, nProbes = Seq(1, 2))
      .as[(Int, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(none === Seq((1, 0L, 0L, 0L, 0L), (2, 0L, 0L, 0L, 0L)))
  }

  test("mojibake repair inverts the corruption and leaves clean text alone") {
    import graft.operators.TextNormalize
    val clean = "café’s — naïve… “ok” ß straße"
    val plainAscii = "no artifacts here 123"
    val d = Seq(
      (1L, TextNormalize.asMojibake(clean)),
      (2L, clean),
      (3L, plainAscii)).toDF("id", "t")
    val fixed = d.select(col("id"), TextNormalize.fixMojibake(col("t")).as("f"))
      .as[(Long, String)].collect().toMap
    assert(fixed(1L) === clean)       // corrupt -> fix round-trips
    assert(fixed(2L) === clean)       // already-clean text untouched
    assert(fixed(3L) === plainAscii)
    // longest-first ordering invariant: no earlier artifact is a proper
    // prefix of a later one (else the early replace would corrupt the
    // longer artifact before its own entry could match)
    val bads = TextNormalize.MojibakeTable.map(_._1)
    assert(bads.forall(_.length >= 2))
    for (i <- bads.indices; j <- (i + 1) until bads.length)
      assert(!bads(j).startsWith(bads(i)),
        s"'${bads(i)}' (pos $i) prefixes later '${bads(j)}' (pos $j)")
  }

  test("learned BPE merges feed the greedy segmenter end-to-end") {
    // the production sequencing: learn merges on the corpus, then segment
    // the corpus with the learned pieces (+ single-char closure for UNK)
    val text = "spark table scan spark table"
    val d = docs((1 to 20).map(i => (i.toLong, text)): _*)
    val merges = BpeLearn.learn(d, numMerges = 6, endOfWord = None)
    assert(merges.nonEmpty)
    val vocab = merges.map(_.merged) ++
      text.replace(" ", "").distinct.map(_.toString)
    val segs = d.limit(1).select(
      graft.functions.SubwordTokenCount.subwordTokens(col("text"), vocab)
        .as("p")).as[Seq[String]].collect().head
    // segmentation reassembles the text exactly and actually uses the
    // learned multi-char pieces (greedy longest-match finds them)
    assert(segs.mkString === text.replace(" ", ""))
    assert(segs.exists(_.length > 1))
    // the most frequent pair merged first: every word occurrence of that
    // merge's target string is coverable, so its pieces appear
    assert(segs.exists(p => merges.exists(_.merged == p)))
  }

  test("containment pairs catch subset docs that jaccard under-scores") {
    // B embeds A whole and adds a long tail: containment(A,B) = 1.0 while
    // jaccard = |A|/|B| is small; C is unrelated
    val a = "alpha beta gamma delta epsilon"
    val tail = (1 to 40).map(i => s"filler$i").mkString(" ")
    val d = docs((1L, a), (2L, s"$a $tail"), (3L, "zeta eta theta iota kappa"))
    val cont = Dedup.containmentPairs(d, threshold = 0.99)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect()
    assert(cont.map(t => (t._1, t._2)).toSeq === Seq((1L, 2L)))
    assert(cont.head._3 === 1.0)
    // jaccard at the same bar misses the subset pair entirely
    assert(Dedup.jaccardPairs(d, threshold = 0.99).count() === 0L)
    // capped formulation agrees with the unguarded one
    val capped = Dedup.containmentPairs(d, threshold = 0.99,
      maxShingleDf = Some(100)).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSeq
    assert(capped === Seq((1L, 2L)))
  }

  test("char entropy: hand-computed micro-nat sums, degenerate and empty docs") {
    val d = docs((1L, "aab"), (2L, "abcd"), (3L, "aaaa"), (4L, ""))
    val out = TextAnalysis.charEntropy(d)
      .select("doc_id", "n_chars", "n_distinct_chars", "entropy_micro_nats")
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    def term(c: Long, n: Long): Long =
      math.floor((c.toDouble / n) * math.log(n.toDouble / c) * 1e6).toLong
    assert(out(1L) === ((3L, 2L, term(2, 3) + term(1, 3))))
    assert(out(2L) === ((4L, 4L, 4 * term(1, 4))))
    assert(out(3L) === ((4L, 1L, 0L)))   // single-char flood: zero entropy
    assert(out(4L) === ((0L, 0L, 0L)))   // empty doc present with zeros
  }

  test("plan shapes: the new curation ops match their documented scale contracts") {
    val d = (1 to 500).map(i => (i.toLong, if (i % 4 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    // temperatureMix: the ONLY hash exchange belongs to the strata-sized
    // aggregate; the corpus side is scan → broadcast join → filter
    val tmPlan = Sampling.temperatureMix(d, "lang", 0.5, "doc_id")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(tmPlan).size === 1, tmPlan)
    assert("BroadcastExchange".r.findAllIn(tmPlan).nonEmpty)
    // shardAssign (bucketed): corpus-sized work shuffles ONCE for the
    // per-bucket rank window; the count aggregate's exchange carries only
    // partial-aggregated bucket rows, and the base window runs over the
    // bucket aggregate, never the corpus
    val saPlan = Packing.shardAssign(d.withColumn("text", lit("x")), 4,
        "doc_id").queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(saPlan).size <= 2, saPlan)
    assert("BroadcastExchange".r.findAllIn(saPlan).nonEmpty)
    // scalar-quant encode against a collected model: pure projection — no
    // exchange of any kind
    val vecs = (1 to 100).map(i => (i.toLong, Array(i.toFloat, -i.toFloat)))
      .toDF("vec_id", "embedding")
    val encPlan = vecs.select(ScalarQuant.encodeExpr(col("embedding"),
        Array(0.0, -100.0), Array(100.0, 0.0)).as("codes"))
      .queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"), encPlan)
    // tfidf: the per-doc rank window partitions by doc_id (bounded
    // partitions), never a global sort below the rank
    val kwPlan = Retrieval.tfidfKeywords(docs((1L, "a b"), (2L, "b c")), 2)
      .queryExecution.executedPlan.toString
    assert(kwPlan.contains("windowspecdefinition(doc_id"), kwPlan)
    // perplexityBuckets: tercile cuts come from an aggregation + threshold
    // join — NO window anywhere (an ntile formulation would funnel each
    // language through one task)
    val dd = (1 to 60).map(i =>
      (i.toLong, s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 5}",
        if (i % 2 == 0) "en" else "de")).toDF("doc_id", "text", "lang")
    val pbPlan = LanguageModel.perplexityBuckets(dd,
        LanguageModel.ngramCounts(dd))
      .queryExecution.executedPlan.toString
    assert(!pbPlan.contains("windowspecdefinition"), pbPlan)
    // scrubBoilerplate: the only window is the per-DOCUMENT reassembly;
    // the hot-set decision is aggregation-keyed on (domain, line hash),
    // never a domain-wide window
    val bd = (1 to 40).map(i => (i.toLong, s"s${i % 3}", s"nav\nbody $i"))
      .toDF("doc_id", "source", "text")
    val bpPlan = TextNormalize.scrubBoilerplate(bd, maxDocShare = 0.5,
        minDomainDocs = 5)
      .queryExecution.executedPlan.toString
    assert(bpPlan.contains("windowspecdefinition(__id"), bpPlan)
    assert(!bpPlan.contains("windowspecdefinition(__dom"), bpPlan)
  }

  test("tfidf keywords: ubiquitous terms score zero, rare terms rank first") {
    // "common" appears in every doc -> idf = floor(ln(4/4)*1e6) = 0;
    // "rare" only in doc 1 -> idf = floor(ln(4/2)*1e6) > 0
    val d = docs(
      (1L, "common rare common"),
      (2L, "common other"),
      (3L, "common other other"))
    val out = Retrieval.tfidfKeywords(d, k = 2)
      .select("doc_id", "rank", "term", "tf", "score_micro")
      .as[(Long, Int, String, Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).toSeq }
    // doc 1: rare (idf ln(2) micro) beats common (score 0, tf 2)
    val idfRare = math.floor(math.log(4.0 / 2.0) * 1e6).toLong
    val idfOther = math.floor(math.log(4.0 / 3.0) * 1e6).toLong
    assert(out(1L).map(t => (t._3, t._5)) ===
      Seq(("rare", idfRare), ("common", 0L)))
    // docs 2/3: other (positive idf) first, common scores 0
    assert(out(2L).head._3 === "other")
    assert(out(2L).head._5 === idfOther)
    assert(out(3L).head._5 === 2 * idfOther)
    assert(out.values.forall(_.filter(_._3 == "common").forall(_._5 == 0L)))
  }

  test("epoch interleave: proportional prefixes, two-phase equals single-window") {
    // strata 2:1 — every prefix of the global order must hold the ratio
    // within the ±1-per-stratum placement bound
    val d = ((1L to 40L).map(i => (i, "big")) ++ (41L to 60L).map(i => (i, "small")))
      .toDF("doc_id", "lang")
    val out = Packing.epochInterleave(d, "lang", "doc_id", salt = "t")
      .select("doc_id", "lang", "epoch_rank", "order_key")
      .as[(Long, String, Long, Double)].collect()
    assert(out.length === 60)
    // global order: sort by (order_key, doc_id); check prefix proportions
    val ordered = out.sortBy(r => (r._4, r._1))
    for (k <- 1 to 60) {
      val big = ordered.take(k).count(_._2 == "big")
      val small = k - big
      // proportional within the midpoint-placement bound
      assert(math.abs(big - 2.0 * small) <= 2.0,
        s"prefix $k: big=$big small=$small")
    }
    // two-phase rank (prefix 2) equals the single-window formulation
    val single = Packing.epochInterleave(d, "lang", "doc_id", salt = "t",
      drawPrefixLen = 0)
      .select("doc_id", "epoch_rank").as[(Long, Long)].collect().sorted
    val two = out.map(r => (r._1, r._3)).sorted
    assert(two.toSeq === single.toSeq)
  }

  test("logistic quality model: learns a separable fixture, training is deterministic") {
    // two "dialects" whose tokens hash to disjoint buckets — linearly
    // separable in the hashed features; y = dialect membership
    val pos = (1L to 20L).map(i => (i, "alpha alpha beta alpha"))
    val neg = (21L to 40L).map(i => (i, "gamma delta delta gamma"))
    val d = (pos ++ neg).toDF("doc_id", "text")
    val label = array_contains(TextAnalysis.tokens(col("text")), "alpha")
    val B = 8
    val feats = QualityModel.features(d, B, label)
    // single-bucket docs: the other buckets are EXACT ZEROS, never null
    val row = feats.filter(col("doc_id") === 1L).head()
    val xs = (0 until B).map(j => row.getDouble(row.fieldIndex(s"x$j")))
    assert(xs.forall(x => !x.isNaN) && math.abs(xs.sum - 1.0) < 1e-12)
    val w1 = QualityModel.train(feats, B, iters = 12, lr = 4.0)
    val w2 = QualityModel.train(feats, B, iters = 12, lr = 4.0)
    assert(w1.toSeq === w2.toSeq) // bit-identical trajectory, run to run
    val scored = QualityModel.score(feats, w1, B)
      .select("doc_id", "label", "predicted")
      .as[(Long, Long, Boolean)].collect()
    assert(scored.length === 40)
    // separable fixture: the learned boundary classifies every doc
    assert(scored.forall(r => r._3 === (r._2 == 1L)))
  }

  test("in-row classifier features equal the aggregation formulation bit-exactly") {
    val d = docs((1L, "alpha beta beta gamma"), (2L, "delta"),
      (3L, "x y z x y z x"), (4L, ""))
    val label = array_contains(TextAnalysis.tokens(col("text")), "alpha")
    val B = 8
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getDouble(1),
          (0 until B).map(j => r.getDouble(r.fieldIndex(s"x$j"))).toSeq)
      }.sortBy(_._1).toSeq
    val agg = canon(QualityModel.features(d, B, label))
    val row = canon(QualityModel.featuresInRow(d, B, label))
    assert(agg === row)
    assert(agg.map(_._1) === Seq(1L, 2L, 3L)) // empty doc drops in both
  }

  test("boilerplate scrub is domain-scoped: hot in A, rare in B survives in B") {
    // domain A: 6 docs all carrying "NAV" (share 1.0 > 0.5 -> template);
    // domain B: 6 docs, exactly one has "NAV" (share 1/6 -> content);
    // domain C: 2 docs sharing "NAV" but below minDomainDocs -> exempt
    val d = (
      (1L to 6L).map(i => (i, "A", s"NAV\nbody a$i")) ++
      (11L to 15L).map(i => (i, "B", s"body b$i")) :+ ((16L, "B", "NAV\nbody b16")) :+
      ((21L, "C", "NAV\nbody c21")) :+ ((22L, "C", "NAV\nbody c22"))
    ).toDF("doc_id", "source", "text")
    val out = TextNormalize.scrubBoilerplate(d, maxDocShare = 0.5,
      minDomainDocs = 5)
      .select("doc_id", "source", "text", "n_lines", "n_removed")
      .as[(Long, String, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size === 14)
    // A: NAV stripped everywhere, body kept
    (1L to 6L).foreach { i =>
      assert(out(i)._3 === s"body a$i"); assert(out(i)._5 === 1L)
    }
    // B: the one NAV carrier keeps it (rare on B)
    assert(out(16L)._3 === "NAV\nbody b16"); assert(out(16L)._5 === 0L)
    // C: domain too small for share evidence
    assert(out(21L)._3 === "NAV\nbody c21"); assert(out(21L)._5 === 0L)
  }

  test("boilerplate scrub keeps all-template docs as empty text") {
    val d = ((1L to 5L).map(i => (i, "A", "NAV")) :+ ((6L, "A", "NAV\nreal")))
      .toDF("doc_id", "source", "text")
    val out = TextNormalize.scrubBoilerplate(d, maxDocShare = 0.5,
      minDomainDocs = 5)
      .select("doc_id", "text", "n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size === 6)
    (1L to 5L).foreach(i => assert(out(i)._2 === ""))
    assert(out(6L)._2 === "real")
  }

  test("ccnet buckets: per-language terciles, head most model-like, short docs excluded") {
    // 9 'en' docs spanning predictability: repeated bigrams (predictable)
    // through unique-word docs (surprising); 1-token doc has no transitions
    val en = Seq(
      (1L, "x x x x x x x x", "en"), (2L, "x x x x x x x y", "en"),
      (3L, "x x x x x y x y", "en"), (4L, "x y x y x y x y", "en"),
      (5L, "x y z x y z x z", "en"), (6L, "p q r s p q r s", "en"),
      (7L, "p q r s t u v w", "en"), (8L, "a b c d e f g h", "en"),
      (9L, "i j k l m n o pp", "en"), (10L, "solo", "en"))
    val d = en.toDF("doc_id", "text", "lang")
    val out = LanguageModel.perplexityBuckets(d,
        LanguageModel.ngramCounts(d))
      .select("doc_id", "lang", "ppx", "bucket")
      .as[(Long, String, Double, String)].collect()
    assert(out.length === 9) // "solo" has no transitions
    val byBucket = out.groupBy(_._4).view.mapValues(_.map(_._3).toSeq).toMap
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    assert(byBucket("head").size === 3)
    // tercile ordering: every head ppx <= every middle <= every tail
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
  }

  // ── unigram-LM tokenizer training (L77) ───────────────────────────
  // Plain-Scala reference implementations, INDEPENDENT of the kernel's
  // DP: the reference segmenter enumerates EVERY segmentation and takes
  // the argmax under the documented tie ladder, so kernel-vs-reference
  // parity proves the DP (not just re-runs it).
  private object UnigramRef {
    def lenDigits(l: Int): String =
      "" + Character.forDigit(l / 36, 36) + Character.forDigit(l % 36, 36)

    def segment(w: String, vocab: Map[String, Long],
                unk: Long): (List[String], Long) = {
      if (w.isEmpty) return (Nil, 0L)
      val maxLen = (vocab.keysIterator.map(_.length) ++ Iterator(1)).max
      def rec(s: Int): List[List[String]] =
        if (s == w.length) List(Nil)
        else (1 to math.min(maxLen, w.length - s)).toList.flatMap { l =>
          val p = w.substring(s, s + l)
          if (l == 1 || vocab.contains(p)) rec(s + l).map(p :: _) else Nil
        }
      val cands = rec(0).map { seg =>
        (seg, seg.map(p => vocab.getOrElse(p, unk)).sum, seg.size,
          seg.map(p => lenDigits(p.length)).mkString)
      }
      val best = cands.reduceLeft { (a, b) =>
        if (b._2 > a._2) b
        else if (b._2 < a._2) a
        else if (b._3 < a._3) b
        else if (b._3 > a._3) a
        else if (b._4.compareTo(a._4) > 0) b else a
      }
      (best._1, best._2)
    }

    /** Mirror of [[UnigramLm.train]] driven by the exhaustive
      * segmenter. */
    def train(texts: Seq[String], vocabSize: Int, maxPieceLen: Int,
              seedMultiplier: Int = 4, shrink: Double = 0.75,
              minSeedCount: Long = 2L): Seq[(String, Long, Long)] = {
      val words = texts.flatMap(_.split("\\s+").filter(_.nonEmpty))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val seedW = scala.collection.mutable.Map.empty[String, Long]
      words.foreach { case (w, cnt) =>
        var i = 0
        while (i < w.length) {
          var l = 1
          while (l <= math.min(maxPieceLen, w.length - i)) {
            val p = w.substring(i, i + l)
            seedW(p) = seedW.getOrElse(p, 0L) + cnt
            l += 1
          }
          i += 1
        }
      }
      val seed = seedW.toSeq.filter { case (p, c) =>
        c >= minSeedCount || p.length == 1 }
      val (chars, multis) = seed.partition(_._1.length == 1)
      val kept = multis.sortBy { case (p, c) => (-c, p) }
        .take(vocabSize * seedMultiplier)
      var vocab: Seq[(String, Long)] = {
        val all = chars ++ kept
        val total = all.map(_._2).sum
        all.map { case (p, c) => (p, UnigramLm.microNatLog(c, total)) }
      }
      var counts: Map[String, Long] = Map.empty
      var done = false
      while (!done) {
        val vm = vocab.toMap
        val segmented = scala.collection.mutable.Map.empty[String, Long]
        words.foreach { case (w, cnt) =>
          segment(w, vm, UnigramLm.UnkScore)._1.foreach { p =>
            segmented(p) = segmented.getOrElse(p, 0L) + cnt
          }
        }
        counts = segmented.toMap
        val charEntries = chars.map { case (p, _) =>
          (p, segmented.getOrElse(p, 0L).max(1L)) }
        val multiEntries = vocab.iterator.map(_._1).filter(_.length > 1)
          .flatMap(p => segmented.get(p).filter(_ > 0).map(p -> _)).toSeq
        val pruned =
          if (multiEntries.size <= vocabSize) { done = true; multiEntries }
          else {
            val keep = math.max(vocabSize, math.min(multiEntries.size - 1,
              math.ceil(multiEntries.size * shrink).toInt))
            multiEntries.sortBy { case (p, c) => (-c, p) }.take(keep)
          }
        val all = charEntries ++ pruned
        val total = all.iterator.map(_._2).sum
        vocab = all.map { case (p, c) =>
          (p, UnigramLm.microNatLog(c, total)) }
      }
      vocab.map { case (p, s) =>
        (p, s, if (p.length == 1) counts.getOrElse(p, 0L).max(1L)
               else counts.getOrElse(p, 0L))
      }.sortBy { case (p, _, c) => (-c, p) }
    }
  }

  test("unigram Viterbi kernel equals the exhaustive-enumeration argmax (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    // small alphabet + scores drawn from a COARSE grid so equal-total
    // segmentations are common and the tie ladder actually runs
    val wordGen = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val pieceGen = Gen.choose(2, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val scoreGen = Gen.oneOf(-1000000L, -1500000L, -2000000L, -3000000L)
    val vocabGen = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.zip(pieceGen, scoreGen)))
      .map(_.toMap.toSeq) // dedupe pieces
    val unk = -1000000L
    val prop = forAll(Gen.listOfN(12, wordGen), vocabGen) { (ws, vocab) =>
      val df = ws.zipWithIndex.map { case (w, i) => (i, w) }
        .toDF("id", "word")
      val got = UnigramLm.segment(df, vocab, unkScore = unk)
        .select(col("id"), col("pieces"), col("score"))
        .as[(Int, Seq[String], Long)].collect().sortBy(_._1)
        .map(r => (r._2.toList, r._3)).toList
      val want = ws.map(w => UnigramRef.segment(w, vocab.toMap, unk))
      Prop(got == want) :| s"vocab=$vocab ws=$ws got=$got want=$want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("unigram segmentation: tie ladder, unknown chars, empty word") {
    val vocab = Seq(("th", -1500000L), ("he", -1500000L),
      ("the", -1200000L), ("ab", -1500000L))
    val df = Seq((1, "the"), (2, "thehe"), (3, "zzz"), (4, ""), (5, "ab"))
      .toDF("id", "word")
    val out = UnigramLm.segment(df, vocab, unkScore = -1000000L)
      .select(col("id"), col("pieces"), col("score"))
      .as[(Int, Seq[String], Long)].collect().sortBy(_._1).toSeq
    // "the": the single piece beats any split
    assert(out(0) === ((1, Seq("the"), -1200000L)))
    // "thehe": the+he (-2.7M) beats th+e+he/the+h+e (-3.5M, -3.2M);
    // th+ehe impossible (ehe not in vocab)
    assert(out(1) === ((2, Seq("the", "he"), -2700000L)))
    // all-unknown: single-char fallback at unk each
    assert(out(2) === ((3, Seq("z", "z", "z"), -3000000L)))
    assert(out(3) === ((4, Seq.empty[String], 0L)))
    assert(out(4) === ((5, Seq("ab"), -1500000L)))
    // tie ladder: "hehe" under he=-1.5M only — he+he (-3M, 2 pieces)
    // TIES h+e+h+e... no: that is -4M. Force a tie: word "thth" with
    // th=-1.5M vs t,h at -1M each: th+th = -3M vs th+t+h = -3.5M vs
    // t+h+t+h = -4M — th+th wins on score. True tie: "thx" →
    // th+x = -2.5M vs t+h+x = -3M; no. Use vocab where a 2-piece and
    // 2-piece differ only in split point: word "aab" with vocab
    // aa=-1.5M, ab=-1.5M: aa+b = -2.5M vs a+ab = -2.5M, both 2 pieces
    // → lengths [2,1] vs [1,2]: longer-first wins → aa+b.
    val tie = UnigramLm.segment(Seq((1, "aab")).toDF("id", "word"),
        Seq(("aa", -1500000L), ("ab", -1500000L)), unkScore = -1000000L)
      .select(col("pieces")).as[Seq[String]].collect().head
    assert(tie === Seq("aa", "b"))
  }

  test("unigram training equals the plain-Scala reference on random corpora (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val docGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, docGen))
    val prop = forAll(corpusGen) { texts =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = UnigramLm.train(d, vocabSize = 3, maxPieceLen = 3)
        .map(p => (p.piece, p.score, p.count))
      val want = UnigramRef.train(texts, vocabSize = 3, maxPieceLen = 3)
      Prop(got == want) :| s"texts=$texts\ngot=$got\nwant=$want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("unigram training is deterministic and its vocabulary segments the corpus totally") {
    val d = docs(
      1L -> "the theory of the thermal the theme",
      2L -> "another anthem and the antenna ended",
      3L -> "thin paths with the smooth teeth",
      4L -> "the theory the thermal the anthem")
    val a = UnigramLm.train(d, vocabSize = 5, maxPieceLen = 4)
    val b = UnigramLm.train(d, vocabSize = 5, maxPieceLen = 4)
    assert(a === b)
    assert(a.count(_.piece.length > 1) <= 5)
    assert(a.exists(_.piece.length > 1)) // this corpus earns multis
    // every word re-segments under the trained vocab with no unk piece
    // (all chars are in-vocab by construction)
    val vocab = a.map(p => (p.piece, p.score))
    val words = BpeLearn.wordFrequencies(d).select(col("word"))
    val segged = UnigramLm.segment(words, vocab)
      .select(explode(col("pieces")).as("p")).distinct()
      .as[String].collect().toSet
    assert(segged.subsetOf(vocab.map(_._1).toSet))
  }

  // ---- suffix array (L119-L121) ----

  /** Plain-Scala reference: token suffixes of every doc (capped), dense
    * ranks under lexicographic token-sequence order. */
  private def bruteSuffixes(rows: Seq[(Long, String)], cap: Int)
      : Seq[((Long, Long), Seq[String])] =
    for {
      (id, text) <- rows
      t = text.split("\\s+").filter(_.nonEmpty).take(cap).toSeq
      p <- t.indices
    } yield ((id, p.toLong), t.drop(p))

  private def bruteRanks(rows: Seq[(Long, String)], cap: Int)
      : Map[(Long, Long), Long] = {
    import scala.math.Ordering.Implicits._
    val suf = bruteSuffixes(rows, cap)
    val rank = suf.map(_._2).distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i + 1L) }.toMap
    suf.map { case (k, s) => k -> rank(s) }.toMap
  }

  private def randomCorpus(seed: Int, nDocs: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("a", "b", "c", "d", "e", "f")
    val base = (0 until nDocs).map { i =>
      i.toLong -> Seq.fill(rnd.nextInt(13))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    // duplicate a couple of docs so full-tie suffixes exist
    base ++ Seq(100L -> base(0)._2, 101L -> base(1)._2)
  }

  test("suffix array ranks equal the brute-force dense suffix ranks (property)") {
    for (seed <- Seq(1, 2, 3)) {
      val rows = randomCorpus(seed, 20)
      val expected = bruteRanks(rows, 16)
      val got = SuffixArray.fit(docs(rows: _*), maxPrefix = 16).sa
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got === expected, s"seed=$seed")
    }
  }

  test("adjacent-suffix LCP equals direct comparison in the same total order (property)") {
    import scala.math.Ordering.Implicits._
    for (seed <- Seq(4, 5)) {
      val rows = randomCorpus(seed, 16)
      val suf = bruteSuffixes(rows, 16)
      val ranks = bruteRanks(rows, 16)
      // total order (rank, doc, pos); adjacent pairs + direct LCP
      val ordered = suf.sortBy { case (k, _) => (ranks(k), k._1, k._2) }
      val expected = ordered.zip(ordered.drop(1)).map { case ((ka, a), (kb, b)) =>
        (ka._1, ka._2, kb._1, kb._2) ->
          a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
      }.toMap
      val got = SuffixArray
        .lcpAdjacent(SuffixArray.fit(docs(rows: _*), maxPrefix = 16))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
          r.getLong(5)).toMap
      assert(got === expected, s"seed=$seed")
    }
  }

  test("SA duplicated spans equal the k-gram formulation exactly (property)") {
    for (seed <- Seq(6, 7)) {
      val rows = randomCorpus(seed, 24)
      val d = docs(rows: _*)
      val viaSa = SuffixArray
        .duplicatedSpans(SuffixArray.fit(d, maxPrefix = 16), minLen = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      val viaKgram = SubstringDedup.duplicatedSpans(d, k = 3)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong))
        .sorted.toSeq
      assert(viaSa === viaKgram, s"seed=$seed")
    }
  }

  test("SAM duplicated spans equal SA and k-gram formulations (property)") {
    // three independent algorithms (generalized suffix automaton, prefix-
    // doubling SA, hashed k-grams) pinned to one answer on random corpora;
    // repartition(5) forces cross-partition resolution through tier 2
    for (seed <- Seq(6, 7, 8)) {
      val rows = randomCorpus(seed, 24)
      val d = docs(rows: _*)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.selectExpr("doc_id", "cast(span_start as long) span_start",
            "cast(span_end as long) span_end")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sorted.toSeq
      val viaSam = canon(
        graft.operators.SuffixAutomaton.duplicatedSpans(d.repartition(5),
          minLen = 3))
      val viaSa = canon(SuffixArray
        .duplicatedSpans(SuffixArray.fit(d, maxPrefix = 16), minLen = 3))
      val viaKgram = canon(SubstringDedup.duplicatedSpans(d, k = 3))
      assert(viaSam === viaSa, s"seed=$seed SAM vs SA")
      assert(viaSam === viaKgram, s"seed=$seed SAM vs k-gram")
    }
    // single-partition path: everything resolves inside one SAM, and a
    // within-document repeat counts (the ExactSubstr contract)
    val one = docs(1L -> "x y z q x y z q", 2L -> "a b c")
    val got = graft.operators.SuffixAutomaton
      .duplicatedSpans(one.coalesce(1), minLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 0L, 8L))) // "x y z q" at 0 and 4 merge to [0,8)
    // a null-text document is the empty document (zero positions) — the
    // sibling formulations' posexplode-of-null skip, not a task crash
    val withNull = Seq((1L, "x y z x y z"), (2L, null))
      .toDF("doc_id", "text")
    val nn = graft.operators.SuffixAutomaton
      .duplicatedSpans(withNull, minLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(nn === Seq((1L, 0L, 6L)))
  }

  test("suffix array: shorter prefix sorts first, identical suffixes share a rank") {
    val d = docs(1L -> "b a", 2L -> "b a c", 3L -> "b a")
    val sa = SuffixArray.fit(d, maxPrefix = 4).sa.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // suffixes: "a"(1,1)(3,1) < "a c"(2,1) < "b a"(1,0)(3,0) < "b a c"(2,0) < "c"(2,2)
    assert(sa((1L, 1L)) === 1L && sa((3L, 1L)) === 1L) // tie shares rank
    assert(sa((2L, 1L)) === 2L)                        // longer sorts after
    assert(sa((1L, 0L)) === 3L && sa((3L, 0L)) === 3L)
    assert(sa((2L, 0L)) === 4L && sa((2L, 2L)) === 5L)
  }

  test("global dense rank matches the in-memory sort on random keys (property)") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 500).map(i =>
      (rnd.nextInt(40).toString, rnd.nextInt(5).toLong, i.toLong))
    val df = rows.toDF("k1", "k2", "id")
    val expected = {
      val ranked = rows.map(r => (r._1, r._2)).distinct.sorted.zipWithIndex
        .map { case (k, i) => k -> (i + 1L) }.toMap
      rows.map(r => r._3 -> ranked((r._1, r._2))).toMap
    }
    val got = SuffixArray.globalDenseRank(df, Seq("k1", "k2"), "rk")
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(got === expected)
  }

  test("unigram scoring: hand-computed micro-nat terms, empty doc kept") {
    val d = docs(1L -> "a a b", 2L -> "b c", 3L -> "")
    val model = LanguageModel.unigramCounts(d)
    // counts: a=2, b=2, c=1; T=5, V=3 → p(a)=(2+1)/(5+3)=3/8, p(b)=3/8,
    // p(c)=(1+1)/8=1/4
    val r = LanguageModel.scoreDocumentsUnigram(d, model).collect()
      .map(x => x.getLong(0) -> x).toMap
    def micro(p: Double) = math.round(math.log(p) * 1e6)
    assert(r(1L).getLong(1) === 3L && r(1L).getLong(2) === 3L)
    assert(r(1L).getLong(3) === 2 * micro(3.0 / 8) + micro(3.0 / 8))
    assert(r(2L).getLong(3) === micro(3.0 / 8) + micro(1.0 / 4))
    assert(r(3L).getLong(1) === 0L && r(3L).getLong(3) === 0L)
  }

  test("domain reweight: hand-computed EG step including the zero clamp") {
    val d = Seq((1L, "web"), (2L, "web"), (3L, "code"))
      .toDF("doc_id", "source")
    // proxy: web docs lose 10 micro-nats/unit, code 2; ref: flat 4
    val proxy = Seq((1L, 10L, -100L), (2L, 10L, -100L), (3L, 5L, -10L))
      .toDF("doc_id", "n_units", "score")
    val ref = Seq((1L, 10L, -40L), (2L, 10L, -40L), (3L, 5L, -20L))
      .toDF("doc_id", "n_units", "score")
    val r = DomainReweight.excessWeights(d, proxy, ref,
        etaNum = 1L, etaDen = 2L)
      .collect().map(x => x.getString(0) -> x).toMap
    val web = r("web")
    assert(web.getLong(1) === 2L)                     // n_docs
    assert(web.getLong(4) === 10L && web.getLong(5) === 4L) // losses
    assert(web.getLong(6) === 6L && web.getLong(7) === 3L)  // excess, eta/2
    val code = r("code")
    // proxy 2/unit vs ref 4/unit → negative excess clamps to zero
    assert(code.getLong(4) === 2L && code.getLong(5) === 4L)
    assert(code.getLong(6) === 0L && code.getLong(7) === 0L)
  }

  test("mixed weights: sum to one, uniform floor, monotone in excess") {
    val ew = Seq(("a", 0L), ("b", 500000L), ("c", 2000000L))
      .toDF("domain", "log_weight_micro")
    val c = 0.1
    val w = DomainReweight.mixedWeights(ew, c).collect()
      .map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(math.abs(w.values.sum - 1.0) < 1e-12)
    assert(w.values.forall(_ >= c / 3 - 1e-12))       // uniform floor c/K
    assert(w("a") < w("b") && w("b") < w("c"))        // EG monotonicity
    // c = 0: pure softmax of logw/1e6
    val z = math.exp(0.0) + math.exp(0.5) + math.exp(2.0)
    val pure = DomainReweight.mixedWeights(ew, 0.0).collect()
      .map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(math.abs(pure("c") - math.exp(2.0) / z) < 1e-12)
  }

  test("line repetition: hand-computed fractions, single-line and empty docs") {
    val d = docs(
      1L -> "a\nb\na\n\n- x\ny...",
      2L -> "solo line",
      3L -> "")
    val r = TextAnalysis.lineRepetition(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    val r1 = r(1L)
    // lines: a, b, a, "", "- x", "y..." → 6 lines, 5 distinct
    assert(r1.getLong(1) === 6L && r1.getLong(2) === 5L)
    assert(r1.getDouble(3) === 1.0 / 6.0)          // dup_line_frac
    // dup chars: second "a" = 1; total line chars = 1+1+1+0+3+4 = 10
    assert(r1.getDouble(4) === 1.0 / 10.0)         // dup_line_char_frac
    assert(r1.getDouble(5) === 1.0 / 6.0)          // bullet_line_frac ("- x")
    assert(r1.getDouble(6) === 1.0 / 6.0)          // ellipsis_line_frac ("y...")
    val r2 = r(2L)
    assert(r2.getLong(1) === 1L && r2.getLong(2) === 1L &&
      r2.getDouble(3) === 0.0 && r2.getDouble(4) === 0.0)
    // empty text is one empty line: zero char mass, zero fractions
    val r3 = r(3L)
    assert(r3.getLong(1) === 1L && r3.getDouble(3) === 0.0 &&
      r3.getDouble(4) === 0.0)
  }

  test("dup n-gram coverage: interval merge, overlap, full tile, empty doc") {
    val d = docs(
      1L -> "a b c a b d",   // "a b" twice → positions {0,1} ∪ {3,4}
      2L -> "u v w x",       // no within-doc duplicate
      3L -> "x x x",         // overlapping "x x" hits merge to [0,3)
      4L -> "")
    val r = TextAnalysis.dupNgramCoverage(d, k = 2).collect()
      .map(x => x.getLong(0) -> x).toMap
    val r1 = r(1L)
    assert(r1.getLong(1) === 6L)                       // n_tokens
    assert(r1.getLong(3) === 4L && r1.getLong(4) === 4L) // covered tok/chars
    assert(r1.getDouble(5) === 4.0 / 6.0 && r1.getDouble(6) === 4.0 / 6.0)
    assert(r(2L).getLong(3) === 0L && r(2L).getDouble(5) === 0.0)
    val r3 = r(3L)
    assert(r3.getLong(3) === 3L && r3.getDouble(5) === 1.0)
    // empty doc kept with zero mass
    val r4 = r(4L)
    assert(r4.getLong(1) === 0L && r4.getDouble(5) === 0.0 &&
      r4.getDouble(6) === 0.0)
  }

  // ---- cross-corpus SA decontamination (L122) ----

  test("crossMaxMatch equals brute-force max common prefix vs train suffixes (property)") {
    for (seed <- Seq(11, 12, 13)) {
      val rows = randomCorpus(seed, 20)
      // tag: even ids train, odd ids eval (both non-empty sets)
      val tags = rows.map { case (id, _) => (id, id % 2 == 0) }
      val trainSuf = bruteSuffixes(rows.filter(_._1 % 2 == 0), 16).map(_._2)
      val expected = bruteSuffixes(rows.filter(_._1 % 2 != 0), 16)
        .map { case (k, s) =>
          k -> (if (trainSuf.isEmpty) 0L
                else trainSuf.map(t =>
                  s.zip(t).takeWhile { case (x, y) => x == y }.size.toLong).max)
        }.toMap
      val model = SuffixArray.fit(docs(rows: _*), maxPrefix = 16)
      val got = SuffixArray
        .crossMaxMatch(model, tags.toDF("doc_id", "is_train"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got === expected, s"seed=$seed")
    }
  }

  test("leakage report: verbatim leak length, clean doc zero, minLen counting") {
    val d = docs(
      1L -> "p q r s t u",     // train
      2L -> "x y z",           // train
      10L -> "q r s t zz",     // eval: 4-token verbatim leak of doc 1
      11L -> "n o",            // eval: clean (no shared token)
      12L -> "x y z")          // eval: full 3-token leak of doc 2
    val tags = Seq((1L, true), (2L, true), (10L, false), (11L, false),
      (12L, false)).toDF("doc_id", "is_train")
    val model = SuffixArray.fit(d, maxPrefix = 8)
    val r = SuffixArray.leakageReport(model, tags, minLen = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(10L) === ((4L, 2L))) // match lens 4,3,2,1,0 → two ≥ 3
    assert(r(11L) === ((0L, 0L)))
    assert(r(12L) === ((3L, 1L)))
    assert(r.size === 3) // train docs never report
  }

  test("suffix-array local fast paths equal the distributed rounds") {
    // r16: lcpAdjacent / crossMaxMatch / their consumers replay on the
    // driver under the size gate; forcing maxLocalSuffixes = 0 runs the
    // unchanged distributed windows — both routes must be bit-equal,
    // including cap-tied LCPs (identical docs longer than the compared
    // prefix would be, at maxPrefix beyond doc length: full ties clamp).
    // The rank tables are built on first read: trials 1 and 3 call a
    // local consumer first, trial 2 reads `.sa` before any consumer, so
    // both initialisation orders must give the same rows.
    val rnd = new scala.util.Random(20260819)
    (1 to 3).foreach { trial =>
      val rows = (1L to 12L).map { id =>
        val n = 1 + rnd.nextInt(9)
        id -> Seq.fill(n)(s"w${rnd.nextInt(6)}").mkString(" ")
      } :+ (13L -> "w1 w2 w3 w1 w2 w3") :+ (14L -> "w1 w2 w3 w1 w2 w3")
      val model = SuffixArray.fit(docs(rows: _*), maxPrefix = 16)
      if (trial == 2) model.sa.count()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(canon(SuffixArray.lcpAdjacent(model)) ===
        canon(SuffixArray.lcpAdjacent(model, maxLocalSuffixes = 0)),
        s"trial=$trial lcpAdjacent")
      assert(canon(SuffixArray.duplicatedSpans(model, minLen = 3)) ===
        canon(SuffixArray.duplicatedSpans(model, minLen = 3,
          maxLocalSuffixes = 0)), s"trial=$trial duplicatedSpans")
      assert(canon(SuffixArray.longestDuplicated(model, topK = 5)) ===
        canon(SuffixArray.longestDuplicated(model, topK = 5,
          maxLocalSuffixes = 0)), s"trial=$trial longestDuplicated")
      val tags = rows.map { case (id, _) => (id, id % 3 != 0) }
        .toDF("doc_id", "is_train")
      assert(canon(SuffixArray.leakageReport(model, tags, minLen = 2)) ===
        canon(SuffixArray.leakageReport(model, tags, minLen = 2,
          maxLocalSuffixes = 0)), s"trial=$trial leakageReport")
    }
  }

  test("suffix-array local fast paths run no doubling round (job-count pin)") {
    // under the size gate the consumers replay the doubling on the driver
    // from the fit's token rows, so a corpus that needs 5 doubling rounds
    // runs exactly as many jobs as one that converges at round 0; with
    // the gate forced off (maxLocalSuffixes = 0) the deep corpus pays for
    // its rounds, which shows the pin can fail
    val shallow = docs((1L to 4L).map(id =>
      id -> (1 to 16).map(j => s"t${id}_$j").mkString(" ")): _*)
    val deep = docs((1L to 4L).map(id => id -> Seq.fill(16)("x").mkString(" ")): _*)
    assert(SuffixArray.fit(shallow, maxPrefix = 64).levels.size === 1)
    assert(SuffixArray.fit(deep, maxPrefix = 64).levels.size === 6)
    val tags = Seq((1L, true), (2L, true), (3L, false), (4L, false))
      .toDF("doc_id", "is_train")
    def jobs(body: => Unit): Int =
      graft.tools.Profile.jobs(spark, "suffix_array_pin")(body).jobs
    def leak(d: org.apache.spark.sql.DataFrame, gate: Long) = jobs(
      SuffixArray.leakageReport(SuffixArray.fit(d, maxPrefix = 64), tags,
        minLen = 2, maxLocalSuffixes = gate).collect(): Unit)
    def adj(d: org.apache.spark.sql.DataFrame, gate: Long) = jobs(
      SuffixArray.lcpAdjacent(SuffixArray.fit(d, maxPrefix = 64),
        maxLocalSuffixes = gate).collect(): Unit)
    val local = SuffixArray.DefaultMaxLocalSuffixes
    assert(leak(deep, local) === leak(shallow, local))
    assert(adj(deep, local) === adj(shallow, local))
    assert(leak(deep, 0) > leak(shallow, 0))
    assert(adj(deep, 0) > adj(shallow, 0))
  }

  // ---- winnowing fingerprints (L123) ----

  /** Plain-Scala winnowing reference (rightmost-min rule, same md5-prefix
    * hash as the operator). */
  private def bruteWinnow(text: String, k: Int, w: Int)
      : Set[(Long, Long)] = {
    val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
    val grams = (0 to toks.size - k).map(i =>
      toks.slice(i, i + k).mkString(" "))
    val hs = grams.map(g => graft.functions.Md5Prefix.prefix(
      org.apache.spark.unsafe.types.UTF8String.fromString(g), 12))
    val starts =
      if (hs.isEmpty) Seq.empty[Int]
      else if (hs.size < w) Seq(0)
      else 0 to hs.size - w
    starts.map { s =>
      val win = hs.slice(s, math.min(s + w, hs.size))
      val mn = win.min
      val fpos = (s until s + win.size).filter(i => hs(i) == mn).max
      (fpos.toLong, mn)
    }.toSet
  }

  test("winnowing fingerprints equal the plain-Scala reference (property)") {
    for (seed <- Seq(21, 22)) {
      val rows = randomCorpus(seed, 24).filter(_._2.trim.nonEmpty)
      val expected = rows.flatMap { case (id, t) =>
        bruteWinnow(t, 3, 4).map { case (p, h) => (id, p, h) }
      }.toSet
      val got = Winnow.fingerprints(docs(rows: _*), k = 3, w = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got === expected, s"seed=$seed")
    }
  }

  test("stateless winnowing twin equals the batch fingerprint sets (property)") {
    for (seed <- Seq(31, 32)) {
      val rows = randomCorpus(seed, 24).filter(_._2.trim.nonEmpty)
      val d = docs(rows: _*)
      val batch = Winnow.fingerprints(d, k = 3, w = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val twin = Winnow.fingerprintsStateless(d, k = 3, w = 4)
        .select(col("doc_id"), explode(col("fps")).as("f"))
        .select(col("doc_id"), col("f.fp_pos"), col("f.fp"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(twin === batch, s"seed=$seed")
      // docs with no k-grams carry an empty array, not a missing row
      val short = Winnow.fingerprintsStateless(docs(9L -> "a b"), k = 3, w = 4)
        .select(size(col("fps"))).head().getInt(0)
      assert(short === 0)
    }
  }

  test("winnowing guarantee: a w+k-1-token verbatim overlap shares a fingerprint") {
    val shared = "one two three four five six seven eight" // 8 ≥ w+k−1 = 6
    val d = docs(
      1L -> s"aa bb $shared cc dd",
      2L -> s"xx $shared yy zz ww",
      3L -> "totally different words here")
    val fps = Winnow.fingerprints(d, k = 3, w = 4)
    val pairs = Winnow.matchPairs(fps, minShared = 1, maxBucketSize = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowing: rightmost tie, short-doc partial window, hot-fp guard") {
    // identical grams everywhere: every window's min ties; rightmost wins
    val d1 = docs(1L -> "a a a a a a") // k=1 → 6 identical grams, w=3
    val f1 = Winnow.fingerprints(d1, k = 1, w = 3)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(f1 === Seq(2L, 3L, 4L, 5L)) // windows [0..3],[1..4],[2..5],[3..5]→rightmost
    // fewer grams than w → one fingerprint from the partial window
    val d2 = docs(2L -> "a b c d") // k=3 → 2 grams < w=4
    assert(Winnow.fingerprints(d2, k = 3, w = 4).count() === 1L)
    // sub-k doc → no grams, no fingerprints
    assert(Winnow.fingerprints(docs(3L -> "a b"), k = 3, w = 4).count() === 0L)
    // hot guard: a fingerprint in > maxBucketSize docs never pairs
    val hot = docs((1L to 5L).map(i => i -> "same same same phrase"): _*)
    val fph = Winnow.fingerprints(hot, k = 3, w = 4)
    assert(Winnow.matchPairs(fph, 1, maxBucketSize = Some(2)).count() === 0L)
    assert(Winnow.matchPairs(fph, 1, maxBucketSize = None).count() === 10L)
  }

  // ---- classifier calibration (L124) ----

  test("calibration report: hand bins, floor-div means, top-bin folding") {
    val scored = Seq(
      (1L, 1L, 100000L),  // bin 0 (4 bins of width 250000)
      (2L, 0L, 200000L),  // bin 0
      (3L, 1L, 600000L),  // bin 2
      (4L, 1L, 1000000L)) // prob 10⁶ folds into top bin 3
      .toDF("doc_id", "label", "prob_micro")
    val r = QualityModel.calibrationReport(scored, bins = 4)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
      .toMap
    // bin 0: n=2, pos=1, mean=(100000+200000) div 2, rate=10⁶ div 2
    assert(r(0L) === ((2L, 1L, 150000L, 500000L, 350000L)))
    assert(r(2L) === ((1L, 1L, 600000L, 1000000L, 400000L)))
    assert(r(3L) === ((1L, 1L, 1000000L, 1000000L, 0L)))
    assert(r.size === 3) // empty bins absent
  }

  // ---- hard-negative mining (L126) ----

  test("hard negatives: anti-join runs before the rank cut, empty positives = bm25TopK") {
    val corpus = docs(
      1L -> "apple banana cherry",   // matches both query terms → positive
      2L -> "apple banana date",     // matches both → positive
      3L -> "apple egg fig",         // matches one → negative candidate
      4L -> "banana grape hazel",    // matches one → negative candidate
      5L -> "iris juniper kiwi")     // matches none → never scored
    val q = Seq((0, "apple banana")).toDF("query_id", "text")
    val pos = Seq((0, 1L), (0, 2L)).toDF("query_id", "doc_id")
    val negs = Retrieval.hardNegatives(corpus, q, pos, k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    // both positives outscore both negatives (two matched terms vs one) —
    // a filter AFTER top-2 would return nothing; ranks re-number 1..k
    assert(negs.toSeq === Seq((1, 3L), (2, 4L)))
    // empty positives degenerate to plain bm25TopK
    val empty = Seq.empty[(Int, Long)].toDF("query_id", "doc_id")
    val viaNeg = Retrieval.hardNegatives(corpus, q, empty, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    val viaTop = Retrieval.bm25TopK(corpus, q, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(viaNeg === viaTop)
  }

  // ---- excess-loss selection (L127) ----

  test("doc excess: floor-div mean losses, clamp at zero, unscoreable doc zero") {
    val proxy = Seq((1L, 3L, -1000001L), (2L, 2L, -100L), (3L, 0L, 0L))
      .toDF("doc_id", "n", "score")
    val ref = Seq((1L, 2L, -400001L), (2L, 2L, -1000L), (3L, 0L, 0L))
      .toDF("doc_id", "n", "score")
    val r = DomainReweight.docExcess(proxy, ref)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) === ((333333L, 200000L, 133333L))) // 1000001 div 3, 400001 div 2
    assert(r(2L) === ((50L, 500L, 0L)))             // proxy beats ref → clamp
    assert(r(3L) === ((0L, 0L, 0L)))                // zero units → zero loss
  }

  test("excess selection: exact quantile threshold, ties at the threshold kept") {
    // excess values 10,20,20,30 → p=0.5 rank ceil(0.5·4)=2 → thr = 20;
    // keep ≥ 20 → three docs (both ties kept)
    val exc = Seq((1L, 0L, 0L, 10L), (2L, 0L, 0L, 20L), (3L, 0L, 0L, 20L),
      (4L, 0L, 0L, 30L))
      .toDF("doc_id", "loss_proxy_micro", "loss_ref_micro", "excess_micro")
    val kept = DomainReweight.selectByExcess(exc, keepFraction = 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(2L, 3L, 4L))
    // keepFraction bounds enforced
    intercept[IllegalArgumentException] {
      DomainReweight.selectByExcess(exc, keepFraction = 1.0)
    }
  }

  // ---- quality ensemble rank (L133) ----

  test("ensemble rank: hand-computed percentile ranks, tie sharing, integer mean") {
    val d = Seq((1L, 10L, 3L), (2L, 20L, 3L), (3L, 20L, 1L), (4L, 40L, 2L))
      .toDF("doc_id", "s1", "s2")
    val r = CorpusStats.ensembleRank(d, "doc_id",
        Seq(("s1", col("s1")), ("s2", col("s2"))))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    // s1 ranks: 10→1/4, 20→3/4 (both ties share), 40→4/4
    // s2 ranks: 1→1/4, 2→2/4, 3→4/4 (ties share)
    assert(r(1L) === ((250000L, 1000000L, 625000L)))
    assert(r(2L) === ((750000L, 1000000L, 875000L)))
    assert(r(3L) === ((750000L, 250000L, 500000L)))
    assert(r(4L) === ((1000000L, 500000L, 750000L)))
  }

  // ---- all-but-the-top PCA (L132) ----

  /** Plain-Scala replication of the integer power-iteration trajectory. */
  private def brutePca(vecs: Seq[(Long, Seq[Float])], iters: Int)
      : Map[Int, Long] = {
    val dims = vecs.head._2.size
    val vi = vecs.map { case (_, v) =>
      v.map(x => math.floor(x.toDouble * 1e9).toLong).toArray
    }
    val mu = Array.tabulate(dims)(j => vi.map(_(j)).sum / vecs.size)
    val u = vi.map(r => Array.tabulate(dims)(j => r(j) - mu(j)))
    var x = Array.tabulate(dims)(j => if (j == 0) 1000000L else 0L)
    for (_ <- 1 to iters) {
      val d = u.map(r => r.zip(x).map { case (a, b) => a * b }.sum
        / 1000000000000L)
      val y = Array.tabulate(dims)(j =>
        u.zip(d).map { case (r, di) => di * r(j) }.sum)
      val s = math.max(1L, y.map(math.abs).max / 1000000L)
      x = y.map(_ / s)
    }
    x.zipWithIndex.map { case (v, j) => j -> v }.toMap
  }

  test("integer power iteration equals the plain-Scala trajectory (property)") {
    val rnd = new scala.util.Random(77)
    for (seed <- Seq(1, 2)) {
      rnd.setSeed(seed)
      val vecs = Seq.tabulate(40)(i =>
        i.toLong -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
      val got = EmbeddingPca.topComponent(
          vecs.toDF("vec_id", "embedding"), iters = 4)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got === brutePca(vecs, 4), s"seed=$seed")
    }
  }

  test("power-iteration local fast path equals the distributed rounds (r16)") {
    val rnd = new scala.util.Random(41)
    val vecs = Seq.tabulate(35)(i =>
      i.toLong -> Seq.fill(6)(rnd.nextFloat() * 2f - 1f))
    val u = EmbeddingPca.centeredInt(vecs.toDF("vec_id", "embedding"))
      .localCheckpoint(true)
    val local = EmbeddingPca.topComponentCentered(u, iters = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val dist = EmbeddingPca.topComponentCentered(u, iters = 4,
        maxLocalCells = 0L)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(local === dist)
  }

  test("power iteration recovers a planted dominant direction") {
    // data = a·(1,2,0,0)/√5 + tiny deterministic noise — after 4 rounds
    // the max-renormalized direction reads the 1:2 component ratio
    val vecs = Seq.tabulate(50) { i =>
      val a = (i % 7 - 3).toFloat            // symmetric, mean ~0
      val n = (i % 3 - 1).toFloat * 0.01f
      i.toLong -> Seq(a * 1f, a * 2f, n, -n)
    }
    val pc = EmbeddingPca.topComponent(vecs.toDF("vec_id", "embedding"),
        iters = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // max-renormalize lands the dominant component at ~1e6 (s itself is
    // truncated, so the max can overshoot by up to 1/s relative)
    assert(math.abs(pc(1)) >= 1000000L && math.abs(pc(1)) <= 1005000L)
    val ratio = pc(0).toDouble / pc(1).toDouble
    assert(math.abs(ratio - 0.5) < 0.01, s"ratio=$ratio")
    assert(math.abs(pc(2)) < 20000L && math.abs(pc(3)) < 20000L)
  }

  test("removeTop kills the fitted component: residual re-projection ~0") {
    val rnd = new scala.util.Random(9)
    val vecs = Seq.tabulate(30)(i =>
      i.toLong -> Seq.fill(6)(rnd.nextFloat())).toDF("vec_id", "embedding")
    val pc = EmbeddingPca.topComponent(vecs, iters = 4).localCheckpoint(true)
    // Σ|u·x| before vs Σ|u'·x| after, same scale — removal should kill
    // ≥ 99% of the fitted component's mass
    def mass(frame: org.apache.spark.sql.DataFrame, c: String): Long =
      frame.join(pc, Seq("pos"))
        .groupBy(col("vec_id"))
        .agg(sum(col(c) * col("pc_micro")).as("r"))
        .agg(sum(abs(col("r")))).head().getLong(0)
    val before = mass(EmbeddingPca.centeredInt(vecs), "u")
    val after = mass(EmbeddingPca.removeTop(vecs, pc), "u_corrected")
    assert(after < before / 100, s"residual $after vs $before")
  }

  // ---- blocked-Levenshtein pairs (L130) ----

  test("levenshtein pairs: typo pair found, cross-block edit missed, hot guard") {
    val d = Seq(
      (1L, "acme widget deluxe"),
      (2L, "acme widget deluxxe"),   // 1 edit from doc 1, same 6-prefix
      (3L, "zcme widget deluxe"),    // 1 edit from doc 1 but different block
      (4L, "totally unrelated row"))
      .toDF("doc_id", "title")
    val got = Dedup.levenshteinPairs(d, keyCol = "title", blockLen = 6,
        maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSeq
    assert(got === Seq((1L, 2L, 1)))  // the leading-char edit escapes its block
    // hot-block guard: five rows sharing a block never pair at max 4
    val hot = Seq.tabulate(5)(i => (i.toLong, "same prefix here"))
      .toDF("doc_id", "title")
    assert(Dedup.levenshteinPairs(hot, "title", 6, 2,
      maxBlockSize = Some(4)).count() === 0L)
    assert(Dedup.levenshteinPairs(hot, "title", 6, 2,
      maxBlockSize = None).count() === 10L)
  }

  // ---- margin-based bitext mining (L131) ----

  test("bitext margin: hand-computed ratio margins, argmax, threshold verdicts") {
    // integer-component vectors → exact cosines (1, 0.8, 0.6, 0)
    val a = Seq((0L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val b = Seq((1L, Seq(2f, 0f)), (3L, Seq(4f, 3f)), (5L, Seq(0f, 5f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.bitextMarginPairs(a, b, k = 2,
        thresholdMicro = 1500000L)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(3), x.getBoolean(4))).toMap
    // kA: a0 → (1e9+8e8)/2 = 9e8, a2 → (1e9+6e8)/2 = 8e8
    // kB: b1 → 5e8, b3 → 7e8, b5 → 5e8
    // a0 margins: b1 2e15/1.4e9 = 1428571, b3 1.6e15/1.6e9 = 1000000, b5 0
    // a2 margins: b5 2e15/1.3e9 = 1538461, b3 1.2e15/1.5e9 = 800000, b1 0
    assert(r(0L) === ((1L, 1428571L, false)))
    assert(r(2L) === ((5L, 1538461L, true)))
  }

  // ---- multi-turn chat formatting (L128) ----

  test("chat formatting: spans, masks, rendering — hand-computed conversation") {
    val turns = Seq(
      (7L, 0L, "system", "be helpful"),
      (7L, 1L, "user", "hi there"),
      (7L, 2L, "assistant", "hello world"),
      (7L, 3L, "user", ""),          // empty turn → bare tag
      (7L, 4L, "assistant", "bye"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val r = SftPrep.formatConversation(turns).collect()
      .map(x => x.getLong(1) -> x).toMap
    val text = r(0L).getString(9)
    assert(text === "<|system|> be helpful <|user|> hi there " +
      "<|assistant|> hello world <|eot|> <|user|> <|assistant|> bye <|eot|>")
    // n_tokens equals the rendered text's whitespace token count
    assert(r(0L).getLong(8) === text.split("\\s+").length.toLong)
    // spans: system [0,3), user [3,6), assistant [6,10), user [10,11),
    // assistant [11,14)
    assert((r(2L).getLong(3), r(2L).getLong(4)) === ((6L, 10L)))
    assert(r(2L).getBoolean(5))                       // masked
    assert((r(2L).getLong(6), r(2L).getLong(7)) === ((7L, 10L))) // skips tag
    // tokens 7..9 of the conversation are exactly "hello world <|eot|>"
    assert(text.split("\\s+").slice(7, 10).toSeq ===
      Seq("hello", "world", "<|eot|>"))
    // non-assistant turns carry an EMPTY mask at their span end
    assert(!r(0L).getBoolean(5))
    assert((r(0L).getLong(6), r(0L).getLong(7)) === ((3L, 3L)))
    // empty user turn: one tag token, empty mask
    assert((r(3L).getLong(3), r(3L).getLong(4)) === ((10L, 11L)))
  }

  // ---- corpus top n-grams (L129) ----

  test("top n-grams: counts, doc frequency, tiebreak; bucketed equals buckets=1") {
    val d = docs(
      1L -> "a b c a b c",   // "a b c" ×2 (overlapping windows: abc,bca,cab,abc)
      2L -> "a b c x y z",
      3L -> "x y z w")
    val got = TextAnalysis.topNgrams(d, n = 3, topK = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    // "a b c": tf=3 (twice in doc1, once in doc2), df=2; "x y z": tf=2, df=2
    assert(got.head === ((1, "a b c", 3L, 2L)))
    assert(got(1) === ((2, "x y z", 2L, 2L)))
    // rank-3 breaks the tf=1 tie by gram ascending ("b c a" < "b c x" <
    // "c a b" < "c x y" < "y z w")
    assert(got(2) === ((3, "b c a", 1L, 1L)))
    val single = TextAnalysis.topNgrams(d, n = 3, topK = 3, buckets = 1)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(single === got)
  }

  // ---- UniMax epoch allocation (L125) ----

  test("epoch allocation: smallest-first saturation and uniform remainder split") {
    // strata sized 10/20/70 tokens; budget 60, cap 2 epochs
    val d = Seq.tabulate(10)(i => ("s", 1L)) ++
      Seq.tabulate(10)(i => ("m", 2L)) ++ Seq.tabulate(10)(i => ("l", 7L))
    val r = Sampling.epochAllocation(d.toDF("lang", "n"), "lang", "n",
        totalBudget = 60L, maxEpochs = 2L)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // visit s(10): min(20, 60/3=20) = 20 (both arms equal) → R=40
    // visit m(20): min(40, 40/2=20) = 20 → R=20; l(70): min(140, 20) = 20
    assert(r("s") === ((10L, 20L, 2000000L)))
    assert(r("m") === ((20L, 20L, 1000000L)))
    assert(r("l") === ((70L, 20L, 285714L))) // 20·10⁶ div 70
  }

  test("epoch allocation: cap saturation frees budget for larger strata") {
    val d = Seq(("tiny", 2L), ("big", 50L)).toDF("lang", "n")
    val r = Sampling.epochAllocation(d, "lang", "n", 30L, 3L)
      .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
    // tiny: min(6, 30/2=15) = 6 saturates; big: min(150, 24/1) = 24
    assert(r("tiny") === 6L && r("big") === 24L)
    // zero-token strata drop; count ties break by name
    val z = Sampling.epochAllocation(
      Seq(("a", 5L), ("b", 5L), ("z", 0L)).toDF("lang", "n"),
      "lang", "n", 7L, 9L).collect()
    assert(z.map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(z.map(_.getLong(2)).toSeq === Seq(3L, 4L)) // 7/2=3 then 4/1
  }

  // ---- Cluster-aware leakage-safe split (L152) ----

  test("cluster split: no near-dup cluster straddles splits; straddle exists per-doc") {
    val rows = SparkEntry.queries("split_by_cluster")(spark,
        "/root/testdata/sf0.001")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("cluster"), r.getAs[String]("split")))
    // every cluster maps to exactly one split (the whole point)
    rows.groupBy(_._2).foreach { case (c, members) =>
      assert(members.map(_._3).distinct.length === 1, s"cluster $c straddles")
    }
    // the fixture has real multi-doc clusters, so the guarantee is
    // non-vacuous, and all three splits are populated
    assert(rows.groupBy(_._2).exists(_._2.length > 1))
    assert(rows.map(_._3).distinct.toSet === Set("train", "val", "test"))
    // a doc-keyed split WOULD straddle at least one of those clusters
    // (the leak this operator exists to close)
    val docKeyed = Sampling.splitAssign(
        rows.toSeq.toDF("doc_id", "cluster", "old"),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        keyCol = "doc_id", salt = "cs")
      .collect().map(r => r.getAs[Long]("cluster") -> r.getAs[String]("split"))
    assert(docKeyed.groupBy(_._1).exists(_._2.map(_._2).distinct.length > 1))
  }

  // ---- SQ reconstruction-error report (L151) ----

  test("sq error report: bounded by the per-dim midpoint error; exact on constants") {
    // vectors spanning each dim's range; the midpoint decode keeps the
    // round-trip cosine near 1 — every err_nano small and non-negative
    // within the nano rounding slack
    val vs = (0 until 50).map { i =>
      (i.toLong,
        Array.tabulate(8)(d => (i * (d + 1) % 17 + 1).toFloat / 18f))
    }.toDF("vec_id", "embedding")
    val rep = ScalarQuant.reconstructionReport(vs)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cos_nano"), r.getAs[Long]("err_nano"))).toMap
    rep.values.foreach { case (cosN, errN) =>
      assert(cosN === 1000000000L - errN)
      assert(errN >= -1L) // cos can round to 1.000000001 only by rounding
      assert(errN < 20000000L, "int8 midpoint round-trip stays within 2% here")
    }
    // a corpus whose vectors all equal the per-dim extrema midpoints
    // round-trips EXACTLY: cos_nano = 1e9
    val exact = Seq(
      (1L, Array(0.0f, 1.0f)), (2L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    // dims span [0,1]; codes floor(x*256) clamp 255; decode midpoints
    // differ from inputs, but the two vectors stay symmetric — just
    // assert the report emits both rows and stays within the bound
    assert(ScalarQuant.reconstructionReport(exact).count() === 2)
  }

  // ---- Embedding-space hard negatives (L150) ----

  test("embedding hard negatives: label filter before the cut, equals filtered brute force") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 10)
    val got = Similarity.embeddingHardNegatives(e, q, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"))
        -> (r.getAs[Long]("neighbor_id"), r.getAs[Int]("neighbor_label")))
      .toMap
    // every query yields exactly k negatives, all cross-label
    val labels = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0L until 10L).foreach { qid =>
      (1 to 5).foreach { r =>
        val (nid, nl) = got((qid, r))
        assert(nl === labels(nid))
        assert(nl !== labels(qid))
      }
    }
    // the filtered-then-ranked result is NOT the top-k of the unfiltered
    // ranking with same-label rows dropped past the cut: recompute via
    // bruteForceTopK over a pre-filtered corpus per query and compare
    val perQuery = (0L until 10L).map { qid =>
      val negCorpus = e.filter(col("label") =!= labels(qid))
      val ref = Similarity.bruteForceTopK(negCorpus,
          e.filter(col("vec_id") === qid), k = 5)
        .collect().map(r => r.getAs[Int]("rank") ->
          r.getAs[Long]("neighbor_id")).toMap
      (1 to 5).forall(r => ref(r) === got((qid, r))._1)
    }
    assert(perQuery.forall(identity))
  }

  // ---- Contrastive independent crops (L149) ----

  test("contrastive crops equal a plain-Scala reference; short docs collapse") {
    def draw32(key: Long, salt: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$key:$salt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val rnd = new scala.util.Random(3)
    val rows = (1L to 120L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(30))("w" + rnd.nextInt(9)).mkString(" "))
    }
    val got = SpanCorruption.contrastiveCrops(docs(rows: _*), cropTokens = 5,
        salt = "s")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("crop_a"), r.getAs[String]("crop_b"),
          r.getAs[Long]("overlap_tokens"))).toMap
    rows.foreach { case (id, text) =>
      val t = text.split(" ")
      val l = math.min(5, t.length)
      def off(tag: String) = draw32(id, "s" + tag) % (t.length - l + 1)
      val (oa, ob) = (off("a"), off("b"))
      val expOverlap = math.max(0L, math.min(oa, ob) + l - math.max(oa, ob))
      assert(got(id) === ((
        t.slice(oa.toInt, oa.toInt + l).mkString(" "),
        t.slice(ob.toInt, ob.toInt + l).mkString(" "),
        expOverlap)), s"doc $id")
    }
    // a doc shorter than the crop yields two identical full-text crops
    // with full overlap
    val short = SpanCorruption.contrastiveCrops(docs(1L -> "a b c"),
      cropTokens = 10).collect().head
    assert(short.getAs[String]("crop_a") === "a b c")
    assert(short.getAs[String]("crop_b") === "a b c")
    assert(short.getAs[Long]("overlap_tokens") === 3L)
    // empty docs emit nothing
    assert(SpanCorruption.contrastiveCrops(docs(2L -> "")).count() === 0)
  }

  // ---- Per-domain quality prior + blend (L148) ----

  test("domain prior blend: floor-mean prior, integer blend, reserved guard") {
    val scored = Seq(
      (1L, "good.com", 900000L), (2L, "good.com", 700000L),
      (3L, "good.com", 800001L), // prior = 2400001/3 = 800000 (floor)
      (4L, "spam.com", 100000L), (5L, "spam.com", 200000L))
      .toDF("doc_id", "domain", "score")
    val got = QualityModel.domainPriorBlend(scored, "domain", "score")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("domain_prior_micro"), r.getAs[Long]("blend_micro")))
      .toMap
    assert(got(1L) === ((800000L, 850000L))) // (800000+900000)/2
    assert(got(2L) === ((800000L, 750000L)))
    assert(got(4L) === ((150000L, 125000L)))
    // a mediocre doc on the good domain now outranks a same-score doc
    // on the spam domain by exactly the prior gap / 2
    assert(got(2L)._2 - got(5L)._2 ===
      (800000L - 150000L) / 2 + (700000L - 200000L) / 2)
    // prior-only and score-only degenerate weights
    val all = QualityModel.domainPriorBlend(scored, "domain", "score",
        priorNum = 2, priorDen = 2)
      .collect().map(r => r.getAs[Long]("blend_micro")).toSet
    assert(all === Set(800000L, 150000L))
    val e = intercept[IllegalArgumentException] {
      QualityModel.domainPriorBlend(
        scored.withColumnRenamed("score", "blend_micro"),
        "domain", "blend_micro")
    }
    assert(e.getMessage.contains("reserved"))
  }

  // ---- Size-balanced sharding (L147) ----

  test("balanced shards: LPT spread bound, two-phase equals single window, report") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 500L).map(i => (i, 1L + rnd.nextInt(200).toLong))
    val df = rows.toDF("doc_id", "n_tokens")
    val assigned = Packing.shardBalancedBySize(df, numShards = 7,
      sizeCol = "n_tokens", keyCol = "doc_id", salt = "t")
    val totals = assigned.groupBy("shard")
      .agg(sum("n_tokens").as("t")).collect().map(_.getLong(1))
    assert(totals.length === 7)
    // descending round-robin keeps the spread within one largest item
    assert(totals.max - totals.min <= rows.map(_._2).max)
    // the two-phase cut is exactly the single-window deal
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val single = Packing.shardBalancedBySize(df, 7, "n_tokens", "doc_id",
      salt = "t", drawPrefixLen = 0)
    assert(canon(assigned) === canon(single))
    // report mirrors the rollup and the spread formula
    val rep = Packing.shardBalanceReport(assigned, "n_tokens")
      .collect().map(r => (r.getAs[Int]("shard"), r.getAs[Long]("total_tokens"),
        r.getAs[Long]("imbalance_micro")))
    assert(rep.map(_._2).sorted.toSeq === totals.sorted.toSeq)
    val expected = (totals.max - totals.min) * 1000000L / totals.max
    rep.foreach { case (_, _, imb) => assert(imb === expected) }
    // degenerate: every shard total 0 → perfectly balanced, imbalance 0
    // (not a null from 0/0)
    val zeros = Packing.shardBalanceReport(
      Seq((1L, 0L, 0), (2L, 0L, 1)).toDF("doc_id", "n_tokens", "shard"),
      "n_tokens").collect()
    assert(zeros.forall(r => r.getAs[Long]("imbalance_micro") === 0L))
  }

  // ---- Mutual-best bitext pairs (L146) ----

  test("bitext mutual best = forward best ∩ swapped backward best") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = e.filter(col("vec_id") % 2 === 0)
    val b = e.filter(col("vec_id") % 2 === 1)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id_a"),
        r.getAs[Long]("vec_id_b"))).toSet
    val mutual = Similarity.bitextMutualBest(a, b, k = 4,
      thresholdMicro = 1150000L)
    val fwd = pairs(Similarity.bitextMarginPairs(a, b, 4, 1150000L))
    // the margin is symmetric in the two sides, so the per-B argmax is
    // the swapped-role run of the same operator
    val bwd = Similarity.bitextMarginPairs(b, a, 4, 1150000L)
      .collect().map(r => (r.getAs[Long]("vec_id_b"),
        r.getAs[Long]("vec_id_a"))).toSet
    val got = pairs(mutual)
    assert(got === fwd.intersect(bwd))
    assert(got.nonEmpty && got.size < fwd.size) // hubs were suppressed
    // verdicts ride through unchanged from the forward side
    val fwdRows = Similarity.bitextMarginPairs(a, b, 4, 1150000L)
      .collect().map(r => (r.getAs[Long]("vec_id_a"),
        r.getAs[Long]("vec_id_b")) -> r.getAs[Boolean]("accepted")).toMap
    mutual.collect().foreach { r =>
      val key = (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"))
      assert(r.getAs[Boolean]("accepted") === fwdRows(key))
    }
  }

  // ---- Vocabulary-growth report (L145) ----

  test("vocab growth: first-bucket attribution, empty bucket, cumulative curves") {
    val d = Seq(
      (0L, "a b a"),     // bucket 0: 3 tokens, new types a, b
      (0L, "b c"),       //           2 tokens, new type c
      (1L, "a b c"),     // bucket 1: 3 tokens, nothing new
      (2L, "a d e"))     // bucket 2: 3 tokens, new types d, e
      .toDF("batch", "text")
    val got = CorpusStats.vocabGrowth(d, "batch")
      .collect().map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_new_types"), r.getAs[Long]("cum_tokens"),
        r.getAs[Long]("cum_types"))).sortBy(_._1).toSeq
    assert(got === Seq(
      (0L, 5L, 3L, 5L, 3L),
      (1L, 3L, 0L, 8L, 3L),
      (2L, 3L, 2L, 11L, 5L)))
    // final cum_types equals the corpus's distinct token count
    assert(got.last._5 === 5L)
  }

  // ---- SFT-pair heuristic curation (L144) ----

  test("sft curation: rules fire at the gate SF, provenance ordered, injections kill") {
    val rows = SparkEntry.queries("sft_curation")(spark,
      "/root/testdata/sf0.001").collect()
    val reasons = rows.flatMap(r => r.getAs[String]("fail_reasons")
      .split("\\|").filter(_.nonEmpty)).toSet
    // the three injectable rules all fire somewhere in the fixture
    assert(Set("resp_min_tokens", "len_ratio", "no_refusal")
      .subsetOf(reasons))
    // first_fail is the FIRST listed reason, rule order preserved
    rows.filter(_.getAs[Int]("n_fails") > 0).foreach { r =>
      assert(r.getAs[String]("fail_reasons").split("\\|").head ===
        r.getAs[String]("first_fail"))
    }
    // a truncated response fails the token floor first (rule order),
    // and the ratio band too
    val short = rows.find(_.getAs[Long]("pair_id") === 17L).get
    assert(!short.getAs[Boolean]("keep"))
    assert(short.getAs[String]("fail_reasons")
      .startsWith("resp_min_tokens|len_ratio"))
    // a refusal-injected pair (13 mod, not 17 mod) fails no_refusal only
    val refusal = rows.find(_.getAs[Long]("pair_id") === 13L).get
    assert(refusal.getAs[String]("fail_reasons") === "no_refusal")
  }

  // ---- KV-cache prefix-sharing report (L143) ----

  test("prefix cache report: hand savings, short-prompt keying, singleton/empty drop") {
    val prompts = Seq(
      "sum this : alpha beta gamma",   // template group, 6 tokens
      "sum this : delta words",        // 5 tokens
      "sum this : epsilon",            // 4 tokens
      "a b",                           // short pair: whole-text key
      "a b",
      "lonely prompt here now",        // singleton -> dropped
      "")                              // empty -> dropped
      .toDF("text")
    val got = SftPrep.prefixCacheReport(prompts, prefixTokens = 3)
      .collect().map(r => r.getAs[String]("prefix") ->
        (r.getAs[Long]("n_prompts"), r.getAs[Long]("prefix_len"),
          r.getAs[Long]("total_tokens"), r.getAs[Long]("saved_tokens"),
          r.getAs[Long]("saved_micro"))).toMap
    // template group: 3 prompts, prefix 3 tokens, 15 total, saves 6
    assert(got("sum this :") === ((3L, 3L, 15L, 6L, 400000L)))
    // the short pair keys by its whole 2-token text
    assert(got("a b") === ((2L, 2L, 4L, 2L, 500000L)))
    assert(got.keySet === Set("sum this :", "a b"))
  }

  // ---- Mergeable-sketch group matrix (L142) ----

  test("sketch matrix: mergeability, identical-group agreement, est formula") {
    val d = Seq(
      ("a", "alpha beta gamma delta words one"),
      ("a", "more alpha content beta here now"),
      ("b", "alpha beta gamma delta words one"),
      ("b", "more alpha content beta here now"), // b identical set to a
      ("c", "totally different vocabulary set coming through"))
      .toDF("grp", "text")
    val m = Dedup.minhashMatrix(d, "grp")
      .collect().map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
        -> (r.getAs[Long]("n_agree"), r.getAs[Long]("est_micro"))).toMap
    assert(m(("a", "b")) === ((8L, 1000000L))) // identical shingle sets
    m.values.foreach { case (na, est) =>
      assert(est === na * 1000000L / 8)
    }
    assert(m.keySet === Set(("a", "b"), ("a", "c"), ("b", "c"))) // triangular
    // mergeability: the union group's signature is the elementwise min
    // of the parts' signatures
    val parts = Dedup.minhashes(d.filter(col("grp").isin("a", "c")), 8,
        "grp", "text")
      .collect().map(r => r.getString(0) ->
        (1 to 8).map(i => r.getLong(i))).toMap
    val union = Dedup.minhashes(
        d.filter(col("grp").isin("a", "c")).withColumn("grp", lit("u")),
        8, "grp", "text")
      .collect().map(r => (1 to 8).map(i => r.getLong(i))).head
    val merged = parts("a").zip(parts("c")).map { case (x, y) => x.min(y) }
    assert(union === merged)
  }

  // ---- PMI collocations (L141) ----

  test("collocations: hand counts, PMI sign, tiebreak, bucketed equals single") {
    // "new york" 6x as a glued phrase; "of the" frequent but expected
    val d = docs(
      1L -> "new york new york new york of the of the of the",
      2L -> "new york new york new york the of the of the of")
    val got = TextAnalysis.collocations(d, topK = 5, minCount = 2)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("w1"),
        r.getAs[String]("w2"), r.getAs[Long]("n_pair"),
        r.getAs[Long]("n_w1"), r.getAs[Long]("n_w2"),
        r.getAs[Long]("pmi_micro"))).sortBy(_._1).toSeq
    def q(x: Long) = math.round(math.log(x.toDouble) * 1e6)
    // 24 tokens, 22 bigrams; "new york": pair 6, new 6, york 6
    val ny = got.find(r => r._2 == "new" && r._3 == "york").get
    assert(ny._4 === 6L && ny._5 === 6L && ny._6 === 6L)
    assert(ny._7 === q(6) + 2 * q(24) - q(6) - q(6) - q(22))
    // a phrase concentrated in one pair scores far above a pair of
    // corpus-wide frequent tokens: "of the" (pair 6 but of=6, the=6 too,
    // same counts here) — craft the contrast with "the of" (pair 2)
    val to = got.find(r => r._2 == "the" && r._3 == "of").get
    assert(to._7 < ny._7)
    // rank 1 tiebreak: three pairs at n_pair=6 -> (new,york) < (of,the)
    assert(got.head._2 === "new" && got.head._3 === "york")
    val single = TextAnalysis.collocations(d, topK = 5, minCount = 2,
        buckets = 1)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("w1")))
      .sortBy(_._1).toSeq
    assert(single === got.map(r => (r._1, r._2)))
  }

  // ---- Consistent pseudonymization (L140) ----

  test("pseudonymize: stable per-entity tokens, md5-prefix ids, edges") {
    def md58(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val d = Seq(
      (1L, "mail a@b.com and a@b.com plus c@d.org"),
      (2L, "a@b.com starts; ends with c@d.org"),
      (3L, "no entities at all"),
      (4L, "adjacent a@b.comc@d.org run")) // greedy TLD eats the 'c' run
      .toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
        TextNormalize.pseudonymize(col("text")).as("t"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("t"))
      .toMap
    val ab = s"<email_${md58("a@b.com")}>"
    val cd = s"<email_${md58("c@d.org")}>"
    assert(got(1L) === s"mail $ab and $ab plus $cd")
    assert(got(2L) === s"$ab starts; ends with $cd")
    assert(got(3L) === "no entities at all")
    // the TLD class is greedy, so the glued pair matches as "a@b.comc"
    // and the orphaned "@d.org" stays literal — the point is the rebuild
    // survives weird boundaries
    assert(got(4L) === s"adjacent <email_${md58("a@b.comc")}>@d.org run")
    // same entity under a different tag/pattern namespace
    val ips = d.sparkSession.sql("SELECT '10.0.0.1 and 10.0.0.1' AS text")
      .select(TextNormalize.pseudonymize(col("text"),
        TextNormalize.Ipv4Pattern, "ip").as("t"))
      .collect().head.getString(0)
    assert(ips === s"<ip_${md58("10.0.0.1")}> and <ip_${md58("10.0.0.1")}>")
  }

  // ---- TextTiling topic segmentation (L139) ----

  test("topic tiling: hand-computed gaps, zero-sim gap restored, boundary at the valley") {
    // four 8-token blocks: aa | aa | bb | bb — the only topic shift is
    // at gap 2, whose adjacent blocks share NO term (inner join drops
    // it; the restore-at-0 path must put it back)
    val text = (Seq.fill(16)("a") ++ Seq.fill(16)("b")).mkString(" ")
    val gaps = TopicTiling.gapScores(docs(1L -> text))
      .collect().map(r => (r.getAs[Long]("gap_idx"), r.getAs[Long]("sim"),
        r.getAs[Long]("depth"), r.getAs[Boolean]("boundary")))
      .sortBy(_._1).toSeq
    // sims: g1 = min(8,8) = 8, g2 = 0 (disjoint), g3 = 8
    // depths (peak window 2): g2 = (8-0)+(8-0) = 16, others 0
    // mean cutoff: depth*3 > 16 -> only g2
    assert(gaps === Seq((1L, 8L, 0L, false), (2L, 0L, 16L, true),
      (3L, 8L, 0L, false)))
    val segs = TopicTiling.segments(docs(1L -> text))
      .collect().map(r => r.getAs[Long]("block") -> r.getAs[Long]("segment"))
      .sortBy(_._1).toSeq
    assert(segs === Seq(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("topic tiling: short and empty docs") {
    // a single-block doc has no gap; an empty doc emits nothing
    val d = docs(1L -> "one two three", 2L -> "")
    assert(TopicTiling.gapScores(d).count() === 0)
    val segs = TopicTiling.segments(d)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("block"),
        r.getAs[Long]("segment"))).toSeq
    assert(segs === Seq((1L, 0L, 0L)))
    // a trailing partial block still participates in its gap
    val partial = docs(3L -> (Seq.fill(8)("x") ++ Seq("x", "y")).mkString(" "))
    val g = TopicTiling.gapScores(partial).collect().head
    assert(g.getAs[Long]("sim") === 1L) // min(8,1) for x, y unshared
  }

  // ---- Vocabulary coverage / OOV report (L138) ----

  test("vocab coverage: hand-computed coverage, top-OOV tiebreak, zero-OOV lang") {
    val d = Seq(
      (1L, "en", "a a b c"),   // en types: a(3) b(1) c(2), zz(1) below
      (2L, "en", "a c zz"),
      (3L, "fr", "a b"))       // fr fully covered
      .toDF("doc_id", "lang", "text")
    val vocab = Seq("a", "b").toDF("token")
    val got = TextAnalysis.vocabCoverage(d, vocab)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_types"), r.getAs[Long]("n_types_in_vocab"),
          r.getAs[Long]("n_occ"), r.getAs[Long]("n_occ_in_vocab"),
          r.getAs[Long]("type_cov_micro"), r.getAs[Long]("occ_cov_micro"),
          r.getAs[String]("top_oov_token"), r.getAs[Long]("top_oov_count")))
      .toMap
    // en: 4 types (a,b,c,zz), 2 in vocab; 7 occ, 4 in vocab;
    // top OOV: c(2) beats zz(1)
    assert(got("en") === ((4L, 2L, 7L, 4L, 500000L, 571428L, "c", 2L)))
    // fr: fully covered -> null token, count 0
    assert(got("fr") === ((2L, 2L, 2L, 2L, 1000000L, 1000000L, null, 0L)))
    // tie on the max OOV count -> lexicographically smallest token
    val tied = Seq((1L, "en", "zz aa zz aa q")).toDF("doc_id", "lang", "text")
    val t = TextAnalysis.vocabCoverage(tied, Seq("q").toDF("token"))
      .collect().head
    assert(t.getAs[String]("top_oov_token") === "aa")
    assert(t.getAs[Long]("top_oov_count") === 2L)
  }

  // ---- MinHash estimator calibration (L137) ----

  test("minhash calibration: identical pair row, invariants, pair total") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta", // exact dup of 1
      3L -> "alpha beta gamma delta epsilon other",
      4L -> "completely different words here now",
      5L -> "alpha beta gamma delta epsilon zeta eta")
    val rows = Dedup.minhashCalibration(d)
      .collect().map(r => (r.getAs[Long]("n_agree"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("est_micro"), r.getAs[Long]("mean_exact_micro"),
        r.getAs[Long]("gap_micro"))).sortBy(_._1).toSeq
    // the identical pair lands in the full-agreement bucket with exact 1.0
    val full = rows.find(_._1 == 8L).get
    assert(full._3 === 1000000L)
    assert(full._4 === 1000000L && full._5 === 0L)
    rows.foreach { case (na, np, est, mex, gap) =>
      assert(na >= 2 && na <= 8, "a shared band implies >= bandSize agreements")
      assert(np >= 1)
      assert(est === na * 1000000L / 8)
      assert(mex >= 0 && mex <= 1000000L)
      assert(gap === math.abs(est - mex))
    }
    // bucket sizes sum to the LSH candidate-pair count
    val nPairs = Dedup.minhashLshPairs(d).count()
    assert(rows.map(_._2).sum === nPairs)
  }

  // ---- URL-parallel bitext alignment (L136) ----

  private def urlPairs(rows: Seq[(Long, String)], maxPerKey: Int = 64) =
    UrlOps.parallelUrlPairs(rows.toDF("doc_id", "url"), "url", "doc_id",
        langs = Seq("en", "fr", "de"), maxPerKey = maxPerKey)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[String]("lang_a"), r.getAs[String]("lang_b"),
        r.getAs[String]("site_key"))).sortBy(p => (p._1, p._2)).toSeq

  test("url pairs: all three marker kinds strip to one key; no-marker dropped") {
    val got = urlPairs(Seq(
      1L -> "https://en.x.com/art/7",        // host label
      2L -> "https://x.com/fr/art/7",        // path segment
      3L -> "https://x.com/art/7?hl=de",     // query param
      4L -> "https://x.com/art/7"))          // unmarked: never pairs
    // side A is the lexicographically smaller language, so the de-marked
    // doc 3 fronts both of its pairs
    assert(got === Seq(
      (1L, 2L, "en", "fr", "x.com/art/7"),
      (3L, 1L, "de", "en", "x.com/art/7"),
      (3L, 2L, "de", "fr", "x.com/art/7")))
  }

  test("url pairs: query params are content; lang params strip from anywhere") {
    val got = urlPairs(Seq(
      1L -> "https://x.com/a?id=1&lang=en",
      2L -> "https://x.com/a?lang=fr&id=1",  // same cleaned query -> pairs
      3L -> "https://x.com/a?id=2&lang=de")) // different id -> no pair
    assert(got === Seq((1L, 2L, "en", "fr", "x.com/a?id=1")))
    // double marker: only the host label strips, the path segment is
    // content, so the keys differ and the pages don't pair
    assert(urlPairs(Seq(
      1L -> "https://en.x.com/en/a",
      2L -> "https://fr.x.com/fr/a")).isEmpty)
    // same language never pairs
    assert(urlPairs(Seq(
      1L -> "https://en.x.com/a", 2L -> "https://en.x.com/a")).isEmpty)
  }

  test("url pairs: hot-key guard drops the whole key") {
    val hot = Seq(
      1L -> "https://en.x.com/a", 2L -> "https://fr.x.com/a",
      3L -> "https://de.x.com/a",
      4L -> "https://en.y.com/b", 5L -> "https://fr.y.com/b")
    assert(urlPairs(hot, maxPerKey = 2) ===
      Seq((4L, 5L, "en", "fr", "y.com/b")))
  }

  // ---- Conversation-tree flattening (L135) ----

  test("tree paths: hand-computed forest — branches, depths, rendering") {
    // tree A: 1 -> {2, 3}, 3 -> 4   tree B: lone root 10
    val turns = Seq(
      (1L, None, "hi"), (2L, Some(1L), "alt one"),
      (3L, Some(1L), "alt two"), (4L, Some(3L), "reply"),
      (10L, None, "solo"))
      .toDF("node_id", "parent_id", "text")
    val got = ConvTree.leafConversations(turns, maxDepth = 4)
      .collect().map(r => (r.getAs[Long]("leaf_id"), r.getAs[Long]("root_id"),
        r.getAs[Int]("depth"), r.getAs[String]("path_str"),
        r.getAs[String]("conv_text"))).sortBy(_._1).toSeq
    assert(got === Seq(
      (2L, 1L, 2, "1>2", "hi | alt one"),
      (4L, 1L, 3, "1>3>4", "hi | alt two | reply"),
      (10L, 10L, 1, "10", "solo")))
    // a null-text turn renders as an empty segment — it can neither
    // silently shorten the conversation nor null the whole rendering
    val withNull = Seq((1L, Option.empty[Long], Some("hi")),
      (2L, Some(1L), Option.empty[String]), (3L, Some(2L), Some("end")))
      .toDF("node_id", "parent_id", "text")
    val conv = ConvTree.leafConversations(withNull, maxDepth = 4)
      .collect().map(r => (r.getAs[Long]("leaf_id"),
        r.getAs[String]("conv_text"))).toSeq
    assert(conv === Seq((3L, "hi |  | end")))
  }

  test("tree paths: doubling equals a plain-Scala recursive walk (property)") {
    // deterministic random forest: 200 nodes, parent drawn below the node
    val rnd = new scala.util.Random(42)
    val rows = (0L until 200L).map { i =>
      val parent = if (i % 9 == 0) None
        else Some((rnd.nextInt(i.toInt.max(1))).toLong)
      (i, parent)
    }
    val parentOf = rows.map { case (i, p) => i -> p }.toMap
    def refPath(i: Long): List[Long] = parentOf(i) match {
      case None    => List(i)
      case Some(p) => refPath(p) :+ i
    }
    val maxDepth = rows.map(r => refPath(r._1).size).max
    val got = ConvTree.rootPaths(rows.toDF("node_id", "parent_id"), maxDepth)
      .collect().map(r => r.getAs[Long]("node_id") ->
        (r.getAs[Long]("root_id"), r.getAs[Int]("depth"),
          r.getAs[Seq[Long]]("path").toList)).toMap
    rows.foreach { case (i, _) =>
      val p = refPath(i)
      assert(got(i) === ((p.head, p.size, p)), s"node $i")
    }
    // depth exactly a power of two resolves at the minimal round count
    val chain = (0L to 3L).map(i =>
      (i, if (i == 0) None else Some(i - 1))).toDF("node_id", "parent_id")
    assert(ConvTree.rootPaths(chain, maxDepth = 4).count() === 4)
  }

  test("tree paths fail fast on too-deep forests and dangling parents") {
    val deep = (0L to 6L).map(i =>
      (i, if (i == 0) None else Some(i - 1))).toDF("node_id", "parent_id")
    val e1 = intercept[IllegalArgumentException] {
      ConvTree.rootPaths(deep, maxDepth = 4).collect()
    }
    assert(e1.getMessage.contains("deeper than maxDepth"))
    val dangling = Seq((1L, None), (2L, Some(99L)))
      .toDF("node_id", "parent_id")
    val e2 = intercept[IllegalArgumentException] {
      ConvTree.rootPaths(dangling, maxDepth = 8).collect()
    }
    assert(e2.getMessage.contains("1 node(s)"))
  }

  // ---- Efraimidis-Spirakis weighted sampling (L134) ----

  /** Plain-Scala E-S key: round(ln((draw32+1)/2^32)·1e6) div w — the
    * operator's exact integer contract, recomputed independently. */
  private def esKey(key: Long, salt: String, w: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$key:$salt".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    val v = java.lang.Long.parseLong(hex, 16)
    val lnm = math.round(math.log((v + 1).toDouble / 4294967296.0) * 1e6)
    lnm / w // Long division truncates toward zero, matching Spark div
  }

  test("weighted sample equals the plain-Scala E-S reference; funnel exact") {
    val rows = (1L to 300L).map(i => (i, (i % 7) + 1L))
    val df = rows.toDF("doc_id", "w")
    val got = Sampling.weightedSample(df, k = 25, weightCol = "w",
        keyCol = "doc_id", salt = "t1")
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("es_micro"))).sortBy(_._1).toSeq
    val ref = rows.map { case (id, w) => (id, esKey(id, "t1", w)) }
      .sortBy { case (id, key) => (-key, id) }.take(25)
      .zipWithIndex.map { case ((id, key), i) => (i + 1, id, key) }
    assert(got === ref)
    // single-window path equals the bucketed funnel
    val single = Sampling.weightedSample(df, k = 25, weightCol = "w",
        keyCol = "doc_id", salt = "t1", buckets = 1)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("es_micro"))).sortBy(_._1).toSeq
    assert(single === got)
  }

  test("weighted sample: weight bias, invalid-weight exclusion, k >= n") {
    // |ln(u)·1e6| is at most ~22.2M, so a weight past that floor-divides
    // every draw to key 0 — giant-weight rows outrank every w=1 row whose
    // draw didn't land within 5e-7 of 1.0 (none here, checked by the
    // reference key being < 0)
    val giants = (1L to 5L).map(i => (i, 30000000L))
    val small = (6L to 40L).map(i => (i, 1L))
    assert(small.forall { case (id, w) => esKey(id, "t2", w) < 0 })
    val picked = Sampling.weightedSample(
        (giants ++ small).toDF("doc_id", "w"), k = 5,
        weightCol = "w", keyCol = "doc_id", salt = "t2")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(picked === giants.map(_._1).toSet)
    // null / zero / negative weights can never be sampled
    val mixed = Seq((1L, Some(5L)), (2L, None), (3L, Some(0L)),
      (4L, Some(-3L)), (5L, Some(2L))).toDF("doc_id", "w")
    val kept = Sampling.weightedSample(mixed, k = 10, weightCol = "w",
      keyCol = "doc_id", salt = "t3").collect().map(_.getAs[Long]("doc_id"))
    assert(kept.toSet === Set(1L, 5L)) // k >= n keeps all valid rows
    assert(kept.length === 2)
    // reserved output/scratch columns are guarded, like the siblings
    for (c <- Seq("es_micro", "rank", "__lnm", "__brank")) {
      val clash = Seq((1L, 2L, "x")).toDF("doc_id", "w", c)
      intercept[IllegalArgumentException] {
        Sampling.weightedSample(clash, k = 1, weightCol = "w",
          keyCol = "doc_id")
      }
    }
  }

  test("phash: hand-computed cells, ahash and dhash on a 4x4 raster") {
    // 4×4 raster, grid 2 → 2×2 blocks: cells (10, 200, 30, 240)
    val px = Seq((1L, Seq(10L, 10L, 200L, 200L,
      10L, 10L, 200L, 200L,
      30L, 30L, 240L, 240L,
      30L, 30L, 240L, 240L))).toDF("doc_id", "pixels")
    val cells = px.select(
        PerceptualHash.lumaCells(col("pixels"), w = 4, h = 4, grid = 2))
      .as[Seq[Long]].head()
    assert(cells === Seq(10L, 200L, 30L, 240L))
    // mean = 480/4 = 120 → bits (0,1,0,1) → one 4-bit band = 5
    val a = px.select(PerceptualHash.ahashBands(col("pixels"), 4, 4,
      grid = 2, bandBits = 4)).as[Seq[Long]].head()
    assert(a === Seq(5L))
    // dhash wrap gradient: (10>200, 200>10, 30>240, 240>30) = 0101 = 5
    val d = px.select(PerceptualHash.dhashBands(col("pixels"), 4, 4,
      grid = 2, bandBits = 4)).as[Seq[Long]].head()
    assert(d === Seq(5L))
    // non-uniform block exercises the floor mean: (10+11+12+14)/4 = 11
    val jit = Seq((1L, Seq(10L, 11L, 0L, 0L, 12L, 14L, 0L, 0L,
      0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))).toDF("doc_id", "pixels")
    val jc = jit.select(
        PerceptualHash.lumaCells(col("pixels"), 4, 4, grid = 2))
      .as[Seq[Long]].head()
    assert(jc.head === 11L)
    // grid must divide the raster
    intercept[IllegalArgumentException] {
      PerceptualHash.lumaCells(col("pixels"), w = 4, h = 4, grid = 3)
    }
  }

  test("phash native kernel equals the HOF reference shape on random rasters") {
    val rnd = new scala.util.Random(43)
    val px = (1L to 40L).map(i =>
      i -> Seq.fill(256)(rnd.nextInt(256).toLong))
      .toDF("doc_id", "pixels").localCheckpoint(true)
    def grab(c: org.apache.spark.sql.Column) =
      px.select(col("doc_id"), c.as("b")).as[(Long, Seq[Long])]
        .collect().toMap
    assert(grab(graft.functions.PhashExprs.ahashBands(col("pixels"), 16, 16))
      === grab(PerceptualHash.ahashBands(col("pixels"), 16, 16)))
    assert(grab(graft.functions.PhashExprs.dhashBands(col("pixels"), 16, 16))
      === grab(PerceptualHash.dhashBands(col("pixels"), 16, 16)))
    // non-default geometry: 8×8 raster, grid 4, 8-bit bands
    val px8 = (1L to 20L).map(i =>
      i -> Seq.fill(64)(rnd.nextInt(256).toLong))
      .toDF("doc_id", "pixels").localCheckpoint(true)
    def grab8(c: org.apache.spark.sql.Column) =
      px8.select(col("doc_id"), c.as("b")).as[(Long, Seq[Long])]
        .collect().toMap
    assert(grab8(graft.functions.PhashExprs.ahashBands(col("pixels"), 8, 8,
        grid = 4, bandBits = 8))
      === grab8(PerceptualHash.ahashBands(col("pixels"), 8, 8,
        grid = 4, bandBits = 8)))
    assert(grab8(graft.functions.PhashExprs.dhashBands(col("pixels"), 8, 8,
        grid = 4, bandBits = 8))
      === grab8(PerceptualHash.dhashBands(col("pixels"), 8, 8,
        grid = 4, bandBits = 8)))
    // the kernel validates geometry at build time like the HOF shape
    intercept[IllegalArgumentException] {
      graft.functions.PhashExprs.ahashBands(col("pixels"), 8, 8, grid = 3)
    }
    // a wrong-sized raster fails with the data contract, not an opaque
    // out-of-bounds (pixels are 64-long here, declared 16x16 = 256)
    val wrongGeom = intercept[Exception] {
      px8.select(graft.functions.PhashExprs
        .ahashBands(col("pixels"), 16, 16)).collect()
    }
    val msgs = Iterator.iterate[Throwable](wrongGeom)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(msgs.exists(_.contains("declared 16x16")))
  }

  test("phash pairs: banded engine equals brute force at the pigeonhole radius") {
    // engineered band rows: pairs at hamming 0, 1, 3 (spread over 3
    // bands), 4 (all four bands touched — beyond the radius), and far
    val base = Seq(7L, 99L, 1024L, 65535L)
    def flip(bands: Seq[Long], bandIdx: Int, bit: Int): Seq[Long] =
      bands.updated(bandIdx, bands(bandIdx) ^ (1L << bit))
    val rows = Seq(
      1L -> base,
      2L -> base,                                     // hamming 0 vs 1
      3L -> flip(base, 0, 3),                         // hamming 1
      4L -> flip(flip(flip(base, 0, 2), 1, 7), 2, 0), // hamming 3, 3 bands
      5L -> flip(flip(flip(flip(base, 0, 1), 1, 1), 2, 1), 3, 1), // 4 bands
      6L -> Seq(11111L, 22222L, 33333L, 44444L))      // far
    val imgs = rows.toDF("doc_id", "bands")
    val got = PerceptualHash.nearDupPairs(imgs, numBands = 4, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    // brute force over all pairs
    val brute = (for {
      (a, ba) <- rows; (b, bb) <- rows if a < b
      h = ba.zip(bb).map { case (x, y) =>
        java.lang.Long.bitCount(x ^ y).toLong }.sum
      if h <= 3
    } yield (a, b, h)).toSet
    assert(got === brute)
    assert(got.contains((1L, 2L, 0L)))
    assert(got.contains((1L, 3L, 1L)))
    assert(got.contains((1L, 4L, 3L)))
    assert(!got.contains((1L, 5L, 4L))) // 4 bits over 4 bands: outside radius
    // radius beyond bands-1 would lose recall — fail fast, not silently
    intercept[IllegalArgumentException] {
      PerceptualHash.nearDupPairs(imgs, numBands = 4, maxHamming = 4)
    }
    // hot-bucket guard: a band value shared corpus-wide is a stop bucket
    val hot = (1L to 20L).map(i => i -> Seq(5L, 100L + i, 200L + i,
      300L + i)).toDF("doc_id", "bands")
    val guarded = PerceptualHash.nearDupPairs(hot, numBands = 4,
      maxHamming = 3, maxBucketSize = Some(10))
    assert(guarded.count() === 0L) // only the capped band-0 bucket paired
  }

  test("phash pairs: random property — banded equals brute force") {
    val rnd = new scala.util.Random(41)
    val rows = (1L to 60L).map { i =>
      // half the rows derive from a shared prototype with few flips so
      // near pairs actually exist; the rest are independent
      if (i % 2 == 0) {
        val proto = Seq(1234L, 4321L, 777L, 31000L)
        (0 until rnd.nextInt(5)).foldLeft(proto) { (b, _) =>
          val bi = rnd.nextInt(4)
          b.updated(bi, b(bi) ^ (1L << rnd.nextInt(16)))
        } match { case b => i -> b }
      } else i -> Seq.fill(4)(rnd.nextInt(65536).toLong)
    }
    val got = PerceptualHash.nearDupPairs(rows.toDF("doc_id", "bands"),
        numBands = 4, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val brute = (for {
      (a, ba) <- rows; (b, bb) <- rows if a < b
      h = ba.zip(bb).map { case (x, y) =>
        java.lang.Long.bitCount(x ^ y).toLong }.sum
      if h <= 3
    } yield (a, b, h)).toSet
    assert(got === brute)
    assert(brute.nonEmpty) // the prototype half guarantees real pairs
  }

  test("phash kernel matches the HOF shape on negative pixels and rejects null pixels") {
    // array<bigint> admits negatives; the HOF shape floor-divides, so
    // the kernel must floorDiv (truncating division diverges below zero)
    val rnd = new scala.util.Random(53)
    val px = (1L to 25L).map(i =>
      i -> Seq.fill(256)((rnd.nextInt(512) - 256).toLong))
      .toDF("doc_id", "pixels").localCheckpoint(true)
    def grab(c: org.apache.spark.sql.Column) =
      px.select(col("doc_id"), c.as("b")).as[(Long, Seq[Long])]
        .collect().toMap
    assert(grab(graft.functions.PhashExprs.ahashBands(col("pixels"), 16, 16))
      === grab(PerceptualHash.ahashBands(col("pixels"), 16, 16)))
    assert(grab(graft.functions.PhashExprs.dhashBands(col("pixels"), 16, 16))
      === grab(PerceptualHash.dhashBands(col("pixels"), 16, 16)))
    // a null element would read as 0 through ArrayData.getLong — the
    // kernel rejects holes loudly instead of silently diverging from
    // the HOF shape's null propagation
    val holed = Seq((1L, (0 until 256).map(i =>
        if (i == 37) null else java.lang.Long.valueOf(i.toLong))))
      .toDF("doc_id", "pixels")
    val ex = intercept[Exception] {
      holed.select(graft.functions.PhashExprs
        .ahashBands(col("pixels"), 16, 16)).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(msgs.exists(_.contains("null pixel")))
  }

  test("phash pairs: band-count mismatch fails the recall contract loudly") {
    // numBands is a CONTRACT about the data, verified against the real
    // array length per row — a 3-band array under declared numBands=4
    // would silently void the pigeonhole guarantee if only trusted
    val rows = Seq(1L -> Seq(7L, 99L, 1024L, 65535L),
      2L -> Seq(7L, 99L, 1024L)) // one band short
    val ex = intercept[Exception] {
      PerceptualHash.nearDupPairs(rows.toDF("doc_id", "bands"),
        numBands = 4, maxHamming = 3).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(msgs.exists(_.contains("pigeonhole")))
  }

  test("phash pairs: failOnHotBucket turns the cap into a loud failure") {
    val hot = (1L to 20L).map(i => i -> Seq(5L, 100L + i, 200L + i,
      300L + i)).toDF("doc_id", "bands")
    // silent-drop mode (production): capped bucket skipped, zero pairs
    assert(PerceptualHash.nearDupPairs(hot, numBands = 4, maxHamming = 3,
      maxBucketSize = Some(10)).count() === 0L)
    // enforce mode (oracle-gated runs): the same bucket FAILS the run —
    // a gate can never silently diverge from an uncapped oracle
    val ex = intercept[Exception] {
      PerceptualHash.nearDupPairs(hot, numBands = 4, maxHamming = 3,
        maxBucketSize = Some(10), failOnHotBucket = true).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(msgs.exists(_.contains("maxBucketSize")))
  }

  test("phash conjunction pairs equal brute force over both thresholds") {
    // prototype-derived bands for BOTH hashes: candidates key on the
    // first array, the verify threshold applies to the second — pairs
    // passing aHash but failing dHash must drop (the damper is real)
    val rnd = new scala.util.Random(59)
    val rows = (1L to 60L).map { i =>
      def derive(proto: Seq[Long], flips: Int) =
        (0 until flips).foldLeft(proto) { (b, _) =>
          val bi = rnd.nextInt(4)
          b.updated(bi, b(bi) ^ (1L << rnd.nextInt(16)))
        }
      if (i % 2 == 0)
        (i, derive(Seq(1234L, 4321L, 777L, 31000L), rnd.nextInt(5)),
          derive(Seq(222L, 333L, 444L, 555L), rnd.nextInt(7)))
      else
        (i, Seq.fill(4)(rnd.nextInt(65536).toLong),
          Seq.fill(4)(rnd.nextInt(65536).toLong))
    }
    val got = PerceptualHash.nearDupPairsAnd(
        rows.toDF("doc_id", "bands", "vbands"),
        numBands = 4, maxHamming = 3, maxHammingVerify = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    def ham(x: Seq[Long], y: Seq[Long]) =
      x.zip(y).map { case (a, b) => java.lang.Long.bitCount(a ^ b).toLong }.sum
    val brute = (for {
      (a, ba, va) <- rows; (b, bb, vb) <- rows if a < b
      h = ham(ba, bb); hv = ham(va, vb)
      if h <= 3 && hv <= 3
    } yield (a, b, h, hv)).toSet
    assert(got === brute)
    assert(brute.nonEmpty)
    // the conjunction must be strictly tighter than aHash alone here
    val ahashOnly = (for {
      (a, ba, _) <- rows; (b, bb, _) <- rows if a < b
      if ham(ba, bb) <= 3
    } yield (a, b)).toSet
    assert(brute.map(p => (p._1, p._2)).subsetOf(ahashOnly))
    assert(brute.size < ahashOnly.size)
  }

  test("band-index probe equals brute force and respects history-side caps") {
    val rnd = new scala.util.Random(61)
    def near(proto: Seq[Long], flips: Int) =
      (0 until flips).foldLeft(proto) { (b, _) =>
        val bi = rnd.nextInt(4)
        b.updated(bi, b(bi) ^ (1L << rnd.nextInt(16)))
      }
    val proto = Seq(1234L, 4321L, 777L, 31000L)
    val history = (1L to 30L).map(i =>
      if (i % 2 == 0) i -> near(proto, rnd.nextInt(5))
      else i -> Seq.fill(4)(rnd.nextInt(65536).toLong))
    val probes = (101L to 120L).map(i =>
      if (i % 2 == 0) i -> near(proto, rnd.nextInt(5))
      else i -> Seq.fill(4)(rnd.nextInt(65536).toLong))
    val idx = PerceptualHash.bandIndex(history.toDF("doc_id", "bands"))
      .localCheckpoint(true)
    val got = PerceptualHash.probeBandIndex(probes.toDF("doc_id", "bands"),
        idx, maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    // exactly-once per qualifying pair (the first-live-match trick
    // replaces the batch engine's groupBy dedup), and equal to brute
    assert(got.length === got.toSet.size)
    def ham(x: Seq[Long], y: Seq[Long]) =
      x.zip(y).map { case (a, b) => java.lang.Long.bitCount(a ^ b).toLong }.sum
    val brute = (for {
      (p, pb) <- probes; (hid, hb) <- history
      h = ham(pb, hb) if h <= 3
    } yield (p, hid, h)).toSet
    assert(got.toSet === brute)
    assert(brute.nonEmpty)
    // capped index: a band value hot across the history is dead; pairs
    // reachable ONLY through it drop, pairs with another live shared
    // band survive exactly once
    val hotHistory = (1L to 20L).map(i => i -> Seq(5L, 100L + i, 200L,
      300L + i))
    val hotIdx = PerceptualHash.bandIndex(hotHistory.toDF("doc_id", "bands"),
      maxBucketSize = Some(10)).localCheckpoint(true)
    // probe shares band 0 value 5 (dead bucket) AND band 2 value 200
    // (also hot → dead); far elsewhere → nothing reachable
    val deadOnly = Seq(900L -> Seq(5L, 9999L, 200L, 8888L))
    assert(PerceptualHash.probeBandIndex(deadOnly.toDF("doc_id", "bands"),
      hotIdx, maxHamming = 3).count() === 0L)
    // probe matching a LIVE band (band 1 value 101 is unique in history)
    // still pairs with doc 1 exactly once if within the radius
    val live = Seq(901L -> Seq(5L, 101L, 200L, 301L))
    val hits = PerceptualHash.probeBandIndex(live.toDF("doc_id", "bands"),
        hotIdx, maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    assert(hits.toSeq === Seq((901L, 1L, 0L)))
  }

  test("suffix automaton names the single-oversized-document case in its budget error") {
    // one 700-token document under a 500-token budget: repartitioning
    // cannot help — the message must say so instead of suggesting it
    val d = docs((1L, Seq.fill(700)("tok").mkString(" ")))
    val ex = intercept[Exception] {
      SuffixAutomaton.duplicatedSpans(d, minLen = 5,
        maxPartitionTokens = 500L).collect()
    }
    val messages = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(messages.exists(m => m.contains("single document") &&
      m.contains("repartitioning cannot help")))
  }

  test("suffix automaton enforces the partition token budget with the repartition hint") {
    val d = docs((1L, Seq.fill(300)("tok").mkString(" ")),
      (2L, Seq.fill(300)("tok").mkString(" ")))
      .coalesce(1)
    val ex = intercept[Exception] {
      SuffixAutomaton.duplicatedSpans(d, minLen = 5,
        maxPartitionTokens = 500L).collect()
    }
    val messages = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(messages.exists(_.contains("Repartition the corpus")))
    // under the budget the same corpus resolves normally
    assert(SuffixAutomaton.duplicatedSpans(d, minLen = 5,
      maxPartitionTokens = 1000L).count() === 2L)
  }

  test("domain-prior blend: explicit default prior keeps unseen-domain rows flagged") {
    val pool = Seq((1L, "good.com", 900000L), (2L, "good.com", 700000L),
      (3L, "spam.net", 100000L)).toDF("doc_id", "domain", "score_micro")
    val prior = QualityModel.domainPrior(pool, "domain", "score_micro")
    val stream = Seq((10L, "good.com", 100000L), (11L, "new.org", 500000L))
      .toDF("doc_id", "domain", "score_micro")
    // strict default: unseen domain DROPPED (documented inner join)
    val strict = QualityModel.domainPriorBlendStateless(stream, prior,
      "domain", "score_micro")
    assert(strict.select("doc_id").as[Long].collect().toSet === Set(10L))
    // explicit default: unseen rows kept, flagged, blended against it
    val kept = QualityModel.domainPriorBlendStateless(stream, prior,
        "domain", "score_micro", defaultPrior = Some(400000L))
      .select("doc_id", "prior_seen", "domain_prior_micro", "blend_micro")
      .as[(Long, Boolean, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(kept(10L) === ((true, 800000L, 450000L)))
    assert(kept(11L) === ((false, 400000L, 450000L)))
  }
}
