package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.NfcNormalize
import graft.operators._
import graft.sources.CorpusIO

/** End-to-end composition of the training-data operators — the pipeline a
  * corpus owner actually runs, chained as a user of the library would
  * chain them, not stage-by-stage unit checks:
  *
  *   JSONL-shaped read → NFC canonicalize + PII scrub → corpus line dedup
  *   → exact dedup keep-list → benchmark decontamination → per-language
  *   length-band filter → token-budget mix → sequence packing → JSONL out
  *
  * Asserted: every stage's row accounting is coherent (monotone drops
  * where the stage only drops, exact arithmetic where computable), the
  * WHOLE pipeline is deterministic (two runs produce byte-identical
  * output — the property that makes reprocessing and incremental reruns
  * safe), and the result round-trips through the interchange sink. */
class CorpusPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def runPipeline(): DataFrame = {
    val raw = Tables.documents(spark, sfDir)

    // normalize: canonical unicode, PII redacted
    val normalized = raw.withColumn("text",
      NfcNormalize.nfc(TextNormalize.scrubPii(col("text"))))

    // corpus-level boilerplate line removal (conservative DF cap);
    // dedupLines reshapes to (doc_id, text, ...) — rejoin the metadata
    val lined = TextNormalize.dedupLines(normalized, maxDocFrequency = 400)
      .select("doc_id", "text")
      .join(raw.select("doc_id", "lang", "source"), Seq("doc_id"))

    // exact dedup: canonical survivor per identical-content group
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text").cast("binary")))
    val dupPairs = lined
      .select(col("doc_id"), min(col("doc_id")).over(w).as("a"))
      .filter(col("a") =!= col("doc_id"))
      .select(col("a"), col("doc_id").as("b"))
    val deduped = Dedup.applyKeepList(lined,
      Dedup.connectedComponents(dupPairs))

    // scrub eval-benchmark collisions (held-out slice plays the suite)
    val bench = raw.filter(col("doc_id") % 97 === 0)
    val decontaminated = Decontaminate.scrub(
      deduped.filter(col("doc_id") % 97 =!= 0), bench, k = 3)

    // per-language length-band outlier drop, then the weighted mix
    val withTokens = decontaminated.withColumn("n_tokens",
      size(TextAnalysis.tokens(col("text"))).cast("long"))
    val banded = CorpusStats.lengthBandFilter(withTokens, "lang",
      "n_tokens", loQ = 0.05, hiQ = 0.95)
    val mixed = Sampling.tokenBudgetMix(banded, "lang",
      Map("en" -> 4000L, "de" -> 2000L, "fr" -> 2000L, "es" -> 2000L,
        "zh" -> 2000L),
      tokenCountCol = "n_tokens", keyCol = "doc_id", salt = "e2e")

    // pack into training examples
    Packing.packByBudget(mixed, "n_tokens", budget = 512,
      keyCol = "doc_id", numBuckets = 4)
      .select("doc_id", "lang", "n_tokens", "bucket", "example_id")
  }

  /** The round-9 additions chained the way a curation run would chain
    * them: fuzzy decontamination → near-dup clusters kept by QUALITY →
    * DSIR importance weighting → per-language weight-band selection. */
  private def runCurationPipeline(): DataFrame = {
    val raw = Tables.documents(spark, sfDir)
    val bench = raw.filter(col("doc_id") % 5 === 3)
    val train = raw.filter(col("doc_id") % 5 =!= 3)

    // paraphrase-level benchmark scrub: LSH candidates, exact-Jaccard
    // verified, contaminated ids dropped id-only
    val fuzzyIds = Decontaminate.fuzzyOverlap(train, bench, threshold = 0.5)
      .select(col("doc_id")).distinct()
    val cleaned = train.join(fuzzyIds, Seq("doc_id"), "left_anti")

    // near-dup clusters keep the LONGEST member, not the lowest id
    val pairs = Dedup.jaccardPairs(cleaned, threshold = 0.3,
      maxShingleDf = Some(1000))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val deduped = Dedup.applyKeepListBest(cleaned,
      Dedup.connectedComponents(pairs),
      TextAnalysis.tokenCount(col("text")).cast("long"))

    // target-likeness weighting (target = the en slice), then keep each
    // language's central weight band — the "more like the target, minus
    // the degenerate tails" selection
    val weighted = deduped.join(
      Dsir.importanceWeights(deduped, deduped.filter(col("lang") === "en"),
        numBuckets = 64),
      Seq("doc_id"))
    CorpusStats.lengthBandFilter(weighted, "lang", "logw_micro",
      loQ = 0.1, hiQ = 0.95)
  }

  test("curation pipeline: fuzzy decon → keep-best dedup → DSIR band") {
    val out = runCurationPipeline()
    val raw = Tables.documents(spark, sfDir)
    val train = raw.filter(col("doc_id") % 5 =!= 3)
    val rows = out.count()
    assert(rows > 0 && rows < train.count())

    // no kept doc is fuzzy-contaminated against the bench slice
    val bench = raw.filter(col("doc_id") % 5 === 3)
    val stillDirty = Decontaminate
      .fuzzyOverlap(out.select("doc_id", "text"), bench, threshold = 0.5)
      .count()
    assert(stillDirty === 0L)

    // keep-best: within every surviving near-dup cluster the kept doc is
    // at least as long as any dropped member — verified on the pair list
    val keptIds = out.select(col("doc_id")).as[Long].collect().toSet
    val cleanedPairs = Dedup.jaccardPairs(
        train.join(Decontaminate.fuzzyOverlap(train, bench, threshold = 0.5)
          .select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti"),
        threshold = 0.3, maxShingleDf = Some(1000))
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    val lens = raw.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    cleanedPairs.foreach { case (a, b) =>
      assert(!(keptIds(a) && keptIds(b)), s"near-dup pair ($a,$b) both kept")
      if (keptIds(a) && !keptIds(b))
        assert(lens(a) >= lens(b), s"kept $a shorter than dropped $b")
      if (keptIds(b) && !keptIds(a))
        assert(lens(b) >= lens(a), s"kept $b shorter than dropped $a")
    }

    // determinism: full chain digest-stable across runs
    def digest(df: DataFrame): String = {
      val cols = df.columns.sorted.map(col)
      df.select(md5(concat_ws("|", cols: _*)).as("h"))
        .agg(md5(concat_ws(",", sort_array(collect_list(col("h"))))))
        .as[String].collect()(0)
    }
    assert(digest(out) === digest(runCurationPipeline()))
  }

  /** The web-crawl front half the round-9 additions enable, chained:
    * URL canonicalization → URL-keyed fetch dedup → mojibake repair →
    * script-profile routing → temperature-flattened language mix →
    * deterministic shard assignment. */
  private def runCrawlPipeline(): DataFrame = {
    val raw = Tables.documents(spark, sfDir)
    // a crawl frame: every doc fetched under a tracking-decorated URL
    // variant (doc_id/2 gives each canonical page exactly two fetch
    // variants); EVEN fetches — the dedup survivors — carry a mojibake
    // suffix, so the repair leg runs on text that actually reaches the
    // output
    val fetched = raw.select(
      col("doc_id").as("fetch_id"), col("lang"),
      concat(lit("https://WWW.site"), (col("doc_id") / lit(2)).cast("long").cast("string"),
        lit(".Example.COM:443/page"),
        when(col("doc_id") % 2 === 0, "?utm_source=feed").otherwise(lit("?ref=tw")))
        .as("url"),
      when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(TextNormalize.asMojibake(" café’s"))))
        .otherwise(col("text")).as("text"))
    val canon = fetched.withColumn("curl", UrlOps.canonicalize(col("url")))
    // fetch dedup: one survivor per canonical URL (lowest fetch_id)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("curl"))
    val kept = canon
      .withColumn("__keep", min(col("fetch_id")).over(w))
      .filter(col("__keep") === col("fetch_id")).drop("__keep")
    // repair encodings, route by script, flatten the language mix, shard
    val repaired = kept.withColumn("text",
      TextNormalize.fixMojibake(col("text")))
    // the corruption reached the survivors, and the repair removed it
    // (artifact strings built with asMojibake, never typed by hand)
    val eAcuteBad = TextNormalize.asMojibake("é")
    assert(kept.filter(col("text").contains(eAcuteBad)).count() > 0)
    assert(repaired.filter(col("text").contains(eAcuteBad)).count() === 0)
    assert(repaired.filter(col("text").endsWith(" café’s")).count()
      === repaired.count())
    val routed = repaired.withColumn("script",
      TextAnalysis.scriptColumns(col("text"))
        .collectFirst { case ("dominant_script", c) => c }.get)
    val mixed = Sampling.temperatureMix(routed, "lang", alpha = 0.5,
      keyCol = "fetch_id", salt = "crawl")
    Packing.shardAssign(mixed, numShards = 8, keyCol = "fetch_id",
      salt = "crawl")
      .select("fetch_id", "lang", "script", "curl", "shard", "pos_in_shard")
  }

  test("crawl pipeline: url dedup → mojibake fix → temperature mix → shards") {
    val out = runCrawlPipeline()
    val raw = Tables.documents(spark, sfDir)
    val n = raw.count()
    val rows = out.count()
    // URL dedup halves the crawl (two variants per canonical page), the
    // temperature mix drops more
    assert(rows > 0 && rows <= n / 2 + 1)
    // every canonical URL is tracking-free and appears exactly once
    val urls = out.select("curl").as[String].collect()
    assert(urls.distinct.length === urls.length)
    assert(urls.forall(u => !u.contains("utm_") && !u.contains("ref=")))
    assert(urls.forall(u => u.startsWith("https://www.site") &&
      !u.contains(":443")))
    // the ASCII corpus routes latin everywhere
    assert(out.select("script").distinct().as[String].collect()
      .toSeq === Seq("latin"))
    // shards balanced to one row and positions contiguous per shard
    val sizes = out.groupBy("shard").count().as[(Int, Long)].collect().toMap
    assert(sizes.values.max - sizes.values.min <= 1)
    // determinism across complete re-runs
    def digest(df: DataFrame): String = {
      val cols = df.columns.sorted.map(col)
      df.select(md5(concat_ws("|", cols: _*)).as("h"))
        .agg(md5(concat_ws(",", sort_array(collect_list(col("h"))))))
        .as[String].collect()(0)
    }
    assert(digest(out) === digest(runCrawlPipeline()))
  }

  test("corpus pipeline composes end-to-end and is deterministic") {
    val out = runPipeline()
    val rows = out.count()
    val raw = Tables.documents(spark, sfDir).count()
    assert(rows > 0 && rows < raw) // stages genuinely dropped outliers/dups

    // stage arithmetic: nothing survives with tokens outside its band,
    // every kept stratum respects its budget
    val perLang = out.groupBy("lang").agg(sum("n_tokens").as("t"))
      .as[(String, Long)].collect().toMap
    assert(perLang("en") <= 4000L)
    assert(perLang.filterNot(_._1 == "en").values.forall(_ <= 2000L))

    // determinism: the full chain is hash-gated/windowed — two complete
    // runs must agree byte-for-byte
    def digest(df: DataFrame): String = {
      val cols = df.columns.sorted.map(col)
      df.select(md5(concat_ws("|", cols: _*)).as("h"))
        .agg(md5(concat_ws(",", sort_array(collect_list(col("h"))))))
        .as[String].collect()(0)
    }
    assert(digest(out) === digest(runPipeline()))

    // interchange round-trip: JSONL out → read back → identical content
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e").toString + "/out"
    CorpusIO.writeJsonl(out, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("example_id",
        org.apache.spark.sql.types.LongType)))
    val (back, dead) = CorpusIO.readJsonl(spark, dir, schema)
    assert(dead.count() === 0)
    assert(digest(back.select(out.columns.map(col): _*)) === digest(out))
  }
}
