package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.CacheProbe
import org.apache.spark.sql.functions._
import graft.config._
import graft.operators.DataPipeline
import graft.sinks.UpsertWriter
import graft.sources.{CorpusIO, FakeData, FormSource}
import graft.streaming.StreamingPipeline
import java.nio.file.Files

/** Sources, sinks, and the streaming wrapper: CSV → canonical form shape,
  * seeded fake data determinism, uuid upsert idempotency, and an end-to-end
  * micro-batch streaming run reusing the batch pipeline. */
object StreamingSpec {
  val exported = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft_test").toString

  test("csv source lands in canonical (uuid, data) shape") {
    val dir = tmpDir()
    Files.writeString(java.nio.file.Paths.get(s"$dir/demo_case.csv"),
      "meta/instanceID,deviceid,gender\nuuid:1,d1,female\nuuid:2,d2,\n")
    val df = FormSource.csv(spark, s"$dir/demo_case.csv")
    val rows = df.select(col("uuid"), element_at(col("data"), "gender"))
      .as[(String, Option[String])].collect().toMap
    assert(rows === Map("uuid:1" -> Some("female"), "uuid:2" -> None))
  }

  test("rate-source fake-data stream equals the batch generator on the same ids") {
    val fields = Map[String, FakeData.FieldKind](
      "gender" -> FakeData.OneOf(Seq("male", "female")),
      "age" -> FakeData.IntRange(0, 99))
    val stream = FakeData.stream(spark, "demo_case", fields,
      rowsPerSecond = 500, seed = 7L)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("fake_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // wait until some rows arrived (rate source is wall-clock driven)
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("fake_stream").isEmpty &&
        System.currentTimeMillis() < deadline) {
        Thread.sleep(200); q.processAllAvailable()
      }
      val streamed = spark.table("fake_stream")
        .select(col("uuid"), element_at(col("data"), "gender"),
          element_at(col("data"), "age"))
        .as[(String, String, String)].collect()
      assert(streamed.nonEmpty)
      val n = streamed.length
      val batch = FakeData.form(spark, "demo_case", fields, n, seed = 7L)
        .select(col("uuid"), element_at(col("data"), "gender"),
          element_at(col("data"), "age"))
        .as[(String, String, String)].collect().toSet
      // rate-source ids are contiguous from 0, so the first n streamed
      // rows are exactly the batch generator's first n rows
      assert(streamed.toSet === batch)
    } finally q.stop()
  }

  test("watermarked threshold stream emits after the watermark and drops late data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(String, Int, java.sql.Timestamp, Map[String, String])]
    val coded = input.toDS().toDF("uuid", "clinic", "date", "variables")
    val q = StreamingPipeline
      .thresholdAlertStream(coded, "cmd_1", limit = 3, watermark = "1 day")
      .writeStream.format("memory").queryName("thr_alerts")
      .outputMode("append").start()
    try {
      input.addData(
        ("u1", 1, ts("2024-01-01 10:00:00"), Map("cmd_1" -> "1")),
        ("u2", 1, ts("2024-01-01 11:00:00"), Map("cmd_1" -> "1")),
        ("u3", 1, ts("2024-01-01 12:00:00"), Map("cmd_1" -> "1")))
      q.processAllAvailable()
      // append mode: the Jan-1 window holds until the watermark passes it
      assert(spark.table("thr_alerts").count() === 0)
      // events 3+ days later advance the watermark beyond the window end
      // (watermark updates at batch commit, so drive two batches)
      input.addData(("w1", 2, ts("2024-01-04 00:00:00"), Map("cmd_1" -> "1")))
      q.processAllAvailable()
      input.addData(("w2", 2, ts("2024-01-04 01:00:00"), Map("cmd_1" -> "1")))
      q.processAllAvailable()
      val rows = spark.table("thr_alerts")
        .select(col("clinic"), col("n")).as[(Int, Long)].collect().toSeq
      assert(rows === Seq((1, 3L)))
      // a LATE Jan-1 event is behind the watermark: dropped, no re-emission
      input.addData(("u4", 1, ts("2024-01-01 13:00:00"), Map("cmd_1" -> "1")))
      q.processAllAvailable()
      assert(spark.table("thr_alerts").count() === 1)
    } finally q.stop()
  }

  test("stateful visit control labels first-seen per identifier across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingPipeline.{VisitEvent, VisitLabel}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[VisitEvent]
    val q = StreamingPipeline.visitControlStream(input.toDS())
      .writeStream.format("memory").queryName("visit_labels")
      .outputMode("append").start()
    try {
      input.addData(VisitEvent("A", "u1", 10L), VisitEvent("A", "u2", 20L))
      q.processAllAvailable()
      // batch 2: an EARLIER visit for A arrives late, and a fresh key B
      input.addData(VisitEvent("A", "u0", 5L), VisitEvent("B", "v1", 1L))
      q.processAllAvailable()
      val out = spark.table("visit_labels")
        .as[VisitLabel].collect().map(l => l.uuid -> l.visit).toMap
      assert(out === Map(
        "u1" -> "new",    // first seen for A in batch 1
        "u2" -> "return", // later ts, same batch
        "u0" -> "new",    // precedes the stored first-visit time
        "v1" -> "new"))   // fresh key
    } finally q.stop()
  }

  test("trained quality classifier scores an unbounded stream statelessly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.QualityModel
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val B = 8
    // model trained ONCE on a static pool; the stream scores under the
    // learned literals — in-row features, no state, append mode
    val pool = Seq(
      (1L, "alpha alpha beta alpha"), (2L, "alpha beta alpha gamma"),
      (3L, "gamma delta delta gamma"), (4L, "delta gamma delta delta"))
      .toDF("doc_id", "text")
    val label = array_contains(
      graft.operators.TextAnalysis.tokens(col("text")), "alpha")
    val w = QualityModel.train(
      QualityModel.features(pool, B, label), B, iters = 12, lr = 4.0)
    val input = MemoryStream[(Long, String)]
    val q = QualityModel.score(
        QualityModel.featuresInRow(input.toDF().toDF("doc_id", "text"),
          B, label), w, B)
      .writeStream.format("memory").queryName("qlr_stream")
      .outputMode("append").start()
    try {
      input.addData((10L, "alpha alpha beta alpha"))
      q.processAllAvailable()
      input.addData((11L, "gamma delta delta gamma"), (12L, "beta alpha alpha beta"))
      q.processAllAvailable()
      val streamed = spark.table("qlr_stream")
        .select("doc_id", "predicted").as[(Long, Boolean)].collect().toMap
      assert(streamed === Map(10L -> true, 11L -> false, 12L -> true))
      // scores equal the batch path over the same text
      val batch = QualityModel.score(
          QualityModel.features(pool, B, label), w, B)
        .select("doc_id", "z_nano").as[(Long, Long)].collect().toMap
      val sz = spark.table("qlr_stream")
        .select("doc_id", "z_nano").as[(Long, Long)].collect().toMap
      assert(sz(10L) === batch(1L)) // identical text -> identical margin
      assert(sz(11L) === batch(3L))
    } finally q.stop()
  }

  test("dsir stateless scoring runs unchanged on an unbounded stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dsir
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val B = 16
    // model trained ONCE on a static pool (target = the spark-y half)
    val pool = Seq(
      (0L, "spark table scan join"), (1L, "der die und ist"),
      (2L, "spark join fast"), (3L, "la de y el"))
      .toDF("doc_id", "text")
    val ratios = Dsir.ratioTable(pool,
      pool.filter(col("doc_id") === 0L || col("doc_id") === 2L),
      numBuckets = B).localCheckpoint(true)
    val input = MemoryStream[(Long, String)]
    val q = Dsir.scoreStateless(input.toDF().toDF("doc_id", "text"), ratios,
        numBuckets = B)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      input.addData((10L, "spark join fast"), (11L, "der die und ist"))
      q.processAllAvailable()
      input.addData((12L, "la de y el"))
      q.processAllAvailable()
      val streamed = spark.table("dsir_stream")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      // scores equal the batch path run over the same texts
      val want = Dsir.importanceWeights(pool,
          pool.filter(col("doc_id") === 0L || col("doc_id") === 2L),
          numBuckets = B)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(streamed(10L) === want(2L)) // same text as pool doc 2
      assert(streamed(11L) === want(1L))
      assert(streamed(12L) === want(3L))
    } finally q.stop()
  }

  test("streaming exact dedup keeps one row per content digest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val stream = input.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingPipeline.dedupStream(stream, "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "same text", ts(10)), (2L, "same text", ts(20)),
        (3L, "other", ts(30)))
      q.processAllAvailable()
      // a duplicate in a LATER batch (inside the watermark) is dropped too
      input.addData((4L, "same text", ts(40)), (5L, "third", ts(50)))
      q.processAllAvailable()
      val out = spark.table("dedup_stream")
        .select("doc_id").as[Long].collect().sorted
      assert(out === Array(1L, 3L, 5L))
    } finally q.stop()
  }

  test("visit control with ttlMs=None labels identically on the legacy state path") {
    // the None path keeps the original single-Long state layout so pre-TTL
    // checkpoints restart unchanged; semantics must match the TTL path
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingPipeline.{VisitEvent, VisitLabel}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[VisitEvent]
    val q = StreamingPipeline.visitControlStream(input.toDS(), ttlMs = None)
      .writeStream.format("memory").queryName("visit_labels_nottl")
      .outputMode("append").start()
    try {
      input.addData(VisitEvent("A", "u1", 10L), VisitEvent("A", "u2", 20L))
      q.processAllAvailable()
      input.addData(VisitEvent("A", "u0", 5L), VisitEvent("B", "v1", 1L))
      q.processAllAvailable()
      val out = spark.table("visit_labels_nottl")
        .as[VisitLabel].collect().map(l => l.uuid -> l.visit).toMap
      assert(out === Map(
        "u1" -> "new", "u2" -> "return", "u0" -> "new", "v1" -> "new"))
    } finally q.stop()
  }

  test("visit-control state expires after event-time TTL and re-arms") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingPipeline.{VisitEvent, VisitLabel}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[VisitEvent]
    val q = StreamingPipeline.visitControlStream(input.toDS(),
      ttlMs = Some(1000L), latenessMs = 0L)
      .writeStream.format("memory").queryName("visit_ttl")
      .outputMode("append").start()
    try {
      input.addData(VisitEvent("A", "u1", 1000L))   // A first seen; deadline 2000
      q.processAllAvailable()
      input.addData(VisitEvent("A", "u2", 1500L))   // activity extends to 2500
      q.processAllAvailable()
      input.addData(VisitEvent("Z", "z1", 5000L))   // advances watermark to 1500
      q.processAllAvailable()
      input.addData(VisitEvent("Z", "z2", 5001L))   // watermark 5000 > 2500: A expires
      q.processAllAvailable()
      input.addData(VisitEvent("A", "u3", 6000L))   // expired key re-arrives
      q.processAllAvailable()
      val out = spark.table("visit_ttl")
        .as[VisitLabel].collect().map(l => l.uuid -> l.visit).toMap
      assert(out === Map(
        "u1" -> "new", "u2" -> "return", // within TTL: normal labeling
        "z1" -> "new", "z2" -> "return",
        "u3" -> "new"))                  // state expired → labeled new again
    } finally q.stop()
  }

  test("queue envelope decode under an unbounded source routes bad messages to dead-letter") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val decoded = FormSource.decodeEnvelopes(input.toDF(), uuidField = "uuid")
    val q = decoded.writeStream.format("memory").queryName("envelopes")
      .outputMode("append").start()
    try {
      input.addData(
        """{"formId":"demo_case","data":{"uuid":"u1","age":"40"}}""",
        """{"formId":"other_form","data":{"uuid":"u2"}}""",
        """this is not json at all""",
        """{"formId":"demo_case"}""",
        """{"formId":"demo_case","data":{"age":"12"}}""")
      q.processAllAvailable()
      val out = spark.table("envelopes")
      val good = FormSource.envelopeRecords(out, "demo_case")
        .collect().map(r => r.getString(0) -> r.getMap[String, String](1)("age"))
      assert(good.toSeq === Seq("u1" -> "40"))
      val dead = FormSource.envelopeDeadLetter(out)
        .collect().map(_.getString(2)).sorted
      assert(dead.toSeq ===
        Seq("malformed envelope", "malformed envelope", "missing uuid field uuid"))
      // the other form's record is well-formed, just not ours
      assert(FormSource.envelopeRecords(out, "other_form").count() === 1)
    } finally q.stop()
  }

  test("text quality scoring and token counting run on an unbounded stream") {
    // the text-analysis surface is pure projections — this spec pins that
    // property: introducing a sort/window into these ops would break
    // unbounded execution and fail here, not in production
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "ts")
    val scored = stream
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("lang", TextAnalysis.predictedLangFromTokens(
        TextAnalysis.tokens(lower(col("text")))))
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 hour"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val q = scored.writeStream.format("memory").queryName("quality_stream")
      .outputMode("update").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
      input.addData(
        (1L, "the cat sat of the mat and the dog", t0),
        (2L, "der hund ist und der ist gut", t0),
        (3L, "the quick brown fox of the farm", t0))
      q.processAllAvailable()
      val out = spark.table("quality_stream")
        .select("lang", "n_docs", "n_tokens")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(out("en") === ((2L, 16L)))
      assert(out("de") === ((1L, 7L)))
    } finally q.stop()
  }

  test("mojibake repair, script profile, url canonicalization and int8 encode stream") {
    // the round's new curation ops are pure projections (mojibake replace
    // chain, script regexp counts, URL canonicalization) or projections
    // over a pre-collected model (scalar-quant encode against fixed stats)
    // — all must run UNCHANGED on an unbounded stream in append mode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{ScalarQuant, TextNormalize, UrlOps}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, String, Seq[Float])]
    val stream = input.toDF().toDF("doc_id", "text", "url", "embedding")
    val mins = Array(0.0, -1.0); val maxes = Array(10.0, 1.0)
    val out = stream.select(
      col("doc_id"),
      TextNormalize.fixMojibake(col("text")).as("fixed"),
      graft.operators.TextAnalysis.scriptColumns(col("text"))
        .collectFirst { case ("dominant_script", c) => c }.get
        .as("script"),
      UrlOps.canonicalize(col("url")).as("curl"),
      ScalarQuant.encodeExpr(col("embedding"), mins, maxes).as("codes"))
    val q = out.writeStream.format("memory").queryName("curation_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, TextNormalize.asMojibake("café"), "HTTP://A.Example.COM:80/x?utm_source=1&b=2", Seq(5.0f, 0.0f)),
        (2L, "чистый текст", "https://b.co.uk/#f", Seq(0.0f, 1.0f)))
      q.processAllAvailable()
      val rows = spark.table("curation_stream")
        .as[(Long, String, String, String, Seq[Int])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(rows(1L) === (("café", "latin", "http://a.example.com/x?b=2", Seq(128, 128))))
      assert(rows(2L) === (("чистый текст", "cyrillic", "https://b.co.uk/", Seq(0, 255))))
    } finally q.stop()
  }

  test("streaming crawl ingest dedups on CANONICAL url against the history sketch") {
    // the incremental-crawl front door: the seen-set is keyed on the
    // canonical URL, so a page refetched under a tracking-decorated or
    // default-port variant is recognized as already crawled — composition
    // of UrlOps.canonicalize (pure projection) with the history Bloom
    // sketch (plan literal, no state store)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{IncrementalDedup, UrlOps}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val history = Seq("https://a.example.com/page", "https://b.example.com/x?q=1")
      .toDF("url").withColumn("curl", UrlOps.canonicalize(col("url")))
    val sk = IncrementalDedup.sketch(history, "curl", expectedItems = 100L)
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("fetch_id", "url")
      .withColumn("curl", UrlOps.canonicalize(col("url")))
    val q = IncrementalDedup.filterUnseen(stream, sk, "curl")
      .writeStream.format("memory").queryName("crawl_dedup")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "HTTPS://A.Example.COM:443/page?utm_source=x"), // seen variant
        (2L, "https://b.example.com/x?q=1&fbclid=z"),        // seen variant
        (3L, "https://c.example.com/new"))                   // genuinely new
      q.processAllAvailable()
      val kept = spark.table("crawl_dedup").select("fetch_id")
        .as[Long].collect().sorted.toSeq
      assert(kept === Seq(3L))
    } finally q.stop()
  }

  test("streaming ingest filters against the corpus-history sketch per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.IncrementalDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the sketch is built ONCE from the batch-side history and embeds in
    // the streaming plan as a literal — per-batch dedup against 100 TB of
    // prior corpus with no state store and no history access at runtime
    val history = Seq((1L, "old doc a"), (2L, "old doc b"))
      .toDF("doc_id", "text").withColumn("digest", md5(col("text")))
    val sk = IncrementalDedup.sketch(history, "digest", expectedItems = 100L)
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
      .withColumn("digest", md5(col("text")))
    val q = IncrementalDedup.filterUnseen(stream, sk, "digest")
      .writeStream.format("memory").queryName("inc_dedup")
      .outputMode("append").start()
    try {
      input.addData((10L, "old doc a"), (11L, "fresh doc"))
      q.processAllAvailable()
      input.addData((12L, "old doc b"), (13L, "another fresh"))
      q.processAllAvailable()
      val kept = spark.table("inc_dedup").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(kept === Seq(11L, 13L))
    } finally q.stop()
  }

  test("queue envelope decode over a live TCP socket transport end-to-end") {
    // S4 with a real unbounded network transport, not a file/memory
    // stand-in: a local server plays the queue (reference
    // consumer/get_data.py:128-165 — a batch of {formId,data} messages,
    // ack = batch completion), Spark's socket source consumes it live,
    // and the same envelope decode splits records from dead letters.
    val server = new java.net.ServerSocket(0)
    val done = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      Seq(
        """{"formId":"demo_case","data":{"meta/instanceID":"su1","age":"30"}}""",
        """definitely not json""",
        """{"formId":"demo_case","data":{"meta/instanceID":"su2","age":"41"}}""")
        .foreach(out.println)
      out.flush()
      // hold the connection open until the query has drained it — EOF
      // mid-read would fail the source, which is not what's under test
      done.await(60, java.util.concurrent.TimeUnit.SECONDS)
      sock.close()
    })
    writer.setDaemon(true)
    writer.start()
    val decoded = FormSource.decodeEnvelopes(
      spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", server.getLocalPort)
        .load())
    val q = decoded.writeStream.format("memory").queryName("sock_envelopes")
      .outputMode("append").start()
    try {
      // socket delivery is asynchronous: poll until all three lines land
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("sock_envelopes").count() < 3 &&
        System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val out = spark.table("sock_envelopes")
      val good = FormSource.envelopeRecords(out, "demo_case")
        .collect().map(r => r.getString(0) -> r.getMap[String, String](1)("age"))
      assert(good.sorted.toSeq === Seq("su1" -> "30", "su2" -> "41"))
      assert(FormSource.envelopeDeadLetter(out)
        .collect().map(_.getString(2)).toSeq === Seq("malformed envelope"))
    } finally {
      done.countDown()
      q.stop()
      server.close()
    }
  }

  test("jsonl corpus io round-trips and dead-letters malformed lines") {
    val dir = tmpDir()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/shard.jsonl"),
      """{"doc_id":1,"text":"alpha","lang":"en","source":"s1"}
        |{"doc_id":2,"text":"beta"}
        |{definitely not json
        |""".stripMargin)
    val (good, dead) = CorpusIO.readJsonl(spark, dir)
    val rows = good.orderBy("doc_id")
      .as[(Long, String, Option[String], Option[String])].collect().toSeq
    // missing metadata stays good with nulls; only unparseable lines fail
    assert(rows === Seq((1L, "alpha", Some("en"), Some("s1")),
      (2L, "beta", None, None)))
    assert(dead.as[String].collect().toSeq === Seq("{definitely not json"))
    // write round-trip with bounded shards
    val out = tmpDir() + "/out"
    CorpusIO.writeJsonl(good, out, maxRecordsPerFile = 1L)
    val (back, dead2) = CorpusIO.readJsonl(spark, out)
    assert(back.orderBy("doc_id").collect().toSeq ===
      good.orderBy("doc_id").collect().toSeq)
    assert(dead2.count() === 0)
    // maxRecordsPerFile honored: 2 rows → at least 2 data files
    val shards = new java.io.File(out).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(shards >= 2)
  }

  test("jdbc source reads a partitioned table into form shape (embedded Derby)") {
    // Derby ships with Spark (hive-metastore dependency), so S3's JDBC scan
    // is testable in-JVM: partitioned read → canonical (uuid, data)
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    // quote identifiers: Derby uppercases bare names, and the column names
    // become the form map's keys verbatim
    st.execute("CREATE TABLE demo_form " +
      "(\"id\" INT, \"uuid\" VARCHAR(20), \"gender\" VARCHAR(10))")
    st.execute("INSERT INTO demo_form VALUES " +
      "(1, 'u1', 'female'), (2, 'u2', 'male'), (3, 'u3', 'female')")
    st.close(); conn.close()
    val df = FormSource.jdbc(spark, url, "demo_form",
      new java.util.Properties(), partitionColumn = "id",
      lowerBound = 0L, upperBound = 10L, numPartitions = 2,
      uuidField = "uuid")
    assert(df.rdd.getNumPartitions === 2) // split predicates on id ranges
    val rows = df.select(col("uuid"), element_at(col("data"), "gender"))
      .as[(String, String)].collect().toMap
    assert(rows === Map("u1" -> "female", "u2" -> "male", "u3" -> "female"))
  }

  test("bucketed tables join without a shuffle or a sort") {
    import graft.sinks.DataWriter
    val left = (1L to 200L).map(i => (i.toString, s"L$i")).toDF("uuid", "lv")
    val right = (1L to 200L).map(i => (i.toString, s"R$i")).toDF("uuid", "rv")
    DataWriter.writeBucketed(left, "bt_left", "uuid", numBuckets = 4)
    DataWriter.writeBucketed(right, "bt_right", "uuid", numBuckets = 4)
    // broadcast would hide the claim under test (small tables always
    // broadcast-join without hashpartitioning Exchanges) — force the
    // sort-merge path in an isolated session sharing the same catalog
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // Spark 3+ only propagates bucket SORT order under this conf (and only
    // with one file per bucket, which writeBucketed guarantees)
    s2.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val joined = s2.table("bt_left").join(s2.table("bt_right"), "uuid")
      assert(joined.count() === 200)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n${plan.take(1000)}")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(1500)}")
      assert(!plan.contains("+- Sort ") && !plan.contains("+- *Sort "),
        s"one-file-per-bucket sorted tables must not re-sort:\n${plan.take(1500)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bt_left")
      spark.sql("DROP TABLE IF EXISTS bt_right")
    }
  }

  test("group-prefix stripping flattens grp./field keys to field") {
    val dir = tmpDir()
    Files.writeString(java.nio.file.Paths.get(s"$dir/grouped.csv"),
      "meta/instanceID,pt./visit_date,intro./module,plain\n" +
        "uuid:1,2016-06-01,ncd,x\n")
    val df = FormSource.stripGroupPrefixes(
      FormSource.csv(spark, s"$dir/grouped.csv"))
    val data = df.select(col("data")).as[Map[String, String]].head()
    assert(data === Map(
      // "meta/instanceID" has no "./" separator, so it passes through
      "meta/instanceID" -> "uuid:1",
      "visit_date" -> "2016-06-01",
      "module" -> "ncd",
      "plain" -> "x"))
  }

  test("fake data generator is deterministic and respects field kinds") {
    val fields = Map[String, FakeData.FieldKind](
      "intro./visit" -> FakeData.OneOf(Seq("new", "return")),
      "pt1./age" -> FakeData.IntRange(0, 120),
      "pt./visit_date" -> FakeData.DateWithin("2016-06-01", 30),
      "patientid" -> FakeData.PatientId(50))
    val a = FakeData.form(spark, "demo_case", fields, 100, seed = 7L)
    val b = FakeData.form(spark, "demo_case", fields, 100, seed = 7L)
    assert(a.collect().toSeq === b.collect().toSeq) // bit-identical rerun
    val ages = a.select(element_at(col("data"), "pt1./age").cast("int"))
      .as[Int].collect()
    assert(ages.forall(x => x >= 0 && x <= 120))
    val visits = a.select(element_at(col("data"), "intro./visit"))
      .as[String].collect().toSet
    assert(visits.subsetOf(Set("new", "return")))
  }

  test("upsert replaces rows by (uuid, type) and keeps the rest") {
    val path = tmpDir() + "/data"
    val v1 = Seq(("u1", "case", "old"), ("u2", "case", "keep"))
      .toDF("uuid", "type", "payload")
    UpsertWriter.upsert(spark, v1, path)
    val v2 = Seq(("u1", "case", "new")).toDF("uuid", "type", "payload")
    UpsertWriter.upsert(spark, v2, path)
    val out = spark.read.parquet(path)
      .select("uuid", "payload").as[(String, String)].collect().toMap
    assert(out === Map("u1" -> "new", "u2" -> "keep"))
  }

  test("upsert into a DataWriter-partitioned store keeps every row the batch does not replace") {
    import graft.sinks.DataWriter
    val path = tmpDir() + "/data"
    val cols = Seq("uuid", "type", "epi_year", "clinic", "date", "payload")
    val history = Seq(
      ("u1", "case", 2015, "c1", "2015-01-05", "old"),
      ("u2", "case", 2015, "c1", "2015-01-06", "keep"),
      ("u3", "case", 2016, "c2", "2016-02-01", "keep"),
      ("u1", "alert", 2015, "c1", "2015-01-05", "keep")).toDF(cols: _*)
    DataWriter.write(history, path)
    val batch = Seq(
      ("u1", "case", 2015, "c1", "2015-01-05", "new"),
      ("u4", "case", 2016, "c2", "2016-02-02", "new")).toDF(cols: _*)
    UpsertWriter.upsert(spark, batch, path)
    val out = spark.read.parquet(path).select("uuid", "type", "payload")
      .as[(String, String, String)].collect()
    assert(out.sorted.toSeq === Seq(
      ("u1", "alert", "keep"), ("u1", "case", "new"), ("u2", "case", "keep"),
      ("u3", "case", "keep"), ("u4", "case", "new")))
    // the store keeps DataWriter's layout: every partition directory is
    // still there and no parquet file sits at the top
    for (part <- Seq("type=case/epi_year=2015", "type=case/epi_year=2016",
                     "type=alert/epi_year=2015"))
      assert(new java.io.File(s"$path/$part").isDirectory, s"$part is gone")
    val top = new java.io.File(path).listFiles().map(_.getName)
    assert(!top.exists(_.endsWith(".parquet")), top.mkString(", "))
  }

  test("upsert crash-safety: a failed stage write leaves the live store intact and a retry converges") {
    val path = tmpDir() + "/store"
    val v1 = Seq(("u1", "case", "v1"), ("u2", "case", "v1"))
      .toDF("uuid", "type", "payload")
    UpsertWriter.upsert(spark, v1, path)
    // inject a mid-write executor failure: raise_error fires while the
    // STAGE directory is being written, before any swap — the shape of a
    // codec/disk fault killing the job between stage and promote
    val bad = Seq(("u2", "case", "v2"), ("u3", "case", "v2"))
      .toDF("uuid", "type", "payload")
      .withColumn("payload", when(col("uuid") === "u3",
        raise_error(lit("injected write failure"))).otherwise(col("payload")))
    intercept[Exception] { UpsertWriter.upsert(spark, bad, path) }
    // recovery contract 1: the live store never saw the failed batch
    val after = spark.read.parquet(path)
      .select("uuid", "payload").as[(String, String)].collect().toMap
    assert(after === Map("u1" -> "v1", "u2" -> "v1"))
    // recovery contract 2: a plain retry (stale .tmp leftovers and all)
    // converges to the merged state
    val good = Seq(("u2", "case", "v2"), ("u3", "case", "v2"))
      .toDF("uuid", "type", "payload")
    UpsertWriter.upsert(spark, good, path)
    val healed = spark.read.parquet(path)
      .select("uuid", "payload").as[(String, String)].collect().toMap
    assert(healed === Map("u1" -> "v1", "u2" -> "v2", "u3" -> "v2"))
  }

  test("upsert heals a swap interrupted between move-aside and promote") {
    val path = tmpDir() + "/store"
    val v1 = Seq(("u1", "case", "v1")).toDF("uuid", "type", "payload")
    UpsertWriter.upsert(spark, v1, path)
    // simulate the crash window: the live dir was moved aside but the
    // promote never happened — the store exists only as the aside artifact
    val dir = new java.io.File(path)
    assert(dir.renameTo(new java.io.File(dir.getParentFile, "_old_" + dir.getName)))
    val v2 = Seq(("u2", "case", "v2")).toDF("uuid", "type", "payload")
    UpsertWriter.upsert(spark, v2, path)
    // without recovery this would have treated the store as FRESH and
    // dropped u1's history
    val out = spark.read.parquet(path)
      .select("uuid", "payload").as[(String, String)].collect().toMap
    assert(out === Map("u1" -> "v1", "u2" -> "v2"))
  }

  test("upsert over a DataWriter store: a moved epi_year, a null epi_year and an empty batch") {
    import graft.sinks.DataWriter
    val path = tmpDir() + "/data"
    val cols = Seq("uuid", "type", "epi_year", "clinic", "date", "payload")
    val history = Seq(
      ("u1", "case", Some(2015), "c1", "2015-12-30", "old"),
      ("u2", "case", Some(2016), "c1", "2016-01-06", "keep"),
      ("u3", "case", Option.empty[Int], "c2", "not a date", "old")).toDF(cols: _*)
    DataWriter.write(history, path)
    def rows() = spark.read.parquet(path)
      .select("uuid", "type", "epi_year", "payload")
      .as[(String, String, Option[Int], String)].collect().sorted.toSeq
    val before = rows()
    // an empty batch leaves the store as it was
    UpsertWriter.upsert(spark, history.limit(0), path)
    assert(rows() === before)
    // u1's corrected visit date moves it to 2016; u3 (null epi_year, the
    // partition of unparseable dates) is re-submitted
    val batch = Seq(
      ("u1", "case", Some(2016), "c1", "2016-01-02", "new"),
      ("u3", "case", Option.empty[Int], "c2", "still not a date", "new")).toDF(cols: _*)
    UpsertWriter.upsert(spark, batch, path)
    assert(rows() === Seq(
      ("u1", "case", Some(2016), "new"), ("u2", "case", Some(2016), "keep"),
      ("u3", "case", None, "new")))
  }

  test("streaming foreachBatch reuses the batch pipeline and upserts") {
    val inDir = tmpDir()
    val dataPath = tmpDir() + "/data"
    val disregardedPath = tmpDir() + "/dis"
    val cfg = DataPipeline.EngineConfig(
      dataTypes = Seq(DataTypeDef("case", "demo_case", None, None,
        "pt./visit_date", "tot_1")),
      codes = Seq(CodeDef(id = "gen_1", typ = "case", method = "match",
        dbColumn = "gender", condition = "female"),
        // a test record that raises an individual alert is disregarded
        CodeDef(id = "cmd_1", typ = "case", method = "match",
          dbColumn = "icd_code", condition = "A80.9", alert = true,
          alertType = "individual"),
        CodeDef(id = "dis_1", typ = "case", method = "match",
          dbColumn = "test_record", condition = "yes", disregard = true)),
      locations = Seq(
        LocationNode(1, "Demo", "country", 0),
        LocationNode(4, "Clinic 1", "clinic", 1, deviceIds = Seq("d1"))))

    Files.writeString(java.nio.file.Paths.get(s"$inDir/batch1.csv"),
      "meta/instanceID,deviceid,gender,pt./visit_date,icd_code,test_record\n" +
        "uuid:1,d1,female,2016-04-17,,\nuuid:2,d1,male,2016-04-18,,\n" +
        "uuid:3,d1,male,2016-04-18,A80.9,yes\n")
    val schemaRef = spark.read.option("header", "true").csv(s"$inDir/batch1.csv")
    val stream = FormSource.csvStream(spark, inDir, schemaRef)
    val cachedBefore = CacheProbe.entries(spark)
    val q = StreamingPipeline.start(spark, stream, "demo_case", cfg,
      dataPath, disregardedPath, tmpDir() + "/ckpt")
    q.awaitTermination(60000)
    assert(q.exception.isEmpty)
    // no micro-batch leaves a cache entry behind
    assert(CacheProbe.entries(spark) === cachedBefore)

    val out = spark.read.parquet(dataPath)
      .select(col("uuid"), element_at(col("variables"), "gen_1"))
      .as[(String, Option[String])].collect().toMap
    assert(out === Map("uuid:1" -> Some("1"), "uuid:2" -> None))
    val disregarded = spark.read.parquet(disregardedPath)
      .select("uuid").as[String].collect().toSeq
    assert(disregarded === Seq("uuid:3"))
  }

  test("queue envelopes drive the full pipeline; bad messages quarantine") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dataPath = tmpDir() + "/data"
    val quarantinePath = tmpDir() + "/dead"
    val cfg = DataPipeline.EngineConfig(
      dataTypes = Seq(DataTypeDef("case", "demo_case", None, None,
        "pt./visit_date", "tot_1")),
      codes = Seq(CodeDef(id = "gen_1", typ = "case", method = "match",
        dbColumn = "gender", condition = "female")),
      locations = Seq(
        LocationNode(1, "Demo", "country", 0),
        LocationNode(4, "Clinic 1", "clinic", 1, deviceIds = Seq("d1"))))
    val input = MemoryStream[String]
    // data must be available BEFORE start: the pipeline runs with
    // Trigger.AvailableNow, which drains what exists and terminates
    input.addData(
      """{"formId":"demo_case","data":{"meta/instanceID":"uuid:1","deviceid":"d1","gender":"female","pt./visit_date":"2016-04-17"}}""",
      """{"formId":"demo_case","data":{"meta/instanceID":"uuid:2","deviceid":"d1","gender":"male","pt./visit_date":"2016-04-18"}}""",
      """broken json {{""")
    val decoded = FormSource.decodeEnvelopes(input.toDF())
    val q1 = StreamingPipeline.start(spark,
      FormSource.envelopeRecords(decoded, "demo_case"), "demo_case", cfg,
      dataPath, tmpDir() + "/dis", tmpDir() + "/ckpt1")
    val q2 = FormSource.envelopeDeadLetter(decoded).writeStream
      .option("checkpointLocation", tmpDir() + "/ckpt2")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        UpsertWriter.quarantine(batch, quarantinePath, "bad envelope")
      }.start()
    try {
      q1.awaitTermination(60000); q2.processAllAvailable()
      val out = spark.read.parquet(dataPath)
        .select(col("uuid"), element_at(col("variables"), "gen_1"))
        .as[(String, Option[String])].collect().toMap
      assert(out === Map("uuid:1" -> Some("1"), "uuid:2" -> None))
      val dead = spark.read.parquet(quarantinePath)
      assert(dead.count() === 1)
    } finally { q1.stop(); q2.stop() }
  }

  test("export sink streams the data dir incrementally with checkpointing") {
    val dataPath = tmpDir() + "/data"
    Seq(("u1", "case"), ("u2", "case")).toDF("uuid", "type")
      .write.parquet(dataPath)
    StreamingSpec.exported.clear()
    // collecting stub stands in for the HTTP POST; static holder because the
    // closure is serialized to the (same-JVM) executor threads
    val q = graft.sinks.ExportSink.start(spark, dataPath, tmpDir() + "/ckpt",
      rows => rows.foreach(r => StreamingSpec.exported.add(r.getString(0))))
    q.awaitTermination(60000)
    assert(StreamingSpec.exported.size() === 2)
  }

  test("alert notifier fans recent individual alerts out per level topic") {
    val data = Seq(
      ("u1", 4, 3, "2016-04-17", Map("alert" -> "1", "alert_type" -> "individual",
        "alert_reason" -> "cmd_1")),
      ("u2", 4, 3, "2016-01-01", Map("alert" -> "1", "alert_type" -> "individual",
        "alert_reason" -> "cmd_1")), // older than 7 days → suppressed
      ("u3", 4, 3, "2016-04-17", Map("tot_1" -> "1")))
      .toDF("uuid", "clinic", "district", "d", "variables")
      .withColumn("date", col("d").cast("timestamp")).drop("d")
    val notif = graft.sinks.AlertNotifier.notifications(data, asOf = "2016-04-20",
      levels = Seq("clinic", "district"))
    val out = notif.select("topic", "uuid").as[(String, String)].collect().toSet
    assert(out === Set(
      ("clinic-4-cmd_1", "u1"), ("district-3-cmd_1", "u1")))
    // alert_message is level-free: identical on every row of the alert
    val msgs = notif.select("alert_message").distinct().as[String].collect()
    assert(msgs.toSeq === Seq("Alert cmd_1 at clinic 4 on 2016-04-17"))
  }

  /** A tiny in-JVM HTTP endpoint collecting (method, body) pairs. */
  private def withHttpServer[T](status: Int = 200)(
      f: (String, java.util.concurrent.ConcurrentLinkedQueue[(String, String)]) => T): T = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      received.add(ex.getRequestMethod -> body)
      val resp = "ok".getBytes
      ex.sendResponseHeaders(status, resp.length)
      val os = ex.getResponseBody
      os.write(resp); os.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/publish", received)
    finally server.stop(0)
  }

  test("alert publisher PUTs one JSON body per alert to a live HTTP endpoint") {
    // shaped like AlertNotifier.notifications: per-level message AND the
    // level-free alert_message the body must carry — a per-level message
    // in the shared body would reach other levels' subscribers wrong
    val notifications = Seq(
      ("clinic-4-cmd_1", "u1", "Alert cmd_1 at 4 on 2016-04-17",
        "Alert cmd_1 at clinic 4 on 2016-04-17"),
      ("district-3-cmd_1", "u1", "Alert cmd_1 at 3 on 2016-04-17",
        "Alert cmd_1 at clinic 4 on 2016-04-17"),
      ("clinic-9-cmd_2", "u2", "Alert cmd_2 at 9 on 2016-04-18",
        "Alert cmd_2 at clinic 9 on 2016-04-18"))
      .toDF("topic", "uuid", "message", "alert_message")
    withHttpServer() { (endpoint, received) =>
      graft.sinks.AlertNotifier.publish(notifications, endpoint,
        sender = "abacus-test", headers = Map("authorization" -> "Bearer k"))
      val got = received.toArray(Array.empty[(String, String)]).toSeq
      assert(got.map(_._1).distinct === Seq("PUT"))
      val bodies = got.map(_._2).sorted
      assert(bodies.length === 2) // one publish per alert, not per topic
      assert(bodies.exists(b =>
        b.contains("\"id\":\"u1\"") &&
          b.contains("\"topics\":[\"clinic-4-cmd_1\",\"district-3-cmd_1\"]") &&
          b.contains("\"from\":\"abacus-test\"") &&
          b.contains("\"message\":\"Alert cmd_1 at clinic 4 on 2016-04-17\"")))
      assert(bodies.exists(b =>
        b.contains("\"id\":\"u2\"") && b.contains("clinic-9-cmd_2")))
    }
  }

  test("http publisher fails within readTimeout on an accept-then-stall endpoint") {
    // a raw socket that accepts the connection and reads the request but
    // NEVER responds — the half-open shape that hangs a task forever when
    // timeouts are left at HttpURLConnection's infinite defaults
    val server = new java.net.ServerSocket(0)
    val stall = new Thread(() => {
      try {
        val s = server.accept()
        val in = s.getInputStream
        while (in.read() != -1) () // drain until the client gives up
      } catch { case _: Throwable => () }
    })
    stall.setDaemon(true)
    stall.start()
    try {
      val poster = graft.sinks.HttpPublisher.jsonPoster(
        s"http://127.0.0.1:${server.getLocalPort}/publish", "PUT",
        connectTimeoutMs = 2000, readTimeoutMs = 500)
      val t0 = System.nanoTime()
      intercept[java.net.SocketTimeoutException] { poster(Iterator("{}")) }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // the failure lands into the at-least-once retry path promptly —
      // generous bound, but orders of magnitude under "hangs forever"
      assert(elapsed < 10.0,
        f"stalled endpoint took $elapsed%.1f s to fail — readTimeout not enforced")
    } finally server.close()
  }

  test("alert publisher surfaces non-2xx responses as task failures") {
    val notifications = Seq(("t", "u", "m")).toDF("topic", "uuid", "message")
    withHttpServer(status = 500) { (endpoint, _) =>
      val e = intercept[Exception] {
        graft.sinks.AlertNotifier.publish(notifications, endpoint, "s")
      }
      // at-least-once: the failure must propagate (task retry), not vanish
      assert(e.getMessage != null)
    }
  }

  test("json export sink POSTs each exported row with checkpointed resume") {
    val dataDir = tmpDir()
    val ckpt = tmpDir()
    Seq(("a", 1L), ("b", 2L)).toDF("uuid", "n")
      .write.mode("append").parquet(dataDir)
    withHttpServer() { (endpoint, received) =>
      val q1 = graft.sinks.ExportSink.startJsonHttp(spark, dataDir, ckpt, endpoint)
      q1.awaitTermination()
      val first = received.toArray(Array.empty[(String, String)]).toSeq
      assert(first.map(_._1).distinct === Seq("POST"))
      assert(first.map(_._2).count(_.contains("\"uuid\":\"a\"")) === 1)
      assert(first.size === 2)
      // new rows only on resume — the offset log is the export marker
      Seq(("c", 3L)).toDF("uuid", "n").write.mode("append").parquet(dataDir)
      val q2 = graft.sinks.ExportSink.startJsonHttp(spark, dataDir, ckpt, endpoint)
      q2.awaitTermination()
      val all = received.toArray(Array.empty[(String, String)]).toSeq
      assert(all.size === 3)
      assert(all.map(_._2).count(_.contains("\"uuid\":\"c\"")) === 1)
    }
  }

  test("step monitor records query executions like step_monitoring") {
    val m = graft.monitoring.StepMonitor.install(spark)
    Seq(1, 2, 3).toDF("x").count()
    // listener delivery is async; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (m.snapshot.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(m.snapshot.nonEmpty)
    assert(m.toDF(spark).columns.toSeq ===
      Seq("step", "start_ms", "duration_ms", "error"))
  }

  test("sessionize groups events within the gap") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 10:10:00"),
      (1L, "2024-01-01 11:30:00"), // > 30 min later → new session
      (2L, "2024-01-01 09:00:00"))
      .toDF("user_id", "t").withColumn("ts", col("t").cast("timestamp")).drop("t")
    val out = graft.operators.Sessionize.sessions(ev, "user_id", "ts", "30 minutes")
      .orderBy("user_id", "session_start")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("data writer lays out partitions by (type, epi_year) with pruning") {
    val path = tmpDir() + "/data"
    val data = Seq(
      ("u1", "case", 2016, 4, "2016-01-05"),
      ("u2", "case", 2017, 4, "2017-01-05"),
      ("u3", "register", 2016, 5, "2016-02-01"))
      .toDF("uuid", "type", "epi_year", "clinic", "d")
      .withColumn("date", col("d").cast("timestamp")).drop("d")
    graft.sinks.DataWriter.write(data, path)
    val back = graft.sinks.DataWriter.read(spark, path)
    assert(back.count() === 3)
    val pruned = back.filter(col("type") === "case" && col("epi_year") === 2016)
    // partition pruning visible in the scan's partition filters
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("epi_year") && pruned.count() === 1)
  }

  test("quarantine dead-letters records with a reason") {
    val path = tmpDir() + "/failures"
    UpsertWriter.quarantine(Seq(("u1", "bad date")).toDF("uuid", "raw"),
      path, "unparseable_date")
    val out = spark.read.parquet(path).select("uuid", "error")
      .as[(String, String)].head()
    assert(out === (("u1", "unparseable_date")))
  }

  test("ccnet buckets label an unbounded stream under batch-fitted model and cuts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.LanguageModel
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // calibration corpus: two languages, three docs each, clearly ranked
    // model-likeness within each (repeated bigrams score as head)
    val pool = Seq(
      (1L, "en", "the cat sat on the mat the cat sat"),
      (2L, "en", "the cat sat on a rug"),
      (3L, "en", "zebra quark votes lamp iron"),
      (4L, "fr", "le chat dort le chat dort le chat"),
      (5L, "fr", "le chat mange ici pour"),
      (6L, "fr", "xylo brume givre onze tard"))
      .toDF("doc_id", "lang", "text")
    val model = LanguageModel.ngramCounts(pool).localCheckpoint(true)
    val cuts = LanguageModel.perplexityCuts(pool, model).localCheckpoint(true)
    val want = LanguageModel.perplexityBuckets(pool, model)
      .as[(Long, String, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val input = MemoryStream[(Long, String, String)]
    val q = LanguageModel.bucketsStateless(
        input.toDF().toDF("doc_id", "lang", "text"), model, cuts)
      .writeStream.format("memory").queryName("ccnet_stream")
      .outputMode("append").start()
    try {
      input.addData((10L, "en", "the cat sat on the mat the cat sat"),
        (11L, "en", "zebra quark votes lamp iron"))
      q.processAllAvailable()
      input.addData((12L, "fr", "le chat dort le chat dort le chat"))
      q.processAllAvailable()
      val streamed = spark.table("ccnet_stream")
        .select("doc_id", "lang", "ppx", "bucket")
        .as[(Long, String, Double, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // identical text -> identical ppx AND identical bucket vs batch
      assert(streamed(10L) === want(1L))
      assert(streamed(11L) === want(3L))
      assert(streamed(12L) === want(4L))
    } finally q.stop()
  }

  test("boilerplate scrub strips batch-fitted site templates on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextNormalize
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // site a: "cookie banner" on every page (template); site b: too small
    val pool = Seq(
      (1L, "a", "cookie banner\nreal content one"),
      (2L, "a", "cookie banner\nreal content two"),
      (3L, "a", "cookie banner\nmore text"),
      (4L, "a", "cookie banner\nunrelated"),
      (5L, "a", "cookie banner"),
      (6L, "b", "cookie banner\nsmall site"))
      .toDF("doc_id", "source", "text")
    val templates = TextNormalize.boilerplateTemplates(pool,
      maxDocShare = 0.5, minDomainDocs = 5).localCheckpoint(true)
    val want = TextNormalize.scrubBoilerplate(pool,
        maxDocShare = 0.5, minDomainDocs = 5)
      .as[(Long, String, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    val input = MemoryStream[(Long, String, String)]
    val q = TextNormalize.scrubBoilerplateStateless(
        input.toDF().toDF("doc_id", "source", "text"), templates)
      .writeStream.format("memory").queryName("boiler_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "a", "cookie banner\nreal content one"),
        (5L, "a", "cookie banner"))
      q.processAllAvailable()
      input.addData((6L, "b", "cookie banner\nsmall site"),
        (7L, "a", "cookie banner\nfresh page")) // fresh content, frozen fit
      q.processAllAvailable()
      val streamed = spark.table("boiler_stream")
        .as[(Long, String, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
      assert(streamed(1L) === want(1L)) // template stripped
      assert(streamed(5L) === want(5L)) // all-template doc -> empty text
      assert(streamed(6L) === want(6L)) // small domain exempt
      assert(streamed(7L) === (("fresh page", 2L, 1L)))
    } finally q.stop()
  }

  test("stateless epoch order keys reproduce the batch per-stratum permutation on a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Packing
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pool = (1L to 40L).map(i => (i, if (i % 3 == 0) "de" else "en"))
      .toDF("doc_id", "lang")
    val batchOrder = Packing.epochInterleave(pool, strataCol = "lang",
        keyCol = "doc_id", salt = "ep")
      .as[(Long, String, Long, Double)].collect()
      .groupBy(_._2)
      .map { case (l, rs) => l -> rs.sortBy(_._3).map(_._1).toSeq }
    val input = MemoryStream[(Long, String)]
    val q = Packing.epochOrderStateless(
        input.toDF().toDF("doc_id", "lang"), keyCol = "doc_id", salt = "ep")
      .writeStream.format("memory").queryName("epoch_stream")
      .outputMode("append").start()
    try {
      val (half1, half2) = (1L to 40L).map(i =>
        (i, if (i % 3 == 0) "de" else "en")).splitAt(20)
      input.addData(half1: _*)
      q.processAllAvailable()
      input.addData(half2: _*)
      q.processAllAvailable()
      val streamedOrder = spark.table("epoch_stream")
        .as[(Long, String, Double)].collect()
        .groupBy(_._2)
        .map { case (l, rs) =>
          l -> rs.sortBy(r => (r._3, r._1)).map(_._1).toSeq }
      // sorting the drained stream by (order_key, key) per stratum gives
      // EXACTLY the batch epoch_rank permutation (same draw both sides)
      assert(streamedOrder === batchOrder)
    } finally q.stop()
  }

  test("span corruption and fill-in-middle run on an unbounded stream ≡ batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{FillInMiddle, SpanCorruption}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, ""), (2L, "one"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    // batch references: the WINDOWED corrupt and the projection FIM
    val batchDf = rows.toDF("doc_id", "text")
    val wantSpan = SpanCorruption.corrupt(batchDf, spanStartProb = 0.3,
      spanLen = 2).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3)))
      .toMap
    val wantFim = FillInMiddle.transform(batchDf, fimRate = 0.7).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q1 = SpanCorruption.corruptStateless(stream, spanStartProb = 0.3,
        spanLen = 2)
      .writeStream.format("memory").queryName("span_stream")
      .outputMode("append").start()
    val q2 = FillInMiddle.transform(stream, fimRate = 0.7)
      .writeStream.format("memory").queryName("fim_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(2): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      val gotSpan = spark.table("span_stream").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3)))
        .toMap
      assert(gotSpan === wantSpan)
      val gotFim = spark.table("fim_stream").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
      assert(gotFim === wantFim)
    } finally { q1.stop(); q2.stop() }
  }

  test("composed corpus stream: canonicalize→repair→langid→gopher→decontaminate→scrub→buckets→epoch ≡ batch chain") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Decontaminate, LanguageModel, Packing,
      TextAnalysis, TextNormalize, UrlOps}
    import graft.streaming.CorpusStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def u(d: String) = s"https://www.$d.com/p/x"
    val banner = "the cookie banner of the site"
    // alpha-site: 4 docs share the banner line (template at share 0.5);
    // d4 is ALL template (scrubs to empty -> dropped at the bucket stage
    // on both sides); d5 fails Gopher (too short); d6 carries mojibake
    // the repair stage must fix before anything downstream hashes it;
    // d7 leaks the benchmark verbatim (contamination 1.0 -> dropped);
    // beta-site has only 2 docs (under minDomainDocs -> scrub exempt)
    // declared fr for a second epoch/cuts stratum.
    val pool = Seq(
      (1L, "en", u("alpha-site"), s"$banner\nthe cat sat on the mat and slept well"),
      (2L, "en", u("alpha-site"), s"$banner\nthe dog ran to the park and came home"),
      (3L, "en", u("alpha-site"), s"$banner\nthe bird flew of the nest and sang songs"),
      (4L, "en", u("alpha-site"), banner),
      (5L, "en", u("alpha-site"), "xy zz"),
      (6L, "en", u("beta-site"), "the rain held and the grass grew fast" +
        TextNormalize.asMojibake(" café")),
      (7L, "en", u("beta-site"), "the secret answer is forty two and the test leaks here"),
      (8L, "fr", u("beta-site"), "the quick fox ran to the field and then home"),
      (9L, "fr", u("beta-site"), "the small bird is of the tree and that song"))
      .toDF("doc_id", "lang", "url", "text")
    val bench = Seq(
      (100L, "the secret answer is forty two and the test leaks here exactly"))
      .toDF("doc_id", "text")
    // ——— the BATCH chain, stage by stage with the batch operators
    val fixed = pool.select(col("doc_id"), col("lang"),
      UrlOps.registeredDomain(UrlOps.host(col("url"))).as("domain"),
      TextNormalize.fixMojibake(col("text")).as("text"))
    val langed = fixed.withColumn("plang",
      TextAnalysis.predictedLang(col("text")))
    val keepIds = TextAnalysis.gopherRules(fixed, minWords = 3, maxWords = 40)
      .filter(col("gopher_keep")).select("doc_id")
    val pool2 = langed.join(keepIds, Seq("doc_id")).localCheckpoint(true)
    val contIds = Decontaminate.overlap(pool2, bench, k = 3)
      .filter(col("contamination") >= 0.2).select("doc_id")
    val clean = pool2.join(contIds, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val fits = CorpusStream.fit(clean, bench, k = 3,
      maxDocShare = 0.5, minDomainDocs = 3)
    val scrubbedB = TextNormalize.scrubBoilerplate(clean,
        maxDocShare = 0.5, minDomainDocs = 3, domainCol = "domain")
      .join(clean.select(col("doc_id"), col("lang"), col("plang")),
        Seq("doc_id"))
    val bucketedB = LanguageModel.perplexityBuckets(scrubbedB, fits.lmModel)
    val want = bucketedB
      .join(scrubbedB.select(col("doc_id"), col("domain"), col("plang"),
        col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("domain"), col("lang"), col("plang"),
        col("text"), col("ppx"), col("bucket"))
      .as[(Long, String, String, String, String, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    val epochOrder = Packing.epochInterleave(
        bucketedB.select(col("doc_id"), col("lang")),
        strataCol = "lang", keyCol = "doc_id", salt = "cs")
      .as[(Long, String, Long, Double)].collect()
      .groupBy(_._2).map { case (l, rs) => l -> rs.sortBy(_._3).map(_._1).toSeq }
    assert(want.keySet === Set(1L, 2L, 3L, 6L, 8L, 9L)) // the designed survivors
    // ——— the STREAM: same raw docs across two micro-batches
    val input = MemoryStream[(Long, String, String, String)]
    val q = CorpusStream.curate(
        input.toDF().toDF("doc_id", "lang", "url", "text"), fits, k = 3,
        minWords = 3, maxWords = 40, contaminationMax = 0.2, epochSalt = "cs")
      .writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append").start()
    try {
      val rows = pool.as[(Long, String, String, String)].collect().toSeq
      val (b1, b2) = rows.partition(_._1 <= 4L)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("corpus_stream")
        .select(col("doc_id"), col("domain"), col("lang"), col("plang"),
          col("text"), col("ppx"), col("bucket"), col("order_key"))
        .as[(Long, String, String, String, String, Double, String, Double)]
        .collect()
      // row-for-row identical to the batch chain on every curated column
      assert(got.map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7)))
        .toMap === want)
      // and sorting the drained stream per stratum reproduces the batch
      // epoch permutation (the epochOrderStateless contract, end of chain)
      val gotOrder = got.groupBy(_._3).map { case (l, rs) =>
        l -> rs.sortBy(r => (r._8, r._1)).map(_._1).toSeq }
      assert(gotOrder === epochOrder)
    } finally q.stop()
    // ——— the SAMPLE-PREP tier chains onto the curated stream as the
    // same append-mode plan (no state store anywhere): curate →
    // span-corruption twin → fill-in-middle over the corrupted input.
    // Fresh MemoryStream: a committed query PURGES its batches, so the
    // first chain's input cannot be replayed by a second query.
    import graft.operators.{FillInMiddle, SpanCorruption}
    val input2 = MemoryStream[(Long, String, String, String)]
    val q2 = FillInMiddle.transform(
        SpanCorruption.corruptStateless(
          CorpusStream.curate(
            input2.toDF().toDF("doc_id", "lang", "url", "text"), fits,
            k = 3, minWords = 3, maxWords = 40, contaminationMax = 0.2,
            epochSalt = "cs").select(col("doc_id"), col("text")),
          spanStartProb = 0.3, spanLen = 2)
          .select(col("doc_id"), col("input").as("text")),
        fimRate = 0.6)
      .writeStream.format("memory").queryName("corpus_prep_stream")
      .outputMode("append").start()
    try {
      val rows = pool.as[(Long, String, String, String)].collect().toSeq
      val (b1, b2) = rows.partition(_._1 <= 4L)
      input2.addData(b1: _*)
      q2.processAllAvailable()
      input2.addData(b2: _*)
      q2.processAllAvailable()
      val gotPrep = spark.table("corpus_prep_stream")
        .select(col("doc_id"), col("fim"), col("text_fim"))
        .as[(Long, Boolean, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val batchPrep = FillInMiddle.transform(
          SpanCorruption.corruptStateless(
            want.toSeq.map { case (id, t) => (id, t._4) }
              .toDF("doc_id", "text"),
            spanStartProb = 0.3, spanLen = 2)
            .select(col("doc_id"), col("input").as("text")),
          fimRate = 0.6)
        .select(col("doc_id"), col("fim"), col("text_fim"))
        .as[(Long, Boolean, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(gotPrep === batchPrep)
      assert(gotPrep.keySet === want.keySet)
    } finally q2.stop()
  }

  test("composed corpus stream over the live TCP transport survives kill-and-resume") {
    // The production arrangement end to end: queue envelopes arrive over a
    // real unbounded network transport (socket source), the same envelope
    // decode that serves S4 splits records out, the full composed curation
    // chain (CorpusStream.curate under batch fits) runs as ONE append-mode
    // plan, and the idempotent upsert sink absorbs redelivery ACROSS a
    // mid-stream kill. A non-replayable transport CANNOT resume a Spark
    // checkpoint (verified: restart fails with "Offsets committed out of
    // order: 3 followed by -1" — the socket source restarts at -1), which
    // is exactly the reference's queue contract (consumer/get_data.py:
    // 128-165): recovery comes from the QUEUE redelivering unacked
    // messages and the consumer landing them idempotently, not from
    // source offsets. So the resumed query gets a FRESH checkpoint, the
    // server redelivers the in-flight envelope from before the kill, and
    // the doc_id-keyed upsert (S7) makes the store exactly-once anyway.
    // The MemoryStream twin spec pins stream ≡ batch row-for-row; this
    // spec pins the transport + recovery story.
    import graft.operators.{Decontaminate, TextAnalysis, TextNormalize, UrlOps}
    import graft.streaming.CorpusStream
    def u(d: String) = s"https://www.$d.com/p/x"
    val banner = "the cookie banner of the site"
    // same designed corpus as the MemoryStream twin (survivors 1,2,3,6,8,9),
    // minus the mojibake fixture: the socket transport's charset is the
    // JVM default, and byte-exact non-ASCII delivery is the repair spec's
    // concern, not recovery's
    val pool = Seq(
      (1L, "en", u("alpha-site"), s"$banner\nthe cat sat on the mat and slept well"),
      (2L, "en", u("alpha-site"), s"$banner\nthe dog ran to the park and came home"),
      (3L, "en", u("alpha-site"), s"$banner\nthe bird flew of the nest and sang songs"),
      (4L, "en", u("alpha-site"), banner),
      (5L, "en", u("alpha-site"), "xy zz"),
      (6L, "en", u("beta-site"), "the rain held and the grass grew fast today"),
      (7L, "en", u("beta-site"), "the secret answer is forty two and the test leaks here"),
      (8L, "fr", u("beta-site"), "the quick fox ran to the field and then home"),
      (9L, "fr", u("beta-site"), "the small bird is of the tree and that song"))
      .toDF("doc_id", "lang", "url", "text")
    val bench = Seq(
      (100L, "the secret answer is forty two and the test leaks here exactly"))
      .toDF("doc_id", "text")
    // batch fits over the curated pool (the fit/apply split under test)
    val fixed = pool.select(col("doc_id"), col("lang"),
      UrlOps.registeredDomain(UrlOps.host(col("url"))).as("domain"),
      col("text"))
    val keepIds = TextAnalysis.gopherRules(fixed, minWords = 3, maxWords = 40)
      .filter(col("gopher_keep")).select("doc_id")
    val pool2 = fixed.join(keepIds, Seq("doc_id")).localCheckpoint(true)
    val contIds = Decontaminate.overlap(pool2, bench, k = 3)
      .filter(col("contamination") >= 0.2).select("doc_id")
    val clean = pool2.join(contIds, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val fits = CorpusStream.fit(clean, bench, k = 3,
      maxDocShare = 0.5, minDomainDocs = 3)
    // expected = the SAME chain run as a batch frame (curate is pure
    // projections + broadcast joins, so it executes on batch input too;
    // stream ≡ batch is the twin spec's pinned contract)
    val want = CorpusStream.curate(pool, fits, k = 3, minWords = 3,
        maxWords = 40, contaminationMax = 0.2, epochSalt = "cs")
      .select(col("doc_id"), col("domain"), col("text"), col("bucket"),
        col("order_key"))
      .as[(Long, String, String, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(want.keySet === Set(1L, 2L, 3L, 6L, 8L, 9L))
    // JSON string escape for the envelope lines (newlines in text MUST
    // stay escaped — the socket transport is line-framed)
    def js(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def envelope(r: (Long, String, String, String)): String =
      s"""{"formId":"doc_ingest","data":{"meta/instanceID":${js(r._1.toString)},""" +
        s""""doc_id":${js(r._1.toString)},"lang":${js(r._2)},""" +
        s""""url":${js(r._3)},"text":${js(r._4)}}}"""
    val rows = pool.as[(Long, String, String, String)].collect().toSeq
    val (b1, b2) = rows.partition(_._1 <= 4L)
    val server = new java.net.ServerSocket(0)
    val killAck = new java.util.concurrent.CountDownLatch(1)
    val doneAck = new java.util.concurrent.CountDownLatch(1)
    val feeder = new Thread(() => {
      // connection 1: batch 1, held open until the main thread kills the
      // query (EOF mid-read would fail the source, not what's under test)
      val s1 = server.accept()
      val o1 = new java.io.PrintWriter(s1.getOutputStream, true)
      b1.map(envelope).foreach(o1.println)
      o1.flush()
      killAck.await(120, java.util.concurrent.TimeUnit.SECONDS)
      s1.close()
      // connection 2: the RESUMED query reconnects. The queue REDELIVERS
      // the envelope that was in flight at the kill (doc 3 — processed
      // but, as far as the queue knows, never acked) before batch 2: the
      // idempotent sink must land it exactly once.
      val s2 = server.accept()
      val o2 = new java.io.PrintWriter(s2.getOutputStream, true)
      (b1.filter(_._1 == 3L) ++ b2).map(envelope).foreach(o2.println)
      o2.flush()
      doneAck.await(120, java.util.concurrent.TimeUnit.SECONDS)
      s2.close()
    })
    feeder.setDaemon(true)
    feeder.start()
    val storeDir = tmpDir() + "/store"
    def startQuery(ckDir: String) = {
      val decoded = FormSource.decodeEnvelopes(
        spark.readStream.format("socket")
          .option("host", "127.0.0.1")
          .option("port", server.getLocalPort)
          .load())
      val docs = FormSource.envelopeRecords(decoded, "doc_ingest")
        .select(
          element_at(col("data"), "doc_id").cast("long").as("doc_id"),
          element_at(col("data"), "lang").as("lang"),
          element_at(col("data"), "url").as("url"),
          element_at(col("data"), "text").as("text"))
      CorpusStream.curate(docs, fits, k = 3, minWords = 3, maxWords = 40,
          contaminationMax = 0.2, epochSalt = "cs")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty)
            UpsertWriter.upsert(spark, batch, storeDir, keys = Seq("doc_id"))
        }
        .option("checkpointLocation", ckDir)
        .outputMode("append").start()
    }
    def storeIds(): Seq[Long] =
      try spark.read.parquet(storeDir).select("doc_id").as[Long]
        .collect().sorted.toSeq
      catch { case _: Throwable => Seq.empty } // store not yet created
    def awaitStore(q: org.apache.spark.sql.streaming.StreamingQuery,
                   wantIds: Set[Long]): Unit = {
      val deadline = System.currentTimeMillis() + 120000
      while (storeIds().toSet != wantIds &&
        System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
    }
    val q1 = startQuery(tmpDir())
    try {
      awaitStore(q1, Set(1L, 2L, 3L)) // batch-1 survivors committed
      assert(storeIds() === Seq(1L, 2L, 3L))
    } finally {
      q1.stop() // the KILL: mid-stream, batch 2 never seen
      killAck.countDown()
    }
    // RESUME: fresh checkpoint (non-replayable transport — see header),
    // same store; the queue redelivers doc 3 and then ships batch 2
    val q2 = startQuery(tmpDir())
    try {
      awaitStore(q2, Set(1L, 2L, 3L, 6L, 8L, 9L))
      // exactly-once in the STORE despite redelivery: doc 3 once, batch-2
      // survivors landed, non-survivors dropped
      assert(storeIds() === Seq(1L, 2L, 3L, 6L, 8L, 9L))
      // and every curated column matches the batch composition
      val got = spark.read.parquet(storeDir)
        .select(col("doc_id"), col("domain"), col("text"), col("bucket"),
          col("order_key"))
        .as[(Long, String, String, String, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(got === want)
    } finally {
      doneAck.countDown()
      q2.stop()
      server.close()
    }
  }

  test("sft example construction streams unchanged (pure projection twin)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.SftPrep
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // formatExamples is a stateless codegen'd projection + filter, so the
    // BATCH OPERATOR ITSELF runs on an unbounded stream in append mode —
    // no twin needed (the L91 contract). Packing is the batch half of the
    // pair (a global greedy order cannot stream); the split mirrors the
    // reference's fit-batch/apply-stream discipline.
    val input = MemoryStream[(Long, String)]
    val q = SftPrep.formatExamples(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sft_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "a b c d e"), (2L, "x"), (3L, "p q r"))
      q.processAllAvailable()
      input.addData((4L, "m n"))
      q.processAllAvailable()
      val streamed = spark.table("sft_stream")
        .select(col("doc_id"), col("sft_text"), col("mask_start"),
          col("mask_end"))
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      val batch = SftPrep.formatExamples(Seq(
          (1L, "a b c d e"), (2L, "x"), (3L, "p q r"), (4L, "m n"))
          .toDF("doc_id", "text"))
        .select(col("doc_id"), col("sft_text"), col("mask_start"),
          col("mask_end"))
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      // drained stream == batch composition row-for-row (doc 2 dropped
      // by the n >= 2 gate on both sides)
      assert(streamed.toSeq === batch.toSeq)
      assert(!streamed.exists(_._1 == 2L))
    } finally q.stop()
  }

  test("host-rank enrichment + provenance filter gate an ingest stream under batch fits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Curation, LinkGraph}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the L98/L102 production arrangement: PageRank is a batch fit over
    // the host graph; the ingest stream enriches per-document via a
    // broadcast stream-static join and a provenance-tagged rule gate —
    // both pure projections, append-safe. An UNKNOWN host gets a null
    // rank, and the null-predicate-counts-as-failure contract makes the
    // min_rank rule fail it (a crawl from an unranked host must not
    // silently pass a rank gate).
    val edges = Seq("a.com" -> "b.com", "b.com" -> "a.com",
      "a.com" -> "c.com", "c.com" -> "a.com").toDF("src", "dst")
    val ranks = LinkGraph.pageRank(edges, iterations = 3)
      .select(col("node").as("host"), col("rank_int"))
      .localCheckpoint(true)
    val minRank = ranks.agg(
      org.apache.spark.sql.functions.min(col("rank_int"))).head.getLong(0)
    val rules = Seq(
      "min_rank" -> (col("rank_int") >= minRank),
      "min_tokens" -> (org.apache.spark.sql.functions.size(
        graft.functions.WordShingles.allShingles(col("text"), 1)) >= 2))
    def curate(docs: org.apache.spark.sql.DataFrame) =
      Curation.filterWithProvenance(
        docs.join(broadcast(ranks), Seq("host"), "left"), rules)
        .select(col("doc_id"), col("keep"), col("fail_reasons"))
    val rows = Seq(
      (10L, "a.com", "long enough text"),
      (11L, "c.com", "x"),                 // fails min_tokens
      (12L, "nowhere.example", "plenty of words here")) // null rank
    val input = MemoryStream[(Long, String, String)]
    val q = curate(input.toDF().toDF("doc_id", "host", "text"))
      .writeStream.format("memory").queryName("rank_gate_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("rank_gate_stream")
        .as[(Long, Boolean, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val batch = curate(rows.toDF("doc_id", "host", "text"))
        .as[(Long, Boolean, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(streamed === batch)
      assert(streamed(10L) === ((true, "")))
      assert(streamed(11L) === ((false, "min_tokens")))
      assert(streamed(12L) === ((false, "min_rank")))
    } finally q.stop()
  }

  test("minwise group signatures stream: incremental mins equal the batch sketch") {
    // L142's mergeability is exactly what a streaming min aggregation
    // exploits: signatures of incrementally-arriving group slices fold by
    // elementwise min, so the drained complete-mode table must equal the
    // one-shot batch signatures regardless of batch boundaries
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      ("a", "alpha beta gamma delta words"),
      ("b", "other words entirely here now"),
      ("a", "more alpha content beta here"),
      ("b", "second doc for group b today"))
    val input = MemoryStream[(String, String)]
    val q = Dedup.minhashes(input.toDS().toDF("grp", "text"), 8,
        "grp", "text")
      .writeStream.format("memory").queryName("mh_stream")
      .outputMode("complete").start()
    try {
      input.addData(rows(0), rows(1))
      q.processAllAvailable()
      input.addData(rows(2), rows(3))
      q.processAllAvailable()
      val got = spark.table("mh_stream").collect()
        .map(r => r.getString(0) -> (1 to 8).map(r.getLong)).toMap
      val batch = Dedup.minhashes(rows.toDF("grp", "text"), 8,
          "grp", "text")
        .collect().map(r => r.getString(0) -> (1 to 8).map(r.getLong)).toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("url blocklist categorize labels an ingest stream ≡ batch (pure projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.UrlOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the literal-fold categorize is a pure in-row projection — stream-
    // safe by construction (the broadcast-join twin is the batch-side
    // arrangement for production-sized lists; a stream applies the fold)
    val rules = Seq(
      ("gambling", "domain", "bad-casino.com"),
      ("ads", "path_kw", "/promo"))
    val urls = Seq(
      (1L, "https://www.bad-casino.com/p/1"),
      (2L, "http://clean.example.com/p/2/promo"),
      (3L, "https://fine.example.com/p/3"))
    val want = UrlOps.categorize(urls.toDF("doc_id", "url"), "url", rules)
      .select("doc_id", "category", "blocked")
      .as[(Long, Option[String], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val input = MemoryStream[(Long, String)]
    val q = UrlOps.categorize(input.toDF().toDF("doc_id", "url"), "url",
        rules)
      .select("doc_id", "category", "blocked")
      .writeStream.format("memory").queryName("urlcat_stream")
      .outputMode("append").start()
    try {
      input.addData(urls(0), urls(1))
      q.processAllAvailable()
      input.addData(urls(2))
      q.processAllAvailable()
      val streamed = spark.table("urlcat_stream")
        .as[(Long, Option[String], Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(streamed === want)
      assert(streamed(1L) === ((Some("gambling"), true)))
      assert(streamed(2L) === ((Some("ads"), true)))
      assert(streamed(3L) === ((None, false)))
    } finally q.stop()
  }

  test("TABLE-shaped url blocklist labels an ingest stream ≡ batch broadcast join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.UrlOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the broadcast-join twin's min-rule_pos aggregation has no append-
    // mode stream form; the stateless twin keeps the TABLE-shaped rule
    // contract (rules stay data, hot-swappable) and folds the pos-sorted
    // broadcast array in-row — drained stream ≡ the batch broadcast join
    val rules = Seq(
      ("gambling", "domain", "bad-casino.com", 0L),
      ("social", "host_suffix", "social.example.com", 1L),
      ("ads", "path_kw", "/promo", 2L))
      .toDF("category", "kind", "pattern", "rule_pos")
      .localCheckpoint(true)
    val urls = Seq(
      (1L, "https://www.bad-casino.com/p/1/promo"), // domain beats path
      (2L, "http://feed.social.example.com/p/2"),   // label-boundary suffix
      (3L, "http://notsocial.example.com/p/3/promo"), // path, NOT suffix
      (4L, "https://www.clean.example.com/p/4"))    // unblocked
    val want = UrlOps.categorizeBroadcast(urls.toDF("doc_id", "url"),
        "url", "doc_id", rules)
      .select("doc_id", "host", "domain", "category", "blocked")
      .as[(Long, String, String, Option[String], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val input = MemoryStream[(Long, String)]
    val q = UrlOps.categorizeBroadcastStateless(
        input.toDF().toDF("doc_id", "url"), "url", rules)
      .select("doc_id", "host", "domain", "category", "blocked")
      .writeStream.format("memory").queryName("urlcat_bcast_stream")
      .outputMode("append").start()
    try {
      input.addData(urls(0), urls(1))
      q.processAllAvailable()
      input.addData(urls(2), urls(3))
      q.processAllAvailable()
      val streamed = spark.table("urlcat_bcast_stream")
        .as[(Long, String, String, Option[String], Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(streamed === want)
      assert(streamed(1L)._3 === Some("gambling"))
      assert(streamed(4L) === (("www.clean.example.com", "example.com",
        None, false)))
    } finally q.stop()
  }

  test("perceptual hashing labels a media ingest stream ≡ batch (pure projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the native kernel is a per-row projection — stream-safe by
    // construction; an ingest pipeline hashes frames as they arrive and
    // dedups against a banded history downstream (the incremental-dedup
    // arrangement), so the hash itself must stream
    val rnd = new scala.util.Random(47)
    val media = (1L to 12L).map(i => i -> Seq.fill(256)(rnd.nextInt(256).toLong))
    val want = media.toDF("doc_id", "pixels")
      .select(col("doc_id"), graft.functions.PhashExprs
        .ahashBands(col("pixels"), 16, 16).as("bands"))
      .as[(Long, Seq[Long])].collect().toMap
    val input = MemoryStream[(Long, Seq[Long])]
    val q = input.toDF().toDF("doc_id", "pixels")
      .select(col("doc_id"), graft.functions.PhashExprs
        .ahashBands(col("pixels"), 16, 16).as("bands"))
      .writeStream.format("memory").queryName("phash_stream")
      .outputMode("append").start()
    try {
      input.addData(media.take(7): _*)
      q.processAllAvailable()
      input.addData(media.drop(7): _*)
      q.processAllAvailable()
      val streamed = spark.table("phash_stream")
        .as[(Long, Seq[Long])].collect().toMap
      assert(streamed === want)
    } finally q.stop()
  }

  test("streamed image ingest probes the banded history ≡ batch (real PNG bytes)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.PerceptualHash
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the production streamed-image-dedup arrangement (VERDICT r15 #4):
    // a banded index over the HISTORY corpus is the static side; new
    // frames arrive as encoded bytes, hash on arrival (hashMedia — a
    // mapPartitions decode + projection, stream-safe), and probe the
    // index. probeBandIndex is aggregation-free (the first-live-match
    // trick dedups multi-band candidates row-locally), so the whole
    // chain runs in append mode with no stateful operator.
    def grayPng(raster: Seq[Long]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 16).foreach(y => (0 until 16).foreach { x =>
        val v = raster(y * 16 + x).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      })
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // history: 8×8-cell two-level images; probes reuse two history
    // patterns (one verbatim, one with 2 cells flipped → hamming 2) and
    // add one far pattern
    def raster(bits: Int => Boolean): Seq[Long] =
      (0 until 256).map { idx =>
        val c = (idx / 16 / 2) * 8 + (idx % 16) / 2
        if (bits(c)) 200L else 0L
      }
    def pat(seed: Int): Int => Boolean = c => ((c * 31 + seed * 17) % 5) < 2
    val history = (1L to 6L).map(i => i -> raster(pat(i.toInt)))
    val histHashed = history.toDF("doc_id", "pixels")
      .select(col("doc_id"), graft.functions.PhashExprs
        .ahashBands(col("pixels"), 16, 16).as("bands"))
    val index = PerceptualHash.bandIndex(histHashed).localCheckpoint(true)
    val probes = Seq(
      101L -> grayPng(raster(pat(2))),                          // verbatim hit
      102L -> grayPng(raster(c => if (c == 3 || c == 40) !pat(4)(c)
        else pat(4)(c))),                                       // near-dup hit
      103L -> grayPng(raster(c => (c * 13 + 7) % 3 == 0))) // unrelated
    val probeDf = probes.toDF("doc_id", "media")
    val want = PerceptualHash.probeBandIndex(
        PerceptualHash.hashMedia(probeDf), index, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(want.nonEmpty && want.exists(_._1 == 101L))
    val input = MemoryStream[(Long, Array[Byte])]
    val q = PerceptualHash.probeBandIndex(
        PerceptualHash.hashMedia(input.toDF().toDF("doc_id", "media")),
        index, maxHamming = 3)
      .writeStream.format("memory").queryName("phash_probe_stream")
      .outputMode("append").start()
    try {
      input.addData(probes.take(2): _*)
      q.processAllAvailable()
      input.addData(probes.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("phash_probe_stream")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === want)
    } finally q.stop()
  }

  test("domain-prior blend scores a stream under the batch-fitted prior ≡ batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.QualityModel
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two domains with clearly different track records
    val pool = Seq((1L, "good.com", 900000L), (2L, "good.com", 800000L),
      (3L, "spam.net", 100000L), (4L, "spam.net", 200000L),
      (5L, "good.com", 700000L))
      .toDF("doc_id", "domain", "score_micro")
    val prior = QualityModel.domainPrior(pool, "domain", "score_micro")
      .localCheckpoint(true)
    val want = QualityModel.domainPriorBlend(pool, "domain", "score_micro")
      .select("doc_id", "domain_prior_micro", "blend_micro")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val input = MemoryStream[(Long, String, Long)]
    val q = QualityModel.domainPriorBlendStateless(
        input.toDF().toDF("doc_id", "domain", "score_micro"), prior,
        "domain", "score_micro")
      .writeStream.format("memory").queryName("prior_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "good.com", 900000L), (3L, "spam.net", 100000L))
      q.processAllAvailable()
      // fresh doc on a fitted domain + a doc on an UNSEEN domain (dropped)
      input.addData((10L, "good.com", 100000L), (11L, "new.org", 500000L))
      q.processAllAvailable()
      val streamed = spark.table("prior_stream")
        .select("doc_id", "domain_prior_micro", "blend_micro")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(streamed(1L) === want(1L))
      assert(streamed(3L) === want(3L))
      // frozen fit scores fresh content under the fitted prior:
      // prior(good.com) = (900000+800000+700000) div 3 = 800000;
      // blend = (1*800000 + 1*100000) div 2
      assert(streamed(10L) === ((800000L, 450000L)))
      assert(!streamed.contains(11L)) // unseen domain: no opinion
    } finally q.stop()
  }

  test("cluster-aware split assigns a stream doc its batch cluster's split ≡ batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sampling
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    // batch-fitted near-dup cluster map: {1,2,7} one cluster, {3,4} another
    val clusters = Seq((1L, 1L), (2L, 1L), (7L, 1L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "cluster").localCheckpoint(true)
    val pool = Seq(1L, 2L, 3L, 4L, 5L, 7L).toDF("doc_id")
    val want = Sampling.splitByClusterStateless(pool, clusters, weights,
        salt = "cs")
      .select("doc_id", "cluster", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    val input = MemoryStream[Long]
    val q = Sampling.splitByClusterStateless(
        input.toDF().toDF("doc_id"), clusters, weights, salt = "cs")
      .writeStream.format("memory").queryName("clsplit_stream")
      .outputMode("append").start()
    try {
      input.addData(1L, 3L, 5L)
      q.processAllAvailable()
      input.addData(2L, 4L, 7L, 99L) // 99: unseen → own singleton cluster
      q.processAllAvailable()
      val streamed = spark.table("clsplit_stream")
        .select("doc_id", "cluster", "split")
        .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3)))
        .toMap
      (Seq(1L, 2L, 3L, 4L, 5L, 7L)).foreach { id =>
        assert(streamed(id) === want(id), s"doc $id")
      }
      // cluster members can never straddle splits — on stream or batch
      assert(streamed(1L)._1 === 1L && streamed(2L) === streamed(1L)
        && streamed(7L) === streamed(1L))
      assert(streamed(3L) === streamed(4L))
      assert(streamed(99L)._1 === 99L) // singleton fallback keys on itself
    } finally q.stop()
  }
}
