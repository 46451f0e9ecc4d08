package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.DataPipeline
import graft.sinks.UpsertWriter
import graft.sources.{FakeData, FormSource}
import graft.streaming.StreamingPipeline
import Tracer.Counter

/** Incremental ingest through the streaming path. Each micro-batch of
  * JSON `{formId, data}` envelopes lands as one file in the stream's
  * landing directory; `FormSource.decodeEnvelopes`/`envelopeRecords` and
  * `StreamingPipeline.start` (Trigger.AvailableNow) ingest it and upsert
  * it through `UpsertWriter`. Latency runs from the file landing to the
  * query's commit. */
object StreamIngest {

  val BatchRows = 1000
  /** One micro-batch costs ~20 s on 4 cores (see perfbench/README.md). */
  val ProbeBatches = 1
  /** shares of each micro-batch: re-submitted earlier uuids, malformed lines */
  val ResubmitShare = 0.05
  val MalformedShare = 0.005

  private val envSchema = StructType(Seq(
    StructField("formId", StringType),
    StructField("data", MapType(StringType, StringType))))

  final case class Batch(file: File, fresh: Long, resubmitted: Long, malformed: Long)

  /** Envelope lines of micro-batch `b`: fresh records with ids after the
    * history, re-submissions of earlier uuids carrying new content and a
    * later submission date, and malformed lines (cut-off JSON, or no uuid
    * in the payload). */
  def batchLines(spark: SparkSession, pool: DataFrame, alt: DataFrame, b: Int,
                 history: Int, rows: Int, seed: Long): (DataFrame, Long, Long, Long) = {
    val resub = math.round(rows * ResubmitShare).toInt
    val bad = math.max(1, math.round(rows * MalformedShare).toInt)
    val lo = history.toLong + b.toLong * rows
    val id = Fixtures.idOf(col("uuid"))
    val fresh = pool.filter(id >= lo && id < lo + rows - resub - bad)
    // re-submissions: distinct earlier ids drawn from the seed, content
    // from a second draw of the generator, submission date after the
    // whole history so the last version is recognisable
    val picks = spark.range(resub * 2L)
      .select(pmod(xxhash64(col("id"), lit(b), lit(seed)), lit(lo)).as("pick"))
      .distinct().limit(resub)
    val again = alt.join(picks, id === col("pick"))
      .drop("pick")
      .withColumn("data", map_concat(col("data"), map(
        lit("SubmissionDate"), date_format(date_add(lit("2016-09-01").cast("date"), b), "yyyy-MM-dd"))))
    val good = fresh.unionByName(again)
      .select(to_json(struct(lit("demo_case").as("formId"), col("data").as("data"))).as("value"))
    val broken = pool.filter(id >= lo + rows - resub - bad && id < lo + rows - resub)
      .select(when(Fixtures.idOf(col("uuid")) % 2 === 0,
        substring(to_json(struct(lit("demo_case").as("formId"), col("data").as("data"))), 1, 40))
        .otherwise(to_json(struct(lit("demo_case").as("formId"),
          map_filter(col("data"), (k, _) => k =!= "meta/instanceID").as("data"))))
        .as("value"))
    val nFresh = fresh.count()
    val nAgain = again.count()
    (good.unionByName(broken), nFresh, nAgain, bad.toLong)
  }

  /** Write one micro-batch as a single staged file, ready to land. */
  def stage(lines: DataFrame, dir: File, name: String): File = {
    val tmp = new File(dir, name + ".d")
    lines.coalesce(1).write.text(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.startsWith("part-")).get
    val f = new File(dir, name + ".json")
    part.renameTo(f)
    Files.rm(tmp)
    f
  }

  final case class Store(root: String) {
    val data = s"$root/data"
    val disregarded = s"$root/disregarded"
    val landing = s"$root/landing"
    val checkpoint = s"$root/checkpoint"
  }

  def start(spark: SparkSession, cfg: DataPipeline.EngineConfig, store: Store) = {
    val stream = FormSource.envelopeRecords(
      FormSource.decodeEnvelopes(spark.readStream.text(store.landing)), "demo_case")
    StreamingPipeline.start(spark, stream, "demo_case", cfg, store.data,
      store.disregarded, store.checkpoint)
  }

  /** Land `f` and ingest it; returns (landing → commit seconds, start call seconds). */
  def ingest(spark: SparkSession, cfg: DataPipeline.EngineConfig, store: Store,
             f: File): (Double, Double) = {
    new File(store.landing).mkdirs()
    val t0 = System.nanoTime()
    if (!f.renameTo(new File(store.landing, f.getName)))
      throw new java.io.IOException(s"could not land $f")
    val t1 = System.nanoTime()
    val q = start(spark, cfg, store)
    val t2 = System.nanoTime()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    ((System.nanoTime() - t0) / 1e9, (t2 - t1) / 1e9)
  }

  final case class Probe(metrics: Seq[(String, Double, String)], problems: Seq[String])

  /** The streaming probe of a traced batch_recompute run: micro-batches of
    * new and re-submitted demo_case records land on a copy of the store the
    * round wrote, and each is ingested by `StreamingPipeline.start` and
    * upserted. Reports the streaming layer's per-batch costs and checks
    * the store against the fold of the expectations. */
  def probe(spark: SparkSession, tracer: Tracer, in: BatchRecompute.Inputs,
            cfg: Fixtures.Config, out: BatchRecompute.Outputs, seed: Long,
            dir: String): Probe = {
    val history = BatchRecompute.CaseRows
    val fields = Fixtures.caseFields(history / 15)
    val total = history + ProbeBatches * BatchRows
    FakeData.form(spark, "demo_case", fields, total, seed).write.parquet(s"$dir/pool")
    FakeData.form(spark, "demo_case", fields, total, seed + 7).write.parquet(s"$dir/alt")
    val pool = Fixtures.withInstanceId(spark.read.parquet(s"$dir/pool"))
    val alt = Fixtures.withInstanceId(spark.read.parquet(s"$dir/alt"))
    val staging = new File(s"$dir/staging")
    staging.mkdirs()
    // the stream upserts into UpsertWriter's unpartitioned layout, so the
    // round's DataWriter output is rewritten into it first (UpsertWriter
    // does not see the parquet files of a partitioned store and would
    // start it afresh)
    val store = Store(s"$dir/store")
    UpsertWriter.upsert(spark, spark.read.parquet(out.data), store.data)
    if (Checks.hasParquet(out.disregarded))
      UpsertWriter.upsert(spark, spark.read.parquet(out.disregarded), store.disregarded)
    val engine = Fixtures.forForm(cfg.engine, "demo_case")
    tracer.install()

    def storeBytes = Files.bytes(new File(store.data)) + Files.bytes(new File(store.disregarded))
    val batches = (0 until ProbeBatches).map { b =>
      val (lines, fresh, again, bad) = batchLines(spark, pool, alt, b, history, BatchRows, seed)
      val f = stage(lines, staging, f"batch_$b%03d")
      val before = tracer.monitor.snapshot.size
      val bytesBefore = storeBytes
      val ((latency, startS), d) = tracer.span(ingest(spark, engine, store, f))
      val actions = tracer.monitor.snapshot.drop(before)
      Log(f"micro-batch $b: $latency%.2f s; actions ${actions.map(a => a.step + ":" + a.durationMs).mkString(" ")}")
      // write amplification: bytes the micro-batch wrote over the bytes
      // its rows added to the store
      (Batch(new File(store.landing, f.getName), fresh, again, bad), latency, startS,
        actions.filter(_.step == "command").map(_.durationMs / 1000.0).sum,
        d(Counter.BytesWritten).toDouble / (storeBytes - bytesBefore))
    }
    val progress = {
      import scala.jdk.CollectionConverters._
      tracer.progress.asScala.toSeq
    }
    def dur(k: String) = Stats.median(progress.map(m =>
      Option(m.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val outcome = check(spark, cfg, in, batches.map(_._1), store)
    val metrics = Seq(
      ("streaming.batch_s", Stats.median(batches.map(_._2)), "s"),
      ("streaming.start_s", Stats.median(batches.map(_._3)), "s"),
      ("streaming.latest_offset_ms", dur("latestOffset"), "ms"),
      ("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      ("streaming.add_batch_ms", dur("addBatch"), "ms"),
      ("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      ("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
      ("sinks.upsert_s", Stats.median(batches.map(_._4)), "s"),
      ("sinks.write_amp", Stats.median(batches.map(_._5)), "ratio"),
      ("sources.malformed", outcome.malformed.toDouble, "count"))
    Probe(metrics, outcome.problems)
  }

  final case class StreamOutcome(problems: Seq[String], malformed: Long)

  /** The store must equal the fold of the per-batch expectations: each
    * batch's `(uuid, type)` rows replace earlier ones in the store they
    * are routed to. Compared as (uuid, type, submission date) multisets,
    * which covers duplicates, the row count and the last version of every
    * re-submitted uuid. Source counts are checked against the generator. */
  def check(spark: SparkSession, cfg: Fixtures.Config, in: BatchRecompute.Inputs,
            batches: Seq[Batch], store: Store): StreamOutcome = {
    def envelopes(f: File): DataFrame = {
      val env = spark.read.text(f.getPath).select(from_json(col("value"), envSchema).as("e"))
      val ok = env.filter(col("e.formId") === "demo_case" && col("e.data").isNotNull &&
        element_at(col("e.data"), "meta/instanceID").isNotNull)
      ok.select(Fixtures.caseKeys.map(k => element_at(col("e.data"), k).as(k)): _*)
    }
    type Key = (String, String, String) // store, uuid, type
    val expected = scala.collection.mutable.LinkedHashMap.empty[Key, String]
    def fold(keys: DataFrame): Unit =
      keys.select("uuid", "type", "store", "submitted").collect().foreach { r =>
        expected((r.getString(2), r.getString(0), r.getString(1))) = r.getString(3)
      }
    fold(Fixtures.expectedCaseKeys(Checks.rawCsv(spark, in.form("demo_case")), cfg))
    fold(Fixtures.expectedRegisterKeys(Checks.rawCsv(spark, in.form("demo_register")), cfg))
    batches.foreach(b => fold(Fixtures.expectedCaseKeys(envelopes(b.file), cfg)))

    import spark.implicits._
    def want(name: String): DataFrame = expected.toSeq.collect {
      case ((s, u, t), d) if s == name => (u, t, d)
    }.toDF("uuid", "type", "submitted")
    def actual(path: String): DataFrame =
      if (!Checks.hasParquet(path)) want("none")
      else spark.read.parquet(path).select(col("uuid"), col("type"),
        date_format(col("submission_date"), "yyyy-MM-dd").as("submitted"))
    val storeProblems = Seq(
      Checks.diff("data store (uuid, type, submission date)", want("data"), actual(store.data)),
      Checks.diff("disregarded store (uuid, type, submission date)", want("disregarded"),
        actual(store.disregarded))).flatten

    val decoded = batches.map(b => FormSource.decodeEnvelopes(spark.read.text(b.file.getPath)))
    val rowsIn = decoded.map(_.filter(col("error").isNull).count()).sum
    val malformed = decoded.map(_.filter(col("error").isNotNull).count()).sum
    val wantIn = batches.map(b => b.fresh + b.resubmitted).sum
    val wantBad = batches.map(_.malformed).sum
    val sourceProblems =
      (if (rowsIn == wantIn) Nil else Seq(s"sources decoded $rowsIn records, generator wrote $wantIn")) ++
      (if (malformed == wantBad) Nil else Seq(s"sources flagged $malformed malformed, generator wrote $wantBad"))
    StreamOutcome(storeProblems ++ sourceProblems, malformed)
  }
}
