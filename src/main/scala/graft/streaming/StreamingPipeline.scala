package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import graft.operators.DataPipeline
import graft.sinks.UpsertWriter

/** Streaming ingest (reference §2.7 / consumer.py:83-97): micro-batches of
  * `{form, data}` envelopes run through the SAME batch pipeline via
  * foreachBatch — this matches the reference exactly, where state lives in
  * the store (PostgreSQL there, the parquet data dir here), not in operator
  * state. Late data naturally re-links and re-alerts because each batch is
  * an upsert into history, mirroring the reference's
  * no-watermark/process-on-arrival discipline.
  */
object StreamingPipeline {

  /** Run a raw-form stream through the batch pipeline, upserting the coded
    * output per micro-batch. `formName` identifies which form the stream
    * carries (the reference's {formId, data} envelope).
    *
    * Each micro-batch calls [[DataPipeline.process]] once, which evaluates
    * the pipeline into a local checkpoint that the `data` upsert, the
    * `disregarded.isEmpty` probe and the `disregarded` upsert all read
    * (Spark's foreachBatch pattern for writing one batch to several sinks). */
  def start(spark: SparkSession, stream: DataFrame, formName: String,
            cfg: DataPipeline.EngineConfig, dataPath: String,
            disregardedPath: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val result = DataPipeline.process(spark, Map(formName -> batch), cfg)
        UpsertWriter.upsert(spark, result.data, dataPath)
        if (!result.disregarded.isEmpty)
          UpsertWriter.upsert(spark, result.disregarded, disregardedPath)
      }
      .start()

  /** Streaming exact dedup at ingest — the first pass a training-data
    * pipeline runs on a document firehose. Keyed by the md5 content digest
    * (the same digest batch [[graft.operators.Dedup.exact]] groups on, so
    * stream-ingested and batch-ingested corpora dedupe identically);
    * `dropDuplicatesWithinWatermark` keeps one row per digest and lets the
    * engine EVICT a digest's state once the watermark passes it — without
    * the watermark bound, state grows with every distinct document ever
    * seen, which at firehose scale is the corpus itself. A duplicate
    * arriving later than `watermarkDelay` after its first copy can be
    * re-admitted (bounded-state tradeoff); the batch dedup pass heals those,
    * exactly like the visit-control store-recompute discipline.
    *
    * `eventTimeCol` must be an actual event-time timestamp column. */
  def dedupStream(docs: DataFrame, eventTimeCol: String,
                  watermarkDelay: String = "1 hour",
                  textCol: String = "text"): DataFrame =
    docs
      .withColumn("__digest", md5(col(textCol).cast("binary")))
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** Native streaming variant of the A1 daily-threshold aggregation: windowed
    * count per (clinic, day) with a watermark — for deployments that want
    * push-style alerts instead of the store-recompute discipline. */
  def thresholdAlertStream(coded: DataFrame, varId: String, limit: Int,
                           watermark: String = "7 days"): DataFrame =
    coded
      .filter(map_contains_key(col("variables"), varId))
      .withWatermark("date", watermark)
      .groupBy(col("clinic"), window(col("date"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= limit)
      .select(col("clinic"), col("window.start").as("day"), col("n"))

  /** One visit event on the stateful path: identifier = the joined identifier
    * tuple (e.g. patientid|icd_code), ts = event-time millis. */
  final case class VisitEvent(identifier: String, uuid: String, ts: Long)
  /** Output: the visit label assigned to this record. */
  final case class VisitLabel(identifier: String, uuid: String, visit: String)

  /** TRUE streaming initial_visit_control via flatMapGroupsWithState
    * (initial_visit_control.py:25-136 semantics, arrival-order flavor): per
    * identifier tuple, the FIRST visit ever seen stays "new", every later
    * one emits "return". State per key is the (first-seen, max-seen)
    * event-time pair (16 bytes; the max drives the TTL deadline), so state
    * size is bounded by distinct identifiers, not events. STATE-SCHEMA
    * COMPATIBILITY: the `ttlMs = None` path keeps the original single-Long
    * state layout (first-seen only — no TTL means the max-seen deadline
    * driver is dead weight), so pre-TTL production checkpoints restart
    * unchanged by passing `ttlMs = None`. Switching a checkpointed query
    * between None and Some IS a state-schema change (Long vs (Long, Long))
    * that Spark's state-schema check rejects — enable TTL on a fresh
    * checkpoint (the batch store-recompute heals the labels either way).
    * Unlike the batch recompute (which can re-label when an earlier
    * visit arrives late), this path labels at arrival like the reference's
    * incremental consumer; pair it with the store-recompute for healing.
    *
    * Event-time processing: if a record arrives whose ts PRECEDES the
    * stored first-visit time, it becomes the new "new" (emitted as such)
    * — the previously-emitted label is NOT retracted (same contract as the
    * reference, which re-writes the store instead).
    *
    * STATE TTL: at 100 TB of history, distinct identifiers grow without
    * bound, and the reference's "state" is the whole database, which a
    * streaming state store cannot be. `ttlMs` expires a key's state after
    * that much EVENT-TIME inactivity (watermark-driven, so tests and
    * reprocessing are deterministic; activity extends the deadline). An
    * expired identifier that reappears is labeled "new" again — the
    * bounded-state tradeoff; the batch store-recompute heals those labels.
    * `None` keeps the unbounded reference discipline.
    *
    * `latenessMs` is the watermark delay — the event-time timeout needs a
    * watermark, and the watermark also drops rows older than (max seen −
    * lateness). The reference processes arbitrarily late data, so the
    * default tolerance is generous; a key actually expires once the
    * watermark (not raw event time) passes its deadline, i.e. after
    * ttl + lateness of event-time inactivity. */
  def visitControlStream(events: Dataset[VisitEvent],
                         ttlMs: Option[Long] = Some(30L * 24 * 3600 * 1000),
                         latenessMs: Long = 30L * 24 * 3600 * 1000)
      : Dataset[VisitLabel] = {
    import events.sparkSession.implicits._
    ttlMs match {
      case None =>
        // legacy single-Long state (first-seen only): byte-compatible with
        // pre-TTL checkpoints, no watermark requirement
        events
          .groupByKey(_.identifier)
          .flatMapGroupsWithState[Long, VisitLabel](
            OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
            (key: String, rows: Iterator[VisitEvent], state: GroupState[Long]) =>
              val batch = rows.toSeq.sortBy(e => (e.ts, e.uuid))
              var firstTs = state.getOption.getOrElse(Long.MaxValue)
              val out = batch.map { e =>
                val label = if (e.ts < firstTs) { firstTs = e.ts; "new" } else "return"
                VisitLabel(key, e.uuid, label)
              }
              if (firstTs != Long.MaxValue) state.update(firstTs)
              out.iterator
          }
      case Some(ttl) =>
        // state = (first-seen ts, max-seen ts): the max drives the
        // inactivity deadline, so an out-of-order (but not watermark-late)
        // event can never move an established deadline EARLIER
        events
          .withColumn("__et", timestamp_millis(col("ts")))
          .withWatermark("__et", s"$latenessMs milliseconds")
          .as[VisitEvent]
          .groupByKey(_.identifier)
          .flatMapGroupsWithState[(Long, Long), VisitLabel](
            OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
            (key: String, rows: Iterator[VisitEvent], state: GroupState[(Long, Long)]) =>
              if (state.hasTimedOut) {
                state.remove()
                Iterator.empty
              } else {
                val batch = rows.toSeq.sortBy(e => (e.ts, e.uuid))
                var (firstTs, maxTs) =
                  state.getOption.getOrElse((Long.MaxValue, Long.MinValue))
                val out = batch.map { e =>
                  val label = if (e.ts < firstTs) { firstTs = e.ts; "new" } else "return"
                  if (e.ts > maxTs) maxTs = e.ts
                  VisitLabel(key, e.uuid, label)
                }
                if (firstTs != Long.MaxValue) {
                  state.update((firstTs, maxTs))
                  state.setTimeoutTimestamp(maxTs + ttl)
                }
                out.iterator
              }
          }
    }
  }
}
