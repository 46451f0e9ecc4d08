package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-form sources (reference §2.1 S1-S5): everything lands in the canonical
  * form shape `(uuid string, data map<string,string>)` — the Spark analogue
  * of the reference's `(uuid, data JSONB)` form tables (model.py:20-34).
  */
object FormSource {

  /** Collapse a flat (all-string) DataFrame into the canonical form shape.
    * Null cells are dropped from the map (absent key ≡ missing column).
    *
    * [[graft.plans.InlineMapExtracts]] matches this exact map expression,
    * `map_from_entries(filter(array(struct(lit key, value)…), e ->
    * e.value IS NOT NULL))`, and resolves `element_at(data, "k")` to the
    * column at plan time; change the two together, or every pushed-down
    * field read goes back to carrying its own copy of the map build. */
  def toFormShape(df: DataFrame, uuidField: String = "meta/instanceID"): DataFrame = {
    // ODK columns contain dots (`pt./visit_date`); backtick-quote so col()
    // doesn't parse them as struct field access
    def q(c: String) = col(s"`$c`")
    val entries = df.columns.toSeq.map { c =>
      struct(lit(c).as("key"), q(c).cast("string").as("value"))
    }
    df.select(
      q(uuidField).cast("string").as("uuid"),
      map_from_entries(filter(array(entries: _*), e =>
        e.getField("value").isNotNull)).as("data"))
  }

  /** S1 — CSV scan (util/__init__.py:442-456): header row, everything as
    * string, permissive parsing. Spark's file source handles directories,
    * globs and s3a:// URIs identically, so S2 (S3 download) is the same call. */
  def csv(spark: SparkSession, path: String,
          uuidField: String = "meta/instanceID"): DataFrame =
    toFormShape(
      spark.read
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .csv(path),
      uuidField)

  /** S3 scan of driver-style parquet (typed columns → string map). */
  def parquet(spark: SparkSession, path: String, uuidField: String): DataFrame =
    toFormShape(spark.read.parquet(path), uuidField)

  /** S3 — JDBC scan of persistent form tables (util/__init__.py:368-374's
    * 1000-row server-side pages become partitioned JDBC reads). Untested in
    * this environment (no database); the call shape is the standard one. */
  def jdbc(spark: SparkSession, url: String, table: String,
           props: java.util.Properties, partitionColumn: String,
           lowerBound: Long, upperBound: Long, numPartitions: Int = 32,
           uuidField: String = "uuid"): DataFrame =
    toFormShape(
      spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
        numPartitions, props),
      uuidField)

  /** S4/S5 — streaming variants: same canonical shape from a file-source
    * stream (Spark's incremental listing replaces the reference's
    * offset-tracking poll loop, get_data.py:84-92). */
  def csvStream(spark: SparkSession, path: String, schemaFrom: DataFrame,
                uuidField: String = "meta/instanceID"): DataFrame =
    toFormShape(
      spark.readStream
        .option("header", "true")
        .schema(schemaFrom.schema)
        .csv(path),
      uuidField)

  /** S4 — queue-message envelope decode (consumer/get_data.py:128-165): the
    * reference long-polls SQS for JSON messages `{"formId": f, "data":
    * {...}}` and deletes each on receipt. No queue exists in this
    * environment, but the decode is SOURCE-AGNOSTIC by design: feed it any
    * Dataset carrying raw message strings — a file-stream line source, a
    * socket, a Kafka `value` column — bounded or unbounded; the result is
    * the same decoded frame either way, so the whole path is testable
    * under a real unbounded source (see StreamingSpec).
    *
    * Malformed input is DATA, not an exception (the reference's
    * step_failures discipline, model.py:47-54): unparseable JSON, a
    * missing form id or data payload, or a record without its uuid field
    * land in the output with a non-null `error`, which
    * [[envelopeDeadLetter]] splits off for the quarantine sink —
    * one malformed message must never kill an unbounded query.
    *
    * Output columns: raw, form, uuid, data, error. */
  def decodeEnvelopes(messages: DataFrame, valueCol: String = "value",
                      uuidField: String = "meta/instanceID"): DataFrame = {
    import org.apache.spark.sql.types._
    val envSchema = StructType(Seq(
      StructField("formId", StringType),
      StructField("data", MapType(StringType, StringType))))
    messages
      .select(col(valueCol).cast("string").as("raw"))
      .withColumn("env", from_json(col("raw"), envSchema))
      .select(col("raw"),
        col("env.formId").as("form"),
        element_at(col("env.data"), uuidField).as("uuid"),
        col("env.data").as("data"))
      .withColumn("error",
        when(col("form").isNull || col("data").isNull,
          lit("malformed envelope"))
          .when(col("uuid").isNull || col("uuid") === "",
            lit(s"missing uuid field $uuidField"))
          .otherwise(lit(null).cast("string")))
  }

  /** The well-formed records of one form, in canonical shape. */
  def envelopeRecords(decoded: DataFrame, form: String): DataFrame =
    decoded.filter(col("error").isNull && col("form") === form)
      .select(col("uuid"), col("data"))

  /** The malformed messages, shaped for the quarantine sink. */
  def envelopeDeadLetter(decoded: DataFrame): DataFrame =
    decoded.filter(col("error").isNotNull)
      .select(col("raw"), col("form"), col("error"))

  /** Strip ODK group prefixes from the data-map keys:
    * `grp./field` → `field` (the reference's `group./field` convention,
    * util/__init__.py:405-419). Deployments whose rule catalogs address
    * fields WITHOUT prefixes apply this right after the scan so
    * `db_column`s match the exported keys. Ungrouped keys pass through;
    * a collision after stripping keeps the later entry (LAST_WIN map
    * semantics — the reference's dict assignment order). Pure
    * `transform_keys`, no shuffle. */
  def stripGroupPrefixes(df: DataFrame): DataFrame =
    df.withColumn("data",
      transform_keys(col("data"), (k, _) =>
        regexp_replace(k, "^.*?\\./", "")))
}
