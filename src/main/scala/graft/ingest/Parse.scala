package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka-JSON → typed observation table: the reference's parse chain,
  * re-expressed as one composable DataFrame function.
  *
  * Reference semantics (see SURVEY.md §1.3, §2.2; cites into /root/reference):
  *  - value parsed as an untyped string map        (prediction/preprocessing/spark.py:131,186)
  *  - location = coalesce(payload.location_name, key)            (spark.py:192-194)
  *  - event_timestamp: multi-format fallback chain → kafka ts    (spark.py:203-217)
  *  - 13 typed metric projections out of the map                 (spark.py:219-247)
  *  - error rows dropped: nonempty error_message               (spark.py:249-251)
  *    (every "lỗi khi gọi api" marker row has one, getSample.py:141-147)
  *
  * Everything is a stock Catalyst expression — `from_json`, `coalesce`,
  * `to_timestamp`, casts — so predicate pushdown / column pruning / codegen all
  * apply. No UDFs, no driver-side coercion (the reference re-types payload
  * values in Python on the driver, spark.py:300-335; we keep columns typed
  * end-to-end instead).
  */
object Parse {

  /** Payload is schema-on-read: an untyped string→string map. */
  val PayloadSchema: MapType = MapType(StringType, StringType)

  /** Metric columns projected out of the payload map, with target types.
    * Mirrors the reference's projection list (spark.py:219-247). */
  val DoubleMetrics: Seq[String] = Seq(
    "temperature", "windspeed", "winddirection", "humidity", "rain",
    "visibility", "pressure", "precipitation", "latitude", "longitude")
  val IntMetrics: Seq[String] = Seq("weathercode", "interval", "is_day")

  /** Multi-format event-time resolution (spark.py:203-217): ISO-8601, then
    * "yyyy-MM-dd HH:mm:ss" after stripping T/Z, then minute precision, then
    * the broker ingest timestamp. All formats are attempted with
    * try_to_timestamp-style null-on-failure semantics via `to_timestamp`
    * overloads inside `coalesce`. */
  def resolveEventTime(raw: Column, kafkaTs: Column): Column = {
    val cleaned = regexp_replace(regexp_replace(raw, "T", " "), "Z$", "")
    coalesce(
      try_to_timestamp(raw),
      try_to_timestamp(cleaned, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(cleaned, lit("yyyy-MM-dd HH:mm")),
      kafkaTs)
  }

  /** The exact row schema Spark's Kafka source emits (`format("kafka")`,
    * spark-sql-kafka connector) — the wire contract [[fromKafka]] consumes.
    * A deployment against a real broker (reference: spark.py:164-176) is
    * exactly:
    * {{{
    * Parse.fromKafka(
    *   spark.readStream.format("kafka")
    *     .option("kafka.bootstrap.servers", servers)
    *     .option("subscribe", topic)
    *     .option("startingOffsets", "earliest")
    *     .load())
    * }}}
    * No other code changes: the sandbox has no broker, so tests feed
    * [[fromKafka]] frames with THIS schema (KafkaContractSpec pins it). */
  val KafkaSourceSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Full parse chain over a Kafka-shaped frame
    * (`key` binary, `value` binary, `timestamp` timestamp). */
  def fromKafka(raw: DataFrame): DataFrame = {
    val projected = raw.select(
      col("key").cast(StringType).as("key"),
      col("value").cast(StringType).as("value"),
      col("timestamp").as("kafka_timestamp"))
    fromJsonValue(projected)
  }

  /** Parse chain over (`key` string, `value` json-string, `kafka_timestamp`). */
  def fromJsonValue(df: DataFrame): DataFrame = {
    val payload = df.withColumn("payload", from_json(col("value"), PayloadSchema))
    val located = payload
      .withColumn("location", coalesce(col("payload").getItem("location_name"), col("key")))
      .withColumn("event_time_raw",
        coalesce(col("payload").getItem("time"), col("payload").getItem("timestamp")))
      .withColumn("event_timestamp",
        resolveEventTime(col("event_time_raw"), col("kafka_timestamp")))
    // try_cast, not cast: under ANSI mode (Spark 4 default) a malformed
    // metric string would fail the whole job; schema-on-read semantics
    // require null (matching the reference's non-ANSI PySpark casts).
    val metricCols =
      DoubleMetrics.map(m => col("payload").getItem(m).try_cast(DoubleType).as(m)) ++
      IntMetrics.map(m => col("payload").getItem(m).try_cast(IntegerType).as(m))
    val shaped = located.select(
      Seq(col("key"), col("location"), col("event_timestamp"), col("kafka_timestamp")) ++
      metricCols ++
      Seq(col("payload").getItem("message").as("error_message"), col("payload")): _*)
    dropErrorRows(shaped)
  }

  /** P15: the reference's dynamic scalar coercion (spark.py:301-319) for
    * UNDECLARED payload keys, as a pure Catalyst expression. A map value in
    * Spark must have one type, so the coerced value is a tagged union
    * struct `(kind, bool_v, long_v, double_v, str_v)` with exactly one
    * non-null slot — the typed shape a JSON serializer needs to emit the
    * value with its natural JSON type, matching the reference's records.
    *
    * Heuristic parity (spark.py:305-319): trimmed; empty → null kind;
    * case-insensitive true/false → bool; contains "." → float, demoted to
    * int when integral (2.0 → 2); otherwise integer digits → int; anything
    * else (including "1e5"/"inf", which Python's int() rejects and the
    * reference therefore leaves as text) → the TRIMMED string. Sole
    * divergence: an integer wider than 64 bits (Python bignum) coerces to
    * double instead. */
  def coerceScalar(raw: Column): Column = {
    def dv(kind: Column, b: Column, l: Column, d: Column, s: Column): Column =
      struct(kind.as("kind"), b.as("bool_v"), l.as("long_v"),
        d.as("double_v"), s.as("str_v"))
    val nb = lit(null).cast(BooleanType)
    val nl = lit(null).cast(LongType)
    val nd = lit(null).cast(DoubleType)
    val ns = lit(null).cast(StringType)
    val text = trim(raw)
    val lowered = lower(text)
    val asDouble = text.try_cast(DoubleType)
    // is_integer() parity: floor-equal AND finite (floor(inf) = inf would
    // otherwise demote infinities to long and overflow).
    val isIntegral = asDouble === floor(asDouble) &&
      abs(asDouble) <= lit(Long.MaxValue.toDouble) && !isnan(asDouble)
    val asLong = text.try_cast(LongType)
    when(raw.isNull || text === "", dv(lit("null"), nb, nl, nd, ns))
      .when(lowered.isin("true", "false"),
        dv(lit("bool"), lowered === "true", nl, nd, ns))
      .when(text.contains(".") && asDouble.isNotNull && isIntegral,
        dv(lit("long"), nb, asDouble.cast(LongType), nd, ns))
      .when(text.contains(".") && asDouble.isNotNull,
        dv(lit("double"), nb, nl, asDouble, ns))
      .when(text.rlike("^[+-]?[0-9]+$") && asLong.isNotNull,
        dv(lit("long"), nb, asLong, nd, ns))
      .when(text.rlike("^[+-]?[0-9]+$") && asDouble.isNotNull,
        dv(lit("double"), nb, nl, asDouble, ns))
      .otherwise(dv(lit("string"), nb, nl, nd, text))
  }

  /** P15 companion (spark.py:322-335): normalize a string payload map —
    * drop blacklisted keys (message/error/error_message, case-insensitive)
    * and empty keys, coerce every remaining value, drop values that
    * coerced to null. One `transform_values` + two `map_filter`s, all
    * codegen'd; no driver-side re-typing. */
  def normalizePayload(payload: Column): Column = {
    val kept = map_filter(payload, (k, _) =>
      k.isNotNull && k =!= "" &&
        !lower(k).isin("message", "error", "error_message"))
    map_filter(transform_values(kept, (_, v) => coerceScalar(v)),
      (_, v) => v.getField("kind") =!= "null")
  }

  /** P6: drop rows with a nonempty error marker; null-safe (spark.py:249-251). */
  def dropErrorRows(df: DataFrame): DataFrame =
    df.filter(coalesce(length(trim(col("error_message"))), lit(0)) === 0)

  /** P12: keep analyzable rows only. */
  def analyzable(df: DataFrame): DataFrame =
    df.na.drop(Seq("location")).filter(col("event_timestamp").isNotNull)

  /** Adapter: the driver's `events` table → observation shape, so every
    * weather-parity operator runs against the shared test corpus.
    * location←user_id, event/kafka ts←ts (event_id breaks exact ties),
    * code←event_type, metric←value, payload←props. */
  def eventsAsObservations(events: DataFrame): DataFrame =
    events.select(
      col("user_id").cast(StringType).as("location"),
      col("ts").as("event_timestamp"),
      col("ts").as("kafka_timestamp"),
      col("event_id"),
      col("event_type").as("code"),
      col("value"),
      from_json(col("props"), PayloadSchema).as("payload"))
}
