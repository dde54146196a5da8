package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** The reference's ingest path (SURVEY.md §2.3 P1-P9): binary Avro envelope
  * → nested struct → explode array-of-trades → flatten → rename → derive.
  * Reference: `scripts/StreamProcessing/ProcessStockStream.py:100-109`.
  *
  * Offline there is no `spark-avro` jar, so the envelope is carried as a
  * JSON string with the identical nested shape ([[Schemas.envelope]]) and
  * decoded with `from_json` — same plan shape, same downstream operators
  * (SURVEY.md §2.3 P1 fallback note).
  */
object Decode {

  /** Producer side (`scripts/FinnhubProducer/FinnhubProducer.py:32-40`):
    * batch flat trades into envelopes — an array of trade records per
    * (symbol, hour) — including the producer's running cumulative volume
    * (`FinnhubProducer.py:34-36`), serialized to a JSON `value` column.
    */
  def encodeEnvelopes(trades: DataFrame): DataFrame = {
    val cumW = Window.partitionBy("symbol")
      .orderBy(col("timestamp"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trades
      .withColumn("cv", graft.Num.decD(
        sum(col("volume").cast("decimal(18,6)")).over(cumW)))
      .select(
        col("symbol"),
        date_trunc("hour", col("timestamp")).as("envelope_hour"),
        struct(
          lit(null).cast("array<string>").as("c"),
          col("price").as("p"),
          col("symbol").as("s"),
          unix_millis(col("timestamp")).as("t"),
          col("volume").as("v"),
          col("cv").as("cv")).as("trade"))
      .groupBy(col("symbol"), col("envelope_hour"))
      .agg(collect_list(col("trade")).as("data"))
      .select(to_json(struct(col("data"), lit("trade").as("type"))).as("value"))
  }

  /** Consumer side (`ProcessStockStream.py:100-109`): decode the envelope,
    * star-expand, explode the trade array, convert epoch-millis to
    * timestamp, bulk-rename, and derive `usd_volume = price * volume`.
    * Output shape: FIXTURES.md §2.
    */
  def decodeFlatten(envelopes: DataFrame): DataFrame =
    envelopes
      .select(from_json(col("value"), Schemas.envelope).as("value")) // P1
      .select(col("value.*"))                                        // P2
      .select(explode(col("data")).as("col"), col("type"))           // P3
      .select(col("col.*"))
      .withColumn("timestamp", timestamp_millis(col("t")))           // P4
      .withColumnsRenamed(Map(                                       // P5
        "p" -> "price", "s" -> "symbol",
        "v" -> "volume", "cv" -> "cumulative_volume"))
      .withColumn("usd_volume", col("price") * col("volume"))        // P6
      .select("symbol", "timestamp", "price", "volume",              // P7
        "usd_volume", "cumulative_volume")

  /** Full round trip: flat trades → envelopes → decoded flat trades.
    * Exercises P1-P7 end-to-end; the result is oracle-comparable to a
    * direct projection (timestamps truncated to millis by the envelope's
    * Avro `long t`, `trades.avsc:33-36`).
    */
  def roundTrip(trades: DataFrame): DataFrame =
    decodeFlatten(encodeEnvelopes(trades))

  /** Corrupt-record quarantine (dead-letter routing): production ingest
    * never assumes clean payloads — a malformed message must land in a
    * quarantine channel with its raw bytes preserved, never poison the
    * batch or vanish silently. Every 100th message here is
    * deterministically mangled (so the oracle can replay the rule);
    * PERMISSIVE `from_json` captures malformed input in the declared
    * `columnNameOfCorruptRecord` field (a null struct is NOT emitted —
    * Spark 4 fills the fields with nulls, so the corrupt column is the
    * only reliable malformed signal), which routes the row to
    * `status = 'quarantined'` with the raw payload kept for replay,
    * while good rows decode normally. One codegen'd projection end to
    * end — per-row error handling without a UDF, and the same plan
    * shape at any corpus size. */
  def deadLetterDecode(trades: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val msgSchema = StructType(Seq(
      StructField("s", StringType), StructField("p", DoubleType),
      StructField("_corrupt_record", StringType)))
    val wire = trades.select(col("event_id"),
      when(col("event_id") % 100 === 0,
        concat(lit("{corrupt:"), col("event_id").cast("string")))
        .otherwise(to_json(struct(col("symbol").as("s"),
          col("price").as("p")))).as("value"))
    wire.withColumn("m", from_json(col("value"), msgSchema, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .select(col("event_id"),
        when(col("m._corrupt_record").isNotNull, lit("quarantined"))
          .otherwise(lit("ok")).as("status"),
        col("m._corrupt_record").as("raw_payload"),
        col("m.s").as("symbol"), col("m.p").as("price"))
  }

  /** The same ingest path over the true Avro *wire format* (the
    * reference's Kafka payload encoding, `common_function.py:22-27` /
    * `ProcessStockStream.py:100-102`): envelopes serialized to Avro
    * binary with [[graft.functions.AvroCodec.EncodeEnvelope]], decoded
    * back with the paired Catalyst expression, then the identical
    * flatten/rename/derive plan. Requires a session with
    * [[graft.GraftExtensions]] installed. */
  def avroRoundTrip(spark: org.apache.spark.sql.SparkSession,
      trades: DataFrame): DataFrame = {
    val cumW = Window.partitionBy("symbol")
      .orderBy(col("timestamp"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val envelopes = trades
      .withColumn("cv", graft.Num.decD(
        sum(col("volume").cast("decimal(18,6)")).over(cumW)))
      .select(
        col("symbol"),
        date_trunc("hour", col("timestamp")).as("envelope_hour"),
        struct(
          lit(null).cast("array<string>").as("c"),
          col("price").as("p"),
          col("symbol").as("s"),
          unix_millis(col("timestamp")).as("t"),
          col("volume").as("v"),
          col("cv").as("cv")).as("trade"))
      .groupBy(col("symbol"), col("envelope_hour"))
      .agg(collect_list(col("trade")).as("data"))
      .select(expr(
        "avro_encode_envelope(struct(data, 'trade' AS type))").as("value"))
    envelopes
      .select(expr("avro_decode_envelope(value)").as("value"))
      .select(col("value.*"))
      .select(explode(col("data")).as("col"), col("type"))
      .select(col("col.*"))
      .withColumn("timestamp", timestamp_millis(col("t")))
      .withColumnsRenamed(Map(
        "p" -> "price", "s" -> "symbol",
        "v" -> "volume", "cv" -> "cumulative_volume"))
      .withColumn("usd_volume", col("price") * col("volume"))
      .select("symbol", "timestamp", "price", "volume",
        "usd_volume", "cumulative_volume")
  }
}
