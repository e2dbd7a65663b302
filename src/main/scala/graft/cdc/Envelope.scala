package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium CDC envelope parsing → flat bronze rows.
  *
  * Re-derives the reference's streaming parse views
  * (`/root/reference/scripts/cdc_to_parquet.py:91-122`,
  * `cdc_to_pinot_current.py:83-114`): 16 JSONPath extractions + casts,
  * null-op filter, op whitelist, second-truncated event time, `dt`
  * partition key. Spark-first difference: ONE `from_json` against a
  * typed envelope schema instead of 16 `JSON_VALUE` calls — a single
  * codegen'd parse per record instead of 16 JSON re-parses, with
  * identical null-on-malformed semantics (PERMISSIVE mode).
  */
object Envelope {

  /** `source_sales` row image as Debezium emits it: decimals arrive as
    * strings (`connectors/connectors.yaml:15` decimal.handling.mode),
    * dates as epoch-days INT, timestamps as epoch-micros BIGINT. */
  val rowImageSchema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("product_name", StringType),
    StructField("category", StringType),
    StructField("price", StringType),
    StructField("quantity", IntegerType),
    StructField("sale_date", IntegerType),
    StructField("created_at", LongType)))

  val envelopeSchema: StructType = StructType(Seq(
    StructField("payload", StructType(Seq(
      StructField("before", rowImageSchema),
      StructField("after", rowImageSchema),
      StructField("op", StringType),
      StructField("ts_ms", LongType),
      StructField("source", StructType(Seq(
        StructField("db", StringType),
        StructField("table", StringType),
        StructField("txId", LongType),
        StructField("lsn", LongType)))))))))

  /** The flat bronze schema (`cdc_to_parquet.py:131-158`): both row
    * images, the envelope fields, then the `dt` partition key — exactly
    * what [[toBronze]] writes. Readers of a bronze directory pass it to
    * `spark.read.schema`, so no footer-inference job runs per read.
    * `price` stays STRING here deliberately (SURVEY §7.4.8). */
  val bronzeSchema: StructType = {
    def image(side: String) = rowImageSchema.fields.toSeq
      .map(f => StructField(s"${side}_${f.name}", f.dataType))
    StructType(image("after") ++ image("before") ++ Seq(
      StructField("op", StringType),
      StructField("ts_ms", LongType),
      StructField("event_timestamp", TimestampType),
      StructField("source_db", StringType),
      StructField("source_table", StringType),
      StructField("txId", LongType),
      StructField("lsn", LongType),
      StructField("dt", StringType)))
  }

  private def image(side: String): Seq[Column] =
    rowImageSchema.fieldNames.toSeq.map(f => col(s"j.payload.$side.$f").as(s"${side}_$f"))

  /** Raw Kafka-style value (`raw_message` STRING) → flat CDC rows.
    * Malformed JSON / missing paths null out (PERMISSIVE `from_json`);
    * rows without `$.payload.op` are dropped (`cdc_to_parquet.py:121`).
    *
    * Event time is `TO_TIMESTAMP(FROM_UNIXTIME(ts_ms/1000))` — integer
    * division, so millis are truncated to SECOND precision exactly like
    * the reference (`cdc_to_parquet.py:119`; SURVEY §7.4.5). */
  def flatten(raw: DataFrame): DataFrame = {
    val parsed = raw.select(from_json(col("raw_message"), envelopeSchema).as("j"))
    parsed.select(
      image("after") ++ image("before") ++ Seq(
        col("j.payload.op").as("op"),
        col("j.payload.ts_ms").as("ts_ms"),
        to_timestamp(from_unixtime(expr("j.payload.ts_ms div 1000"))).as("event_timestamp"),
        col("j.payload.source.db").as("source_db"),
        col("j.payload.source.table").as("source_table"),
        col("j.payload.source.txId").as("txId"),
        col("j.payload.source.lsn").as("lsn")): _*)
      .filter(col("op").isNotNull)
  }

  /** Bronze shaping: op whitelist + daily partition key
    * (`cdc_to_parquet.py:168-205`). */
  def toBronze(flat: DataFrame): DataFrame =
    flat.filter(col("op").isin("c", "r", "u", "d"))
      .withColumn("dt", date_format(col("event_timestamp"), "yyyy-MM-dd"))
}
