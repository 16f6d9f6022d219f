package graft.routing

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Decode/encode the reference's wire format with built-in, codegen'd
  * expressions only.
  *
  * Reference behavior: `new Buffer(record.kinesis.data, 'base64').toString()`
  * then `JSON.parse(payload)` with parse failure quarantined as a bad message
  * rather than failing the batch (reference: lib/kinesisHandler.js:169,
  * 167-174, 286-293). Spark-first mapping: `unbase64` + `from_json`, with
  * corrupt input decoded to a NULL event — the NULL is the quarantine
  * signal picked up by [[Router]] (see [[withDecodedEvent]]).
  */
object EventCodec {

  /** Base64 → UTF-8 string. NULL on invalid input rather than an error —
    * `try_to_binary` keeps the quarantine contract even under ANSI mode
    * (plain `unbase64` throws on malformed base64 in Spark 4, which would
    * fail the batch — exactly what the reference avoids, ref :167-174).
    */
  def decodeBase64(data: Column): Column =
    call_function("try_to_binary", data, lit("base64")).cast("string")

  /** `from_json`'s corrupt-record column (Spark's default name). */
  private val CorruptField = "_corrupt_record"

  /** Attach a decoded `event` struct column (typed by `schema`) from
    * `kinesis.data`. Corrupt base64, or text that is not JSON, yields a NULL
    * event (the quarantine signal).
    *
    * `from_json` alone does not give that signal: on truncated JSON it
    * returns an all-null or partial struct, which routing would file as a
    * missing schema or an invalid envelope. So the parse carries a
    * [[CorruptField]] column, which `from_json` sets on ANY failed row —
    * truncation, but also a well-formed value of the wrong type (`"k":"x"`
    * for a long `k`, which must stay a payload-validation verdict). A
    * second parse, `try_parse_json`, runs only on those rows and tells the
    * two apart: NULL means the text is not JSON at all. The helper field is
    * dropped, so the event's schema is exactly `schema`.
    *
    * Two projections, so the JSON is parsed once per row: the second reads
    * the parse three times, which keeps the optimizer from inlining it.
    */
  def withDecodedEvent(records: DataFrame, schema: StructType,
                       eventCol: String = "event"): DataFrame = {
    val parsed = col(eventCol)
    val corrupt = parsed.getField(CorruptField)
    records
      .withColumn(eventCol,
        from_json(decodeBase64(col("kinesis.data")), schema.add(CorruptField, StringType)))
      .withColumn(eventCol,
        when(corrupt.isNotNull && try_parse_json(corrupt).isNull, lit(null).cast(schema))
          .otherwise(parsed.dropFields(CorruptField)))
  }

  /** Inverse (test fixtures / round-trips): struct → base64 JSON string. */
  def encodeEvent(event: Column): Column = base64(to_json(event).cast("binary"))
}
