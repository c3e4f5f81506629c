package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, regexp_extract, unix_micros}
import org.apache.spark.sql.types._

/** Test-table access for the driver fixtures (TESTDATA.md).
  *
  * Mirrors the reference's env-suffixed catalog resolution
  * (`utils/environment.py:23-34` in /root/reference) in spirit: a single
  * place that maps a logical table name to a physical location, so query
  * code never hard-codes paths.
  *
  * `events.parquet` stores `ts` as INT64 TIMESTAMP(NANOS), which Spark's
  * parquet reader rejects ([PARQUET_TYPE_ILLEGAL]). We read it with an
  * explicit schema taking the raw int64 nanoseconds; queries derive
  * micro/milli timestamps from it (`timestamp_micros(ts div 1000)`), and
  * oracle SQL uses DuckDB's `epoch_ns(ts)` so both engines sequence on the
  * exact same integer. Never emit a raw nanosecond timestamp column: the
  * two engines truncate differently.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events with `ts` as raw epoch-nanoseconds (LongType). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") readEvents(spark, s"$dir/$name.parquet")
    else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Events fixtures have shipped with `ts` as INT64 TIMESTAMP(NANOS)
    * (which Spark's reader rejects — read via [[eventsSchema]] as raw
    * int64) and as plain TIMESTAMP(MICROS) (read normally, widened
    * back to epoch-nanos). Either way callers see `ts` as epoch-nanos
    * LongType, so downstream `timestamp_micros(ts div 1000)` math and
    * the DuckDB `epoch_ns(ts)` oracle stay bit-identical. */
  private def readEvents(spark: SparkSession, path: String): DataFrame =
    try {
      val df = spark.read.parquet(path)
      df.schema("ts").dataType match {
        case TimestampType | TimestampNTZType =>
          // NTZ casts through session time (UTC everywhere here)
          df.withColumn("ts",
            unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
        case _ => df
      }
    } catch {
      case _: org.apache.spark.SparkException =>
        spark.read.schema(eventsSchema).parquet(path)
    }

  /** Scan with the hidden `_metadata.file_path` surfaced as `file_path`
    * (reference Repo.py:1603-1605: multi-endpoint ingest derives the
    * endpoint from the landing path, not from record content). The
    * metadata column is resolved by the file source itself — zero extra
    * IO; works identically on readStream sources. */
  def withFileMetadata(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    df.select(col("*"), col("_metadata.file_path").as("file_path"))
  }

  /** Endpoint id from an ingest file path, `.../repositories/<id>/...`
    * (Repo.py:1604). */
  def endpointId(filePath: Column): Column =
    regexp_extract(filePath, "repositories/([^/]+)/", 1)
}
