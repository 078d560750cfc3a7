package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * All engine operators read through here so that scale-sensitive read
  * settings live in one place. At 100 TB these readers would point at a
  * partitioned cloud-storage layout (the reference's GCS bucket model,
  * /root/reference/main.py:16 `gs://{bucket}/{name}`); locally they read
  * the driver's parquet files. Column pruning + predicate pushdown are
  * preserved because we hand back the raw scan and let Catalyst push
  * the caller's filters/projections into it.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.parquet` has shipped with two physical layouts for `ts`:
    * TIMESTAMP(NANOS) (read as a plain long via nanosAsLong, since Spark's
    * parquet reader rejects nanos outright — PARQUET_TYPE_ILLEGAL) and,
    * after an Aug-2026 regeneration, TIMESTAMP(MICROS). We branch on the
    * scanned schema and normalize to the same two-column contract either
    * way: `ts` (TimestampType, micros) for windowing/watermarks and
    * `ts_ns` (long, epoch nanos) for exact arithmetic. Session TZ is UTC
    * everywhere so wall-clock values match the oracle's TIMESTAMP (ntz),
    * and DuckDB's `epoch_ns(ts)` yields the identical trailing-zero nanos
    * on micros data.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Set for the life of the session, NOT scoped: the parquet scan reads
    // this conf when it executes, after this method has returned.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns DIV 1000)"))
      case TimestampType =>
        raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      case TimestampNTZType =>
        // NTZ carries no zone; session TZ is UTC so the cast is exact.
        raw
          .withColumn("ts", expr("cast(ts as timestamp)"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other; expected long (nanos) or timestamp")
    }
  }
}
