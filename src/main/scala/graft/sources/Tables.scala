package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver's parquet test tables (TESTDATA.md).
  *
  * All loads are schema-on-read from parquet footers (no inferSchema cost);
  * `events.ts` needs special care: the file carries parquet TIMESTAMP(NANOS)
  * which Spark does not read natively — we read it as raw nanos
  * (`spark.sql.legacy.parquet.nanosAsLong`) and convert to microsecond
  * TimestampType with integer division (never double math: 2024 epoch-nanos
  * ≈ 1.7e18 > 2^53 would lose precision).
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** events with `ts` normalized to TimestampType (µs, session TZ pinned
    * UTC). Handles all three ways Spark may surface parquet NANOS.
    *
    * NOTE the conf set below is session-global and STICKY by design
    * (ADVICE r1): the flag must still hold at execution time (the scan
    * captures hadoop conf lazily), so a set/restore scope such as
    * `Session.withConf` would break the read; it suits an eager write.
    * Graft's own entrypoints (Verify/Bench/tests) also set it at
    * session build; this set is a safety net for driver-owned sessions.
    * It only affects parquet files that physically carry TIMESTAMP(NANOS).
    * Graft-written stores never do. Most keep Spark's default
    * `outputTimestampType`, INT96, which carries no min/max statistics;
    * `DeltaLogStore.commit` writes TIMESTAMP_MICROS, scoped to its write,
    * for the per-file statistics its reads skip files by. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
