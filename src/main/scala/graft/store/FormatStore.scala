package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Spread._

/** Alternative-format sinks/scans beyond parquet + JSON: ORC (the second
  * columnar format on Spark's built-in classpath) and CSV (the universal
  * interchange format). The reference's store zoo swaps byte layouts per
  * store class (/root/reference/stores/file_store.py:8-27 JSON,
  * apache_parquet.py:26-137 parquet, all_in_one_gzip_file_store.py:21-32
  * concat-gzip); in Spark a format is one `DataFrameWriter.format` choice,
  * so widening the zoo costs a store helper, not an engine.
  *
  * Scale notes:
  *  - ORC keeps the columnar contract: predicate pushdown + column
  *    pruning reach the reader (`PushedFilters` in the scan node), stripe
  *    statistics skip like parquet row groups, and `partitionBy(lang)`
  *    gives directory pruning identical to the parquet stores.
  *  - CSV is schema-on-READ with an EXPLICIT schema (never `inferSchema`,
  *    which costs a full extra pass at 100 TB). Timestamps travel as
  *    epoch-µs BIGINTs — a textual timestamp column would round to the
  *    writer's format precision; integers round-trip exactly. Doubles
  *    round-trip via Java shortest-representation toString. Quoted fields
  *    (`props` carries embedded '"') are escaped on write and restored on
  *    read with the same quote/escape pair.
  */
object FormatStore {

  /** Idempotent lang-partitioned ORC copy of `documents`. */
  def ensureOrcDocuments(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/documents_${SnapshotStore.sfName(sfDir)}_orc"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      graft.sources.Tables.documents(spark, sfDir)
        .repartition(col("lang"))
        .write
        .partitionBy("lang")
        .option("compression", "snappy")
        .mode("overwrite")
        .orc(path)
    }
    path
  }

  def readOrc(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)

  /** The CSV events projection: ts as epoch-µs BIGINT (exact), everything
    * else in its native type. */
  private def csvProjection(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), expr("unix_micros(ts)").as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))

  val csvEventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Idempotent CSV copy of `events` (header + default quote/escape). */
  def ensureCsvEvents(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/events_${SnapshotStore.sfName(sfDir)}_csv"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      // spread before the sink (r16, guide §2.5/§6): the events scan is
      // one row group, so unspread the serialize runs on one core and
      // the store lands as ONE file — which the explicit-schema scan
      // then parses 1-task (file < split size). One file per partition
      // keeps both sides of the round-trip wide; width follows the
      // session's shuffle-partition knob, never a local constant.
      csvProjection(spark, sfDir)
        .spreadBy(col("event_id"))
        .write
        .option("header", "true")
        .mode("overwrite")
        .csv(path)
    }
    path
  }

  /** Explicit-schema CSV scan — no inferSchema pass. */
  def readCsvEvents(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(csvEventsSchema)
      .option("header", "true")
      .csv(path)

  /** Idempotent XML copy of `events` — Spark 4's NATIVE XML data source
    * (spark-xml was folded into spark-sql in 4.0), same projection
    * contract as the CSV store: ts as epoch-µs BIGINT (a textual
    * timestamp would round to the writer's format), doubles via
    * shortest-round-trip toString, markup characters in `props`
    * (quotes, '<', '&') escaped by the writer and restored by the
    * parser. One row element per event under a single root. */
  def ensureXmlEvents(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/events_${SnapshotStore.sfName(sfDir)}_xml"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      // spread before the sink (r16, guide §2.5/§6): same rationale as
      // the CSV store — and the XML scan proved NOT to split within a
      // file at this size (the 23 MB single-file store parsed as one
      // ~0.9 s task, twice per run under orderBy's range-sample pass),
      // so the file-per-partition layout is what parallelizes the parse
      csvProjection(spark, sfDir)
        .spreadBy(col("event_id"))
        .write
        .option("rowTag", "event")
        .option("rootTag", "events")
        .mode("overwrite")
        .format("xml")
        .save(path)
    }
    path
  }

  /** Explicit-schema XML scan — schema-on-read like the CSV path (no
    * sampling/inference pass over 100 TB), rowTag-bounded record split so
    * the multi-gigabyte file still parallelizes per row element. */
  def readXmlEvents(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(csvEventsSchema)
      .option("rowTag", "event")
      .format("xml")
      .load(path)
}
