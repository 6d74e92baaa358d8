package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** JSON file stores — the reference's FileStore / GZipFileStore /
  * AllInOneGZipFileStore family (/root/reference/stores/file_store.py:8-27,
  * gzip_file_store.py:9-28, all_in_one_gzip_file_store.py:9-37):
  * one JSON file (tree) per DAY bucket with optional gzip codec, plus the
  * degenerate concat-everything single file whose lookup is a linear scan.
  *
  * Timestamps are stored as epoch-µs longs (`ts_us`) — JSON has no
  * timestamp type, and a round-trip through ISO strings would re-open the
  * ns/µs ambiguity the parquet path already solved.
  *
  * Scale notes: the per-bucket layout scans only matching day dirs when
  * filtered on `bucket` (partition pruning works for JSON sources too);
  * the concat-all store is kept deliberately degenerate — `coalesce(1)`
  * funnels everything through one task, which is exactly the behavior the
  * reference benchmarks against (a single gzip member is not splittable,
  * so reads are also single-task). Schema is always supplied explicitly —
  * never pay a second inference pass over 100 TB.
  */
object JsonStore {

  val schemaDdl =
    "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"

  /** Day buckets (not the parquet store's hours): the FileStore analog
    * needs one-file-per-time-unit semantics, and a JSON tree pays file
    * and commit overhead per directory — day granularity keeps the
    * layout/pruning story at 1/24th the file count. */
  def bucketExpr(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    date_format(date_trunc("day", ts), "yyyy-MM-dd")

  private def flatEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("event_id"),
      expr("unix_micros(ts)").as("ts_us"),
      col("user_id"), col("event_type"), col("value"),
      bucketExpr(col("ts")).as("bucket"))

  /** One JSON file per day bucket (FileStore; gzip codec ⇒ GZipFileStore). */
  def write(df: DataFrame, path: String, codec: Option[String]): Unit = {
    val w = df.repartition(col("bucket")).write.partitionBy("bucket").mode("overwrite")
    codec.fold(w)(c => w.option("compression", c)).json(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaDdl + ", bucket STRING").json(path)

  /** Everything in ONE gzip JSON file (AllInOneGZipFileStore). */
  def writeConcatAll(df: DataFrame, path: String): Unit =
    df.drop("bucket").coalesce(1).write.mode("overwrite")
      .option("compression", "gzip").json(path)

  def readConcatAll(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaDdl).json(path)

  /** Linear-scan lookup: full scan + first-match
    * (all_in_one_gzip_file_store.py:24-27). */
  def linearScanLookup(all: DataFrame, tsUs: Long): DataFrame =
    all.filter(col("ts_us") === tsUs).limit(1)

  def ensureEventsJsonStore(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/json_events_${SnapshotStore.sfName(sfDir)}"
    if (!Files.exists(Paths.get(path, "_SUCCESS")))
      write(flatEvents(spark, sfDir), path, codec = None)
    path
  }

  def ensureConcatAllStore(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/json_all_${SnapshotStore.sfName(sfDir)}"
    if (!Files.exists(Paths.get(path, "_SUCCESS")))
      writeConcatAll(flatEvents(spark, sfDir), path)
    path
  }
}
