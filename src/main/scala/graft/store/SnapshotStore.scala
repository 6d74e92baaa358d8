package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Hour-partitioned parquet snapshot store — the ApacheParquetStore
  * capability (/root/reference/stores/apache_parquet.py:26-137: codec
  * choice :16, `timestamp[:13]` hour-bucket file layout :27,107, pruned
  * lookup :113-117) done the Spark way: `partitionBy(bucket)` on write so
  * reads get `PartitionFilters` + parquet row-group pushdown for free.
  *
  * Scale notes: the bucket is a *string* partition column
  * ("yyyy-MM-dd-HH") — hour granularity bounds partition count (8.8k/yr)
  * while keeping each partition a contiguous scan unit; a point lookup
  * reads exactly one partition's files. Appends land as new files in the
  * bucket dir (no read-modify-write — the reference re-concatenates the
  * whole bucket per append, apache_parquet.py:62-103; Spark appends are
  * O(new data)).
  */
object SnapshotStore {

  /** All store output stays under `target/` of the working directory, so
    * two checkouts never share stores, staging frames or tuning ledgers. */
  val root: String = Paths.get("target", "graftstore").toAbsolutePath.toString

  /** Recursive delete (shared by bench re-baselining and stale-location
    * cleanup). */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteRecursively)
    f.delete(); ()
  }

  def bucketExpr(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    date_format(date_trunc("hour", ts), "yyyy-MM-dd-HH")

  def dayBucketExpr(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    date_format(date_trunc("day", ts), "yyyy-MM-dd")

  /** Write a flat frame as an hour-partitioned store. The repartition on
    * the bucket key means each hour directory gets ONE file instead of
    * one per (task × bucket) — without it a 32-task write of a year of
    * hours would scatter ~280k tiny files. */
  def write(df: DataFrame, path: String, tsCol: String, codec: String = "snappy"): Unit =
    df.withColumn("bucket", bucketExpr(col(tsCol)))
      .repartition(col("bucket"))
      .write
      .partitionBy("bucket")
      .option("compression", codec)
      .mode("overwrite")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame = {
    graft.plans.GraftRules.install(spark)
    spark.read.parquet(path)
  }

  /** Point/bucket lookup: equality on the partition column prunes to one
    * hour directory (PartitionFilters in the physical plan). */
  def lookupBucket(spark: SparkSession, path: String, bucket: String): DataFrame =
    read(spark, path).filter(col("bucket") === bucket)

  /** Time-range scan: only the ts bounds are written here — the bucket
    * partition predicate is DERIVED by the DeriveBucketPredicate optimizer
    * rule (installed by read()), so hour directories prune and the ts
    * filter pushes to parquet row groups. */
  def rangeScan(spark: SparkSession, path: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): DataFrame =
    read(spark, path).filter(col("ts") >= lo && col("ts") < hi)

  /** The scale-factor directory's own name (e.g. `sf0.1`), the key of every
    * derived store path under [[root]]. */
  def sfName(sfDir: String): String = Paths.get(sfDir).getFileName.toString

  /** Idempotent per-(sf,codec) events store; written once per JVM+disk
    * lifetime, keyed by a _SUCCESS marker. */
  def ensureEventsStore(spark: SparkSession, sfDir: String, codec: String = "snappy"): String =
    synchronized {
      val path = s"$root/events_${sfName(sfDir)}_$codec"
      if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
        write(Tables.events(spark, sfDir), path, "ts", codec)
      }
      path
    }

  /** Day-partitioned single-file-per-day copy of events — the COARSE
    * replay layout for the streaming queries. The hour-partitioned store
    * is the right read-path layout (point lookups prune to one dir), but
    * a FileStreamSource re-lists the whole store per micro-batch: at
    * sf0.1 that is 720 one-file hour dirs (~2.2 s/listing, VERDICT r3);
    * at a year of data it is 8.8k dirs per batch. Day granularity bounds
    * the listing to 365 dirs/files per year while keeping ordered
    * time-bucket ingest semantics. */
  def ensureReplayStore(spark: SparkSession, sfDir: String): String =
    synchronized {
      val path = s"$root/events_${sfName(sfDir)}_replay"
      if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
        Tables.events(spark, sfDir)
          .withColumn("bucket", dayBucketExpr(col("ts")))
          .repartition(col("bucket"))
          .write
          .partitionBy("bucket")
          .mode("overwrite")
          .parquet(path)
      }
      path
    }

  /** Recursive byte size of a written store — the reference's
    * `get_total_size` stat (/root/reference/stores/file_store.py:26-27). */
  def totalSizeBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
