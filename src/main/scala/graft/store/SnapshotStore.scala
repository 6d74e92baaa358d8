package graft.store

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneId}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType, TimestampType}

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
  *
  * Reads build their relation from what the driver can see for itself.
  * The schema comes from one data file's footer ([[footerSchema]]), so no
  * inference job runs. [[rangeScan]] folds its bounds to literals, renders
  * their hours with [[bucketOf]] and lists the store root once, keeping
  * only the `bucket=` directories in range; [[lookupBucket]] names its one
  * directory. Those directories alone are read (`basePath` = the store
  * root, so `bucket` stays a partition column). Nothing is cached: every
  * call lists afresh and sees the last append.
  *
  * Every read installs [[graft.plans.GraftRules]] on its session: the
  * optimizer derives `bucket` bounds from a ts-only filter
  * (`DeriveBucketPredicate`), and the planner hands the post-scan filter
  * its timestamp bounds by reference (`BindTimestampBounds`), so a get or
  * traj at a new instant reuses the generated class of the last one.
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

  def bucketExpr(ts: Column): Column =
    date_format(date_trunc("hour", ts), "yyyy-MM-dd-HH")

  /** The driver-side twin of [[bucketExpr]]: the hour bucket of an instant
    * (epoch µs) rendered in `zone`, the session time zone the store's
    * writer rendered its buckets in. */
  def bucketOf(micros: Long, zone: String): String =
    DateTimeFormatter.ofPattern("yyyy-MM-dd-HH").withZone(ZoneId.of(zone))
      .format(Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L)))

  def dayBucketExpr(ts: Column): Column =
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

  /** Spark's own row schema of one parquet data file, read from its footer
    * on the driver: the `org.apache.spark.sql.parquet.row.metadata` entry
    * every Spark writer stores. It is the footer and the entry Spark's
    * schema-inference job reads when `mergeSchema` is off. */
  def footerSchema(spark: SparkSession, file: String): StructType = {
    val json = ParquetFiles.footer(spark, file).getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    require(json != null, s"$file carries no Spark row schema in its footer")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  private def bucketDirs(path: String): Seq[File] =
    Option(new File(path).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .sortBy(_.getName)

  /** The store's read schema: the data columns of the first data file's
    * footer, then `bucket: string`, the order and types Spark's inference
    * and partition discovery give the same store. */
  private def storeSchema(spark: SparkSession, path: String, dirs: Seq[File]): StructType = {
    val file = dirs.iterator
      .flatMap(d => d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")))
      .nextOption()
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file in store $path"))
    footerSchema(spark, file.getPath).add("bucket", StringType)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    graft.plans.GraftRules.install(spark)
    spark.read.schema(storeSchema(spark, path, bucketDirs(path))).parquet(path)
  }

  /** The store's rows from the hour directories in [lo, hi] alone. */
  private def readBuckets(spark: SparkSession, path: String, lo: String, hi: String): DataFrame = {
    graft.plans.GraftRules.install(spark)
    val dirs = bucketDirs(path)
    val hit = dirs.filter { d =>
      val b = d.getName.stripPrefix("bucket=")
      b >= lo && b <= hi
    }
    spark.read.schema(storeSchema(spark, path, dirs)).option("basePath", path)
      .parquet(hit.map(_.getPath): _*)
  }

  /** Point/bucket lookup: reads the one hour directory, and the equality
    * on the partition column stays in the plan (PartitionFilters). */
  def lookupBucket(spark: SparkSession, path: String, bucket: String): DataFrame =
    readBuckets(spark, path, bucket, bucket).filter(col("bucket") === bucket)

  /** Time-range scan over [lo, hi): the bounds must fold to constants.
    * Only the hour directories from bucketOf(lo) to bucketOf(hi − 1 µs)
    * are listed and read; DeriveBucketPredicate (installed with the read)
    * still derives the bucket predicate from the ts filter, which pushes
    * to parquet row groups. */
  def rangeScan(spark: SparkSession, path: String, lo: Column, hi: Column): DataFrame = {
    val (loUs, hiUs) = foldBounds(spark, lo, hi)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    readBuckets(spark, path, bucketOf(loUs, zone), bucketOf(hiUs - 1, zone))
      .filter(col("ts") >= lo && col("ts") < hi)
  }

  /** Both bounds as epoch µs, folded by the optimizer on the driver (no job
    * runs); a bound that is not a constant timestamp fails. */
  private def foldBounds(spark: SparkSession, lo: Column, hi: Column): (Long, Long) =
    spark.range(1).select(lo.cast("timestamp"), hi.cast("timestamp"))
      .queryExecution.optimizedPlan match {
      case Project(Seq(Alias(Literal(l: Long, TimestampType), _),
          Alias(Literal(h: Long, TimestampType), _)), _) => (l, h)
      case other => throw new IllegalArgumentException(
        s"rangeScan bounds must be constant timestamps: $lo, $hi (folded to $other)")
    }

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
