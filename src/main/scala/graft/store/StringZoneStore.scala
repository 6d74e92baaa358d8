package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** File-level STRING zone map — the Iceberg `truncate(width)` transform
  * built from primitives (cf. reference stores' per-file metadata
  * pruning; Iceberg spec §Partition Transforms, public). [[SkipIndexStore]]
  * answers point probes on a non-layout column via hash signatures;
  * hashing destroys ORDER, so it can never serve a prefix/range
  * predicate (`key LIKE 'sp%'`). This store keeps order: documents are
  * range-clustered by a string key (the writer's sort order), and the
  * index holds each bucket's min/max TRUNCATED to [[TruncWidth]] chars —
  * the fixed-width zone entry Iceberg/Delta keep per file so manifests
  * stay small no matter how long the strings are.
  *
  * Truncation safety: for a prefix `p` with length ≤ [[TruncWidth]],
  * every key starting with `p` has `left(key, W) >= p` and
  * `left(key, W) <= p || U+FFFF`, so a bucket may be skipped when
  * `max_w < p` or `min_w > p || U+FFFF` — false skips are impossible,
  * false keeps cost one pruned scan, never a row.
  *
  * Scale shape: the index is O(buckets) fixed-width rows (2·W chars per
  * file — the manifest-stat cost every lakehouse pays); the consult is a
  * driver-side filter over that bounded frame → a LITERAL bucket
  * IN-list, so the main scan's PartitionFilters prune skipped dirs at
  * compile time and the prefix predicate pushes as a row filter. At
  * 100 TB: same per-file stat rows kept beside the manifest; range
  * clustering at write time is what makes the zones tight. */
object StringZoneStore {

  /** Range-clustered layout buckets (the writer's sort order). */
  val Buckets = 32

  /** Zone-entry truncation width (chars kept of each min/max). */
  val TruncWidth = 4

  /** Documents range-clustered by their first text token (the "title
    * key" a corpus store sorts by); doc_id tiebreak keeps buckets
    * balanced under heavy key duplication. */
  def ensureZoneStore(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/documents_${SnapshotStore.sfName(sfDir)}_zonestore"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      Tables.documents(spark, sfDir)
        .withColumn("zkey", substring_index(col("text"), " ", 1))
        .repartitionByRange(Buckets, col("zkey"), col("doc_id"))
        .withColumn("fb", spark_partition_id())
        .write.partitionBy("fb").mode("overwrite").parquet(path)
    }
    path
  }

  /** Per-bucket truncated min/max of the cluster key — one map-side
    * combined pass, O(buckets) output. */
  def ensureZoneIndex(spark: SparkSession, storePath: String): String = synchronized {
    val path = s"$storePath-index"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      spark.read.parquet(storePath)
        .select(col("fb"), substring(col("zkey"), 1, TruncWidth).as("_t"))
        .groupBy(col("fb"))
        .agg(min(col("_t")).as("zmin"), max(col("_t")).as("zmax"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Prefix scan through the zone map: consult min/max zones → literal
    * bucket IN-list (compile-time partition pruning) → pushed
    * `startswith` row filter for the exact match. `prefix` must be
    * 1..TruncWidth chars (longer prefixes still prune on their first
    * TruncWidth chars — pass the truncation, filter the full prefix). */
  def prefixScan(spark: SparkSession, storePath: String, indexPath: String,
      prefix: String): DataFrame = {
    require(prefix.nonEmpty && prefix.length <= TruncWidth,
      s"prefix must be 1..$TruncWidth chars: '$prefix'")
    val hi = prefix + "￿"
    val hitBuckets = spark.read.parquet(indexPath)
      .filter(col("zmax") >= prefix && col("zmin") <= hi)
      .select(col("fb"))
      .collect().map(_.getInt(0)) // bounded: ≤ Buckets ints
    spark.read.parquet(storePath)
      .filter(col("fb").isin(hitBuckets.map(Integer.valueOf): _*))
      .filter(col("zkey").startsWith(prefix))
  }
}
