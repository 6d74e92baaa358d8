package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** File-level DATA-SKIPPING index on a NON-layout column — the
  * bloom/zone-map trick behind Delta/Iceberg file statistics, built from
  * primitives. [[ZOrderStore]] prunes when the predicate column IS the
  * clustering key; this store answers the other production case: the
  * layout is chosen by ingest (rows bucketed by the writer's natural key,
  * here user hash), but lookups arrive on a DIFFERENT key (event_id) that
  * no partition-dir arithmetic can route. Without an index every probe
  * scans all buckets; with a per-bucket hash-bit membership signature
  * (a k=1 Bloom filter: the set of `xxhash64(key) mod Bits` values
  * present), a probe reads only the buckets whose signature contains its
  * key's bit — plus a bounded false-positive tail (bucket occupancy /
  * Bits, ~5% here).
  *
  * Scale shape: the index is O(buckets · min(distinct keys, Bits)) ints —
  * the ~per-file-bloom cost every lakehouse pays (parquet column blooms
  * are the same order). Index consult = (buckets) rows ⋈ broadcast
  * (probes) rows; the surviving bucket list (≤ Buckets ints, a bounded
  * scalar set like the audited band-count collects) becomes a LITERAL
  * partition predicate, so the main scan's PartitionFilters prune the
  * skipped dirs at compile time and the probe set applies as a pushed
  * row filter. Nothing row-count-sized moves except the matching rows.
  * At 100 TB: same construction per file instead of per dir, signatures
  * kept beside the manifest; size `Bits` at ~16× the per-file distinct
  * count to hold the false-positive rate.
  */
object SkipIndexStore {

  /** Layout buckets (ingest-side user-hash clustering). */
  val Buckets = 32

  /** Signature space: probe-key hash bits per bucket. */
  val Bits = 1 << 16

  /** Events bucketed by user-hash — the writer's natural clustering,
    * deliberately UNCORRELATED with the lookup key. */
  def ensureSkipStore(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/events_${SnapshotStore.sfName(sfDir)}_skipidx"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"),
          pmod(xxhash64(col("user_id")), lit(Buckets.toLong)).as("fb"))
        .repartition(col("fb"))
        .write.partitionBy("fb").mode("overwrite").parquet(path)
    }
    path
  }

  /** Per-bucket membership signature over the LOOKUP key: sorted distinct
    * `xxhash64(event_id) mod Bits` ints. One map-side-combined pass. */
  def ensureSkipIndex(spark: SparkSession, storePath: String): String = synchronized {
    val path = s"$storePath-index"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      spark.read.parquet(storePath)
        .select(col("fb"),
          pmod(xxhash64(col("event_id")), lit(Bits.toLong)).cast("int").as("_h"))
        .groupBy(col("fb"))
        .agg(array_sort(collect_set(col("_h"))).as("sig"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Point-set lookup through the index: consult signatures → literal
    * bucket IN-list (compile-time partition pruning on the main scan) →
    * broadcast semi-join for the exact probe match. `keys` must carry a
    * long column `k`; result is pruned-scan rows whose event_id ∈ keys.
    * False-positive buckets cost a pruned scan each, never correctness. */
  def skipScan(spark: SparkSession, storePath: String, indexPath: String,
      keys: DataFrame): DataFrame = {
    val probes = keys.select(col("k"),
      pmod(xxhash64(col("k")), lit(Bits.toLong)).cast("int").as("_h"))
    val hitBuckets = spark.read.parquet(indexPath)
      .join(broadcast(probes), array_contains(col("sig"), col("_h")))
      .select(col("fb")).distinct()
      .collect().map(_.getInt(0)) // bounded: ≤ Buckets ints
    spark.read.parquet(storePath)
      .filter(col("fb").isin(hitBuckets.map(Integer.valueOf): _*))
      .join(broadcast(keys.select(col("k").as("event_id"))), Seq("event_id"), "left_semi")
  }
}
