package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Entity-bucketed storage (Spark bucketBy) — the co-location strategy the
  * trajectory scale notes call for (Trajectory.scala: "Pre-bucketing the
  * flat table by the entity key makes repeated pivots shuffle-free").
  *
  * Writing `bucketBy(n, user_id).sortBy(ts)` persists the hash
  * distribution in the table metadata, so every later
  * groupBy/window/join on the entity key reads pre-clustered buckets and
  * plans NO Exchange — at 100 TB that deletes the one unavoidable
  * shuffle of the snapshot→trajectory pivot for every query after the
  * first. The sortBy clusters each bucket by time, so per-entity
  * trajectories read back in order.
  */
object BucketedStore {

  def bucketedTableName(sfDir: String): String =
    "events_bucketed_" + SnapshotStore.sfName(sfDir).replace('.', '_')

  /** Idempotent per-session bucketed events table (saveAsTable — bucket
    * metadata lives in the session catalog). The in-memory catalog forgets
    * tables across JVMs while the warehouse directory persists, so a stale
    * location from a previous run is deleted before re-creating (the table
    * is a derived cache of the source parquet — always safe to rebuild). */
  def ensureBucketedEvents(spark: SparkSession, sfDir: String, buckets: Int = 16): String =
    synchronized {
      val name = bucketedTableName(sfDir)
      if (!spark.catalog.tableExists(name)) {
        val warehouse = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val stale = new java.io.File(warehouse, name)
        if (stale.exists()) SnapshotStore.deleteRecursively(stale)
        Tables.events(spark, sfDir)
          .write
          .bucketBy(buckets, "user_id")
          .sortBy("ts")
          .mode("overwrite")
          .saveAsTable(name)
      }
      name
    }

  def read(spark: SparkSession, sfDir: String): DataFrame =
    spark.table(ensureBucketedEvents(spark, sfDir))

  def dimsTableName(sfDir: String): String =
    "user_dims_bucketed_" + SnapshotStore.sfName(sfDir).replace('.', '_')

  /** Per-user dim table derived FROM the bucketed events (the aggregation
    * itself plans no Exchange) and written with the SAME bucket count and
    * key, so an events ⋈ dims join on user_id is fully co-located — both
    * sides read pre-hashed buckets and the join plans zero shuffles.
    * At 100 TB this is the bucketed-warehouse contract: pay the
    * distribution once at write, every entity join after that is free. */
  def ensureBucketedUserDims(spark: SparkSession, sfDir: String, buckets: Int = 16): String =
    synchronized {
      val name = dimsTableName(sfDir)
      if (!spark.catalog.tableExists(name)) {
        val warehouse = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val stale = new java.io.File(warehouse, name)
        if (stale.exists()) SnapshotStore.deleteRecursively(stale)
        import org.apache.spark.sql.functions._
        read(spark, sfDir)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_ev"), min(col("ts")).as("first_ts"))
          .write
          .bucketBy(buckets, "user_id")
          .mode("overwrite")
          .saveAsTable(name)
      }
      name
    }
}
