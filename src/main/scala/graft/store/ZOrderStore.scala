package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ZOrder
import graft.sources.Tables

/** Z-order-clustered events store: rows keyed by the Morton interleave of
  * (value-grid, user-grid), partitioned by the key's high bits and sorted
  * by the full key within each file. A 2-D bbox query then becomes ONE
  * range predicate on the clustered key: partition dirs outside
  * [zlo>>shift, zhi>>shift] never list, parquet row groups outside
  * [zlo, zhi] skip via min/max stats, and the exact bbox re-check removes
  * the z-curve jump gap — the layout trick behind Delta/Iceberg OPTIMIZE
  * ZORDER, built from primitives.
  */
object ZOrderStore {

  /** 64 partition dirs from the 32-bit key's high 6 bits. */
  val BucketShift = 26

  def gridX(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(value * 1000).cast("long").bitwiseAND(lit(0xFFFFL))

  def gridY(userId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    userId.bitwiseAND(lit(0xFFFFL))

  def ensureZEventsStore(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/events_${SnapshotStore.sfName(sfDir)}_zorder"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      Tables.events(spark, sfDir)
        .withColumn("gx", gridX(col("value")))
        .withColumn("gy", gridY(col("user_id")))
        .withColumn("zkey", ZOrder.mortonKey(col("gx"), col("gy")))
        .withColumn("zbucket", shiftright(col("zkey"), BucketShift))
        // the zbucket sort prefix satisfies the file writer's required
        // partition-column ordering, so no (unstable) extra sort is
        // inserted and the zkey order survives into each file's row
        // groups — that order is what makes the min/max stats tight
        .repartition(col("zbucket"))
        .sortWithinPartitions(col("zbucket"), col("zkey"))
        .write
        .partitionBy("zbucket")
        .mode("overwrite")
        .parquet(path)
    }
    path
  }

  /** bbox scan: the z-range [morton(lo), morton(hi)] prunes partitions
    * (explicit zbucket bounds — literal, so the planner prunes at compile
    * time) and row groups (zkey pushdown); the exact gx/gy predicates
    * remove z-jump extras. Correct because Morton is monotonic per
    * coordinate — no bbox point can fall outside the z-range. */
  def bboxScan(spark: SparkSession, path: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): DataFrame = {
    val zLo = ZOrder.mortonKeyLong(xLo, yLo)
    val zHi = ZOrder.mortonKeyLong(xHi, yHi)
    spark.read.parquet(path)
      .filter(col("zbucket") >= lit(zLo >> BucketShift) &&
        col("zbucket") <= lit(zHi >> BucketShift))
      .filter(col("zkey") >= lit(zLo) && col("zkey") <= lit(zHi))
      .filter(col("gx").between(xLo, xHi) && col("gy").between(yLo, yHi))
  }
}
