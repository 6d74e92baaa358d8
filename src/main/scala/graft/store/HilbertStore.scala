package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HilbertOps
import graft.sources.Tables

/** Hilbert-clustered events store — the jump-free sibling of
  * [[ZOrderStore]] (the layout modern lakehouse OPTIMIZE prefers over
  * Z-order: consecutive keys are always grid neighbors, so a bbox's rows
  * concentrate in fewer files at equal file size).
  *
  * Pruning model: the Hilbert key is NOT monotonic per coordinate, so
  * there is no single [h(lo), h(hi)] range — instead every partition dir
  * (key high bits) is an exact aligned QUADRANT of the grid (contiguous
  * key block ↔ aligned 2^13×2^13 square at [[BucketShift]] = 26), and
  * the covering set of a bbox is computed DRIVER-SIDE by decoding each
  * dir's block origin (64 decodes — plan constants, the [[SkipIndexStore]]
  * IN-list shape). Within surviving dirs, rows are hkey-sorted, which
  * spatially clusters row groups, so the exact gx/gy pushdown prunes on
  * tight min/max stats.
  */
object HilbertStore {

  /** 64 partition dirs from the 32-bit key's high 6 bits = the 64
    * depth-3 quadrants (8192×8192 blocks) of the 16-order grid. */
  val BucketShift = 26

  /** Side of the aligned square each partition dir covers. */
  val BlockSide: Long = 1L << 13

  def ensureHilbertStore(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/events_${SnapshotStore.sfName(sfDir)}_hilbert"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      Tables.events(spark, sfDir)
        .withColumn("gx", ZOrderStore.gridX(col("value")))
        .withColumn("gy", ZOrderStore.gridY(col("user_id")))
        .withColumn("hkey", HilbertOps.hilbertKey(col("gx"), col("gy")))
        .withColumn("hbucket", shiftright(col("hkey"), BucketShift))
        // hbucket sort prefix satisfies the writer's partition-column
        // ordering (no extra unstable sort), and the hkey order inside
        // each file is what makes gx/gy row-group min/max stats tight
        .repartition(col("hbucket"))
        .sortWithinPartitions(col("hbucket"), col("hkey"))
        .write
        .partitionBy("hbucket")
        .mode("overwrite")
        .parquet(path)
    }
    path
  }

  /** The partition dirs whose quadrant intersects the bbox — driver-side
    * over all 64 dir ids (each id's block origin = decode of its first
    * key; the block is aligned, so origin >> 13 identifies it). */
  def coveringBuckets(xLo: Long, xHi: Long, yLo: Long, yHi: Long): Seq[Long] =
    (0L until (1L << (2 * HilbertOps.Order - BucketShift))).filter { c =>
      val (cx, cy) = HilbertOps.d2xy(c << BucketShift)
      val bx = (cx / BlockSide) * BlockSide
      val by = (cy / BlockSide) * BlockSide
      bx <= xHi && bx + BlockSide - 1 >= xLo &&
        by <= yHi && by + BlockSide - 1 >= yLo
    }

  /** bbox scan: literal covering-quadrant IN-list prunes partition dirs
    * at compile time; the exact gx/gy predicates push down to row-group
    * stats (tight, because files are hkey-sorted) and keep the result
    * exact. */
  def bboxScan(spark: SparkSession, path: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): DataFrame = {
    val cells = coveringBuckets(xLo, xHi, yLo, yHi)
    spark.read.parquet(path)
      .filter(col("hbucket").isin(cells: _*))
      .filter(col("gx").between(xLo, xHi) && col("gy").between(yLo, yHi))
  }
}
