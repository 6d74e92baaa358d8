package storebench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{DeltaLogStore, SnapshotStore}

/** The paper's store contract (reset / store / get / size) over one of the
  * program's store layouts, composed from its public functions. `append`
  * takes the flat frame `Flatten.flatten` made; `scan` builds the flat frame
  * of the snapshots in [lo, hi) — the construction a get or a traj starts
  * with. */
sealed trait Layout {
  def path: String
  def append(flat: DataFrame): Unit
  def scan(lo: Column, hi: Column): DataFrame
  def reset(): Unit = {
    SnapshotStore.deleteRecursively(new File(path))
    Files.createDirectories(new File(path).toPath); ()
  }
  def sizeBytes: Long = SnapshotStore.totalSizeBytes(path)

  /** Data files and the directories that hold them. */
  def dataFiles: Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) {
        if (f.getName == "_delta_log" || f.getName.startsWith("_tmp")) Nil
        else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      } else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(path))
  }
}

/** The reference's own layout: hour-partitioned parquet. A put appends the
  * snapshot through `bucketExpr` + `partitionBy("bucket")`, the same layout
  * `SnapshotStore.write` makes, without overwriting the store. */
final class ParquetLayout(spark: SparkSession, val path: String) extends Layout {
  def append(flat: DataFrame): Unit =
    flat.withColumn("bucket", SnapshotStore.bucketExpr(col("ts")))
      .repartition(col("bucket"))
      .write
      .partitionBy("bucket")
      .mode("append")
      .parquet(path)

  def scan(lo: Column, hi: Column): DataFrame = SnapshotStore.rangeScan(spark, path, lo, hi)
}

/** The graftdelta layout: every put is one `DeltaLogStore.commit` of one
  * file, checkpointing at Delta's default of every 10 commits; a read
  * resolves the live file set from the log before it scans. */
final class DeltaLayout(spark: SparkSession, val path: String) extends Layout {
  private var version = 0L

  override def reset(): Unit = { super.reset(); version = 0L }

  def append(flat: DataFrame): Unit = {
    DeltaLogStore.commit(spark, path, Some(flat.coalesce(1)), version,
      checkpointEvery = DeltaLayout.CheckpointEvery)
    version += 1
  }

  def scan(lo: Column, hi: Column): DataFrame =
    DeltaLogStore.read(spark, path).filter(col("ts") >= lo && col("ts") < hi)

  /** JSON commits a read resolves after the newest checkpoint. */
  def commitsToRead: Long = {
    val latest = DeltaLogStore.latestVersion(path)
    val cp = DeltaLogStore.checkpointVersions(path).filter(_ <= latest).lastOption
    cp.fold(latest + 1)(latest - _)
  }
}

object DeltaLayout {
  val CheckpointEvery = 10
}
