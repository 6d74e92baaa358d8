package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Table-maintenance operations a long-lived lakehouse store needs:
  * small-file compaction and schema evolution. The reference's
  * append-heavy stores accrete one file per ingest
  * (/root/reference/stores/apache_parquet.py:62-103 re-concatenates per
  * bucket to fight exactly this); Spark-side the cure is a periodic
  * rewrite, and evolution is mergeSchema-on-read over per-version
  * partition directories.
  */
object Maintenance {

  /** Byte-balanced output-file planner — the deterministic core of an
    * OPTIMIZE/rewrite job: assign every row, in key order, a target
    * file id so each of `nFiles` files carries as close to
    * total/nFiles content bytes as row granularity allows. File
    * boundaries are key-contiguous, so per-file min/max stats still
    * prune range scans after the rewrite — [[compact]]'s range-sampled
    * layout, but EXACT and engine-reproducible instead of
    * sample-driven (a skewed row-size distribution defeats the row-count
    * range sampler; this splits on bytes).
    *
    * file_id = (exclusive running byte total · nFiles) DIV grand
    * total — a GLOBAL prefix sum computed without a single-partition
    * sort: rows band by key range (one broadcast min/max), per-band
    * byte totals come back as |bands| longs (the AQE-stats shape, not
    * a data collect) and become exclusive offsets joined back
    * broadcast, and the within-band cumsum is a band-partitioned
    * window. Bands are key-contiguous, so (band, key) order IS global
    * key order. Raise nBands if a band outgrows a partition.
    *
    * Input cols: (key, nb). Output: (key, nb, file_id). */
  def balancedWriteSplit(rows: DataFrame, nFiles: Int, nBands: Int = 16): DataFrame = {
    require(nFiles > 0, s"nFiles must be positive: $nFiles")
    require(nBands > 0, s"nBands must be positive: $nBands")
    val spark = rows.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val m = rows.select(col("key").cast("long"), col("nb").cast("long"))
    val rng = m.agg(min(col("key")).as("_lo"), max(col("key")).as("_hi"),
      sum(col("nb")).as("_tot"))
    val banded = m.crossJoin(broadcast(rng))
      .withColumn("_band", graft.functions.Banding.bandExpr("key", nBands))
    val bandTotals = banded.groupBy(col("_band")).agg(sum(col("nb")).as("_bb"))
      .as[(Int, Long)].collect().sortBy(_._1)
    val offDf = bandTotals.map(_._1)
      .zip(bandTotals.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
      .toSeq.toDF("_band", "_off")
    val w = Window.partitionBy(col("_band")).orderBy(col("key"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.join(broadcast(offDf), Seq("_band"))
      .withColumn("_ce", col("_off") + sum(col("nb")).over(w) - col("nb"))
      // byte totals reach ~10¹⁴ at 100 TB; × nFiles can pass 2⁶³, so the
      // product widens to DECIMAL(38,0) like the band id above
      .withColumn("file_id",
        when(col("_tot") > 0,
          expr(s"CAST(CAST(_ce AS DECIMAL(38,0)) * $nFiles DIV _tot AS BIGINT)"))
          .otherwise(0L))
      .select(col("key"), col("nb"), col("file_id"))
  }

  /** Rewrite a store into `targetFiles` range-sorted-by-`tsCol` files.
    *
    * repartitionByRange keeps each output file a contiguous time slice,
    * so parquet row-group min/max stats still prune time-range scans
    * after the hour directories are gone — compaction trades the
    * per-hour partition pruning for a ~100× smaller file count (the
    * listing tax, not the data, is what kills wide-history scans; see
    * ensureReplayStore's day-bucket note). File-level output layout
    * (which rows land in which of the N files) follows the range
    * sampler, but every row lands exactly once — fidelity is checked by
    * order-independent checksum, not file layout.
    *
    * Scale: one range shuffle of the store; at 100 TB run it per
    * time-slab (e.g. compact last month) rather than whole-table. */
  def compact(spark: SparkSession, storePath: String, outPath: String,
      targetFiles: Int, tsCol: String = "ts"): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    SnapshotStore.read(spark, storePath)
      .drop("bucket")
      .repartitionByRange(targetFiles, col(tsCol))
      .sortWithinPartitions(tsCol)
      .write.mode("overwrite").parquet(outPath)
  }

  /** Build-once compacted copy of the hour-bucketed events store. */
  def ensureCompactedEvents(spark: SparkSession, sfDir: String,
      targetFiles: Int): String = synchronized {
    val src = SnapshotStore.ensureEventsStore(spark, sfDir)
    val path = s"${SnapshotStore.root}/events_compact_${SnapshotStore.sfName(sfDir)}"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      compact(spark, src, path, targetFiles)
    }
    path
  }

  /** Number of data files in a written store (the metric compaction
    * exists to shrink). */
  def parquetFileCount(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  /** Schema-evolution cutoff: rows before this day were written by the
    * v1 pipeline (no `value` column yet). */
  val EvolutionCutoff = "2024-01-15"

  /** Build-once two-version store: `ver=1/` files carry the ORIGINAL
    * schema (event_id, user_id, event_type, ts_us), `ver=2/` files add
    * the `value` column — the additive-column evolution every long-lived
    * table goes through. Readers use [[readEvolved]] (mergeSchema):
    * v1 rows surface `value` as NULL, and `ver` comes back as a
    * partition column, so "which schema wrote this row" stays queryable.
    */
  def ensureEvolvedStore(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/events_evolved_${SnapshotStore.sfName(sfDir)}"
    if (!Files.exists(Paths.get(path, "_MARKER"))) {
      val ev = Tables.events(spark, sfDir)
        .withColumn("ts_us", expr("unix_micros(ts)"))
      val cutoff = to_timestamp(lit(EvolutionCutoff))
      ev.filter(col("ts") < cutoff)
        .select("event_id", "user_id", "event_type", "ts_us")
        .repartition(4)
        .write.mode("overwrite").parquet(s"$path/ver=1")
      ev.filter(col("ts") >= cutoff)
        .select("event_id", "user_id", "event_type", "ts_us", "value")
        .repartition(4)
        .write.mode("overwrite").parquet(s"$path/ver=2")
      Files.createFile(Paths.get(path, "_MARKER"))
    }
    path
  }

  /** mergeSchema read over the evolved store: the unified schema is the
    * UNION of every file footer's fields (one extra footer-merge pass at
    * planning, no data rewrite), with `ver` inferred as a partition
    * column. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("mergeSchema", "true")
      .option("basePath", path)
      .parquet(s"$path/ver=1", s"$path/ver=2")

  /** Build-once store with `props` parsed ONCE into a VARIANT column at
    * write time — the Spark-4-native semi-structured layout. Readers do
    * typed `variant_get` path extraction on the stored binary encoding
    * instead of re-running a JSON string parse per query per path (the
    * q_json_extract shape): at 100 TB the parse cost is paid once at
    * ingest, and every downstream path access is a cheap navigation of
    * the shredded encoding. */
  def ensureVariantStore(spark: SparkSession, sfDir: String): String = synchronized {
    val path = s"${SnapshotStore.root}/events_variant_${SnapshotStore.sfName(sfDir)}"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      Tables.events(spark, sfDir)
        .selectExpr("event_id", "event_type", "parse_json(props) AS props_v")
        .repartition(4)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Incremental maintenance of a two-sided equi-join view — the delta
    * algebra that keeps a materialized join current without EVER
    * re-joining base against base:
    *
    *   V_new = V_old ∪ (ΔA ⋈ B_new) ∪ (A_old ⋈ ΔB)
    *
    * (exact: expanding (A_old ∪ ΔA) ⋈ (B_old ∪ ΔB) and folding
    * ΔA ⋈ ΔB into the first delta term). V_old is the STAGED
    * materialized view (content-keyed parquet — the persisted artifact
    * an ingest pipeline maintains across batches), so the incremental
    * pass costs two joins whose probe sides are DELTA-sized (broadcast
    * at typical batch/base ratios — Catalyst picks it from the delta
    * stats) plus one flat scan of the staged view. At 100 TB base and
    * GB-scale batches that is the difference between an hourly refresh
    * and an impossible one; the complement of [[graft.streaming.Replay]]'s
    * agg-view maintenance (foldable aggs merge, joins need the delta
    * algebra).
    *
    * Inputs must share exactly the join key column `key` and be
    * otherwise column-disjoint. Rows are bags (duplicates preserved) —
    * union semantics match the join algebra. Output: V_new. */
  def incrementalJoinView(
      label: String,
      aOld: DataFrame, aDelta: DataFrame,
      bOld: DataFrame, bDelta: DataFrame,
      key: String): DataFrame = {
    val vOld = Staging.stage(aOld.join(bOld, key), s"ivm_${label}_base")
    val dA = aDelta.join(bOld.unionByName(bDelta), key)
    val dB = aOld.join(bDelta, key)
    vOld.unionByName(dA).unionByName(dB)
  }
}
