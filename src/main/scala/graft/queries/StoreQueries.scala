package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.Pairing
import graft.operators.Normalize
import graft.plans.Spread._
import graft.sources.Tables
import graft.store.{BucketedStore, CompressedStore, FormatStore, JsonStore, MergeStore, SnapshotStore}
import graft.streaming.Replay

/** Write/store-path queries: hour-partitioned snapshot store with pruned
  * lookup, MERGE-semantics dim upsert, compressed column-vector store,
  * pairing-function round-trip, WKT rendering and string-agg JSON
  * serialization (SURVEY.md §2.1, §2.8).
  */
object StoreQueries {

  private val LookupBucket = "2024-01-15-12"
  private val LookupBucketTs = "2024-01-15 12:00:00"

  val all: Seq[Q] = Seq(

    // Write → read-back equality through the partitioned store
    // (/root/reference/stores/apache_parquet.py:62-109).
    Q("q_store_roundtrip",
      (s, dir) => {
        val path = SnapshotStore.ensureEventsStore(s, dir)
        SnapshotStore.read(s, path)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            expr("unix_micros(ts)").as("ts_us"), col("bucket"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us,
             |       strftime(date_trunc('hour', ts), '%Y-%m-%d-%H') AS bucket
             |FROM events ORDER BY event_id""".stripMargin)),

    // Point lookup against the written store: the partition-column filter
    // prunes to ONE hour directory (PartitionFilters in the plan), then
    // parquet row-group pushdown finds the row — the reference's pruned
    // lookup (/root/reference/stores/apache_parquet.py:113-117) at scale.
    Q("q_point_lookup",
      (s, dir) => {
        val path = SnapshotStore.ensureEventsStore(s, dir)
        val part = SnapshotStore.lookupBucket(s, path, LookupBucket)
        val probe = part.agg(max(col("ts")).as("_mts"))
        part.join(broadcast(probe), col("ts") === col("_mts"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), expr("unix_micros(ts)").as("ts_us"))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
              |FROM events
              |WHERE date_trunc('hour', ts) = TIMESTAMP '$LookupBucketTs'
              |  AND ts = (SELECT max(ts) FROM events
              |            WHERE date_trunc('hour', ts) = TIMESTAMP '$LookupBucketTs')
              |ORDER BY event_id""".stripMargin)),

    // Storage-size stat (/root/reference/stores/file_store.py:26-27).
    // Oracle (r16, VERDICT r15 #8 — this was the registry's one
    // no_oracle row): DuckDB re-measures the SAME engine-written store
    // files with read_blob (its `**` glob matches every regular file,
    // dotfiles and _SUCCESS included — verified — so sum(size) equals
    // Files.walk byte-for-byte). The sf-keyed store path binds at
    // Verify dump time via __GRAFT_SF__. HAVING mirrors the > 0 filter.
    Q("q_store_size",
      (s, dir) => {
        val snappy = SnapshotStore.ensureEventsStore(s, dir, "snappy")
        import s.implicits._
        Seq(("events_snappy", SnapshotStore.totalSizeBytes(snappy)))
          .toDF("store", "size_bytes")
          .filter(col("size_bytes") > 0)
      },
      Some(s"""SELECT 'events_snappy' AS store,
              |       CAST(sum(size) AS BIGINT) AS size_bytes
              |FROM read_blob('${SnapshotStore.root}/events___GRAFT_SF___snappy/**')
              |HAVING CAST(sum(size) AS BIGINT) > 0""".stripMargin)),

    // MERGE-semantics dim upsert + write + read-back
    // (/root/reference/stores/postgresql_velocity.py:98-113 via parquet).
    Q("q_dim_upsert",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        def dims(f: org.apache.spark.sql.DataFrame) =
          Normalize.extractDim(f, 8, Seq("c_mktsegment", "c_nationkey"))
        val existing = dims(c.filter(col("c_custkey") % 2 === 0))
        val incoming = dims(c.filter(col("c_custkey") % 2 === 1))
        // upsert keyed on the full dim tuple (dim_hash is a display key —
        // a 32-bit prefix collision must not drop a dim)
        val merged = MergeStore.upsertInsertOnly(existing, incoming,
          Seq("c_mktsegment", "c_nationkey"))
        val path = s"${SnapshotStore.root}/dims_${SnapshotStore.sfName(dir)}"
        MergeStore.writeDim(merged, path)
        s.read.parquet(path).orderBy("c_mktsegment", "c_nationkey")
      },
      Some("""SELECT DISTINCT
             |  substr(md5(coalesce(c_mktsegment, '') || '|' || coalesce(CAST(c_nationkey AS VARCHAR), '')), 1, 8) AS dim_hash,
             |  c_mktsegment, c_nationkey
             |FROM customer ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // Time travel over the merge-on-read versioned commit log
    // (MergeStore.writeCommit/readAsOf — the Delta VERSION AS OF
    // contract over plain parquet). Three commits: v0 full load, v1
    // updates %7 keys (+100000 mils) and deletes %13 keys (minus the
    // %7 overlap — one row per key per commit), v2 updates %5 keys
    // (+50000, resurrecting deleted %65 keys). Each as-of read PRUNES
    // newer commit dirs at the scan (commit_v is a partition column);
    // reconstruction is one rank-1 window per read. Output: the three
    // reconstructed states' (version, n_rows, sum_bal_mils).
    Q("q_time_travel",
      (s, dir) => {
        val path = ensureVersionedCustLog(s, dir)
        (0 to 2).map { v =>
          MergeStore.readAsOf(s, path, v, Seq("k"))
            .agg(count(lit(1)).as("n_rows"), sum(col("bal_mils")).as("sum_bal_mils"))
            .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_bal_mils"))
        }.reduce(_.unionByName(_)).orderBy("version")
      },
      Some("""WITH base AS (SELECT c_custkey AS k,
             |                     CAST(floor(c_acctbal * 1000) AS BIGINT) AS bal
             |              FROM customer),
             |log AS (
             |  SELECT 0 AS v, 'U' AS op, k, bal FROM base
             |  UNION ALL
             |  SELECT 1, 'U', k, bal + 100000 FROM base WHERE k % 7 = 0
             |  UNION ALL
             |  SELECT 1, 'D', k, NULL FROM base WHERE k % 13 = 0 AND k % 7 <> 0
             |  UNION ALL
             |  SELECT 2, 'U', k, bal + 50000 FROM base WHERE k % 5 = 0),
             |st AS (SELECT a.av, l.k, l.op, l.bal,
             |              row_number() OVER (PARTITION BY a.av, l.k
             |                                 ORDER BY l.v DESC) AS rn
             |       FROM (SELECT unnest([0, 1, 2]) AS av) a
             |       JOIN log l ON l.v <= a.av)
             |SELECT CAST(av AS BIGINT) AS version,
             |       CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(bal) AS BIGINT) AS sum_bal_mils
             |FROM st WHERE rn = 1 AND op <> 'D'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The REAL Delta Lake wire format (delta_lake.py:31-40's capability,
    // served without the delta-spark jar): a 4-commit `_delta_log` table
    // over orders slices — append (v0, v1), OPTIMIZE-style rewrite
    // (v2 removes v0's two files, re-adds the same rows as one compacted
    // file) and append again (v3). The query reads the snapshot VERSION
    // AS OF each v, its live files resolved from the log on the driver
    // (checkpoint + JSON commits, no Spark job), and reports
    // rows/sum (must be invariant under the v2 rewrite) plus the live
    // FILE count (must see the rewrite: 2/3/2/3). The oracle replays the
    // slice algebra; file counts are protocol constants of the fixture.
    Q("q_delta_log",
      (s, dir) => {
        val path = graft.store.DeltaLogStore.ensureOrdersDeltaTable(s, dir)
        (0L to 3L).map { v =>
          val nf = graft.store.DeltaLogStore.snapshotFiles(s, path, Some(v))
            .agg(count(lit(1)).as("n_files"))
          // data read through the `graftdelta` source: the same
          // relation DeltaLogStore.read builds — files resolved from
          // the log, scanned by Spark's own parquet FileScan (pushdown
          // asserted in StoreSpec "graftdelta source")
          s.read.format("graftdelta").option("versionAsOf", v).load(path)
            .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("sum_key"))
            .crossJoin(broadcast(nf))
            .select(lit(v).as("version"), col("n_files"), col("n_rows"), col("sum_key"))
        }.reduce(_.unionByName(_)).orderBy("version")
      },
      Some("""WITH v(version, maxr, n_files) AS (
             |  VALUES (0, 0, 2), (1, 1, 3), (2, 1, 2), (3, 2, 3))
             |SELECT CAST(version AS BIGINT) AS version,
             |       CAST(n_files AS BIGINT) AS n_files,
             |       CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM v JOIN orders ON o_orderkey % 5 <= v.maxr
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // Checkpoint + vacuum on the merge-on-read log (Delta OPTIMIZE +
    // VACUUM): compact history ≤ v1 into one checkpoint dir, then prove
    // reads at asOf ≥ v1 are unchanged — the replay depth is now
    // bounded by (checkpoint + commits since), the production cadence
    // for an unbounded commit log. Idempotent: re-running the vacuum
    // re-checkpoints the same state.
    Q("q_log_vacuum",
      (s, dir) => {
        val path = ensureVersionedCustLog2(s, dir)
        MergeStore.checkpointAndVacuum(s, path, upTo = 1, Seq("k"))
        (1 to 2).map { v =>
          MergeStore.readAsOf(s, path, v, Seq("k"))
            .agg(count(lit(1)).as("n_rows"), sum(col("bal_mils")).as("sum_bal_mils"))
            .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_bal_mils"))
        }.reduce(_.unionByName(_)).orderBy("version")
      },
      Some("""WITH base AS (SELECT c_custkey AS k,
             |                     CAST(floor(c_acctbal * 1000) AS BIGINT) AS bal
             |              FROM customer),
             |log AS (
             |  SELECT 0 AS v, 'U' AS op, k, bal FROM base
             |  UNION ALL
             |  SELECT 1, 'U', k, bal + 100000 FROM base WHERE k % 7 = 0
             |  UNION ALL
             |  SELECT 1, 'D', k, NULL FROM base WHERE k % 13 = 0 AND k % 7 <> 0
             |  UNION ALL
             |  SELECT 2, 'U', k, bal + 50000 FROM base WHERE k % 5 = 0),
             |st AS (SELECT a.av, l.k, l.op, l.bal,
             |              row_number() OVER (PARTITION BY a.av, l.k
             |                                 ORDER BY l.v DESC) AS rn
             |       FROM (SELECT unnest([1, 2]) AS av) a
             |       JOIN log l ON l.v <= a.av)
             |SELECT CAST(av AS BIGINT) AS version,
             |       CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(bal) AS BIGINT) AS sum_bal_mils
             |FROM st WHERE rn = 1 AND op <> 'D'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CDC snapshot diff: the I/U/D change feed between two keyed store
    // versions, for stores with no transaction log (plain parquet).
    // Deterministic versions derived from customer: v_old = keys %3≠0,
    // v_new = keys %5≠0 with the balance re-floored (+100) on %7=0 keys
    // ⇒ inserts (%3=0 ∧ %5≠0), deletes (%3≠0 ∧ %5=0), updates (%7=0
    // survivors). One full-outer shuffle on the key; unchanged keys drop
    // before any consumer sees them.
    Q("q_snapshot_diff",
      (s, dir) => {
        val c = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
            floor(col("c_acctbal")).cast("long").as("bal"))
        val vOld = c.filter(col("c_custkey") % 3 =!= 0)
        val vNew = c.filter(col("c_custkey") % 5 =!= 0)
          .withColumn("bal",
            when(col("c_custkey") % 7 === 0, col("bal") + 100L).otherwise(col("bal")))
        MergeStore.snapshotDiff(vOld, vNew, Seq("c_custkey"),
            Seq("c_mktsegment", "c_nationkey", "bal"))
          .orderBy("c_custkey")
      },
      Some("""WITH c AS (
             |  SELECT c_custkey, c_mktsegment, c_nationkey,
             |         CAST(floor(c_acctbal) AS BIGINT) AS bal
             |  FROM customer
             |), vold AS (
             |  SELECT c_custkey,
             |         md5(coalesce(c_mktsegment, '') || '|' || coalesce(CAST(c_nationkey AS VARCHAR), '')
             |             || '|' || coalesce(CAST(bal AS VARCHAR), '')) AS h
             |  FROM c WHERE c_custkey % 3 <> 0
             |), vnew AS (
             |  SELECT c_custkey,
             |         md5(coalesce(c_mktsegment, '') || '|' || coalesce(CAST(c_nationkey AS VARCHAR), '')
             |             || '|' || coalesce(CAST(CASE WHEN c_custkey % 7 = 0 THEN bal + 100 ELSE bal END AS VARCHAR), '')) AS h
             |  FROM c WHERE c_custkey % 5 <> 0
             |)
             |SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
             |       CASE WHEN o.h IS NULL THEN 'I'
             |            WHEN n.h IS NULL THEN 'D'
             |            WHEN o.h <> n.h THEN 'U' END AS op
             |FROM vold o FULL OUTER JOIN vnew n ON o.c_custkey = n.c_custkey
             |WHERE o.h IS NULL OR n.h IS NULL OR o.h <> n.h
             |ORDER BY c_custkey""".stripMargin)),

    // Salted shuffle join for a skewed fact key (the 100 TB corner AQE
    // skew-split and broadcast both miss: hot fact key × dim too big to
    // broadcast). The fact's hot key (~30% of rows re-keyed to customer
    // 0 deterministically) is spread over 8 salts; the dim replicates ×8
    // and the join runs on (key, salt) — same result as the plain join,
    // which is exactly what the oracle states. Salt source is a fact
    // column (event_id), never a RNG: retried tasks must salt
    // identically.
    Q("q_salted_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(
            when(col("event_id") % 10 < 3, 0L).otherwise(col("user_id")).as("c_custkey"),
            col("event_id"), col("value"))
        val dim = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))
        graft.operators.Normalize
          .saltedEquiJoin(ev, dim, "c_custkey", col("event_id"), salts = 8)
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("value_mils"))
          .orderBy("c_nationkey")
      },
      Some("""WITH f AS (
             |  SELECT CASE WHEN event_id % 10 < 3 THEN 0 ELSE user_id END AS c_custkey,
             |         value
             |  FROM events)
             |SELECT c.c_nationkey, count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM f JOIN customer c USING (c_custkey)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Trajectory pivot over the ENTITY-BUCKETED table: bucketBy(user_id)
    // persists the hash distribution, so the pivot's groupBy plans no
    // Exchange (asserted in StoreSpec) — the shuffle-free co-located path.
    Q("q_bucketed_pivot",
      (s, dir) => {
        val traj = graft.operators.Trajectory.pivot(
          BucketedStore.read(s, dir), "user_id", "ts", Seq("value"))
        graft.operators.Trajectory.unpivot(traj, "user_id", "value_traj")
          .select(col("user_id"), expr("unix_micros(t)").as("ts_us"), col("v").as("value"))
          .orderBy("user_id", "ts_us")
      },
      Some("""SELECT user_id, epoch_us(ts) AS ts_us, value
             |FROM events ORDER BY user_id, ts_us""".stripMargin)),

    // Compressed column-vector store round-trip: pivot per user, render
    // CSV, gzip + snappy compress, decompress back
    // (/root/reference/stores/postgresql_compressed_snappy.py:68-117).
    Q("q_compressed_roundtrip",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .withColumn("value_mils", floor(col("value") * 1000).cast("long"))
          .withColumn("ts_us", expr("unix_micros(ts)"))
        e.groupBy(col("user_id"))
          .agg(
            CompressedStore.gzipCompress(
              CompressedStore.vectorCsv(col("ts"), col("value_mils"))).as("v_gz"),
            CompressedStore.snappyCompress(
              CompressedStore.vectorCsv(col("ts"), col("ts_us"))).as("t_sn"))
          .select(col("user_id"),
            CompressedStore.gzipDecompress(col("v_gz")).as("values_csv"),
            CompressedStore.snappyDecompress(col("t_sn")).as("ts_csv"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |  string_agg(CAST(CAST(floor(value * 1000) AS BIGINT) AS VARCHAR), ',' ORDER BY ts) AS values_csv,
             |  string_agg(CAST(epoch_us(ts) AS VARCHAR), ',' ORDER BY ts) AS ts_csv
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Szudzik + Cantor pairing round-trip on fixed-point coords
    // (/root/reference/stores/apache_parquet_cantor.py:18-55,86-89); the
    // oracle is the identity — decode(encode(x,y)) must give back exactly
    // the fixed-point inputs, plus the 15-byte width contract.
    Q("q_pairing_roundtrip",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .withColumn("x", floor(col("value") * 1000000.0).cast("long"))
          .withColumn("y", floor(col("value") * 0.5 * 1000000.0).cast("long"))
        val sz = Pairing.szudzikUnpairCol(Pairing.szudzikPairCol(col("x"), col("y")))
        val ca = Pairing.cantorUnpairCol(Pairing.cantorPairCol(col("x"), col("y")))
        e.select(
          col("event_id"), col("x"), col("y"),
          sz.getField("x").as("sz_x"), sz.getField("y").as("sz_y"),
          length(Pairing.szudzikPairCol(col("x"), col("y"))).cast("long").as("sz_len"),
          ca.getField("x").as("ca_x"), ca.getField("y").as("ca_y"),
          length(Pairing.cantorPairCol(col("x"), col("y"))).cast("long").as("ca_len"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  CAST(floor(value * 1000000.0) AS BIGINT) AS x,
             |  CAST(floor(value * 0.5 * 1000000.0) AS BIGINT) AS y,
             |  CAST(floor(value * 1000000.0) AS BIGINT) AS sz_x,
             |  CAST(floor(value * 0.5 * 1000000.0) AS BIGINT) AS sz_y,
             |  CAST(15 AS BIGINT) AS sz_len,
             |  CAST(floor(value * 1000000.0) AS BIGINT) AS ca_x,
             |  CAST(floor(value * 0.5 * 1000000.0) AS BIGINT) AS ca_y,
             |  CAST(15 AS BIGINT) AS ca_len
             |FROM events ORDER BY event_id""".stripMargin)),

    // WKT point rendering (/root/reference/stores/mobility_db_batch.py:88,108).
    Q("q_wkt_render",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("x", floor(col("value") * 1000000.0).cast("long"))
          .withColumn("y", floor(col("value") * 0.5 * 1000000.0).cast("long"))
          .select(col("event_id"),
            format_string("POINT(%d %d)", col("x"), col("y")).as("wkt"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |  'POINT(' || CAST(CAST(floor(value * 1000000.0) AS BIGINT) AS VARCHAR)
             |   || ' ' || CAST(CAST(floor(value * 0.5 * 1000000.0) AS BIGINT) AS VARCHAR) || ')' AS wkt
             |FROM events ORDER BY event_id""".stripMargin)),

    // JSON file store round-trip: one JSON file per hour bucket
    // (/root/reference/stores/file_store.py:8-27), explicit schema on read.
    Q("q_json_roundtrip",
      (s, dir) => {
        val path = JsonStore.ensureEventsJsonStore(s, dir)
        JsonStore.read(s, path)
          .select(col("event_id"), col("ts_us"), col("user_id"),
            col("event_type"), col("value"), col("bucket"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
             |       strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket
             |FROM events ORDER BY event_id""".stripMargin)),

    // Concat-all gzip single file; lookup = full linear scan + first match
    // (/root/reference/stores/all_in_one_gzip_file_store.py:21-32).
    Q("q_json_linear_scan",
      (s, dir) => {
        val path = JsonStore.ensureConcatAllStore(s, dir)
        val all = JsonStore.readConcatAll(s, path)
        val lo = expr(s"unix_micros(timestamp'$LookupBucketTs')")
        val hi = expr(s"unix_micros(timestamp'$LookupBucketTs' + interval 1 hour)")
        val probe = all.filter(col("ts_us") >= lo && col("ts_us") < hi)
          .agg(max(col("ts_us")).as("_t"))
        all.join(broadcast(probe), col("ts_us") === col("_t"))
          .select(col("event_id"), col("ts_us"), col("event_type"), col("value"))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
              |FROM events
              |WHERE epoch_us(ts) = (SELECT max(epoch_us(ts)) FROM events
              |                      WHERE ts >= TIMESTAMP '$LookupBucketTs'
              |                        AND ts < TIMESTAMP '$LookupBucketTs' + INTERVAL 1 HOUR)
              |ORDER BY event_id""".stripMargin)),

    // Ordered directory scan with ingestion cap
    // (/root/reference/benchmark.py:28-39: walk, sort filenames asc, cap).
    Q("q_dir_scan_ordered",
      (s, dir) => {
        val path = JsonStore.ensureEventsJsonStore(s, dir)
        JsonStore.read(s, path)
          .orderBy("ts_us", "event_id")
          .limit(500)
          .select(col("event_id"), col("ts_us"), col("value"))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, value
             |FROM events ORDER BY ts, event_id LIMIT 500""".stripMargin)),

    // SEMANTICS DEMO (VERDICT r4 What's-wrong #3): Complete output mode +
    // memory sink document the reference's buffer-then-flush contract
    // (every window re-emitted per trigger, result held on the driver) —
    // the one registry plan you would NOT run at 100×. The scale-correct
    // twin is q_stream_watermark directly below: watermarked Append to a
    // file sink, state dropped at the watermark. Keep both: this one pins
    // the multi-micro-batch ingest semantics (filesPerBatch=8), that one
    // the production shape.
    // Structured-Streaming replay of the store: availableNow micro-batches
    // over the hour-partitioned files, tumbling-window aggregation —
    // SURVEY.md §2.10; must equal the equivalent batch aggregation.
    // Runs against the COARSE day-partitioned replay layout: the
    // FileStreamSource re-lists the source per micro-batch, so the
    // hour-partitioned read store (720 dirs at sf0.1, 8.8k/yr) is the
    // wrong stream source; day files bound the listing (VERDICT r3).
    // filesPerBatch=8 still exercises multi-micro-batch ingest.
    Q("q_stream_replay",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        val sink = "stream_replay_" + SnapshotStore.sfName(dir).replace('.', '_')
        Replay.windowedReplay(s, store, sink, filesPerBatch = 8)
          .orderBy("bucket_us", "event_type")
      },
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
             |       count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Rate-source-paced twin of q_stream_replay (VERDICT r11 Next #9):
    // the SAME hourly census driven by the deterministic rate-micro-batch
    // source (get_data.py:29's 20 s poll cadence as the logical clock)
    // instead of a file listing — each tick's values index one staged
    // event row via a stream–static join, the windowed agg keeps the only
    // state, and the query stops itself once all N rows are covered
    // (unbounded source, self-terminating collector). Shares
    // q_stream_replay's batch oracle verbatim.
    Q("q_stream_rate",
      (s, dir) => {
        val sink = "stream_rate_" + SnapshotStore.sfName(dir).replace('.', '_')
        Replay.ratePacedReplay(s, dir, sink)
          .orderBy("bucket_us", "event_type")
      },
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
             |       count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Watermarked APPEND-mode replay (SURVEY §2.10's watermark row; the
    // scale-safe streaming shape — state dropped at watermark, file sink,
    // no Complete-mode re-emission). One availableNow batch ⇒ the final
    // watermark is max(ts) − 1 min and the emitted set is exactly the
    // windows with end ≤ watermark (boundary inequality pinned by
    // StreamingSpec's 13:01 fixture); the oracle states that predicate.
    Q("q_stream_watermark",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        val out = store + "_wm_out"
        Replay.windowedReplayAppend(s, store, out, "1 minute")
          .orderBy("bucket_us", "event_type")
      },
      Some("""WITH wm AS (SELECT max(ts) - INTERVAL 1 MINUTE AS w FROM events)
             |SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
             |       count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events, wm
             |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Sliding-window twin of q_stream_watermark (1 h windows every 30 m):
    // each event lands in 2 windows — state and emissions double, the
    // eviction predicate (window end ≤ final watermark) is unchanged.
    // Oracle enumerates both starts per event in epoch-µs arithmetic.
    Q("q_stream_sliding",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        val out = store + "_slide_out"
        Replay.slidingReplayAppend(s, store, out, "1 minute")
          .orderBy("bucket_us", "event_type")
      },
      Some("""WITH wm AS (SELECT epoch_us(max(ts)) - 60000000 AS w FROM events),
             |e AS (SELECT event_type, value, epoch_us(ts) AS tus FROM events),
             |x AS (SELECT event_type, value,
             |             (tus // 1800000000) * 1800000000 - o.o AS ws
             |      FROM e, (SELECT unnest([0, 1800000000]) AS o) o)
             |SELECT ws AS bucket_us, event_type, count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM x, wm WHERE ws + 3600000000 <= wm.w
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Stream–static dimension enrichment inside the replay: events join
    // the customer dim (broadcast per micro-batch, NO join state — only
    // the post-join windowed agg keeps state) before a watermarked
    // Append aggregation by nation. LEFT join + coalesce(-1) keeps dim
    // misses visible. Same watermark-eviction predicate as
    // q_stream_watermark; the oracle states the equivalent batch join.
    Q("q_stream_static_join",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        val out = store + "_enrich_out"
        Replay.enrichedReplayAppend(s, store, Tables.customer(s, dir),
            "c_custkey", "c_nationkey", out, "1 minute")
          .orderBy("bucket_us", "dim_attr")
      },
      Some("""WITH wm AS (SELECT max(ts) - INTERVAL 1 MINUTE AS w FROM events)
             |SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
             |       CAST(coalesce(c.c_nationkey, -1) AS BIGINT) AS dim_attr,
             |       count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey, wm
             |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Stateful per-key trajectory accumulation over the replayed stream —
    // the reference's per-uuid `appendinstant` hash_table
    // (/root/reference/stores/apache_parquet_velocity.py:38-44,81-85,
    // mobility_db.py:71-78) as mapGroupsWithState: bounded per-key state,
    // final summary per key must equal the batch aggregation. last_value
    // follows the shared lexicographic (ts, value) max, so duplicate
    // max-timestamps cannot diverge between engines.
    // DEMO SINK (VERDICT r5 Next #6): Update-mode output cannot use the
    // Append-only file sink, so this lands in a memory sink — bounded
    // here (150 keys at sf0.1), but at 100× you would route Update-mode
    // state through foreachBatch MERGE into a store, exactly the shape
    // q_stream_matview runs. The state machinery itself is unchanged.
    Q("q_stream_traj_state",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        val sink = "stream_traj_" + SnapshotStore.sfName(dir).replace('.', '_')
        Replay.statefulTrajectoryReplay(s, store, sink).orderBy("k")
      },
      Some("""SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS n_obs,
             |       epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us,
             |       (max(struct_pack(t := ts, v := value))).v AS last_value
             |FROM events GROUP BY user_id ORDER BY k""".stripMargin)),

    // Gap-session replay via flatMapGroupsWithState + event-time timeout —
    // the third streaming state shape after the windowed agg and
    // mapGroupsWithState: state holds ONLY the open session per key; a
    // session emits on an in-batch gap (> 2h breaks, matching the batch
    // session_window merge pinned in WindowSpec) or when the watermark
    // passes its close-due instant. Timeouts and watermark run in MS, and
    // due == wm fires (non-strict, pinned in StreamingSpec) — the oracle
    // states the emission predicate at exactly that granularity. One
    // availableNow batch ⇒ final watermark = max(ts) − 1 min.
    Q("q_stream_sessions",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.sessionReplay(s, store, store + "_sessions_out")
          .orderBy("user_id", "session_start_us")
      },
      Some("""WITH wm AS (
             |  SELECT epoch_us(max(ts)) // 1000 - 60000 AS wm_ms FROM events),
             |o AS (
             |  SELECT user_id, epoch_us(ts) AS us,
             |         CAST(floor(value * 1000) AS BIGINT) AS vmil,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
             |              OVER (PARTITION BY user_id ORDER BY ts) > 7200000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM events),
             |g AS (
             |  SELECT user_id, us, vmil,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
             |                   ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o),
             |sess AS (
             |  SELECT user_id, min(us) AS session_start_us,
             |         max(us) + 7200000000 AS session_end_us,
             |         count(*) AS n_events, CAST(sum(vmil) AS BIGINT) AS value_mils
             |  FROM g GROUP BY user_id, sid)
             |SELECT user_id, session_start_us, session_end_us, n_events, value_mils
             |FROM sess, wm
             |WHERE session_end_us // 1000 <= wm.wm_ms
             |ORDER BY user_id, session_start_us""".stripMargin)),

    // ENGINE-NATIVE session windows (built-in session_window) — the
    // twin of q_stream_sessions' hand-rolled sessionizer: the engine
    // merges per-user events closer than 2h and Append-finalizes a
    // session once the watermark passes last+gap. Same gap, same close
    // instant, same oracle row set — the two paths pin each other (and
    // StreamingSpec compares them row-for-row on the replay corpus).
    Q("q_stream_session_native",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.sessionWindowReplayAppend(s, store, store + "_sessions_native_out")
          .orderBy("user_id", "session_start_us")
      },
      Some("""WITH wm AS (
             |  SELECT epoch_us(max(ts)) // 1000 - 60000 AS wm_ms FROM events),
             |o AS (
             |  SELECT user_id, epoch_us(ts) AS us,
             |         CAST(floor(value * 1000) AS BIGINT) AS vmil,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
             |              OVER (PARTITION BY user_id ORDER BY ts) > 7200000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM events),
             |g AS (
             |  SELECT user_id, us, vmil,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
             |                   ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o),
             |sess AS (
             |  SELECT user_id, min(us) AS session_start_us,
             |         max(us) + 7200000000 AS session_end_us,
             |         count(*) AS n_events, CAST(sum(vmil) AS BIGINT) AS value_mils
             |  FROM g GROUP BY user_id, sid)
             |SELECT user_id, session_start_us, session_end_us, n_events, value_mils
             |FROM sess, wm
             |WHERE session_end_us // 1000 <= wm.wm_ms
             |ORDER BY user_id, session_start_us""".stripMargin)),

    // Stream-stream interval self-join — the remaining streaming join
    // shape (both sides streaming; the event-time range bound lets the
    // watermark evict buffered join state). Single availableNow batch ⇒
    // result ≡ the batch interval join, which is the oracle verbatim.
    Q("q_stream_join",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.intervalJoinReplay(s, store, store + "_join_out")
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.event_id AS id_a, b.event_id AS id_b,
             |       a.user_id AS user_id,
             |       epoch_us(a.ts) AS a_us, epoch_us(b.ts) AS b_us
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id AND b.ts > a.ts
             | AND b.ts <= a.ts + INTERVAL 30 MINUTE
             |ORDER BY id_a, id_b""".stripMargin)),

    // LEFT-OUTER stream-stream join: matched pairs emit like the inner
    // join; an UNMATCHED a-row emits one null-extended row — but only
    // once the watermark strictly exceeds a.ts + interval (probed in
    // StreamingSpec: wm == due does NOT emit, unlike the GroupState
    // timeout's non-strict compare), and the watermark is ms-floored —
    // the oracle states exactly that µs-level predicate. Unmatched rows
    // within interval+delay of the end of the replay are never emitted.
    // Nulls are coalesced to -1 on both engines (hash-compare safety).
    Q("q_stream_join_outer",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.intervalJoinReplay(s, store, store + "_ljoin_out", joinType = "left_outer")
          .select(col("id_a"), coalesce(col("id_b"), lit(-1L)).as("id_b"),
            col("user_id"), col("a_us"), coalesce(col("b_us"), lit(-1L)).as("b_us"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH wm AS (
             |  SELECT ((epoch_us(max(ts)) // 1000) - 60000) * 1000 AS wm_us FROM events),
             |ij AS (
             |  SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id AS user_id,
             |         epoch_us(a.ts) AS a_us, epoch_us(b.ts) AS b_us
             |  FROM events a JOIN events b
             |    ON a.user_id = b.user_id AND b.ts > a.ts
             |   AND b.ts <= a.ts + INTERVAL 30 MINUTE),
             |um AS (
             |  SELECT a.event_id AS id_a, CAST(-1 AS BIGINT) AS id_b, a.user_id AS user_id,
             |         epoch_us(a.ts) AS a_us, CAST(-1 AS BIGINT) AS b_us
             |  FROM events a, wm
             |  WHERE NOT EXISTS (SELECT 1 FROM events b
             |                    WHERE b.user_id = a.user_id AND b.ts > a.ts
             |                      AND b.ts <= a.ts + INTERVAL 30 MINUTE)
             |    AND epoch_us(a.ts) + 1800000000 < wm.wm_us)
             |SELECT * FROM ij UNION ALL SELECT * FROM um
             |ORDER BY id_a, id_b""".stripMargin)),

    // FULL-OUTER stream-stream join: adds the b-side null rows (events
    // with no PREDECESSOR within the interval). Both evictions measured
    // STRICT in StreamingSpec: an unmatched a-row needs wm > a.ts +
    // interval, an unmatched b-row needs wm > b.ts (µs predicates with
    // the ms-floored watermark); rows within delay of the replay's end
    // never emit their null row. Nulls coalesced to -1 on both engines.
    Q("q_stream_join_full",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.intervalJoinReplay(s, store, store + "_fjoin_out", joinType = "full_outer")
          .select(coalesce(col("id_a"), lit(-1L)).as("id_a"),
            coalesce(col("id_b"), lit(-1L)).as("id_b"),
            col("user_id"),
            coalesce(col("a_us"), lit(-1L)).as("a_us"),
            coalesce(col("b_us"), lit(-1L)).as("b_us"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH wm AS (
             |  SELECT ((epoch_us(max(ts)) // 1000) - 60000) * 1000 AS wm_us FROM events),
             |ij AS (
             |  SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id AS user_id,
             |         epoch_us(a.ts) AS a_us, epoch_us(b.ts) AS b_us
             |  FROM events a JOIN events b
             |    ON a.user_id = b.user_id AND b.ts > a.ts
             |   AND b.ts <= a.ts + INTERVAL 30 MINUTE),
             |ua AS (
             |  SELECT a.event_id AS id_a, CAST(-1 AS BIGINT) AS id_b, a.user_id AS user_id,
             |         epoch_us(a.ts) AS a_us, CAST(-1 AS BIGINT) AS b_us
             |  FROM events a, wm
             |  WHERE NOT EXISTS (SELECT 1 FROM events b
             |                    WHERE b.user_id = a.user_id AND b.ts > a.ts
             |                      AND b.ts <= a.ts + INTERVAL 30 MINUTE)
             |    AND epoch_us(a.ts) + 1800000000 < wm.wm_us),
             |ub AS (
             |  SELECT CAST(-1 AS BIGINT) AS id_a, b.event_id AS id_b, b.user_id AS user_id,
             |         CAST(-1 AS BIGINT) AS a_us, epoch_us(b.ts) AS b_us
             |  FROM events b, wm
             |  WHERE NOT EXISTS (SELECT 1 FROM events a
             |                    WHERE a.user_id = b.user_id AND b.ts > a.ts
             |                      AND b.ts <= a.ts + INTERVAL 30 MINUTE)
             |    AND epoch_us(b.ts) < wm.wm_us)
             |SELECT * FROM ij UNION ALL SELECT * FROM ua UNION ALL SELECT * FROM ub
             |ORDER BY id_a, id_b""".stripMargin)),

    // Streaming first-seen dim registry — the reference's per-hour hash
    // registry (apache_parquet_velocity.py:81-121: uuid → id dict, reset
    // on each hour-bucket change) as watermarked streaming dedup, the
    // last SURVEY §2.10 mapping row. Dedup key = (hour window, user_id);
    // the window carries the event-time watermark so per-hour registry
    // state is EVICTED once the watermark passes the hour (bounded state,
    // asserted in StreamingSpec). Only the dedup key survives the
    // pre-dedup projection, so output is arrival-order-independent and
    // the oracle is a plain SELECT DISTINCT.
    Q("q_stream_dedup",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.dedupReplay(s, store, store + "_dedup_out")
          .orderBy("bucket_us", "user_id")
      },
      Some("""SELECT DISTINCT epoch_us(date_trunc('hour', ts)) AS bucket_us, user_id
             |FROM events ORDER BY bucket_us, user_id""".stripMargin)),

    // ORC sink + scan round-trip: the second built-in columnar format,
    // lang-partitioned like the parquet stores (directory pruning +
    // stripe-stat pushdown at scale). text travels as md5 so the compare
    // artifact stays small while still pinning byte-exact text fidelity.
    Q("q_orc_roundtrip",
      (s, dir) => {
        val path = FormatStore.ensureOrcDocuments(s, dir)
        FormatStore.readOrc(s, path)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // CSV sink + explicit-schema scan round-trip: timestamps as epoch-µs
    // BIGINTs (textual timestamps would round to the writer format),
    // doubles via shortest-round-trip toString, embedded quotes in
    // `props` through the quote/escape pair. No inferSchema pass.
    Q("q_csv_roundtrip",
      (s, dir) => {
        val path = FormatStore.ensureCsvEvents(s, dir)
        FormatStore.readCsvEvents(s, path)
          .select(col("event_id"), col("ts_us"), col("user_id"),
            col("event_type"), col("value"), col("props"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
             |FROM events ORDER BY event_id""".stripMargin)),

    // XML sink + explicit-schema scan round-trip — Spark 4's native XML
    // data source, same projection contract as q_csv_roundtrip (epoch-µs
    // BIGINT timestamps, shortest-toString doubles, markup escaping in
    // `props`). rowTag-bounded record split keeps the scan parallel per
    // row element; explicit schema skips the inference pass.
    Q("q_xml_roundtrip",
      (s, dir) => {
        val path = FormatStore.ensureXmlEvents(s, dir)
        FormatStore.readXmlEvents(s, path)
          .select(col("event_id"), col("ts_us"), col("user_id"),
            col("event_type"), col("value"), col("props"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
             |FROM events ORDER BY event_id""".stripMargin)),

    // Scalar XML serialize/parse round-trip (the to_xml/from_xml twin of
    // the §2.8 JSON serialize/parse row): each event renders one XML
    // fragment, the parser recovers the struct, and the census aggregates
    // the RECOVERED fields — any render/parse asymmetry (escaping, type
    // coercion) would shift the counts.
    Q("q_xml_extract",
      (s, dir) => {
        val xmlSchema = "STRUCT<event_type: STRING, value_mils: BIGINT>"
        // spread before the XML render+parse (r16, guide §2.5): the
        // events scan is one row group, so the per-row to_xml/from_xml
        // otherwise runs on one core
        Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .spreadBy(col("event_id"))
          .withColumn("_x", to_xml(struct(col("event_type"),
            floor(col("value") * 1000).cast("long").as("value_mils"))))
          .withColumn("_r", from_xml(col("_x"), lit(xmlSchema)))
          .groupBy(col("_r.event_type").as("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("_r.value_mils")).as("value_mils"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Co-located bucketed join: events and the per-user dim table share
    // bucket count + key, so the fact ⋈ dim join (and the dim build's own
    // aggregation) plans ZERO Exchange — both sides stream pre-hashed
    // buckets into a sort-merge join (hinted: at bench SF the dim side
    // would broadcast, hiding the co-location being demonstrated; at
    // 100 TB per-entity dims outgrow broadcast and this IS the plan).
    // Asserted shuffle-free in StoreSpec.
    Q("q_bucketed_join",
      (s, dir) => {
        val ev = BucketedStore.read(s, dir)
        val dims = s.table(BucketedStore.ensureBucketedUserDims(s, dir))
        ev.join(dims.hint("merge"), "user_id")
          .select(col("event_id"), col("user_id"), col("n_ev"),
            expr("unix_micros(first_ts)").as("first_us"),
            expr("unix_micros(ts)").as("ts_us"))
          .orderBy("event_id")
      },
      Some("""WITH d AS (SELECT user_id, count(*) AS n_ev, min(ts) AS first_ts
             |          FROM events GROUP BY 1)
             |SELECT e.event_id, e.user_id, d.n_ev,
             |       epoch_us(d.first_ts) AS first_us, epoch_us(e.ts) AS ts_us
             |FROM events e JOIN d USING (user_id) ORDER BY event_id""".stripMargin)),

    // Morton/Z-order clustering key: interleave (value-grid, user-grid)
    // into one locality-preserving key via magic-mask bit spreads (pure
    // builtin bit ops — whole-stage codegen; the same arithmetic runs in
    // DuckDB for the oracle). Output pins encode AND decode: gx2/gy2 are
    // the Spark-side de-interleave, the oracle states them as identity.
    Q("q_zorder_key",
      (s, dir) => {
        import graft.functions.ZOrder
        Tables.events(s, dir)
          .withColumn("gx", graft.store.ZOrderStore.gridX(col("value")))
          .withColumn("gy", graft.store.ZOrderStore.gridY(col("user_id")))
          .withColumn("zkey", ZOrder.mortonKey(col("gx"), col("gy")))
          .select(col("event_id"), col("gx"), col("gy"), col("zkey"),
            ZOrder.mortonX(col("zkey")).as("gx2"),
            ZOrder.mortonY(col("zkey")).as("gy2"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id,
             |         CAST(floor(value*1000) AS BIGINT) & 65535 AS gx,
             |         user_id & 65535 AS gy
             |  FROM events),
             |s AS (SELECT event_id, gx, gy,
             |        ((gx | (gx << 8)) & 16711935) AS x1,
             |        ((gy | (gy << 8)) & 16711935) AS y1 FROM b),
             |t AS (SELECT event_id, gx, gy,
             |        ((x1 | (x1 << 4)) & 252645135) AS x2,
             |        ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s),
             |u AS (SELECT event_id, gx, gy,
             |        ((x2 | (x2 << 2)) & 858993459) AS x3,
             |        ((y2 | (y2 << 2)) & 858993459) AS y3 FROM t),
             |v AS (SELECT event_id, gx, gy,
             |        ((x3 | (x3 << 1)) & 1431655765) AS x4,
             |        ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM u)
             |SELECT event_id, gx, gy, (x4 | (y4 << 1)) AS zkey,
             |       gx AS gx2, gy AS gy2
             |FROM v ORDER BY event_id""".stripMargin)),

    // bbox scan over the Z-order-clustered store: ONE range predicate on
    // the clustered key prunes 2-D — partition dirs outside
    // [zlo>>26, zhi>>26] never list (PartitionFilters), row groups
    // outside [zlo, zhi] skip on min/max stats (PushedFilters), the
    // exact gx/gy re-check removes z-jump extras. Sound because Morton
    // is monotonic per coordinate. Oracle = the plain bbox filter.
    Q("q_zorder_scan",
      (s, dir) => {
        val path = graft.store.ZOrderStore.ensureZEventsStore(s, dir)
        graft.store.ZOrderStore.bboxScan(s, path, 10000, 30000, 4, 120)
          .select(col("event_id"), col("gx"), col("gy"),
            expr("unix_micros(ts)").as("ts_us"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |       CAST(floor(value*1000) AS BIGINT) & 65535 AS gx,
             |       user_id & 65535 AS gy,
             |       epoch_us(ts) AS ts_us
             |FROM events
             |WHERE (CAST(floor(value*1000) AS BIGINT) & 65535) BETWEEN 10000 AND 30000
             |  AND (user_id & 65535) BETWEEN 4 AND 120
             |ORDER BY event_id""".stripMargin)),

    // Hilbert clustering key (the jump-free sibling of q_zorder_key, the
    // layout lakehouse OPTIMIZE prefers): native codegen encode (the
    // per-level rotate/reflect state would double a builtin-Column tree
    // per level), decode pinned in-output. The oracle replays the SAME
    // quadrant walk as a 16-level CTE chain GENERATED from the encode
    // loop's algebra (graft.functions.HilbertOps.xy2dSqlCtes), so the
    // two cannot drift; hx2/hy2 are the Spark-side inverse, stated as
    // identity by the oracle.
    Q("q_hilbert_key",
      (s, dir) => {
        import graft.functions.HilbertOps
        Tables.events(s, dir)
          .withColumn("gx", graft.store.ZOrderStore.gridX(col("value")))
          .withColumn("gy", graft.store.ZOrderStore.gridY(col("user_id")))
          .withColumn("hkey", HilbertOps.hilbertKey(col("gx"), col("gy")))
          .withColumn("_xy", HilbertOps.hilbertXY(col("hkey")))
          .select(col("event_id"), col("gx"), col("gy"), col("hkey"),
            col("_xy").getField("x").as("hx2"),
            col("_xy").getField("y").as("hy2"))
          .orderBy("event_id")
      },
      Some {
        import graft.functions.HilbertOps
        s"""WITH b AS (
           |  SELECT event_id,
           |         CAST(floor(value*1000) AS BIGINT) & 65535 AS gx,
           |         user_id & 65535 AS gy,
           |         CAST(floor(value*1000) AS BIGINT) & 65535 AS x,
           |         user_id & 65535 AS y
           |  FROM events),
           |${HilbertOps.xy2dSqlCtes("b", Seq("event_id", "gx", "gy"))}
           |SELECT event_id, gx, gy, d AS hkey, gx AS hx2, gy AS hy2
           |FROM ${HilbertOps.LastCte} ORDER BY event_id""".stripMargin
      }),

    // bbox scan over the Hilbert-clustered store: no single key range
    // exists (Hilbert is not per-coordinate monotonic), but every
    // partition dir is an exact aligned quadrant — the covering dirs are
    // 64 driver-side decodes emitted as a LITERAL IN-list (compile-time
    // PartitionFilters, asserted in StoreSpec along with the covering
    // count), then exact gx/gy pushdown prunes row groups (tight stats:
    // files are hkey-sorted). Same bbox as q_zorder_scan so the two
    // layouts' plans are directly comparable; oracle = plain bbox filter.
    Q("q_hilbert_scan",
      (s, dir) => {
        val path = graft.store.HilbertStore.ensureHilbertStore(s, dir)
        graft.store.HilbertStore.bboxScan(s, path, 10000, 30000, 4, 120)
          .select(col("event_id"), col("gx"), col("gy"),
            expr("unix_micros(ts)").as("ts_us"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |       CAST(floor(value*1000) AS BIGINT) & 65535 AS gx,
             |       user_id & 65535 AS gy,
             |       epoch_us(ts) AS ts_us
             |FROM events
             |WHERE (CAST(floor(value*1000) AS BIGINT) & 65535) BETWEEN 10000 AND 30000
             |  AND (user_id & 65535) BETWEEN 4 AND 120
             |ORDER BY event_id""".stripMargin)),

    // File-skipping index lookup on a NON-layout column: the store is
    // bucketed by user hash (the ingest clustering), probed by event_id
    // — no partition arithmetic can route the probe, so without the
    // per-bucket hash-bit signature every lookup scans all 32 dirs.
    // The index consult turns into a LITERAL bucket IN-list (compile-
    // time PartitionFilters, asserted in StoreSpec) + broadcast semi-
    // join for the exact match. Probe set = 60 formula ids (some
    // misses — the bloom prunes them). Oracle: plain IN-list filter.
    Q("q_skip_scan",
      (s, dir) => {
        val store = graft.store.SkipIndexStore.ensureSkipStore(s, dir)
        val index = graft.store.SkipIndexStore.ensureSkipIndex(s, store)
        import s.implicits._
        val keys = (0 until 60).map(i => i.toLong * 197L + 11L).toDF("k")
        graft.store.SkipIndexStore.skipScan(s, store, index, keys)
          .select(col("event_id"), col("user_id"), col("event_type"),
            floor(col("value") * 1000).cast("long").as("value_mils"),
            col("ts_us"))
          .orderBy("event_id")
      },
      Some {
        val ids = (0 until 60).map(i => i.toLong * 197L + 11L).mkString(", ")
        s"""SELECT event_id, user_id, event_type,
           |       CAST(floor(value*1000) AS BIGINT) AS value_mils,
           |       epoch_us(ts) AS ts_us
           |FROM events WHERE event_id IN ($ids)
           |ORDER BY event_id""".stripMargin
      }),

    // Constant-width Bloom file skipping — q_skip_scan's signature is an
    // EXACT hash-bit set that grows with distinct keys and saturates at
    // high cardinality; this is the fixed 4 KiB k=3 Bloom bitset per
    // bucket (the parquet-column-bloom/Iceberg construction) answering
    // the same non-layout-column probes: candidate bucket iff all 3
    // bits present, literal IN-list partition pruning (asserted in
    // StoreSpec), exact semi-join after. Oracle: plain IN-list filter —
    // false positives cost a pruned scan, never a row.
    Q("q_bloom_scan",
      (s, dir) => {
        val store = graft.store.SkipIndexStore.ensureSkipStore(s, dir)
        val index = graft.store.BloomIndexStore.ensureBloomIndex(s, store)
        import s.implicits._
        val keys = (0 until 60).map(i => i.toLong * 211L + 7L).toDF("k")
        graft.store.BloomIndexStore.bloomScan(s, store, index, keys)
          .select(col("event_id"), col("user_id"), col("event_type"),
            floor(col("value") * 1000).cast("long").as("value_mils"),
            col("ts_us"))
          .orderBy("event_id")
      },
      Some {
        val ids = (0 until 60).map(i => i.toLong * 211L + 7L).mkString(", ")
        s"""SELECT event_id, user_id, event_type,
           |       CAST(floor(value*1000) AS BIGINT) AS value_mils,
           |       epoch_us(ts) AS ts_us
           |FROM events WHERE event_id IN ($ids)
           |ORDER BY event_id""".stripMargin
      }),

    // String zone-map prefix scan — the Iceberg truncate-transform
    // stat: hash signatures (q_skip_scan/q_bloom_scan) can't serve a
    // PREFIX predicate, order-preserving truncated min/max zones can.
    // Range-clustered doc store probed by first-token prefix 'sp';
    // consult = driver filter on the O(buckets) zone frame → literal
    // IN-list PartitionFilters (asserted in StoreSpec) + pushed
    // startswith. Oracle: plain prefix filter over documents.
    Q("q_zone_scan",
      (s, dir) => {
        val store = graft.store.StringZoneStore.ensureZoneStore(s, dir)
        val index = graft.store.StringZoneStore.ensureZoneIndex(s, store)
        graft.store.StringZoneStore.prefixScan(s, store, index, "sp")
          .select(col("doc_id"), col("zkey").as("word"), col("source"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, split_part(text, ' ', 1) AS word, source
             |FROM documents
             |WHERE split_part(text, ' ', 1) LIKE 'sp%'
             |ORDER BY doc_id""".stripMargin)),

    // Incremental join-view maintenance — V_new = V_old ∪ ΔA⋈B_new ∪
    // A_old⋈ΔB: the staged orders⋈lineitem view absorbs both sides'
    // delta batches without re-joining base×base (the delta joins probe
    // with batch-sized sides; the staged view is a flat scan). The
    // oracle recomputes the FULL join — equality is the delta algebra's
    // correctness, checked on a rollup both engines can hash.
    Q("q_ivm_join",
      (s, dir) => {
        val ord = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"))
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_returnflag"),
            floor(col("l_quantity")).cast("long").as("qty"))
        graft.store.Maintenance.incrementalJoinView("ord_li",
            ord.filter(pmod(col("o_orderkey"), lit(5L)) =!= 0L),
            ord.filter(pmod(col("o_orderkey"), lit(5L)) === 0L),
            li.filter(pmod(col("o_orderkey"), lit(7L)) =!= 0L),
            li.filter(pmod(col("o_orderkey"), lit(7L)) === 0L),
            "o_orderkey")
          .groupBy(col("o_orderpriority"), col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
          .orderBy("o_orderpriority", "l_returnflag")
      },
      Some("""SELECT o_orderpriority, l_returnflag,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_sum
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming-maintained materialized view: per-(day, type) aggregates
    // MERGE-maintained across MANY micro-batches in foreachBatch (the
    // one replay that deliberately splits the backlog — count/sum are
    // associative, so no watermark or single-batch contract is needed
    // and the final view equals the batch aggregation = the oracle).
    // Versioned-snapshot commits; StreamingSpec asserts >1 batch really
    // ran and intermediate versions were partial.
    Q("q_stream_matview",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.matviewReplay(s, store, store + "_matview")
          .orderBy("day_us", "event_type")
      },
      Some("""SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
             |       count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // LATE-DATA CENSUS: per-hour watermark-drop accounting over a
    // deterministic out-of-order trail (on-time even days, on-time odd
    // days, then every straggler event_id%7==0). Pinned semantics
    // (StreamingSpec): batch-2 stragglers filter against the watermark
    // COMMITTED WITH BATCH 1 (= max batch-0 ts − 1 min — the late-wm
    // lags eviction one batch), the filter keys on WINDOW END (an open
    // window absorbs a straggler whose raw ts is behind the wm), and
    // Append emits windows whose end ≤ the final watermark. The oracle
    // replays all three predicates in µs arithmetic.
    Q("q_stream_late",
      (s, dir) => {
        val store = Replay.ensureEventsLateStore(s, dir)
        Replay.lateCensusReplay(s, store, store + "_census_out")
          .orderBy("bucket_us")
      },
      Some("""WITH d0 AS (SELECT min(date_trunc('day', ts)) AS d FROM events),
             |wml AS (SELECT max(ts) - INTERVAL 1 MINUTE AS w FROM events, d0
             |        WHERE event_id % 7 <> 0
             |          AND date_diff('day', d0.d, date_trunc('day', ts)) % 2 = 0),
             |wmf AS (SELECT max(ts) - INTERVAL 1 MINUTE AS w FROM events),
             |e AS (SELECT date_trunc('hour', ts) AS h,
             |             event_id % 7 = 0 AS straggler FROM events),
             |kept AS (SELECT h FROM e WHERE NOT straggler
             |         UNION ALL
             |         SELECT h FROM e, wml
             |         WHERE straggler AND h + INTERVAL 1 HOUR > wml.w),
             |em AS (SELECT h, count(*) AS n_emitted FROM kept GROUP BY h),
             |tot AS (SELECT h, count(*) AS n_total FROM e GROUP BY h)
             |SELECT epoch_us(em.h) AS bucket_us, n_emitted, n_total,
             |       n_total - n_emitted AS n_dropped
             |FROM em JOIN tot USING (h), wmf
             |WHERE em.h + INTERVAL 1 HOUR <= wmf.w
             |ORDER BY bucket_us""".stripMargin)),

    // Streaming HLL: the bit-deterministic register census maintained
    // incrementally across micro-batches (per-batch ≤2⁸-row partials
    // merged by register max / count sum — sketch state through the
    // q_stream_matview merge pattern). The oracle is the SAME
    // single-pass SQL as q_hll_census: micro-batch boundaries must
    // leave no trace, which is the HLL merge law, hash-checked
    // cross-engine.
    Q("q_stream_hll",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.hllCensusReplay(s, store, store + "_hll_view")
          .orderBy("register")
      },
      Some(PipelineQueries.hllCensusOracleSql)),

    // Streaming KMV: the bottom-64 distinct-user sketch maintained
    // incrementally (per-batch bottom-k partials, running
    // truncate-union view — ≤k rows of state forever). Min-order is
    // global, so the oracle is LITERALLY q_kmv_sketch's single-pass
    // SQL: batch boundaries leave no trace, hash-checked.
    Q("q_stream_kmv",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.kmvReplay(s, store, store + "_kmv_view", k = 64)
          .orderBy("rank")
      },
      Some(PipelineQueries.kmvSketchOracleSql)),

    // Streaming CMS: the count-min register census maintained
    // incrementally (per-batch depth×width partials merged by register
    // SUM — the CMS merge law, exact like the HLL register max). The
    // oracle is LITERALLY q_cms_census's single-pass SQL: micro-batch
    // boundaries must leave no trace, hash-checked cross-engine.
    Q("q_stream_cms",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.cmsReplay(s, store, store + "_cms_view")
          .orderBy("row_id", "col_id")
      },
      Some(PipelineQueries.cmsCensusOracleSql)),

    // Streaming RESERVOIR: the deterministic global bottom-100 row
    // sample maintained incrementally (per-batch bottom-k, running
    // truncate-union — kmvReplay's min-order exactness on the ROW
    // sample). Oracle is LITERALLY q_reservoir's single-pass SQL.
    Q("q_stream_reservoir",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.reservoirReplay(s, store, store + "_rsv_view", k = 100)
      },
      Some(CoreQueries.reservoirOracleSql)),

    // Streaming DRIFT monitor: the (group, period, bin) value-histogram
    // census maintained across micro-batches, deviation + χ² read from
    // the final view — the live data-drift alarm. Counts merge
    // associatively, so the oracle is LITERALLY q_drift_hist's
    // single-pass SQL, hash-checked cross-engine.
    Q("q_stream_drift",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        val cells = Replay.driftReplay(s, store, store + "_drift_view",
          cutUs = 1705363200000000L, lo = 0.0, binWidth = 10.0, bins = 10)
        cells.groupBy(col("g").as("event_type"))
          .agg(sum(col("n_ref")).as("n_ref"), sum(col("n_cur")).as("n_cur"),
            sum(col("dev_ppm")).as("tv2_ppm"), sum(col("chi2_ppm")).as("chi2_ppm"))
          .orderBy("event_type")
      },
      Some(PipelineQueries.driftHistOracleSql)),

    // Streaming Brier calibration: the per-bin (count, p/o/(p−1000o)²
    // sums) census maintained across micro-batches — every column is a
    // SUM, so partials merge by addition and the decomposition read
    // from the view equals the batch one. Oracle is LITERALLY
    // q_brier's single-pass SQL, hash-checked cross-engine.
    Q("q_stream_brier",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.brierReplay(s, store, store + "_brier_view")
          .orderBy("n")
      },
      Some(CoreQueries.brierOracleSql)),

    // Streaming EXACT quantiles: the per-value count census maintained
    // across micro-batches, nearest-rank p50/90/99 read from the final
    // view via the guarded 2-pass selection (coarse-bin driver walk +
    // boundary-bin resolve — never a global rank window). Count merges
    // are associative, so the oracle is LITERALLY q_exact_quantiles'
    // single-pass SQL, hash-checked cross-engine.
    Q("q_stream_quantile",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.histQuantileReplay(s, store, store + "_quant_view", Seq(50, 90, 99))
          .orderBy("pct")
      },
      Some(CoreQueries.exactQuantilesOracleSql)),

    // Streaming heavy hitters: top-20 most-active users maintained
    // incrementally across micro-batches — the q_stream_matview merge
    // pattern on the HIGH-CARDINALITY key, ranked only at readout
    // (TakeOrdered, deterministic (n desc, user_id) ties). Count/sum
    // are associative, so the maintained view equals the batch census
    // = the oracle.
    Q("q_stream_topk",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.topkReplay(s, store, store + "_topkview", k = 20)
      },
      Some("""SELECT user_id, count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1
             |ORDER BY n DESC, user_id LIMIT 20""".stripMargin)),

    // String-agg JSON serialization
    // (/root/reference/stores/postgresql_sql_text_conv.py:79-94): the
    // document is assembled by string concatenation, ordered by id.
    Q("q_stringagg_json",
      (s, dir) => {
        val e = Tables.events(s, dir).select(
          col("event_type"), col("event_id"),
          concat(lit("{\"id\":"), col("event_id"),
            lit(",\"u\":"), col("user_id"), lit("}")).as("j"))
        e.groupBy(col("event_type"))
          .agg(
            concat(lit("["),
              array_join(
                transform(
                  sort_array(collect_list(struct(col("event_id").as("k"), col("j").as("j")))),
                  x => x.getField("j")),
                ","),
              lit("]")).as("json_arr"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  '[' || string_agg('{"id":' || event_id || ',"u":' || user_id || '}', ',' ORDER BY event_id) || ']' AS json_arr,
             |  count(*) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Small-file compaction: the 720-dir hour store rewritten as 8
    // range-sorted-by-ts files (Maintenance.compact), then read back and
    // checksummed per day against the SOURCE table — the
    // order-independent md5-prefix sum proves the rewrite moved every
    // row exactly once, independent of which file the range sampler put
    // it in. StoreSpec asserts the file-count drop and the time-locality
    // of the compacted files.
    Q("q_compact",
      (s, dir) => {
        val path = graft.store.Maintenance.ensureCompactedEvents(s, dir, targetFiles = 8)
        s.read.parquet(path)
          .select(
            date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
            conv(substring(md5(concat_ws("|",
              col("event_id"), col("user_id"), col("event_type"),
              expr("unix_micros(ts)"))), 1, 12), 16, 10)
              .cast("long").as("_h"))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n"), sum(col("_h")).as("checksum"))
          .orderBy("day")
      },
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, count(*) AS n,
             |  CAST(sum(CAST(('0x' || substr(md5(
             |        event_id || '|' || user_id || '|' || event_type || '|' || epoch_us(ts)
             |      ), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Additive schema evolution: ver=1 files predate the `value` column,
    // ver=2 files carry it; a mergeSchema read unions the footers (no
    // data rewrite) and surfaces v1's value as NULL with `ver` as a
    // partition column. The oracle derives the same census from the
    // source table and the evolution cutoff.
    Q("q_schema_evolution",
      (s, dir) => {
        val path = graft.store.Maintenance.ensureEvolvedStore(s, dir)
        graft.store.Maintenance.readEvolved(s, path)
          .groupBy(col("ver"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
            sum(coalesce(floor(col("value") * 1000).cast("long"), lit(0L)))
              .as("value_mils"))
          .orderBy("ver")
      },
      Some(s"""SELECT CASE WHEN ts < TIMESTAMP '${graft.store.Maintenance.EvolutionCutoff}' THEN 1 ELSE 2 END AS ver,
              |       count(*) AS n_rows,
              |       CAST(sum(CASE WHEN ts < TIMESTAMP '${graft.store.Maintenance.EvolutionCutoff}' THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
              |       CAST(sum(CASE WHEN ts >= TIMESTAMP '${graft.store.Maintenance.EvolutionCutoff}'
              |                     THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END) AS BIGINT) AS value_mils
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-user running totals on Spark 4's arbitrary-state v2 API
    // (transformWithState + StatefulProcessor + typed ValueState vars,
    // RocksDB-backed) — the modern twin of q_stream_traj_state's
    // mapGroupsWithState. Single-data-batch replay ⇒ the final state per
    // key equals the batch totals, which is the oracle.
    // DEMO SINK (VERDICT r5 Next #6): Update-mode memory sink, bounded
    // (150 keys); the 100× route for Update-mode state is foreachBatch
    // into a store — q_stream_tws_files below IS that route.
    Q("q_stream_tws",
      (s, dir) => {
        val path = SnapshotStore.ensureReplayStore(s, dir)
        Replay.runningTotalsReplay(s, path, "tws_sink").orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // File-sink twin of q_stream_tws (VERDICT r7 Next #6): the same
    // transformWithState pipeline with foreachBatch appending each
    // micro-batch's update rows to parquet — emitted state never touches
    // the driver, so the plumbing holds at any key cardinality; the
    // max-reduction over appended rows equals the final state because
    // per-key totals strictly increase.
    Q("q_stream_tws_files",
      (s, dir) => {
        val path = SnapshotStore.ensureReplayStore(s, dir)
        Replay.runningTotalsReplayFiles(s, path, path + "_tws_out").orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Row-level streaming dedup (dropDuplicatesWithinWatermark) over a
    // source with PLANTED duplicate files (first half of the day
    // partitions delivered twice): bounded per-key state inside the
    // watermark horizon, each event emitted exactly once — read-back
    // hourly totals equal the clean store's batch aggregation.
    Q("q_stream_dedup_rows",
      (s, dir) => {
        val store = SnapshotStore.ensureReplayStore(s, dir)
        Replay.rowDedupReplay(s, store, store + "_rowdedup_work")
          .orderBy("bucket_us")
      },
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // State-store introspection (Spark's state data source): after the
    // tws-files replay, the RocksDB checkpoint's two ValueState
    // variables read back as DataFrames — state auditing as a table
    // scan, no replay. Equality with the batch totals proves the
    // checkpoint holds exactly the final state.
    Q("q_state_inspect",
      (s, dir) => {
        val path = SnapshotStore.ensureReplayStore(s, dir)
        Replay.runningTotalsReplayFiles(s, path, path + "_tws_out")
        Replay.readRunningTotalsState(s, path + "_tws_out_chk").orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Checkpoint-resume across TWO availableNow runs sharing one
    // checkpoint (run 1: first half of the day partitions; run 2: the
    // rest added) — exactly-once incremental processing with RocksDB
    // state recovery; the operator itself asserts run 2 read ONLY the
    // added days. Final totals equal the whole-store batch aggregation
    // only if both the source commit log and the state survived the
    // restart — which is what the oracle checks.
    Q("q_stream_restart",
      (s, dir) => {
        val path = SnapshotStore.ensureReplayStore(s, dir)
        Replay.runningTotalsRestart(s, path, path + "_restart_work").orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Dynamic partition pruning: the hour store joined to a small dim of
    // 72 wanted buckets (3 days × 24 h, with a selective filter) — at
    // planning time the scan cannot prune (the wanted set is the JOIN's
    // output), so Catalyst inserts a dynamic pruning subquery that reuses
    // the broadcast to skip the other ~648 hour directories AT RUNTIME.
    // PlanRulesSpec asserts `dynamicpruning` in the scan's partition
    // filters; the oracle is the static-filter equivalent.
    Q("q_dpp_join",
      (s, dir) => {
        val path = SnapshotStore.ensureEventsStore(s, dir)
        val store = SnapshotStore.read(s, path)
        val days = Seq("2024-01-05", "2024-01-11", "2024-01-20")
        val dim = s.range(0, 24)
          .select(explode(lit(days.toArray)).as("day"), col("id").cast("int").as("h"))
          .filter(col("day") =!= "1970-01-01")
          .select(concat(col("day"), lit("-"),
            lpad(col("h").cast("string"), 2, "0")).as("bucket"), col("day"))
        store.join(dim, "bucket")
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("value_mils"))
          .orderBy("day")
      },
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events
             |WHERE strftime(date_trunc('day', ts), '%Y-%m-%d')
             |      IN ('2024-01-05', '2024-01-11', '2024-01-20')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Spark-4 VARIANT semi-structured path: props parsed ONCE into a
    // variant column at write time (stored as parquet binary
    // metadata/value), then typed variant_get path extraction on
    // read-back — no per-query JSON string parse (contrast
    // q_json_extract, which re-parses per path). A missing path through
    // try_variant_get is NULL, not an error.
    Q("q_variant_extract",
      (s, dir) => {
        val path = graft.store.Maintenance.ensureVariantStore(s, dir)
        s.read.parquet(path)
          .selectExpr(
            "event_id",
            "variant_get(props_v, '$.k', 'bigint') AS k",
            "try_variant_get(props_v, '$.missing', 'bigint') AS k_missing")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, CAST(props->>'k' AS BIGINT) AS k,
             |       CAST(NULL AS BIGINT) AS k_missing
             |FROM events ORDER BY event_id""".stripMargin)),

    // Byte-balanced rewrite planning — the deterministic core of an
    // OPTIMIZE job on a skewed-row-size table (q_compact's range
    // sampler balances ROW COUNTS; a table where some rows are 100×
    // bigger needs BYTE balance): every doc gets a target file id via
    // the exact global byte prefix sum (banded two-pass — no
    // single-partition sort; see Maintenance.balancedWriteSplit), and
    // the per-file census proves the files are byte-even and
    // key-contiguous (disjoint min/max ranges keep scan pruning alive
    // after the rewrite).
    Q("q_write_split",
      (s, dir) => {
        val m = Tables.documents(s, dir).select(
          col("doc_id").cast("long").as("key"),
          octet_length(col("text").cast("binary")).cast("long").as("nb"))
        graft.store.Maintenance.balancedWriteSplit(m, nFiles = 8)
          .groupBy(col("file_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("bytes"),
            min(col("key")).as("min_doc"), max(col("key")).as("max_doc"))
          .orderBy("file_id")
      },
      Some("""WITH m AS (SELECT doc_id,
             |                  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
             |           FROM documents),
             |c AS (SELECT doc_id, nb,
             |        sum(nb) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - nb AS ce
             |      FROM m),
             |t AS (SELECT sum(nb) AS tot FROM m),
             |f AS (SELECT doc_id, nb, CAST(ce * 8 // tot AS BIGINT) AS file_id
             |      FROM c CROSS JOIN t)
             |SELECT file_id, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(nb) AS BIGINT) AS bytes,
             |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
             |FROM f GROUP BY 1 ORDER BY file_id""".stripMargin))
  )

  /** Second, independent commit log for q_log_vacuum (the vacuum
    * MUTATES its log — it must not share q_time_travel's store). */
  private def ensureVersionedCustLog2(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    ensureCustLog(s, dir, s"${SnapshotStore.root}/custlog2_${SnapshotStore.sfName(dir)}")

  /** Idempotent three-commit versioned customer log for q_time_travel
    * (the SnapshotStore.ensure* pattern: build once per JVM+disk
    * lifetime, keyed by a sentinel; partial builds from a killed JVM are
    * wiped and rebuilt). */
  private def ensureVersionedCustLog(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    ensureCustLog(s, dir, s"${SnapshotStore.root}/custlog_${SnapshotStore.sfName(dir)}")

  private def ensureCustLog(
      s: org.apache.spark.sql.SparkSession, dir: String, path: String): String = synchronized {
    val done = java.nio.file.Paths.get(path, "_GRAFT_COMMITS_DONE")
    if (!java.nio.file.Files.exists(done)) {
      SnapshotStore.deleteRecursively(new java.io.File(path))
      val base = Tables.customer(s, dir).select(col("c_custkey").as("k"),
        floor(col("c_acctbal") * 1000).cast("long").as("bal_mils"))
      MergeStore.writeCommit(base.withColumn("_op", lit("U")), path, 0)
      val v1 = base.filter(col("k") % 7 === 0)
        .withColumn("bal_mils", col("bal_mils") + 100000L)
        .withColumn("_op", lit("U"))
        .unionByName(base.filter(col("k") % 13 === 0 && col("k") % 7 =!= 0)
          .withColumn("_op", lit("D")))
      MergeStore.writeCommit(v1, path, 1)
      val v2 = base.filter(col("k") % 5 === 0)
        .withColumn("bal_mils", col("bal_mils") + 50000L)
        .withColumn("_op", lit("U"))
      MergeStore.writeCommit(v2, path, 2)
      java.nio.file.Files.createFile(done)
    }
    path
  }
}
