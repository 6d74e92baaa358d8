package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Encodings, Flatten, Graph, Labeling, Normalize, Spatial, Stats, TimeSeries, Trajectory}
import graft.plans.Spread._
import graft.sources.Tables

/** One registered, oracle-checked query. `oracle` is ANSI-ish SQL runnable
  * by DuckDB over the same parquet tables; None → driver falls back to a
  * rows-only check (used for ops SQL cannot express, e.g. binary pairing).
  *
  * Determinism rules for the hash compare (driver sorts columns by name,
  * then hashes values):
  *  - identical column names on both sides;
  *  - an ORDER BY giving a total order on both sides;
  *  - timestamps surfaced as epoch-µs BIGINTs (parquet µs/ns and pandas
  *    tz-awareness make raw timestamp columns hash-unstable);
  *  - double SUMs made order-independent: either integral-valued doubles
  *    (exact in IEEE754 regardless of order) or pre-truncated to BIGINT
  *    via floor(x*scale) per row.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Core operator queries: point/bucket/range scans, as-of, trajectory
  * pivot, tumbling windows, bbox stats, normalization joins, encodings,
  * GeoJSON round-trip (SURVEY.md §2.2-§2.8).
  */
object CoreQueries {

  /** Single-pass nearest-rank p50/90/99 of value_mils — ONE SQL text
    * shared by q_exact_quantiles (batch 2-pass selection) and
    * q_stream_quantile (micro-batch-maintained census): count merges
    * are associative, so any sharding must hash to this single-pass
    * replay. */
  private[queries] def exactQuantilesOracleSql: String =
    """WITH v AS (SELECT CAST(floor(value*1000) AS BIGINT) AS v FROM events),
      |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
      |             CAST(count(*) OVER () AS BIGINT) AS n FROM v)
      |SELECT p.pct, r.n, r.v AS value_mils
      |FROM (VALUES (CAST(50 AS BIGINT)), (CAST(90 AS BIGINT)),
      |             (CAST(99 AS BIGINT))) p(pct)
      |JOIN r ON r.rn = (r.n * p.pct + 99) // 100
      |ORDER BY pct""".stripMargin

  /** Single-pass bottom-100 row sample — ONE SQL text shared by
    * q_reservoir (batch TakeOrdered) and q_stream_reservoir (per-batch
    * bottom-k truncate-union merged): min-order is global, so any
    * sharding must hash to this single-pass replay. */
  private[queries] def reservoirOracleSql: String =
    """SELECT md5(CAST(event_id AS VARCHAR)) AS h, event_id, user_id, event_type
      |FROM events ORDER BY h, event_id LIMIT 100""".stripMargin

  /** Single-pass Brier decomposition over events — ONE SQL text shared
    * by q_brier (batch) and q_stream_brier (micro-batch-maintained
    * census): the census columns are pure sums, so any sharding must
    * hash to this single-pass replay. */
  private[queries] def brierOracleSql: String =
    """WITH b AS (SELECT CAST(floor(value * 1000) AS BIGINT) % 1000 AS p,
      |                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o
      |           FROM events),
      |pb AS (SELECT p // 100 AS bin, CAST(count(*) AS BIGINT) AS n_k,
      |              CAST(sum(p) AS BIGINT) AS sp, CAST(sum(o) AS BIGINT) AS so,
      |              sum(CAST(p - 1000 * o AS HUGEINT) * (p - 1000 * o)) AS se
      |       FROM b GROUP BY 1),
      |pb2 AS (SELECT *, 1000 * so // n_k AS om FROM pb),
      |g AS (SELECT CAST(sum(n_k) AS BIGINT) AS n, sum(se) AS sum_e,
      |             sum((CAST(sp AS HUGEINT) - 1000 * so)
      |                 * (CAST(sp AS HUGEINT) - 1000 * so) // n_k) AS rel,
      |             CAST(sum(so) AS BIGINT) AS sot
      |      FROM pb2),
      |g2 AS (SELECT *, 1000 * sot // n AS omg FROM g),
      |r AS (SELECT g2.n, g2.sum_e, g2.rel, g2.omg,
      |             sum(CAST(pb2.n_k AS HUGEINT) * (pb2.om - g2.omg)
      |                 * (pb2.om - g2.omg)) AS res
      |      FROM pb2 CROSS JOIN g2 GROUP BY 1, 2, 3, 4)
      |SELECT n, CAST(sum_e // n AS BIGINT) AS brier_ppm,
      |       CAST(rel // n AS BIGINT) AS rel_ppm,
      |       CAST(res // n AS BIGINT) AS res_ppm,
      |       CAST(omg * (1000 - omg) AS BIGINT) AS unc_ppm
      |FROM r ORDER BY n""".stripMargin

  /** Build-once canonical GeoJSON store (the reference's true 11-field
    * pyarrow schema, nest → flatten → parquet with the timestamp[:13]
    * hour-file layout). Shared by q_geojson_canonical and Bench's
    * write-metric pre-build, so the query times the READ round-trip and
    * the write is its own metric — the reference times the two
    * separately (/root/reference/benchmark.py:55-80). */
  def ensureCanonicalGeoStore(s: SparkSession, dir: String): String = synchronized {
    import graft.model.Schemas
    val path = s"${graft.store.SnapshotStore.root}/geojson_${graft.store.SnapshotStore.sfName(dir)}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
      val flat = Tables.events(s, dir).select(
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("timestamp"),
        col("user_id").cast("string").as("uuid"),
        col("event_id").as("id"),
        col("event_type").as("color"),
        (col("event_id") % 2 === 1).as("direction"),
        col("value").cast("float").as("distance"),
        (col("event_id") % 65536).cast("int").as("distanceFromPoint"),
        concat(lit("L"), (col("user_id") % 10).cast("string")).as("lineId"),
        col("value").cast("float").as("coordinates_0"),
        (col("value") * 0.5).cast("float").as("coordinates_1"),
        col("user_id").cast("string").as("uuidx"))
      val docs = Flatten.nest(flat, "timestamp", "id",
        Seq("uuid", "id", "color", "direction", "distance",
          "distanceFromPoint", "lineId", "uuidx"),
        "coordinates_0", "coordinates_1")
      val stored = Flatten.flatten(docs, "timestamp")
        .select(Schemas.flatStored.fieldNames.toSeq.map(col): _*)
      stored
        .withColumn("tbucket", substring(col("timestamp"), 1, 13))
        .repartition(col("tbucket"))
        .write.partitionBy("tbucket").mode("overwrite").parquet(path)
    }
    path
  }

  private val AsOfT = "2024-01-15 00:00:00"
  private val RangeLo = "2024-01-10 00:00:00"
  private val RangeHi = "2024-01-12 00:00:00"
  private val HourBucket = "2024-01-01 00:00:00"

  /** q_dtw_match's spike-and-recover query shape, in mils (events.value
    * spans ~10..490,020 mils). Single source of truth for the Spark DP
    * and the generated DuckDB replay. */
  private val DtwPattern =
    Seq(50000L, 150000L, 300000L, 450000L, 300000L, 150000L, 50000L, 10000L)

  val all: Seq[Q] = Seq(

    // Per-entity rolling time-range window: for each event, the count and
    // value-sum of the SAME user's events in the trailing hour (RANGE
    // frame on event time — row frames would be wrong under uneven
    // arrival gaps). One hash Exchange on user_id + per-partition sort;
    // the frame is evaluated in a single pass over each sorted partition
    // (no self-join). Integer value_mils keeps the sum order-independent.
    Q("q_rolling_window",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"))
          .rangeBetween(-3600000000L, 0L)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("ts_us"),
            floor(col("value") * 1000).cast("long").as("value_mils"))
          .withColumn("n_1h", count(lit(1)).over(w))
          .withColumn("sum_1h", sum(col("value_mils")).over(w))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("n_1h"), col("sum_1h"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |  count(*) OVER w AS n_1h,
             |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) OVER w AS BIGINT) AS sum_1h
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // -- scans ----------------------------------------------------------
    // (q_point_lookup lives in StoreQueries: it runs against the written
    // hour-partitioned store so the plan shows real partition pruning.)
    Q("q_bucket_scan",
      (s, dir) =>
        Tables.events(s, dir)
          .filter(Encodings.hourBucket(col("ts")) === to_timestamp(lit(HourBucket)))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), expr("unix_micros(ts)").as("ts_us"))
          .orderBy("event_id"),
      Some(s"""SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
              |FROM events WHERE date_trunc('hour', ts) = TIMESTAMP '$HourBucket'
              |ORDER BY event_id""".stripMargin)),

    // Range scan against the written store: the loader's raw table carries
    // nanos-as-long ts (predicate can't push through the µs conversion),
    // while the store has a real timestamp column + a derived bucket
    // partition predicate → PartitionFilters AND PushedFilters both hit.
    Q("q_range_scan",
      (s, dir) =>
        graft.store.SnapshotStore.rangeScan(s,
            graft.store.SnapshotStore.ensureEventsStore(s, dir),
            to_timestamp(lit(RangeLo)), to_timestamp(lit(RangeHi)))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), expr("unix_micros(ts)").as("ts_us"))
          .orderBy("event_id"),
      Some(s"""SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
              |FROM events
              |WHERE ts >= TIMESTAMP '$RangeLo' AND ts < TIMESTAMP '$RangeHi'
              |ORDER BY event_id""".stripMargin)),

    // Range/interval predicate JOIN (a ⋈ ts∈[lo,hi)) — the tsrange/
    // get_items_between shape (/root/reference/stores/mobility_db_batch.py:107,
    // motion_lake.py:31-34). Tiny interval side broadcast ⇒ the plan is a
    // BroadcastNestedLoopJoin streaming the fact side once, no shuffle.
    Q("q_interval_join",
      (s, dir) => {
        import s.implicits._
        val intervals = Seq(
          ("w1", "2024-01-05 00:00:00", "2024-01-08 00:00:00"),
          ("w2", "2024-01-10 12:00:00", "2024-01-11 12:00:00"),
          ("w3", "2024-01-20 00:00:00", "2024-01-28 00:00:00"))
          .toDF("iname", "lo_s", "hi_s")
          .select(col("iname"), to_timestamp(col("lo_s")).as("lo"),
            to_timestamp(col("hi_s")).as("hi"))
        Tables.events(s, dir)
          .join(broadcast(intervals), col("ts") >= col("lo") && col("ts") < col("hi"))
          .groupBy(col("iname"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("value_mils"))
          .orderBy("iname")
      },
      Some("""SELECT iname, count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events
             |JOIN (VALUES ('w1', TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-08 00:00:00'),
             |             ('w2', TIMESTAMP '2024-01-10 12:00:00', TIMESTAMP '2024-01-11 12:00:00'),
             |             ('w3', TIMESTAMP '2024-01-20 00:00:00', TIMESTAMP '2024-01-28 00:00:00'))
             |       AS iv(iname, lo, hi)
             |  ON ts >= lo AND ts < hi
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- temporal -------------------------------------------------------
    Q("q_asof_lookup",
      (s, dir) =>
        Trajectory.asOfJoin(Tables.events(s, dir), "user_id", "ts",
            to_timestamp(lit(AsOfT)), tieCols = Seq("event_id"))
          .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"), col("value"))
          .orderBy("user_id"),
      Some(s"""SELECT user_id, epoch_us(ts) AS ts_us, value FROM (
              |  SELECT user_id, ts, value,
              |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              |  FROM events WHERE ts <= TIMESTAMP '$AsOfT') t
              |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Trajectory stats via plain map-side-combinable aggregates — NOT via
    // the pivot's collect_list (an unbounded per-key array is an OOM on a
    // hot entity at 100 TB; VERDICT r1). The pivot itself is correctness-
    // covered by q_traj_pivot below on the same data.
    // first/last value = lexicographic struct min/max, NOT min_by/arg_min:
    // with duplicate timestamps in a key those pick an arbitrary row on
    // each engine; (ts, value) struct ordering is a total order both
    // engines share (ADVICE r2).
    Q("q_traj_stats",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_obs"),
            expr("unix_micros(min(ts))").as("first_ts_us"),
            expr("unix_micros(max(ts))").as("last_ts_us"),
            min(struct(col("ts"), col("value"))).getField("value").as("first_value"),
            max(struct(col("ts"), col("value"))).getField("value").as("last_value"))
          .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS n_obs,
             |       epoch_us(min(ts)) AS first_ts_us, epoch_us(max(ts)) AS last_ts_us,
             |       min(struct_pack(t := ts, v := value)).v AS first_value,
             |       max(struct_pack(t := ts, v := value)).v AS last_value
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Pivot → inverse-pivot round-trip: snapshot-major → trajectory-major
    // → back (the reference's core layout dual, SURVEY.md §1.1; the
    // *intended* inverse its batch stores leave broken, §0 honesty note).
    Q("q_traj_pivot",
      (s, dir) => {
        val traj = Trajectory.pivot(Tables.events(s, dir), "user_id", "ts", Seq("value"))
        Trajectory.unpivot(traj, "user_id", "value_traj")
          .select(col("user_id"), expr("unix_micros(t)").as("ts_us"), col("v").as("value"))
          .orderBy("user_id", "ts_us")
      },
      Some("""SELECT user_id, epoch_us(ts) AS ts_us, value
             |FROM events ORDER BY user_id, ts_us""".stripMargin)),

    // Same round-trip through the SKEW-SAFE two-phase pivot: partial
    // arrays per (key, salt) then concat+sort — the shape that survives a
    // hot entity at 100 TB (one task never builds a whole hot trajectory).
    // Oracle identical to q_traj_pivot: output must be ≡ the plain pivot.
    Q("q_traj_pivot_salted",
      (s, dir) => {
        val traj = Trajectory.pivotSalted(Tables.events(s, dir), "user_id", "ts",
          Seq("value"), saltBuckets = 16)
        Trajectory.unpivot(traj, "user_id", "value_traj")
          .select(col("user_id"), expr("unix_micros(t)").as("ts_us"), col("v").as("value"))
          .orderBy("user_id", "ts_us")
      },
      Some("""SELECT user_id, epoch_us(ts) AS ts_us, value
             |FROM events ORDER BY user_id, ts_us""".stripMargin)),

    // Temporal containment + as-of slice + exact-instant slice + validity
    // range on the pivoted trajectory (MobilityDB atTimestamp/getValue/@>,
    // /root/reference/stores/mobility_db.py:97-114, tsrange
    // mobility_db_batch.py:81-82,107).
    Q("q_traj_contains",
      (s, dir) => {
        val t = to_timestamp(lit(AsOfT))
        val traj = Trajectory.pivot(Tables.events(s, dir), "user_id", "ts", Seq("value"))
        // Bind the as-of slice ONCE as a real column before fanning it out
        // into three projections: higher-order `filter` evaluates
        // interpreted, and CollapseProject would otherwise inline the
        // slice per use — 5 full array passes per row instead of 2
        // (VERDICT r3 What's-wrong #1, 17.1 s → ~2 s). The validity range
        // is element_at(1/-1) on the already-pivoted sorted array — no
        // second scan + join of the flat table.
        traj
          .withColumn("_asof", Trajectory.asOfSlice(col("value_traj"), t))
          .select(
            col("user_id"),
            Trajectory.contains(col("value_traj"), t).as("covers"),
            unix_micros(col("_asof").getField("t")).as("asof_ts_us"),
            col("_asof").getField("v").as("asof_value"),
            Trajectory.atInstant(col("value_traj"), col("_asof").getField("t"))
              .getField("v").as("at_value"),
            unix_micros(element_at(col("value_traj"), 1).getField("t")).as("lo_us"),
            unix_micros(element_at(col("value_traj"), -1).getField("t")).as("hi_us"))
          .orderBy("user_id")
      },
      // Oracle tie semantics mirror the sorted-array ops exactly (ADVICE
      // r2): asOfSlice takes the LAST sorted (t,v) with t ≤ T — i.e.
      // max(struct(ts,value)) — while atInstant takes the FIRST element at
      // that instant — i.e. min(value) at the as-of ts. arg_max(value, ts)
      // would pick an arbitrary row under duplicate timestamps.
      Some(s"""WITH r AS (
              |  SELECT user_id, ts, value,
              |         max(CASE WHEN ts <= TIMESTAMP '$AsOfT' THEN ts END)
              |           OVER (PARTITION BY user_id) AS asof_t
              |  FROM events
              |)
              |SELECT user_id,
              |  (min(ts) <= TIMESTAMP '$AsOfT' AND TIMESTAMP '$AsOfT' <= max(ts)) AS covers,
              |  epoch_us(max(ts) FILTER (WHERE ts <= TIMESTAMP '$AsOfT')) AS asof_ts_us,
              |  (max(struct_pack(t := ts, v := value)) FILTER (WHERE ts <= TIMESTAMP '$AsOfT')).v AS asof_value,
              |  min(value) FILTER (WHERE ts = asof_t) AS at_value,
              |  epoch_us(min(ts)) AS lo_us, epoch_us(max(ts)) AS hi_us
              |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("q_window_hourly",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(
            expr("unix_micros(date_trunc('hour', ts))").as("bucket_us"),
            col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("value_mils"))
          .orderBy("bucket_us", "event_type"),
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
             |       count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Gap-based sessionization via the built-in session_window: per-user
    // sessions close after 2h of inactivity; window.end = last event + gap.
    // Boundary semantics (pinned in WindowSpec, measured on Spark 4.1): an
    // event EXACTLY `gap` after its predecessor still merges — only
    // diff > gap breaks — so the oracle's break predicate is `> gap`.
    // Scale shape: one shuffle on user_id, then sort-merge session
    // assembly per key — no per-session state on the driver.
    Q("q_session_window",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "2 hours"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(floor(col("value") * 1000).cast("long")).as("value_mils"))
          .select(
            col("user_id"),
            expr("unix_micros(session_window.start)").as("session_start_us"),
            expr("unix_micros(session_window.end)").as("session_end_us"),
            col("n_events"),
            col("value_mils"))
          .orderBy("user_id", "session_start_us"),
      Some("""WITH o AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
             |              OVER (PARTITION BY user_id ORDER BY ts) > 7200000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM events),
             |g AS (
             |  SELECT user_id, ts, value,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             |                   ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o)
             |SELECT user_id,
             |       min(epoch_us(ts)) AS session_start_us,
             |       max(epoch_us(ts)) + 7200000000 AS session_end_us,
             |       count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, session_start_us""".stripMargin)),

    // Capped sessionization — the production rule the built-in
    // session_window CANNOT express: a session closes on a 30-minute
    // idle gap OR when it would exceed a 4-hour total duration
    // (analytics suites cap runaway sessions; the cap depends on the
    // RUNNING session start, which no fixed-gap merge knows). A rounded
    // -recurrence-class fold: one shuffle groups each user's events,
    // the dual-rule split folds row-locally (users scale as width), and
    // the oracle replays it with a per-user recursive CTE.
    Q("q_session_capped",
      (s, dir) => {
        val gapUs = 1800000000L
        val capUs = 14400000000L
        Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_id"))
          .groupBy(col("user_id"))
          .agg(sort_array(collect_list(struct(col("tus"), col("event_id")))).as("_ts"))
          .withColumn("_sess", expr(
            s"""aggregate(_ts,
               |  named_struct('out', CAST(array() AS ARRAY<STRUCT<st: BIGINT, n: BIGINT, en: BIGINT>>),
               |               'st', CAST(-1 AS BIGINT), 'n', CAST(0 AS BIGINT), 'en', CAST(-1 AS BIGINT)),
               |  (acc, x) -> CASE
               |    WHEN acc.st < 0 THEN
               |      named_struct('out', acc.out, 'st', x.tus, 'n', CAST(1 AS BIGINT), 'en', x.tus)
               |    WHEN x.tus - acc.en > $gapUs OR x.tus - acc.st > $capUs THEN
               |      named_struct('out', concat(acc.out,
               |          array(named_struct('st', acc.st, 'n', acc.n, 'en', acc.en))),
               |        'st', x.tus, 'n', CAST(1 AS BIGINT), 'en', x.tus)
               |    ELSE named_struct('out', acc.out, 'st', acc.st, 'n', acc.n + 1, 'en', x.tus)
               |  END,
               |  acc -> CASE WHEN acc.st < 0 THEN acc.out
               |              ELSE concat(acc.out,
               |                array(named_struct('st', acc.st, 'n', acc.n, 'en', acc.en))) END)""".stripMargin))
          .select(col("user_id"), explode(col("_sess")).as("s"))
          .select(col("user_id"), col("s.st").as("session_start_us"),
            col("s.n").as("n_events"), (col("s.en") - col("s.st")).as("dur_us"))
          .orderBy("user_id", "session_start_us")
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT user_id, epoch_us(ts) AS tus, event_id,
             |         row_number() OVER (PARTITION BY user_id
             |                            ORDER BY epoch_us(ts), event_id) AS i
             |  FROM events),
             |f AS (SELECT user_id, i, tus, tus AS sess_st FROM e WHERE i = 1
             |      UNION ALL
             |      SELECT e.user_id, e.i, e.tus,
             |             CASE WHEN e.tus - f.tus > 1800000000
             |                    OR e.tus - f.sess_st > 14400000000
             |                  THEN e.tus ELSE f.sess_st END
             |      FROM f JOIN e ON e.user_id = f.user_id AND e.i = f.i + 1)
             |SELECT user_id, sess_st AS session_start_us, count(*) AS n_events,
             |       CAST(max(tus) - sess_st AS BIGINT) AS dur_us
             |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("q_stats_bbox",
      (s, dir) =>
        Stats.bbox(
          Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)")),
          "event_type", Seq("value", "ts_us"))
          .orderBy("event_type"),
      Some("""SELECT event_type, min(value) AS min_value, max(value) AS max_value,
             |       min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us,
             |       count(*) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- aggregation / joins (TPC-H-ish tables) --------------------------
    Q("q1_agg",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            count(lit(1)).as("count_order"),
            sum(floor(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
            avg(col("l_quantity")).as("avg_qty"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             |       count(*) AS count_order,
             |       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
             |       avg(l_quantity) AS avg_qty
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("q_join_snowflake",
      (s, dir) => {
        // fact ⋈ dims: customer co-shuffles with orders; nation/region are
        // broadcast (Normalize.reassemble) — fact side never re-shuffles per dim
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val fact = o.join(c, o("o_custkey") === c("c_custkey"))
          .withColumnRenamed("c_nationkey", "n_nationkey")
        Normalize.reassemble(fact,
            Seq((Tables.nation(s, dir).withColumnRenamed("n_regionkey", "r_regionkey"), "n_nationkey"),
                (Tables.region(s, dir), "r_regionkey")))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            count(lit(1)).as("n_orders"),
            sum(floor(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name, count(*) AS n_orders,
             |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("q_semi_join",
      (s, dir) => {
        val heavy = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
        Tables.part(s, dir)
          .join(heavy, col("p_partkey") === col("l_partkey"), "left_semi")
          .select(col("p_partkey"), col("p_name"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_partkey = p_partkey AND l_quantity > 45)
             |ORDER BY p_partkey""".stripMargin)),

    Q("q_anti_join",
      (s, dir) => {
        val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
        Tables.customer(s, dir)
          .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    Q("q_topk",
      (s, dir) =>
        Tables.orders(s, dir)
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
          .select(col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    Q("q_dim_surrogate",
      (s, dir) =>
        Normalize.extractDim(Tables.customer(s, dir), 8,
            Seq("c_mktsegment", "c_nationkey"))
          .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT
             |  substr(md5(coalesce(c_mktsegment, '') || '|' || coalesce(CAST(c_nationkey AS VARCHAR), '')), 1, 8) AS dim_hash,
             |  c_mktsegment, c_nationkey
             |FROM customer ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // Scalars extracted with plain min/max aggregates — collecting a
    // per-group array to read two elements is the q_traj_stats anti-
    // pattern (VERDICT r1); array collection is exercised where the array
    // IS the result (q_traj_pivot, q_geojson_roundtrip).
    Q("q_group_collect",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(
            count(lit(1)).as("n_lines"),
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            min(col("l_linenumber")).as("first_line"),
            max(col("l_linenumber")).as("last_line"))
          .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, count(*) AS n_lines,
             |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             |       min(l_linenumber) AS first_line, max(l_linenumber) AS last_line
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- encodings --------------------------------------------------------
    Q("q_encodings",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"))
        val direction = (col("event_id") % 2) + 1
        Tables.events(s, dir).select(
          col("event_id"),
          Encodings.decodeDirection(Encodings.encodeDirection(direction)).as("direction_dec"),
          Encodings.fixedPointEncode(col("value"), min(col("value")).over(w)).as("value_enc"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  CASE WHEN ((event_id % 2) + 1) = 2 THEN 2 ELSE 1 END AS direction_dec,
             |  CAST(floor((value - min(value) OVER (PARTITION BY event_type)) * 100000000.0) AS BIGINT) AS value_enc
             |FROM events ORDER BY event_id""".stripMargin)),

    // Order-preserving global string dictionary over customer names:
    // dense codes 1..D with code order == lex order (surrogateKey's
    // order-destroying hash face inverted — range predicates survive
    // this encode). Exact global ranks WITHOUT an unpartitioned window:
    // range-partitioned census + broadcast per-partition offsets +
    // partition-local rank (the sampler shapes only the plan; codes
    // depend on values alone — the oracle is one dense row_number).
    Q("q_dict_encode",
      (s, dir) =>
        Encodings.dictEncode(Tables.customer(s, dir), col("c_name"))
          .orderBy("code"),
      Some("""WITH d AS (SELECT DISTINCT c_name AS value FROM customer)
             |SELECT CAST(row_number() OVER (ORDER BY value) AS BIGINT) AS code,
             |       value
             |FROM d ORDER BY code""".stripMargin)),

    // Table profile of lineitem (ANALYZE-TABLE): per column the
    // row/null/exact-NDV counts from one aggregate branch per column,
    // unioned — each branch scans only its own parquet column and counts
    // distinct values on the native type, so NDV is exact; oracle = one
    // per-column SELECT each, unioned.
    Q("q_profile_table",
      (s, dir) => {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        Normalize.profileTable(Tables.lineitem(s, dir), cols)
          .orderBy("column_name")
      },
      Some(Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .map(c =>
          s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"))),

    // JSON field extraction from a string column (the document-parse
    // scalar family, /root/reference/stores/file_store.py:22-24 json.load;
    // SURVEY.md §2.8 to_json/from_json) — codegen'd get_json_object, plus
    // a from_json struct parse of the same payload.
    Q("q_json_extract",
      (s, dir) =>
        // spread before the double JSON parse (r16, guide §2.5): the
        // events scan is one row group, and orderBy's range sample
        // re-executes the parse — serialized, both passes ran one-core
        Tables.events(s, dir).select(col("event_id"), col("props"))
          .spreadBy(col("event_id"))
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"),
            from_json(col("props"), "STRUCT<k: BIGINT>", Map.empty[String, String])
              .getField("k").as("k2"))
          .orderBy("event_id"),
      Some("""SELECT event_id, CAST(props->>'k' AS BIGINT) AS k,
             |       CAST(props->>'k' AS BIGINT) AS k2
             |FROM events ORDER BY event_id""".stripMargin)),

    // Fixed-point encode → decode round-trip (decode side of
    // /root/reference/stores/postgresql_velocity_split.py:177-179): both
    // engines run the identical double ops, so the decoded value is
    // bit-equal, not merely close.
    Q("q_fixed_point_roundtrip",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"))
        val minv = min(col("value")).over(w)
        Tables.events(s, dir).select(
          col("event_id"),
          Encodings.fixedPointDecode(
            Encodings.fixedPointEncode(col("value"), minv), minv).as("value_dec"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  CAST(floor((value - min(value) OVER (PARTITION BY event_type)) * 100000000.0) AS BIGINT) / 100000000.0
             |    + min(value) OVER (PARTITION BY event_type) AS value_dec
             |FROM events ORDER BY event_id""".stripMargin)),

    // -- GeoJSON nest/flatten round-trip ---------------------------------
    Q("q_geojson_roundtrip",
      (s, dir) => {
        val flat = Tables.events(s, dir).select(
          expr("unix_micros(date_trunc('hour', ts))").as("bucket_us"),
          col("event_id"),
          col("user_id").cast("string").as("uuid"),
          col("event_type"),
          col("value"),
          col("value").as("lon"),
          (col("value") * 0.5).as("lat"))
        val docs = Flatten.nest(flat, "bucket_us", "event_id",
          Seq("uuid", "event_type", "value"), "lon", "lat")
        Flatten.flatten(docs, "bucket_us")
          .select(
            col("bucket_us"),
            col("feature_id").cast("long").as("event_id"),
            col("uuid"), col("event_type"), col("value"),
            col("coordinates_0").as("lon"), col("coordinates_1").as("lat"))
          .orderBy("event_id")
      },
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_id,
             |       CAST(user_id AS VARCHAR) AS uuid, event_type, value,
             |       value AS lon, value * 0.5 AS lat
             |FROM events ORDER BY event_id""".stripMargin)),

    // Canonical §1.2 round-trip of the reference's TRUE stored schema
    // (/root/reference/stores/apache_parquet.py:45-59): events shaped into
    // the 11-field record (ISO-string timestamp key, int64 id, bool
    // direction, float32 distance/coordinates, trailing uuidx dup), nested
    // into FeatureCollection docs, flattened back, written parquet with
    // the reference's timestamp[:13] hour-file layout (:17,107), and read
    // back. GeoJsonSpec asserts the written file's physical types; here
    // float32 survives the full pipeline and is widened to double only in
    // the final projection (exact) so the oracle compare is hash-stable.
    Q("q_geojson_canonical",
      (s, dir) => {
        val path = CoreQueries.ensureCanonicalGeoStore(s, dir)
        s.read.parquet(path)
          .select(col("timestamp"), col("uuid"), col("id"), col("color"),
            col("direction"),
            col("distance").cast("double").as("distance"),
            col("distanceFromPoint"), col("lineId"),
            col("coordinates_0").cast("double").as("coordinates_0"),
            col("coordinates_1").cast("double").as("coordinates_1"),
            col("uuidx"))
          .orderBy("id")
      },
      Some("""SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S') AS "timestamp",
             |       CAST(user_id AS VARCHAR) AS uuid,
             |       event_id AS id,
             |       event_type AS color,
             |       (event_id % 2 = 1) AS direction,
             |       CAST(CAST(value AS REAL) AS DOUBLE) AS distance,
             |       CAST(event_id % 65536 AS INTEGER) AS "distanceFromPoint",
             |       'L' || CAST(user_id % 10 AS VARCHAR) AS "lineId",
             |       CAST(CAST(value AS REAL) AS DOUBLE) AS coordinates_0,
             |       CAST(CAST(value * 0.5 AS REAL) AS DOUBLE) AS coordinates_1,
             |       CAST(user_id AS VARCHAR) AS uuidx
             |FROM events ORDER BY id""".stripMargin)),

    // Render to a GeoJSON *string* (to_json) and parse it back (from_json)
    // — the document form the reference hands back
    // (/root/reference/stores/postgresql_json_agg_store.py:77-100). The
    // parse happens in Spark, so cross-engine float formatting never
    // touches the oracle (doubles survive shortest-repr JSON round-trip).
    Q("q_geojson_render",
      (s, dir) => {
        val flat = Tables.events(s, dir)
          .filter(Encodings.hourBucket(col("ts")) === to_timestamp(lit(HourBucket)))
          .select(
            expr("unix_micros(date_trunc('hour', ts))").as("bucket_us"),
            col("event_id"),
            col("user_id").cast("string").as("uuid"),
            col("event_type"), col("value"),
            col("value").as("lon"), (col("value") * 0.5).as("lat"))
        val rendered = Flatten.toGeoJson(
          Flatten.nest(flat, "bucket_us", "event_id",
            Seq("uuid", "event_type", "value"), "lon", "lat"))
        val featSchema = "STRUCT<type: STRING, features: ARRAY<STRUCT<" +
          "type: STRING, id: STRING, " +
          "properties: STRUCT<uuid: STRING, event_type: STRING, value: DOUBLE>, " +
          "geometry: STRUCT<type: STRING, coordinates: ARRAY<DOUBLE>>>>>"
        rendered
          .select(col("bucket_us"),
            explode(from_json(col("geojson"), featSchema, Map.empty[String, String])
              .getField("features")).as("f"))
          .select(
            col("bucket_us"),
            col("f.id").cast("long").as("event_id"),
            col("f.properties.uuid").as("uuid"),
            col("f.properties.event_type").as("event_type"),
            col("f.properties.value").as("value"),
            col("f.geometry.coordinates").getItem(0).as("lon"),
            col("f.geometry.coordinates").getItem(1).as("lat"))
          .orderBy("event_id")
      },
      Some(s"""SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_id,
              |       CAST(user_id AS VARCHAR) AS uuid, event_type, value,
              |       value AS lon, value * 0.5 AS lat
              |FROM events WHERE date_trunc('hour', ts) = TIMESTAMP '$HourBucket'
              |ORDER BY event_id""".stripMargin)),

    // Funnel conversion: users whose FIRST signup is later followed by a
    // purchase, grouped by signup day — the event-sequence analytics
    // shape (strictly-after predicate, not a plain co-occurrence). Two
    // filtered aggregates + one join on user_id; conversion ppm is an
    // integer division (positive operands ⇒ DIV and // agree).
    Q("q_funnel",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("t"))
        val s1 = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("t")).as("s_ts"))
        val conv = ev.filter(col("event_type") === "purchase")
          .join(s1, "user_id")
          .filter(col("t") > col("s_ts"))
          .select(col("user_id")).distinct()
          .withColumn("_c", lit(1L))
        s1.join(conv, Seq("user_id"), "left")
          .groupBy(date_format(timestamp_micros(col("s_ts")), "yyyy-MM-dd").as("signup_day"))
          .agg(count(lit(1)).as("n_signups"),
            sum(coalesce(col("_c"), lit(0L))).as("n_converted"))
          .withColumn("conv_ppm", expr("(n_converted * 1000000) DIV n_signups"))
          .orderBy("signup_day")
      },
      Some("""WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS s_ts
             |            FROM events WHERE event_type = 'signup' GROUP BY user_id),
             |conv AS (SELECT DISTINCT e.user_id
             |         FROM events e JOIN s1 USING (user_id)
             |         WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s_ts)
             |SELECT strftime(make_timestamp(s_ts), '%Y-%m-%d') AS signup_day,
             |       count(*) AS n_signups,
             |       CAST(count(conv.user_id) AS BIGINT) AS n_converted,
             |       CAST((count(conv.user_id) * 1000000) // count(*) AS BIGINT) AS conv_ppm
             |FROM s1 LEFT JOIN conv ON s1.user_id = conv.user_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-entity velocity: the consecutive-point derivative the
    // reference's velocity stores exist to serve
    // (/root/reference/stores/postgresql_velocity.py,
    // apache_parquet_velocity.py) — one lag window per user, ordered by
    // (ts, event_id) so duplicate timestamps still have a total order.
    // One Exchange on user_id, single sorted pass; deltas kept as
    // integer µs / mils, the ratio floored from the SAME double both
    // engines compute. Same-instant pairs (dt = 0) are excluded.
    Q("q_traj_velocity",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("t"), col("value"))
          .withColumn("pt", lag(col("t"), 1).over(w))
          .withColumn("pv", lag(col("value"), 1).over(w))
          .filter(col("pt").isNotNull && col("t") > col("pt"))
          .select(col("event_id"), col("user_id"),
            (col("t") - col("pt")).as("dt_us"),
            floor((col("value") - col("pv")) * 1000).cast("long").as("dv_mils"))
          .withColumn("speed",
            floor(col("dv_mils") * 1000000.0 / col("dt_us")).cast("long"))
          .orderBy("event_id")
      },
      Some("""WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t, value,
             |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt,
             |  lag(value)        OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pv
             |FROM events)
             |SELECT event_id, user_id, t - pt AS dt_us,
             |  CAST(floor((value - pv) * 1000) AS BIGINT) AS dv_mils,
             |  CAST(floor(CAST(floor((value - pv) * 1000) AS BIGINT) * 1000000.0 / (t - pt))
             |       AS BIGINT) AS speed
             |FROM l WHERE pt IS NOT NULL AND t > pt ORDER BY event_id""".stripMargin)),

    // Binned range self-join — the SCALE path for range predicates when
    // neither side broadcasts (q_interval_join's broadcast NLJ is right
    // only for a tiny dim): both sides key into 60 s time bins, one side
    // explodes to its ±1 neighbor bins, and the range predicate becomes
    // an EQUI-join on the bin plus a residual filter — a hash join
    // instead of an O(n·m) nested loop. Finds every cross-user event
    // pair within 60 s; distinct dedups pairs straddling two bins.
    Q("q_range_join_binned",
      (s, dir) => {
        val binUs = 60000000L
        val e = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("t"))
          .withColumn("_bin", (col("t") / binUs).cast("long"))
        val probe = e.select(col("event_id").as("id_a"), col("user_id").as("u_a"),
            col("t").as("t_a"),
            explode(array(col("_bin") - 1, col("_bin"), col("_bin") + 1)).as("_bin"))
        val build = e.select(col("event_id").as("id_b"), col("user_id").as("u_b"),
          col("t").as("t_b"), col("_bin"))
        probe.join(build, Seq("_bin"))
          .filter(col("id_a") < col("id_b") && col("u_a") =!= col("u_b") &&
            abs(col("t_a") - col("t_b")) <= binUs)
          .select(col("id_a"), col("id_b"), abs(col("t_a") - col("t_b")).as("gap_us"))
          .distinct()
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.event_id AS id_a, b.event_id AS id_b,
             |       abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us
             |FROM events a JOIN events b
             |  ON a.event_id < b.event_id AND a.user_id != b.user_id
             | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
             |ORDER BY 1, 2""".stripMargin)),

    // Time-series resampling with gap fill — the mobility classic: a
    // dense per-user hourly grid over a fixed 72 h window, empty hours
    // filled with 0 (a groupBy alone silently drops them). The grid is
    // a row-local sequence-explode per user (|users|×72 metadata rows);
    // the left join runs on (user, hour) keys only.
    Q("q_resample_fill",
      (s, dir) => {
        val startUs = 1704844800000000L // 2024-01-10 00:00:00 UTC
        val users = Tables.events(s, dir)
          .filter(col("user_id") < 50).select("user_id").distinct()
        val grid = users
          .select(col("user_id"), explode(sequence(lit(0), lit(71))).as("_h"))
          .select(col("user_id"),
            (lit(startUs) + col("_h").cast("long") * 3600000000L).as("hour_us"))
        val counts = Tables.events(s, dir)
          .filter(col("user_id") < 50 &&
            expr("unix_micros(ts)") >= startUs &&
            expr("unix_micros(ts)") < startUs + 72L * 3600000000L)
          .groupBy(col("user_id"),
            expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
          .agg(count(lit(1)).as("n_events"))
        grid.join(counts, Seq("user_id", "hour_us"), "left")
          .select(col("user_id"), col("hour_us"),
            coalesce(col("n_events"), lit(0L)).as("n_events"))
          .orderBy("user_id", "hour_us")
      },
      Some("""WITH users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 50),
             |grid AS (SELECT user_id, epoch_us(h) AS hour_us
             |         FROM users, LATERAL generate_series(TIMESTAMP '2024-01-10 00:00:00',
             |                TIMESTAMP '2024-01-12 23:00:00', INTERVAL 1 HOUR) AS g(h)),
             |counts AS (SELECT user_id, epoch_us(date_trunc('hour', ts)) AS hour_us,
             |                  count(*) AS n_events
             |           FROM events
             |           WHERE user_id < 50 AND ts >= TIMESTAMP '2024-01-10 00:00:00'
             |             AND ts < TIMESTAMP '2024-01-13 00:00:00'
             |           GROUP BY 1, 2)
             |SELECT user_id, hour_us, CAST(coalesce(n_events, 0) AS BIGINT) AS n_events
             |FROM grid LEFT JOIN counts USING (user_id, hour_us)
             |ORDER BY 1, 2""".stripMargin)),

    // Data-quality expectations audit: five constraint rules over events
    // in ONE aggregate pass (+ one distinct aggregate for uniqueness) —
    // the validate-at-ingest gate. Each row is a rule verdict, so a
    // pipeline quarantines per rule without re-scanning.
    Q("q_expectations",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val known = Seq("click", "error", "purchase", "signup", "view")
        graft.operators.Expectations.audit(e, Seq(
            "value_non_negative" -> (col("value") < 0),
            "event_type_known" -> !col("event_type").isin(known: _*),
            "ts_in_2024" -> (expr("unix_micros(ts)") < 1704067200000000L ||
              expr("unix_micros(ts)") >= 1735689600000000L),
            "props_has_k" -> get_json_object(col("props"), "$.k").isNull))
          .unionAll(graft.operators.Expectations.uniqueAudit(
            e, "event_id_unique", col("event_id")))
          .orderBy("rule")
      },
      Some("""WITH t AS (SELECT count(*) AS n,
             |  sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS v_neg,
             |  sum(CASE WHEN event_type NOT IN ('click','error','purchase','signup','view') THEN 1 ELSE 0 END) AS v_type,
             |  sum(CASE WHEN ts < TIMESTAMP '2024-01-01' OR ts >= TIMESTAMP '2025-01-01' THEN 1 ELSE 0 END) AS v_ts,
             |  sum(CASE WHEN props->>'k' IS NULL THEN 1 ELSE 0 END) AS v_props,
             |  count(*) - count(DISTINCT event_id) AS v_uniq
             |FROM events)
             |SELECT rule, n AS n_checked, CAST(n_violations AS BIGINT) AS n_violations,
             |       n_violations = 0 AS pass
             |FROM (SELECT n, 'value_non_negative' AS rule, v_neg AS n_violations FROM t
             |      UNION ALL SELECT n, 'event_type_known', v_type FROM t
             |      UNION ALL SELECT n, 'ts_in_2024', v_ts FROM t
             |      UNION ALL SELECT n, 'props_has_k', v_props FROM t
             |      UNION ALL SELECT n, 'event_id_unique', v_uniq FROM t)
             |ORDER BY rule""".stripMargin)),

    // Multi-level rollup aggregation (day × type, day subtotals, grand
    // total) in ONE pass — Spark expands grouping sets inside a single
    // aggregate, so the three levels cost one shuffle, not three scans.
    // No natural NULLs in the group keys, so the coalesce sentinel
    // uniquely marks the rolled-up levels.
    Q("q_rollup",
      (s, dir) =>
        Tables.events(s, dir)
          .select(
            date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
            col("event_type"), col("value"))
          .rollup(col("day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("value_mils"))
          .select(
            coalesce(col("day"), lit("<all>")).as("day"),
            coalesce(col("event_type"), lit("<all>")).as("event_type"),
            col("n"), col("value_mils"))
          .orderBy("day", "event_type"),
      Some("""WITH e AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |                  event_type, value FROM events)
             |SELECT coalesce(day, '<all>') AS day,
             |       coalesce(event_type, '<all>') AS event_type,
             |       count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM e GROUP BY ROLLUP(day, event_type) ORDER BY 1, 2""".stripMargin)),

    // Explicit GROUPING SETS (Spark 4 groupingSets API): (day × type),
    // (type-only), and grand total — the type subtotal is the level
    // ROLLUP cannot produce (its hierarchy fixes day above type). Still
    // ONE Expand + one aggregate pass.
    Q("q_grouping_sets",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(
            date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
            col("event_type"), col("value"))
        e.groupingSets(
            Seq(Seq(col("day"), col("event_type")), Seq(col("event_type")), Seq()),
            col("day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("value_mils"))
          .select(
            coalesce(col("day"), lit("<all>")).as("day"),
            coalesce(col("event_type"), lit("<all>")).as("event_type"),
            col("n"), col("value_mils"))
          .orderBy("day", "event_type")
      },
      Some("""WITH e AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |                  event_type, value FROM events)
             |SELECT coalesce(day, '<all>') AS day,
             |       coalesce(event_type, '<all>') AS event_type,
             |       count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM e GROUP BY GROUPING SETS ((day, event_type), (event_type), ())
             |ORDER BY 1, 2""".stripMargin)),

    // CUBE — the remaining member of the grouping family (q_rollup =
    // the hierarchy, q_grouping_sets = an explicit list, CUBE = ALL 2ᵏ
    // margins): day-of-week × type traffic with both one-way margins
    // and the grand total in ONE Expand + ONE aggregate pass — four
    // separate GROUP BYs would scan the input four times.
    Q("q_cube",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(dayofweek(col("ts")).cast("long").as("dow"),
            col("event_type"), col("value"))
        e.cube(col("dow"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("value_mils"))
          .select(coalesce(col("dow"), lit(-1L)).as("dow"),
            coalesce(col("event_type"), lit("<all>")).as("event_type"),
            col("n"), col("value_mils"))
          .orderBy("dow", "event_type")
      },
      Some("""WITH e AS (SELECT dayofweek(ts) + 1 AS dow, event_type, value FROM events)
             |SELECT coalesce(dow, -1) AS dow,
             |       coalesce(event_type, '<all>') AS event_type,
             |       count(*) AS n,
             |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_mils
             |FROM e GROUP BY CUBE (dow, event_type)
             |ORDER BY 1, 2""".stripMargin)),

    // Columnar pivot: one row per day, one column per event type (the
    // wide dashboard shape). The explicit value list keeps the output
    // schema static — Spark then plans it as a single aggregate of
    // conditional sums (no second distinct-values job), exactly the
    // CASE-sum form the oracle states.
    Q("q_pivot_wide",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        Tables.events(s, dir)
          .select(
            date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
            col("event_type"), col("value"))
          .groupBy(col("day"))
          .pivot("event_type", types)
          .agg(sum(floor(col("value") * 1000).cast("long")))
          .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy("day")
      },
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN CAST(floor(value * 1000) AS BIGINT) END), 0) AS BIGINT) AS click,
             |  CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN CAST(floor(value * 1000) AS BIGINT) END), 0) AS BIGINT) AS error,
             |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value * 1000) AS BIGINT) END), 0) AS BIGINT) AS purchase,
             |  CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN CAST(floor(value * 1000) AS BIGINT) END), 0) AS BIGINT) AS signup,
             |  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN CAST(floor(value * 1000) AS BIGINT) END), 0) AS BIGINT) AS view
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Iterative PageRank over the part⇄supplier bipartite graph from
    // lineitem (symmetric edges, so no dangling mass). Exact-integer
    // ranks in ppb replayed verbatim by the unrolled-iteration oracle;
    // Σrank stays ≈10⁹, suppliers surface as the hubs. The iterative
    // fixed-point class (rank propagation) alongside the min-label
    // propagation that connected-components covers.
    Q("q_pagerank",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val fwd = li.select(col("l_partkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        val rev = li.select((col("l_suppkey") + 1000000L).as("src"),
          col("l_partkey").as("dst"))
        Graph.pagerank(fwd.union(rev), iters = 3).orderBy("node")
      },
      Some(pagerankOracle(3))),

    // Triangle counting (graph motif / multi-way self-join class) over
    // the part co-purchase graph (parts sharing an order). Degree
    // orientation bounds the middle-vertex join fan-out by O(√m) — the
    // O(m^1.5) Schank–Wagner shape that survives degree skew; all three
    // join sides scan one staged (s, t) parquet frame. Output: per-part
    // triangle participation (Σ n_triangles = 3 × total triangles).
    Q("q_triangle_count",
      (s, dir) => {
        Graph.triangleCorners(coEdges(s, dir)).orderBy("node")
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |und AS (SELECT DISTINCT a.p AS u, b.p AS v FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
             |deg AS (SELECT n, count(*) AS d
             |        FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und) GROUP BY n),
             |o AS (SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.u ELSE und.v END AS s,
             |             CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.v ELSE und.u END AS t
             |      FROM und JOIN deg du ON und.u = du.n JOIN deg dv ON und.v = dv.n),
             |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
             |        FROM o e1 JOIN o e2 ON e1.t = e2.s JOIN o e3 ON e3.s = e1.s AND e3.t = e2.t),
             |corners AS (SELECT x.n AS node FROM tri, LATERAL unnest([a, b, c]) AS x(n))
             |SELECT node, count(*) AS n_triangles FROM corners GROUP BY node ORDER BY node""".stripMargin)),

    // Single-source BFS over the part co-purchase graph: shortest hop
    // counts from part 1 within 3 hops — the reachability/radius
    // primitive. Frontier expansion: each round touches only the
    // frontier-adjacent edges and anti-joins the visited set; the
    // oracle replays it as a recursive min-hop closure with the same
    // hop bound.
    Q("q_bfs_hops",
      (s, dir) => {
        val und = coEdges(s, dir)
        Graph.bfsHops(und, seed = 1L, maxHops = 3).orderBy("node")
      },
      Some("""WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |und AS (SELECT DISTINCT a.p AS u, b.p AS v
             |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
             |ed AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
             |walk(node, hop) AS (
             |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
             |  UNION
             |  SELECT e.v, w.hop + 1 FROM walk w JOIN ed e ON w.node = e.u
             |  WHERE w.hop < 3)
             |SELECT node, min(hop) AS hop FROM walk GROUP BY node ORDER BY node""".stripMargin)),

    // Bipartite check by BFS 2-coloring within the q_bfs_hops horizon —
    // the parity audit of interaction-graph modeling: a same-parity
    // edge among reached nodes is an odd-cycle witness, and zero
    // conflicts IS a proper 2-coloring of the induced subgraph (exact
    // characterization, not a heuristic — GraphSpec pins both
    // directions). One BFS + one edges⋈labels⋈labels join.
    Q("q_bipartite",
      (s, dir) => {
        val und = coEdges(s, dir)
        Graph.bipartiteCheck(und, seed = 1L, maxHops = 3).orderBy("n_reached")
      },
      Some("""WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |und AS (SELECT DISTINCT a.p AS u, b.p AS v
             |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
             |ed AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
             |walk(node, hop) AS (
             |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
             |  UNION
             |  SELECT e.v, w.hop + 1 FROM walk w JOIN ed e ON w.node = e.u
             |  WHERE w.hop < 3),
             |lab AS (SELECT node, min(hop) AS hop FROM walk GROUP BY node),
             |j AS (SELECT a.hop AS hu, b.hop AS hv
             |      FROM und JOIN lab a ON und.u = a.node JOIN lab b ON und.v = b.node)
             |SELECT (SELECT CAST(count(*) AS BIGINT) FROM lab) AS n_reached,
             |       CAST(count(*) AS BIGINT) AS n_edges,
             |       CAST(coalesce(sum(CASE WHEN (hu + hv) % 2 = 0 THEN 1 ELSE 0 END), 0)
             |            AS BIGINT) AS n_conflicts,
             |       CAST(CASE WHEN coalesce(sum(CASE WHEN (hu + hv) % 2 = 0 THEN 1 ELSE 0 END), 0) = 0
             |            THEN 1 ELSE 0 END AS BIGINT) AS bipartite
             |FROM j""".stripMargin)),

    // Diameter lower bound by the 2-sweep heuristic (horizon-bounded):
    // BFS from the seed, restart from the farthest node (ties →
    // smallest id), report its horizon eccentricity — double
    // q_bfs_hops' cost for the usually-tight practical bound. The
    // oracle replays both walks with the second seeded by the first's
    // argmax scalar.
    Q("q_diameter",
      (s, dir) => {
        val und = coEdges(s, dir)
        Graph.diameter2Sweep(und, seed = 1L, maxHops = 3).orderBy("ecc_seed")
      },
      Some("""WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |und AS (SELECT DISTINCT a.p AS u, b.p AS v
             |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
             |ed AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
             |w1(node, hop) AS (
             |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
             |  UNION
             |  SELECT e.v, w.hop + 1 FROM w1 w JOIN ed e ON w.node = e.u
             |  WHERE w.hop < 3),
             |l1 AS (SELECT node, min(hop) AS hop FROM w1 GROUP BY node),
             |f1 AS (SELECT node, hop FROM l1 ORDER BY hop DESC, node LIMIT 1),
             |w2(node, hop) AS (
             |  SELECT node, CAST(0 AS BIGINT) FROM f1
             |  UNION
             |  SELECT e.v, w.hop + 1 FROM w2 w JOIN ed e ON w.node = e.u
             |  WHERE w.hop < 3),
             |l2 AS (SELECT node, min(hop) AS hop FROM w2 GROUP BY node),
             |f2 AS (SELECT node, hop FROM l2 ORDER BY hop DESC, node LIMIT 1)
             |SELECT f1.hop AS ecc_seed, f1.node AS far_node,
             |       f2.hop AS diameter_lb, f2.node AS far_node2
             |FROM f1, f2 ORDER BY ecc_seed""".stripMargin)),

    // Weighted single-source shortest paths (Bellman-Ford, 4 relaxation
    // rounds) over the co-purchase graph with deterministic integer
    // weights 1 + (u+v) % 7 — the travel-time companion to q_bfs_hops'
    // hop counting. After round i, dist is exactly the cheapest path
    // using <= i edges (fixed-round contract, convergence-free oracle
    // equality); per round one dist⋈edges hash join + one min agg.
    Q("q_sssp",
      (s, dir) => {
        val und = coEdges(s, dir)
          .withColumn("w", lit(1L) + pmod(col("u") + col("v"), lit(7L)))
        Graph.ssspRounds(und, seed = 1L, rounds = 4).orderBy("node")
      },
      Some {
        val rounds = (1 to 4).map { i =>
          s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
             |  SELECT node, dist FROM d${i - 1}
             |  UNION ALL
             |  SELECT e.v, d${i - 1}.dist + e.w FROM d${i - 1} JOIN e ON d${i - 1}.node = e.u)
             |GROUP BY node)""".stripMargin
        }.mkString(",\n")
        s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |und AS (SELECT DISTINCT a.p AS u, b.p AS v
           |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
           |ew AS MATERIALIZED (SELECT u, v, 1 + (u + v) % 7 AS w FROM und),
           |e AS MATERIALIZED (SELECT u, v, w FROM ew UNION SELECT v, u, w FROM ew),
           |d0 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
           |$rounds
           |SELECT node, CAST(dist AS BIGINT) AS dist FROM d4 ORDER BY node""".stripMargin
      }),

    // k-core of the part co-purchase graph (graph-densification class:
    // the cohesive subgraph a recommender or fraud pipeline extracts
    // before expensive per-node work). Synchronized peel rounds — each
    // drops nodes with < k surviving neighbors, then their edges; the
    // FIXED-ROUND contract (like q_pagerank's iters) means the oracle
    // replays 8 rounds verbatim and equality never depends on
    // convergence; at fixpoint survivors are exactly the 80-core. k = 80
    // sits at this graph's sharp core transition (k = 60 peels 4 nodes,
    // k = 85 collapses to empty): 143/2000 nodes peel over 5 cascading
    // rounds at sf0.01, 1137/20000 at sf0.1 — the peeling actually
    // exercises the cascade, unlike a small k on this dense graph. Each
    // round: one degree count + two semi-joins on the shrinking edge
    // frame, staged durable.
    Q("q_kcore",
      (s, dir) => {
        val und = coEdges(s, dir)
        Graph.kCorePeel(und, k = 80, rounds = 8).orderBy("node")
      },
      Some {
        val (k, r) = (80, 8)
        // MATERIALIZED: e_{i-1} is referenced twice per round (degree +
        // edge filter) — without it DuckDB re-inlines the chain and the
        // evaluation tree doubles per round (2^R scans of e0)
        val peels = (1 to r).map { i =>
          s"""d$i AS MATERIALIZED (SELECT u, count(*) AS d FROM e${i - 1} GROUP BY u),
             |s$i AS MATERIALIZED (SELECT u FROM d$i WHERE d >= $k),
             |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
             |        JOIN s$i a ON e.u = a.u JOIN s$i b ON e.v = b.u)""".stripMargin
        }.mkString(",\n")
        s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |und AS (SELECT DISTINCT a.p AS u, b.p AS v
           |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
           |e0 AS MATERIALIZED (SELECT u, v FROM und UNION SELECT v, u FROM und),
           |$peels
           |SELECT u AS node, count(*) AS deg_in_core FROM e$r
           |GROUP BY u ORDER BY node""".stripMargin
      }),

    // HITS hubs & authorities (2 unnormalized integer rounds) on the
    // directed order→part citation graph: hub = an order bundling many
    // authoritative parts, authority = a part in many strong orders.
    // Pure integer sums — no normalization, no division, so the oracle
    // replays the recurrence verbatim; ranking is normalization-
    // invariant. Parts offset by 1e8 to keep the bipartite id spaces
    // disjoint at any SF.
    Q("q_hits",
      (s, dir) => {
        val e = Tables.lineitem(s, dir).select(
          col("l_orderkey").as("src"),
          (col("l_partkey") + 100000000L).as("dst"))
        Graph.hitsRounds(e, rounds = 2).orderBy("node")
      },
      Some {
        val head = Seq(
          """e AS (SELECT DISTINCT l_orderkey AS src, l_partkey + 100000000 AS dst FROM lineitem)""",
          "nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e)",
          "h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes)")
        val steps = (1 to 2).flatMap { t =>
          Seq(
            // CAST: DuckDB's sum(BIGINT) widens to HUGEINT, which its
            // pandas bridge surfaces as float64 — rows/schema then pass
            // the driver compare but the value hash fails on int64 vs
            // float64 (CORRECTNESS_r08 q_hits). Values are far below
            // 2^63 here, so BIGINT is exact.
            s"""a$t AS MATERIALIZED (SELECT n.node, coalesce(s.a, 0) AS auth FROM nodes n
               |  LEFT JOIN (SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS a
               |             FROM e JOIN h${t - 1} h ON e.src = h.node GROUP BY 1) s USING (node))""".stripMargin,
            s"""h$t AS MATERIALIZED (SELECT n.node, coalesce(s.h, 0) AS hub FROM nodes n
               |  LEFT JOIN (SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS h
               |             FROM e JOIN a$t a ON e.dst = a.node GROUP BY 1) s USING (node))""".stripMargin)
        }
        "WITH " + (head ++ steps).mkString(",\n") +
          "\nSELECT h2.node, h2.hub, a2.auth FROM h2 JOIN a2 USING (node) ORDER BY node"
      }),

    // Personalized PageRank (random walk with restart, 3 iterations)
    // from a 2-part seed set over the part⇄supplier bipartite graph —
    // ranks measure proximity to the seeds (the related-items /
    // recommendation primitive). Same exact-integer trail as q_pagerank
    // (floors over non-negative operands, scale 10⁹), teleport split
    // across the seeds; rank is nonzero exactly on the seeds' 3-hop
    // neighborhood. Oracle unrolls the identical recurrence.
    Q("q_ppr",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val e = li.select(col("l_partkey").as("src"),
            (col("l_suppkey") + 1000000L).as("dst"))
          .unionByName(li.select((col("l_suppkey") + 1000000L).as("src"),
            col("l_partkey").as("dst")))
        Graph.personalizedPagerank(e, seeds = Seq(1L, 2L), iters = 3)
          .orderBy("node")
      },
      Some(pprOracle(Seq(1L, 2L), 3))),
    // over the SUPPORT-FILTERED co-purchase graph (pairs bought together
    // in >= 2 orders — the assoc-rules edge set, sparser than the raw
    // co-purchase graph so labels actually spread instead of collapsing).
    // Deterministic min-tie-break LPA under the fixed-round contract:
    // the oracle replays 4 rounds verbatim (row_number tie-break =
    // max-count-then-min-label), equality never depends on convergence.
    Q("q_label_prop",
      (s, dir) => {
        val und = coEdges2(s, dir)
        Graph.labelPropagation(und, rounds = 4).orderBy("node")
      },
      Some {
        val rounds = (1 to 4).map { i =>
          s"""c$i AS MATERIALIZED (SELECT e.u, l.label, count(*) AS cnt
             |  FROM e JOIN l${i - 1} l ON e.v = l.node GROUP BY 1, 2),
             |l$i AS MATERIALIZED (SELECT u AS node, label FROM (
             |  SELECT u, label,
             |         row_number() OVER (PARTITION BY u ORDER BY cnt DESC, label) AS rn
             |  FROM c$i) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |und AS (SELECT a.p AS u, b.p AS v FROM lp a JOIN lp b
           |        ON a.o = b.o AND a.p < b.p
           |        GROUP BY 1, 2 HAVING count(*) >= 2),
           |e AS MATERIALIZED (SELECT u, v FROM und UNION SELECT v, u FROM und),
           |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM e),
           |$rounds
           |SELECT node, CAST(label AS BIGINT) AS label FROM l4 ORDER BY node""".stripMargin
      }),

    // Common-neighbor link prediction over the support-filtered
    // co-purchase graph (the q_label_prop edge set): non-adjacent part
    // pairs ranked by neighborhood Jaccard in integer ppm — candidates by
    // wedge enumeration (the q_triangle_count cost class, never nodes²),
    // union size from degrees so neighbor sets never ship, existing
    // edges anti-joined out, top-50 via TakeOrdered.
    Q("q_link_predict",
      (s, dir) => {
        val und = coEdges2(s, dir)
        Graph.linkPredict(und, topK = 50)
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |und AS (SELECT a.p AS u, b.p AS v FROM lp a JOIN lp b
             |        ON a.o = b.o AND a.p < b.p
             |        GROUP BY 1, 2 HAVING count(*) >= 2),
             |e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
             |cn AS (SELECT x.v AS a, y.v AS b, CAST(count(*) AS BIGINT) AS common_n
             |       FROM e x JOIN e y ON x.u = y.u AND x.v < y.v
             |       GROUP BY 1, 2),
             |ne AS (SELECT cn.* FROM cn
             |       WHERE NOT EXISTS (SELECT 1 FROM und
             |                         WHERE und.u = cn.a AND und.v = cn.b)),
             |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1)
             |SELECT ne.a, ne.b, ne.common_n,
             |       da.d + db.d - ne.common_n AS union_n,
             |       CAST(ne.common_n * 1000000 // (da.d + db.d - ne.common_n)
             |            AS BIGINT) AS jacc_ppm
             |FROM ne JOIN deg da ON da.u = ne.a JOIN deg db ON db.u = ne.b
             |ORDER BY jacc_ppm DESC, a, b LIMIT 50""".stripMargin)),

    // Association rules over the order⇄part basket (the market-basket /
    // frequent-itemset class, Agrawal–Srikant pair stage): co-purchase
    // pairs with absolute support ≥ 2, each with support, both
    // directional confidences and lift, all integer ppm. The pair
    // explode is Σ C(|basket|, 2) — basket-size-bounded (TPC-H ≤ 7
    // items), never |parts|²; the order total rides a 1-row broadcast,
    // not a driver-side collect into the plan.
    Q("q_assoc_rules",
      (s, dir) => {
        val oi = Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        val total = oi.select(countDistinct(col("o")).as("n_orders"))
        val cnt = oi.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
        coPairCounts(s, dir)
          .select(col("u").as("part_a"), col("v").as("part_b"), col("n_co"))
          .filter(col("n_co") >= 2)
          .join(cnt.select(col("p").as("part_a"), col("n_p").as("_na")), Seq("part_a"))
          .join(cnt.select(col("p").as("part_b"), col("n_p").as("_nb")), Seq("part_b"))
          .crossJoin(broadcast(total))
          .select(col("part_a"), col("part_b"), col("n_co"),
            floor(col("n_co") * lit(1000000L) / col("n_orders")).cast("long").as("support_ppm"),
            floor(col("n_co") * lit(1000000L) / col("_na")).cast("long").as("conf_ab_ppm"),
            floor(col("n_co") * lit(1000000L) / col("_nb")).cast("long").as("conf_ba_ppm"),
            floor(col("n_co") * col("n_orders") * lit(1000000L) / (col("_na") * col("_nb")))
              .cast("long").as("lift_ppm"))
          .orderBy("part_a", "part_b")
      },
      Some("""WITH oi AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |tot AS (SELECT count(DISTINCT o) AS n_orders FROM oi),
             |cnt AS (SELECT p, count(*) AS n_p FROM oi GROUP BY p),
             |pr AS (SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_co
             |       FROM oi a JOIN oi b ON a.o = b.o AND a.p < b.p
             |       GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT part_a, part_b, n_co,
             |       CAST(floor(n_co * 1000000.0 / n_orders) AS BIGINT) AS support_ppm,
             |       CAST(floor(n_co * 1000000.0 / ca.n_p) AS BIGINT) AS conf_ab_ppm,
             |       CAST(floor(n_co * 1000000.0 / cb.n_p) AS BIGINT) AS conf_ba_ppm,
             |       CAST(floor(n_co * n_orders * 1000000.0 / (ca.n_p * cb.n_p)) AS BIGINT) AS lift_ppm
             |FROM pr JOIN cnt ca ON pr.part_a = ca.p JOIN cnt cb ON pr.part_b = cb.p
             |        CROSS JOIN tot
             |ORDER BY part_a, part_b""".stripMargin)),

    // Item-item collaborative filtering — the co-occurrence COSINE top-k
    // ("customers who bought X also bought Y", Amazon 2003):
    // q_assoc_rules ranks by lift/confidence, this normalizes by BOTH
    // item popularities — cos²(a,b) = c²/(n_a·n_b) in exact ppm (squared
    // keeps it integer, ranking-equivalent). Pair volume is per-order
    // C(k,2) (order sizes bounded) — the wedge cost class, never
    // all-items²; top-20 via TakeOrderedAndProject.
    Q("q_item_cf",
      (s, dir) => {
        val oi = Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        val cnt = oi.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
        coPairCounts(s, dir)
          .select(col("u").as("part_a"), col("v").as("part_b"), col("n_co"))
          .filter(col("n_co") >= 2)
          .join(cnt.select(col("p").as("part_a"), col("n_p").as("_na")), Seq("part_a"))
          .join(cnt.select(col("p").as("part_b"), col("n_p").as("_nb")), Seq("part_b"))
          .withColumn("cos2_ppm",
            expr("n_co * n_co * 1000000 DIV (_na * _nb)"))
          .select(col("part_a"), col("part_b"), col("n_co"), col("cos2_ppm"))
          .orderBy(col("cos2_ppm").desc, col("part_a"), col("part_b"))
          .limit(20)
      },
      Some("""WITH oi AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |cnt AS (SELECT p, count(*) AS n_p FROM oi GROUP BY p),
             |pr AS (SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_co
             |       FROM oi a JOIN oi b ON a.o = b.o AND a.p < b.p
             |       GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT part_a, part_b, n_co,
             |       CAST(n_co * n_co * 1000000 // (ca.n_p * cb.n_p) AS BIGINT) AS cos2_ppm
             |FROM pr JOIN cnt ca ON pr.part_a = ca.p JOIN cnt cb ON pr.part_b = cb.p
             |ORDER BY cos2_ppm DESC, part_a, part_b LIMIT 20""".stripMargin)),

    // 2-D skyline / Pareto frontier over parts: minimize retail price
    // (exact cents), maximize total quantity sold — the multi-criteria
    // shortlist query. Banded prefix-max + in-band RANGE-frame window;
    // the sequential sort-and-scan never happens in one partition. The
    // oracle is the brute-force dominance NOT EXISTS.
    Q("q_skyline",
      (s, dir) => {
        val sold = Tables.lineitem(s, dir)
          .groupBy(col("l_partkey").as("p_partkey"))
          .agg(sum(col("l_quantity").cast("long")).as("_qty"))
        val m = Tables.part(s, dir)
          .filter(col("p_partkey") < 10000)
          .join(sold, Seq("p_partkey"), "left")
          .select(col("p_partkey"),
            floor(col("p_retailprice") * 100).cast("long").as("_cost"),
            coalesce(col("_qty"), lit(0L)).as("_gain"))
        Stats.skyline2d(m, "p_partkey", col("_cost"), col("_gain"), bandWidth = 1000L)
          .orderBy("p_partkey")
      },
      Some("""WITH m AS (
             |  SELECT p_partkey, CAST(floor(p_retailprice * 100) AS BIGINT) AS cost,
             |         CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0) AS BIGINT) AS gain
             |  FROM part LEFT JOIN lineitem ON l_partkey = p_partkey
             |  WHERE p_partkey < 10000
             |  GROUP BY 1, 2)
             |SELECT p_partkey, cost, gain FROM m a
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM m b
             |  WHERE b.cost <= a.cost AND b.gain >= a.gain
             |    AND (b.cost < a.cost OR b.gain > a.gain))
             |ORDER BY p_partkey""".stripMargin)),

    // Per-day peak concurrency (sweep line) over synthetic sessions:
    // each event opens a half-open interval of 1 s .. 2 days (pure
    // integer duration from event_id, so both engines derive identical
    // intervals). The operator bands endpoints by epoch day with
    // driver-side carry offsets + a day-start delta-0 sentinel (a day
    // whose max holds from midnight reports the carried level, ADVICE
    // r6); the oracle runs the same sweep as ONE global running sum —
    // legal single-node, which is the point of the banded form.
    Q("q_peak_concurrency",
      (s, dir) => {
        val iv = Tables.events(s, dir).select(
          expr("unix_micros(ts)").as("s_us"),
          (expr("unix_micros(ts)") +
            (pmod(col("event_id"), lit(172800L)) + 1L) * 1000000L).as("e_us"),
          col("event_id"))
        Stats.peakConcurrency(iv, col("s_us"), col("e_us"), col("event_id"))
          .orderBy("day_idx")
      },
      Some("""WITH iv AS (
             |  SELECT epoch_us(ts) AS s_us,
             |         epoch_us(ts) + (event_id % 172800 + 1) * 1000000 AS e_us,
             |         event_id
             |  FROM events),
             |pts AS (
             |  SELECT s_us AS ts_us, 1 AS d, event_id AS tie FROM iv
             |  UNION ALL
             |  SELECT e_us, -1, event_id FROM iv),
             |days AS (SELECT DISTINCT ts_us // 86400000000 AS day_idx FROM pts),
             |allp AS (
             |  SELECT ts_us // 86400000000 AS day_idx, ts_us, d, tie FROM pts
             |  UNION ALL
             |  SELECT day_idx, day_idx * 86400000000, 0, NULL FROM days),
             |c AS (
             |  SELECT day_idx, ts_us,
             |         CAST(sum(d) OVER (ORDER BY ts_us, d, tie) AS BIGINT) AS cum
             |  FROM allp),
             |p AS (SELECT day_idx, max(cum) AS peak FROM c GROUP BY 1)
             |SELECT c.day_idx AS day_idx, p.peak AS peak, min(c.ts_us) AS at_us
             |FROM c JOIN p ON c.day_idx = p.day_idx AND c.cum = p.peak
             |GROUP BY 1, 2
             |ORDER BY 1""".stripMargin)),

    // Trailing-7-day distinct active users per day (the WAU series) —
    // exact sliding distinct WITHOUT a distinct-per-window: dedupe to
    // user-days, lead() turns each user's day set into disjoint coverage
    // intervals (so overlapping windows of the same user never double-
    // count), each interval explodes to <= 7 day rows, and WAU is a
    // plain count per day. The oracle is the brute-force day-grid range
    // join with count(DISTINCT) — legal single-node, which is the point.
    Q("q_active_users",
      (s, dir) => {
        Stats.slidingDistinctDaily(
          Tables.events(s, dir), col("user_id"), expr("unix_micros(ts)"),
          windowDays = 7).orderBy("day_idx")
      },
      Some("""WITH ud AS (
             |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
             |bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ud),
             |grid AS (SELECT unnest(generate_series(lo, hi + 6)) AS day_idx FROM bounds)
             |SELECT g.day_idx, count(DISTINCT u.user_id) AS n_active
             |FROM grid g JOIN ud u ON u.d BETWEEN g.day_idx - 6 AND g.day_idx
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-user merged-interval coverage over the q_peak_concurrency
    // session intervals (1 s .. 2 h here, pure integer duration from
    // event_id): total busy time + island count after unioning overlaps
    // — island detection via running-max-of-prior-ends, ONE per-user
    // window pass, never the quadratic per-key overlap self-join. The
    // oracle replays the identical window recurrence.
    Q("q_interval_coverage",
      (s, dir) => {
        val iv = Tables.events(s, dir).select(
          col("user_id"),
          expr("unix_micros(ts)").as("s_us"),
          (expr("unix_micros(ts)") +
            (pmod(col("event_id"), lit(7200L)) + 1L) * 1000000L).as("e_us"),
          col("event_id"))
        Stats.mergedCoverage(iv, col("user_id"), col("s_us"), col("e_us"),
            col("event_id"))
          .withColumnRenamed("key", "user_id")
          .orderBy("user_id")
      },
      Some("""WITH iv AS (
             |  SELECT user_id AS k, epoch_us(ts) AS s,
             |         epoch_us(ts) + (event_id % 7200 + 1) * 1000000 AS e,
             |         event_id AS t
             |  FROM events),
             |f AS (
             |  SELECT k, s, e, t,
             |         CASE WHEN s > coalesce(max(e) OVER (
             |              PARTITION BY k ORDER BY s, e, t
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |              -9223372036854775808) THEN 1 ELSE 0 END AS nw
             |  FROM iv),
             |g AS (
             |  SELECT k, s, e,
             |         sum(nw) OVER (PARTITION BY k ORDER BY s, e, t
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
             |  FROM f),
             |i AS (SELECT k, isl, min(s) AS i_s, max(e) AS i_e, count(*) AS n
             |      FROM g GROUP BY 1, 2)
             |SELECT k AS user_id, count(*) AS n_islands,
             |       CAST(sum(i_e - i_s) AS BIGINT) AS covered_us,
             |       CAST(sum(n) AS BIGINT) AS n_intervals
             |FROM i GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-day diversity of the event-type mix (Gini impurity, the
    // log-free entropy stand-in): is any day's traffic dominated by one
    // type? Two map-side-combined aggregations; DECIMAL(38,0) keeps
    // squared counts exact at any volume.
    Q("q_gini_mix",
      (s, dir) => Stats.giniImpurity(
          Tables.events(s, dir),
          expr("unix_micros(ts)") - pmod(expr("unix_micros(ts)"), lit(86400000000L)),
          col("event_type"))
        .withColumnRenamed("key", "day_us")
        .orderBy("day_us"),
      Some("""WITH c AS (
             |  SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us,
             |         event_type, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |g AS (SELECT day_us, sum(n) AS n, count(*) AS n_cats,
             |             sum(CAST(n AS HUGEINT) * n) AS ss
             |      FROM c GROUP BY 1)
             |SELECT day_us, CAST(n AS BIGINT) AS n, n_cats,
             |       CAST(1000000 - ss * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS gini_ppm
             |FROM g ORDER BY day_us""".stripMargin)),

    // k-anonymity audit (k = 5) over the quasi-identifier tuple
    // (nation, market segment, account-balance k€-band): every
    // equivalence class smaller than k is a re-identification risk the
    // release pipeline must suppress or generalize — the governance
    // counterpart of the PII scrub. One map-side-combinable groupBy;
    // the risk report is |small classes|, not |rows|.
    Q("q_k_anon",
      (s, dir) => Tables.customer(s, dir)
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") < 5)
        .orderBy("nation", "segment", "bal_band"),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
             |       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             |       count(*) AS n_members
             |FROM customer
             |GROUP BY 1, 2, 3 HAVING count(*) < 5
             |ORDER BY nation, segment, bal_band""".stripMargin)),

    // SCD2 dimension-history build (gaps-and-islands change capture):
    // collapse each user's event_type runs into versioned validity
    // intervals — contiguous valid_to = next valid_from, open intervals
    // marked current. Two window passes + one aggregation: the change
    // flags and run ids are per-key window functions, so the whole build
    // is one shuffle on user_id at any scale.
    Q("q_scd2",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val prev = lag(col("event_type"), 1).over(w)
        val withChg = Tables.events(s, dir).select(
          col("user_id"), col("event_type"), col("ts"), col("event_id"),
          unix_micros(col("ts")).as("tus"),
          when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L).as("chg"))
        val withVer = withChg.withColumn("version",
          sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val wl = Window.partitionBy(col("user_id")).orderBy(col("version"))
        val nxt = lead(col("valid_from_us"), 1).over(wl)
        withVer.groupBy(col("user_id"), col("version"))
          .agg(min(col("event_type")).as("event_type"),
            min(col("tus")).as("valid_from_us"))
          .select(col("user_id"), col("version"), col("event_type"), col("valid_from_us"),
            coalesce(nxt, lit(-1L)).as("valid_to_us"),
            when(nxt.isNull, 1L).otherwise(0L).as("is_current"))
          .orderBy("user_id", "version")
      },
      Some("""WITH o AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tus,
             |         row_number() OVER w AS rn,
             |         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), v AS (
             |  SELECT user_id, event_type, tus,
             |         sum(chg) OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS version
             |  FROM o
             |), g AS (
             |  SELECT user_id, CAST(version AS BIGINT) AS version, min(event_type) AS event_type,
             |         min(tus) AS valid_from_us
             |  FROM v GROUP BY user_id, version
             |)
             |SELECT user_id, version, event_type, valid_from_us,
             |       coalesce(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version), -1) AS valid_to_us,
             |       CAST(CASE WHEN lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
             |FROM g ORDER BY user_id, version""".stripMargin)),

    // Per-user autocorrelation at lags 1..3 over the event-ordered
    // value-mils series — ENGINE-EXACT ACF: deviations are cleared of
    // the mean's fraction (dev = n·x − Σx), sums run in DECIMAL(38,0) /
    // HUGEINT, and the signed ppm truncates |num| toward zero so both
    // engines' negative-division conventions agree. One shuffle on
    // user_id serves totals, join, lag window, and final aggregate.
    Q("q_acf",
      (s, dir) => TimeSeries.acfPpm(Tables.events(s, dir),
          col("user_id"), unix_micros(col("ts")), col("event_id"),
          floor(col("value") * 1000).cast("long"), maxLag = 3)
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tie,
             |                  CAST(floor(value*1000) AS BIGINT) AS x FROM events),
             |tot AS (SELECT k, count(*) AS n, sum(x) AS s FROM b GROUP BY 1),
             |d AS (SELECT b.k, t, tie, CAST(tot.n AS HUGEINT)*x - tot.s AS dev, tot.n
             |      FROM b JOIN tot ON b.k = tot.k),
             |l AS (SELECT k, n, dev,
             |        lag(dev, 1) OVER w AS d1, lag(dev, 2) OVER w AS d2,
             |        lag(dev, 3) OVER w AS d3
             |      FROM d WINDOW w AS (PARTITION BY k ORDER BY t, tie)),
             |a AS (SELECT k, max(n) AS n, sum(dev*dev) AS den,
             |             coalesce(sum(dev*d1), 0) AS n1,
             |             coalesce(sum(dev*d2), 0) AS n2,
             |             coalesce(sum(dev*d3), 0) AS n3
             |      FROM l GROUP BY 1)
             |SELECT k AS user_id, CAST(n AS BIGINT) AS n,
             |  CAST(CASE WHEN den > 0 THEN (CASE WHEN n1 < 0
             |       THEN -(abs(n1)*1000000 // den) ELSE n1*1000000 // den END)
             |       ELSE 0 END AS BIGINT) AS acf1_ppm,
             |  CAST(CASE WHEN den > 0 THEN (CASE WHEN n2 < 0
             |       THEN -(abs(n2)*1000000 // den) ELSE n2*1000000 // den END)
             |       ELSE 0 END AS BIGINT) AS acf2_ppm,
             |  CAST(CASE WHEN den > 0 THEN (CASE WHEN n3 < 0
             |       THEN -(abs(n3)*1000000 // den) ELSE n3*1000000 // den END)
             |       ELSE 0 END AS BIGINT) AS acf3_ppm
             |FROM a ORDER BY user_id""".stripMargin)),

    // Lead-lag cross-correlation: does 'click' activity precede
    // 'purchase' activity, and by how many hours? Hourly count series
    // on a shared dense grid (missing hours = 0), n-cleared integer
    // deviations, and the SIGNED SQUARED correlation in ppm so no sqrt
    // ties the result to libm. ONE data-sized agg; the lag alignment is
    // a bucket equi-join on the 720-row grid — never a global window.
    Q("q_xcorr",
      (s, dir) => TimeSeries.crossCorrPpm(
          Tables.events(s, dir),
          col("event_type"),
          expr("(unix_micros(ts) - 1704067200000000) DIV 3600000000"),
          keyA = "click", keyB = "purchase", maxLag = 3)
        .orderBy("lag"),
      Some("""WITH b AS (SELECT event_type AS k,
             |                  (epoch_us(ts) - 1704067200000000) // 3600000000 AS h
             |           FROM events WHERE event_type IN ('click', 'purchase')),
             |c AS (SELECT k, h, count(*) AS c FROM b GROUP BY 1, 2),
             |bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM c),
             |grid AS (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds),
             |xy AS (SELECT g.h, coalesce(cx.c, 0) AS x, coalesce(cy.c, 0) AS y
             |       FROM grid g
             |       LEFT JOIN (SELECT h, c FROM c WHERE k = 'click') cx USING (h)
             |       LEFT JOIN (SELECT h, c FROM c WHERE k = 'purchase') cy USING (h)),
             |tot AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy FROM xy),
             |d AS (SELECT h, CAST(n AS HUGEINT)*x - sx AS dx,
             |             CAST(n AS HUGEINT)*y - sy AS dy, n FROM xy, tot),
             |den AS (SELECT sum(dx*dx) AS ddx, sum(dy*dy) AS ddy FROM d),
             |lags AS (SELECT unnest([0, 1, 2, 3]) AS lag),
             |nums AS (SELECT lg.lag, max(a.n) AS n_buckets,
             |                coalesce(sum(a.dx * b.dy), 0) AS num
             |         FROM lags lg
             |         JOIN d a ON TRUE
             |         JOIN d b ON b.h = a.h + lg.lag
             |         GROUP BY 1)
             |SELECT CAST(lag AS BIGINT) AS lag, CAST(n_buckets AS BIGINT) AS n_buckets,
             |       CAST(CASE WHEN ddx > 0 AND ddy > 0 THEN
             |              (CASE WHEN num < 0
             |               THEN -(num*num*1000000 // (ddx*ddy))
             |               ELSE num*num*1000000 // (ddx*ddy) END)
             |            ELSE 0 END AS BIGINT) AS xcorr_r2s_ppm
             |FROM nums, den ORDER BY lag""".stripMargin)),

    // Benford first-significant-digit audit of l_extendedprice — the
    // classic anomaly screen for magnitude-spanning quantities; the
    // expected frequencies are COMPILE-TIME ppm literals so the runtime
    // never touches libm. One 9-group map-side agg + 9-row broadcast.
    Q("q_benford",
      (s, dir) => Stats.benfordAudit(
          Tables.lineitem(s, dir), col("l_extendedprice"))
        .orderBy("digit"),
      Some("""WITH c AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
             |                       AS VARCHAR), 1, 1) AS INT) AS digit,
             |                  count(*) AS nd
             |           FROM lineitem WHERE l_extendedprice >= 1 GROUP BY 1),
             |e AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
             |             unnest([301029,176091,124938,96910,79181,
             |                     66946,57991,51152,45757]) AS exp_ppm),
             |t AS (SELECT coalesce(sum(nd), 0) AS n FROM c),
             |o AS (SELECT e.digit, t.n, coalesce(c.nd, 0) AS nd, e.exp_ppm
             |      FROM e LEFT JOIN c USING (digit), t)
             |SELECT CAST(digit AS BIGINT) AS digit, CAST(n AS BIGINT) AS n,
             |       CAST(CASE WHEN n > 0 THEN nd*1000000 // n ELSE 0 END
             |            AS BIGINT) AS obs_ppm,
             |       CAST(exp_ppm AS BIGINT) AS exp_ppm,
             |       CAST(abs(CASE WHEN n > 0 THEN nd*1000000 // n ELSE 0 END
             |                - exp_ppm) AS BIGINT) AS dev_ppm
             |FROM o ORDER BY digit""".stripMargin)),

    // Nearest-in-time join: each click pairs with the SAME user's
    // closest purchase within ±30 min, either direction (the two-sided
    // companion of q_asof_lookup — sensor-alignment semantics). 1-D
    // time-bin explode (3 bins) + hash join + map-side min of
    // (|Δt|, ts, id); ties break to the earlier purchase. Oracle is the
    // brute per-user range join + QUALIFY arg-min.
    Q("q_nearest_time",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          expr("unix_micros(ts)").as("ts_us"), col("event_id"), col("event_type"))
        Trajectory.nearestTimeJoin(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "purchase"),
            "user_id", "ts_us", "event_id", wUs = 1800000000L)
          .orderBy("probe_id")
      },
      Some("""WITH c AS (SELECT user_id, epoch_us(ts) AS pts, event_id AS pid
             |          FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, epoch_us(ts) AS bts, event_id AS bid
             |      FROM events WHERE event_type = 'purchase'),
             |j AS (SELECT c.user_id, c.pid, c.pts, p.bid, p.bts,
             |             abs(p.bts - c.pts) AS adt
             |      FROM c JOIN p ON c.user_id = p.user_id
             |       AND p.bts BETWEEN c.pts - 1800000000 AND c.pts + 1800000000)
             |SELECT user_id, pid AS probe_id, pts AS probe_ts_us,
             |       bid AS match_id, CAST(bts - pts AS BIGINT) AS dt_us
             |FROM j
             |QUALIFY row_number() OVER (PARTITION BY pid ORDER BY adt, bts, bid) = 1
             |ORDER BY probe_id""".stripMargin)),

    // Per-user EWMA (α=1/4) + threshold anomaly count — an ordered
    // integer recurrence (floor-rounded state) no window frame can
    // express, folded row-locally per entity after one shuffle; the
    // oracle replays the identical fold with a recursive CTE.
    Q("q_ewma_anomaly",
      (s, dir) => TimeSeries.ewmaAnomaly(Tables.events(s, dir), "user_id",
          unix_micros(col("ts")), col("event_id"), col("value"),
          den = 4, threshMils = 80000L)
        .orderBy("user_id"),
      Some("""WITH RECURSIVE t AS (
             |  SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             |         CAST(floor(value*1000) AS BIGINT) AS v
             |  FROM events
             |), r AS (
             |  SELECT user_id, rn, v AS e, CAST(0 AS BIGINT) AS na FROM t WHERE rn = 1
             |  UNION ALL
             |  SELECT t.user_id, t.rn, CAST(floor((3*r.e + t.v)/4.0) AS BIGINT) AS e,
             |         r.na + CASE WHEN abs(t.v - r.e) > 80000 THEN 1 ELSE 0 END AS na
             |  FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1
             |)
             |SELECT user_id, max(rn) AS n_events, arg_max(e, rn) AS ewma_mils,
             |       arg_max(na, rn) AS n_anomalies
             |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Per-user OLS trend: least-squares slope of value (mils) against
    // hours since the window start — slope_ppm_per_hour =
    // ⌊10⁶·(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)⌋. Every SUM is an exact
    // combinable integer aggregate (x rebased to ≤ 720 keeps products
    // in-long); the 10⁶-scaled numerator can pass 2⁵³, so the final
    // quotient is IEEE-double — cross-engine identical anyway because
    // both sides round the SAME exact integer operands once before one
    // division (single-rounding equivalence), asserted by the hash
    // compare. One map-side-combined groupBy — the regression never
    // sees a window or a sort.
    Q("q_trend_ols",
      (s, dir) => {
        val startUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
        Tables.events(s, dir)
          .select(col("user_id"),
            floor((unix_micros(col("ts")) - startUs) / 3600000000.0).cast("long").as("_x"),
            floor(col("value") * 1000).cast("long").as("_y"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("_x")).as("_sx"),
            sum(col("_y")).as("_sy"), sum(col("_x") * col("_y")).as("_sxy"),
            sum(col("_x") * col("_x")).as("_sxx"))
          .filter(col("n") * col("_sxx") - col("_sx") * col("_sx") =!= 0)
          .select(col("user_id"), col("n"),
            floor((col("n") * col("_sxy") - col("_sx") * col("_sy")) * lit(1000000L) /
              (col("n") * col("_sxx") - col("_sx") * col("_sx")))
              .cast("long").as("slope_ppm_per_hour"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (
             |  SELECT user_id,
             |         CAST(floor((epoch_us(ts) - 1704067200000000) / 3600000000.0) AS BIGINT) AS x,
             |         CAST(floor(value * 1000) AS BIGINT) AS y
             |  FROM events),
             |a AS (SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |             sum(x*y) AS sxy, sum(x*x) AS sxx
             |      FROM p GROUP BY 1)
             |SELECT user_id, n,
             |       CAST(floor((n*sxy - sx*sy) * 1000000.0 / (n*sxx - sx*sx)) AS BIGINT)
             |         AS slope_ppm_per_hour
             |FROM a WHERE n*sxx - sx*sx <> 0
             |ORDER BY user_id""".stripMargin)),

    // Theil–Sen robust trend per user on the SAME (hour-index, mils)
    // series as q_trend_ols — the median of all pairwise slopes,
    // selected (never interpolated) at integer rank (n+1)÷2 so the
    // output is one exact floor(dy·10⁶/dx). Pair volume Σ C(n_user, 2),
    // bounded by per-user series length (~66 here); equal-hour pairs
    // excluded by definition. Robust-statistics twin of the OLS fit:
    // one wild outlier shifts this by one rank, OLS by anything.
    Q("q_trend_theilsen",
      (s, dir) => {
        val startUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
        TimeSeries.theilSenSlopes(
          Tables.events(s, dir)
            .select(col("user_id").as("g"),
              floor((unix_micros(col("ts")) - startUs) / 3600000000.0)
                .cast("long").as("x"),
              floor(col("value") * 1000).cast("long").as("y"),
              col("event_id").as("id")))
          .select(col("g").as("user_id"), col("n_pairs"), col("slope_ppm"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (
             |  SELECT user_id AS g,
             |         CAST(floor((epoch_us(ts) - 1704067200000000) / 3600000000.0) AS BIGINT) AS x,
             |         CAST(floor(value * 1000) AS BIGINT) AS y,
             |         event_id AS id
             |  FROM events),
             |pr AS (SELECT a.g, b.y - a.y AS dy, b.x - a.x AS dx,
             |              a.id AS ia, b.id AS ib
             |       FROM p a JOIN p b ON a.g = b.g AND a.x < b.x),
             |r AS (SELECT g, dy, dx,
             |             row_number() OVER (PARTITION BY g
             |               ORDER BY dy * 1000000.0 / dx, dy, dx, ia, ib) AS rn,
             |             count(*) OVER (PARTITION BY g) AS np
             |      FROM pr)
             |SELECT g AS user_id, np AS n_pairs,
             |       CAST(floor(dy * 1000000.0 / dx) AS BIGINT) AS slope_ppm
             |FROM r WHERE rn = (np + 1) // 2 ORDER BY user_id""".stripMargin)),


    // k-step ordered funnel (earliest-completion semantics): signup →
    // view → click → purchase, each step's timestamp the MINIMUM
    // strictly after the previous step's — the product-analytics
    // generalization of q_funnel's 2-step. Four user-keyed
    // join+min-agg rounds, each frame shrinking to the survivors; the
    // census is 4 rows.
    Q("q_funnel_steps",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
        def step(prev: DataFrame, evType: String, prevT: String, outT: String) =
          ev.filter(col("event_type") === evType)
            .join(prev.select(col("user_id"), col(prevT)), "user_id")
            .filter(col("t") > col(prevT))
            .groupBy(col("user_id")).agg(min(col("t")).as(outT))
        val s1 = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
        val s2 = step(s1, "view", "t1", "t2")
        val s3 = step(s2, "click", "t2", "t3")
        val s4 = step(s3, "purchase", "t3", "t4")
        def census(df: DataFrame, name: String) =
          df.agg(count(lit(1)).as("n_users")).withColumn("step", lit(name))
        census(s1, "1_signup")
          .unionByName(census(s2, "2_view"))
          .unionByName(census(s3, "3_click"))
          .unionByName(census(s4, "4_purchase"))
          .crossJoin(broadcast(s1.agg(count(lit(1)).as("_n1"))))
          .select(col("step"), col("n_users"),
            floor(col("n_users") * lit(1000000L) / col("_n1")).cast("long").as("conv_ppm"))
          .orderBy("step")
      },
      Some("""WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
             |            FROM events WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(epoch_us(ts)) AS t2
             |       FROM events e JOIN s1 USING (user_id)
             |       WHERE e.event_type = 'view' AND epoch_us(ts) > s1.t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(epoch_us(ts)) AS t3
             |       FROM events e JOIN s2 USING (user_id)
             |       WHERE e.event_type = 'click' AND epoch_us(ts) > s2.t2 GROUP BY 1),
             |s4 AS (SELECT e.user_id, min(epoch_us(ts)) AS t4
             |       FROM events e JOIN s3 USING (user_id)
             |       WHERE e.event_type = 'purchase' AND epoch_us(ts) > s3.t3 GROUP BY 1),
             |c AS (SELECT '1_signup' AS step, count(*) AS n_users FROM s1
             |      UNION ALL SELECT '2_view', count(*) FROM s2
             |      UNION ALL SELECT '3_click', count(*) FROM s3
             |      UNION ALL SELECT '4_purchase', count(*) FROM s4)
             |SELECT step, CAST(n_users AS BIGINT) AS n_users,
             |       CAST(floor(n_users * 1000000.0 /
             |                  (SELECT count(*) FROM s1)) AS BIGINT) AS conv_ppm
             |FROM c ORDER BY step""".stripMargin)),

    // Robust per-user outlier census: MAD z-score (median absolute
    // deviation — immune to the outliers it hunts, unlike stddev).
    // Median and MAD both come from the exact nearest-rank machinery
    // (FP-free, engine-identical); a point is an outlier when
    // |v − med| > 3·1.4826·MAD, kept integer as d·10⁴ > MAD·44478.
    // Two grouped rank passes + one combinable census agg.
    Q("q_mad_outliers",
      (s, dir) => {
        val base = Tables.events(s, dir).select(col("user_id"), col("event_id"),
          floor(col("value") * 1000).cast("long").as("v"))
        val med = Stats.nearestRankPercentiles(base, "user_id", "v", "event_id", Seq(50))
          .select(col("user_id"), col("p50_v").as("med"))
        val dev = base.join(med, Seq("user_id"))
          .select(col("user_id"), col("event_id"), col("v"), col("med"),
            abs(col("v") - col("med")).as("d"))
        val mad = Stats.nearestRankPercentiles(dev, "user_id", "d", "event_id", Seq(50))
          .select(col("user_id"), col("p50_d").as("mad"))
        dev.join(mad, Seq("user_id"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), max(col("med")).as("median_mils"),
            max(col("mad")).as("mad_mils"),
            sum(when(col("d") * 10000L > col("mad") * 44478L, 1L).otherwise(0L))
              .as("n_outliers"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (SELECT user_id, event_id,
             |                  CAST(floor(value*1000) AS BIGINT) AS v FROM events),
             |r1 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY v, event_id) AS rn,
             |              count(*) OVER (PARTITION BY user_id) AS n FROM b),
             |med AS (SELECT user_id,
             |               max(CASE WHEN rn = CAST(ceil(n*0.5) AS BIGINT) THEN v END) AS med
             |        FROM r1 GROUP BY 1),
             |d AS (SELECT b.user_id, b.event_id, b.v, med.med,
             |             abs(b.v - med.med) AS dv
             |      FROM b JOIN med USING (user_id)),
             |r2 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY dv, event_id) AS rn,
             |              count(*) OVER (PARTITION BY user_id) AS n FROM d),
             |mad AS (SELECT user_id,
             |               max(CASE WHEN rn = CAST(ceil(n*0.5) AS BIGINT) THEN dv END) AS mad
             |        FROM r2 GROUP BY 1)
             |SELECT d.user_id, count(*) AS n, max(d.med) AS median_mils,
             |       max(mad.mad) AS mad_mils,
             |       CAST(sum(CASE WHEN d.dv*10000 > mad.mad*44478 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM d JOIN mad USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Seasonal-naive forecast with backtest — the baseline every
    // forecasting system must beat, and the natural consumer of
    // q_seasonal_stl's decomposition: train on the first 20 days'
    // global hourly series, forecast each later hour as its
    // hour-of-day floor-mean, score per test hour as |actual −
    // forecast| (exact cmil integers). Two map-side-combinable aggs
    // and one broadcast-sized (24-row) join — no state, no window.
    Q("q_forecast_snaive",
      (s, dir) => {
        val startUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
        val splitUs = startUs + 20L * 86400000000L
        val hourly = Tables.events(s, dir)
          .groupBy(expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
          .agg(sum(floor(col("value") * 100)).cast("long").as("value_cmil"))
          .withColumn("hod", (floor(col("hour_us") / 3600000000L).cast("long") % 24))
        val model = hourly.filter(col("hour_us") < splitUs)
          .groupBy(col("hod"))
          .agg(floor(sum(col("value_cmil")) / count(lit(1))).cast("long").as("forecast_cmil"))
        hourly.filter(col("hour_us") >= splitUs)
          .join(broadcast(model), Seq("hod"))
          .select(col("hour_us"), col("value_cmil").as("actual_cmil"),
            col("forecast_cmil"),
            abs(col("value_cmil") - col("forecast_cmil")).as("abs_err_cmil"))
          .orderBy("hour_us")
      },
      Some("""WITH h AS (
             |  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
             |         CAST(sum(floor(value * 100)) AS BIGINT) AS value_cmil
             |  FROM events GROUP BY 1),
             |hh AS (SELECT hour_us, value_cmil,
             |              (hour_us // 3600000000) % 24 AS hod FROM h),
             |m AS (SELECT hod,
             |             CAST(floor(sum(value_cmil) * 1.0 / count(*)) AS BIGINT) AS forecast_cmil
             |      FROM hh WHERE hour_us < 1705795200000000 GROUP BY 1)
             |SELECT hour_us, value_cmil AS actual_cmil, forecast_cmil,
             |       abs(value_cmil - forecast_cmil) AS abs_err_cmil
             |FROM hh JOIN m USING (hod)
             |WHERE hour_us >= 1705795200000000
             |ORDER BY hour_us""".stripMargin)),

    // Per-user one-sided CUSUM change-point detection (Page): S ←
    // max(0, S + (v − target)), alarm + reset when S > h — counts
    // DISTINCT upward level shifts, not samples above target. Same
    // row-local sorted fold class as q_ewma_anomaly (a reset-on-alarm
    // recurrence no window frame expresses); oracle replays it as a
    // recursive CTE.
    Q("q_cusum",
      (s, dir) => TimeSeries.cusumAlarms(Tables.events(s, dir), "user_id",
          unix_micros(col("ts")), col("event_id"), col("value"),
          targetMils = 40000L, threshMils = 300000L)
        .orderBy("user_id"),
      Some("""WITH RECURSIVE t AS (
             |  SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             |         CAST(floor(value*1000) AS BIGINT) AS v
             |  FROM events
             |), r AS (
             |  SELECT user_id, rn,
             |         CASE WHEN greatest(0, v - 40000) > 300000 THEN 0
             |              ELSE greatest(0, v - 40000) END AS s,
             |         CASE WHEN greatest(0, v - 40000) > 300000 THEN 1 ELSE 0 END AS na
             |  FROM t WHERE rn = 1
             |  UNION ALL
             |  SELECT t.user_id, t.rn,
             |         CASE WHEN greatest(0, r.s + t.v - 40000) > 300000 THEN 0
             |              ELSE greatest(0, r.s + t.v - 40000) END AS s,
             |         r.na + CASE WHEN greatest(0, r.s + t.v - 40000) > 300000 THEN 1 ELSE 0 END AS na
             |  FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1
             |)
             |SELECT user_id, max(rn) AS n_events, arg_max(s, rn) AS cusum_mils,
             |       arg_max(na, rn) AS n_alarms
             |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // MATCH_RECOGNIZE-class event-sequence pattern detection: per user,
    // count non-overlapping occurrences of the noise-tolerant funnel
    // signup (click|view)* purchase in the (ts, event_id)-ordered type
    // sequence — the sequence-pattern query a groupBy cannot express and
    // q_funnel's strict two-step cannot either (arbitrary same-class
    // noise between the anchor steps). Each user's sequence folds
    // row-locally (the group-collect class: one shuffle of (ts, id,
    // initial) triples, ~1 byte/event payload); the regex runs per user
    // inside codegen. Initials are distinct per type, so the regex
    // alphabet is exact; both engines' regex scan is left-to-right
    // non-overlapping with greedy *, pinned in OperatorsSpec.
    Q("q_event_pattern",
      (s, dir) => {
        val rows = Tables.events(s, dir).select(col("user_id"),
          struct(col("ts").as("t"), col("event_id").as("i"),
            substring(col("event_type"), 1, 1).as("c")).as("_r"))
        rows.groupBy(col("user_id"))
          .agg(sort_array(collect_list(col("_r"))).as("_rs"))
          .select(col("user_id"),
            size(col("_rs")).cast("long").as("n_events"),
            regexp_count(
              array_join(transform(col("_rs"), r => r.getField("c")), ""),
              lit("s[cv]*p")).cast("long").as("n_funnels"))
          .orderBy("user_id")
      },
      Some("""WITH o AS (SELECT user_id, substr(event_type, 1, 1) AS c, ts, event_id
             |           FROM events),
             |s AS (SELECT user_id,
             |             string_agg(c, '' ORDER BY ts, event_id) AS seq,
             |             CAST(count(*) AS BIGINT) AS n_events
             |      FROM o GROUP BY 1)
             |SELECT user_id, n_events,
             |       CAST(len(regexp_extract_all(seq, 's[cv]*p')) AS BIGINT) AS n_funnels
             |FROM s ORDER BY user_id""".stripMargin)),

    // EXACT global p50/p90/p99 of value_mils by two-pass distributed
    // selection: a domain-bounded histogram pass (map-side combine,
    // band-count-class driver collect), driver prefix-sum locates each
    // nearest-rank target, then ONLY the target bins rescan (IN-list
    // pushdown) and a per-bin window picks the offset row — the exact
    // order statistic with no global sort and no single-partition
    // window; the approximate twin is q_approx_quantile (GK).
    Q("q_exact_quantiles",
      (s, dir) => graft.operators.Stats.exactQuantilesSelect(
        Tables.events(s, dir)
          .select(floor(col("value") * 1000).cast("long").as("value_mils")),
        "value_mils", Seq(50, 90, 99)),
      Some(exactQuantilesOracleSql)),

    // Subsequence DTW shape search: rank users by how well their value
    // sequence (first 48 points) contains a segment matching a fixed
    // spike-and-recover pattern, under asymmetric-step DTW (open start/
    // end; each pattern step advances one row, sequence elements may
    // repeat). The step pattern makes each DP level a pure map over the
    // previous one — the whole DP is one aggregate-over-pattern with a
    // nested transform (codegen, row-local); the oracle replays it
    // level-by-level with lag() windows, GENERATED from the same
    // pattern literal so the two cannot drift.
    Q("q_dtw_match",
      (s, dir) => TimeSeries.dtwMatch(Tables.events(s, dir), "user_id",
        col("ts"), col("event_id"), col("value"),
        DtwPattern, maxLen = 48, topK = 20),
      Some(TimeSeries.dtwMatchEventsSql(DtwPattern, maxLen = 48, topK = 20))),

    // Classical additive seasonal decomposition (STL-lite, exact
    // integers): the global hourly value series splits into trend
    // (centered 24-row rolling mean, floor-div by the actual in-frame
    // count so edges stay exact), hour-of-day seasonal (floor-mean of
    // the detrended series per hod), and residual. The hourly series is
    // span-bounded (720 rows here), but the centered frame still runs
    // BANDED so no unpartitioned-window plan exists anywhere in the
    // registry (VERDICT r6 #3): a distributed exclusive prefix count
    // (SuffixArray.prefixOffsets — range partition, per-partition sums
    // to driver, broadcast back) gives each hour its GLOBAL row index;
    // rows band into exact 24-row blocks of that index, each band gets
    // a HALO of its neighbors' edge rows (last 11 / first 12 — exactly
    // the frame reach, safe even across empty days because banding is
    // in row space, not time space), the rolling mean is a per-band
    // window, halo rows drop after — the stencil/halo-exchange pattern,
    // which is also how a dense multi-year series would scale.
    Q("q_seasonal_stl",
      (s, dir) => stlDecomposition(s, dir).orderBy("hour_us"),
      Some(s"""$stlOracleCtes
             |SELECT hour_us, value_cmil, trend_cmil, seasonal_cmil, resid_cmil
             |FROM stl ORDER BY hour_us""".stripMargin)),

    // Seasonal / trend STRENGTH of the hourly series (Hyndman's
    // F-statistics: F_s = 1 − Var(R)/Var(S+R), F_t = 1 − Var(R)/
    // Var(T+R)) — the "should the forecaster model seasonality/trend at
    // all?" readout over the SAME q_seasonal_stl decomposition. Exact:
    // component series are integers, each n·Σx²−(Σx)² variance clears
    // in DECIMAL(38,0), one floor division per F, clamped at 0. The
    // moment rollup is span-bounded (744 hourly rows).
    Q("q_seasonal_strength",
      (s, dir) => stlDecomposition(s, dir)
        .select(col("resid_cmil").as("_r"),
          (col("value_cmil") - col("trend_cmil")).as("_sr"),
          (col("value_cmil") - col("seasonal_cmil")).as("_tr"))
        .agg(count(lit(1)).as("n"),
          sum(col("_r")).as("_s_r"), sum(col("_r") * col("_r")).as("_s_rr"),
          sum(col("_sr")).as("_s_s"), sum(col("_sr") * col("_sr")).as("_s_ss"),
          sum(col("_tr")).as("_s_t"), sum(col("_tr") * col("_tr")).as("_s_tt"))
        .withColumn("_vr", expr(
          "CAST(n AS DECIMAL(38,0)) * _s_rr - CAST(_s_r AS DECIMAL(38,0)) * _s_r"))
        .withColumn("_vs", expr(
          "CAST(n AS DECIMAL(38,0)) * _s_ss - CAST(_s_s AS DECIMAL(38,0)) * _s_s"))
        .withColumn("_vt", expr(
          "CAST(n AS DECIMAL(38,0)) * _s_tt - CAST(_s_t AS DECIMAL(38,0)) * _s_t"))
        .select(col("n"),
          when(col("_vs") > 0, greatest(lit(0L),
            expr("CAST((_vs - _vr) * 1000000 DIV _vs AS BIGINT)")))
            .as("f_seasonal_ppm"),
          when(col("_vt") > 0, greatest(lit(0L),
            expr("CAST((_vt - _vr) * 1000000 DIV _vt AS BIGINT)")))
            .as("f_trend_ppm")),
      Some(s"""$stlOracleCtes,
             |c AS (SELECT resid_cmil AS r,
             |             value_cmil - trend_cmil AS sr,
             |             value_cmil - seasonal_cmil AS tr FROM stl),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |             sum(CAST(r AS HUGEINT)) AS s_r, sum(CAST(r AS HUGEINT)*r) AS s_rr,
             |             sum(CAST(sr AS HUGEINT)) AS s_s, sum(CAST(sr AS HUGEINT)*sr) AS s_ss,
             |             sum(CAST(tr AS HUGEINT)) AS s_t, sum(CAST(tr AS HUGEINT)*tr) AS s_tt
             |      FROM c),
             |v AS (SELECT n, n*s_rr - s_r*s_r AS vr, n*s_ss - s_s*s_s AS vs,
             |             n*s_tt - s_t*s_t AS vt FROM m)
             |SELECT n,
             |       CAST(CASE WHEN vs > 0 THEN greatest(0, (vs - vr) * 1000000 // vs)
             |            END AS BIGINT) AS f_seasonal_ppm,
             |       CAST(CASE WHEN vt > 0 THEN greatest(0, (vt - vr) * 1000000 // vt)
             |            END AS BIGINT) AS f_trend_ppm
             |FROM v""".stripMargin)),

    // -- spatial / mobility family --------------------------------------
    // The test events carry no raw coordinates, so these queries derive
    // deterministic integer coords from event_id by quadratic-residue
    // mixing (Spatial.xMil/yMil) — exact in both engines, nothing float
    // to diverge, and scattered at all pair distances.

    // Exact isotonic calibration of p(purchase | value bin) — the
    // reliability-curve repair before thresholding a score. Uses the
    // MINIMAX characterization (fit_i = max_{j<=i} min_{k>=i} interval
    // mean) over the domain-bounded bin frame — pure relational
    // algebra, no sequential PAVA stack, no driver loop; floor-ppm
    // commutes with min/max so the output equals the floored rational
    // PAVA fit exactly.
    Q("q_isotonic",
      (s, dir) => Stats.isotonicCalibration(
          Tables.events(s, dir),
          expr("CAST(floor(value * 1000) AS BIGINT) DIV 5000"),
          (col("event_type") === "purchase").cast("long"))
        .orderBy("bin"),
      Some("""WITH r AS (SELECT CAST(floor(value * 1000) AS BIGINT) // 5000 AS bin,
             |                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             |           FROM events),
             |bins AS (SELECT bin, count(*) AS n, sum(p) AS np FROM r GROUP BY 1),
             |iv AS (SELECT j.bin AS j, k.bin AS k,
             |              sum(m.np) * 1000000 // sum(m.n) AS mean_ppm
             |       FROM bins j JOIN bins k ON j.bin <= k.bin
             |       JOIN bins m ON m.bin BETWEEN j.bin AND k.bin
             |       GROUP BY 1, 2),
             |mn AS (SELECT i.bin AS i, iv.j, min(iv.mean_ppm) AS mn
             |       FROM iv JOIN bins i ON iv.j <= i.bin AND iv.k >= i.bin
             |       GROUP BY 1, 2),
             |fit AS (SELECT i, max(mn) AS iso FROM mn GROUP BY 1)
             |SELECT b.bin AS bin, CAST(b.n AS BIGINT) AS n,
             |       CAST(b.np AS BIGINT) AS n_pos,
             |       CAST(b.np * 1000000 // b.n AS BIGINT) AS raw_ppm,
             |       CAST(f.iso AS BIGINT) AS iso_ppm
             |FROM bins b JOIN fit f ON b.bin = f.i ORDER BY bin""".stripMargin)),

    // Split-conformal calibration + coverage audit: per event type, the
    // md5-nibble calibration split trains the exact-median predictor,
    // the conformal threshold is the ceil((n+1)(1-alpha))-th smallest
    // |v - median| (the +1 IS the finite-sample guarantee), and the
    // eval split's coverage_ppm audits P(s <= qhat) >= 90%. Both
    // selections are grouped 2-pass (never per-group rank windows);
    // medians/thresholds broadcast back as O(groups) frames.
    Q("q_conformal",
      (s, dir) => Stats.conformalCoverage(
          Tables.events(s, dir), col("event_type"), col("event_id"),
          floor(col("value") * 1000).cast("long"), alphaPct = 10)
        .orderBy("g"),
      Some("""WITH b AS (SELECT event_type AS g,
             |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) AS BIGINT) < 8 AS cal,
             |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
             |cm AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             |              count(*) OVER (PARTITION BY g) AS n
             |       FROM b WHERE cal),
             |med AS (SELECT g, CAST(max(n) AS BIGINT) AS n_cal,
             |               max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med_mils
             |        FROM cm GROUP BY g),
             |sc AS (SELECT b.g, cal, abs(v - med_mils) AS s, med_mils
             |       FROM b JOIN med USING (g)),
             |cq AS (SELECT g, s, row_number() OVER (PARTITION BY g ORDER BY s) AS rn,
             |              count(*) OVER (PARTITION BY g) AS n
             |       FROM sc WHERE cal),
             |qh AS (SELECT g, max(CASE WHEN rn = least(n, ((n + 1) * 90 + 99) // 100)
             |                          THEN s END) AS qhat_mils
             |       FROM cq GROUP BY g),
             |ev AS (SELECT sc.g, CAST(count(*) AS BIGINT) AS n_eval,
             |              CAST(sum(CASE WHEN s <= qhat_mils THEN 1 ELSE 0 END) AS BIGINT)
             |                AS n_covered
             |       FROM sc JOIN qh USING (g) WHERE NOT cal GROUP BY 1)
             |SELECT med.g, n_cal, n_eval, med_mils, qhat_mils, n_covered,
             |       CAST(n_covered * 1000000 // n_eval AS BIGINT) AS coverage_ppm
             |FROM med JOIN qh USING (g) JOIN ev USING (g)
             |ORDER BY med.g""".stripMargin)),

    // Winsorization census — the robust-preprocessing audit: clip event
    // values at the EXACT nearest-rank p1/p99 (2-pass selection, no
    // global sort) and report what clipping changes (clipped counts,
    // sum before/after). The bounds are observed values, so the report
    // is integer-exact end to end.
    Q("q_winsorize",
      (s, dir) => {
        val v = Tables.events(s, dir)
          .select(floor(col("value") * 1000).cast("long").as("v"))
        val qs = Stats.exactQuantilesSelect(v, "v", Seq(1, 99), binWidth = 1000L)
        val b = qs.agg(
          max(when(col("pct") === 1, col("v"))).as("lo"),
          max(when(col("pct") === 99, col("v"))).as("hi"))
        v.crossJoin(broadcast(b))
          .agg(count(lit(1)).as("n"),
            max(col("lo")).as("p1_mils"), max(col("hi")).as("p99_mils"),
            sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
            sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
            sum(col("v")).as("sum_mils"),
            sum(greatest(least(col("v"), col("hi")), col("lo"))).as("sum_winsor_mils"))
      },
      Some("""WITH v AS (SELECT CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
             |             count(*) OVER () AS n
             |      FROM v),
             |b AS (SELECT max(CASE WHEN rn = (n * 1 + 99) // 100 THEN v END) AS lo,
             |             max(CASE WHEN rn = (n * 99 + 99) // 100 THEN v END) AS hi
             |      FROM r)
             |SELECT count(*) AS n,
             |       CAST(max(b.lo) AS BIGINT) AS p1_mils,
             |       CAST(max(b.hi) AS BIGINT) AS p99_mils,
             |       CAST(sum(CASE WHEN v.v < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
             |       CAST(sum(CASE WHEN v.v > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
             |       CAST(sum(v.v) AS BIGINT) AS sum_mils,
             |       CAST(sum(greatest(least(v.v, b.hi), b.lo)) AS BIGINT) AS sum_winsor_mils
             |FROM v, b""".stripMargin)),

    // Ingestion-duplicate census (at-least-once delivery audit): events
    // of the same (user, type) within 1 s of the previous one are
    // re-delivery suspects. ONE per-(user, type) ordered window (lag);
    // the verdict is per-type counts + ppm.
    Q("q_event_dups",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("tus"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("tus"))
          .withColumn("_prev", lag(col("tus"), 1).over(w))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("_prev").isNotNull && col("tus") - col("_prev") <= 1000000L, 1L)
              .otherwise(0L)).as("n_dup_suspects"))
          .withColumn("dup_ppm", expr("n_dup_suspects * 1000000 DIV n_events"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
             |           FROM events),
             |l AS (SELECT event_type, tus,
             |             lag(tus) OVER (PARTITION BY user_id, event_type
             |                            ORDER BY tus, event_id) AS prev
             |      FROM e)
             |SELECT event_type, count(*) AS n_events,
             |       CAST(sum(CASE WHEN prev IS NOT NULL AND tus - prev <= 1000000
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_suspects,
             |       CAST(sum(CASE WHEN prev IS NOT NULL AND tus - prev <= 1000000
             |                THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS dup_ppm
             |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Out-of-order-delivery census — the watermark-tuning input: an
    // event is OOO if its event time precedes the running max event
    // time of the SAME user's earlier arrivals (event_id = arrival
    // order), and the max observed lateness bounds the watermark delay
    // a streaming job needs. One per-user arrival-ordered window.
    Q("q_ooo_events",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("tus"))
          .withColumn("_hwm", max(col("tus")).over(w))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("_hwm").isNotNull && col("tus") < col("_hwm"), 1L)
              .otherwise(0L)).as("n_ooo"),
            max(when(col("_hwm").isNotNull && col("tus") < col("_hwm"),
              col("_hwm") - col("tus")).otherwise(0L)).as("max_lateness_us"))
          .withColumn("ooo_ppm", expr("n_ooo * 1000000 DIV n_events"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
             |           FROM events),
             |l AS (SELECT event_type, tus,
             |             max(tus) OVER (PARTITION BY user_id ORDER BY event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
             |      FROM e)
             |SELECT event_type, count(*) AS n_events,
             |       CAST(sum(CASE WHEN hwm IS NOT NULL AND tus < hwm
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_ooo,
             |       CAST(max(CASE WHEN hwm IS NOT NULL AND tus < hwm
             |                THEN hwm - tus ELSE 0 END) AS BIGINT) AS max_lateness_us,
             |       CAST(sum(CASE WHEN hwm IS NOT NULL AND tus < hwm
             |                THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS ooo_ppm
             |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Per-stream freshness census (the data-ops staleness monitor): per
    // event_type, last-seen age vs the global watermark and the
    // last-24h/previous-24h volume ratio — a stalled producer reads as
    // age_us growing and ratio collapsing. One map-side conditional agg
    // + a 1-row watermark broadcast.
    Q("q_freshness",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          unix_micros(col("ts")).as("tus"))
        val wm = ev.agg(max(col("tus")).as("_wm"))
        ev.crossJoin(broadcast(wm))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_total"),
            max(col("tus")).as("last_ts_us"),
            max(col("_wm")).as("_w"),
            sum(when(col("tus") > col("_wm") - 86400000000L, 1L).otherwise(0L))
              .as("n_last_day"),
            sum(when(col("tus") <= col("_wm") - 86400000000L &&
              col("tus") > col("_wm") - 172800000000L, 1L).otherwise(0L))
              .as("n_prev_day"))
          .select(col("event_type"), col("n_total"), col("last_ts_us"),
            (col("_w") - col("last_ts_us")).as("age_us"),
            col("n_last_day"), col("n_prev_day"),
            when(col("n_prev_day") > 0,
              expr("n_last_day * 1000000 DIV n_prev_day")).as("ratio_ppm"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS tus FROM events),
             |w AS (SELECT max(tus) AS wm FROM e)
             |SELECT event_type, count(*) AS n_total,
             |       CAST(max(tus) AS BIGINT) AS last_ts_us,
             |       CAST(max(w.wm) - max(tus) AS BIGINT) AS age_us,
             |       CAST(sum(CASE WHEN tus > w.wm - 86400000000 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_last_day,
             |       CAST(sum(CASE WHEN tus <= w.wm - 86400000000
             |                      AND tus > w.wm - 172800000000 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_prev_day,
             |       CAST(CASE WHEN sum(CASE WHEN tus <= w.wm - 86400000000
             |                      AND tus > w.wm - 172800000000 THEN 1 ELSE 0 END) > 0
             |            THEN sum(CASE WHEN tus > w.wm - 86400000000 THEN 1 ELSE 0 END) * 1000000
             |                 // sum(CASE WHEN tus <= w.wm - 86400000000
             |                      AND tus > w.wm - 172800000000 THEN 1 ELSE 0 END)
             |            END AS BIGINT) AS ratio_ppm
             |FROM e, w GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Unique-entity growth curve: per day, active users, FIRST-SEEN
    // users, and the running distinct total — the q_vocab_growth shape
    // on the user axis (first-seen = ONE min-agg; the cumulative sum is
    // a triangular join on the 30-row day frame, no global window).
    Q("q_user_growth",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
        val active = ev.distinct()
          .groupBy(col("day")).agg(count(lit(1)).as("n_active"))
        val wn = active.join(firstDay, Seq("day"), "left").na.fill(0L, Seq("n_new"))
        val cum = wn.select(col("day").as("_d"), col("n_new").as("_n"))
        wn.join(cum, col("_d") <= col("day"))
          .groupBy(col("day"))
          .agg(max(col("n_active")).as("n_active"), max(col("n_new")).as("n_new"),
            sum(col("_n")).as("cum_users"))
          .orderBy("day")
      },
      Some("""WITH e AS (SELECT DISTINCT user_id,
             |                  epoch_us(ts) // 86400000000 AS day
             |           FROM events),
             |fd AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),
             |nn AS (SELECT day, count(*) AS n_new FROM fd GROUP BY 1),
             |ac AS (SELECT day, count(*) AS n_active FROM e GROUP BY 1),
             |wn AS (SELECT ac.day, ac.n_active, coalesce(nn.n_new, 0) AS n_new
             |       FROM ac LEFT JOIN nn USING (day))
             |SELECT a.day AS day, CAST(max(a.n_active) AS BIGINT) AS n_active,
             |       CAST(max(a.n_new) AS BIGINT) AS n_new,
             |       CAST(sum(b.n_new) AS BIGINT) AS cum_users
             |FROM wn a JOIN wn b ON b.day <= a.day
             |GROUP BY 1 ORDER BY a.day""".stripMargin)),

    // Holt double-exponential smoothing (level + trend, α = β = 1/4):
    // the trend-aware sibling of q_ewma_anomaly — a drifting series
    // makes a plain EWMA lag systematically; Holt's trend state tracks
    // it. Floor-rounded recurrence (state depends on the ROUNDED
    // previous state — no window frame expresses it): row-local sorted
    // fold per user, one shuffle total; oracle replays the recurrence
    // as a recursive CTE. SAE = integer one-step-ahead backtest.
    Q("q_trend_holt",
      (s, dir) => TimeSeries.holtSmooth(Tables.events(s, dir), "user_id",
          unix_micros(col("ts")), col("event_id"), col("value"), den = 4)
        .orderBy("user_id"),
      Some("""WITH RECURSIVE t AS (
             |  SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             |         CAST(floor(value * 1000) AS BIGINT) AS v
             |  FROM events
             |), r AS (
             |  SELECT user_id, rn, v AS l, CAST(0 AS BIGINT) AS b,
             |         CAST(0 AS BIGINT) AS sae
             |  FROM t WHERE rn = 1
             |  UNION ALL
             |  SELECT t.user_id, t.rn,
             |         CAST(floor((3*(r.l + r.b) + t.v)/4.0) AS BIGINT),
             |         CAST(floor((CAST(floor((3*(r.l + r.b) + t.v)/4.0) AS BIGINT)
             |                     - r.l + 3*r.b)/4.0) AS BIGINT),
             |         r.sae + abs(t.v - (r.l + r.b))
             |  FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1
             |)
             |SELECT user_id, max(rn) AS n_events, arg_max(l, rn) AS level_mils,
             |       arg_max(b, rn) AS trend_mils, arg_max(sae, rn) AS sae_mils
             |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Degree-distribution histogram of the part co-purchase graph in
    // power-of-2 bins — the graph-shape audit (a power law reads as a
    // straight line over these bins; a truncated tail flags a broken
    // edge build). The log2 bin is length(bin(d)) — an integer STRING
    // op, no libm log(); bins carry their theoretical [lo, hi] bounds
    // via shiftleft.
    Q("q_degree_dist",
      (s, dir) => {
        val und = coEdges(s, dir)
        val deg = und.select(col("u").as("n")).unionByName(und.select(col("v").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("d"))
        deg.groupBy(length(bin(col("d"))).cast("long").as("bin_bits"))
          .agg(count(lit(1)).as("n_nodes"))
          .withColumn("lo_deg", expr("CAST(shiftleft(1L, CAST(bin_bits AS INT) - 1) AS BIGINT)"))
          .withColumn("hi_deg", expr("CAST(shiftleft(1L, CAST(bin_bits AS INT)) - 1 AS BIGINT)"))
          .select(col("bin_bits"), col("lo_deg"), col("hi_deg"), col("n_nodes"))
          .orderBy("bin_bits")
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |und AS (SELECT DISTINCT a.p AS u, b.p AS v
             |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
             |deg AS (SELECT n, count(*) AS d
             |        FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
             |        GROUP BY n)
             |SELECT CAST(length(bin(d)) AS BIGINT) AS bin_bits,
             |       CAST(1 << (length(bin(d)) - 1) AS BIGINT) AS lo_deg,
             |       CAST((1 << length(bin(d))) - 1 AS BIGINT) AS hi_deg,
             |       count(*) AS n_nodes
             |FROM deg GROUP BY 1, 2, 3 ORDER BY bin_bits""".stripMargin)),

    // Time-to-convert distribution: exact p50/p90/p99 of each user's
    // first-signup → first-strictly-later-purchase delay (q_funnel
    // measures IF users convert; this measures HOW FAST). Reuses the
    // 2-pass exact global selection (hour-bucket histogram → driver
    // prefix-sum → target-bin-only rescan) — no global sort, no
    // single-partition window, nearest-rank so every answer is an
    // OBSERVED delay.
    Q("q_funnel_time",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val s0 = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t0"))
        val delays = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("tp"))
          .join(s0, Seq("user_id"))
          .filter(col("tp") > col("t0"))
          .groupBy(col("user_id")).agg(min(col("tp") - col("t0")).as("delay_us"))
        Stats.exactQuantilesSelect(delays, "delay_us", Seq(50, 90, 99),
          binWidth = 3600000000L)
      },
      Some("""WITH s0 AS (SELECT user_id, min(epoch_us(ts)) AS t0
             |            FROM events WHERE event_type = 'signup' GROUP BY 1),
             |d AS (SELECT e.user_id, min(epoch_us(e.ts) - s0.t0) AS delay_us
             |      FROM events e JOIN s0 USING (user_id)
             |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s0.t0
             |      GROUP BY 1),
             |r AS (SELECT delay_us, row_number() OVER (ORDER BY delay_us) AS rn,
             |             count(*) OVER () AS n
             |      FROM d)
             |SELECT CAST(p AS BIGINT) AS pct, CAST(n AS BIGINT) AS n, delay_us
             |FROM (SELECT unnest([50, 90, 99]) AS p) ps
             |JOIN r ON rn = (n * p + 99) // 100
             |ORDER BY pct""".stripMargin)),

    // l-diversity audit — the homogeneity complement of q_k_anon: a
    // quasi-identifier group can be LARGE yet reveal its sensitive
    // attribute if every member shares one value. One map-side-combined
    // aggregation carrying size and distinct-sensitive together; the
    // verdict table is O(quasi-groups).
    Q("q_l_diversity",
      (s, dir) => Tables.customer(s, dir)
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_members"),
          count_distinct(floor(col("c_acctbal") / 1000).cast("long")).as("l_div"))
        .withColumn("pass", col("l_div") >= 3)
        .orderBy("nation", "segment"),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation,
             |       c_mktsegment AS segment, count(*) AS n_members,
             |       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
             |            AS BIGINT) AS l_div,
             |       count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 3 AS pass
             |FROM customer GROUP BY 1, 2
             |ORDER BY nation, segment""".stripMargin)),

    // Exact rolling LOWER-median of event values over the trailing hour
    // per user — the robust twin of q_rolling_window's rolling sum.
    // Lower median = sorted value at rank ceil(n/2): always an observed
    // value, integer-exact, no interpolation tie to float averaging.
    Q("q_rolling_median",
      (s, dir) => TimeSeries.rollingMedian(
          Tables.events(s, dir).withColumn("v",
            floor(col("value") * 1000).cast("long")),
          col("user_id"), unix_micros(col("ts")), col("event_id"), col("v"),
          windowUs = 3600000000L)
        .select(col("id").as("event_id"), col("e").as("user_id"),
          col("ts_us"), col("n_win"), col("med"))
        .orderBy("event_id"),
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |                  CAST(floor(value * 1000) AS BIGINT) AS v
             |           FROM events),
             |w AS (SELECT event_id, user_id, ts_us, len(l) AS n, list_sort(l) AS sl
             |      FROM (SELECT event_id, user_id, ts_us,
             |              list(v) OVER (PARTITION BY user_id ORDER BY ts_us
             |                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS l
             |            FROM e))
             |SELECT event_id, user_id, ts_us, CAST(n AS BIGINT) AS n_win,
             |       sl[CAST((n + 1) // 2 AS INT)] AS med
             |FROM w ORDER BY event_id""".stripMargin)),

    // A/B-experiment readout: users split into variants by id parity;
    // per event_type, the pooled two-sample t² on per-user value
    // totals (users with no events of a type count as 0 via the dense
    // user×type grid). All divisions cleared — t2_ppm is ONE
    // DECIMAL(38,0) floor-division; direction ships as a sign column.
    Q("q_abtest",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val totals = ev.groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("x"))
        Stats.abTestT2(full, col("event_type"), col("user_id"), col("x"))
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) AS x
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type, g.user_id, coalesce(t.x, 0) AS xt,
             |             CASE WHEN g.user_id % 2 = 0 THEN 1 ELSE 0 END AS v
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |m AS (SELECT event_type, sum(v) AS n0, sum(1 - v) AS n1,
             |             sum(xt * v) AS s0, sum(xt * (1 - v)) AS s1,
             |             sum(CAST(xt AS HUGEINT) * xt * v) AS q0,
             |             sum(CAST(xt AS HUGEINT) * xt * (1 - v)) AS q1
             |      FROM p GROUP BY 1),
             |f AS (SELECT event_type, n0, n1, s0, s1,
             |             CAST(s0 AS HUGEINT) * n1 - CAST(s1 AS HUGEINT) * n0 AS num,
             |             n1 * (n0 * q0 - CAST(s0 AS HUGEINT) * s0) +
             |             n0 * (n1 * q1 - CAST(s1 AS HUGEINT) * s1) AS ss
             |      FROM m)
             |SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
             |       CAST(s0 AS BIGINT) AS s0, CAST(s1 AS BIGINT) AS s1,
             |       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
             |            AS BIGINT) AS mean_diff_sign,
             |       CAST(CASE WHEN n0 + n1 > 2 AND ss > 0
             |            THEN (num * num * (n0 + n1 - 2) * 1000000) // (ss * (n0 + n1))
             |            END AS BIGINT) AS t2_ppm
             |FROM f ORDER BY event_type""".stripMargin)),

    // Sample-ratio mismatch guardrail — the check every experiment
    // readout must pass BEFORE its p-value means anything: with a 50/50
    // assignment, the per-type variant counts n0/n1 should differ only
    // by chance; χ²(1df) = (n0−n1)²/(n0+n1) ≥ 3.84 flags a broken
    // randomizer/logging path. Exact integer ppm; one distinct-user agg
    // per type is the only data-sized pass.
    Q("q_ab_srm",
      (s, dir) => {
        Tables.events(s, dir)
          .select(col("event_type"), col("user_id")).distinct()
          .groupBy(col("event_type"))
          .agg(sum((col("user_id") % 2 === 0).cast("long")).as("n0"),
            sum((col("user_id") % 2 =!= 0).cast("long")).as("n1"))
          // (n0−n1)²·10⁶ wraps BIGINT past a ~3e6 arm imbalance — widen
          // (round-10 self-audit, the runsTest class)
          .withColumn("srm_chi2_ppm", expr(
            "CAST((CAST(n0 AS DECIMAL(38,0)) - n1) * (CAST(n0 AS DECIMAL(38,0)) - n1) * 1000000 DIV (n0 + n1) AS BIGINT)"))
          .orderBy("event_type")
      },
      Some("""WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
             |m AS (SELECT event_type,
             |             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             |             CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1
             |      FROM u GROUP BY 1)
             |SELECT event_type, n0, n1,
             |       CAST((n0 - n1) * (n0 - n1) * 1000000 // (n0 + n1) AS BIGINT) AS srm_chi2_ppm
             |FROM m ORDER BY event_type""".stripMargin)),

    // Inter-arrival gap distribution per stream — the capacity-planning
    // census: exact nearest-rank p50/p90/p99 of consecutive same-user
    // gaps per event_type. The 5-key group cardinality makes a
    // per-group rank window a 5-task funnel at scale, so this uses the
    // GROUPED 2-pass selection (one (type, hour-bin) histogram →
    // driver prefix-sums → target-bin-only rescan on fine-grained
    // (type, bin) keys).
    Q("q_gap_percentiles",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("tus"), col("event_id"))
        val gaps = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("tus"))
          .withColumn("gap_us", col("tus") - lag(col("tus"), 1).over(w))
          .filter(col("gap_us").isNotNull)
        Stats.groupedExactQuantiles(gaps, col("event_type"), "gap_us",
            Seq(50, 90, 99), binWidth = 3600000000L)
          .groupBy(col("g").as("event_type"))
          .agg(max(col("n")).as("n_gaps"),
            max(when(col("pct") === 50, col("gap_us"))).as("p50_gap_us"),
            max(when(col("pct") === 90, col("gap_us"))).as("p90_gap_us"),
            max(when(col("pct") === 99, col("gap_us"))).as("p99_gap_us"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
             |           FROM events),
             |g AS (SELECT event_type, event_id,
             |             tus - lag(tus) OVER (PARTITION BY user_id, event_type
             |                                  ORDER BY tus, event_id) AS gap_us
             |      FROM e),
             |r AS (SELECT event_type, gap_us,
             |             row_number() OVER (PARTITION BY event_type
             |                                ORDER BY gap_us, event_id) AS rn,
             |             count(*) OVER (PARTITION BY event_type) AS n
             |      FROM g WHERE gap_us IS NOT NULL)
             |SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
             |       max(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT) THEN gap_us END) AS p50_gap_us,
             |       max(CASE WHEN rn = CAST(ceil(n * 0.90) AS BIGINT) THEN gap_us END) AS p90_gap_us,
             |       max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN gap_us END) AS p99_gap_us
             |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Mann-Whitney U rank-sum test — q_abtest's NONPARAMETRIC
    // companion on the same dense user×type metric grid (one whale
    // user moves a mean; ranks shrug). Tie-averaged doubled ranks,
    // tie-corrected variance, every division cleared: z2_ppm is one
    // DECIMAL(38,0) floor-division; direction ships as a sign.
    Q("q_mann_whitney",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val totals = ev.groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("x"))
        Stats.mannWhitneyU(full, col("event_type"), col("user_id"), col("x"))
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) AS x
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type AS g, g.user_id AS e, coalesce(t.x, 0) AS xt,
             |             CASE WHEN g.user_id % 2 = 0 THEN 1 ELSE 0 END AS v0
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |r AS (SELECT g, e, xt, v0,
             |             rank() OVER (PARTITION BY g ORDER BY xt) AS rk,
             |             count(*) OVER (PARTITION BY g, xt) AS eq
             |      FROM p),
             |tie AS (SELECT g, xt, CAST(max(eq) AS HUGEINT) AS tc
             |        FROM r GROUP BY 1, 2),
             |ts AS (SELECT g, sum(tc*tc*tc - tc) AS tsum FROM tie GROUP BY 1),
             |m AS (SELECT g, count(*) AS nn, sum(v0) AS n0, sum(1 - v0) AS n1,
             |             sum((2*rk + eq - 1) * v0) AS rsum0
             |      FROM r GROUP BY 1),
             |f AS (SELECT m.g, m.nn, m.n0, m.n1,
             |             m.rsum0 - m.n0 * (m.n0 + 1) AS u2,
             |             CAST(m.rsum0 - m.n0 * (m.n0 + 1) AS HUGEINT)
             |               - CAST(m.n0 AS HUGEINT) * m.n1 AS num,
             |             CAST(m.n0 AS HUGEINT) * m.n1 *
             |               (CAST(m.nn AS HUGEINT) * (m.nn - 1) * (m.nn + 1) - ts.tsum) AS den
             |      FROM m JOIN ts USING (g))
             |SELECT g AS event_type, CAST(n0 AS BIGINT) AS n0,
             |       CAST(n1 AS BIGINT) AS n1, CAST(u2 AS BIGINT) AS u2,
             |       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
             |            AS BIGINT) AS dir_sign,
             |       CAST(CASE WHEN den > 0
             |            THEN (3 * num * num * nn * (nn - 1) * 1000000) // den
             |            END AS BIGINT) AS z2_ppm
             |FROM f ORDER BY event_type""".stripMargin)),

    // Schema-wide referential-integrity audit (the dbt "relationship
    // test", both directions): per FK relationship, orphan child rows
    // AND unreferenced parent keys. Key columns only ever move; dims
    // broadcast; the verdict table is 4 rows.
    Q("q_fk_audit",
      (s, dir) => {
        import graft.operators.Expectations
        val li = Tables.lineitem(s, dir)
        Seq(
          Expectations.fkAudit("lineitem.l_orderkey->orders",
            li, col("l_orderkey"), Tables.orders(s, dir), col("o_orderkey")),
          Expectations.fkAudit("lineitem.l_partkey->part",
            li, col("l_partkey"), Tables.part(s, dir), col("p_partkey")),
          Expectations.fkAudit("orders.o_custkey->customer",
            Tables.orders(s, dir), col("o_custkey"),
            Tables.customer(s, dir), col("c_custkey")),
          Expectations.fkAudit("customer.c_nationkey->nation",
            Tables.customer(s, dir), col("c_nationkey"),
            Tables.nation(s, dir), col("n_nationkey")))
          .reduce(_.unionByName(_)).orderBy("rel")
      },
      Some("""WITH rels AS (
             |  SELECT 'lineitem.l_orderkey->orders' AS rel,
             |         (SELECT count(*) FROM lineitem) AS n_child,
             |         (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null_fk,
             |         (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
             |            AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans,
             |         (SELECT count(*) FROM orders) AS n_parents,
             |         (SELECT count(*) FROM orders WHERE o_orderkey NOT IN
             |            (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL)) AS n_unreferenced
             |  UNION ALL
             |  SELECT 'lineitem.l_partkey->part',
             |         (SELECT count(*) FROM lineitem),
             |         (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL),
             |         (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL
             |            AND l_partkey NOT IN (SELECT p_partkey FROM part)),
             |         (SELECT count(*) FROM part),
             |         (SELECT count(*) FROM part WHERE p_partkey NOT IN
             |            (SELECT l_partkey FROM lineitem WHERE l_partkey IS NOT NULL))
             |  UNION ALL
             |  SELECT 'orders.o_custkey->customer',
             |         (SELECT count(*) FROM orders),
             |         (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
             |         (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
             |            AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
             |         (SELECT count(*) FROM customer),
             |         (SELECT count(*) FROM customer WHERE c_custkey NOT IN
             |            (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL))
             |  UNION ALL
             |  SELECT 'customer.c_nationkey->nation',
             |         (SELECT count(*) FROM customer),
             |         (SELECT count(*) FROM customer WHERE c_nationkey IS NULL),
             |         (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL
             |            AND c_nationkey NOT IN (SELECT n_nationkey FROM nation)),
             |         (SELECT count(*) FROM nation),
             |         (SELECT count(*) FROM nation WHERE n_nationkey NOT IN
             |            (SELECT c_nationkey FROM customer WHERE c_nationkey IS NOT NULL)))
             |SELECT rel, CAST(n_child AS BIGINT) AS n_child,
             |       CAST(n_null_fk AS BIGINT) AS n_null_fk,
             |       CAST(n_orphans AS BIGINT) AS n_orphans,
             |       CAST(CASE WHEN n_child > 0 THEN n_orphans * 1000000 // n_child
             |            ELSE 0 END AS BIGINT) AS orphan_ppm,
             |       CAST(n_parents AS BIGINT) AS n_parents,
             |       CAST(n_unreferenced AS BIGINT) AS n_unreferenced
             |FROM rels ORDER BY rel""".stripMargin)),

    // Spearman rank correlation — the monotone-association statistic
    // over the same dense user×type metric grid as q_abtest /
    // q_mann_whitney (x = activity count, y = spend total): does more
    // activity go with more spend, robustly to whales? Tie-averaged
    // DOUBLED ranks keep everything integer; rho² ships as two floored
    // divisions (10⁶·num² would overflow DECIMAL(38,0)/HUGEINT), the
    // identical arithmetic on both engines.
    Q("q_spearman",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val totals = ev.groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("nx"),
            sum(floor(col("value") * 1000).cast("long")).as("xs"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("nx", "xs"))
        Stats.spearmanRho(full, col("event_type"), col("nx"), col("xs"))
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id, count(*) AS nx,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) AS xs
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type AS g, coalesce(t.nx, 0) AS x, coalesce(t.xs, 0) AS y
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |r AS (SELECT g,
             |             2*rank() OVER (PARTITION BY g ORDER BY x) + count(*) OVER (PARTITION BY g, x) - 1 AS rx,
             |             2*rank() OVER (PARTITION BY g ORDER BY y) + count(*) OVER (PARTITION BY g, y) - 1 AS ry
             |      FROM p),
             |m AS (SELECT g, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
             |             sum(CAST(rx AS HUGEINT) * rx) AS sxx,
             |             sum(CAST(ry AS HUGEINT) * ry) AS syy,
             |             sum(CAST(rx AS HUGEINT) * ry) AS sxy
             |      FROM r GROUP BY 1),
             |f AS (SELECT g, n,
             |             n * sxy - CAST(sx AS HUGEINT) * sy AS num,
             |             n * sxx - CAST(sx AS HUGEINT) * sx AS dx,
             |             n * syy - CAST(sy AS HUGEINT) * sy AS dy
             |      FROM m)
             |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
             |       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT) AS dir_sign,
             |       CAST(CASE WHEN dx > 0 AND dy > 0
             |            THEN ((num * num // dx) * 1000000) // dy END AS BIGINT) AS rho2_ppm
             |FROM f ORDER BY event_type""".stripMargin)),

    // Poisson-bootstrap CI for per-type mean spend — THE distributed
    // bootstrap (each entity's multiplicity in a resample is a local
    // hash-seeded Poisson(1) weight; no identity ever shuffles for the
    // resampling itself). B = 32 resamples, md5-seeded uniform ppm →
    // literal inverse-CDF ladder, exact nearest-rank p5/p95 of the
    // resample means. Every number integer; the oracle replays the
    // identical trail.
    Q("q_bootstrap_ci",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val totals = ev.groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
        Stats.bootstrapCiMean(totals, col("event_type"), col("user_id"),
            col("x"), b = 32)
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type AS g, user_id AS e,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) AS x
             |           FROM events GROUP BY 1, 2),
             |d AS (SELECT g, e, x, b,
             |             CAST(('0x' || substr(md5(e || '|' || b), 1, 12)) AS BIGINT) % 1000000 AS u
             |      FROM t CROSS JOIN (SELECT unnest(range(0, 32)) AS b)),
             |w AS (SELECT g, b, x,
             |             CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
             |                  WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
             |                  WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
             |                  WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7
             |                  WHEN u < 999998 THEN 8 WHEN u < 999999 THEN 9
             |                  ELSE 10 END AS wt
             |      FROM d),
             |m AS (SELECT g, b, sum(wt * x) // sum(wt) AS mm
             |      FROM w GROUP BY 1, 2 HAVING sum(wt) > 0),
             |r AS (SELECT g, b, mm, row_number() OVER (PARTITION BY g ORDER BY mm, b) AS rn,
             |             count(*) OVER (PARTITION BY g) AS beff FROM m),
             |sel AS (SELECT g, max(beff) AS b_eff,
             |               max(CASE WHEN rn = (beff * 5 + 99) // 100 THEN mm END) AS lo,
             |               max(CASE WHEN rn = (beff * 95 + 99) // 100 THEN mm END) AS hi
             |        FROM r GROUP BY 1),
             |base AS (SELECT g, count(*) AS n, sum(x) // count(*) AS mean_x FROM t GROUP BY 1)
             |SELECT base.g AS event_type, CAST(n AS BIGINT) AS n,
             |       CAST(mean_x AS BIGINT) AS mean_x, CAST(b_eff AS BIGINT) AS b_eff,
             |       CAST(lo AS BIGINT) AS lo_x, CAST(hi AS BIGINT) AS hi_x
             |FROM base JOIN sel USING (g) ORDER BY event_type""".stripMargin)),

    // Kaplan-Meier survival per event stream — censoring-correct user
    // lifetime (duration = days between a user's first and last event
    // of the type; still-active-in-the-final-3-days = censored, their
    // lifetime only discounts the at-risk set). Integer ppm fold over
    // ordered death days (the EWMA rounded-recurrence shape); the
    // oracle replays it with a recursive CTE.
    Q("q_survival_km",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          col("user_id"), unix_micros(col("ts")).as("tus"))
        val cut = ev.agg((max(col("tus")) - lit(3L * 86400000000L)).as("_cut"))
        val per = ev.groupBy(col("event_type"), col("user_id"))
          .agg(min(col("tus")).as("_first"), max(col("tus")).as("_last"))
          .crossJoin(broadcast(cut))
          .select(col("event_type"),
            expr("(_last - _first) DIV 86400000000").as("dur_day"),
            (col("_last") <= col("_cut")).cast("long").as("observed"))
        Stats.kaplanMeier(per, col("event_type"), col("dur_day"), col("observed"))
          .withColumnRenamed("g", "event_type").orderBy("event_type", "t")
      },
      Some("""WITH RECURSIVE ev AS (SELECT event_type, user_id, epoch_us(ts) AS tus FROM events),
             |cut AS (SELECT max(tus) - 3*86400000000 AS c FROM ev),
             |per AS (SELECT event_type AS g, user_id,
             |               (max(tus) - min(tus)) // 86400000000 AS t,
             |               CASE WHEN max(tus) <= (SELECT c FROM cut) THEN 1 ELSE 0 END AS d
             |        FROM ev GROUP BY 1, 2),
             |cen AS (SELECT g, t, CAST(sum(d) AS BIGINT) AS dd, count(*) AS cc FROM per GROUP BY 1, 2),
             |risk AS (SELECT g, t, dd,
             |                CAST(sum(cc) OVER (PARTITION BY g ORDER BY t
             |                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS nr
             |         FROM cen),
             |st AS (SELECT g, t, dd, nr, row_number() OVER (PARTITION BY g ORDER BY t) AS i
             |       FROM risk WHERE dd > 0),
             |f AS (SELECT g, CAST(0 AS BIGINT) AS i, CAST(1000000 AS BIGINT) AS s
             |      FROM (SELECT DISTINCT g FROM st)
             |      UNION ALL
             |      SELECT st.g, st.i, CAST((f.s * (st.nr - st.dd)) // st.nr AS BIGINT)
             |      FROM f JOIN st ON st.g = f.g AND st.i = f.i + 1)
             |SELECT st.g AS event_type, st.t, st.nr AS n_risk, st.dd AS n_death,
             |       f.s AS s_ppm
             |FROM st JOIN f ON f.g = st.g AND f.i = st.i
             |ORDER BY event_type, t""".stripMargin)),

    // Position-based multi-touch attribution — the marketing-analytics
    // credit assignment: each purchase credits the touches (non-purchase
    // events) since the user's previous purchase, 40%/40% to first/last
    // touch and 20% split across middles, in exact basis points
    // (division remainder to the last touch, so every attributed
    // conversion's credit sums to exactly 10000 bp); purchases with no
    // preceding touch surface as '(direct)'. One user-keyed window pass
    // + one (user, conversion) window — both reuse the same hash
    // partitioning; the verdict frame is |channels| rows.
    Q("q_attribution",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"),
          col("event_type"), unix_micros(col("ts")).as("tus"))
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val marked = ev
          .withColumn("_ic", (col("event_type") === "purchase").cast("long"))
          .withColumn("_cb", sum(col("_ic")).over(wOrd) - col("_ic"))
          .withColumn("_cs", col("_cb") + 1)
        val touches = marked.filter(col("_ic") === 0L)
        val convs = marked.filter(col("_ic") === 1L)
          .select(col("user_id"), col("_cs"))
        val wTouch = Window.partitionBy(col("user_id"), col("_cs"))
          .orderBy(col("tus"), col("event_id"))
        val wGrp = Window.partitionBy(col("user_id"), col("_cs"))
        val attributed = touches.join(convs, Seq("user_id", "_cs"))
          .withColumn("_pos", row_number().over(wTouch))
          .withColumn("_k", count(lit(1)).over(wGrp))
          .withColumn("credit_bp",
            when(col("_k") === 1, 10000L)
              .when(col("_k") === 2, 5000L)
              .when(col("_pos") === 1, 4000L)
              .when(col("_pos") === col("_k"), lit(4000L) + lit(2000L) % (col("_k") - 2))
              .otherwise(expr("2000 DIV (_k - 2)")))
        val direct = convs
          .join(attributed.select(col("user_id"), col("_cs")).distinct(),
            Seq("user_id", "_cs"), "left_anti")
          .agg(count(lit(1)).as("n_touches"))
          .select(lit("(direct)").as("channel"), col("n_touches"),
            (col("n_touches") * 10000L).as("credit_bp"))
        attributed.groupBy(col("event_type").as("channel"))
          .agg(count(lit(1)).as("n_touches"), sum(col("credit_bp")).as("credit_bp"))
          .unionByName(direct)
          .orderBy("channel")
      },
      Some("""WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
             |m AS (SELECT *, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ic FROM ev),
             |c AS (SELECT *, sum(ic) OVER (PARTITION BY user_id ORDER BY tus, event_id
             |                              ROWS UNBOUNDED PRECEDING) - ic + 1 AS cs FROM m),
             |tch AS (SELECT user_id, event_id, event_type, tus, cs FROM c WHERE ic = 0),
             |cv AS (SELECT user_id, cs FROM c WHERE ic = 1),
             |a AS (SELECT tch.* FROM tch JOIN cv USING (user_id, cs)),
             |p AS (SELECT *, row_number() OVER (PARTITION BY user_id, cs ORDER BY tus, event_id) AS pos,
             |             count(*) OVER (PARTITION BY user_id, cs) AS k FROM a),
             |cr AS (SELECT event_type AS channel,
             |              CASE WHEN k = 1 THEN 10000
             |                   WHEN k = 2 THEN 5000
             |                   WHEN pos = 1 THEN 4000
             |                   WHEN pos = k THEN 4000 + 2000 % (k - 2)
             |                   ELSE 2000 // (k - 2) END AS bp
             |       FROM p),
             |d AS (SELECT count(*) AS nd FROM cv LEFT JOIN (SELECT DISTINCT user_id, cs FROM a) a2
             |      USING (user_id, cs) WHERE a2.user_id IS NULL)
             |SELECT channel, count(*) AS n_touches, CAST(sum(bp) AS BIGINT) AS credit_bp
             |FROM cr GROUP BY 1
             |UNION ALL SELECT '(direct)', CAST(nd AS BIGINT), CAST(nd * 10000 AS BIGINT) FROM d
             |ORDER BY channel""".stripMargin)),

    // RFM segmentation — the classic customer-value census: per-user
    // Recency/Frequency/Monetary quartile codes (1..4 each, segment =
    // r·100 + f·10 + m) with the quartile THRESHOLDS found by the
    // 2-pass exact selection (one domain-bounded histogram + target-bin
    // rescan per dimension) and broadcast — never an unpartitioned
    // ntile window funneling every user through one task. Exact
    // nearest-rank boundaries reproduce in the oracle's rank windows.
    Q("q_rfm_segments",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("tus"),
          floor(col("value") * 1000).cast("long").as("v_mils"))
        val cut = ev.agg(max(col("tus")).as("_maxt"))
        val users = ev.groupBy(col("user_id"))
          .agg(max(col("tus")).as("_lastt"), count(lit(1)).as("freq"),
            sum(col("v_mils")).as("mon_mils"))
          .crossJoin(broadcast(cut))
          .select(col("user_id"),
            expr("(_maxt - _lastt) DIV 86400000000").as("rec_days"),
            col("freq"), col("mon_mils"))
        def thresholds(c: String, binWidth: Long) =
          Stats.exactQuantilesSelect(users, c, Seq(25, 50, 75), binWidth)
            .agg(max(when(col("pct") === 25, col(c))).as(s"_p25_$c"),
              max(when(col("pct") === 50, col(c))).as(s"_p50_$c"),
              max(when(col("pct") === 75, col(c))).as(s"_p75_$c"))
        val withT = users
          .crossJoin(broadcast(thresholds("rec_days", 1L)))
          .crossJoin(broadcast(thresholds("freq", 1L)))
          .crossJoin(broadcast(thresholds("mon_mils", 16384L)))
        def qc(c: String) =
          when(col(c) <= col(s"_p25_$c"), 1L)
            .when(col(c) <= col(s"_p50_$c"), 2L)
            .when(col(c) <= col(s"_p75_$c"), 3L).otherwise(4L)
        withT
          .withColumn("segment",
            qc("rec_days") * 100 + qc("freq") * 10 + qc("mon_mils"))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_users"), sum(col("mon_mils")).as("mon_mils"))
          .orderBy("segment")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus,
             |                   CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
             |u AS (SELECT user_id,
             |        ((SELECT max(tus) FROM ev) - max(tus)) // 86400000000 AS rec_days,
             |        count(*) AS freq, CAST(sum(v) AS BIGINT) AS mon_mils
             |      FROM ev GROUP BY 1),
             |tr AS (SELECT max(CASE WHEN rr = (n * 25 + 99) // 100 THEN rec_days END) AS r25,
             |              max(CASE WHEN rr = (n * 50 + 99) // 100 THEN rec_days END) AS r50,
             |              max(CASE WHEN rr = (n * 75 + 99) // 100 THEN rec_days END) AS r75
             |       FROM (SELECT rec_days, row_number() OVER (ORDER BY rec_days) AS rr,
             |                    count(*) OVER () AS n FROM u)),
             |tf AS (SELECT max(CASE WHEN rr = (n * 25 + 99) // 100 THEN freq END) AS f25,
             |              max(CASE WHEN rr = (n * 50 + 99) // 100 THEN freq END) AS f50,
             |              max(CASE WHEN rr = (n * 75 + 99) // 100 THEN freq END) AS f75
             |       FROM (SELECT freq, row_number() OVER (ORDER BY freq) AS rr,
             |                    count(*) OVER () AS n FROM u)),
             |tm AS (SELECT max(CASE WHEN rr = (n * 25 + 99) // 100 THEN mon_mils END) AS m25,
             |              max(CASE WHEN rr = (n * 50 + 99) // 100 THEN mon_mils END) AS m50,
             |              max(CASE WHEN rr = (n * 75 + 99) // 100 THEN mon_mils END) AS m75
             |       FROM (SELECT mon_mils, row_number() OVER (ORDER BY mon_mils) AS rr,
             |                    count(*) OVER () AS n FROM u)),
             |seg AS (SELECT
             |    (CASE WHEN rec_days <= r25 THEN 1 WHEN rec_days <= r50 THEN 2
             |          WHEN rec_days <= r75 THEN 3 ELSE 4 END) * 100 +
             |    (CASE WHEN freq <= f25 THEN 1 WHEN freq <= f50 THEN 2
             |          WHEN freq <= f75 THEN 3 ELSE 4 END) * 10 +
             |    (CASE WHEN mon_mils <= m25 THEN 1 WHEN mon_mils <= m50 THEN 2
             |          WHEN mon_mils <= m75 THEN 3 ELSE 4 END) AS segment,
             |    mon_mils
             |  FROM u, tr, tf, tm)
             |SELECT CAST(segment AS BIGINT) AS segment, count(*) AS n_users,
             |       CAST(sum(mon_mils) AS BIGINT) AS mon_mils
             |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Join-key skew audit — the pre-flight census a 100 TB join plan
    // needs BEFORE choosing salted/broadcast/AQE strategies: per-key
    // cardinality of the fact join key, top-10 heavy keys with their
    // corpus share and x-mean skew factor. One map-side-combined count
    // agg + TakeOrderedAndProject — deliberately NO unpartitioned rank
    // window (the exact anti-pattern this audit exists to prevent).
    Q("q_skew_audit",
      (s, dir) => {
        val cnts = Tables.events(s, dir)
          .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        val tot = cnts.agg(count(lit(1)).as("_nk"), sum(col("cnt")).as("_tot"))
        cnts.crossJoin(broadcast(tot))
          .select(col("user_id"), col("cnt"),
            expr("cnt * 1000000 DIV _tot").as("share_ppm"),
            expr("cnt * _nk * 1000000 DIV _tot").as("skew_x_mean_ppm"))
          .orderBy(col("cnt").desc, col("user_id"))
          .limit(10)
      },
      Some("""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
             |t AS (SELECT count(*) AS nk, CAST(sum(cnt) AS BIGINT) AS tot FROM c)
             |SELECT user_id, cnt,
             |       CAST(cnt * 1000000 // tot AS BIGINT) AS share_ppm,
             |       CAST(cnt * nk * 1000000 // tot AS BIGINT) AS skew_x_mean_ppm
             |FROM c, t ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin)),

    // Length-2 sequential-pattern support (PrefixSpan level 1): for
    // every ordered (a, b) event-type pair, the fraction of users with
    // some a STRICTLY before some b. Never materializes sequences — one
    // (user, type) min/max-ts agg replaces the ordered scan; the pair
    // join fans ≤ |types|² rows per user; ties excluded by the strict
    // inequality exactly as "precedes" demands.
    Q("q_seq_pairs",
      (s, dir) => Stats.seqPairSupport(
          Tables.events(s, dir),
          col("user_id"), col("event_type"), unix_micros(col("ts")))
        .orderBy("type_a", "type_b"),
      Some("""WITH sp AS (SELECT user_id, event_type AS t,
             |                   min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
             |            FROM events GROUP BY 1, 2),
             |n AS (SELECT count(DISTINCT user_id) AS n FROM sp),
             |p AS (SELECT a.t AS type_a, b.t AS type_b,
             |             sum(CASE WHEN a.lo < b.hi THEN 1 ELSE 0 END) AS n_entities
             |      FROM sp a JOIN sp b USING (user_id) GROUP BY 1, 2)
             |SELECT type_a, type_b, CAST(n_entities AS BIGINT) AS n_entities,
             |       CAST(n_entities * 1000000 // n.n AS BIGINT) AS support_ppm
             |FROM p, n ORDER BY type_a, type_b""".stripMargin)),

    // Getis-Ord-class hotspot census: top-15 grid cells whose 3×3
    // neighborhood carries the most points relative to uniform spread.
    // One map-side (cx,cy) count agg is the only data-sized pass; the
    // ×9 neighbor explode + re-agg runs on the CELL frame; the score is
    // a sign-split integer floor-division (no mean/stddev floats).
    Q("q_hotspot",
      (s, dir) => Spatial.hotspotCells(
          eventPoints(s, dir).filter(col("event_type") === "error"),
          cell = 50, topK = 15),
      Some("""WITH p AS (SELECT ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x,
             |                  ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
             |           FROM events WHERE event_type = 'error'),
             |cells AS (SELECT x // 50 AS cx, y // 50 AS cy, count(*) AS n
             |          FROM p GROUP BY 1, 2),
             |t AS (SELECT sum(n) AS tt FROM cells),
             |off AS (SELECT a.dx, b.dy
             |        FROM (SELECT unnest([-1, 0, 1]) AS dx) a,
             |             (SELECT unnest([-1, 0, 1]) AS dy) b),
             |nbr AS (SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, sum(c.n) AS nbr
             |        FROM cells c, off o
             |        WHERE c.cx + o.dx BETWEEN 0 AND 19
             |          AND c.cy + o.dy BETWEEN 0 AND 19
             |        GROUP BY 1, 2),
             |sc AS (SELECT nbr.cx, nbr.cy, coalesce(c.n, 0) AS n, nbr.nbr,
             |              (least(nbr.cx + 1, 19) - greatest(nbr.cx - 1, 0) + 1) *
             |              (least(nbr.cy + 1, 19) - greatest(nbr.cy - 1, 0) + 1) AS w,
             |              nbr.nbr * 400 - (least(nbr.cx + 1, 19) - greatest(nbr.cx - 1, 0) + 1) *
             |                              (least(nbr.cy + 1, 19) - greatest(nbr.cy - 1, 0) + 1) * t.tt AS num
             |       FROM nbr LEFT JOIN cells c USING (cx, cy), t)
             |SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
             |       CAST(n AS BIGINT) AS n, CAST(nbr AS BIGINT) AS nbr,
             |       CAST(w AS BIGINT) AS w,
             |       CAST(CASE WHEN num < 0 THEN -(abs(num) * 1000000 // (w * (SELECT tt FROM t)))
             |                 WHEN num > 0 THEN abs(num) * 1000000 // (w * (SELECT tt FROM t))
             |                 ELSE 0 END AS BIGINT) AS excess_ppm
             |FROM sc ORDER BY excess_ppm DESC, cx, cy LIMIT 15""".stripMargin)),

    // 2-D proximity self-join, the spatial analog of q_range_join_binned:
    // d×d cell binning + 3×3 neighbor explode + hash equi-join + exact
    // residual — candidates are 9·n·occupancy, never n². The oracle is
    // the plain quadratic predicate join (DuckDB's IEJoin carries it).
    Q("q_spatial_join",
      (s, dir) => Spatial.proximityJoin(
          eventPoints(s, dir).filter(col("event_type") === "click"),
          "event_id", d = 10)
        .orderBy("id_a", "id_b"),
      Some("""WITH p AS (SELECT event_id, ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x, ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
             |          FROM events WHERE event_type = 'click')
             |SELECT a.event_id AS id_a, b.event_id AS id_b,
             |       CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist2
             |FROM p a JOIN p b
             |  ON a.event_id < b.event_id
             | AND b.x BETWEEN a.x - 10 AND a.x + 10
             | AND b.y BETWEEN a.y - 10 AND a.y + 10
             |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 100
             |ORDER BY id_a, id_b""".stripMargin)),

    // Offline policy evaluation (IPS) — the counterfactual question a
    // logged dataset can answer BEFORE an online test: "had we always
    // shown the historically-best event type, what conversion would we
    // have seen?" Greedy target policy fit on the first half of the
    // month (argmax conversion rate, ties to the lexicographically
    // first type); evaluated on the second half two ways — the direct
    // method (realized conversion of the chosen arm) and the
    // inverse-propensity estimate 5·Σ_{a=π} r / n (the logged arm is
    // modeled uniform over the 5 types, so 1/p = 5). Exact ppm; the
    // fitted policy is a 1-row TakeOrdered broadcast; two conditional
    // aggregates are the only data-sized passes.
    Q("q_ips_eval",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          (col("value") > 250.0).cast("long").as("r"),
          dayofmonth(col("ts")).as("d"))
        val best = ev.filter(col("d") <= 15)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("_n"), sum(col("r")).as("_c"))
          .withColumn("_rate_ppm", expr("_c * 1000000 DIV _n"))
          .orderBy(col("_rate_ppm").desc, col("event_type"))
          .limit(1)
          .select(col("event_type").as("best_type"),
            col("_rate_ppm").as("train_rate_ppm"))
        ev.filter(col("d") > 15).crossJoin(broadcast(best))
          .agg(max(col("best_type")).as("best_type"),
            max(col("train_rate_ppm")).as("train_rate_ppm"),
            count(lit(1)).as("n_eval"),
            sum(col("r")).as("_logged_conv"),
            sum(when(col("event_type") === col("best_type"), 1L)
              .otherwise(0L)).as("_n_match"),
            sum(when(col("event_type") === col("best_type"), col("r"))
              .otherwise(0L)).as("_conv_match"))
          .select(col("best_type"), col("train_rate_ppm"), col("n_eval"),
            expr("_logged_conv * 1000000 DIV n_eval").as("logged_ppm"),
            expr("CASE WHEN _n_match > 0 THEN _conv_match * 1000000 DIV _n_match END")
              .as("dm_ppm"),
            expr("5 * _conv_match * 1000000 DIV n_eval").as("ips_ppm"))
      },
      Some("""WITH ev AS (SELECT event_type,
             |                   CASE WHEN value > 250.0 THEN 1 ELSE 0 END AS r,
             |                   day(ts) AS d
             |            FROM events),
             |tr AS (SELECT event_type, count(*) AS n, sum(r) AS c
             |       FROM ev WHERE d <= 15 GROUP BY 1),
             |best AS (SELECT event_type AS best_type,
             |                CAST(c * 1000000 // n AS BIGINT) AS train_rate_ppm
             |         FROM tr ORDER BY c * 1000000 // n DESC, event_type LIMIT 1),
             |te AS (SELECT ev.event_type, ev.r, best.best_type, best.train_rate_ppm
             |       FROM ev CROSS JOIN best WHERE ev.d > 15),
             |m AS (SELECT max(best_type) AS best_type,
             |             max(train_rate_ppm) AS train_rate_ppm,
             |             CAST(count(*) AS BIGINT) AS n_eval,
             |             CAST(sum(r) AS BIGINT) AS logged_conv,
             |             CAST(sum(CASE WHEN event_type = best_type THEN 1 ELSE 0 END)
             |                  AS BIGINT) AS n_match,
             |             CAST(sum(CASE WHEN event_type = best_type THEN r ELSE 0 END)
             |                  AS BIGINT) AS conv_match
             |      FROM te)
             |SELECT best_type, train_rate_ppm, n_eval,
             |       CAST(logged_conv * 1000000 // n_eval AS BIGINT) AS logged_ppm,
             |       CAST(CASE WHEN n_match > 0
             |            THEN conv_match * 1000000 // n_match END AS BIGINT) AS dm_ppm,
             |       CAST(5 * conv_match * 1000000 // n_eval AS BIGINT) AS ips_ppm
             |FROM m""".stripMargin)),

    // Dominant-period detection — the "does this telemetry have a
    // rhythm, and what is it" readout q_acf leaves to the reader:
    // engine-exact ACF at lags 1..6 on the per-user HOURLY series
    // (regular grid — periodicity on raw irregular events is
    // meaningless), then argmax over lags 2..6 (lag 1 is trivially
    // high for any smooth series; ties break to the smallest lag).
    // The argmax is a row-local greatest/CASE chain on the per-user
    // ACF row — no rank, no window, no extra shuffle beyond acfPpm's
    // single hash(user) Exchange.
    Q("q_dominant_period",
      (s, dir) => {
        val startUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
        val h = Tables.events(s, dir)
          .select(col("user_id").as("g"),
            floor((unix_micros(col("ts")) - startUs) / 3600000000.0)
              .cast("long").as("x"),
            floor(col("value") * 1000).cast("long").as("m"))
          .groupBy(col("g"), col("x")).agg(sum(col("m")).as("y"))
        TimeSeries.acfPpm(h, col("g"), col("x"), col("x"), col("y"), maxLag = 6)
          .withColumn("best_acf_ppm", greatest(
            col("acf2_ppm"), col("acf3_ppm"), col("acf4_ppm"),
            col("acf5_ppm"), col("acf6_ppm")))
          .withColumn("best_lag",
            when(col("acf2_ppm") === col("best_acf_ppm"), 2L)
              .when(col("acf3_ppm") === col("best_acf_ppm"), 3L)
              .when(col("acf4_ppm") === col("best_acf_ppm"), 4L)
              .when(col("acf5_ppm") === col("best_acf_ppm"), 5L)
              .otherwise(6L))
          .select(col("key").as("user_id"), col("n"), col("best_lag"),
            col("best_acf_ppm"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (
             |  SELECT user_id AS g,
             |         CAST(floor((epoch_us(ts) - 1704067200000000) / 3600000000.0) AS BIGINT) AS x,
             |         CAST(floor(value * 1000) AS BIGINT) AS m
             |  FROM events),
             |h AS (SELECT g, x, sum(m) AS y FROM p GROUP BY 1, 2),
             |tot AS (SELECT g, count(*) AS n, sum(y) AS s FROM h GROUP BY 1),
             |d AS (SELECT h.g, x, CAST(tot.n AS HUGEINT) * y - tot.s AS dev, tot.n
             |      FROM h JOIN tot ON h.g = tot.g),
             |l AS (SELECT g, n, dev,
             |        lag(dev, 2) OVER w AS d2, lag(dev, 3) OVER w AS d3,
             |        lag(dev, 4) OVER w AS d4, lag(dev, 5) OVER w AS d5,
             |        lag(dev, 6) OVER w AS d6
             |      FROM d WINDOW w AS (PARTITION BY g ORDER BY x)),
             |a AS (SELECT g, max(n) AS n, sum(dev*dev) AS den,
             |             coalesce(sum(dev*d2), 0) AS n2,
             |             coalesce(sum(dev*d3), 0) AS n3,
             |             coalesce(sum(dev*d4), 0) AS n4,
             |             coalesce(sum(dev*d5), 0) AS n5,
             |             coalesce(sum(dev*d6), 0) AS n6
             |      FROM l GROUP BY 1),
             |f AS (SELECT g, n,
             |  CAST(CASE WHEN den > 0 THEN (CASE WHEN n2 < 0
             |       THEN -(abs(n2)*1000000 // den) ELSE n2*1000000 // den END)
             |       ELSE 0 END AS BIGINT) AS a2,
             |  CAST(CASE WHEN den > 0 THEN (CASE WHEN n3 < 0
             |       THEN -(abs(n3)*1000000 // den) ELSE n3*1000000 // den END)
             |       ELSE 0 END AS BIGINT) AS a3,
             |  CAST(CASE WHEN den > 0 THEN (CASE WHEN n4 < 0
             |       THEN -(abs(n4)*1000000 // den) ELSE n4*1000000 // den END)
             |       ELSE 0 END AS BIGINT) AS a4,
             |  CAST(CASE WHEN den > 0 THEN (CASE WHEN n5 < 0
             |       THEN -(abs(n5)*1000000 // den) ELSE n5*1000000 // den END)
             |       ELSE 0 END AS BIGINT) AS a5,
             |  CAST(CASE WHEN den > 0 THEN (CASE WHEN n6 < 0
             |       THEN -(abs(n6)*1000000 // den) ELSE n6*1000000 // den END)
             |       ELSE 0 END AS BIGINT) AS a6
             |  FROM a),
             |b AS (SELECT g, n, greatest(a2, a3, a4, a5, a6) AS best,
             |             a2, a3, a4, a5, a6
             |      FROM f)
             |SELECT g AS user_id, CAST(n AS BIGINT) AS n,
             |       CAST(CASE WHEN a2 = best THEN 2 WHEN a3 = best THEN 3
             |                 WHEN a4 = best THEN 4 WHEN a5 = best THEN 5
             |                 ELSE 6 END AS BIGINT) AS best_lag,
             |       best AS best_acf_ppm
             |FROM b ORDER BY user_id""".stripMargin)),

    // Spatio-temporal co-location (the contact-tracing / co-travel
    // shape — q_spatial_join is space-only; adding the time bin is
    // what makes it a CONTACT): distinct user pairs sharing a 200-mil
    // grid cell within the same hour bin, support >= 2 distinct
    // (cell, bin) co-occurrences, top-20. Presence dedups to one row
    // per (user, cell, bin) BEFORE the pair join, so per-key pair
    // volume is C(occupancy, 2) — bounded by cell-bin occupancy like
    // every blocked candidate generator here, never users².
    Q("q_colocation",
      (s, dir) => {
        val binned = eventPoints(s, dir).select(col("user_id"),
            (col("x") / 200).cast("long").as("cx"),
            (col("y") / 200).cast("long").as("cy"),
            (col("ts_us") / 3600000000L).cast("long").as("tb")).distinct()
        binned.as("a")
          .join(binned.as("b"),
            col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy") &&
              col("a.tb") === col("b.tb") &&
              col("a.user_id") < col("b.user_id"))
          .groupBy(col("a.user_id").as("u"), col("b.user_id").as("v"))
          .agg(count(lit(1)).as("n_contacts"))
          .filter(col("n_contacts") >= 2)
          .orderBy(col("n_contacts").desc, col("u"), col("v"))
          .limit(20)
      },
      Some("""WITH p AS (SELECT DISTINCT user_id,
             |    ((event_id*event_id)%1000003*37 + event_id*101)%1000 // 200 AS cx,
             |    ((event_id*event_id)%999983*73 + event_id*211)%1000 // 200 AS cy,
             |    epoch_us(ts) // 3600000000 AS tb
             |  FROM events),
             |c AS (SELECT a.user_id AS u, b.user_id AS v,
             |             CAST(count(*) AS BIGINT) AS n_contacts
             |      FROM p a JOIN p b
             |        ON a.cx = b.cx AND a.cy = b.cy AND a.tb = b.tb
             |       AND a.user_id < b.user_id
             |      GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT u, v, n_contacts
             |FROM c ORDER BY n_contacts DESC, u, v LIMIT 20""".stripMargin)),

    // Turning-direction census per user — the trajectory-shape
    // diagnostic (a commuter's track turns rarely; a wanderer's
    // constantly): sign of the integer cross product of consecutive
    // displacement vectors over the (ts, event_id)-ordered track.
    // ONE user-keyed window pass (two lags), exact — no atan2, no
    // floats anywhere.
    Q("q_turning",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        eventPoints(s, dir)
          .withColumn("px", lag(col("x"), 1).over(w))
          .withColumn("py", lag(col("y"), 1).over(w))
          .withColumn("ppx", lag(col("x"), 2).over(w))
          .withColumn("ppy", lag(col("y"), 2).over(w))
          .filter(col("ppx").isNotNull)
          .withColumn("_cr",
            (col("px") - col("ppx")) * (col("y") - col("py")) -
              (col("py") - col("ppy")) * (col("x") - col("px")))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_turns"),
            sum((col("_cr") > 0).cast("long")).as("n_left"),
            sum((col("_cr") < 0).cast("long")).as("n_right"),
            sum((col("_cr") === 0).cast("long")).as("n_straight"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x,
             |    ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
             |  FROM events),
             |l AS (SELECT user_id,
             |             lag(x, 1) OVER w AS px, lag(y, 1) OVER w AS py,
             |             lag(x, 2) OVER w AS ppx, lag(y, 2) OVER w AS ppy,
             |             x, y
             |      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
             |c AS (SELECT user_id,
             |             (px - ppx) * (y - py) - (py - ppy) * (x - px) AS cr
             |      FROM l WHERE ppx IS NOT NULL)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_turns,
             |       CAST(sum(CASE WHEN cr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_left,
             |       CAST(sum(CASE WHEN cr < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_right,
             |       CAST(sum(CASE WHEN cr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_straight
             |FROM c GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // Bounded-radius nearest-neighbor join: every event point snaps to
    // its nearest of 500 sites within L2 radius 25 (exact by the 3x3
    // neighborhood argument — cell size = radius), winner by (dist²,
    // site id). Site coords decorrelate from probe coords via the
    // id -> 13·id+7 remap before the same quadratic-residue mixing. The
    // oracle is the brute-force quadratic join + QUALIFY arg-min.
    Q("q_nn_join",
      (s, dir) => {
        val sites = Tables.part(s, dir).filter(col("p_partkey") <= 500)
          .select(col("p_partkey").as("site_id"),
            Spatial.xMil(col("p_partkey") * 13 + 7).as("x"),
            Spatial.yMil(col("p_partkey") * 13 + 7).as("y"))
        Spatial.nearestSiteWithin(eventPoints(s, dir), sites,
            "event_id", "site_id", d = 25)
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id,
             |                  ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x,
             |                  ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
             |           FROM events),
             |s AS (SELECT p_partkey AS sid,
             |             (((p_partkey*13+7)*(p_partkey*13+7))%1000003*37 + (p_partkey*13+7)*101)%1000 AS x,
             |             (((p_partkey*13+7)*(p_partkey*13+7))%999983*73 + (p_partkey*13+7)*211)%1000 AS y
             |      FROM part WHERE p_partkey <= 500),
             |c AS (SELECT p.event_id, s.sid,
             |             (p.x-s.x)*(p.x-s.x) + (p.y-s.y)*(p.y-s.y) AS dist2
             |      FROM p JOIN s
             |        ON s.x BETWEEN p.x - 25 AND p.x + 25
             |       AND s.y BETWEEN p.y - 25 AND p.y + 25
             |      WHERE (p.x-s.x)*(p.x-s.x) + (p.y-s.y)*(p.y-s.y) <= 625)
             |SELECT event_id, sid AS nn_id, CAST(dist2 AS BIGINT) AS dist2 FROM c
             |QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY dist2, sid) = 1
             |ORDER BY event_id""".stripMargin)),

    // Trajectory compaction census: radial-distance simplification
    // (keep a point when it moves > 300 of the last kept point) over
    // each user's time-ordered track — the telemetry compactor's
    // one-pass Douglas-Peucker stand-in, an ordered integer recurrence
    // folded row-locally per entity (the q_ewma_anomaly shape). The
    // oracle replays the fold with a recursive CTE; the end-state
    // coordinates pin the whole keep/drop trail.
    Q("q_traj_simplify",
      (s, dir) => Spatial.simplifyRadial(eventPoints(s, dir), "user_id",
          col("ts_us"), col("event_id"), col("x"), col("y"), tol = 300L)
        .orderBy("user_id"),
      Some("""WITH RECURSIVE p AS (
             |  SELECT user_id,
             |         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
             |         ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x,
             |         ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
             |  FROM events),
             |r AS (
             |  SELECT user_id, rn, x AS kx, y AS ky, CAST(1 AS BIGINT) AS nk
             |  FROM p WHERE rn = 1
             |  UNION ALL
             |  SELECT p.user_id, p.rn,
             |    CASE WHEN (p.x-r.kx)*(p.x-r.kx)+(p.y-r.ky)*(p.y-r.ky) > 90000
             |         THEN p.x ELSE r.kx END,
             |    CASE WHEN (p.x-r.kx)*(p.x-r.kx)+(p.y-r.ky)*(p.y-r.ky) > 90000
             |         THEN p.y ELSE r.ky END,
             |    r.nk + CASE WHEN (p.x-r.kx)*(p.x-r.kx)+(p.y-r.ky)*(p.y-r.ky) > 90000
             |           THEN 1 ELSE 0 END
             |  FROM r JOIN p ON p.user_id = r.user_id AND p.rn = r.rn + 1),
             |f AS (SELECT user_id, rn, kx, ky, nk,
             |             row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rr
             |      FROM r)
             |SELECT user_id, CAST(rn AS BIGINT) AS n_points, nk AS n_kept,
             |       CAST(kx AS BIGINT) AS last_x, CAST(ky AS BIGINT) AS last_y
             |FROM f WHERE rr = 1 ORDER BY user_id""".stripMargin)),

    // Convex-geofence census: the half-plane containment test as one
    // codegen'd row-local conjunction over the synthetic coords (no
    // join, no shuffle — the fence predicate rides the scan). Fence =
    // a fixed CCW convex pentagon; boundary inclusive; per-type totals
    // inside vs overall. Oracle inlines the same 5 edge cross products.
    Q("q_geofence",
      (s, dir) => {
        val fence = Seq((200L, 100L), (800L, 150L), (900L, 600L),
          (500L, 900L), (120L, 550L))
        Tables.events(s, dir)
          .select(col("event_type"), col("value"),
            Spatial.xMil(col("event_id")).as("x"),
            Spatial.yMil(col("event_id")).as("y"))
          .withColumn("_in", Spatial.inConvexFence(col("x"), col("y"), fence))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("_in"), 1L).otherwise(0L)).as("n_inside"),
            sum(when(col("_in"), floor(col("value") * 1000).cast("long"))
              .otherwise(0L)).as("value_mils_inside"))
          .orderBy("event_type")
      },
      Some("""WITH p AS (SELECT event_type, value,
             |                  ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x,
             |                  ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
             |           FROM events),
             |f AS (SELECT event_type, value,
             |        (600*(y-100) - 50*(x-200) >= 0 AND
             |         100*(y-150) - 450*(x-800) >= 0 AND
             |         -400*(y-600) - 300*(x-900) >= 0 AND
             |         -380*(y-900) + 350*(x-500) >= 0 AND
             |         80*(y-550) + 450*(x-120) >= 0) AS inside
             |      FROM p)
             |SELECT event_type, count(*) AS n_total,
             |       CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
             |       CAST(sum(CASE WHEN inside THEN CAST(floor(value*1000) AS BIGINT) ELSE 0 END) AS BIGINT) AS value_mils_inside
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Geofence crossing detection (the alerting workload a mobility
    // pipeline runs on every fence): per user in event-time order, an
    // ENTER is outside→inside, an EXIT inside→outside — one ordered
    // window per user (the same single-Exchange shape as q_traj_velocity)
    // over the row-local fence predicate; per-user crossing census out.
    Q("q_fence_crossings",
      (s, dir) => {
        val fence = Seq((200L, 100L), (800L, 150L), (900L, 600L),
          (500L, 900L), (120L, 550L))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            Spatial.xMil(col("event_id")).as("x"),
            Spatial.yMil(col("event_id")).as("y"))
          .withColumn("_in", Spatial.inConvexFence(col("x"), col("y"), fence))
          .withColumn("_prev", lag(col("_in"), 1).over(w))
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("_in") && !coalesce(col("_prev"), lit(false)), 1L)
              .otherwise(0L)).as("n_enters"),
            sum(when(!col("_in") && coalesce(col("_prev"), lit(false)), 1L)
              .otherwise(0L)).as("n_exits"),
            min(when(col("_in") && !coalesce(col("_prev"), lit(false)), col("ts_us")))
              .as("first_enter_us"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |                  ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x,
             |                  ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
             |           FROM events),
             |f AS (SELECT user_id, event_id, ts_us,
             |        (600*(y-100) - 50*(x-200) >= 0 AND
             |         100*(y-150) - 450*(x-800) >= 0 AND
             |         -400*(y-600) - 300*(x-900) >= 0 AND
             |         -380*(y-900) + 350*(x-500) >= 0 AND
             |         80*(y-550) + 450*(x-120) >= 0) AS ins
             |      FROM p),
             |t AS (SELECT user_id, ts_us, ins,
             |             lag(ins) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
             |      FROM f)
             |SELECT user_id,
             |       CAST(sum(CASE WHEN ins AND NOT COALESCE(prev, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_enters,
             |       CAST(sum(CASE WHEN NOT ins AND COALESCE(prev, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_exits,
             |       min(CASE WHEN ins AND NOT COALESCE(prev, false) THEN ts_us END) AS first_enter_us
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Concave-fence census by ray casting (crossing parity): the
    // general-polygon companion to q_geofence — a 10-vertex concave
    // star fence that NO single convex half-plane test can express.
    // Still one codegen'd row-local integer expression riding the scan
    // (no join, no shuffle); n_notch counts points the convex hull
    // admits but the concave fence rejects, so the query is sensitive
    // to the parity logic itself (a hull-only impl would report
    // n_notch = 0 and hash-mismatch). Oracle SQL is GENERATED from the
    // same vertex list (Spatial.inPolygonSql) — fence and oracle cannot
    // drift. Boundary rule: half-open ray-cast (left/bottom in), exact
    // int64 both engines.
    Q("q_point_in_polygon",
      (s, dir) => {
        val star = Seq((500L, 950L), (394L, 646L), (72L, 639L), (329L, 444L),
          (235L, 136L), (500L, 320L), (765L, 136L), (671L, 444L),
          (928L, 639L), (606L, 646L))
        val hull = Seq((500L, 950L), (72L, 639L), (235L, 136L),
          (765L, 136L), (928L, 639L))
        Tables.events(s, dir)
          .select(col("event_type"), col("value"),
            Spatial.xMil(col("event_id")).as("x"),
            Spatial.yMil(col("event_id")).as("y"))
          .withColumn("_star", Spatial.inPolygon(col("x"), col("y"), star))
          .withColumn("_hull", Spatial.inConvexFence(col("x"), col("y"), hull))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("_star"), 1L).otherwise(0L)).as("n_star"),
            sum(when(col("_hull") && !col("_star"), 1L).otherwise(0L)).as("n_notch"),
            sum(when(col("_star"), floor(col("value") * 1000).cast("long"))
              .otherwise(0L)).as("value_mils_star"))
          .orderBy("event_type")
      }, {
        val star = Seq((500L, 950L), (394L, 646L), (72L, 639L), (329L, 444L),
          (235L, 136L), (500L, 320L), (765L, 136L), (671L, 444L),
          (928L, 639L), (606L, 646L))
        val hull = Seq((500L, 950L), (72L, 639L), (235L, 136L),
          (765L, 136L), (928L, 639L))
        val hullSql = hull.zip(hull.tail :+ hull.head).map {
          case ((x1, y1), (x2, y2)) =>
            s"((${x2 - x1})*(y-$y1) - (x-$x1)*(${y2 - y1}) >= 0)"
        }.mkString("(", " AND ", ")")
        Some(s"""WITH p AS (SELECT event_type, value,
               |                  ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x,
               |                  ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
               |           FROM events),
               |f AS (SELECT event_type, value,
               |             ${Spatial.inPolygonSql(star)} AS instar,
               |             $hullSql AS inhull
               |      FROM p)
               |SELECT event_type, count(*) AS n_total,
               |       CAST(sum(CASE WHEN instar THEN 1 ELSE 0 END) AS BIGINT) AS n_star,
               |       CAST(sum(CASE WHEN inhull AND NOT instar THEN 1 ELSE 0 END) AS BIGINT) AS n_notch,
               |       CAST(sum(CASE WHEN instar THEN CAST(floor(value*1000) AS BIGINT) ELSE 0 END) AS BIGINT) AS value_mils_star
               |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)
      }),

    // Origin-destination flow matrix between coarse cells (250-unit →
    // 4×4 grid): per-user consecutive point pairs, one ordered-window
    // shuffle then a map-side-combinable count.
    Q("q_od_matrix",
      (s, dir) => Spatial.odMatrix(eventPoints(s, dir), "user_id", "ts_us",
          "event_id", cellSize = 250)
        .orderBy("fx", "fy", "tx", "ty"),
      Some("""WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             |                  (((event_id*event_id)%1000003*37 + event_id*101)%1000)//250 AS tx,
             |                  (((event_id*event_id)%999983*73 + event_id*211)%1000)//250 AS ty
             |           FROM events),
             |t AS (SELECT tx, ty,
             |             lag(tx) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS fx,
             |             lag(ty) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS fy
             |      FROM p)
             |SELECT fx, fy, tx, ty, CAST(count(*) AS BIGINT) AS n_trips
             |FROM t WHERE fx IS NOT NULL
             |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin)),

    // Stay-point detection (dwell episodes): maximal runs of ≥ 2
    // consecutive stay-steps (step dist² ≤ 450²) per user — gaps-and-
    // islands where the island id is the running count of non-stay steps.
    Q("q_staypoint",
      (s, dir) => Spatial.stayPoints(eventPoints(s, dir), "user_id", "ts_us",
          "event_id", d = 450, minSteps = 2)
        .orderBy("user_id", "start_us"),
      Some("""WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             |                  ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x, ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
             |           FROM events),
             |s AS (SELECT user_id, ts_us, event_id, x, y,
             |             lag(ts_us) OVER w AS pts, lag(x) OVER w AS px, lag(y) OVER w AS py
             |      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
             |st AS (SELECT user_id, ts_us, event_id, pts,
             |              (x-px)*(x-px) + (y-py)*(y-py) <= 202500 AS stay
             |       FROM s WHERE px IS NOT NULL),
             |isl AS (SELECT user_id, ts_us, pts, stay,
             |               sum(CASE WHEN stay THEN 0 ELSE 1 END)
             |                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS island
             |        FROM st)
             |SELECT user_id, min(pts) AS start_us, max(ts_us) AS end_us,
             |       CAST(count(*) + 1 AS BIGINT) AS n_pts,
             |       max(ts_us) - min(pts) AS dwell_us
             |FROM isl WHERE stay
             |GROUP BY user_id, island
             |HAVING count(*) + 1 >= 3
             |ORDER BY user_id, start_us""".stripMargin)),

    // Trajectory-similarity join: user pairs whose point SETS are within
    // symmetric discrete Hausdorff distance 170 (on dist², exact ints).
    // One size-h cell join yields the cross-user point pairs ≤ h; both
    // directed max-min distances reduce from that single candidate set
    // (min per (pair, point), then max + cover-count) — the per-pair
    // |A|·|B| cross product of the textbook definition never
    // materializes, and pairs sharing no h-cell never meet. The oracle
    // IS the textbook definition, brute-forced over the scoped users.
    Q("q_traj_hausdorff",
      (s, dir) => Spatial.hausdorffJoin(
          eventPoints(s, dir).filter(col("user_id") < 60)
            .select(col("user_id"), col("x"), col("y")),
          "user_id", h = 170)
        .orderBy("entity_a", "entity_b"),
      Some("""WITH pts AS (SELECT DISTINCT user_id,
             |                    ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x,
             |                    ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
             |             FROM events WHERE user_id < 60),
             |dirs AS (SELECT a.user_id ua, b.user_id ub, a.x, a.y,
             |                min((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS mind2
             |         FROM pts a JOIN pts b ON a.user_id <> b.user_id
             |         GROUP BY 1, 2, 3, 4),
             |dh AS (SELECT ua, ub, max(mind2) AS dh2 FROM dirs GROUP BY 1, 2),
             |sym AS (SELECT least(ua, ub) AS entity_a, greatest(ua, ub) AS entity_b,
             |               max(dh2) AS hausdorff2
             |        FROM dh GROUP BY 1, 2)
             |SELECT entity_a, entity_b, CAST(hausdorff2 AS BIGINT) AS hausdorff2
             |FROM sym WHERE hausdorff2 <= 28900
             |ORDER BY entity_a, entity_b""".stripMargin)),

    // DBSCAN density clustering over the scoped click point cloud
    // (eps 25, minPts 3): core iff |N_eps| ≥ 3 (self included), clusters
    // = connected components of the core-core graph (pointer-jumping
    // min-label CC — O(log diameter) rounds, the percolation-proof
    // shape), border joins its SMALLEST core neighbor's cluster (pinned
    // so both engines agree), noise = −1. Oracle replays the definition
    // with a recursive-CTE closure.
    Q("q_dbscan",
      (s, dir) => Spatial.dbscan(
          eventPoints(s, dir)
            .filter(col("event_type") === "click" && col("event_id") < 8000)
            .select(col("event_id"), col("x"), col("y")),
          "event_id", eps = 25, minPts = 3)
        .orderBy("event_id"),
      Some("""WITH RECURSIVE p AS (
             |  SELECT event_id, ((event_id*event_id)%1000003*37 + event_id*101)%1000 AS x,
             |         ((event_id*event_id)%999983*73 + event_id*211)%1000 AS y
             |  FROM events WHERE event_type = 'click' AND event_id < 8000),
             |nb AS (SELECT a.event_id ia, b.event_id ib FROM p a JOIN p b
             |       ON a.event_id <> b.event_id
             |      AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 625),
             |deg AS (SELECT ia AS id, count(*) AS deg FROM nb GROUP BY 1),
             |core AS (SELECT p.event_id AS id FROM p LEFT JOIN deg ON deg.id = p.event_id
             |         WHERE coalesce(deg.deg, 0) + 1 >= 3),
             |ce AS (SELECT ia, ib FROM nb
             |       JOIN core ca ON nb.ia = ca.id JOIN core cb ON nb.ib = cb.id),
             |reach(a, b) AS (
             |  SELECT ia, ib FROM ce
             |  UNION
             |  SELECT r.a, e.ib FROM reach r JOIN ce e ON r.b = e.ia WHERE e.ib <> r.a),
             |comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
             |corelab AS (SELECT c.id, coalesce(comp.component, c.id) AS cluster
             |            FROM core c LEFT JOIN comp ON comp.id = c.id),
             |borderlab AS (SELECT n.ia AS id, min(cl.cluster) AS cluster
             |              FROM nb n JOIN corelab cl ON n.ib = cl.id
             |              WHERE n.ia NOT IN (SELECT id FROM core)
             |              GROUP BY n.ia)
             |SELECT p.event_id,
             |       CAST(coalesce(cl.cluster, bl.cluster, -1) AS BIGINT) AS cluster,
             |       CASE WHEN cl.id IS NOT NULL THEN 'core'
             |            WHEN bl.id IS NOT NULL THEN 'border'
             |            ELSE 'noise' END AS kind
             |FROM p LEFT JOIN corelab cl ON cl.id = p.event_id
             |       LEFT JOIN borderlab bl ON bl.id = p.event_id
             |ORDER BY event_id""".stripMargin)),

    // Linear-interpolation resampling: the same 72 h × (user < 50) hourly
    // grid as q_resample_fill, but empty slots take the time-weighted
    // linear blend of the nearest known hours (ffill/bfill at the edges)
    // instead of zero. All integer mils; the blend numerator is
    // non-negative so floor(double div) is identical cross-engine.
    Q("q_interpolate",
      (s, dir) => {
        val startUs = 1704844800000000L // 2024-01-10 00:00:00 UTC
        val users = Tables.events(s, dir)
          .filter(col("user_id") < 50).select("user_id").distinct()
        val grid = users
          .select(col("user_id"), explode(sequence(lit(0), lit(71))).as("_h"))
          .select(col("user_id"),
            (lit(startUs) + col("_h").cast("long") * 3600000000L).as("hour_us"))
        val known = Tables.events(s, dir)
          .filter(col("user_id") < 50 &&
            unix_micros(col("ts")) >= startUs &&
            unix_micros(col("ts")) < startUs + 72L * 3600000000L)
          .groupBy(col("user_id"),
            expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
          .agg(floor(sum(floor(col("value") * 100)) / count(lit(1)))
            .cast("long").as("v_mil"))
        val wp = Window.partitionBy(col("user_id")).orderBy(col("hour_us"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wn = Window.partitionBy(col("user_id")).orderBy(col("hour_us"))
          .rowsBetween(0, Window.unboundedFollowing)
        grid.join(known, Seq("user_id", "hour_us"), "left")
          .withColumn("_pv", last(col("v_mil"), ignoreNulls = true).over(wp))
          .withColumn("_ph",
            last(when(col("v_mil").isNotNull, col("hour_us")), ignoreNulls = true).over(wp))
          .withColumn("_nv", first(col("v_mil"), ignoreNulls = true).over(wn))
          .withColumn("_nh",
            first(when(col("v_mil").isNotNull, col("hour_us")), ignoreNulls = true).over(wn))
          .select(col("user_id"), col("hour_us"),
            when(col("v_mil").isNotNull, col("v_mil"))
              .when(col("_pv").isNull, col("_nv"))
              .when(col("_nv").isNull, col("_pv"))
              .otherwise(floor(
                (col("_pv") * (col("_nh") - col("hour_us")) +
                  col("_nv") * (col("hour_us") - col("_ph"))) /
                  (col("_nh") - col("_ph"))).cast("long"))
              .as("v_interp_mil"),
            col("v_mil").isNotNull.as("known"))
          .orderBy("user_id", "hour_us")
      },
      Some("""WITH users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 50),
             |grid AS (SELECT user_id, epoch_us(h) AS hour_us
             |         FROM users, LATERAL generate_series(TIMESTAMP '2024-01-10 00:00:00',
             |                TIMESTAMP '2024-01-12 23:00:00', INTERVAL 1 HOUR) AS g(h)),
             |known AS (SELECT user_id, epoch_us(date_trunc('hour', ts)) AS hour_us,
             |                 CAST(floor(sum(CAST(floor(value*100) AS BIGINT)) / count(*)) AS BIGINT) AS v_mil
             |          FROM events
             |          WHERE user_id < 50 AND ts >= TIMESTAMP '2024-01-10 00:00:00'
             |            AND ts < TIMESTAMP '2024-01-13 00:00:00'
             |          GROUP BY 1, 2),
             |g AS (SELECT g.user_id, g.hour_us, k.v_mil
             |      FROM grid g LEFT JOIN known k USING (user_id, hour_us)),
             |w AS (SELECT user_id, hour_us, v_mil,
             |             last_value(v_mil IGNORE NULLS) OVER wp AS pv,
             |             last_value(CASE WHEN v_mil IS NOT NULL THEN hour_us END IGNORE NULLS) OVER wp AS ph,
             |             first_value(v_mil IGNORE NULLS) OVER wn AS nv,
             |             first_value(CASE WHEN v_mil IS NOT NULL THEN hour_us END IGNORE NULLS) OVER wn AS nh
             |      FROM g WINDOW
             |        wp AS (PARTITION BY user_id ORDER BY hour_us
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |        wn AS (PARTITION BY user_id ORDER BY hour_us
             |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT user_id, hour_us,
             |       CASE WHEN v_mil IS NOT NULL THEN v_mil
             |            WHEN pv IS NULL THEN nv
             |            WHEN nv IS NULL THEN pv
             |            ELSE CAST(floor((pv*(nh-hour_us) + nv*(hour_us-ph))
             |                            / CAST(nh-ph AS DOUBLE)) AS BIGINT) END AS v_interp_mil,
             |       v_mil IS NOT NULL AS known
             |FROM w ORDER BY user_id, hour_us""".stripMargin)),

    // First-order Markov transition matrix over event types (per-user
    // ordered sequences): transition counts + integer-ppm row-normalized
    // probabilities. 5 types → 25 rows; the shuffle is one window by
    // user plus a tiny aggregate.
    Q("q_markov",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val t = Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("event_type"))
          .withColumn("from_type", lag(col("event_type"), 1).over(w))
          .filter(col("from_type").isNotNull)
        val cnt = t.groupBy(col("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n_trans"))
        val tot = cnt.groupBy(col("from_type")).agg(sum(col("n_trans")).as("_tot"))
        cnt.join(tot, "from_type")
          .select(col("from_type"), col("to_type"), col("n_trans"),
            expr("(n_trans * 1000000) div _tot").as("p_ppm"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH t AS (SELECT event_type AS to_type,
             |                  lag(event_type) OVER (PARTITION BY user_id
             |                    ORDER BY epoch_us(ts), event_id) AS from_type
             |           FROM events),
             |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
             |      FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
             |tot AS (SELECT from_type, sum(n_trans) AS tot FROM c GROUP BY 1)
             |SELECT c.from_type, c.to_type, c.n_trans,
             |       CAST((c.n_trans * 1000000) // tot.tot AS BIGINT) AS p_ppm
             |FROM c JOIN tot USING (from_type)
             |ORDER BY from_type, to_type""".stripMargin)),

    // Pearson correlation matrix over lineitem measures from EXACT
    // integer sums (fixed-point quantity/cents/basis-points, sums in
    // decimal(38,0)/hugeint): both engines convert the same exact
    // integers to double and run the identical formula shape, so the
    // ppm-floored output is reproducible — a float-accumulated corr()
    // would tie the hash to summation order.
    Q("q_corr_matrix",
      (s, dir) => {
        val base = Tables.lineitem(s, dir).select(
          floor(col("l_quantity")).cast("long").as("q"),
          floor(col("l_extendedprice") * 100).cast("long").as("p"),
          floor(col("l_discount") * 10000).cast("long").as("d"))
        def dsum(c: org.apache.spark.sql.Column) =
          sum(c.cast("decimal(38,0)")).cast("double")
        val agg = base.agg(
          count(lit(1)).cast("double").as("n"),
          dsum(col("q")).as("sq"), dsum(col("p")).as("sp"), dsum(col("d")).as("sd"),
          dsum(col("q") * col("q")).as("sqq"), dsum(col("p") * col("p")).as("spp"),
          dsum(col("d") * col("d")).as("sdd"), dsum(col("q") * col("p")).as("sqp"),
          dsum(col("q") * col("d")).as("sqd"), dsum(col("p") * col("d")).as("spd"))
        def corr(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
          floor(lit(1000000.0) *
            (col("n") * col(sxy) - col(sx) * col(sy)) /
            sqrt((col("n") * col(sxx) - col(sx) * col(sx)) *
              (col("n") * col(syy) - col(sy) * col(sy)))).cast("long")
        agg.select(explode(array(
            struct(lit("price").as("col_a"), lit("discount").as("col_b"),
              corr("sp", "sd", "spp", "sdd", "spd").as("corr_ppm")),
            struct(lit("quantity").as("col_a"), lit("discount").as("col_b"),
              corr("sq", "sd", "sqq", "sdd", "sqd").as("corr_ppm")),
            struct(lit("quantity").as("col_a"), lit("price").as("col_b"),
              corr("sq", "sp", "sqq", "spp", "sqp").as("corr_ppm")))).as("_r"))
          .select(col("_r.col_a").as("col_a"), col("_r.col_b").as("col_b"),
            col("_r.corr_ppm").as("corr_ppm"))
          .orderBy("col_a", "col_b")
      },
      Some("""WITH b AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS q,
             |                  CAST(floor(l_extendedprice*100) AS BIGINT) AS p,
             |                  CAST(floor(l_discount*10000) AS BIGINT) AS d
             |           FROM lineitem),
             |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |             CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(p) AS DOUBLE) AS sp,
             |             CAST(sum(d) AS DOUBLE) AS sd,
             |             CAST(sum(q*q) AS DOUBLE) AS sqq, CAST(sum(p*p) AS DOUBLE) AS spp,
             |             CAST(sum(d*d) AS DOUBLE) AS sdd, CAST(sum(q*p) AS DOUBLE) AS sqp,
             |             CAST(sum(q*d) AS DOUBLE) AS sqd, CAST(sum(p*d) AS DOUBLE) AS spd
             |      FROM b)
             |SELECT * FROM (
             |  SELECT 'price' AS col_a, 'discount' AS col_b,
             |         CAST(floor(1000000 * (n*spd - sp*sd)
             |              / sqrt((n*spp - sp*sp) * (n*sdd - sd*sd))) AS BIGINT) AS corr_ppm
             |  FROM a
             |  UNION ALL
             |  SELECT 'quantity', 'discount',
             |         CAST(floor(1000000 * (n*sqd - sq*sd)
             |              / sqrt((n*sqq - sq*sq) * (n*sdd - sd*sd))) AS BIGINT) FROM a
             |  UNION ALL
             |  SELECT 'quantity', 'price',
             |         CAST(floor(1000000 * (n*sqp - sq*sp)
             |              / sqrt((n*sqq - sq*sq) * (n*spp - sp*sp))) AS BIGINT) FROM a)
             |ORDER BY col_a, col_b""".stripMargin)),

    // Cohort retention: users bucketed by first-seen day, the classic
    // (cohort_day × day_offset → distinct active users) triangle. Two
    // aggregations: a per-user min (map-side combinable) broadcast back,
    // then one distinct-count per cell — no row explosion anywhere.
    Q("q_retention_cohort",
      (s, dir) => {
        val days = Tables.events(s, dir).select(col("user_id"),
          expr("unix_micros(date_trunc('day', ts))").as("day_us"))
        val cohort = days.groupBy(col("user_id")).agg(min(col("day_us")).as("cohort_us"))
        days.join(cohort, "user_id")
          .select(col("user_id"), col("cohort_us"),
            ((col("day_us") - col("cohort_us")) / 86400000000L).cast("long").as("day_offset"))
          .groupBy(col("cohort_us"), col("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy("cohort_us", "day_offset")
      },
      Some("""WITH d AS (SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us FROM events),
             |c AS (SELECT user_id, min(day_us) AS cohort_us FROM d GROUP BY 1)
             |SELECT c.cohort_us, (d.day_us - c.cohort_us) // 86400000000 AS day_offset,
             |       CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active
             |FROM d JOIN c USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // One-way ANOVA F over the k event-type arms — the omnibus "are
    // these means distinguishable AT ALL" gate before any pairwise
    // q_abtest readout (k·(k−1)/2 uncorrected t-tests inflate false
    // positives; ANOVA asks once). Same dense user×type grid as
    // q_abtest (balance makes the F ratio clear to ONE floor-division);
    // one (type, user) totals pass + a k-row rollup is all that
    // touches data volume.
    Q("q_anova",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val totals = ev.groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("x"))
        Stats.anovaF(full, col("event_type"), col("user_id"), col("x"))
          .select(col("k"), col("n"), col("f_ppm")).orderBy("k")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) AS x
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type, g.user_id, coalesce(t.x, 0) AS x
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |g AS (SELECT event_type, count(*) AS n, sum(x) AS tg,
             |             sum(CAST(x AS HUGEINT) * x) AS qg
             |      FROM p GROUP BY 1),
             |m AS (SELECT count(*) AS k, max(n) AS n, min(n) AS nmin,
             |             sum(tg) AS tt, sum(CAST(tg AS HUGEINT) * tg) AS stg2,
             |             sum(qg) AS sx2 FROM g)
             |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
             |       CAST(CASE WHEN n = nmin AND k > 1 AND n * sx2 - stg2 > 0
             |            THEN ((k * stg2 - CAST(tt AS HUGEINT) * tt) * (n - 1) * 1000000)
             |                 // ((k - 1) * (n * sx2 - stg2)) END AS BIGINT) AS f_ppm
             |FROM m ORDER BY k""".stripMargin)),

    // Kruskal–Wallis H over the k event-type arms — q_anova's
    // NONPARAMETRIC sibling (ANOVA asks "are the means apart?"; ranks
    // ask it of the whole distributions, so one whale user is one rank
    // step, not a lever arm — the q_mann_whitney rationale, generalized
    // past two variants). Same dense user×type grid; the pooled ranks
    // run through the value-banded two-pass prefix sum, so NO
    // unpartitioned window ever executes (see Stats.kruskalWallisH).
    Q("q_kruskal",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val totals = ev.groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("x"))
        Stats.kruskalWallisH(full, col("event_type"), col("user_id"), col("x"))
          .orderBy("k")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) AS x
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type AS g, coalesce(t.x, 0) AS xt
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |r AS (SELECT g, xt,
             |             2 * rank() OVER (ORDER BY xt)
             |               + count(*) OVER (PARTITION BY xt) - 1 AS d2
             |      FROM p),
             |a AS (SELECT g, count(*) AS ng, sum(CAST(d2 AS HUGEINT)) AS dg,
             |             sum(CAST(d2 AS HUGEINT) * d2) AS q2
             |      FROM r GROUP BY 1),
             |m AS (SELECT count(*) AS k, max(ng) AS n, min(ng) AS nmin,
             |             sum(ng) AS nn, sum(q2) AS sd2 FROM a),
             |s AS (SELECT m.k, m.n, m.nmin, m.nn, m.sd2,
             |             sum((a.dg - CAST(a.ng AS HUGEINT) * (m.nn + 1))
             |                 * (a.dg - CAST(a.ng AS HUGEINT) * (m.nn + 1))) AS sa2
             |      FROM a CROSS JOIN m GROUP BY 1, 2, 3, 4, 5)
             |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
             |       CAST(nn AS BIGINT) AS nn,
             |       CAST(CASE WHEN n = nmin AND k > 1
             |                  AND sd2 - CAST(nn AS HUGEINT) * (nn + 1) * (nn + 1) > 0
             |            THEN ((nn - 1) * sa2 * 1000000)
             |                 // (n * (sd2 - CAST(nn AS HUGEINT) * (nn + 1) * (nn + 1)))
             |            END AS BIGINT) AS h_ppm
             |FROM s""".stripMargin)),

    // Welch's unequal-variance t² — q_abtest without the pooled-variance
    // assumption (the robust default when a treatment widens the spend
    // distribution, not just shifts it). Per-arm variance-of-mean
    // quantized to ppm first (the q_cuped θ convention), then one
    // integer ratio; both engines replay the identical quantized trail.
    Q("q_welch",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val totals = ev.groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("x"))
        Stats.welchT2(full, col("event_type"), col("user_id"), col("x"))
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) AS x
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type AS g, coalesce(t.x, 0) AS xt,
             |             CASE WHEN g.user_id % 2 = 0 THEN 1 ELSE 0 END AS v
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |m AS (SELECT g, sum(v) AS n0, sum(1 - v) AS n1,
             |             sum(xt * v) AS s0, sum(xt * (1 - v)) AS s1,
             |             sum(CAST(xt AS HUGEINT) * xt * v) AS q0,
             |             sum(CAST(xt AS HUGEINT) * xt * (1 - v)) AS q1
             |      FROM p GROUP BY 1),
             |f AS (SELECT g, n0, n1,
             |        CASE WHEN n0 > 0 AND n1 > 0
             |          THEN CAST((CAST(s0 AS HUGEINT) * n1 - CAST(s1 AS HUGEINT) * n0)
             |                    * 1000000 // (CAST(n0 AS HUGEINT) * n1) AS BIGINT)
             |        END AS delta_ppm,
             |        CASE WHEN n0 > 1
             |          THEN CAST((n0 * q0 - CAST(s0 AS HUGEINT) * s0) * 1000000
             |                    // (CAST(n0 AS HUGEINT) * n0 * (n0 - 1)) AS BIGINT)
             |        END AS v0_ppm,
             |        CASE WHEN n1 > 1
             |          THEN CAST((n1 * q1 - CAST(s1 AS HUGEINT) * s1) * 1000000
             |                    // (CAST(n1 AS HUGEINT) * n1 * (n1 - 1)) AS BIGINT)
             |        END AS v1_ppm
             |      FROM m)
             |SELECT g AS event_type, CAST(n0 AS BIGINT) AS n0,
             |       CAST(n1 AS BIGINT) AS n1, delta_ppm, v0_ppm, v1_ppm,
             |       CAST(CASE WHEN v0_ppm IS NOT NULL AND v1_ppm IS NOT NULL
             |                  AND v0_ppm + v1_ppm > 0
             |            THEN CAST(delta_ppm AS HUGEINT) * delta_ppm
             |                 // (v0_ppm + v1_ppm) END AS BIGINT) AS t2w_ppm
             |FROM f ORDER BY event_type""".stripMargin)),

    // Gini–Simpson behavioral diversity per user — the "diverse vs
    // single-purpose" segmentation signal: the probability two of a
    // user's events differ in type (0 = monomaniac, → 1 = uniform).
    // Chosen over Shannon entropy because it is purely rational — no
    // logarithm, so the integer trail replays exactly in both engines.
    Q("q_simpson_div",
      (s, dir) =>
        Stats.simpsonDiversity(Tables.events(s, dir),
            col("user_id"), col("event_type"))
          .orderBy("e"),
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |u AS (SELECT user_id, sum(n) AS ne, count(*) AS nc,
             |             sum(CAST(n AS HUGEINT) * n) AS s2
             |      FROM c GROUP BY 1)
             |SELECT user_id AS e, CAST(ne AS BIGINT) AS n_events,
             |       CAST(nc AS BIGINT) AS n_cats,
             |       CAST((CAST(ne AS HUGEINT) * ne - s2) * 1000000
             |            // (CAST(ne AS HUGEINT) * ne) AS BIGINT) AS div_ppm
             |FROM u ORDER BY e""".stripMargin)),

    // Partial autocorrelation (lags 1-3) of each user's hourly series —
    // the AR-order identification read q_acf/q_dominant_period cannot
    // give (an AR(1) has acf decaying at EVERY lag; pacf cuts off after
    // lag 1). Yule-Walker in Cramer form: each pacf is a ratio of two
    // Toeplitz determinants over the acf ppm integers — row-local
    // polynomial arithmetic on acfPpm's frame, ONE shuffle total.
    Q("q_pacf",
      (s, dir) => {
        val startUs = 1704067200000000L
        val h = Tables.events(s, dir)
          .select(col("user_id").as("g"),
            floor((unix_micros(col("ts")) - startUs) / 3600000000.0)
              .cast("long").as("x"),
            floor(col("value") * 1000).cast("long").as("m"))
          .groupBy(col("g"), col("x")).agg(sum(col("m")).as("y"))
        TimeSeries.pacfPpm(h, col("g"), col("x"), col("x"), col("y"))
          .withColumnRenamed("key", "user_id")
          .orderBy("user_id")
      },
      Some("""WITH p AS (
             |  SELECT user_id AS g,
             |         CAST(floor((epoch_us(ts) - 1704067200000000) / 3600000000.0) AS BIGINT) AS x,
             |         CAST(floor(value * 1000) AS BIGINT) AS m
             |  FROM events),
             |h AS (SELECT g, x, sum(m) AS y FROM p GROUP BY 1, 2),
             |tot AS (SELECT g, count(*) AS n, sum(y) AS s FROM h GROUP BY 1),
             |d AS (SELECT h.g, x, CAST(tot.n AS HUGEINT) * y - tot.s AS dev, tot.n
             |      FROM h JOIN tot ON h.g = tot.g),
             |l AS (SELECT g, n, dev, lag(dev, 1) OVER w AS d1,
             |             lag(dev, 2) OVER w AS d2, lag(dev, 3) OVER w AS d3
             |      FROM d WINDOW w AS (PARTITION BY g ORDER BY x)),
             |a AS (SELECT g, max(n) AS n, sum(dev*dev) AS den,
             |             coalesce(sum(dev*d1), 0) AS n1,
             |             coalesce(sum(dev*d2), 0) AS n2,
             |             coalesce(sum(dev*d3), 0) AS n3
             |      FROM l GROUP BY 1),
             |r AS (SELECT g, n,
             |        CAST(CASE WHEN den > 0 THEN (CASE WHEN n1 < 0
             |          THEN -(abs(n1)*1000000 // den) ELSE n1*1000000 // den END)
             |          ELSE 0 END AS HUGEINT) AS r1,
             |        CAST(CASE WHEN den > 0 THEN (CASE WHEN n2 < 0
             |          THEN -(abs(n2)*1000000 // den) ELSE n2*1000000 // den END)
             |          ELSE 0 END AS HUGEINT) AS r2,
             |        CAST(CASE WHEN den > 0 THEN (CASE WHEN n3 < 0
             |          THEN -(abs(n3)*1000000 // den) ELSE n3*1000000 // den END)
             |          ELSE 0 END AS HUGEINT) AS r3
             |      FROM a),
             |f AS (SELECT g, n, r1,
             |        r2 * 1000000 - r1 * r1 AS num2,
             |        CAST(1000000 AS HUGEINT) * 1000000 - r1 * r1 AS den2,
             |        1000000 * (CAST(1000000 AS HUGEINT) * 1000000 - r1 * r1)
             |          - r1 * (r1 * 1000000 - r1 * r2)
             |          + r2 * (r1 * r1 - 1000000 * r2) AS det3,
             |        1000000 * (1000000 * r3 - r2 * r1)
             |          - r1 * (r1 * r3 - r2 * r2)
             |          + r1 * (r1 * r1 - 1000000 * r2) AS det3s
             |      FROM r)
             |SELECT g AS user_id, CAST(n AS BIGINT) AS n,
             |       CAST(r1 AS BIGINT) AS pacf1_ppm,
             |       CAST(CASE WHEN den2 > 0 THEN (CASE WHEN num2 < 0
             |         THEN -(abs(num2)*1000000 // den2)
             |         ELSE num2*1000000 // den2 END) END AS BIGINT) AS pacf2_ppm,
             |       CAST(CASE WHEN det3 > 0 THEN (CASE WHEN det3s < 0
             |         THEN -(abs(det3s)*1000000 // det3)
             |         ELSE det3s*1000000 // det3 END) END AS BIGINT) AS pacf3_ppm
             |FROM f ORDER BY user_id""".stripMargin)),

    // k-truss peel of the part co-purchase graph — q_kcore's edge-level
    // refinement: a core keeps well-connected NODES (hub spokes
    // survive); a truss keeps only edges on >= 12 triangles WITHIN the
    // survivor subgraph, recomputed per peel — the community backbone.
    // Each round = one degree-oriented support pass (the
    // q_triangle_count O(m^1.5) plan) on the staged survivor edges;
    // early stop is sound (an unchanged count is an unchanged set).
    Q("q_ktruss",
      (s, dir) => {
        val und = coEdges(s, dir)
        Graph.trussPeel(und, support = 12, rounds = 3).orderBy("node")
      },
      Some {
        val (st, r) = (12, 3)
        val rounds = (1 to r).map { i =>
          s"""b${i - 1} AS MATERIALIZED (SELECT u, v FROM e${i - 1}
             |     UNION ALL SELECT v AS u, u AS v FROM e${i - 1}),
             |s$i AS MATERIALIZED (SELECT e.u, e.v, count(*) AS sup
             |     FROM e${i - 1} e JOIN b${i - 1} x ON x.u = e.u
             |     JOIN b${i - 1} y ON y.u = e.v AND y.v = x.v
             |     GROUP BY e.u, e.v),
             |e$i AS MATERIALIZED (SELECT u, v FROM s$i WHERE sup >= $st)""".stripMargin
        }.mkString(",\n")
        s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
           |     FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
           |$rounds
           |SELECT node, CAST(count(*) AS BIGINT) AS deg_in_truss
           |FROM (SELECT u AS node FROM e$r UNION ALL SELECT v AS node FROM e$r)
           |GROUP BY node ORDER BY node""".stripMargin
      }),

    // Ljung-Box portmanteau test per user — "any serial structure at
    // all?" over lags 1-3 of the raw event series, the multiple-
    // testing-safe gate before reading q_acf/q_pacf coefficients.
    // Cleared to ONE floor-division over the acf ppm integers; the
    // chi-square(3df) 95% cut ships as the compile-time literal 7815
    // milli. Same single hash(user) Exchange as q_acf.
    Q("q_ljung_box",
      (s, dir) => TimeSeries.ljungBox(Tables.events(s, dir),
          col("user_id"), unix_micros(col("ts")), col("event_id"),
          floor(col("value") * 1000).cast("long"))
        .withColumnRenamed("key", "user_id").orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tie,
             |                  CAST(floor(value*1000) AS BIGINT) AS x FROM events),
             |tot AS (SELECT k, count(*) AS n, sum(x) AS s FROM b GROUP BY 1),
             |d AS (SELECT b.k, t, tie, CAST(tot.n AS HUGEINT)*x - tot.s AS dev, tot.n
             |      FROM b JOIN tot ON b.k = tot.k),
             |l AS (SELECT k, n, dev, lag(dev, 1) OVER w AS d1,
             |             lag(dev, 2) OVER w AS d2, lag(dev, 3) OVER w AS d3
             |      FROM d WINDOW w AS (PARTITION BY k ORDER BY t, tie)),
             |a AS (SELECT k, max(n) AS n, sum(dev*dev) AS den,
             |             coalesce(sum(dev*d1), 0) AS n1,
             |             coalesce(sum(dev*d2), 0) AS n2,
             |             coalesce(sum(dev*d3), 0) AS n3
             |      FROM l GROUP BY 1),
             |r AS (SELECT k, n,
             |        CAST(CASE WHEN den > 0 THEN (CASE WHEN n1 < 0
             |          THEN -(abs(n1)*1000000 // den) ELSE n1*1000000 // den END)
             |          ELSE 0 END AS HUGEINT) AS r1,
             |        CAST(CASE WHEN den > 0 THEN (CASE WHEN n2 < 0
             |          THEN -(abs(n2)*1000000 // den) ELSE n2*1000000 // den END)
             |          ELSE 0 END AS HUGEINT) AS r2,
             |        CAST(CASE WHEN den > 0 THEN (CASE WHEN n3 < 0
             |          THEN -(abs(n3)*1000000 // den) ELSE n3*1000000 // den END)
             |          ELSE 0 END AS HUGEINT) AS r3
             |      FROM a),
             |f AS (SELECT k, n,
             |        CASE WHEN n > 3 THEN CAST(n AS HUGEINT) * (n + 2)
             |          * (r1*r1*(n-2)*(n-3) + r2*r2*(n-1)*(n-3) + r3*r3*(n-1)*(n-2))
             |          * 1000
             |          // (CAST(n - 1 AS HUGEINT) * (n - 2) * (n - 3) * 1000000000000)
             |        END AS q_milli
             |      FROM r)
             |SELECT k AS user_id, CAST(n AS BIGINT) AS n,
             |       CAST(q_milli AS BIGINT) AS q_milli,
             |       CAST(CASE WHEN q_milli IS NOT NULL
             |            THEN (CASE WHEN q_milli > 7815 THEN 1 ELSE 0 END)
             |            END AS BIGINT) AS reject
             |FROM f ORDER BY user_id""".stripMargin)),

    // Kendall tau-b between daily activity and daily spend per event
    // type — the pair-semantics correlation on the DOMAIN-BOUNDED daily
    // rollup (≤31 points/type, so the textbook O(n²) pair frame is
    // tiny at any corpus size; corpus-scale monotone association is
    // q_spearman's job). Heavy ties are exactly what tau-b's n1/n2
    // corrections handle.
    Q("q_kendall_daily",
      (s, dir) => {
        val startUs = 1704067200000000L
        val daily = Tables.events(s, dir)
          .select(col("event_type").as("g"),
            floor((unix_micros(col("ts")) - startUs) / 86400000000.0)
              .cast("long").as("i"),
            floor(col("value") * 1000).cast("long").as("m"))
          .groupBy(col("g"), col("i"))
          .agg(count(lit(1)).as("x"), sum(col("m")).as("y"))
        Stats.kendallTauB(daily)
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH d AS (SELECT event_type,
             |         CAST(floor((epoch_us(ts) - 1704067200000000) / 86400000000.0) AS BIGINT) AS i,
             |         count(*) AS x, sum(CAST(floor(value*1000) AS BIGINT)) AS y
             |      FROM events GROUP BY 1, 2),
             |pr AS (SELECT a.event_type AS g, sign(b.x - a.x) AS sx,
             |              sign(b.y - a.y) AS sy
             |       FROM d a JOIN d b ON a.event_type = b.event_type AND a.i < b.i),
             |ag AS (SELECT g, count(*) AS n0,
             |              sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS conc,
             |              sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS disc,
             |              sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS n1,
             |              sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS n2
             |       FROM pr GROUP BY 1),
             |n AS (SELECT event_type AS g, count(*) AS n_pts FROM d GROUP BY 1)
             |SELECT n.g AS event_type, CAST(n_pts AS BIGINT) AS n_pts,
             |       CAST(conc AS BIGINT) AS conc, CAST(disc AS BIGINT) AS disc,
             |       CAST(sign(conc - disc) AS BIGINT) AS dir_sign,
             |       CAST(CASE WHEN (n0 - n1) * (n0 - n2) > 0
             |            THEN CAST(conc - disc AS HUGEINT) * (conc - disc) * 1000000
             |                 // (CAST(n0 - n1 AS HUGEINT) * (n0 - n2)) END AS BIGINT) AS tau2_ppm
             |FROM n JOIN ag USING (g) ORDER BY event_type""".stripMargin)),

    // Nearest-neighbor matched-pairs ATT per event type — the
    // observational-causal companion of q_cuped/q_diff_in_diff: each
    // "treated" user (odd id) matches the control user with the closest
    // PRE-period activity count, and the matched post-period spend gap
    // estimates the effect. The covariate axis is BANDED (the
    // q_write_split prefix-sum shape) so no per-type funnel window ever
    // runs; the oracle is the brute per-type argmin join with the
    // identical representative and tie contracts.
    Q("q_matched_pairs",
      (s, dir) => {
        val splitUs = 1705276800000000L
        val totals = Tables.events(s, dir)
          .select(col("event_type"), col("user_id"),
            (unix_micros(col("ts")) < splitUs).as("_pre"),
            floor(col("value") * 1000).cast("long").as("_v"))
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(when(col("_pre"), 1L).otherwise(0L)).as("x"),
            sum(when(!col("_pre"), col("_v")).otherwise(0L)).as("y"))
        Stats.nnMatchAtt(totals, col("event_type"),
            col("user_id") % 2 === 1, col("user_id"), col("x"), col("y"))
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |    sum(CASE WHEN epoch_us(ts) < 1705276800000000 THEN 1 ELSE 0 END) AS x,
             |    sum(CASE WHEN epoch_us(ts) >= 1705276800000000
             |        THEN CAST(floor(value*1000) AS BIGINT) ELSE 0 END) AS y
             |  FROM events GROUP BY 1, 2),
             |c AS (SELECT event_type, x AS cx, user_id AS cid, y AS cy
             |      FROM t WHERE user_id % 2 = 0
             |      QUALIFY row_number() OVER (PARTITION BY event_type, x
             |                                 ORDER BY user_id) = 1),
             |tr AS (SELECT event_type, user_id, x, y FROM t WHERE user_id % 2 = 1),
             |j AS (SELECT tr.event_type, tr.user_id, tr.x, tr.y, c.cx, c.cy
             |      FROM tr LEFT JOIN c USING (event_type)
             |      QUALIFY row_number() OVER (PARTITION BY tr.event_type, tr.user_id
             |                ORDER BY abs(c.cx - tr.x), c.cx, c.cid) = 1)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_treated,
             |       CAST(count(cx) AS BIGINT) AS n_matched,
             |       CAST(sum(CASE WHEN cx IS NOT NULL THEN y - cy END) AS BIGINT) AS sum_dy,
             |       CAST(CASE WHEN count(cx) > 0
             |            THEN CAST(sum(CASE WHEN cx IS NOT NULL THEN y - cy END) AS HUGEINT)
             |                 // count(cx) END AS BIGINT) AS att_mils,
             |       CAST(sum(CASE WHEN cx IS NOT NULL THEN abs(x - cx) END) AS BIGINT) AS sum_adx
             |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // CUPED variance-reduced experiment readout (Deng et al. 2013) —
    // q_abtest's production upgrade: each user's PRE-period total (x,
    // first half of the observation window) absorbs between-user
    // variance from the post-period metric (y), tightening the same
    // Δ the raw readout estimates. θ fit pooled, quantized to ppm so
    // both engines replay integer arithmetic end-to-end.
    Q("q_cuped",
      (s, dir) => {
        val splitUs = 1705276800000000L // 2024-01-15T00:00:00Z
        val ev = Tables.events(s, dir)
        val totals = ev
          .select(col("event_type"), col("user_id"),
            (unix_micros(col("ts")) < splitUs).as("_pre"),
            floor(col("value") * 1000).cast("long").as("_v"))
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(when(col("_pre"), col("_v")).otherwise(0L)).as("x"),
            sum(when(!col("_pre"), col("_v")).otherwise(0L)).as("y"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("x", "y"))
        Stats.cupedDelta(full, col("event_type"), col("user_id"), col("x"), col("y"))
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |  sum(CASE WHEN epoch_us(ts) < 1705276800000000 THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END) AS x,
             |  sum(CASE WHEN epoch_us(ts) >= 1705276800000000 THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END) AS y
             |  FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type, g.user_id, coalesce(t.x, 0) AS x,
             |             coalesce(t.y, 0) AS y,
             |             CASE WHEN g.user_id % 2 = 0 THEN 1 ELSE 0 END AS v
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |m AS (SELECT event_type, count(*) AS nn,
             |             sum(v) AS n0, sum(1 - v) AS n1,
             |             sum(x) AS sx, sum(y) AS sy,
             |             sum(CAST(x AS HUGEINT) * x) AS sxx,
             |             sum(CAST(x AS HUGEINT) * y) AS sxy,
             |             sum(x * v) AS sx0, sum(x * (1 - v)) AS sx1,
             |             sum(y * v) AS sy0, sum(y * (1 - v)) AS sy1
             |      FROM p GROUP BY 1),
             |f AS (SELECT event_type, n0, n1,
             |             nn * sxx - CAST(sx AS HUGEINT) * sx AS cd,
             |             nn * sxy - CAST(sx AS HUGEINT) * sy AS cn,
             |             CAST(sy0 AS HUGEINT) * n1 - CAST(sy1 AS HUGEINT) * n0 AS dy,
             |             CAST(sx0 AS HUGEINT) * n1 - CAST(sx1 AS HUGEINT) * n0 AS dx
             |      FROM m),
             |th AS (SELECT *, CASE WHEN cd > 0 THEN CAST(cn * 1000000 // cd AS BIGINT) END AS theta_ppm
             |       FROM f)
             |SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1, theta_ppm,
             |       CAST(CASE WHEN n0 > 0 AND n1 > 0
             |            THEN dy * 1000000 // (n0 * n1) END AS BIGINT) AS delta_raw_ppm,
             |       CAST(CASE WHEN n0 > 0 AND n1 > 0
             |            THEN (dy * 1000000 - coalesce(theta_ppm, 0) * dx) // (n0 * n1)
             |            END AS BIGINT) AS delta_cuped_ppm
             |FROM th ORDER BY event_type""".stripMargin)),

    // Difference-in-differences — the quasi-experimental estimator for
    // rollouts WITHOUT randomized assignment: the treated arm's
    // pre→post mean shift minus the control arm's removes any shared
    // time trend. Four cell means in floored mils per event_type
    // (variant by user parity, period split mid-window); one map-side
    // combinable aggregation is the only data-sized pass.
    Q("q_diff_in_diff",
      (s, dir) => {
        val splitUs = 1705276800000000L
        val cells = Tables.events(s, dir)
          .select(col("event_type"),
            (col("user_id") % 2 === 0).cast("long").as("_t"),
            (unix_micros(col("ts")) >= splitUs).cast("long").as("_post"),
            floor(col("value") * 1000).cast("long").as("_v"))
          .groupBy(col("event_type"))
          .agg(
            sum(when(col("_t") === 0 && col("_post") === 0, 1L).otherwise(0L)).as("n_pre_c"),
            sum(when(col("_t") === 0 && col("_post") === 1, 1L).otherwise(0L)).as("n_post_c"),
            sum(when(col("_t") === 1 && col("_post") === 0, 1L).otherwise(0L)).as("n_pre_t"),
            sum(when(col("_t") === 1 && col("_post") === 1, 1L).otherwise(0L)).as("n_post_t"),
            sum(when(col("_t") === 0 && col("_post") === 0, col("_v")).otherwise(0L)).as("_s_pre_c"),
            sum(when(col("_t") === 0 && col("_post") === 1, col("_v")).otherwise(0L)).as("_s_post_c"),
            sum(when(col("_t") === 1 && col("_post") === 0, col("_v")).otherwise(0L)).as("_s_pre_t"),
            sum(when(col("_t") === 1 && col("_post") === 1, col("_v")).otherwise(0L)).as("_s_post_t"))
        cells
          .withColumn("m_pre_c", expr("_s_pre_c DIV n_pre_c"))
          .withColumn("m_post_c", expr("_s_post_c DIV n_post_c"))
          .withColumn("m_pre_t", expr("_s_pre_t DIV n_pre_t"))
          .withColumn("m_post_t", expr("_s_post_t DIV n_post_t"))
          .withColumn("did_mils",
            (col("m_post_t") - col("m_pre_t")) - (col("m_post_c") - col("m_pre_c")))
          .select(col("event_type"), col("n_pre_c"), col("n_post_c"),
            col("n_pre_t"), col("n_post_t"), col("m_pre_c"), col("m_post_c"),
            col("m_pre_t"), col("m_post_t"), col("did_mils"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
             |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
             |    CASE WHEN epoch_us(ts) >= 1705276800000000 THEN 1 ELSE 0 END AS post,
             |    CAST(floor(value * 1000) AS BIGINT) AS v
             |  FROM events),
             |c AS (SELECT event_type,
             |    sum(CASE WHEN t = 0 AND post = 0 THEN 1 ELSE 0 END) AS n_pre_c,
             |    sum(CASE WHEN t = 0 AND post = 1 THEN 1 ELSE 0 END) AS n_post_c,
             |    sum(CASE WHEN t = 1 AND post = 0 THEN 1 ELSE 0 END) AS n_pre_t,
             |    sum(CASE WHEN t = 1 AND post = 1 THEN 1 ELSE 0 END) AS n_post_t,
             |    sum(CASE WHEN t = 0 AND post = 0 THEN v ELSE 0 END) AS s_pre_c,
             |    sum(CASE WHEN t = 0 AND post = 1 THEN v ELSE 0 END) AS s_post_c,
             |    sum(CASE WHEN t = 1 AND post = 0 THEN v ELSE 0 END) AS s_pre_t,
             |    sum(CASE WHEN t = 1 AND post = 1 THEN v ELSE 0 END) AS s_post_t
             |  FROM e GROUP BY 1),
             |m AS (SELECT *, s_pre_c // n_pre_c AS m_pre_c, s_post_c // n_post_c AS m_post_c,
             |             s_pre_t // n_pre_t AS m_pre_t, s_post_t // n_post_t AS m_post_t
             |      FROM c)
             |SELECT event_type, CAST(n_pre_c AS BIGINT) AS n_pre_c,
             |       CAST(n_post_c AS BIGINT) AS n_post_c,
             |       CAST(n_pre_t AS BIGINT) AS n_pre_t,
             |       CAST(n_post_t AS BIGINT) AS n_post_t,
             |       CAST(m_pre_c AS BIGINT) AS m_pre_c, CAST(m_post_c AS BIGINT) AS m_post_c,
             |       CAST(m_pre_t AS BIGINT) AS m_pre_t, CAST(m_post_t AS BIGINT) AS m_post_t,
             |       CAST((m_post_t - m_pre_t) - (m_post_c - m_pre_c) AS BIGINT) AS did_mils
             |FROM m ORDER BY event_type""".stripMargin)),

    // Per-user best single change point (binary segmentation) — the
    // level-shift LOCATOR: argmax over splits t of the cleared
    // between-segment separation (n·P_t − t·T)² DIV (t·(n−t)), ties to
    // the smallest t. One group-collect shuffle + a row-local fold
    // (the EWMA/CUSUM recurrence family); the oracle replays the same
    // floor-divisions through window prefix sums.
    Q("q_changepoint",
      (s, dir) =>
        TimeSeries.changepointSplit(Tables.events(s, dir), "user_id",
          unix_micros(col("ts")), col("event_id"), col("value"))
          .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
             |                  CAST(floor(value * 1000) AS BIGINT) AS v
             |           FROM events),
             |w AS (SELECT user_id, v,
             |        row_number() OVER win AS rn,
             |        sum(v) OVER (win ROWS UNBOUNDED PRECEDING) AS p,
             |        count(*) OVER (PARTITION BY user_id) AS n,
             |        sum(v) OVER (PARTITION BY user_id) AS tt
             |      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tus, event_id)),
             |s AS (SELECT user_id, n, rn AS t,
             |        (CAST(n * p - rn * tt AS HUGEINT) * (n * p - rn * tt))
             |          // (rn * (n - rn)) AS sc
             |      FROM w WHERE rn < n),
             |b AS (SELECT user_id, n, t, sc,
             |        row_number() OVER (PARTITION BY user_id ORDER BY sc DESC, t ASC) AS r
             |      FROM s),
             |u AS (SELECT user_id, max(n) AS n FROM w GROUP BY 1)
             |SELECT u.user_id, CAST(u.n AS BIGINT) AS n,
             |       CAST(b.t AS BIGINT) AS t_split, CAST(b.sc AS BIGINT) AS s_max
             |FROM u LEFT JOIN b ON u.user_id = b.user_id AND b.r = 1
             |ORDER BY u.user_id""".stripMargin)),

    // Per-node local clustering coefficient over the part co-purchase
    // graph — q_triangle_count's per-node density profile: cc = 2·T(v)
    // / (d·(d−1)) in exact ppm. Triangles from the same degree-oriented
    // O(m^1.5) middle-vertex join (per-node counts are orientation-
    // independent, so the oracle's wedge-adjacency form agrees);
    // degree-1 nodes report NULL (undefined), triangle-free nodes 0.
    Q("q_clustering_coeff",
      (s, dir) => {
        val und = coEdges(s, dir)
        Graph.clusteringCoeff(und).orderBy("node")
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |und AS (SELECT DISTINCT a.p AS u, b.p AS v
             |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
             |e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
             |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
             |tri AS (SELECT x.u AS node, CAST(count(*) AS BIGINT) AS n_tri
             |        FROM e x JOIN e y ON x.u = y.u AND x.v < y.v
             |             JOIN und z ON z.u = x.v AND z.v = y.v
             |        GROUP BY 1)
             |SELECT deg.node, deg.d, coalesce(tri.n_tri, 0) AS n_tri,
             |       CAST(CASE WHEN deg.d >= 2
             |            THEN 2 * coalesce(tri.n_tri, 0) * 1000000 // (deg.d * (deg.d - 1))
             |            END AS BIGINT) AS cc_ppm
             |FROM deg LEFT JOIN tri USING (node) ORDER BY node""".stripMargin)),

    // Resource-allocation link prediction (Zhou-Lü-Zhang 2009) —
    // q_link_predict's hub-discounting upgrade: each common neighbor w
    // contributes floor(10⁹/d(w)), so rare shared neighbors dominate
    // and hub middles wash out. Integer-exact (the weight floors ONCE
    // per middle, then sums — no post-sum division); same wedge-join
    // cost class, top-50 via TakeOrdered.
    Q("q_link_ra",
      (s, dir) => {
        val und = coEdges2(s, dir)
        Graph.linkPredictRA(und, topK = 50)
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |und AS (SELECT a.p AS u, b.p AS v FROM lp a JOIN lp b
             |        ON a.o = b.o AND a.p < b.p
             |        GROUP BY 1, 2 HAVING count(*) >= 2),
             |e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
             |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
             |wd AS (SELECT e.u, e.v, CAST(1000000000 // deg.d AS BIGINT) AS w
             |       FROM e JOIN deg USING (u)),
             |cn AS (SELECT x.v AS a, y.v AS b, CAST(count(*) AS BIGINT) AS common_n,
             |              CAST(sum(x.w) AS BIGINT) AS ra_ppb
             |       FROM wd x JOIN wd y ON x.u = y.u AND x.v < y.v
             |       GROUP BY 1, 2)
             |SELECT cn.a, cn.b, cn.common_n, cn.ra_ppb FROM cn
             |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = cn.a AND e.v = cn.b)
             |ORDER BY ra_ppb DESC, a, b LIMIT 50""".stripMargin)),

    // Cohort lifetime-value curves — q_retention_cohort's revenue twin:
    // customers bucketed by first-order week, cumulative revenue by
    // week offset (the payback-period readout). Revenue exact in
    // cents; the cumulative window runs over the aggregated
    // (cohort × offset) frame — domain-bounded, never event-sized.
    Q("q_cohort_ltv",
      (s, dir) => {
        val o = Tables.orders(s, dir).select(col("o_custkey").as("c"),
          expr("unix_micros(date_trunc('week', o_orderdate))").as("wk_us"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        val cohort = o.groupBy(col("c")).agg(min(col("wk_us")).as("cohort_us"))
        val cell = o.join(cohort, "c")
          .withColumn("offset_w", expr("(wk_us - cohort_us) DIV 604800000000"))
          .groupBy(col("cohort_us"), col("offset_w"))
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
        val w = Window.partitionBy(col("cohort_us")).orderBy(col("offset_w"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cell.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
          .orderBy("cohort_us", "offset_w")
      },
      Some("""WITH o AS (SELECT o_custkey AS c,
             |                  epoch_us(date_trunc('week', o_orderdate)) AS wk_us,
             |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
             |           FROM orders),
             |ch AS (SELECT c, min(wk_us) AS cohort_us FROM o GROUP BY 1),
             |cell AS (SELECT ch.cohort_us, (o.wk_us - ch.cohort_us) // 604800000000 AS offset_w,
             |                CAST(count(*) AS BIGINT) AS n_orders,
             |                sum(o.cents) AS rev_cents
             |         FROM o JOIN ch USING (c) GROUP BY 1, 2)
             |SELECT cohort_us, offset_w, n_orders, CAST(rev_cents AS BIGINT) AS rev_cents,
             |       CAST(sum(rev_cents) OVER (PARTITION BY cohort_us ORDER BY offset_w
             |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
             |FROM cell ORDER BY cohort_us, offset_w""".stripMargin)),

    // Pearson χ² independence over the event-type × weekday contingency
    // table — the categorical omnibus (q_anova asks it of means): does
    // the event mix depend on the day? Per-cell observed, expected-ppm
    // and χ²-contribution-ppm, one floor-division each; ONE map-side
    // (type, dow) count is the only data-sized pass.
    Q("q_chi2_contingency",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
        Stats.chi2Contingency(e, col("event_type"), col("dow"))
          .withColumnRenamed("r", "event_type").withColumnRenamed("c", "dow")
          .orderBy("event_type", "dow")
      },
      Some("""WITH e AS (SELECT event_type, dayofweek(ts) + 1 AS dow FROM events),
             |cell AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
             |         FROM e GROUP BY 1, 2),
             |rm AS (SELECT event_type, sum(o) AS rr FROM cell GROUP BY 1),
             |cm AS (SELECT dow, sum(o) AS cc FROM cell GROUP BY 1),
             |tot AS (SELECT sum(o) AS n FROM cell),
             |grid AS (SELECT rm.event_type, cm.dow, rm.rr, cm.cc,
             |                coalesce(cell.o, 0) AS o
             |         FROM rm CROSS JOIN cm
             |              LEFT JOIN cell USING (event_type, dow))
             |SELECT event_type, CAST(dow AS BIGINT) AS dow, o,
             |       CAST(1000000 * rr * cc // n AS BIGINT) AS e_ppm,
             |       CAST(1000000 * CAST(o * n - rr * cc AS HUGEINT) * (o * n - rr * cc)
             |            // (CAST(n AS HUGEINT) * rr * cc) AS BIGINT) AS contrib_ppm
             |FROM grid CROSS JOIN tot
             |ORDER BY event_type, dow""".stripMargin)),

    // Two-proportion z² — the conversion-rate experiment readout
    // (q_abtest tests means; conversion products test "did the user do
    // it at all"): converted = any event with value > 250 in the
    // window, dense user grid so absent users count as not-converted,
    // pooled z² cleared to ONE floor-division.
    Q("q_ab_proportions",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val conv = ev.groupBy(col("event_type"), col("user_id"))
          .agg(max((col("value") > 250.0).cast("long")).as("c"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(conv, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("c"))
        Stats.abProportionsZ2(full, col("event_type"), col("user_id"), col("c"))
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  max(CASE WHEN value > 250.0 THEN 1 ELSE 0 END) AS c
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type, g.user_id, coalesce(t.c, 0) AS c,
             |             CASE WHEN g.user_id % 2 = 0 THEN 1 ELSE 0 END AS v
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |m AS (SELECT event_type,
             |             CAST(sum(v) AS BIGINT) AS n0, CAST(sum(1 - v) AS BIGINT) AS n1,
             |             CAST(sum(c * v) AS BIGINT) AS x0,
             |             CAST(sum(c * (1 - v)) AS BIGINT) AS x1
             |      FROM p GROUP BY 1),
             |f AS (SELECT *, CAST(x0 AS HUGEINT) * n1 - CAST(x1 AS HUGEINT) * n0 AS d,
             |             CAST(x0 + x1 AS HUGEINT) * (n0 + n1 - x0 - x1) AS s
             |      FROM m)
             |SELECT event_type, n0, n1, x0, x1,
             |       CAST(CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END AS BIGINT)
             |         AS rate_diff_sign,
             |       CAST(CASE WHEN n0 > 0 AND n1 > 0 AND s > 0
             |            THEN d * d * (n0 + n1) * 1000000 // (n0 * n1 * s) END AS BIGINT)
             |         AS z2_ppm
             |FROM f ORDER BY event_type""".stripMargin)),

    // Newman modularity of the LPA partition — closes the community
    // loop (q_label_prop assigns, this scores): per community
    // q_ppm = 10⁶·(4·m·e_c − d_c²) DIV 4m², Σ ≈ 10⁶·Q. Same fixed-round
    // LPA as q_label_prop (stable frames are fixpoints, so the early
    // exit preserves round-4 semantics); the oracle replays the LPA
    // rounds verbatim then the same per-community floor.
    Q("q_modularity",
      (s, dir) => {
        val und = coEdges2(s, dir)
        Graph.modularity(und, Graph.labelPropagation(und, rounds = 4))
          .orderBy("label")
      },
      Some {
        val rounds = (1 to 4).map { i =>
          s"""c$i AS MATERIALIZED (SELECT e.u, l.label, count(*) AS cnt
             |  FROM e JOIN l${i - 1} l ON e.v = l.node GROUP BY 1, 2),
             |l$i AS MATERIALIZED (SELECT u AS node, label FROM (
             |  SELECT u, label,
             |         row_number() OVER (PARTITION BY u ORDER BY cnt DESC, label) AS rn
             |  FROM c$i) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |und AS (SELECT a.p AS u, b.p AS v FROM lp a JOIN lp b
           |        ON a.o = b.o AND a.p < b.p
           |        GROUP BY 1, 2 HAVING count(*) >= 2),
           |e AS MATERIALIZED (SELECT u, v FROM und UNION SELECT v, u FROM und),
           |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM e),
           |$rounds,
           |lab AS (SELECT node, label FROM l4),
           |ein AS (SELECT la.label, CAST(count(*) AS BIGINT) AS e_in
           |        FROM und JOIN lab la ON und.u = la.node
           |                 JOIN lab lb ON und.v = lb.node
           |        WHERE la.label = lb.label GROUP BY 1),
           |deg AS (SELECT n AS node, CAST(count(*) AS BIGINT) AS d
           |        FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
           |dt AS (SELECT lab.label, CAST(count(*) AS BIGINT) AS n_nodes,
           |              CAST(sum(deg.d) AS BIGINT) AS d_tot
           |       FROM deg JOIN lab USING (node) GROUP BY 1),
           |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und)
           |SELECT dt.label, dt.n_nodes, coalesce(ein.e_in, 0) AS e_in, dt.d_tot,
           |       CAST(1000000 * (4 * m * coalesce(ein.e_in, 0)
           |              - CAST(dt.d_tot AS HUGEINT) * dt.d_tot)
           |            // (4 * CAST(m AS HUGEINT) * m) AS BIGINT) AS q_ppm
           |FROM dt LEFT JOIN ein USING (label) CROSS JOIN mm
           |ORDER BY label""".stripMargin
      }),

    // Community conductance of the SAME LPA partition q_modularity
    // scores — the boundary-leakiness view (φ = cut/min(vol, 2m−vol)):
    // modularity says the partition beats the random null overall;
    // conductance names the specific communities whose cut edges make
    // them merge candidates. Identical frames (tag joins, intra count,
    // degree rollup), different final arithmetic; the oracle replays
    // the same LPA rounds.
    Q("q_conductance",
      (s, dir) => {
        val und = coEdges2(s, dir)
        Graph.conductance(und, Graph.labelPropagation(und, rounds = 4))
          .orderBy("label")
      },
      Some {
        val rounds = (1 to 4).map { i =>
          s"""c$i AS MATERIALIZED (SELECT e.u, l.label, count(*) AS cnt
             |  FROM e JOIN l${i - 1} l ON e.v = l.node GROUP BY 1, 2),
             |l$i AS MATERIALIZED (SELECT u AS node, label FROM (
             |  SELECT u, label,
             |         row_number() OVER (PARTITION BY u ORDER BY cnt DESC, label) AS rn
             |  FROM c$i) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |und AS (SELECT a.p AS u, b.p AS v FROM lp a JOIN lp b
           |        ON a.o = b.o AND a.p < b.p
           |        GROUP BY 1, 2 HAVING count(*) >= 2),
           |e AS MATERIALIZED (SELECT u, v FROM und UNION SELECT v, u FROM und),
           |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM e),
           |$rounds,
           |lab AS (SELECT node, label FROM l4),
           |ein AS (SELECT la.label, CAST(count(*) AS BIGINT) AS e_in
           |        FROM und JOIN lab la ON und.u = la.node
           |                 JOIN lab lb ON und.v = lb.node
           |        WHERE la.label = lb.label GROUP BY 1),
           |deg AS (SELECT n AS node, CAST(count(*) AS BIGINT) AS d
           |        FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
           |dt AS (SELECT lab.label, CAST(count(*) AS BIGINT) AS n_nodes,
           |              CAST(sum(deg.d) AS BIGINT) AS d_tot
           |       FROM deg JOIN lab USING (node) GROUP BY 1),
           |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
           |f AS (SELECT dt.label, dt.n_nodes, coalesce(ein.e_in, 0) AS e_in,
           |             dt.d_tot - 2 * coalesce(ein.e_in, 0) AS cut,
           |             least(dt.d_tot, 2 * mm.m - dt.d_tot) AS den
           |      FROM dt LEFT JOIN ein USING (label) CROSS JOIN mm)
           |SELECT label, n_nodes, e_in, cut,
           |       CAST(CASE WHEN den > 0 THEN cut * 1000000 // den END AS BIGINT)
           |         AS phi_ppm
           |FROM f ORDER BY label""".stripMargin
      }),

    // Gini concentration of per-user spend per event type — the
    // inequality census ("do 1% of users drive 90% of volume?"),
    // computed EXACTLY from the binned-total histogram so no
    // per-entity rank window runs: totals bin to units (mils DIV
    // 1000), then the closed-form tie-block rank sum over the
    // domain-bounded (type, unit) histogram. One map-side histogram
    // pass is all that touches data.
    Q("q_gini_wealth",
      (s, dir) => {
        val totals = Tables.events(s, dir)
          .groupBy(col("event_type"), col("user_id"))
          .agg(expr("sum(CAST(floor(value * 1000) AS BIGINT)) DIV 1000").as("x"))
        Stats.giniConcentration(totals, col("event_type"), col("x"))
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) // 1000 AS x
             |           FROM events GROUP BY 1, 2),
             |h AS (SELECT event_type, x, CAST(count(*) AS BIGINT) AS c
             |      FROM t GROUP BY 1, 2),
             |p AS (SELECT event_type, x, c,
             |        coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY x
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
             |      FROM h),
             |m AS (SELECT event_type, sum(c) AS n, sum(x * c) AS total,
             |             sum(CAST(x AS HUGEINT) * (2 * cp * c + c * (c + 1))) AS s2
             |      FROM p GROUP BY 1)
             |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total,
             |       CAST(CASE WHEN n > 0 AND total > 0
             |            THEN (s2 - CAST(n + 1 AS HUGEINT) * total) * 1000000
             |                 // (CAST(n AS HUGEINT) * total) END AS BIGINT) AS gini_ppm
             |FROM m ORDER BY event_type""".stripMargin)),

    // ε-DP count release (geometric mechanism, ε = ln 2) — the
    // integer-exact DP noise for counting queries (Ghosh et al. 2009):
    // per (type, day), true count + two-sided geometric noise from the
    // key's seeded uniform against the COMPILE-TIME inverse-CDF ppm
    // ladder (the PoissonPpm trick — no logs at runtime, both engines
    // compare identical literals), non-negativity post-processing.
    Q("q_dp_counts",
      (s, dir) => {
        val e = Tables.events(s, dir).select(col("event_type"),
          expr("unix_micros(date_trunc('day', ts))").as("day_us"))
        Stats.dpGeometricCounts(e, Seq(col("event_type"), col("day_us")))
          .withColumnRenamed("_k0", "event_type").withColumnRenamed("_k1", "day_us")
          .orderBy("event_type", "day_us")
      },
      Some {
        val noise = Stats.geoNoiseCaseSql("uu")
        s"""WITH c AS (SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
           |                  CAST(count(*) AS BIGINT) AS n_true
           |           FROM events GROUP BY 1, 2),
           |u AS (SELECT *, CAST(('0x' || substr(md5(event_type || '|' || day_us), 1, 12))
           |                     AS BIGINT) % 1000000 AS uu FROM c),
           |nz AS (SELECT event_type, day_us, n_true, CAST($noise AS BIGINT) AS noise FROM u)
           |SELECT event_type, day_us, n_true, noise,
           |       greatest(n_true + noise, 0) AS n_noisy
           |FROM nz ORDER BY event_type, day_us""".stripMargin
      }),

    // Wald–Wolfowitz runs test — the randomness audit for per-user
    // metric streams (bot-like alternation or stuck runs both fail):
    // per (type, user) binary sequence (value > 250 in time order),
    // z² cleared to one floor-division, aggregated per type to
    // sequences / testable / rejecting-at-5%. ONE entity-keyed window
    // + two map-side aggs.
    Q("q_runs_test",
      (s, dir) =>
        Stats.runsTest(Tables.events(s, dir), col("event_type"), col("user_id"),
          unix_micros(col("ts")), col("event_id"), (col("value") > 250.0).cast("long"))
          .withColumnRenamed("g", "event_type").orderBy("event_type"),
      Some("""WITH e AS (SELECT event_type, user_id, epoch_us(ts) AS t, event_id AS i,
             |                  CASE WHEN value > 250.0 THEN 1 ELSE 0 END AS b
             |           FROM events),
             |m AS (SELECT event_type, user_id, b,
             |        CASE WHEN lag(b) OVER w IS NULL THEN 1
             |             WHEN b <> lag(b) OVER w THEN 1 ELSE 0 END AS chg
             |      FROM e WINDOW w AS (PARTITION BY event_type, user_id ORDER BY t, i)),
             |p AS (SELECT event_type, user_id, sum(chg) AS r,
             |             sum(1 - b) AS n0, sum(b) AS n1
             |      FROM m GROUP BY 1, 2),
             |s AS (SELECT event_type,
             |        CASE WHEN n0 >= 1 AND n1 >= 1 AND 2 * n0 * n1 > n0 + n1 THEN
             |          ((r - 1) * (n0 + n1) - 2 * n0 * n1)
             |            * ((r - 1) * (n0 + n1) - 2 * n0 * n1)
             |            * (n0 + n1 - 1) * 1000000
             |          // (2 * n0 * n1 * (2 * n0 * n1 - (n0 + n1))) END AS z2
             |      FROM p)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_seq,
             |       CAST(sum(CASE WHEN z2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tested,
             |       CAST(sum(CASE WHEN z2 > 3841459 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonrandom
             |FROM s GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Paired t² on per-user pre→post spend changes — the WITHIN-user
    // readout (q_abtest compares two user populations; this absorbs all
    // between-user variance by differencing each user against itself):
    // d = post − pre on the dense grid, t² cleared to one division.
    Q("q_ttest_paired",
      (s, dir) => {
        val splitUs = 1705276800000000L
        val ev = Tables.events(s, dir)
        val totals = ev
          .select(col("event_type"), col("user_id"),
            (unix_micros(col("ts")) < splitUs).as("_pre"),
            floor(col("value") * 1000).cast("long").as("_v"))
          .groupBy(col("event_type"), col("user_id"))
          .agg((sum(when(!col("_pre"), col("_v")).otherwise(0L)) -
            sum(when(col("_pre"), col("_v")).otherwise(0L))).as("d"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("d"))
        Stats.pairedT2(full, col("event_type"), col("user_id"), col("d"))
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |  sum(CASE WHEN epoch_us(ts) >= 1705276800000000 THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END)
             |  - sum(CASE WHEN epoch_us(ts) < 1705276800000000 THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END) AS d
             |  FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type, coalesce(t.d, 0) AS d
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(d) AS BIGINT) AS sum_d,
             |             sum(CAST(d AS HUGEINT) * d) AS q
             |      FROM p GROUP BY 1),
             |f AS (SELECT *, n * q - CAST(sum_d AS HUGEINT) * sum_d AS den FROM m)
             |SELECT event_type, n, sum_d,
             |       CAST(CASE WHEN sum_d > 0 THEN 1 WHEN sum_d < 0 THEN -1 ELSE 0 END
             |            AS BIGINT) AS dir_sign,
             |       CAST(CASE WHEN n > 1 AND den > 0
             |            THEN CAST(sum_d AS HUGEINT) * sum_d * (n - 1) * 1000000 // den
             |            END AS BIGINT) AS t2_ppm
             |FROM f ORDER BY event_type""".stripMargin)),

    // Degree assortativity of the part co-purchase graph — does it
    // wire hubs to hubs (r > 0) or hubs to leaves (r < 0)? Pearson on
    // endpoint degrees over the directed edge list, r² in ppm via the
    // spearman two-floored-division trick, sign separate.
    Q("q_assortativity",
      (s, dir) => {
        val und = coEdges(s, dir)
        Graph.assortativity(und)
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |und AS (SELECT DISTINCT a.p AS u, b.p AS v
             |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
             |e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
             |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
             |pr AS (SELECT du.d AS x, dv.d AS y
             |       FROM e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             |             sum(x) AS sx, sum(y) AS sy,
             |             sum(CAST(x AS HUGEINT) * x) AS sxx,
             |             sum(CAST(y AS HUGEINT) * y) AS syy,
             |             sum(CAST(x AS HUGEINT) * y) AS sxy
             |      FROM pr),
             |f AS (SELECT n_pairs,
             |             n_pairs * sxy - CAST(sx AS HUGEINT) * sy AS num,
             |             n_pairs * sxx - CAST(sx AS HUGEINT) * sx AS dx,
             |             n_pairs * syy - CAST(sy AS HUGEINT) * sy AS dy
             |      FROM m)
             |SELECT n_pairs,
             |       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
             |            AS BIGINT) AS dir_sign,
             |       CAST(CASE WHEN dx > 0 AND dy > 0
             |            THEN (num * num // dx) * 1000000 // dy END AS BIGINT) AS r2_ppm
             |FROM f""".stripMargin)),

    // Markov steady state — 8 power-iteration rounds over the
    // event-type transition matrix (the long-run visit distribution
    // q_markov's one-step probabilities imply): rank flows as
    // floor(rank·n/tot) per transition at scale 10⁹, the q_pagerank
    // integer trail on a DOMAIN-BOUNDED (K² counts) staged frame.
    Q("q_markov_steady",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val t = Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("event_type"))
          .withColumn("from_type", lag(col("event_type"), 1).over(w))
          .filter(col("from_type").isNotNull)
        val cnt = t.groupBy(col("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = cnt.groupBy(col("from_type")).agg(sum(col("n")).as("_tot"))
        val trans = graft.store.Staging.stage(cnt.join(tot, "from_type"), "markov_trans")
        val states = trans.select(col("from_type").as("state")).distinct()
        var r = states
          .crossJoin(broadcast(states.agg(count(lit(1)).as("_k"))))
          .select(col("state"), expr("CAST(1000000000 DIV _k AS BIGINT)").as("rank"))
        (1 to 8).foreach { _ =>
          r = trans.join(r.withColumnRenamed("state", "from_type"), Seq("from_type"))
            .select(col("to_type").as("state"),
              expr("CAST(rank * n DIV _tot AS BIGINT)").as("_c"))
            .groupBy(col("state")).agg(sum(col("_c")).as("rank"))
        }
        r.orderBy("state")
      },
      Some {
        val rounds = (1 to 8).map { i =>
          s"""r$i AS MATERIALIZED (
             |  SELECT c.to_type AS state, sum(r.rank * c.n // c.tot) AS rank
             |  FROM c JOIN r${i - 1} r ON c.from_type = r.state GROUP BY 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH t AS (SELECT event_type AS to_type,
           |                  lag(event_type) OVER (PARTITION BY user_id
           |                    ORDER BY epoch_us(ts), event_id) AS from_type
           |           FROM events),
           |cn AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
           |       FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
           |c AS MATERIALIZED (SELECT cn.*, tot.tot FROM cn JOIN
           |     (SELECT from_type, sum(n) AS tot FROM cn GROUP BY 1) tot USING (from_type)),
           |r0 AS (SELECT DISTINCT from_type AS state,
           |              CAST(1000000000 // (SELECT count(DISTINCT from_type) FROM c) AS BIGINT) AS rank
           |       FROM c),
           |$rounds
           |SELECT state, CAST(rank AS BIGINT) AS rank FROM r8 ORDER BY state""".stripMargin
      }),

    // Cramér's V — the EFFECT SIZE q_chi2_contingency's p-value-scale
    // statistic lacks (χ² grows with N; V is comparable across
    // corpora): V² = χ²/(N·(min(r,c)−1)), one extra floor over the
    // summed cell contributions.
    Q("q_cramers_v",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
        Stats.chi2Contingency(e, col("event_type"), col("dow"))
          .agg(sum(col("o")).as("n"),
            countDistinct(col("r")).as("r_levels"),
            countDistinct(col("c")).as("c_levels"),
            sum(col("contrib_ppm")).as("chi2_ppm"))
          .withColumn("v2_ppm",
            expr("chi2_ppm DIV (n * (least(r_levels, c_levels) - 1))"))
          .orderBy("n")
      },
      Some("""WITH e AS (SELECT event_type, dayofweek(ts) + 1 AS dow FROM events),
             |cell AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
             |         FROM e GROUP BY 1, 2),
             |rm AS (SELECT event_type, sum(o) AS rr FROM cell GROUP BY 1),
             |cm AS (SELECT dow, sum(o) AS cc FROM cell GROUP BY 1),
             |tot AS (SELECT sum(o) AS nn FROM cell),
             |grid AS (SELECT rm.event_type, cm.dow, rm.rr, cm.cc,
             |                coalesce(cell.o, 0) AS o
             |         FROM rm CROSS JOIN cm
             |              LEFT JOIN cell USING (event_type, dow)),
             |ct AS (SELECT o,
             |         CAST(1000000 * CAST(o * nn - rr * cc AS HUGEINT) * (o * nn - rr * cc)
             |              // (CAST(nn AS HUGEINT) * rr * cc) AS BIGINT) AS contrib_ppm,
             |         event_type, dow
             |       FROM grid CROSS JOIN tot)
             |SELECT CAST(sum(o) AS BIGINT) AS n,
             |       CAST(count(DISTINCT event_type) AS BIGINT) AS r_levels,
             |       CAST(count(DISTINCT dow) AS BIGINT) AS c_levels,
             |       CAST(sum(contrib_ppm) AS BIGINT) AS chi2_ppm,
             |       CAST(sum(contrib_ppm) // (sum(o) * (least(count(DISTINCT event_type),
             |            count(DISTINCT dow)) - 1)) AS BIGINT) AS v2_ppm
             |FROM ct ORDER BY n""".stripMargin)),

    // Additive Holt-Winters weekly forecast — the SEASONAL member of
    // the forecasting family (q_trend_holt has level+trend;
    // q_forecast_snaive is pure seasonality; this learns both): dyadic
    // smoothing (α=1/2, β=γ=1/4) folds per-type daily totals through
    // the integer triple-smoothing recurrence, then forecasts 7 days
    // out. One (type, day) agg + group-collect + row-local fold; the
    // oracle replays the recurrence as a per-type recursive CTE with
    // the seasonal state as 7 columns.
    Q("q_trend_hw",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            expr("unix_micros(date_trunc('day', ts))").as("day_us"))
          .agg(sum(floor(col("value"))).cast("long").as("y"))
        TimeSeries.holtWinters(daily, "event_type", col("day_us"), col("y"),
            period = 7, horizon = 7)
          .orderBy("event_type", "h")
      },
      Some {
        val sJ = "(CASE r.rn % 7 " +
          (0 to 6).map(k => s"WHEN $k THEN r.s$k").mkString(" ") + " END)"
        val lNew = s"CAST(floor((t.y - $sJ + r.l + r.b) / 2.0) AS BIGINT)"
        val sCols = (0 to 6).map { k =>
          s"""CASE WHEN r.rn % 7 = $k
             |  THEN CAST(floor((t.y - $lNew + 3 * $sJ) / 4.0) AS BIGINT)
             |  ELSE r.s$k END AS s$k""".stripMargin
        }.mkString(",\n")
        val zeros = (0 to 6).map(k => s"CAST(0 AS BIGINT) AS s$k").mkString(", ")
        val sFinal = (0 to 6).map(k => s"arg_max(s$k, rn) AS s$k").mkString(", ")
        val sPick = "(CASE (f.n - 1 + h.h) % 7 " +
          (0 to 6).map(k => s"WHEN $k THEN f.s$k").mkString(" ") + " END)"
        s"""WITH RECURSIVE d AS (
           |  SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
           |         CAST(sum(floor(value)) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |t0 AS (SELECT event_type,
           |              row_number() OVER (PARTITION BY event_type ORDER BY day_us) AS rn,
           |              y
           |       FROM d),
           |r AS (
           |  SELECT event_type, rn, y AS l, CAST(0 AS BIGINT) AS b, $zeros
           |  FROM t0 WHERE rn = 1
           |  UNION ALL
           |  SELECT t.event_type, t.rn, $lNew,
           |         CAST(floor(($lNew - r.l + 3 * r.b) / 4.0) AS BIGINT),
           |         $sCols
           |  FROM r JOIN t0 t ON t.event_type = r.event_type AND t.rn = r.rn + 1),
           |f AS (SELECT event_type, CAST(max(rn) AS BIGINT) AS n,
           |             arg_max(l, rn) AS l, arg_max(b, rn) AS b, $sFinal
           |      FROM r GROUP BY event_type)
           |SELECT f.event_type, f.n, CAST(h.h AS BIGINT) AS h,
           |       CAST(f.l + h.h * f.b + $sPick AS BIGINT) AS fc
           |FROM f CROSS JOIN (SELECT unnest(range(1, 8)) AS h) h
           |ORDER BY f.event_type, h""".stripMargin
      }),

    // Lorenz curve deciles — the distributional detail q_gini_wealth's
    // single coefficient summarizes ("the bottom 50% of users hold X%
    // of spend"): population decile ranks resolved against the SAME
    // domain-bounded (type, unit-bin) histogram (prefix counts + prefix
    // values), so rank→cum-value lookup is a histogram-frame join, and
    // no per-entity sort runs anywhere.
    Q("q_lorenz_deciles",
      (s, dir) => {
        val totals = Tables.events(s, dir)
          .groupBy(col("event_type"), col("user_id"))
          .agg(expr("sum(CAST(floor(value * 1000) AS BIGINT)) DIV 1000").as("x"))
        val hist = totals.groupBy(col("event_type"), col("x"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val pre = hist
          .withColumn("cp", coalesce(sum(col("c")).over(w), lit(0L)))
          .withColumn("pv", coalesce(sum(col("x") * col("c")).over(w), lit(0L)))
        val tot = hist.groupBy(col("event_type"))
          .agg(sum(col("c")).as("n"), sum(col("x") * col("c")).as("total"))
        val deciles = tot
          .select(col("event_type"), col("n"), col("total"),
            explode(expr("sequence(1, 10)")).as("decile"))
          .withColumn("r", expr("n * decile DIV 10"))
        deciles.join(pre, Seq("event_type"))
          .filter(col("cp") < col("r") && col("r") <= col("cp") + col("c"))
          .withColumn("cum_units", col("pv") + (col("r") - col("cp")) * col("x"))
          .withColumn("share_ppm",
            when(col("total") > 0, expr("cum_units * 1000000 DIV total")).otherwise(0L))
          .select(col("event_type"), col("decile").cast("long").as("decile"),
            col("r"), col("cum_units"), col("share_ppm"))
          .orderBy("event_type", "decile")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) // 1000 AS x
             |           FROM events GROUP BY 1, 2),
             |h AS (SELECT event_type, x, CAST(count(*) AS BIGINT) AS c
             |      FROM t GROUP BY 1, 2),
             |p AS (SELECT event_type, x, c,
             |        coalesce(sum(c) OVER w, 0) AS cp,
             |        coalesce(sum(x * c) OVER w, 0) AS pv
             |      FROM h WINDOW w AS (PARTITION BY event_type ORDER BY x
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |tot AS (SELECT event_type, sum(c) AS n, sum(x * c) AS total
             |        FROM h GROUP BY 1),
             |d AS (SELECT event_type, n, total, dd.decile, n * dd.decile // 10 AS r
             |      FROM tot CROSS JOIN (SELECT unnest(range(1, 11)) AS decile) dd)
             |SELECT d.event_type, CAST(d.decile AS BIGINT) AS decile,
             |       CAST(d.r AS BIGINT) AS r,
             |       CAST(p.pv + (d.r - p.cp) * p.x AS BIGINT) AS cum_units,
             |       CAST(CASE WHEN d.total > 0
             |            THEN (p.pv + (d.r - p.cp) * p.x) * 1000000 // d.total
             |            ELSE 0 END AS BIGINT) AS share_ppm
             |FROM d JOIN p ON d.event_type = p.event_type
             |       AND p.cp < d.r AND d.r <= p.cp + p.c
             |ORDER BY d.event_type, decile""".stripMargin)),

    // Variance-to-mean ratio (index of dispersion) of per-user event
    // counts — the count-model audit (Poisson ⇒ VMR = 1; VMR ≫ 1 says
    // negative-binomial burstiness, VMR < 1 says regularity/caps):
    // vmr_ppm = 10⁶·(nΣx²−(Σx)²) DIV ((n−1)·Σx) over the dense user
    // grid, one cleared division.
    Q("q_vmr",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val counts = ev.groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("x"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(counts, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("x"))
        full.groupBy(col("event_type")).agg(
            count(lit(1)).as("n"), sum(col("x")).as("_sx"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("_sxx"))
          .withColumn("mean_mils", expr("_sx * 1000 DIV n"))
          .withColumn("vmr_ppm",
            when(col("n") > 1 && col("_sx") > 0, expr(
              "CAST((n * _sxx - CAST(_sx AS DECIMAL(38,0)) * _sx) * 1000000 DIV (CAST(n - 1 AS DECIMAL(38,0)) * _sx) AS BIGINT)")))
          .select(col("event_type"), col("n"), col("_sx").as("n_events"),
            col("mean_mils"), col("vmr_ppm"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type, coalesce(c.x, 0) AS x
             |      FROM grid g LEFT JOIN c USING (event_type, user_id)),
             |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(x) AS BIGINT) AS sx,
             |             sum(CAST(x AS HUGEINT) * x) AS sxx
             |      FROM p GROUP BY 1)
             |SELECT event_type, n, sx AS n_events,
             |       CAST(sx * 1000 // n AS BIGINT) AS mean_mils,
             |       CAST(CASE WHEN n > 1 AND sx > 0
             |            THEN (n * sxx - CAST(sx AS HUGEINT) * sx) * 1000000
             |                 // (CAST(n - 1 AS HUGEINT) * sx) END AS BIGINT) AS vmr_ppm
             |FROM m ORDER BY event_type""".stripMargin)),

    // Percentile normalization WITHOUT a global sort — the 100 TB-safe
    // percent_rank: the score CDF comes from a domain-bounded histogram
    // (strictly-below convention, documented), broadcast back onto the
    // rows; no single-partition WindowExec anywhere. Scores = per-event
    // value mils binned to units.
    Q("q_percentile_normalize",
      (s, dir) => {
        val scored = Tables.events(s, dir)
          .select(col("event_id"),
            expr("CAST(floor(value * 1000) AS BIGINT) DIV 1000").as("score"))
        val hist = scored.groupBy(col("score")).agg(count(lit(1)).as("_c"))
        // strictly-below counts via a triangular self-join on the
        // domain-bounded histogram (the q_vocab_growth pattern) — an
        // ORDER-BY-only window would be a single-partition WindowExec
        val below = hist.as("a")
          .join(hist.select(col("score").as("_s2"), col("_c").as("_c2")),
            col("_s2") < col("a.score"), "left")
          .groupBy(col("a.score").as("score"), col("a._c").as("_c"))
          .agg(coalesce(sum(col("_c2")), lit(0L)).as("_lt"))
        val cdf = below
          .crossJoin(broadcast(hist.agg(sum(col("_c")).as("_n"))))
          .select(col("score"), expr("_lt * 1000000 DIV _n").as("pct_ppm"))
        scored.join(broadcast(cdf), Seq("score"))
          .select(col("event_id"), col("score"), col("pct_ppm"))
          .orderBy("event_id")
      },
      Some("""WITH s AS (SELECT event_id,
             |                  CAST(floor(value * 1000) AS BIGINT) // 1000 AS score
             |           FROM events),
             |h AS (SELECT score, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1),
             |cdf AS (SELECT score,
             |          coalesce(sum(c) OVER (ORDER BY score
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |          * 1000000 // (SELECT sum(c) FROM h) AS pct_ppm
             |        FROM h)
             |SELECT s.event_id, s.score, CAST(cdf.pct_ppm AS BIGINT) AS pct_ppm
             |FROM s JOIN cdf USING (score) ORDER BY event_id""".stripMargin)),

    // Markov (removal-effect) attribution — the DATA-DRIVEN
    // complement of q_attribution's position rules (Anderl et al.
    // 2016): user journeys truncate at first purchase, transitions
    // count into a (start ∪ channels) → (channels ∪ conv ∪ null)
    // matrix, absorption probability of conv iterates 12 rounds of
    // p(s) ← Σ cnt(s,t)·pv(t) DIV tot(s) in ppm, and each channel's
    // removal effect re-runs the absorption with that channel's
    // inbound edges redirected to null. One group-collect shuffle
    // builds journeys; everything after runs on the STAGED
    // domain-bounded (≤ 7×7 counts) matrix — 5 scenarios × 12 rounds
    // of tiny joins.
    Q("q_attribution_markov",
      (s, dir) => {
        val channels = Seq("click", "error", "signup", "view")
        val ordered = Tables.events(s, dir)
          .select(col("user_id"), struct(unix_micros(col("ts")).as("t"),
            col("event_id").as("i"), col("event_type").as("ty")).as("_r"))
          .groupBy(col("user_id"))
          .agg(expr("transform(sort_array(collect_list(_r)), p -> p.ty)").as("_tys"))
        val trs = ordered
          .withColumn("_ci", expr("array_position(_tys, 'purchase')"))
          .withColumn("_conv", col("_ci") > 0)
          .withColumn("_j", expr(
            "IF(_ci > 0, slice(_tys, 1, CAST(_ci - 1 AS INT)), _tys)"))
          .withColumn("_trs", expr(
            """concat(
              |  array(named_struct('f', 'start',
              |    't', IF(size(_j) = 0, IF(_conv, 'conv', 'null'), element_at(_j, 1)))),
              |  IF(size(_j) <= 1, array(),
              |    transform(sequence(1, size(_j) - 1),
              |      k -> named_struct('f', element_at(_j, CAST(k AS INT)),
              |                        't', element_at(_j, CAST(k AS INT) + 1)))),
              |  IF(size(_j) = 0, array(),
              |    array(named_struct('f', element_at(_j, -1),
              |                       't', IF(_conv, 'conv', 'null')))))""".stripMargin))
          .select(explode(col("_trs")).as("_tr"))
          .select(col("_tr.f").as("f"), col("_tr.t").as("t"))
        val cnt = trs.groupBy(col("f"), col("t")).agg(count(lit(1)).as("n"))
        val tot = cnt.groupBy(col("f")).agg(sum(col("n")).as("tot"))
        // The matrix is DOMAIN-bounded (≤ (1+channels) × (channels+2)
        // cells = 42 longs), so it collects — the grouped-quantiles
        // driver-prefix-sum class — and the 5 scenarios × 12 absorption
        // rounds run as plain integer math instead of 60 chained tiny
        // joins (the first plan-per-round draft spent 8 s in Catalyst
        // for a 42-number computation).
        val mat = cnt.join(tot, "f")
          .select(col("f"), col("t"), col("n"), col("tot"))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        def absorb(tr: Seq[(String, String, Long, Long)]): Map[String, Long] = {
          var p = tr.map(_._1).distinct.map(_ -> 0L).toMap
          (1 to 12).foreach { _ =>
            p = tr.groupBy(_._1).map { case (f, rows) =>
              val num = rows.map { case (_, t, n, _) =>
                val pv = t match {
                  case "conv" => 1000000L
                  case "null" => 0L
                  case other  => p.getOrElse(other, 0L)
                }
                n * pv
              }.sum
              f -> Math.floorDiv(num, rows.head._4)
            }
          }
          p
        }
        val pBase = absorb(mat.toSeq).getOrElse("start", 0L)
        val rows = channels.map { c =>
          val trC = mat.toSeq.filter(_._1 != c)
            .map { case (f, t, n, tt) => (f, if (t == c) "null" else t, n, tt) }
          val pc = absorb(trC).getOrElse("start", 0L)
          val removal =
            if (pBase > 0) Some(1000000L - Math.floorDiv(pc * 1000000L, pBase))
            else None
          (c, pBase, pc, removal)
        }
        import s.implicits._
        rows.toDF("channel", "p_base_ppm", "p_removed_ppm", "removal_ppm")
          .orderBy("channel")
      },
      Some {
        val channels = Seq("click", "error", "signup", "view")
        def rounds(tag: String, tr: String) = (1 to 12).map { i =>
          s"""p${tag}_$i AS MATERIALIZED (
             |  SELECT f AS state, sum(n * (CASE WHEN t = 'conv' THEN 1000000
             |    WHEN t = 'null' THEN 0 ELSE coalesce(pp.p, 0) END)) // max(tot) AS p
             |  FROM $tr LEFT JOIN p${tag}_${i - 1} pp ON $tr.t = pp.state
             |  GROUP BY f)""".stripMargin
        }.mkString(",\n")
        def p0(tag: String, tr: String) =
          s"p${tag}_0 AS (SELECT DISTINCT f AS state, CAST(0 AS BIGINT) AS p FROM $tr)"
        val removalCtes = channels.map { c =>
          s"""tr_$c AS MATERIALIZED (
             |  SELECT f, CASE WHEN t = '$c' THEN 'null' ELSE t END AS t, n, tot
             |  FROM tr WHERE f <> '$c'),
             |${p0(c, s"tr_$c")},
             |${rounds(c, s"tr_$c")}""".stripMargin
        }.mkString(",\n")
        val finalRows = channels.map { c =>
          s"""SELECT '$c' AS channel,
             |  (SELECT p FROM pbase_12 WHERE state = 'start') AS p_base_ppm,
             |  (SELECT p FROM p${c}_12 WHERE state = 'start') AS p_removed_ppm""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH o AS (
           |  SELECT user_id, list(event_type ORDER BY epoch_us(ts), event_id) AS tys
           |  FROM events GROUP BY user_id),
           |jn AS (SELECT user_id, tys, list_position(tys, 'purchase') AS ci,
           |              list_position(tys, 'purchase') IS NOT NULL AS conv
           |       FROM o),
           |jj AS (SELECT user_id, conv,
           |              CASE WHEN ci IS NOT NULL THEN tys[1:ci - 1] ELSE tys END AS j
           |       FROM jn),
           |trl AS (SELECT user_id, list_concat(list_concat(
           |  [{'f': 'start', 't': CASE WHEN len(j) = 0
           |      THEN (CASE WHEN conv THEN 'conv' ELSE 'null' END) ELSE j[1] END}],
           |  [{'f': j[k], 't': j[k + 1]} for k in range(1, len(j))]),
           |  [{'f': j[len(j)], 't': CASE WHEN conv THEN 'conv' ELSE 'null' END}
           |   for _x in range(0, CASE WHEN len(j) > 0 THEN 1 ELSE 0 END)]) AS trs
           |  FROM jj),
           |tre AS (SELECT unnest(trs, recursive := true) FROM trl),
           |cnt AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM tre GROUP BY 1, 2),
           |tr AS MATERIALIZED (SELECT cnt.f, cnt.t, cnt.n, tt.tot
           |      FROM cnt JOIN (SELECT f, sum(n) AS tot FROM cnt GROUP BY 1) tt USING (f)),
           |${p0("base", "tr")},
           |${rounds("base", "tr")},
           |$removalCtes,
           |fin AS ($finalRows)
           |SELECT channel, CAST(p_base_ppm AS BIGINT) AS p_base_ppm,
           |       CAST(p_removed_ppm AS BIGINT) AS p_removed_ppm,
           |       CAST(CASE WHEN p_base_ppm > 0
           |            THEN 1000000 - p_removed_ppm * 1000000 // p_base_ppm
           |            END AS BIGINT) AS removal_ppm
           |FROM fin ORDER BY channel""".stripMargin
      }),

    // Nelson-Aalen cumulative hazard — Kaplan-Meier's additive twin
    // (H(t) = Σ d/n over death days ≤ t; the hazard scale is where
    // rate comparisons and Cox-model thinking live): per-step ppm
    // hazard floors once, the cumulative sum runs on the
    // domain-bounded death-day frame q_survival_km already shapes.
    Q("q_survival_na",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          col("user_id"), unix_micros(col("ts")).as("tus"))
        val cut = ev.agg((max(col("tus")) - lit(3L * 86400000000L)).as("_cut"))
        val per = ev.groupBy(col("event_type"), col("user_id"))
          .agg(min(col("tus")).as("_first"), max(col("tus")).as("_last"))
          .crossJoin(broadcast(cut))
          .select(col("event_type"),
            expr("(_last - _first) DIV 86400000000").as("dur_day"),
            (col("_last") <= col("_cut")).cast("long").as("observed"))
        val steps = Stats.kaplanMeier(per, col("event_type"), col("dur_day"),
            col("observed"))
          .withColumn("h_step_ppm", expr("n_death * 1000000 DIV n_risk"))
        val w = Window.partitionBy(col("g")).orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        steps.withColumn("chaz_ppm", sum(col("h_step_ppm")).over(w))
          .select(col("g").as("event_type"), col("t"), col("n_risk"),
            col("n_death"), col("h_step_ppm"), col("chaz_ppm"))
          .orderBy("event_type", "t")
      },
      Some("""WITH ev AS (SELECT event_type, user_id, epoch_us(ts) AS tus FROM events),
             |cut AS (SELECT max(tus) - 3*86400000000 AS c FROM ev),
             |per AS (SELECT event_type AS g, user_id,
             |               (max(tus) - min(tus)) // 86400000000 AS t,
             |               CASE WHEN max(tus) <= (SELECT c FROM cut) THEN 1 ELSE 0 END AS d
             |        FROM ev GROUP BY 1, 2),
             |cen AS (SELECT g, t, CAST(sum(d) AS BIGINT) AS dd, count(*) AS cc FROM per GROUP BY 1, 2),
             |risk AS (SELECT g, t, dd,
             |                CAST(sum(cc) OVER (PARTITION BY g ORDER BY t
             |                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS nr
             |         FROM cen),
             |st AS (SELECT g, t, dd, nr, dd * 1000000 // nr AS h FROM risk WHERE dd > 0)
             |SELECT g AS event_type, t, nr AS n_risk, dd AS n_death,
             |       CAST(h AS BIGINT) AS h_step_ppm,
             |       CAST(sum(h) OVER (PARTITION BY g ORDER BY t
             |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS chaz_ppm
             |FROM st ORDER BY event_type, t""".stripMargin)),

    // Top conversion paths — the Sankey census behind
    // q_attribution_markov's matrix: full journey strings (channels
    // '>'-joined, outcome suffixed) counted and top-20'd. Same one
    // journey group-collect; TakeOrdered caps the output.
    Q("q_top_paths",
      (s, dir) => {
        val ordered = Tables.events(s, dir)
          .select(col("user_id"), struct(unix_micros(col("ts")).as("t"),
            col("event_id").as("i"), col("event_type").as("ty")).as("_r"))
          .groupBy(col("user_id"))
          .agg(expr("transform(sort_array(collect_list(_r)), p -> p.ty)").as("_tys"))
        ordered
          .withColumn("_ci", expr("array_position(_tys, 'purchase')"))
          .withColumn("path", expr(
            """concat(array_join(IF(_ci > 0, slice(_tys, 1, CAST(_ci - 1 AS INT)), _tys), '>'),
              |  IF(_ci > 0, '>conv', '>null'))""".stripMargin))
          .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path"))
          .limit(20)
      },
      Some("""WITH o AS (
             |  SELECT user_id, list(event_type ORDER BY epoch_us(ts), event_id) AS tys
             |  FROM events GROUP BY user_id),
             |p AS (SELECT user_id,
             |        list_position(tys, 'purchase') AS ci, tys
             |      FROM o),
             |pp AS (SELECT
             |         coalesce(array_to_string(CASE WHEN ci IS NOT NULL
             |           THEN tys[1:ci - 1] ELSE tys END, '>'), '')
             |         || (CASE WHEN ci IS NOT NULL THEN '>conv' ELSE '>null' END) AS path
             |       FROM p)
             |SELECT path, CAST(count(*) AS BIGINT) AS n_users
             |FROM pp GROUP BY 1
             |ORDER BY n_users DESC, path LIMIT 20""".stripMargin)),

    // Frequent triples — the Apriori stage after q_assoc_rules' pairs:
    // 3-itemsets with absolute support ≥ 2 from per-order C(k,3)
    // enumeration (order sizes bounded — never |parts|³), top-50 by
    // support. The second self-join probes the pair-filtered order
    // list, not the raw basket.
    Q("q_assoc_triples",
      (s, dir) => {
        val oi = Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        val total = oi.select(countDistinct(col("o")).as("n_orders"))
        oi.as("a")
          .join(oi.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .join(oi.as("c"), col("a.o") === col("c.o") && col("b.p") < col("c.p"))
          .groupBy(col("a.p").as("p1"), col("b.p").as("p2"), col("c.p").as("p3"))
          .agg(count(lit(1)).as("n_co"))
          .filter(col("n_co") >= 2)
          .crossJoin(broadcast(total))
          .withColumn("support_ppm", expr("n_co * 1000000 DIV n_orders"))
          .select(col("p1"), col("p2"), col("p3"), col("n_co"), col("support_ppm"))
          .orderBy(col("n_co").desc, col("p1"), col("p2"), col("p3"))
          .limit(50)
      },
      Some("""WITH oi AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |tot AS (SELECT count(DISTINCT o) AS n_orders FROM oi),
             |tri AS (SELECT a.p AS p1, b.p AS p2, c.p AS p3,
             |               CAST(count(*) AS BIGINT) AS n_co
             |        FROM oi a JOIN oi b ON a.o = b.o AND a.p < b.p
             |                  JOIN oi c ON a.o = c.o AND b.p < c.p
             |        GROUP BY 1, 2, 3 HAVING count(*) >= 2)
             |SELECT p1, p2, p3, n_co,
             |       CAST(n_co * 1000000 // n_orders AS BIGINT) AS support_ppm
             |FROM tri CROSS JOIN tot
             |ORDER BY n_co DESC, p1, p2, p3 LIMIT 50""".stripMargin)),

    // Group-sequential A/B readout with O'Brien-Fleming bounds — the
    // peeking-correct experiment monitor (5 interim looks at 6-day
    // cumulative cutoffs; the naive fixed threshold at every look
    // inflates false positives): per look the pooled t² on cumulative
    // per-user totals vs the OBF threshold c²·K/k (c = 2.04, α ≈ 0.05,
    // COMPILE-TIME ppm literals). ONE (type, user) pass computes all 5
    // cumulative totals as conditional sums; the moment rollup carries
    // 5 column sets.
    Q("q_ab_sequential",
      (s, dir) => {
        val looks = 1 to 5
        val thr = Map(1 -> 20808000L, 2 -> 10404000L, 3 -> 6936000L,
          4 -> 5202000L, 5 -> 4161600L) // floor(2.04² · 5/k · 1e6)
        val ev = Tables.events(s, dir)
        val t0 = ev.agg(min(unix_micros(col("ts"))).as("_t0"))
        val perUser = ev.crossJoin(broadcast(t0))
          .select(col("event_type"), col("user_id"),
            floor(col("value") * 1000).cast("long").as("_v"),
            expr("(unix_micros(ts) - _t0) DIV 518400000000").as("_lk")) // 6-day blocks
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(when(col("_lk") < 1, col("_v")).otherwise(0L)).as("x1"),
            looks.drop(1).map(k =>
              sum(when(col("_lk") < k, col("_v")).otherwise(0L)).as(s"x$k")): _*)
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(perUser, Seq("event_type", "user_id"), "left")
          .na.fill(0L, looks.map(k => s"x$k"))
          .withColumn("_v0", (col("user_id") % 2 === 0).cast("long"))
        val momentCols =
          Seq(sum(lit(1L) - col("_v0")).as("n1")) ++
          looks.flatMap(k => Seq(
            sum(col(s"x$k") * col("_v0")).as(s"s0_$k"),
            sum(col(s"x$k") * (lit(1L) - col("_v0"))).as(s"s1_$k"),
            sum(expr(s"CAST(x$k AS DECIMAL(38,0)) * x$k * _v0")).as(s"q0_$k"),
            sum(expr(s"CAST(x$k AS DECIMAL(38,0)) * x$k * (1 - _v0)")).as(s"q1_$k")))
        val m = full.groupBy(col("event_type"))
          .agg(sum(col("_v0")).as("n0"), momentCols: _*)
        val perLook = looks.map { k =>
          m.select(col("event_type"), lit(k.toLong).as("look"),
            col("n0"), col("n1"),
            expr(s"CAST(s0_$k AS DECIMAL(38,0)) * n1 - CAST(s1_$k AS DECIMAL(38,0)) * n0").as("_num"),
            expr(s"""n1 * (n0 * q0_$k - CAST(s0_$k AS DECIMAL(38,0)) * s0_$k) +
                    |n0 * (n1 * q1_$k - CAST(s1_$k AS DECIMAL(38,0)) * s1_$k)""".stripMargin).as("_ss"),
            lit(thr(k)).as("obf_thr_ppm"))
        }.reduce(_ unionByName _)
        perLook
          .withColumn("t2_ppm",
            when(col("n0") + col("n1") > 2 && col("_ss") > 0,
              expr("CAST(_num * _num * (n0 + n1 - 2) * 1000000 DIV (_ss * (n0 + n1)) AS BIGINT)")))
          .withColumn("crossed",
            (coalesce(col("t2_ppm"), lit(0L)) > col("obf_thr_ppm")).cast("long"))
          .select(col("event_type"), col("look"), col("n0"), col("n1"),
            col("t2_ppm"), col("obf_thr_ppm"), col("crossed"))
          .orderBy("event_type", "look")
      },
      Some {
        val looks = 1 to 5
        val thr = Map(1 -> 20808000L, 2 -> 10404000L, 3 -> 6936000L,
          4 -> 5202000L, 5 -> 4161600L)
        val xs = looks.map(k =>
          s"sum(CASE WHEN lk < $k THEN v ELSE 0 END) AS x$k").mkString(",\n  ")
        val ms = looks.flatMap(k => Seq(
          s"sum(x$k * v0) AS s0_$k", s"sum(x$k * (1 - v0)) AS s1_$k",
          s"sum(CAST(x$k AS HUGEINT) * x$k * v0) AS q0_$k",
          s"sum(CAST(x$k AS HUGEINT) * x$k * (1 - v0)) AS q1_$k")).mkString(",\n  ")
        val rows = looks.map { k =>
          s"""SELECT event_type, CAST($k AS BIGINT) AS look, n0, n1,
             |  CAST(s0_$k AS HUGEINT) * n1 - CAST(s1_$k AS HUGEINT) * n0 AS num,
             |  n1 * (n0 * q0_$k - CAST(s0_$k AS HUGEINT) * s0_$k)
             |    + n0 * (n1 * q1_$k - CAST(s1_$k AS HUGEINT) * s1_$k) AS ss,
             |  CAST(${thr(k)} AS BIGINT) AS obf_thr_ppm
             |FROM m""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH t0 AS (SELECT min(epoch_us(ts)) AS v FROM events),
           |e AS (SELECT event_type, user_id,
           |        CAST(floor(value * 1000) AS BIGINT) AS v,
           |        (epoch_us(ts) - (SELECT v FROM t0)) // 518400000000 AS lk
           |      FROM events),
           |pu AS (SELECT event_type, user_id,
           |  $xs
           |  FROM e GROUP BY 1, 2),
           |grid AS (SELECT ty.event_type, u.user_id
           |         FROM (SELECT DISTINCT user_id FROM events) u
           |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
           |p AS (SELECT g.event_type, g.user_id,
           |        ${looks.map(k => s"coalesce(pu.x$k, 0) AS x$k").mkString(", ")},
           |        CASE WHEN g.user_id % 2 = 0 THEN 1 ELSE 0 END AS v0
           |      FROM grid g LEFT JOIN pu USING (event_type, user_id)),
           |m AS (SELECT event_type,
           |  CAST(sum(v0) AS BIGINT) AS n0, CAST(sum(1 - v0) AS BIGINT) AS n1,
           |  $ms
           |  FROM p GROUP BY 1),
           |lk AS ($rows)
           |SELECT event_type, look, n0, n1,
           |  CAST(CASE WHEN n0 + n1 > 2 AND ss > 0
           |       THEN num * num * (n0 + n1 - 2) * 1000000 // (ss * (n0 + n1))
           |       END AS BIGINT) AS t2_ppm,
           |  obf_thr_ppm,
           |  CAST(CASE WHEN coalesce(CASE WHEN n0 + n1 > 2 AND ss > 0
           |         THEN num * num * (n0 + n1 - 2) * 1000000 // (ss * (n0 + n1)) END, 0)
           |       > obf_thr_ppm THEN 1 ELSE 0 END AS BIGINT) AS crossed
           |FROM lk ORDER BY event_type, look""".stripMargin
      }),

    // Audience overlap (the Venn census) — which event types share
    // users? Per-user 5-bit type mask via BIT_OR aggregation, then all
    // pair overlaps read off the 32-row mask-count frame (the
    // roaring-bitmap idea at its smallest): n_a, n_b, n_both, Jaccard
    // per pair. One map-side mask agg is the only data-sized pass.
    Q("q_audience_overlap",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val bitOf = types.zipWithIndex
          .map { case (t, i) => (t, 1L << i) }.toMap
        val bitExpr = types.foldRight(lit(0L): org.apache.spark.sql.Column) { (t, acc) =>
          when(col("event_type") === t, lit(bitOf(t))).otherwise(acc)
        }
        val masks = Tables.events(s, dir)
          .select(col("user_id"), bitExpr.as("_b"))
          .groupBy(col("user_id")).agg(expr("bit_or(_b)").as("mask"))
          .groupBy(col("mask")).agg(count(lit(1)).as("n"))
        val pairs = types.combinations(2).toSeq
          .map { case Seq(a, b) => (a, b, bitOf(a), bitOf(b)) }
        val pairDf = {
          import s.implicits._
          pairs.toDF("type_a", "type_b", "_ba", "_bb")
        }
        pairDf.crossJoin(masks)
          .groupBy(col("type_a"), col("type_b"))
          .agg(
            sum(when(expr("(mask & _ba) != 0"), col("n")).otherwise(0L)).as("n_a"),
            sum(when(expr("(mask & _bb) != 0"), col("n")).otherwise(0L)).as("n_b"),
            sum(when(expr("(mask & _ba) != 0 AND (mask & _bb) != 0"), col("n"))
              .otherwise(0L)).as("n_both"))
          .withColumn("jaccard_ppm",
            expr("n_both * 1000000 DIV (n_a + n_b - n_both)"))
          .orderBy("type_a", "type_b")
      },
      Some {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val bitCase = types.zipWithIndex
          .map { case (t, i) => s"WHEN event_type = '$t' THEN ${1L << i}" }
          .mkString("CASE ", " ", " ELSE 0 END")
        val pairRows = types.combinations(2).toSeq
          .map { case Seq(a, b) =>
            s"('$a', '$b', ${1L << types.indexOf(a)}, ${1L << types.indexOf(b)})" }
          .mkString(", ")
        s"""WITH mk AS (SELECT user_id, bit_or($bitCase) AS mask
           |            FROM events GROUP BY user_id),
           |mc AS (SELECT mask, CAST(count(*) AS BIGINT) AS n FROM mk GROUP BY 1),
           |pr AS (SELECT * FROM (VALUES $pairRows) AS t(type_a, type_b, ba, bb)),
           |agg AS (SELECT type_a, type_b,
           |  sum(CASE WHEN (mask & ba) != 0 THEN n ELSE 0 END) AS n_a,
           |  sum(CASE WHEN (mask & bb) != 0 THEN n ELSE 0 END) AS n_b,
           |  sum(CASE WHEN (mask & ba) != 0 AND (mask & bb) != 0 THEN n ELSE 0 END) AS n_both
           |  FROM pr CROSS JOIN mc GROUP BY 1, 2)
           |SELECT type_a, type_b, CAST(n_a AS BIGINT) AS n_a,
           |       CAST(n_b AS BIGINT) AS n_b, CAST(n_both AS BIGINT) AS n_both,
           |       CAST(n_both * 1000000 // (n_a + n_b - n_both) AS BIGINT) AS jaccard_ppm
           |FROM agg ORDER BY type_a, type_b""".stripMargin
      }),

    // Reliability diagram + ECE contributions — the calibration audit
    // for a score used as a probability (q_isotonic FITS a calibrator;
    // this MEASURES the miscalibration): per score bin, mean predicted
    // confidence vs realized positive rate in ppm, and the bin's
    // n-weighted ECE contribution (Σ contrib DIV N = the expected
    // calibration error). One map-side (bin) aggregation.
    Q("q_calibration_ece",
      (s, dir) => {
        val r = Tables.events(s, dir).select(
          expr("CAST(floor(value * 1000) AS BIGINT) DIV 50000").as("bin"),
          expr("CAST(floor(value * 1000) AS BIGINT) * 2").as("_conf"), // /500k → ppm
          (col("event_type") === "purchase").cast("long").as("_p"))
        r.groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("_conf")).as("_sc"),
            sum(col("_p")).as("_np"))
          .withColumn("conf_ppm", expr("_sc DIV n"))
          .withColumn("acc_ppm", expr("_np * 1000000 DIV n"))
          .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
          .withColumn("ece_contrib", col("n") * col("gap_ppm"))
          .select(col("bin"), col("n"), col("conf_ppm"), col("acc_ppm"),
            col("gap_ppm"), col("ece_contrib"))
          .orderBy("bin")
      },
      Some("""WITH r AS (SELECT CAST(floor(value * 1000) AS BIGINT) // 50000 AS bin,
             |                  CAST(floor(value * 1000) AS BIGINT) * 2 AS conf,
             |                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             |           FROM events),
             |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(conf) AS BIGINT) AS sc, CAST(sum(p) AS BIGINT) AS np
             |      FROM r GROUP BY 1)
             |SELECT bin, n, CAST(sc // n AS BIGINT) AS conf_ppm,
             |       CAST(np * 1000000 // n AS BIGINT) AS acc_ppm,
             |       CAST(abs(sc // n - np * 1000000 // n) AS BIGINT) AS gap_ppm,
             |       CAST(n * abs(sc // n - np * 1000000 // n) AS BIGINT) AS ece_contrib
             |FROM b ORDER BY bin""".stripMargin)),

    // Growth accounting — the weekly new/retained/resurrected/churned
    // decomposition (and quick ratio) every growth team reports: one
    // (user, week) dedup, one per-user lag/lead window, week-level
    // census. Churn attributes to the week AFTER the last active week
    // (bounded by the observation window's final week).
    Q("q_growth_accounting",
      (s, dir) => {
        val wk = 604800000000L
        val uw = Tables.events(s, dir)
          .select(col("user_id"),
            expr("unix_micros(date_trunc('week', ts))").as("w")).distinct()
        val maxW = uw.agg(max(col("w")).as("_maxw"))
        val win = Window.partitionBy(col("user_id")).orderBy(col("w"))
        val flagged = uw
          .withColumn("_prev", lag(col("w"), 1).over(win))
          .withColumn("_next", lead(col("w"), 1).over(win))
          .crossJoin(broadcast(maxW))
        val states = flagged.select(col("w"),
          when(col("_prev").isNull, 1L).otherwise(0L).as("_new"),
          when(col("_prev") === col("w") - wk, 1L).otherwise(0L).as("_ret"),
          when(col("_prev").isNotNull && col("_prev") < col("w") - wk, 1L)
            .otherwise(0L).as("_res"),
          // churns INTO week w+1 when the next activity misses it
          when((col("_next").isNull || col("_next") > col("w") + wk) &&
            col("w") + wk <= col("_maxw"), col("w") + wk).as("_churn_w"))
        val act = states.groupBy(col("w")).agg(
          count(lit(1)).as("n_active"), sum(col("_new")).as("n_new"),
          sum(col("_ret")).as("n_retained"), sum(col("_res")).as("n_resurrected"))
        val churn = states.filter(col("_churn_w").isNotNull)
          .groupBy(col("_churn_w").as("w")).agg(count(lit(1)).as("n_churned"))
        act.join(churn, Seq("w"), "full")
          .na.fill(0L, Seq("n_active", "n_new", "n_retained", "n_resurrected",
            "n_churned"))
          .withColumn("quick_ratio_ppm",
            when(col("n_churned") > 0,
              expr("(n_new + n_resurrected) * 1000000 DIV n_churned")))
          .orderBy("w")
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
             |                   epoch_us(date_trunc('week', ts)) AS w
             |            FROM events),
             |mx AS (SELECT max(w) AS maxw FROM uw),
             |f AS (SELECT user_id, w,
             |        lag(w) OVER win AS prev, lead(w) OVER win AS next
             |      FROM uw WINDOW win AS (PARTITION BY user_id ORDER BY w)),
             |st AS (SELECT w,
             |         CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS is_new,
             |         CASE WHEN prev = w - 604800000000 THEN 1 ELSE 0 END AS is_ret,
             |         CASE WHEN prev IS NOT NULL AND prev < w - 604800000000
             |              THEN 1 ELSE 0 END AS is_res,
             |         CASE WHEN (next IS NULL OR next > w + 604800000000)
             |                   AND w + 604800000000 <= (SELECT maxw FROM mx)
             |              THEN w + 604800000000 END AS churn_w
             |       FROM f),
             |act AS (SELECT w, CAST(count(*) AS BIGINT) AS n_active,
             |               CAST(sum(is_new) AS BIGINT) AS n_new,
             |               CAST(sum(is_ret) AS BIGINT) AS n_retained,
             |               CAST(sum(is_res) AS BIGINT) AS n_resurrected
             |        FROM st GROUP BY 1),
             |ch AS (SELECT churn_w AS w, CAST(count(*) AS BIGINT) AS n_churned
             |       FROM st WHERE churn_w IS NOT NULL GROUP BY 1),
             |j AS (SELECT coalesce(act.w, ch.w) AS w,
             |             coalesce(n_active, 0) AS n_active,
             |             coalesce(n_new, 0) AS n_new,
             |             coalesce(n_retained, 0) AS n_retained,
             |             coalesce(n_resurrected, 0) AS n_resurrected,
             |             coalesce(n_churned, 0) AS n_churned
             |      FROM act FULL JOIN ch ON act.w = ch.w)
             |SELECT w, n_active, n_new, n_retained, n_resurrected, n_churned,
             |       CAST(CASE WHEN n_churned > 0
             |            THEN (n_new + n_resurrected) * 1000000 // n_churned
             |            END AS BIGINT) AS quick_ratio_ppm
             |FROM j ORDER BY w""".stripMargin)),

    // Experiment power: minimum detectable effect at 80% power / 5%
    // α — the DESIGN-time companion of the q_abtest readout ("is this
    // experiment even capable of seeing the effect we care about?"):
    // MDE² = (z_α/2+z_β)²·s_p²·N/(n0·n1) with (1.96+0.84)² = 7.84,
    // everything cleared to ONE DECIMAL(38,0) division on the q_abtest
    // moment machinery. Shipped as mde2_mils2 (squared mils — exact;
    // the reader square-roots).
    Q("q_ab_power",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val totals = ev.groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("x"))
          .withColumn("_v", (col("user_id") % 2 === 0).cast("long"))
        full.groupBy(col("event_type")).agg(
            sum(col("_v")).as("n0"), sum(lit(1L) - col("_v")).as("n1"),
            sum(col("x") * col("_v")).as("_s0"),
            sum(col("x") * (lit(1L) - col("_v"))).as("_s1"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x * _v")).as("_q0"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x * (1 - _v)")).as("_q1"))
          .withColumn("_ss", expr(
            """n1 * (n0 * _q0 - CAST(_s0 AS DECIMAL(38,0)) * _s0) +
              |n0 * (n1 * _q1 - CAST(_s1 AS DECIMAL(38,0)) * _s1)""".stripMargin))
          .withColumn("mde2_mils2",
            when(col("n0") > 0 && col("n1") > 0 && col("n0") + col("n1") > 2, expr(
              """CAST(784 * _ss * (n0 + n1)
                |  DIV (100 * CAST(n0 * n1 AS DECIMAL(38,0)) * n0 * n1 * (n0 + n1 - 2))
                |  AS BIGINT)""".stripMargin)))
          .select(col("event_type"), col("n0"), col("n1"), col("mde2_mils2"))
          .orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) AS x
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type, g.user_id, coalesce(t.x, 0) AS x,
             |             CASE WHEN g.user_id % 2 = 0 THEN 1 ELSE 0 END AS v
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |m AS (SELECT event_type,
             |             CAST(sum(v) AS BIGINT) AS n0, CAST(sum(1 - v) AS BIGINT) AS n1,
             |             CAST(sum(x * v) AS BIGINT) AS s0,
             |             CAST(sum(x * (1 - v)) AS BIGINT) AS s1,
             |             sum(CAST(x AS HUGEINT) * x * v) AS q0,
             |             sum(CAST(x AS HUGEINT) * x * (1 - v)) AS q1
             |      FROM p GROUP BY 1),
             |f AS (SELECT event_type, n0, n1,
             |             n1 * (n0 * q0 - CAST(s0 AS HUGEINT) * s0) +
             |             n0 * (n1 * q1 - CAST(s1 AS HUGEINT) * s1) AS ss
             |      FROM m)
             |SELECT event_type, n0, n1,
             |       CAST(CASE WHEN n0 > 0 AND n1 > 0 AND n0 + n1 > 2
             |            THEN 784 * ss * (n0 + n1)
             |                 // (100 * CAST(n0 * n1 AS HUGEINT) * n0 * n1 * (n0 + n1 - 2))
             |            END AS BIGINT) AS mde2_mils2
             |FROM f ORDER BY event_type""".stripMargin)),

    // Maximum drawdown per user — the peak-to-trough risk metric
    // (how far below its running high-water mark did each user's
    // metric fall?): one user-keyed ordered window carries the
    // running max; the drawdown max is a map-side agg. Exact mils.
    Q("q_drawdown",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            col("event_id"), floor(col("value") * 1000).cast("long").as("v"))
          .withColumn("_hwm", max(col("v")).over(w))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), max(col("v")).as("peak_mils"),
            max(col("_hwm") - col("v")).as("max_drawdown_mils"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
             |                  CAST(floor(value * 1000) AS BIGINT) AS v
             |           FROM events),
             |h AS (SELECT user_id, v,
             |        max(v) OVER (PARTITION BY user_id ORDER BY tus, event_id
             |                     ROWS UNBOUNDED PRECEDING) AS hwm
             |      FROM e)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |       max(v) AS peak_mils,
             |       max(hwm - v) AS max_drawdown_mils
             |FROM h GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Longest consecutive-day activity streak census — the
    // habit-formation metric (gaps-and-islands over per-user active
    // days, then a domain-bounded histogram of longest streaks): one
    // (user, day) dedup + one user-keyed lag window + two map-side
    // aggregations.
    Q("q_streaks",
      (s, dir) => {
        val day = 86400000000L
        val uw = Tables.events(s, dir)
          .select(col("user_id"),
            expr("unix_micros(date_trunc('day', ts))").as("d")).distinct()
        val win = Window.partitionBy(col("user_id")).orderBy(col("d"))
        val isl = uw
          .withColumn("_brk",
            when(lag(col("d"), 1).over(win).isNull ||
              col("d") - lag(col("d"), 1).over(win) > day, 1L).otherwise(0L))
          .withColumn("_sid", sum(col("_brk")).over(
            Window.partitionBy(col("user_id")).orderBy(col("d"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val longest = isl.groupBy(col("user_id"), col("_sid"))
          .agg(count(lit(1)).as("_len"))
          .groupBy(col("user_id")).agg(max(col("_len")).as("streak_days"))
        longest.groupBy(col("streak_days")).agg(count(lit(1)).as("n_users"))
          .orderBy("streak_days")
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
             |                   epoch_us(date_trunc('day', ts)) AS d
             |            FROM events),
             |b AS (SELECT user_id, d,
             |        CASE WHEN lag(d) OVER w IS NULL
             |             OR d - lag(d) OVER w > 86400000000 THEN 1 ELSE 0 END AS brk
             |      FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY d)),
             |g AS (SELECT user_id, d, sum(brk) OVER (PARTITION BY user_id ORDER BY d
             |        ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM b),
             |l AS (SELECT user_id, max(cnt) AS streak_days FROM (
             |        SELECT user_id, sid, count(*) AS cnt FROM g GROUP BY 1, 2)
             |      GROUP BY 1)
             |SELECT streak_days, CAST(count(*) AS BIGINT) AS n_users
             |FROM l GROUP BY 1 ORDER BY streak_days""".stripMargin)),

    // McNemar paired-binary test — q_ttest_paired's companion for
    // BINARY outcomes: per (type, user), did the user convert (any
    // value > 250 event) in the first half of the month (day <= 15)
    // vs the second? Only DISCORDANT pairs carry information:
    // b = early-only converters, c = late-only,
    // chi2_ppm = 10^6*(b-c)^2/(b+c) (NULL when b+c = 0). Concordant
    // users cancel and absent users are (0,0), so no dense grid is
    // needed; ONE map-side-combined (type, user) aggregate is the only
    // data-sized pass.
    Q("q_mcnemar",
      (s, dir) => {
        val pu = Tables.events(s, dir)
          .groupBy(col("event_type"), col("user_id"))
          .agg(
            max((col("value") > 250.0 && dayofmonth(col("ts")) <= 15)
              .cast("long")).as("p0"),
            max((col("value") > 250.0 && dayofmonth(col("ts")) > 15)
              .cast("long")).as("p1"))
        pu.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_users"),
            sum((col("p0") === 1L && col("p1") === 0L).cast("long")).as("b"),
            sum((col("p0") === 0L && col("p1") === 1L).cast("long")).as("c"))
          // (b−c)²·10⁶ wraps BIGINT past ~3e6 discordant imbalance —
          // widen (round-10 self-audit, the runsTest class)
          .withColumn("chi2_ppm",
            when(col("b") + col("c") > 0, expr(
              "CAST((CAST(b AS DECIMAL(38,0)) - c) * (CAST(b AS DECIMAL(38,0)) - c) * 1000000 DIV (b + c) AS BIGINT)")))
          .orderBy("event_type")
      },
      Some("""WITH pu AS (SELECT event_type, user_id,
             |  max(CASE WHEN value > 250.0 AND day(ts) <= 15 THEN 1 ELSE 0 END) AS p0,
             |  max(CASE WHEN value > 250.0 AND day(ts) > 15 THEN 1 ELSE 0 END) AS p1
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
             |  CAST(sum(CASE WHEN p0 = 1 AND p1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |  CAST(sum(CASE WHEN p0 = 0 AND p1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
             |  FROM pu GROUP BY 1)
             |SELECT event_type, n_users, b, c,
             |       CAST(CASE WHEN b + c > 0
             |            THEN (b - c) * (b - c) * 1000000 // (b + c) END AS BIGINT)
             |         AS chi2_ppm
             |FROM m ORDER BY event_type""".stripMargin)),

    // Benjamini-Hochberg FDR gate over the per-type experiment
    // readouts — the multiple-testing correction that completes the
    // suite (SRM -> power -> sequential -> per-test t^2/z^2/U -> FDR):
    // rank the m = 5 per-type pooled t^2 values descending (p
    // ascending); reject ranks <= k*, the largest k with
    // z^2_(k) >= chi2_1(1 - alpha*k/m) (alpha = 0.05; the five
    // chi2_1-quantile thresholds are COMPILE-TIME ppm literals shared
    // verbatim with the oracle — no libm at runtime). Rank is a count
    // over the broadcast 5-row self-join (no unpartitioned window);
    // k* rides a broadcast 1-row max. The only data-sized pass is
    // q_abtest's (type, user) moment rollup.
    Q("q_bh_fdr",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val totals = ev.groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("x"))
        val t2 = Stats.abTestT2(full, col("event_type"), col("user_id"), col("x"))
          .select(col("g").as("event_type"),
            coalesce(col("t2_ppm"), lit(0L)).as("z2_ppm"))
        val ranked = t2.as("a")
          .join(broadcast(t2.as("b")),
            col("b.z2_ppm") > col("a.z2_ppm") ||
              (col("b.z2_ppm") === col("a.z2_ppm") &&
                col("b.event_type") < col("a.event_type")), "left")
          .groupBy(col("a.event_type").as("event_type"),
            col("a.z2_ppm").as("z2_ppm"))
          .agg((count(col("b.event_type")) + 1L).as("rank"))
        val thr = ranked.withColumn("thr_ppm",
          when(col("rank") === 1, 6634896L).when(col("rank") === 2, 5411894L)
            .when(col("rank") === 3, 4709292L).when(col("rank") === 4, 4217884L)
            .otherwise(3841458L))
        val kstar = thr.agg(
          max(when(col("z2_ppm") >= col("thr_ppm"), col("rank")).otherwise(0L))
            .as("k_star"))
        thr.crossJoin(broadcast(kstar))
          .withColumn("rejected", (col("rank") <= col("k_star")).cast("long"))
          .select("event_type", "z2_ppm", "rank", "thr_ppm", "rejected")
          .orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) AS x
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type, g.user_id, coalesce(t.x, 0) AS xt,
             |             CASE WHEN g.user_id % 2 = 0 THEN 1 ELSE 0 END AS v
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |m AS (SELECT event_type, sum(v) AS n0, sum(1 - v) AS n1,
             |             sum(xt * v) AS s0, sum(xt * (1 - v)) AS s1,
             |             sum(CAST(xt AS HUGEINT) * xt * v) AS q0,
             |             sum(CAST(xt AS HUGEINT) * xt * (1 - v)) AS q1
             |      FROM p GROUP BY 1),
             |f AS (SELECT event_type, n0, n1,
             |             CAST(s0 AS HUGEINT) * n1 - CAST(s1 AS HUGEINT) * n0 AS num,
             |             n1 * (n0 * q0 - CAST(s0 AS HUGEINT) * s0) +
             |             n0 * (n1 * q1 - CAST(s1 AS HUGEINT) * s1) AS ss
             |      FROM m),
             |z AS (SELECT event_type,
             |             coalesce(CAST(CASE WHEN n0 + n1 > 2 AND ss > 0
             |               THEN (num * num * (n0 + n1 - 2) * 1000000)
             |                    // (ss * (n0 + n1)) END AS BIGINT), 0) AS z2_ppm
             |      FROM f),
             |r AS (SELECT a.event_type, a.z2_ppm,
             |             1 + count(b.event_type) AS rank
             |      FROM z a LEFT JOIN z b
             |        ON b.z2_ppm > a.z2_ppm
             |           OR (b.z2_ppm = a.z2_ppm AND b.event_type < a.event_type)
             |      GROUP BY 1, 2),
             |th AS (SELECT *, CASE rank WHEN 1 THEN 6634896 WHEN 2 THEN 5411894
             |              WHEN 3 THEN 4709292 WHEN 4 THEN 4217884
             |              ELSE 3841458 END AS thr_ppm FROM r),
             |ks AS (SELECT max(CASE WHEN z2_ppm >= thr_ppm THEN rank ELSE 0 END)
             |         AS k_star FROM th)
             |SELECT event_type, z2_ppm, CAST(rank AS BIGINT) AS rank,
             |       CAST(thr_ppm AS BIGINT) AS thr_ppm,
             |       CAST(CASE WHEN rank <= k_star THEN 1 ELSE 0 END AS BIGINT)
             |         AS rejected
             |FROM th CROSS JOIN ks ORDER BY event_type""".stripMargin)),

    // Mann–Kendall trend test per user on the SAME (hour-index, mils)
    // series as q_trend_theilsen, pre-aggregated to one row per
    // (user, hour) so equal-time pairs cannot occur: S = Σ sign(Δy)
    // over ordered pairs, tie-corrected variance, continuity-corrected
    // z² as ONE exact integer floor-division (see
    // TimeSeries.mannKendall). Theil–Sen says HOW STEEP; this says
    // WHETHER the monotone trend is significant at all — the
    // nonparametric pair to q_trend_ols's parametric fit.
    Q("q_trend_mk",
      (s, dir) => {
        val startUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
        TimeSeries.mannKendall(
          Tables.events(s, dir)
            .select(col("user_id").as("g"),
              floor((unix_micros(col("ts")) - startUs) / 3600000000.0)
                .cast("long").as("x"),
              floor(col("value") * 1000).cast("long").as("m"))
            .groupBy(col("g"), col("x")).agg(sum(col("m")).as("y")))
          .select(col("g").as("user_id"), col("n"), col("s"), col("z2_ppm"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (
             |  SELECT user_id AS g,
             |         CAST(floor((epoch_us(ts) - 1704067200000000) / 3600000000.0) AS BIGINT) AS x,
             |         CAST(floor(value * 1000) AS BIGINT) AS m
             |  FROM events),
             |h AS (SELECT g, x, sum(m) AS y FROM p GROUP BY 1, 2),
             |pr AS (SELECT a.g,
             |              CASE WHEN b.y > a.y THEN 1
             |                   WHEN b.y < a.y THEN -1 ELSE 0 END AS sg
             |       FROM h a JOIN h b ON a.g = b.g AND a.x < b.x),
             |sa AS (SELECT g, CAST(sum(sg) AS BIGINT) AS s FROM pr GROUP BY 1),
             |nn AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY 1),
             |tc AS (SELECT g, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
             |       FROM (SELECT g, y, count(*) AS t FROM h GROUP BY 1, 2)
             |       GROUP BY 1),
             |f AS (SELECT nn.g, n, s,
             |             n * (n - 1) * (2 * n + 5) - tie AS v18
             |      FROM nn JOIN sa USING (g) JOIN tc USING (g))
             |SELECT g AS user_id, n, s,
             |       CAST(CASE WHEN s = 0 THEN 0
             |                 WHEN v18 > 0
             |                 THEN (abs(s) - 1) * (abs(s) - 1) * 18 * 1000000 // v18
             |            END AS BIGINT) AS z2_ppm
             |FROM f ORDER BY user_id""".stripMargin)),

    // Two-group log-rank test per event stream — q_survival_km draws
    // the curves, this says whether the even/odd-user variants DIFFER:
    // at each death day the observed group-1 deaths are compared with
    // the hypergeometric expectation over the shared risk set, each
    // per-time E/Var term floored to exact ppm BEFORE summing (see
    // Stats.logRank). Same lifetime/censoring construction as
    // q_survival_km (first-to-last event days; active in the final 3
    // days = censored). Completes the survival triad: KM curve,
    // Nelson-Aalen hazard, log-rank comparison.
    Q("q_logrank",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          col("user_id"), unix_micros(col("ts")).as("tus"))
        val cut = ev.agg((max(col("tus")) - lit(3L * 86400000000L)).as("_cut"))
        val per = ev.groupBy(col("event_type"), col("user_id"))
          .agg(min(col("tus")).as("_first"), max(col("tus")).as("_last"))
          .crossJoin(broadcast(cut))
          .select(col("event_type").as("g"),
            expr("(_last - _first) DIV 86400000000").as("t"),
            (col("_last") <= col("_cut")).cast("long").as("d"),
            (col("user_id") % 2 === 1).cast("long").as("v"))
        Stats.logRank(per)
          .withColumnRenamed("g", "event_type").orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type, user_id, epoch_us(ts) AS tus FROM events),
             |cut AS (SELECT max(tus) - 3*86400000000 AS c FROM ev),
             |per AS (SELECT event_type AS g, user_id,
             |               (max(tus) - min(tus)) // 86400000000 AS t,
             |               CASE WHEN max(tus) <= (SELECT c FROM cut) THEN 1 ELSE 0 END AS d,
             |               CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS v
             |        FROM ev GROUP BY 1, 2),
             |cen AS (SELECT g, t, count(*) AS cc, sum(v) AS cc1,
             |               sum(d) AS dd, sum(d * v) AS dd1
             |        FROM per GROUP BY 1, 2),
             |risk AS (SELECT g, t, dd, dd1,
             |           sum(cc) OVER (PARTITION BY g ORDER BY t
             |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nr,
             |           sum(cc1) OVER (PARTITION BY g ORDER BY t
             |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nr1
             |         FROM cen),
             |sagg AS (SELECT g, CAST(sum(dd1) AS BIGINT) AS o1,
             |           CAST(sum(1000000 * dd * nr1 // nr) AS BIGINT) AS e1_ppm,
             |           CAST(sum(CASE WHEN nr > 1
             |             THEN CAST(1000000 AS HUGEINT) * dd * nr1 * (nr - nr1) * (nr - dd)
             |                  // (CAST(nr AS HUGEINT) * nr * (nr - 1))
             |             ELSE 0 END) AS BIGINT) AS v_ppm
             |         FROM risk WHERE dd > 0 GROUP BY 1)
             |SELECT g AS event_type, o1, e1_ppm, v_ppm,
             |       CAST(CASE WHEN v_ppm > 0 THEN
             |         (CAST(1000000 AS HUGEINT) * o1 - e1_ppm)
             |           * (CAST(1000000 AS HUGEINT) * o1 - e1_ppm)
             |           // CAST(v_ppm AS HUGEINT) END AS BIGINT) AS z2_ppm
             |FROM sagg ORDER BY event_type""".stripMargin)),

    // t-closeness audit — completes the release-privacy triad
    // (q_k_anon: groups big enough; q_l_diversity: sensitive values
    // varied enough; this: the group's sensitive DISTRIBUTION close
    // enough to the global one that membership leaks nothing): per
    // quasi-identifier group (nation, segment), the ordered-attribute
    // EMD to the global account-band distribution,
    //   EMD = Σ_i |cumP_i − cumQ_i| / (m − 1),
    // cleared of fractions via |cumA_i·N − cumB_i·n_g| (exact integers
    // per bin, summed, ONE final floor-division to ppm; DECIMAL(38,0)
    // guards the ·10⁶ product). The cell frame is domain-bounded
    // (nations × segments × k€-bands); the global cumulative is a
    // broadcast band self-join, NOT an unpartitioned window; the
    // per-group cumulative is a (nation, segment)-partitioned window.
    // t = 0.2: emd_ppm > 200000 fails the release gate.
    Q("q_t_closeness",
      (s, dir) => {
        val cell = Tables.customer(s, dir)
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / 1000).cast("long").as("band"))
          .agg(count(lit(1)).as("a"))
        val bands = cell.groupBy(col("band")).agg(sum(col("a")).as("b"))
        val groups = cell.groupBy(col("nation"), col("segment"))
          .agg(sum(col("a")).as("n_members"))
        val tot = bands.agg(sum(col("b")).as("nn"), count(lit(1)).as("m"))
        val cumB = bands.as("x")
          .join(broadcast(bands.as("y")), col("y.band") <= col("x.band"))
          .groupBy(col("x.band").as("band")).agg(sum(col("y.b")).as("cb"))
        val grid = groups.crossJoin(broadcast(bands.select(col("band"))))
        val fa = grid.join(cell.select(col("nation"), col("segment"),
            col("band"), col("a")), Seq("nation", "segment", "band"), "left")
          .na.fill(0L, Seq("a"))
        val wCum = Window.partitionBy(col("nation"), col("segment"))
          .orderBy(col("band"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = fa.withColumn("ca", sum(col("a")).over(wCum))
          .join(broadcast(cumB), Seq("band"))
          .crossJoin(broadcast(tot))
        cum.groupBy(col("nation"), col("segment"), col("n_members"))
          .agg(sum(expr(
            "abs(CAST(ca AS DECIMAL(38,0)) * nn - CAST(cb AS DECIMAL(38,0)) * n_members)"))
            .as("_sd"), max(col("nn")).as("_nn"), max(col("m")).as("_m"))
          .withColumn("emd_ppm", when(col("_m") > 1, expr(
            """CAST(1000000 AS DECIMAL(38,0)) * _sd
              |DIV (CAST(n_members AS DECIMAL(38,0)) * _nn * (_m - 1))""".stripMargin))
            .otherwise(0L))
          .select(col("nation"), col("segment"), col("n_members"),
            col("emd_ppm"), (col("emd_ppm") <= 200000L).as("pass"))
          .orderBy("nation", "segment")
      },
      Some("""WITH cell AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
             |                     c_mktsegment AS segment,
             |                     CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
             |                     count(*) AS a
             |              FROM customer GROUP BY 1, 2, 3),
             |bands AS (SELECT band, sum(a) AS b FROM cell GROUP BY 1),
             |grp AS (SELECT nation, segment, sum(a) AS n_members
             |        FROM cell GROUP BY 1, 2),
             |tot AS (SELECT sum(b) AS nn, count(*) AS m FROM bands),
             |cumb AS (SELECT x.band, sum(y.b) AS cb
             |         FROM bands x JOIN bands y ON y.band <= x.band GROUP BY 1),
             |grid AS (SELECT g.nation, g.segment, g.n_members, bands.band
             |         FROM grp g CROSS JOIN bands),
             |fa AS (SELECT gr.nation, gr.segment, gr.n_members, gr.band,
             |              coalesce(cell.a, 0) AS a
             |       FROM grid gr LEFT JOIN cell USING (nation, segment, band)),
             |cum AS (SELECT nation, segment, n_members, band,
             |               sum(a) OVER (PARTITION BY nation, segment ORDER BY band
             |                            ROWS UNBOUNDED PRECEDING) AS ca
             |        FROM fa),
             |t AS (SELECT c.nation, c.segment, c.n_members,
             |             sum(abs(CAST(c.ca AS HUGEINT) * tot.nn
             |                     - CAST(cb.cb AS HUGEINT) * c.n_members)) AS sd,
             |             max(tot.nn) AS tn, max(tot.m) AS m
             |      FROM cum c JOIN cumb cb USING (band) CROSS JOIN tot
             |      GROUP BY 1, 2, 3),
             |e AS (SELECT nation, segment, n_members,
             |             CAST(CASE WHEN m > 1
             |               THEN 1000000 * sd
             |                    // (CAST(n_members AS HUGEINT) * tn * (m - 1))
             |               ELSE 0 END AS BIGINT) AS emd_ppm
             |      FROM t)
             |SELECT nation, segment, CAST(n_members AS BIGINT) AS n_members,
             |       emd_ppm, emd_ppm <= 200000 AS pass
             |FROM e ORDER BY nation, segment""".stripMargin)),

    // Brown–Forsythe variance-equality test — the assumption check
    // UNDER q_abtest's pooled t²: is the per-user total's SPREAD the
    // same in both variants? z_iv = |x_iv − median(variant v)| (median,
    // not mean — the robust Brown–Forsythe form), then the same pooled
    // two-sample t² machinery on z (k = 2 arms ⇒ F = t²). The per-arm
    // exact lower medians come from the GROUPED 2-pass selection (a
    // rank window would funnel each (type, variant) through one task);
    // the 10-row median frame broadcasts back onto the dense grid.
    Q("q_levene",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val totals = ev.groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("x"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
        val full = grid.join(totals, Seq("event_type", "user_id"), "left")
          .na.fill(0L, Seq("x"))
          .withColumn("_gv", concat(col("event_type"), lit("|"),
            (col("user_id") % 2).cast("string")))
        val meds = Stats.groupedExactQuantiles(full, col("_gv"), "x",
            Seq(50), binWidth = 100000L)
          .select(col("g").as("_gv"), col("x").as("_med"))
        val z = full.join(broadcast(meds), Seq("_gv"))
          .withColumn("z", abs(col("x") - col("_med")))
        Stats.abTestT2(z, col("event_type"), col("user_id"), col("z"))
          .withColumnRenamed("g", "event_type")
          .withColumnRenamed("mean_diff_sign", "spread_diff_sign")
          .withColumnRenamed("t2_ppm", "bf_t2_ppm")
          .orderBy("event_type")
      },
      Some("""WITH t AS (SELECT event_type, user_id,
             |                  sum(CAST(floor(value * 1000) AS BIGINT)) AS x
             |           FROM events GROUP BY 1, 2),
             |grid AS (SELECT ty.event_type, u.user_id
             |         FROM (SELECT DISTINCT user_id FROM events) u
             |         CROSS JOIN (SELECT DISTINCT event_type FROM events) ty),
             |p AS (SELECT g.event_type, g.user_id, coalesce(t.x, 0) AS xt,
             |             CASE WHEN g.user_id % 2 = 0 THEN 1 ELSE 0 END AS v
             |      FROM grid g LEFT JOIN t USING (event_type, user_id)),
             |r AS (SELECT event_type, v, xt,
             |             row_number() OVER (PARTITION BY event_type, v
             |                                ORDER BY xt) AS rn,
             |             count(*) OVER (PARTITION BY event_type, v) AS n
             |      FROM p),
             |med AS (SELECT event_type, v,
             |               max(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT)
             |                   THEN xt END) AS md
             |        FROM r GROUP BY 1, 2),
             |zz AS (SELECT p.event_type, p.user_id, abs(p.xt - med.md) AS z, p.v
             |       FROM p JOIN med USING (event_type, v)),
             |m AS (SELECT event_type, sum(v) AS n0, sum(1 - v) AS n1,
             |             sum(z * v) AS s0, sum(z * (1 - v)) AS s1,
             |             sum(CAST(z AS HUGEINT) * z * v) AS q0,
             |             sum(CAST(z AS HUGEINT) * z * (1 - v)) AS q1
             |      FROM zz GROUP BY 1),
             |f AS (SELECT event_type, n0, n1, s0, s1,
             |             CAST(s0 AS HUGEINT) * n1 - CAST(s1 AS HUGEINT) * n0 AS num,
             |             n1 * (n0 * q0 - CAST(s0 AS HUGEINT) * s0) +
             |             n0 * (n1 * q1 - CAST(s1 AS HUGEINT) * s1) AS ss
             |      FROM m)
             |SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
             |       CAST(s0 AS BIGINT) AS s0, CAST(s1 AS BIGINT) AS s1,
             |       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
             |            AS BIGINT) AS spread_diff_sign,
             |       CAST(CASE WHEN n0 + n1 > 2 AND ss > 0
             |            THEN (num * num * (n0 + n1 - 2) * 1000000) // (ss * (n0 + n1))
             |            END AS BIGINT) AS bf_t2_ppm
             |FROM f ORDER BY event_type""".stripMargin)),

    // SAX symbolization + motif census — the symbolic-aggregate-
    // approximation view of the per-user hourly series: global exact
    // tercile breakpoints (2-pass selection, rank = ceil(n·p/100) as
    // EXACT integers — no float percent multiply on either side) map
    // each (user, hour) total to a/b/c, then consecutive-observation
    // trigrams are counted globally — the ≤27-row motif census that
    // answers "what shapes does this telemetry make" without DTW's
    // O(n²) per pair. One (user, hour) agg + one user-keyed lag window;
    // breakpoints broadcast.
    Q("q_sax_motifs",
      (s, dir) => {
        val startUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
        val h = Tables.events(s, dir)
          .select(col("user_id").as("g"),
            floor((unix_micros(col("ts")) - startUs) / 3600000000.0)
              .cast("long").as("x"),
            floor(col("value") * 1000).cast("long").as("m"))
          .groupBy(col("g"), col("x")).agg(sum(col("m")).as("y"))
        val bp = Stats.exactQuantilesSelect(h, "y", Seq(33, 67),
            binWidth = 4096L)
          .agg(max(when(col("pct") === 33, col("y"))).as("b1"),
            max(when(col("pct") === 67, col("y"))).as("b2"))
        val w = Window.partitionBy(col("g")).orderBy(col("x"))
        h.crossJoin(broadcast(bp))
          .withColumn("s", when(col("y") <= col("b1"), "a")
            .when(col("y") <= col("b2"), "b").otherwise("c"))
          .withColumn("motif", concat(lag(col("s"), 2).over(w),
            lag(col("s"), 1).over(w), col("s")))
          .filter(col("motif").isNotNull)
          .groupBy(col("motif")).agg(count(lit(1)).as("n_occur"))
          .orderBy("motif")
      },
      Some("""WITH p AS (
             |  SELECT user_id AS g,
             |         CAST(floor((epoch_us(ts) - 1704067200000000) / 3600000000.0) AS BIGINT) AS x,
             |         CAST(floor(value * 1000) AS BIGINT) AS m
             |  FROM events),
             |h AS (SELECT g, x, sum(m) AS y FROM p GROUP BY 1, 2),
             |r AS (SELECT y, row_number() OVER (ORDER BY y) AS rn,
             |             count(*) OVER () AS n
             |      FROM h),
             |bp AS (SELECT max(CASE WHEN rn = (n * 33 + 99) // 100 THEN y END) AS b1,
             |              max(CASE WHEN rn = (n * 67 + 99) // 100 THEN y END) AS b2
             |       FROM r),
             |sym AS (SELECT g, x,
             |               CASE WHEN y <= b1 THEN 'a'
             |                    WHEN y <= b2 THEN 'b' ELSE 'c' END AS s
             |        FROM h CROSS JOIN bp),
             |tri AS (SELECT g,
             |               lag(s, 2) OVER w || lag(s, 1) OVER w || s AS motif
             |        FROM sym WINDOW w AS (PARTITION BY g ORDER BY x))
             |SELECT motif, CAST(count(*) AS BIGINT) AS n_occur
             |FROM tri WHERE motif IS NOT NULL
             |GROUP BY 1 ORDER BY motif""".stripMargin)),

    // Deterministic EXACT-k per-group sample — the eval-set /
    // debugging draw q_stratified_sample's hash-threshold cannot give
    // (thresholds keep a FRACTION; audits and eval sets need exactly k
    // rows per stratum): per event_type the k = 50 events with the
    // smallest md5(event_id), reproducible across runs and engines.
    // The rank rides ONE (event_type)-partitioned window and Spark's
    // WindowGroupLimit pushes the rk <= 50 bound INSIDE the sort (each
    // partition keeps a k-heap instead of fully sorting its group —
    // asserted in PlanRulesSpec), so the full-table sort a naive
    // per-group ORDER BY would need never happens.
    Q("q_group_sample",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("_h"), col("event_id"))
        Tables.events(s, dir)
          .select(col("event_type"), col("event_id"), col("user_id"),
            md5(col("event_id").cast("string")).as("_h"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 50)
          .select(col("event_type"), col("rk").cast("long").as("rk"),
            col("event_id"), col("user_id"))
          .orderBy("event_type", "rk")
      },
      Some("""WITH h AS (SELECT event_type, event_id, user_id,
             |                  md5(CAST(event_id AS VARCHAR)) AS hh
             |           FROM events),
             |r AS (SELECT event_type, event_id, user_id,
             |             row_number() OVER (PARTITION BY event_type
             |                                ORDER BY hh, event_id) AS rk
             |      FROM h)
             |SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, user_id
             |FROM r WHERE rk <= 50 ORDER BY event_type, rk""".stripMargin)),

    // Deterministic GLOBAL exact-k sample — the whole-corpus eval/debug
    // draw (q_group_sample is per-stratum; audits also need one
    // reproducible corpus-wide handful): the k = 100 events with the
    // smallest md5(event_id), TakeOrdered (k-heap per partition +
    // driver merge of k·partitions rows — never a global sort), hash
    // column in the output so rows self-identify.
    Q("q_reservoir",
      (s, dir) => Tables.events(s, dir)
        .select(md5(col("event_id").cast("string").cast("binary")).as("h"),
          col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("h"), col("event_id"))
        .limit(100),
      Some(reservoirOracleSql)),

    // Exact per-day ROC-AUC of event value as a purchase-ranker — the
    // rank-semantics classifier metric (does value order purchases above
    // the rest?), computed census-first: the row-sized work is ONE
    // (day, value) count agg; the prefix window runs over the
    // domain-bounded census only (never a global rank of the rows).
    // u2 = 2U keeps halves integral; auc_ppm = u2·10⁶ DIV (2·n⁺·n⁻).
    Q("q_auc",
      (s, dir) => Stats.aucByGroup(Tables.events(s, dir),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"),
          floor(col("value") * 1000).cast("long"),
          (col("event_type") === "purchase").cast("long"))
        .withColumnRenamed("g", "day").orderBy("day"),
      Some("""WITH b AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
             |                  CAST(floor(value*1000) AS BIGINT) AS s,
             |                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             |           FROM events),
             |c AS (SELECT d, s, sum(p) AS np, sum(1 - p) AS nn FROM b GROUP BY 1, 2),
             |w AS (SELECT d, s, np, nn,
             |             sum(nn) OVER (PARTITION BY d ORDER BY s) AS cumn FROM c),
             |a AS (SELECT d, sum(np) AS n_pos, sum(nn) AS n_neg,
             |             sum(CAST(np AS HUGEINT) * (2 * (cumn - nn) + nn)) AS u2
             |      FROM w GROUP BY 1)
             |SELECT d AS day, CAST(n_pos AS BIGINT) AS n_pos,
             |       CAST(n_neg AS BIGINT) AS n_neg, CAST(u2 AS BIGINT) AS u2,
             |       CAST(CASE WHEN n_pos > 0 AND n_neg > 0
             |            THEN u2 * 1000000 // (2 * CAST(n_pos AS HUGEINT) * n_neg)
             |            END AS BIGINT) AS auc_ppm
             |FROM a ORDER BY day""".stripMargin)),

    // Exact per-day precision-recall curve — the threshold sweep AUC
    // summarizes away (WHERE is the ranker usable — the question before
    // picking a quality-score cutoff). Census-first like q_auc: one
    // (day, score-bin) count agg; the cumulative window runs over the
    // domain-bounded census only. Bins are the q_calibration_ece 50k
    // score bands.
    Q("q_pr_curve",
      (s, dir) => Stats.prCurveByGroup(Tables.events(s, dir),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"),
          expr("CAST(floor(value * 1000) AS BIGINT) DIV 50000"),
          (col("event_type") === "purchase").cast("long"))
        .withColumnRenamed("g", "day").orderBy("day", "bucket"),
      Some("""WITH b AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |                  CAST(floor(value * 1000) AS BIGINT) // 50000 AS bucket,
             |                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             |           FROM events),
             |c AS (SELECT day, bucket, CAST(sum(p) AS BIGINT) AS np,
             |             CAST(sum(1 - p) AS BIGINT) AS nn FROM b GROUP BY 1, 2),
             |w AS (SELECT day, bucket,
             |             sum(np) OVER (PARTITION BY day ORDER BY bucket DESC) AS tp,
             |             sum(nn) OVER (PARTITION BY day ORDER BY bucket DESC) AS fp,
             |             sum(np) OVER (PARTITION BY day) - sum(np)
             |               OVER (PARTITION BY day ORDER BY bucket DESC) AS fn
             |      FROM c)
             |SELECT day, bucket, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             |       CAST(fn AS BIGINT) AS fn,
             |       CAST(CAST(tp AS HUGEINT) * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
             |       CAST(CASE WHEN tp + fn > 0
             |            THEN CAST(tp AS HUGEINT) * 1000000 // (tp + fn) END AS BIGINT) AS recall_ppm,
             |       CAST(CASE WHEN 2 * tp + fp + fn > 0
             |            THEN 2 * CAST(tp AS HUGEINT) * 1000000 // (2 * tp + fp + fn)
             |            END AS BIGINT) AS f1_ppm
             |FROM w ORDER BY day, bucket""".stripMargin)),

    // Average precision per day — the single-number PR summary (the
    // class-imbalance-honest twin of AUC): Σ Δtp·precision ÷ P over the
    // same score-bin census, floor divisions in a defined order.
    Q("q_avg_precision",
      (s, dir) => Stats.avgPrecisionByGroup(Tables.events(s, dir),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"),
          expr("CAST(floor(value * 1000) AS BIGINT) DIV 50000"),
          (col("event_type") === "purchase").cast("long"))
        .withColumnRenamed("g", "day").orderBy("day"),
      Some("""WITH b AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |                  CAST(floor(value * 1000) AS BIGINT) // 50000 AS bucket,
             |                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             |           FROM events),
             |c AS (SELECT day, bucket, CAST(sum(p) AS BIGINT) AS np,
             |             CAST(sum(1 - p) AS BIGINT) AS nn FROM b GROUP BY 1, 2),
             |w AS (SELECT day, np,
             |             sum(np) OVER (PARTITION BY day ORDER BY bucket DESC) AS tp,
             |             sum(nn) OVER (PARTITION BY day ORDER BY bucket DESC) AS fp
             |      FROM c),
             |a AS (SELECT day, CAST(sum(np) AS BIGINT) AS n_pos,
             |             sum(CAST(np AS HUGEINT)
             |                 * (CAST(tp AS HUGEINT) * 1000000 // (tp + fp))) AS ap_num
             |      FROM w GROUP BY 1)
             |SELECT day, n_pos,
             |       CAST(CASE WHEN n_pos > 0 THEN ap_num // n_pos END AS BIGINT) AS ap_ppm
             |FROM a ORDER BY day""".stripMargin)),

    // Brier-score decomposition (reliability / resolution / uncertainty,
    // Murphy 1973) — does the claimed probability match the observed
    // rate, and is the error miscalibration or inherent noise? The
    // pseudo-forecast is the value's milli fraction (deterministic);
    // outcome = purchase. One row-sized agg + one 10-bin census, every
    // division floored in a defined order — replays exactly.
    Q("q_brier",
      (s, dir) => Stats.brierDecomposition(Tables.events(s, dir),
          expr("CAST(floor(value * 1000) AS BIGINT) % 1000"),
          (col("event_type") === "purchase").cast("long"))
        .orderBy("n"),
      Some(brierOracleSql)),

    // Leave-one-out m-estimate target encoding of event_type on value —
    // the leak-safe high-cardinality categorical feature: each row's own
    // target is excluded from its category mean and rare categories
    // shrink toward the global mean (m = 10). One category rollup + a
    // 1-row global total, both broadcast back — the fact rows never
    // shuffle. Exact: cleared to one DECIMAL floor-division per row.
    Q("q_target_encode",
      (s, dir) => Labeling.targetEncodeLoo(Tables.events(s, dir),
          col("event_id"), col("event_type"),
          floor(col("value") * 1000).cast("long"))
        .withColumnRenamed("id", "event_id")
        .withColumnRenamed("cat", "event_type").orderBy("event_id"),
      Some("""WITH b AS (SELECT event_id, event_type,
             |                  CAST(floor(value*1000) AS BIGINT) AS y FROM events),
             |g AS (SELECT sum(y) AS gsum, count(*) AS gn FROM b),
             |c AS (SELECT event_type, sum(y) AS csum, count(*) AS cn
             |      FROM b GROUP BY 1)
             |SELECT b.event_id, b.event_type, CAST(c.cn AS BIGINT) AS n_cat,
             |       CAST(((CAST(c.csum AS HUGEINT) - b.y) * g.gn
             |              + 10 * CAST(g.gsum AS HUGEINT)) * 1000
             |            // ((CAST(c.cn AS HUGEINT) - 1 + 10) * g.gn)
             |            AS BIGINT) AS loo_milli
             |FROM b JOIN c USING (event_type) CROSS JOIN g
             |ORDER BY event_id""".stripMargin)),

    // EXACT weighted quantiles of value under per-user importance
    // weights — the DSIR-weighted-corpus selection: the p-quantile is
    // the smallest value whose cumulative WEIGHT reaches ⌈W·p/100⌉.
    // Same two-pass shape as q_exact_quantiles (map-side weighted
    // histogram → driver prefix walk → target-bin-only rescan); a
    // global weighted rank window would funnel everything through one
    // task at 100 TB.
    Q("q_weighted_quantile",
      (s, dir) => Stats.weightedQuantileSelect(
        Tables.events(s, dir).select(
          floor(col("value") * 1000).cast("long").as("value_mils"),
          (pmod(col("user_id"), lit(10L)) + 1L).as("w")),
        "value_mils", "w", Seq(25, 50, 90, 99)),
      Some("""WITH b AS (SELECT CAST(floor(value*1000) AS BIGINT) AS v,
             |                  user_id % 10 + 1 AS w FROM events),
             |t AS (SELECT sum(w) AS tw FROM b),
             |c AS (SELECT v, sum(w) AS wv FROM b GROUP BY 1),
             |cum AS (SELECT v, sum(wv) OVER (ORDER BY v) AS cw FROM c),
             |q AS (SELECT unnest([25, 50, 90, 99]) AS p),
             |tgt AS (SELECT p, (tw * p + 99) // 100 AS rk, tw
             |        FROM q CROSS JOIN t)
             |SELECT CAST(tgt.p AS BIGINT) AS pct,
             |       CAST(tgt.tw AS BIGINT) AS n_weight,
             |       CAST(min(cum.v) AS BIGINT) AS value_mils
             |FROM tgt JOIN cum ON cum.cw >= tgt.rk
             |GROUP BY 1, 2 ORDER BY pct""".stripMargin)),

    // Cochran–Armitage trend test per user segment — "does purchase
    // propensity TREND with hour of day?": one df spent on the linear
    // dose ordering (a plain χ² would ignore it). (segment, hour)
    // census + rollup; z² cleared to one DECIMAL floor-division.
    Q("q_cochran_armitage",
      (s, dir) => Stats.cochranArmitage(Tables.events(s, dir),
          pmod(col("user_id"), lit(3L)),
          expr("(unix_micros(ts) div 3600000000) % 24"),
          (col("event_type") === "purchase").cast("long"))
        .withColumnRenamed("g", "segment").orderBy("segment"),
      Some("""WITH b AS (SELECT user_id % 3 AS g,
             |                  (epoch_us(ts) // 3600000000) % 24 AS w,
             |                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             |           FROM events),
             |c AS (SELECT g, w, count(*) AS n, sum(p) AS r FROM b GROUP BY 1, 2),
             |a AS (SELECT g, sum(n) AS n, sum(r) AS np, sum(w*n) AS swn,
             |             sum(w*r) AS swr, sum(w*w*n) AS sw2n FROM c GROUP BY 1),
             |f AS (SELECT g, n, np,
             |        CAST(n AS HUGEINT) * swr - CAST(np AS HUGEINT) * swn AS t,
             |        CAST(n AS HUGEINT) * sw2n - CAST(swn AS HUGEINT) * swn AS d
             |      FROM a)
             |SELECT g AS segment, CAST(n AS BIGINT) AS n,
             |       CAST(np AS BIGINT) AS n_pos,
             |       CAST(CASE WHEN np > 0 AND np < n AND d > 0
             |            THEN (CASE WHEN t < 0 THEN -1 WHEN t > 0 THEN 1 ELSE 0 END)
             |            END AS BIGINT) AS dir_sign,
             |       CAST(CASE WHEN np > 0 AND np < n AND d > 0
             |            THEN t * t * n * 1000000
             |                 // (CAST(np AS HUGEINT) * (n - np) * d)
             |            END AS BIGINT) AS z2_ppm
             |FROM f ORDER BY segment""".stripMargin)),

    // MASE accuracy audit of the q_forecast_snaive backtest — forecast
    // MAE scaled by the IN-SAMPLE seasonal-naive MAE (the
    // scale-free "is the model better than repeating yesterday?"
    // verdict; < 10⁶ ppm = beats naive). Same hourly/model frames;
    // the naive denominator is one lag window partitioned by
    // hour-of-day over the TRAIN rows; ratio cleared to one DECIMAL
    // floor-division. 1-row broadcast-cross of two totals.
    Q("q_forecast_mase",
      (s, dir) => {
        val startUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
        val splitUs = startUs + 20L * 86400000000L
        val hourly = Tables.events(s, dir)
          .groupBy(expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
          .agg(sum(floor(col("value") * 100)).cast("long").as("value_cmil"))
          .withColumn("hod", (floor(col("hour_us") / 3600000000L).cast("long") % 24))
        val train = hourly.filter(col("hour_us") < splitUs)
        val model = train.groupBy(col("hod"))
          .agg(floor(sum(col("value_cmil")) / count(lit(1))).cast("long")
            .as("forecast_cmil"))
        val ev = hourly.filter(col("hour_us") >= splitUs)
          .join(broadcast(model), Seq("hod"))
          .agg(count(lit(1)).as("n_eval"),
            sum(abs(col("value_cmil") - col("forecast_cmil"))).as("sae_eval"))
        val wHod = Window.partitionBy(col("hod")).orderBy(col("hour_us"))
        val naive = train
          .withColumn("_prev", lag(col("value_cmil"), 1).over(wHod))
          .filter(col("_prev").isNotNull)
          .agg(count(lit(1)).as("n_naive"),
            sum(abs(col("value_cmil") - col("_prev"))).as("sae_naive"))
        ev.crossJoin(broadcast(naive))
          .select(col("n_eval"), col("n_naive"), col("sae_eval"), col("sae_naive"),
            when(col("sae_naive") > 0 && col("n_eval") > 0, expr(
              """CAST(CAST(sae_eval AS DECIMAL(38,0)) * n_naive * 1000000
                |  DIV (CAST(sae_naive AS DECIMAL(38,0)) * n_eval) AS BIGINT)""".stripMargin))
              .as("mase_ppm"))
      },
      Some("""WITH h AS (SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
             |                  CAST(sum(floor(value * 100)) AS BIGINT) AS value_cmil
             |           FROM events GROUP BY 1),
             |hh AS (SELECT hour_us, value_cmil,
             |              (hour_us // 3600000000) % 24 AS hod FROM h),
             |m AS (SELECT hod,
             |             CAST(floor(sum(value_cmil) * 1.0 / count(*)) AS BIGINT) AS forecast_cmil
             |      FROM hh WHERE hour_us < 1705795200000000 GROUP BY 1),
             |e AS (SELECT CAST(count(*) AS BIGINT) AS n_eval,
             |             CAST(sum(abs(value_cmil - forecast_cmil)) AS BIGINT) AS sae_eval
             |      FROM hh JOIN m USING (hod) WHERE hour_us >= 1705795200000000),
             |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_naive,
             |              CAST(sum(abs(value_cmil - prev)) AS BIGINT) AS sae_naive
             |       FROM (SELECT value_cmil,
             |                    lag(value_cmil) OVER (PARTITION BY hod ORDER BY hour_us) AS prev
             |             FROM hh WHERE hour_us < 1705795200000000)
             |       WHERE prev IS NOT NULL)
             |SELECT n_eval, n_naive, sae_eval, sae_naive,
             |       CAST(CASE WHEN sae_naive > 0 AND n_eval > 0
             |            THEN CAST(sae_eval AS HUGEINT) * n_naive * 1000000
             |                 // (CAST(sae_naive AS HUGEINT) * n_eval)
             |            END AS BIGINT) AS mase_ppm
             |FROM e CROSS JOIN nv""".stripMargin)),

    // Jarque-Bera normality screen per event type — skew²/excess-
    // kurtosis/JB from EXACT DECIMAL(38,0) power sums (cents); the
    // final assembly is MIRRORED double arithmetic (the q_corr_matrix
    // pattern: identical expression text feeds both engines via
    // jbFormulas, so IEEE ops round identically) floored to ppm. One
    // map-side moment pass; the 5-row frame does the row-local math.
    Q("q_jarque_bera",
      (s, dir) => {
        val m = Tables.events(s, dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast("decimal(38,0)").as("_x"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("_x")).as("_s1"),
            sum(col("_x") * col("_x")).as("_s2"),
            sum(col("_x") * col("_x") * col("_x")).as("_s3"),
            sum(col("_x") * col("_x") * col("_x") * col("_x")).as("_s4"))
        jbFormulas.foldLeft(m) { case (d, (c, f)) => d.withColumn(c, expr(f)) }
          .select(col("event_type"), col("n"),
            col("skew2_ppm"), col("exkurt_ppm"), col("jb_ppm"))
          .orderBy("event_type")
      },
      Some {
        // one nested CTE level per formula = the exact withColumn chain,
        // so both engines evaluate identical double expression trees
        val derived = jbFormulas.zipWithIndex.map { case ((c, f), i) =>
          s"d${i + 1} AS (SELECT *, $f AS $c FROM d$i)"
        }.mkString(",\n")
        s"""WITH b AS (SELECT event_type, CAST(floor(value*100) AS HUGEINT) AS x
           |           FROM events),
           |d0 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |              sum(x) AS _s1, sum(x*x) AS _s2,
           |              sum(x*x*x) AS _s3, sum(x*x*x*x) AS _s4
           |       FROM b GROUP BY 1),
           |$derived
           |SELECT event_type, n, skew2_ppm, exkurt_ppm, jb_ppm
           |FROM d${jbFormulas.size} ORDER BY event_type""".stripMargin
      }),

    // Decision-stump feature screening: best value-unit thresholds for
    // splitting purchases from non-purchases by exact Gini impurity —
    // the "does this feature carry signal?" filter before a model fit.
    // ONE domain-bounded bin census + broadcast cumulative self-join;
    // all-rational ppm (see Stats.giniSplitGain).
    Q("q_split_gain",
      (s, dir) => Stats.giniSplitGain(Tables.events(s, dir),
        floor(col("value")),
        (col("event_type") === "purchase").cast("long"), topK = 5),
      Some("""WITH c AS (SELECT CAST(floor(value) AS BIGINT) AS b, count(*) AS n,
             |                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS r
             |           FROM events GROUP BY 1),
             |t AS (SELECT sum(n) AS tn, sum(r) AS tr FROM c),
             |cum AS (SELECT a.b AS threshold, CAST(sum(bb.n) AS BIGINT) AS n_left,
             |               CAST(sum(bb.r) AS BIGINT) AS pl
             |        FROM c a JOIN c bb ON bb.b <= a.b GROUP BY 1),
             |sc AS (SELECT threshold, n_left,
             |         CAST(((CAST(n_left AS HUGEINT)*n_left - CAST(pl AS HUGEINT)*pl
             |                 - CAST(n_left-pl AS HUGEINT)*(n_left-pl)) * (tn-n_left)
             |               + (CAST(tn-n_left AS HUGEINT)*(tn-n_left)
             |                 - CAST(tr-pl AS HUGEINT)*(tr-pl)
             |                 - CAST((tn-n_left)-(tr-pl) AS HUGEINT)*((tn-n_left)-(tr-pl))) * n_left)
             |              * 1000000
             |              // (CAST(n_left AS HUGEINT) * (tn-n_left) * tn) AS BIGINT) AS impurity_ppm,
             |         CAST((CAST(tn AS HUGEINT)*tn - CAST(tr AS HUGEINT)*tr
             |               - CAST(tn-tr AS HUGEINT)*(tn-tr)) * 1000000
             |              // (CAST(tn AS HUGEINT)*tn) AS BIGINT) AS base_ppm
             |       FROM cum CROSS JOIN t WHERE n_left < tn)
             |SELECT threshold, n_left, impurity_ppm,
             |       base_ppm - impurity_ppm AS gain_ppm
             |FROM sc ORDER BY impurity_ppm, threshold LIMIT 5""".stripMargin)),

    // Hop-capped harmonic centrality of a 5-part seed set over the
    // co-purchase graph — the closeness readout BFS/SSSP don't give;
    // ONE multi-source frontier sweep amortizes the per-round edge
    // join across all seeds. Terms floor to ppm before summing.
    Q("q_harmonic_centrality",
      (s, dir) => {
        val und = coEdges(s, dir)
        Graph.harmonicCentrality(und, seeds = Seq(1L, 2L, 3L, 4L, 5L),
          maxHops = 3).orderBy("seed")
      },
      Some("""WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |und AS (SELECT DISTINCT a.p AS u, b.p AS v
             |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
             |ed AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
             |walk(seed, node, hop) AS (
             |  SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), CAST(0 AS BIGINT)
             |  FROM (SELECT unnest([1, 2, 3, 4, 5]) AS s)
             |  UNION
             |  SELECT w.seed, e.v, w.hop + 1 FROM walk w JOIN ed e ON w.node = e.u
             |  WHERE w.hop < 3),
             |d AS (SELECT seed, node, min(hop) AS hop FROM walk GROUP BY 1, 2)
             |SELECT seed, count(*) AS n_reached,
             |       CAST(sum(1000000 // hop) AS BIGINT) AS harmonic_ppm
             |FROM d WHERE hop >= 1 GROUP BY 1 ORDER BY seed""".stripMargin)),

    // Supervised-label generation windows — the feature/outcome-window
    // split every churn/propensity training set is built from: per-user
    // features over days [0, 20) (counts, distinct types, recency,
    // value sum) and the binary label "active in days [20, 27)" — all
    // from ONE conditional user-keyed aggregation pass, so the label
    // can never leak observation-window events (the windows are
    // disjoint CASE predicates on the same row, not separate scans).
    Q("q_label_windows",
      (s, dir) => {
        val startUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
        Tables.events(s, dir)
          .withColumn("_day",
            floor((expr("unix_micros(ts)") - startUs) / 86400000000L).cast("long"))
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("_day") < 20, 1L).otherwise(0L)).as("n_obs"),
            sum(when(col("_day") < 20 && col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("n_purchase_obs"),
            count_distinct(when(col("_day") < 20, col("event_type")))
              .as("n_types_obs"),
            max(when(col("_day") < 20, col("_day"))).as("last_obs_day"),
            sum(when(col("_day") < 20, floor(col("value") * 100).cast("long"))
              .otherwise(0L)).as("value_obs_cmil"),
            max(when(col("_day") >= 20 && col("_day") < 27, 1L).otherwise(0L))
              .as("label"))
          .filter(col("n_obs") > 0)
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, event_type, value,
             |                 (epoch_us(ts) - 1704067200000000) // 86400000000 AS day
             |           FROM events)
             |SELECT user_id,
             |       CAST(count(*) FILTER (WHERE day < 20) AS BIGINT) AS n_obs,
             |       CAST(count(*) FILTER (WHERE day < 20 AND event_type = 'purchase')
             |            AS BIGINT) AS n_purchase_obs,
             |       CAST(count(DISTINCT CASE WHEN day < 20 THEN event_type END)
             |            AS BIGINT) AS n_types_obs,
             |       CAST(max(CASE WHEN day < 20 THEN day END) AS BIGINT) AS last_obs_day,
             |       CAST(sum(CASE WHEN day < 20
             |                THEN CAST(floor(value*100) AS BIGINT) ELSE 0 END)
             |            AS BIGINT) AS value_obs_cmil,
             |       CAST(max(CASE WHEN day >= 20 AND day < 27 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS label
             |FROM e GROUP BY user_id
             |HAVING count(*) FILTER (WHERE day < 20) > 0
             |ORDER BY user_id""".stripMargin)),

    // Quantile normalization of value across event types (batch-effect
    // correction / per-source score alignment): each row maps to the
    // GLOBAL order statistic at its within-group relative rank, so all
    // five types end up on one common distribution. Banded global rank
    // — never one unpartitioned window (see Stats.quantileNormalize).
    Q("q_quantile_align",
      (s, dir) => Stats.quantileNormalize(
          Tables.events(s, dir)
            .select(col("event_id"), col("event_type"),
              floor(col("value") * 1000).cast("long").as("value_mils")),
          col("event_id"), col("event_type"), "value_mils")
        .withColumnRenamed("id", "event_id")
        .withColumnRenamed("g", "event_type")
        .orderBy("event_id"),
      Some("""WITH b AS (SELECT event_id, event_type AS g,
             |                  CAST(floor(value*1000) AS BIGINT) AS v FROM events),
             |r AS (SELECT event_id, g, v,
             |             row_number() OVER (PARTITION BY g ORDER BY v, event_id) AS r,
             |             count(*) OVER (PARTITION BY g) AS ng FROM b),
             |gl AS (SELECT v AS gv,
             |              row_number() OVER (ORDER BY v, event_id) AS rn FROM b),
             |t AS (SELECT count(*) AS n FROM b)
             |SELECT r.event_id, r.g AS event_type, r.v AS value_mils,
             |       CAST(gl.gv AS BIGINT) AS norm_value_mils
             |FROM r CROSS JOIN t
             |JOIN gl ON gl.rn = (r.r * t.n + r.ng - 1) // r.ng
             |ORDER BY event_id""".stripMargin)),

    // Contribution-bounded census — the DP sensitivity PRECONDITION
    // q_dp_counts' noise ladder assumes: each user counts at most C=3
    // times per (type, day) cell, so one user's presence moves any
    // released count by ≤ 3 (bounded sensitivity). No window needed:
    // bounded count = Σ min(c_user, 3) — one (user, type, day)
    // map-side census + one rollup. n_clamped shows the mass the cap
    // removed (the utility cost of the bound).
    Q("q_dp_bounded",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"),
          expr("unix_micros(date_trunc('day', ts))").as("day_us"))
        .agg(count(lit(1)).as("_c"))
        .groupBy(col("event_type"), col("day_us"))
        .agg(sum(col("_c")).as("n_raw"),
          sum(least(col("_c"), lit(3L))).as("n_bounded"),
          count(lit(1)).as("n_users"))
        .withColumn("n_clamped", col("n_raw") - col("n_bounded"))
        .orderBy("event_type", "day_us"),
      Some("""WITH u AS (SELECT user_id, event_type,
             |                  epoch_us(date_trunc('day', ts)) AS day_us,
             |                  count(*) AS c
             |           FROM events GROUP BY 1, 2, 3)
             |SELECT event_type, day_us,
             |       CAST(sum(c) AS BIGINT) AS n_raw,
             |       CAST(sum(least(c, 3)) AS BIGINT) AS n_bounded,
             |       CAST(count(*) AS BIGINT) AS n_users,
             |       CAST(sum(c) - sum(least(c, 3)) AS BIGINT) AS n_clamped
             |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )

  /** The q_seasonal_stl decomposition frame, shared with
    * q_seasonal_strength: (hour_us, value_cmil, trend_cmil,
    * seasonal_cmil, resid_cmil), unordered. Banded/halo rolling trend —
    * see the q_seasonal_stl comment for the stencil pattern. */
  private def stlDecomposition(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
      .agg(sum(floor(col("value") * 100)).cast("long").as("value_cmil"))
    val idx = graft.operators.SuffixArray.prefixOffsets(
      hourly.select(col("hour_us"), lit(1L).as("_one")), "hour_us", "_one")
    val pos = hourly.join(idx, "hour_us")
      .withColumn("_b", call_function("div", col("_ofs"), lit(24L)))
    val own = pos.withColumn("_halo", lit(false))
    val haloUp = pos.filter(pmod(col("_ofs"), lit(24L)) >= 13)
      .withColumn("_b", col("_b") + 1).withColumn("_halo", lit(true))
    val haloDown = pos.filter(pmod(col("_ofs"), lit(24L)) <= 11)
      .withColumn("_b", col("_b") - 1).withColumn("_halo", lit(true))
    val wT = Window.partitionBy(col("_b")).orderBy(col("_ofs"))
      .rowsBetween(-11, 12)
    own.unionByName(haloUp).unionByName(haloDown)
      .select(col("hour_us"), col("value_cmil"), col("_b"), col("_halo"),
        floor(sum(col("value_cmil")).over(wT) / count(lit(1)).over(wT))
          .cast("long").as("trend_cmil"))
      .filter(!col("_halo"))
      .select(col("hour_us"), col("value_cmil"), col("trend_cmil"),
        (col("value_cmil") - col("trend_cmil")).as("_det"),
        (floor(col("hour_us") / 3600000000L).cast("long") % 24).as("_hod"))
      .withColumn("seasonal_cmil",
        floor(sum(col("_det")).over(Window.partitionBy(col("_hod"))) /
          count(lit(1)).over(Window.partitionBy(col("_hod")))).cast("long"))
      .select(col("hour_us"), col("value_cmil"), col("trend_cmil"),
        col("seasonal_cmil"),
        (col("_det") - col("seasonal_cmil")).as("resid_cmil"))
  }

  /** Oracle CTE chain producing the [[stlDecomposition]] frame as `stl`
    * — ONE SQL text shared by the q_seasonal_stl and q_seasonal_strength
    * oracles (anti-drift: the decomposition is defined once). */
  private def stlOracleCtes: String =
    """WITH h AS (
      |  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
      |         CAST(sum(floor(value * 100)) AS BIGINT) AS value_cmil
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT hour_us, value_cmil,
      |         CAST(floor(sum(value_cmil) OVER w * 1.0 / count(*) OVER w) AS BIGINT) AS trend_cmil
      |  FROM h WINDOW w AS (ORDER BY hour_us ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
      |d AS (
      |  SELECT hour_us, value_cmil, trend_cmil,
      |         value_cmil - trend_cmil AS det,
      |         (hour_us // 3600000000) % 24 AS hod
      |  FROM t),
      |stl AS (
      |  SELECT hour_us, value_cmil, trend_cmil,
      |         CAST(floor(sum(det) OVER (PARTITION BY hod) * 1.0
      |                    / count(*) OVER (PARTITION BY hod)) AS BIGINT) AS seasonal_cmil,
      |         det - CAST(floor(sum(det) OVER (PARTITION BY hod) * 1.0
      |                    / count(*) OVER (PARTITION BY hod)) AS BIGINT) AS resid_cmil
      |  FROM d)""".stripMargin

  /** Jarque-Bera derived-column formulas, ONE source of truth feeding
    * both the engine's withColumn chain and the oracle's nested CTEs
    * (the q_corr_matrix mirrored-double pattern: the power sums are
    * exact integers, every double op below is IEEE correctly-rounded
    * and evaluated in the same order by both engines, so the floored
    * ppm values hash-match). Central moments about the mean from raw
    * power sums; skew² = m3²/m2³, excess kurtosis = m4/m2² − 3,
    * JB = n·(skew²/6 + exkurt²/24). */
  private def jbFormulas: Seq[(String, String)] = Seq(
    "_nd" -> "CAST(n AS DOUBLE)",
    "_mean" -> "CAST(_s1 AS DOUBLE) / _nd",
    "_m2" -> "CAST(_s2 AS DOUBLE) / _nd - _mean * _mean",
    "_m3" -> ("CAST(_s3 AS DOUBLE) / _nd - 3.0 * _mean * (CAST(_s2 AS DOUBLE) / _nd)"
      + " + 2.0 * _mean * _mean * _mean"),
    "_m4" -> ("CAST(_s4 AS DOUBLE) / _nd - 4.0 * _mean * (CAST(_s3 AS DOUBLE) / _nd)"
      + " + 6.0 * _mean * _mean * (CAST(_s2 AS DOUBLE) / _nd)"
      + " - 3.0 * _mean * _mean * _mean * _mean"),
    "skew2_ppm" ->
      "CAST(floor(1000000.0 * (_m3 * _m3) / (_m2 * _m2 * _m2)) AS BIGINT)",
    "exkurt_ppm" ->
      "CAST(floor(1000000.0 * (_m4 / (_m2 * _m2) - 3.0)) AS BIGINT)",
    "jb_ppm" -> ("CAST(floor(1000000.0 * _nd * ((_m3 * _m3) / (_m2 * _m2 * _m2) / 6.0"
      + " + (_m4 / (_m2 * _m2) - 3.0) * (_m4 / (_m2 * _m2) - 3.0) / 24.0)) AS BIGINT)"))

  /** Shared co-purchase pair frame for the graph family: distinct
    * (part, part) pairs sharing an order, with their co-order count.
    * The exploding lineitem self-join behind it used to run inside every
    * graph query — and once per self-join BRANCH inside a query's DAG
    * (q_assortativity re-derived it three times, q_link_predict four).
    * Staged content-keyed it is built ONCE per corpus and every consumer
    * re-plans as a parquet scan of (u, v, n_co) longs — the optimization
    * guide's §2.4 "remove shuffles outright" (one exchange shared by 18
    * queries) and §2.3 "shuffle a compact proxy" (three longs, never the
    * lineitem rows). At 100 TB this is exactly the materialize-the-edge-
    * list-once contract every production graph pipeline ships. */
  private def coPairCounts(s: SparkSession, dir: String): DataFrame = {
    val lp = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    graft.store.Staging.stage(
      lp.as("a")
        .join(lp.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("n_co")),
      "co_pairs")
  }

  /** The distinct undirected co-purchase edge set (u < v) — the groupBy
    * key set of [[coPairCounts]] IS the distinct pair set, so this is a
    * pure projection of the staged frame. */
  private def coEdges(s: SparkSession, dir: String): DataFrame =
    coPairCounts(s, dir).select(col("u"), col("v"))

  /** The support-filtered (co-bought in >= 2 orders) edge set — the
    * assoc-rules flavor the community-detection queries run on. */
  private def coEdges2(s: SparkSession, dir: String): DataFrame =
    coPairCounts(s, dir).filter(col("n_co") >= 2).select(col("u"), col("v"))

  /** Shared point frame for the spatial family: events with exact
    * integer coords derived from event_id and micros timestamps. */
  private def eventPoints(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      Spatial.xMil(col("event_id")).as("x"),
      Spatial.yMil(col("event_id")).as("y"))

  /** Unrolled-iteration DuckDB oracle for [[Graph.personalizedPagerank]]
    * over the part⇄supplier graph — teleport mass splits across the
    * seed set, rank₀ = floor(scale/|S|) on seeds else 0, same floors. */
  private def pprOracle(seeds: Seq[Long], iters: Int): String = {
    val seedList = seeds.mkString(", ")
    val k = seeds.length
    val head = Seq(
      """e AS (SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst FROM lineitem
        |       UNION SELECT DISTINCT l_suppkey + 1000000 AS src, l_partkey AS dst FROM lineitem)""".stripMargin,
      "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)",
      "nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e)",
      s"""r0 AS (SELECT node, CASE WHEN node IN ($seedList)
         |        THEN CAST(1000000000 / $k AS BIGINT) ELSE 0 END AS rank FROM nodes)""".stripMargin)
    val hold = (15L * 1000000000L) / (100L * k)
    val steps = (1 to iters).flatMap { t =>
      Seq(
        s"""ct$t AS (
           |  SELECT e.dst AS node, sum(CAST(floor(r.rank / d.deg) AS BIGINT)) AS inflow
           |  FROM e JOIN r${t - 1} r ON e.src = r.node AND r.rank > 0
           |       JOIN deg d ON e.src = d.src GROUP BY e.dst)""".stripMargin,
        s"""r$t AS (
           |  SELECT n.node,
           |         CASE WHEN n.node IN ($seedList) THEN $hold ELSE 0 END
           |           + CAST(floor(coalesce(c.inflow, 0) * 85 / 100.0) AS BIGINT) AS rank
           |  FROM nodes n LEFT JOIN ct$t c USING (node))""".stripMargin)
    }
    "WITH " + (head ++ steps).mkString(",\n") +
      s"\nSELECT node, rank FROM r$iters ORDER BY node"
  }

  /** Unrolled-iteration DuckDB oracle for [[Graph.pagerank]] over the
    * part⇄supplier graph — same base/hold floors, same per-iteration
    * contrib floor-div, generated for the same `iters`. */
  private def pagerankOracle(iters: Int): String = {
    val head = Seq(
      """e AS (SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst FROM lineitem
        |       UNION SELECT DISTINCT l_suppkey + 1000000 AS src, l_partkey AS dst FROM lineitem)""".stripMargin,
      "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)",
      "nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e)",
      """nb AS (SELECT CAST(floor(1000000000.0 / count(*)) AS BIGINT) AS base,
        |               CAST(floor(15 * CAST(floor(1000000000.0 / count(*)) AS BIGINT) / 100.0) AS BIGINT) AS hold
        |        FROM nodes)""".stripMargin,
      "r0 AS (SELECT node, (SELECT base FROM nb) AS rank FROM nodes)")
    val steps = (1 to iters).flatMap { t =>
      Seq(
        s"""ct$t AS (
           |  SELECT e.dst AS node, sum(CAST(floor(r.rank / d.deg) AS BIGINT)) AS inflow
           |  FROM e JOIN r${t - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY e.dst)""".stripMargin,
        s"""r$t AS (
           |  SELECT n.node, (SELECT hold FROM nb) + CAST(floor(coalesce(c.inflow, 0) * 85 / 100.0) AS BIGINT) AS rank
           |  FROM nodes n LEFT JOIN ct$t c USING (node))""".stripMargin)
    }
    "WITH " + (head ++ steps).mkString(",\n") +
      s"\nSELECT node, rank FROM r$iters ORDER BY node"
  }
}
