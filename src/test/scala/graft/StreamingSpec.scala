package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.store.SnapshotStore
import graft.streaming.Replay

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedReplay over the file store equals the batch aggregation") {
    val events = Seq(
      (1L, ts("2024-01-01 10:15:00"), "a", 1.5),
      (2L, ts("2024-01-01 10:45:00"), "a", 2.5),
      (3L, ts("2024-01-01 11:05:00"), "b", 3.5),
      (4L, ts("2024-01-02 09:00:00"), "a", 4.5)
    ).toDF("id", "ts", "event_type", "value")
    val path = targetTmp("stream")
    SnapshotStore.write(events, path, "ts")

    val streamed = Replay.windowedReplay(spark, path, "t_replay", filesPerBatch = 1)
      .orderBy("bucket_us", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    val batch = events
      .groupBy(expr("unix_micros(date_trunc('hour', ts))").as("bucket_us"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(floor($"value" * 1000).cast("long")).as("value_mils"))
      .orderBy("bucket_us", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(_._3).sum == 4)
  }

  test("windowedReplayAppend: emits exactly the windows closed by the final watermark") {
    val events = Seq(
      (1L, ts("2024-01-01 10:15:00"), "a", 1.5),
      (2L, ts("2024-01-01 10:45:00"), "a", 2.5),
      (3L, ts("2024-01-01 11:05:00"), "b", 3.5),
      // max ts 13:01:00, delay 1 min → final watermark 13:00:00: the
      // 12:00-13:00 window sits exactly ON the boundary (end == wm) and
      // pins the emission inequality the oracle must use
      (4L, ts("2024-01-01 12:30:00"), "a", 4.5),
      (5L, ts("2024-01-01 13:01:00"), "b", 9.9)
    ).toDF("id", "ts", "event_type", "value")
    val base = targetTmp("wmstream")
    SnapshotStore.write(events, s"$base/store", "ts")

    val emitted = Replay.windowedReplayAppend(spark, s"$base/store", s"$base/out")
      .orderBy("bucket_us", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    val hours = emitted.map(r => new Timestamp(r._1 / 1000).toString).toSet
    // 10:00 and 11:00 windows are closed; 13:00 (holding the 13:01 row) is
    // open. Whether 12:00 appears resolves the <= vs < boundary question.
    assert(hours.exists(_.startsWith("2024-01-01 10:00")))
    assert(hours.exists(_.startsWith("2024-01-01 11:00")))
    assert(!hours.exists(_.startsWith("2024-01-01 13:00")))
    // The q_stream_watermark oracle commits to `window.end <= watermark`:
    // the 12:00 window (end == final watermark 13:00) MUST be emitted. If
    // a Spark version ever changes the eviction inequality to strict <,
    // this fails here instead of silently diverging from the oracle
    // (ADVICE r3).
    assert(hours.exists(_.startsWith("2024-01-01 12:00")),
      s"boundary window (end == watermark) not emitted — oracle's <= predicate broken; emitted: $hours")
    assert(emitted.filter(_._2 == "a").map(_._3).sum >= 2)
  }

  test("slidingReplayAppend: every event in 2 windows, same eviction boundary") {
    val events = Seq(
      // 10:15 → windows 09:30 and 10:00; 10:45 → 10:15?? no: starts are
      // 30-min aligned: 10:45 → 10:30 and 10:00 (both hold it)
      (1L, ts("2024-01-01 10:15:00"), "a", 1.0),
      (2L, ts("2024-01-01 10:45:00"), "a", 2.0),
      // max ts 13:01 − 1 min delay → watermark 13:00: windows ending
      // ≤ 13:00 emit, i.e. starts ≤ 12:00
      (3L, ts("2024-01-01 13:01:00"), "b", 9.0)
    ).toDF("id", "ts", "event_type", "value")
    val base = targetTmp("slstream")
    SnapshotStore.write(events, s"$base/store", "ts")

    val emitted = Replay.slidingReplayAppend(spark, s"$base/store", s"$base/out")
      .as[(Long, String, Long, Long)].collect().toSeq
    val byWindow = emitted.map(r => new Timestamp(r._1 / 1000).toString.take(16) -> (r._3, r._4)).toMap
    // event 1 alone in the 09:30 window; events 1+2 share 10:00; event 2
    // alone in 10:30 — the 2-windows-per-event sliding fan-out
    assert(byWindow("2024-01-01 09:30") == ((1L, 1000L)))
    assert(byWindow("2024-01-01 10:00") == ((2L, 3000L)))
    assert(byWindow("2024-01-01 10:30") == ((1L, 2000L)))
    // 12:30 and 13:00 windows hold the 13:01 row: ends 13:30/14:00 > wm
    // 13:00 → both still open, nothing from event 3 emits
    assert(!byWindow.keySet.exists(_ >= "2024-01-01 12:30"), s"open windows leaked: $byWindow")
    // every event contributes exactly 2 window memberships pre-eviction:
    // emitted n-sum = 2·(closed-window events) = 4 here
    assert(emitted.map(_._3).sum == 4L)
  }

  test("windowedReplayAppend drops rows later than the watermark delay (MemoryStream)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val sink = "t_wm_drop"
    spark.catalog.dropTempView(sink)
    val q = input.toDF().toDF("id", "ts", "event_type", "value")
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_micros(w.start)").as("bucket_us"), $"event_type", $"n")
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append)
      .start()
    // batch 1 advances the watermark to 13:59
    input.addData((1L, ts("2024-01-01 10:30:00"), "a", 1.0),
      (2L, ts("2024-01-01 14:00:00"), "b", 2.0))
    q.processAllAvailable()
    // batch 2: a 10:40 row is 3h19m behind the watermark → engine drops it;
    // a 14:10 row is on time
    input.addData((3L, ts("2024-01-01 10:40:00"), "a", 9.0),
      (4L, ts("2024-01-01 14:10:00"), "b", 3.0))
    q.processAllAvailable()
    // batch 3 pushes the watermark past every window end so all state drains
    input.addData((5L, ts("2024-01-01 16:30:00"), "c", 0.0))
    q.processAllAvailable()
    val lastProgress = q.lastProgress
    q.stop()
    val rows = spark.table(sink).as[(Long, String, Long)].collect()
      .map(r => (new Timestamp(r._1 / 1000).toString.take(13), r._2) -> r._3).toMap
    // the dropped 10:40 row must NOT be counted: 10:00 window has n=1
    assert(rows(("2024-01-01 10", "a")) == 1L)
    assert(rows(("2024-01-01 14", "b")) == 2L)
    // bounded state: after draining, the state store holds no leftover rows
    // beyond the single open 16:00 window
    val stateRows = lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows <= 1, s"state not bounded: $stateRows rows")
  }

  test("gapSessions: gap closes in-batch, watermark timeout closes across batches (<=)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sink = "t_sessions"
    spark.catalog.dropTempView(sink)
    val gapUs = 3600000000L // 1 hour
    val src = input.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "1 minute")
      .select($"user_id".as("k"), $"ts", expr("unix_micros(ts)").as("tsUs"),
        floor($"value" * 1000).cast("long").as("vMil"))
      .as[Replay.SEvent]
    val q = Replay.gapSessions(src, gapUs).writeStream
      .format("memory").queryName(sink)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()

    def sessions(): Set[(Long, String, String, Long, Long)] =
      spark.table(sink).as[Replay.SessionRow].collect().toSet
        .map { r: Replay.SessionRow =>
          (r.user_id, new Timestamp(r.session_start_us / 1000).toString,
            new Timestamp(r.session_end_us / 1000).toString, r.n_events, r.value_mils) }

    // batch 1: user 1's 10:00 event is >1h before its 12:00 event → the
    // first session closes IN BATCH; the 12:00 session stays open with
    // close-due exactly 13:00:00.000 — and user 2's 13:01 event pins the
    // post-batch watermark to exactly 13:00:00.000 (boundary probe)
    input.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 12:00:00"), 2.0),
      (2L, ts("2024-01-01 13:01:00"), 3.0))
    q.processAllAvailable()
    assert(sessions() == Set(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0", 1L, 1000L)))

    // batch 2 (wm = 13:00:00.000): due == wm FIRES — the timeout
    // inequality is non-strict (due_ms <= wm_ms), measured on Spark 4.1
    // and mirrored by the q_stream_sessions oracle
    input.addData((3L, ts("2024-01-01 15:00:00"), 4.0))
    q.processAllAvailable()
    assert(sessions().exists(s => s._1 == 1L && s._2 == "2024-01-01 12:00:00.0"),
      "due == watermark did not fire — timeout inequality changed to strict")

    // batch 3: user 4's 20:00 event advances the watermark to 19:59, and
    // the engine's trailing NO-DATA batch then fires every timeout with
    // due <= 19:59 — users 2 (14:01) and 3 (16:00) close; only user 4's
    // open session (due 21:00 > final wm) is never emitted. This is the
    // q_stream_sessions contract: emitted ⟺ due_ms <= final watermark_ms.
    input.addData((4L, ts("2024-01-01 20:00:00"), 5.0))
    q.processAllAvailable()
    val lastProgress = q.lastProgress
    q.stop()
    assert(sessions() == Set(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0", 1L, 1000L),
      (1L, "2024-01-01 12:00:00.0", "2024-01-01 13:00:00.0", 1L, 2000L),
      (2L, "2024-01-01 13:01:00.0", "2024-01-01 14:01:00.0", 1L, 3000L),
      (3L, "2024-01-01 15:00:00.0", "2024-01-01 16:00:00.0", 1L, 4000L)))
    // bounded state: only user 4's still-open session remains
    val stateRows = lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows == 1, s"state not bounded to open sessions: $stateRows rows")
  }

  test("matview replay: multi-batch incremental merge equals the batch aggregation") {
    val events = Seq(
      (1L, ts("2024-01-01 10:15:00"), "a", 1.5),
      (2L, ts("2024-01-01 10:45:00"), "a", 2.5),
      (3L, ts("2024-01-02 11:05:00"), "b", 3.5),
      (4L, ts("2024-01-03 09:00:00"), "a", 4.5)
    ).toDF("id", "ts", "event_type", "value")
    val path = targetTmp("mview")
    // day-partitioned store → 3 files → filesPerBatch=1 forces 3 batches
    events.withColumn("bucket", SnapshotStore.dayBucketExpr($"ts"))
      .repartition($"bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(path)

    val viewRoot = path + "_matview"
    val got = Replay.matviewReplay(spark, path, viewRoot, filesPerBatch = 1)
      .orderBy("day_us", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    val want = events
      .groupBy(expr("unix_micros(date_trunc('day', ts))").as("day_us"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(floor($"value" * 1000).cast("long")).as("value_mils"))
      .orderBy("day_us", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == want)
    // the maintenance was genuinely incremental: several committed
    // versions, and the first version holds only a PARTIAL aggregate
    val versions = new java.io.File(viewRoot).listFiles()
      .filter(f => f.getName.startsWith("v") && new java.io.File(f, "_SUCCESS").exists())
      .sortBy(_.getName.drop(1).toLong)
    assert(versions.length >= 3, s"expected >=3 view versions, got ${versions.length}")
    val v0n = spark.read.parquet(versions.head.getAbsolutePath)
      .agg(sum($"n")).as[Long].head()
    assert(v0n < 4, s"first version should be partial, holds $v0n rows' worth")
  }

  test("cms replay: multi-batch register-sum merge equals the batch census") {
    val events = (0L until 24L).map { i =>
      (i, ts(f"2024-01-0${i % 3 + 1}%d 0${i % 8 + 1}%d:15:00"), "a", 1.0, i * 37L % 11L)
    }.toDF("id", "ts", "event_type", "value", "user_id")
    val path = targetTmp("cmsview")
    events.withColumn("bucket", SnapshotStore.dayBucketExpr($"ts"))
      .repartition($"bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    val viewRoot = path + "_cms_view"
    val got = Replay.cmsReplay(spark, path, viewRoot, filesPerBatch = 1)
      .orderBy("row_id", "col_id").as[(Long, Long, Long)].collect().toSeq
    val want = graft.operators.Approx.cmsRegisterCensus(
        spark.read.parquet(path), $"user_id")
      .orderBy("row_id", "col_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == want, s"got=${got.take(5)} want=${want.take(5)}")
    // genuinely incremental: the first committed version is partial
    val versions = new java.io.File(viewRoot).listFiles()
      .filter(f => f.getName.startsWith("v") && new java.io.File(f, "_SUCCESS").exists())
      .sortBy(_.getName.drop(1).toLong)
    assert(versions.length >= 3, s"expected >=3 view versions, got ${versions.length}")
    val v0n = spark.read.parquet(versions.head.getAbsolutePath)
      .agg(sum($"n")).as[Long].head()
    assert(v0n < 24 * 4, s"first version should be partial, counts $v0n increments")
  }

  test("ann ingest replay: streamed postings equal the batch build; view grew incrementally") {
    import graft.operators.Similarity
    // 12 vectors, 3 dims, deterministic; centroids = ids 0..1
    val vecs = (0L until 12L).map { i =>
      (i, Array(1.0f + i % 3, 2.0f + i % 5, 1.0f + i % 7))
    }.toDF("vec_id", "embedding")
    val path = targetTmp("annsrc")
    val t0 = (System.currentTimeMillis() / 1000L) * 1000L - 3600L * 1000L
    (0 until 3).foreach { b =>
      val tmp = s"$path/_t$b"
      vecs.filter($"vec_id" % 3 === b.toLong).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(path, f"b$b%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      assert(dst.setLastModified(t0 + b * 2000L))
    }
    val queries = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val viewRoot = path + "_view"
    val got = Replay.annIngestReplay(spark, path, vecs, viewRoot, queries,
        "vec_id", "embedding", "q_id", "q_vec", k = 5, nCentroids = 2, nprobe = 1)
      .orderBy("q_id", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    val want = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
        "q_id", "q_vec", 5, nCentroids = 2, nprobe = 1)
      .orderBy("q_id", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want, s"got=$got want=$want")
    // incremental: 3 committed versions, the first partial (4 postings)
    val versions = new java.io.File(viewRoot).listFiles()
      .filter(f => f.getName.startsWith("v") && new java.io.File(f, "_SUCCESS").exists())
      .sortBy(_.getName.drop(1).toLong)
    assert(versions.length == 3, s"expected 3 view versions, got ${versions.length}")
    assert(spark.read.parquet(versions.head.getAbsolutePath).count() == 4)
  }

  test("drift replay: maintained histogram census equals the batch two-slice pass") {
    val cut = ts("2024-01-02 00:00:00").getTime * 1000L
    val events = (0L until 30L).map { i =>
      (i, ts(f"2024-01-0${i % 3 + 1}%d 10:15:00"),
        if (i % 2 == 0L) "a" else "b", (i * 13 % 100).toDouble, i)
    }.toDF("id", "ts", "event_type", "value", "user_id")
    val path = targetTmp("driftview")
    events.withColumn("bucket", SnapshotStore.dayBucketExpr($"ts"))
      .repartition($"bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    val got = Replay.driftReplay(spark, path, path + "_dv",
        cutUs = cut, lo = 0.0, binWidth = 10.0, bins = 10, filesPerBatch = 1)
      .orderBy("g", "bin").as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val ev = spark.read.parquet(path)
    val want = graft.operators.Stats.histogramDrift(
        ev.filter(unix_micros($"ts") < cut), ev.filter(unix_micros($"ts") >= cut),
        "event_type", "value", lo = 0.0, binWidth = 10.0, bins = 10)
      .orderBy("g", "bin").as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want, s"got=${got.take(4)} want=${want.take(4)}")
    assert(got.map(_._3).sum > 0 && got.map(_._4).sum > 0, "both periods populated")
  }

  test("brier replay: summed census decomposition equals the batch decomposition") {
    val events = (0L until 30L).map { i =>
      (i, ts(f"2024-01-0${i % 3 + 1}%d 10:15:00"),
        if (i % 4 == 0L) "purchase" else "view", (i * 97 % 1000) / 1000.0, i)
    }.toDF("id", "ts", "event_type", "value", "user_id")
    val path = targetTmp("brierview")
    events.withColumn("bucket", SnapshotStore.dayBucketExpr($"ts"))
      .repartition($"bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    val got = Replay.brierReplay(spark, path, path + "_bv", filesPerBatch = 1)
      .as[(Long, Long, Long, Long, Long)].collect().head
    val want = graft.operators.Stats.brierDecomposition(
        spark.read.parquet(path),
        expr("CAST(floor(value * 1000) AS BIGINT) % 1000"),
        ($"event_type" === "purchase").cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got == want, s"got=$got want=$want")
  }

  test("hist quantile replay: merged census selection equals the single-pass nearest rank") {
    // values chosen so p50/p90/p99 land on DIFFERENT coarse bins
    // (binWidth = 2 forces multi-bin resolution through the 2-pass path)
    val vals = Seq(1L, 1L, 2L, 3L, 5L, 8L, 8L, 9L, 100L, 101L)
    val events = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, ts(f"2024-01-0${i % 3 + 1}%d 10:15:00"), "a", v / 1000.0, i.toLong)
    }.toDF("id", "ts", "event_type", "value", "user_id")
    val path = targetTmp("quantview")
    events.withColumn("bucket", SnapshotStore.dayBucketExpr($"ts"))
      .repartition($"bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    val got = Replay.histQuantileReplay(spark, path, path + "_qv",
        Seq(50, 90, 99), filesPerBatch = 1, binWidth = 2L)
      .orderBy("pct").as[(Long, Long, Long)].collect().toSeq
    // nearest rank ⌈n·p/100⌉ over sorted values
    def nr(p: Int) = vals.sorted.apply(((vals.size * p + 99) / 100 - 1).toInt)
    assert(got == Seq((50L, 10L, nr(50)), (90L, 10L, nr(90)), (99L, 10L, nr(99))),
      got.toString)
  }

  test("hll census replay: multi-batch sketch merge equals the single-pass census") {
    val events = (0L until 24L).map { i =>
      (i, ts(f"2024-01-0${i % 3 + 1}%d 0${i % 8 + 1}%d:15:00"), "a", 1.0, i * 37L % 11L)
    }.toDF("id", "ts", "event_type", "value", "user_id")
    val path = targetTmp("hllview")
    events.withColumn("bucket", SnapshotStore.dayBucketExpr($"ts"))
      .repartition($"bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    val viewRoot = path + "_hll_view"
    val got = Replay.hllCensusReplay(spark, path, viewRoot, filesPerBatch = 1)
      .orderBy("register").as[(Long, Long, Long)].collect().toSeq
    val want = graft.operators.Approx.hllRegisterCensus(
        spark.read.parquet(path), $"user_id", lit(0))
      .orderBy("register").as[(Long, Long, Long)].collect().toSeq
    assert(got == want, s"got=${got.take(5)} want=${want.take(5)}")
    // genuinely incremental: several committed view versions, the first
    // one partial (fewer total rows counted than the whole input)
    val versions = new java.io.File(viewRoot).listFiles()
      .filter(f => f.getName.startsWith("v") && new java.io.File(f, "_SUCCESS").exists())
    assert(versions.length >= 3, s"expected >=3 view versions, got ${versions.length}")
    val v0n = spark.read.parquet(
        versions.sortBy(_.getName.drop(1).toLong).head.getAbsolutePath)
      .agg(sum($"n_rows")).as[Long].head()
    assert(v0n < 24, s"first version should be partial, counts $v0n rows")
  }

  /** 30 events of 30 distinct users over three day partitions — one
    * file each, so filesPerBatch = 1 folds three micro-batches. */
  private def threeDayStore(prefix: String): String = {
    val events = (0L until 30L).map { i =>
      (i, ts(f"2024-01-0${i % 3 + 1}%d 10:15:00"), if (i % 2 == 0) "a" else "b", 1.0, i + 100L)
    }.toDF("event_id", "ts", "event_type", "value", "user_id")
    val path = targetTmp(prefix)
    events.withColumn("bucket", SnapshotStore.dayBucketExpr($"ts"))
      .repartition($"bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    path
  }

  test("kmv replay: multi-batch bottom-k merge equals the single-pass sketch") {
    import graft.operators.Approx
    val path = threeDayStore("kmvview")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"rank", hex($"h"), $"value").orderBy("rank")
        .as[(Long, String, Long)].collect().toSeq
    val store = spark.read.parquet(path)
    val want = rows(Approx.kmvSketch(store, $"user_id", lit(0), 4))
    // the answer spans the batches: no single day's bottom-k is it, so a
    // fold that kept only one batch's partial cannot pass
    val days = store.select($"bucket").distinct().as[String].collect()
    assert(days.length == 3)
    days.foreach { d =>
      assert(rows(Approx.kmvSketch(store.filter($"bucket" === d), $"user_id", lit(0), 4)) != want)
    }
    val got = rows(Replay.kmvReplay(spark, path, path + "_kmv_view", k = 4, filesPerBatch = 1))
    assert(got == want, s"got=$got want=$want")
  }

  test("reservoir replay: multi-batch bottom-k merge equals the k smallest md5(event_id)") {
    val path = threeDayStore("rsvview")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(hex($"h"), $"event_id", $"user_id", $"event_type")
        .as[(String, Long, Long, String)].collect().toSeq
    def bottom(df: org.apache.spark.sql.DataFrame) =
      rows(df.select(md5($"event_id".cast("string").cast("binary")).as("h"),
          $"event_id", $"user_id", $"event_type")
        .orderBy($"h", $"event_id").limit(5))
    val store = spark.read.parquet(path)
    val want = bottom(store)
    val days = store.select($"bucket").distinct().as[String].collect()
    assert(days.length == 3)
    days.foreach(d => assert(bottom(store.filter($"bucket" === d)) != want))
    val got = rows(Replay.reservoirReplay(spark, path, path + "_rsv_view", k = 5,
      filesPerBatch = 1))
    assert(got == want, s"got=$got want=$want")
  }

  test("latestView: replayed batch never sees its own crashed attempt; uncommitted ignored") {
    val root = targetTmp("views")
    Seq(0L, 1L, 2L).foreach { v =>
      val d = new java.io.File(root, s"v$v"); d.mkdirs()
      if (v < 2) new java.io.File(d, "_SUCCESS").createNewFile() // v2 = crashed write
    }
    def name(o: Option[String]) = o.map(p => new java.io.File(p).getName)
    // batch 1 replayed after a crash must read v0, not its own v1
    assert(name(Replay.latestView(root, below = 1L)) == Some("v0"))
    assert(name(Replay.latestView(root, below = 2L)) == Some("v1"))
    // final reader: newest COMMITTED version (v2 has no _SUCCESS)
    assert(name(Replay.latestView(root, Long.MaxValue)) == Some("v1"))
    assert(Replay.latestView(root, below = 0L).isEmpty)
  }

  test("late census replay: watermark drops pinned per hour, open windows absorb stragglers") {
    // batch 0 (on-time A): H10 ×2, H12 ×1 (max 12:02 → wm candidate A =
    //   12:01)
    // batch 1 (on-time B): H11 ×1, plus 13:30 RAISING the on-time max
    //   above batch 0's → wm candidate B = 13:29. Candidates A and B
    //   differ, so batch 2 discriminates WHICH watermark filters late
    //   rows (ADVICE r10: with b1max < b0max the lag was unpinned).
    // batch 2 (stragglers) — filter wm OBSERVED = candidate A (the lag
    // is real; a candidate-B filter would drop the 12:30 row, asserted
    // below):
    //   10:15 → H10 (end 11:00 ≤ both candidates) → DROPPED either way
    //   12:00:30 → raw ts < 12:01 but H12 end 13:00 > 12:01 → the
    //     drop-predicate DISCRIMINATOR: kept iff the filter keys on
    //     WINDOW END, dropped iff it keys on raw ts
    //   12:30 → H12 end 13:00: kept iff the filter wm is candidate A
    //     (13:00 > 12:01), dropped iff candidate B (13:00 ≤ 13:29) —
    //     the LAG discriminator
    //   14:59 → new global max → final wm 14:58 → H13 emits, H14 doesn't
    val files = Seq(
      ("ontime_a", Seq((1L, ts("2024-01-01 10:10:00")), (2L, ts("2024-01-01 10:20:00")),
        (4L, ts("2024-01-01 12:02:00")))),
      ("ontime_b", Seq((3L, ts("2024-01-01 11:10:00")), (5L, ts("2024-01-01 13:30:00")))),
      ("late", Seq((7L, ts("2024-01-01 10:15:00")), (35L, ts("2024-01-01 12:00:30")),
        (14L, ts("2024-01-01 12:30:00")), (21L, ts("2024-01-01 14:59:00")))))
    val path = targetTmp("latecensus")
    val t0 = (System.currentTimeMillis() / 1000L) * 1000L - 3600L * 1000L
    files.zipWithIndex.foreach { case ((tag, rows), i) =>
      val tmp = s"$path/_tmp$tag"
      rows.toDF("event_id", "ts")
        .withColumn("event_type", lit("a")).withColumn("value", lit(1.0))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(path, f"file_$i%02d_$tag.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      assert(dst.setLastModified(t0 + i * 2000L))
    }
    val got = Replay.lateCensusReplay(spark, path, path + "_out")
      .orderBy("bucket_us").as[(Long, Long, Long, Long)].collect().toSeq
    def hourUs(s: String) = ts(s).getTime * 1000L
    assert(got == Seq(
      (hourUs("2024-01-01 10:00:00"), 2L, 3L, 1L), // straggler to closed H10 dropped
      (hourUs("2024-01-01 11:00:00"), 1L, 1L, 0L),
      // H12 emits ALL THREE: the 12:30 row survives, so the filter wm is
      // candidate A (batch-0's max, lagging batch 1's) — the one-batch
      // late-wm lag q_stream_late's oracle (`wml` over the batch-0 slice
      // only) depends on is now pinned, not coincidental
      (hourUs("2024-01-01 12:00:00"), 3L, 3L, 0L),
      (hourUs("2024-01-01 13:00:00"), 1L, 1L, 0L)
    ), got.toString) // H14 (end 15:00 > final wm 14:58) never emits
  }

  test("topk replay: incremental heavy hitters equal the batch census, deterministic ties") {
    val events = Seq(
      (1L, ts("2024-01-01 10:15:00"), 7L, 1.5),
      (2L, ts("2024-01-01 10:45:00"), 7L, 2.5),
      (3L, ts("2024-01-02 11:05:00"), 3L, 3.5),
      (4L, ts("2024-01-02 12:00:00"), 3L, 0.5),
      (5L, ts("2024-01-03 09:00:00"), 9L, 4.5)
    ).toDF("id", "ts", "user_id", "value")
    val path = targetTmp("topkv")
    events.withColumn("bucket", SnapshotStore.dayBucketExpr($"ts"))
      .repartition($"bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    val viewRoot = path + "_topkview"
    // k=2: users 3 and 7 both have n=2 — tiebreak user_id asc keeps both,
    // 9 (n=1) is cut
    val got = Replay.topkReplay(spark, path, viewRoot, k = 2, filesPerBatch = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 2L, 4000L), (7L, 2L, 4000L)), got.toString)
    // genuinely incremental: >= 3 versions, first one partial
    val versions = new java.io.File(viewRoot).listFiles()
      .filter(f => f.getName.startsWith("v") && new java.io.File(f, "_SUCCESS").exists())
      .sortBy(_.getName.drop(1).toLong)
    assert(versions.length >= 3, s"expected >=3 view versions, got ${versions.length}")
    val v0n = spark.read.parquet(versions.head.getAbsolutePath)
      .agg(sum($"n")).as[Long].head()
    assert(v0n < 5, s"first version should be partial, holds $v0n rows' worth")
  }

  test("streaming dedup registry: once per (hour, key), state evicted behind the watermark") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val sink = "t_dedup_reg"
    spark.catalog.dropTempView(sink)
    // the exact q_stream_dedup plan: watermarked (hour window, key) dedup
    val q = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "1 minute")
      .select(window($"ts", "1 hour").as("w"), $"user_id")
      .dropDuplicates("user_id", "w")
      .select(expr("unix_micros(w.start)").as("bucket_us"), $"user_id")
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def registry(): Set[(String, Long)] =
      spark.table(sink).as[(Long, Long)].collect().toSet
        .map { r: (Long, Long) => (new Timestamp(r._1 / 1000).toString.take(13), r._2) }

    // batch 1: key 7 registers once in the 10:00 bucket despite two events
    input.addData((7L, ts("2024-01-01 10:00:00")), (7L, ts("2024-01-01 10:30:00")),
      (8L, ts("2024-01-01 10:45:00")))
    q.processAllAvailable()
    assert(registry() == Set(("2024-01-01 10", 7L), ("2024-01-01 10", 8L)))

    // batch 2: key 7 again in the SAME bucket → no re-emission; key 7 in
    // the NEXT hour re-registers (the reference's hour-reset hash_table)
    input.addData((7L, ts("2024-01-01 10:50:00")), (7L, ts("2024-01-01 11:10:00")))
    q.processAllAvailable()
    assert(registry() == Set(("2024-01-01 10", 7L), ("2024-01-01 10", 8L),
      ("2024-01-01 11", 7L)))

    // batch 3: advance the watermark far past both buckets — registry
    // state for closed hours must be EVICTED (bounded state: at most the
    // single fresh 20:00 registration may remain)
    input.addData((9L, ts("2024-01-01 20:00:00")))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    assert(registry().size == 4)
    assert(stateRows <= 1, s"dedup registry state not evicted behind the watermark: $stateRows rows")
  }

  test("stream-stream interval join pairs in-window rows and evicts old state") {
    implicit val sq = spark.sqlContext
    val inA = MemoryStream[(Long, Long, Timestamp)]
    val inB = MemoryStream[(Long, Long, Timestamp)]
    val sink = "t_ssjoin"
    spark.catalog.dropTempView(sink)
    def side(s: MemoryStream[(Long, Long, Timestamp)], n: String) =
      s.toDF().toDF("id", "k", "ts").withWatermark("ts", "1 minute").alias(n)
    val q = side(inA, "a").join(side(inB, "b"),
        $"a.k" === $"b.k" && $"b.ts" > $"a.ts" &&
          $"b.ts" <= $"a.ts" + expr("INTERVAL 30 MINUTE"))
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // in-window pair (10:00 → 10:10) joins; the 11:00 b-row is outside
    inA.addData((1L, 7L, ts("2024-01-01 10:00:00")))
    inB.addData((2L, 7L, ts("2024-01-01 10:10:00")),
      (3L, 7L, ts("2024-01-01 11:00:00")))
    q.processAllAvailable()
    assert(spark.table(sink).as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    // advancing the watermark far past the buffered rows evicts them:
    // only the two fresh 20:00 rows may remain in join state
    inA.addData((4L, 7L, ts("2024-01-01 20:00:00")))
    inB.addData((5L, 7L, ts("2024-01-01 20:00:00")))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    assert(stateRows <= 2, s"join state not evicted behind the watermark: $stateRows rows")
  }

  test("left-outer stream-stream join emits null rows once the watermark proves no match") {
    implicit val sq = spark.sqlContext
    val inA = MemoryStream[(Long, Long, Timestamp)]
    val inB = MemoryStream[(Long, Long, Timestamp)]
    val sink = "t_ssjoin_outer"
    spark.catalog.dropTempView(sink)
    def side(s: MemoryStream[(Long, Long, Timestamp)], n: String) =
      s.toDF().toDF("id", "k", "ts").withWatermark("ts", "1 minute").alias(n)
    val q = side(inA, "a").join(side(inB, "b"),
        $"a.k" === $"b.k" && $"b.ts" > $"a.ts" &&
          $"b.ts" <= $"a.ts" + expr("INTERVAL 30 MINUTE"),
        "left_outer")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def rows(): Set[(Long, Option[Long])] =
      spark.table(sink).as[(Long, Option[Long])].collect().toSet
    // matched pair emits immediately; A2 (k=8) has no match and its null
    // row is due once wm passes 10:05 + 30min = 10:35
    inA.addData((1L, 7L, ts("2024-01-01 10:00:00")),
      (2L, 8L, ts("2024-01-01 10:05:00")))
    inB.addData((10L, 7L, ts("2024-01-01 10:10:00")))
    q.processAllAvailable()
    assert(rows() == Set((1L, Some(10L))), s"got ${rows()}")
    // advance wm exactly TO the due instant (11:36 - 1min = 10:35): probe
    // whether the eviction inequality is strict
    inB.addData((11L, 9L, ts("2024-01-01 11:36:00")))
    q.processAllAvailable()
    val atBoundary = rows().contains((2L, None))
    // push wm well past the due instant: the null row must be out now;
    // A1 matched, so it never gets a null row
    inA.addData((3L, 9L, ts("2024-01-01 23:00:00")))
    q.processAllAvailable()
    q.stop()
    assert(rows() == Set((1L, Some(10L)), (2L, None)), s"got ${rows()}")
    info(s"outer row emitted at wm == due: $atBoundary")
  }

  test("full-outer stream-stream join: b-side null rows emit once wm passes b.ts") {
    implicit val sq = spark.sqlContext
    val inA = MemoryStream[(Long, Long, Timestamp)]
    val inB = MemoryStream[(Long, Long, Timestamp)]
    val sink = "t_ssjoin_full"
    spark.catalog.dropTempView(sink)
    def side(s: MemoryStream[(Long, Long, Timestamp)], n: String) =
      s.toDF().toDF("id", "k", "ts").withWatermark("ts", "1 minute").alias(n)
    val q = side(inA, "a").join(side(inB, "b"),
        $"a.k" === $"b.k" && $"b.ts" > $"a.ts" &&
          $"b.ts" <= $"a.ts" + expr("INTERVAL 30 MINUTE"),
        "full_outer")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def rows(): Set[(Option[Long], Option[Long])] =
      spark.table(sink).as[(Option[Long], Option[Long])].collect().toSet
    // matched pair (k=7); B1 (k=8) has no predecessor and never will
    inA.addData((1L, 7L, ts("2024-01-01 10:00:00")))
    inB.addData((10L, 7L, ts("2024-01-01 10:10:00")),
      (20L, 8L, ts("2024-01-01 10:10:00")))
    q.processAllAvailable()
    assert(rows() == Set((Some(1L), Some(10L))), s"got ${rows()}")
    // advance wm exactly TO b.ts (10:10): boundary probe for the b-side
    // eviction inequality
    inA.addData((2L, 9L, ts("2024-01-01 10:11:00")))
    q.processAllAvailable()
    val atBoundary = rows().contains((None, Some(20L)))
    // far advance on BOTH inputs (the replay query feeds both sides from
    // the same store): B1's null row must be out; A2 (no successor
    // within 30min, due 10:41 < new wm 22:59) gets its null row too. The
    // trailing no-data batch that flushes evictions can land just after
    // processAllAvailable returns — poll briefly before asserting.
    inA.addData((4L, 6L, ts("2024-01-01 23:00:00")))
    inB.addData((30L, 5L, ts("2024-01-01 23:00:00")))
    q.processAllAvailable()
    val expect = Set((Some(1L), Some(10L)), (None, Some(20L)), (Some(2L), None))
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (rows() != expect && System.nanoTime() < deadline) {
      Thread.sleep(200)
      q.processAllAvailable()
    }
    q.stop()
    assert(rows() == expect, s"got ${rows()}")
    info(s"b-side null row emitted at wm == b.ts: $atBoundary")
  }

  test("statefulTrajectories accumulates per-key state across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Replay.Obs]
    val sink = "t_traj_state"
    spark.catalog.dropTempView(sink)
    val q = Replay.statefulTrajectories(input.toDS())
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update)
      .trigger(Trigger.ProcessingTime(0))
      .start()

    input.addData(
      Replay.Obs("a", ts("2024-01-01 10:00:00"), 1.0),
      Replay.Obs("a", ts("2024-01-01 11:00:00"), 2.0))
    q.processAllAvailable()
    input.addData(
      Replay.Obs("a", ts("2024-01-01 12:00:00"), 3.0), // advances last
      Replay.Obs("b", ts("2024-01-01 10:30:00"), 9.0))
    q.processAllAvailable()
    q.stop()

    // last Update-mode emission per key reflects the full accumulated state
    val byKey = spark.table(sink).as[Replay.TrajUpdate].collect()
      .groupBy(_.k).map { case (k, us) => k -> us.maxBy(_.n) }
    assert(byKey("a").n == 3 && byKey("a").lastV == 3.0 &&
      byKey("a").first == ts("2024-01-01 10:00:00") &&
      byKey("a").last == ts("2024-01-01 12:00:00"))
    assert(byKey("b").n == 1 && byKey("b").lastV == 9.0)
  }

  test("late data ACROSS micro-batches extends both trajectory bounds") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Replay.Obs]
    val sink = "t_traj_late"
    spark.catalog.dropTempView(sink)
    val q = Replay.statefulTrajectories(input.toDS())
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update)
      .start()
    input.addData(Replay.Obs("k", ts("2024-01-01 12:00:00"), 5.0))
    q.processAllAvailable()
    input.addData(Replay.Obs("k", ts("2024-01-01 09:00:00"), 1.0)) // late, earlier batch
    q.processAllAvailable()
    q.stop()
    val r = spark.table(sink).as[Replay.TrajUpdate].collect().maxBy(_.n)
    assert(r.n == 2 && r.first == ts("2024-01-01 09:00:00") &&
      r.last == ts("2024-01-01 12:00:00") && r.lastV == 5.0)
  }

  test("duplicate max-timestamps resolve deterministically to the larger value") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Replay.Obs]
    val sink = "t_traj_dupts"
    spark.catalog.dropTempView(sink)
    val q = Replay.statefulTrajectories(input.toDS())
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update)
      .start()
    // larger value arrives FIRST — arrival order must not decide the tie
    input.addData(
      Replay.Obs("k", ts("2024-01-01 12:00:00"), 9.0),
      Replay.Obs("k", ts("2024-01-01 12:00:00"), 1.0))
    q.processAllAvailable()
    // and a same-ts row in a LATER batch must not displace the larger one
    input.addData(Replay.Obs("k", ts("2024-01-01 12:00:00"), 5.0))
    q.processAllAvailable()
    q.stop()
    val r = spark.table(sink).as[Replay.TrajUpdate].collect().maxBy(_.n)
    assert(r.n == 3 && r.lastV == 9.0)
  }

  test("out-of-order instants within a batch keep the max-ts value as last") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Replay.Obs]
    val sink = "t_traj_ooo"
    spark.catalog.dropTempView(sink)
    val q = Replay.statefulTrajectories(input.toDS())
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update)
      .start()
    input.addData(
      Replay.Obs("k", ts("2024-01-01 12:00:00"), 5.0),
      Replay.Obs("k", ts("2024-01-01 10:00:00"), 1.0)) // late within batch
    q.processAllAvailable()
    q.stop()
    val r = spark.table(sink).as[Replay.TrajUpdate].collect().maxBy(_.n)
    assert(r.n == 2 && r.lastV == 5.0 && r.first == ts("2024-01-01 10:00:00"))
  }

  test("transformWithState event-time timers fire at wm >= expiry (v2 boundary, measured)") {
    implicit val sq = spark.sqlContext
    import Replay.sevEnc
    val input = MemoryStream[Replay.SEvent]
    val sink = "t_tws_timer"
    spark.catalog.dropTempView(sink)
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val expiryMs = ts("2024-01-01 12:00:00").getTime
      val q = input.toDS()
        .withWatermark("ts", "10 seconds")
        .groupByKey(_.k)
        .transformWithState(new TimerProbeProcessor(expiryMs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Update)
        .start()
      def fired(): Seq[(Long, Long, Long)] =
        spark.table(sink).as[(Long, Long, Long)].collect().toSeq
      // batch 1 registers the timer; wm after batch = 11:00:00 - 10 s < expiry
      input.addData(Replay.SEvent(1L, ts("2024-01-01 11:00:00"), 0L, 0L))
      q.processAllAvailable()
      assert(fired().isEmpty, "timer fired before the watermark reached expiry")
      // batch 2 advances wm to EXACTLY the expiry (12:00:10 - 10 s)
      input.addData(Replay.SEvent(2L, ts("2024-01-01 12:00:10"), 0L, 0L))
      q.processAllAvailable()
      val atBoundary = fired()
      // measured v2 semantics: expiry == watermark FIRES (non-strict, like
      // the GroupState `due <= wm` timeout — not like the outer-join
      // eviction, which is strict)
      assert(atBoundary.map(r => (r._1, r._2)) == Seq((1L, expiryMs)),
        s"boundary behavior changed: $atBoundary")
      assert(atBoundary.head._3 >= expiryMs) // watermark seen by the expired-timer path
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set(confKey, p)
        case None    => spark.conf.unset(confKey)
      }
    }
  }

  test("runningTotalsReplayFiles (foreachBatch parquet sink) equals the batch totals") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 0.1),
      (1L, ts("2024-01-01 10:05:00"), "a", 0.05),
      (2L, ts("2024-01-01 10:02:00"), "b", 0.007),
      (1L, ts("2024-01-01 11:00:00"), "a", 0.025),
      (3L, ts("2024-01-02 09:00:00"), "b", 1.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val path = targetTmp("twsfiles")
    SnapshotStore.write(events, path, "ts")

    def run() = Replay.runningTotalsReplayFiles(spark, path, path + "_out")
      .orderBy("user_id").as[(Long, Long, Long)].collect().toSeq
    val got = run()
    val batch = events
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(floor($"value" * 1000).cast("long")).as("value_mils"))
      .orderBy("user_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == batch)
    // re-run resets sink + checkpoint (append sink must not accumulate)
    assert(run() == batch)
  }

  test("rowDedupReplay: planted duplicate files collapse to exactly-once emissions") {
    val events = Seq(
      (10L, 1L, ts("2024-01-01 10:00:00"), "a", 0.1),
      (11L, 1L, ts("2024-01-01 11:00:00"), "a", 0.2),
      (12L, 2L, ts("2024-01-02 10:30:00"), "b", 0.4)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val path = targetTmp("rowdedup")
    SnapshotStore.write(events, path, "ts")
    val got = Replay.rowDedupReplay(spark, path, path + "_work")
      .orderBy("bucket_us").as[(Long, Long, Long)].collect().toSeq
    val batch = events
      .groupBy(expr("unix_micros(date_trunc('hour', ts))").as("b"))
      .agg(count(lit(1)).as("n"), sum(floor($"value" * 1000).cast("long")).as("v"))
      .orderBy("b").as[(Long, Long, Long)].collect().toSeq
    assert(got == batch) // duplicated first-half files did not double-count
  }

  test("readRunningTotalsState: checkpoint state reads back as a table, equals batch totals") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 0.1),
      (1L, ts("2024-01-01 10:05:00"), "a", 0.05),
      (2L, ts("2024-01-01 10:02:00"), "b", 0.007)
    ).toDF("user_id", "ts", "event_type", "value")
    val path = targetTmp("stateread")
    SnapshotStore.write(events, path, "ts")
    Replay.runningTotalsReplayFiles(spark, path, path + "_out")
    val got = Replay.readRunningTotalsState(spark, path + "_out_chk")
      .orderBy("user_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 150L), (2L, 1L, 7L)))
  }

  test("runningTotalsRestart: state and file-source log survive a checkpoint restart") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 0.1), // day 1 (run 1)
      (1L, ts("2024-01-02 10:00:00"), "a", 0.2), // day 2 (run 1)
      (2L, ts("2024-01-01 11:00:00"), "b", 0.05), // run-1-only key
      (3L, ts("2024-01-03 09:00:00"), "b", 0.5), // run-2-only key
      (1L, ts("2024-01-04 08:00:00"), "a", 0.4) // key 1 CONTINUES in run 2
    ).toDF("user_id", "ts", "event_type", "value")
    val path = targetTmp("restart")
    events
      .withColumn("bucket", date_format(date_trunc("day", $"ts"), "yyyy-MM-dd"))
      .repartition($"bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(path)

    // the operator itself requires run 2's input == the added days' rows
    // (exactly-once across the restart); key 1's total is correct only
    // if run-1 RocksDB state restored under the shared checkpoint
    val got = Replay.runningTotalsRestart(spark, path, path + "_work")
      .orderBy("user_id").as[(Long, Long, Long)].collect().toSeq
    val batch = events.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum(floor($"value" * 1000).cast("long")).as("v"))
      .orderBy("user_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == batch)
    assert(got.find(_._1 == 1L).get._2 == 3L) // spans both runs
  }

  test("native session_window: same final sessions and wm boundary as gapSessions") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sink = "t_sessions_native"
    spark.catalog.dropTempView(sink)
    val agg = input.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "1 minute")
      .groupBy($"user_id", session_window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor($"value" * 1000).cast("long")).as("value_mils"))
      .select($"user_id", expr("unix_micros(w.start)").as("session_start_us"),
        expr("unix_micros(w.end)").as("session_end_us"),
        $"n_events", $"value_mils")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def sessions(): Set[(Long, String, String, Long, Long)] =
      spark.table(sink).as[(Long, Long, Long, Long, Long)].collect().toSet
        .map { r: (Long, Long, Long, Long, Long) =>
          (r._1, new Timestamp(r._2 / 1000).toString,
            new Timestamp(r._3 / 1000).toString, r._4, r._5) }
    // same batch script as the gapSessions boundary test
    input.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 12:00:00"), 2.0),
      (2L, ts("2024-01-01 13:01:00"), 3.0))
    q.processAllAvailable()
    // batch 2 leaves wm at exactly 13:00:00.000 = the 12:00 session's
    // end: the native operator's close boundary — measured NON-strict
    // (end <= wm fires), the same inequality gapSessions measured, so
    // the shared oracle predicate covers both paths
    input.addData((3L, ts("2024-01-01 15:00:00"), 4.0))
    q.processAllAvailable()
    assert(sessions().exists(s => s._1 == 1L && s._2 == "2024-01-01 12:00:00.0"),
      s"session_window end == wm did not fire (strict boundary?): ${sessions()}")
    input.addData((4L, ts("2024-01-01 20:00:00"), 5.0))
    q.processAllAvailable()
    q.stop()
    // final set = the gapSessions contract set (emitted ⟺ end <= final wm)
    assert(sessions() == Set(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0", 1L, 1000L),
      (1L, "2024-01-01 12:00:00.0", "2024-01-01 13:00:00.0", 1L, 2000L),
      (2L, "2024-01-01 13:01:00.0", "2024-01-01 14:01:00.0", 1L, 3000L),
      (3L, "2024-01-01 15:00:00.0", "2024-01-01 16:00:00.0", 1L, 4000L)),
      sessions().toString)
  }

  test("ingestDedupReplay: batch order, survivors-only index, idempotent rerun") {
    // 14-token docs; single end-token edits give jaccard (N-1)/(N+1) =
    // 11/13 ≈ 0.846 ≥ 0.8 between neighbors in the edit chain but
    // (N-2)/(N+2) = 10/14 ≈ 0.714 < 0.8 across two edits — so doc 11
    // (batch 1) dups doc 0 (batch 0) and is DROPPED, while doc 22
    // (batch 2) matches only the dropped doc 11, NOT survivor doc 0:
    // doc 22 must be KEPT, proving the index holds survivors only.
    val base = (1 to 14).map(i => s"w$i")
    val t0 = base.mkString(" ")
    val t1 = (base.dropRight(1) :+ "zz").mkString(" ")          // edit last
    val t4 = ("qq" +: base.drop(1).dropRight(1) :+ "zz").mkString(" ") // edit first+last
    val other = (1 to 14).map(i => s"x$i").mkString(" ")
    val batches = Seq(
      Seq((0L, t0), (5L, other)),        // batch 0: both kept
      Seq((11L, t1)),                    // batch 1: dup of 0 → dropped
      Seq((22L, t4))                     // batch 2: dups dropped 11 only → kept
    )
    val store = targetTmp("ingestsrc")
    val tBase = (System.currentTimeMillis() / 1000L) * 1000L - 3600L * 1000L
    batches.zipWithIndex.foreach { case (docs, b) =>
      val tmp = s"$store/_tmp$b"
      docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(store, f"bucket_$b%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      assert(dst.setLastModified(tBase + b * 2000L))
    }
    def run() = Replay.ingestDedupReplay(spark, store,
        s"${SnapshotStore.root}/ingest_spec_work")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got = run()
    assert(got == Seq((0L, 1L, -1L), (5L, 1L, -1L), (11L, 0L, 0L), (22L, 1L, -1L)),
      got.toString)
    assert(run() == got) // rerun wipes the work root and reproduces
  }

  test("transformWithState accumulates typed ValueState across batches (RocksDB)") {
    implicit val sq = spark.sqlContext
    import Replay.{runEnc, sevEnc}
    val input = MemoryStream[Replay.SEvent]
    val sink = "t_tws_acc"
    spark.catalog.dropTempView(sink)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = input.toDS().groupByKey(_.k)
        .transformWithState(new Replay.RunningTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Update)
        .start()
      input.addData(
        Replay.SEvent(1L, ts("2024-01-01 10:00:00"), 0L, 100L),
        Replay.SEvent(1L, ts("2024-01-01 10:01:00"), 0L, 50L),
        Replay.SEvent(2L, ts("2024-01-01 10:02:00"), 0L, 7L))
      q.processAllAvailable()
      input.addData(Replay.SEvent(1L, ts("2024-01-01 11:00:00"), 0L, 25L))
      q.processAllAvailable()
      q.stop()
      val byBatchMax = spark.table(sink).as[Replay.RunRow].collect()
        .groupBy(_.user_id).map { case (k, rs) => k -> rs.maxBy(_.n_events) }
      // key 1 accumulated ACROSS the two batches (state survived), key 2 untouched
      assert(byBatchMax(1L) == Replay.RunRow(1L, 3L, 175L))
      assert(byBatchMax(2L) == Replay.RunRow(2L, 1L, 7L))
      // and the sink saw key 1's batch-1 partial too (Update emission per batch)
      assert(spark.table(sink).as[Replay.RunRow].collect()
        .exists(r => r.user_id == 1L && r.n_events == 2L && r.value_mils == 150L))
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("ratePacedReplay: rate-micro-batch-driven census equals the batch aggregation") {
    // an sfDir-shaped fixture: Tables.events reads $dir/events.parquet
    val dir = targetTmp("ratesf")
    // 11 rows with batches=8 -> rowsPerBatch 2, 6 non-empty rate batches,
    // a partial final batch, and values >= 11 filtered before the join
    val events = (1L to 11L).map { i =>
      (i, ts(f"2024-01-01 ${9 + (i % 3)}%02d:15:00"), if (i % 2 == 0) "a" else "b", i * 0.5)
    }.toDF("event_id", "ts", "event_type", "value")
    events.coalesce(1).write.parquet(s"$dir/events.parquet")

    val got = Replay.ratePacedReplay(spark, dir, "t_rate")
      .orderBy("bucket_us", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    val want = events
      .groupBy(expr("unix_micros(date_trunc('hour', ts))").as("bucket_us"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(floor($"value" * 1000).cast("long")).as("value_mils"))
      .orderBy("bucket_us", "event_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == want)
    assert(got.map(_._3).sum == 11)

    // the staged static side is partitioned by ingest bucket (idx div 2):
    // a production foreachBatch poll prunes to exactly one dir per tick
    val (idxPath, n) = Replay.ensureRateIndexStore(spark, dir, 2L)
    assert(n == 11)
    val buckets = new java.io.File(idxPath).listFiles()
      .filter(_.getName.startsWith("ibucket=")).map(_.getName).sorted
    assert(buckets.toSeq == (0 to 5).map(b => s"ibucket=$b"))
  }

  test("ratePacedReplay: a failing query surfaces its exception, not a poll timeout") {
    val dir = targetTmp("ratefail")
    // two 9e15 values in one (hour, type) group: their value_mils
    // (9e18 each) overflow the long sum, so the query dies in a task
    val events = (1L to 6L).map { i =>
      (i, ts("2024-01-01 09:15:00"), "a", if (i <= 2) 9e15 else 1.0)
    }.toDF("event_id", "ts", "event_type", "value")
    events.coalesce(1).write.parquet(s"$dir/events.parquet")
    val t0 = System.nanoTime()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replay.ratePacedReplay(spark, dir, "t_rate_fail")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // the poll deadline is 300 s; a dead query must end the poll at once
    assert(secs < 60, s"exception surfaced after $secs s")
  }
}

/** Probe processor for the v2 timer boundary: registers one event-time
  * timer at a fixed expiry, emits (key, expiryMs, wmMs) only when the
  * timer fires. */
class TimerProbeProcessor(expiryMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, graft.streaming.Replay.SEvent, (Long, Long, Long)] {
  @transient private var armed: org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    armed = getHandle.getValueState[Long]("armed", org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[graft.streaming.Replay.SEvent],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Long)] = {
    rows.foreach(_ => ())
    if (key == 1L && !armed.exists()) { getHandle.registerTimer(expiryMs); armed.update(1L) }
    Iterator.empty
  }
  override def handleExpiredTimer(key: Long,
      tv: org.apache.spark.sql.streaming.TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[(Long, Long, Long)] =
    Iterator.single((key, info.getExpiryTimeInMs(), tv.getCurrentWatermarkInMs()))
}
