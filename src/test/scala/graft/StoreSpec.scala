package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.store.{CompressedStore, MergeStore, SnapshotStore}

class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val events = Seq(
    (1L, ts("2024-01-01 10:15:00"), 1.0),
    (2L, ts("2024-01-01 10:45:00"), 2.0),
    (3L, ts("2024-01-01 11:05:00"), 3.0),
    (4L, ts("2024-01-02 09:00:00"), 4.0)
  ).toDF("id", "ts", "v")

  test("snapshot store: write → read-back equality, bucket column correct") {
    val path = targetTmp("snap")
    SnapshotStore.write(events, path, "ts")
    val back = SnapshotStore.read(spark, path)
    assert(back.count() == 4)
    val buckets = back.select($"id", $"bucket".cast("string")).as[(Long, String)].collect().toMap
    assert(buckets(1L) == "2024-01-01-10" && buckets(3L) == "2024-01-01-11")
    val vals = back.select($"id", $"v").as[(Long, Double)].collect().toMap
    assert(vals == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0))
  }

  test("bucket lookup prunes partitions (PartitionFilters in the plan)") {
    val path = targetTmp("snap")
    SnapshotStore.write(events, path, "ts")
    val lookup = SnapshotStore.lookupBucket(spark, path, "2024-01-01-10")
    assert(lookup.count() == 2)
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"), plan)
    // pruned scan must not read the other buckets' files
    val scanned = lookup.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scanned.contains("2024-01-02"))
  }

  private lazy val census = StageCensus.install(spark)

  /** Two rows in each of `hours` consecutive hours from 2024-01-01 00:00
    * UTC, at :15 and :45. */
  private def hourly(hours: Int) =
    (0 until hours).flatMap { h =>
      Seq(15, 45).map(m =>
        (h * 100L + m, new Timestamp(1704067200000L + (h * 60L + m) * 60000L), h.toDouble))
    }.toDF("id", "ts", "v")

  private def tsLit(s: String) = lit(s).cast("timestamp")

  private def assertSameFrame(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.collect().toSet == want.collect().toSet)
  }

  test("rangeScan and lookupBucket run no job to build and equal a filtered full read") {
    val path = targetTmp("hours")
    SnapshotStore.write(hourly(40), path, "ts")
    val full = SnapshotStore.read(spark, path)
    // the footer schema is the schema Spark infers, nullability and order included
    assert(full.schema == spark.read.parquet(path).schema)
    Seq(
      ("2024-01-01 05:00:00", "2024-01-01 06:00:00", 2), // one hour
      ("2024-01-01 05:30:00", "2024-01-02 05:30:00", 48), // 24 hours, mid-hour bounds
      ("2024-02-01 00:00:00", "2024-02-02 00:00:00", 0)  // no stored hour
    ).foreach { case (lo, hi, n) =>
      val (scan, built) = census.measure(
        SnapshotStore.rangeScan(spark, path, tsLit(lo), tsLit(hi)))
      assert(built.stages.isEmpty, s"[$lo, $hi): ${built.stages}")
      assertSameFrame(scan, full.filter($"ts" >= tsLit(lo) && $"ts" < tsLit(hi)))
      assert(scan.count() == n, s"[$lo, $hi)")
    }
    Seq(("2024-01-01-05", 2), ("2024-02-01-00", 0)).foreach { case (b, n) =>
      val (lookup, built) = census.measure(SnapshotStore.lookupBucket(spark, path, b))
      assert(built.stages.isEmpty, s"$b: ${built.stages}")
      assertSameFrame(lookup, full.filter($"bucket" === b))
      assert(lookup.count() == n, b)
    }
  }

  test("rangeScan lists afresh: an append into a new hour shows in the next scan") {
    val path = targetTmp("hours")
    SnapshotStore.write(hourly(2), path, "ts")
    val (lo, hi) = (tsLit("2024-01-01 05:00:00"), tsLit("2024-01-01 06:00:00"))
    assert(SnapshotStore.rangeScan(spark, path, lo, hi).count() == 0)
    hourly(6).filter($"ts" >= lo && $"ts" < hi)
      .withColumn("bucket", SnapshotStore.bucketExpr($"ts"))
      .write.partitionBy("bucket").mode("append").parquet(path)
    assert(SnapshotStore.rangeScan(spark, path, lo, hi).select($"id").as[Long]
      .collect().toSet == Set(515L, 545L))
  }

  test("rangeScan renders buckets in the session zone (half-hour offset)") {
    val path = targetTmp("hours")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try {
      SnapshotStore.write(hourly(24), path, "ts")
      // 16:00–17:00 IST is 10:30–11:30 UTC: both rows sit in bucket -16
      val (lo, hi) = (tsLit("2024-01-01 16:00:00"), tsLit("2024-01-01 17:00:00"))
      val scan = SnapshotStore.rangeScan(spark, path, lo, hi)
      assertSameFrame(scan, SnapshotStore.read(spark, path).filter($"ts" >= lo && $"ts" < hi))
      assert(scan.select($"id").as[Long].collect().toSet == Set(1045L, 1115L))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("rangeScan refuses bounds that do not fold to constants") {
    val path = targetTmp("hours")
    SnapshotStore.write(hourly(2), path, "ts")
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.rangeScan(spark, path,
        timestamp_micros((rand() * 1e9).cast("long")), tsLit("2024-01-02 00:00:00"))
    }
    assert(e.getMessage.contains("constant timestamps"), e.getMessage)
  }

  test("one file per hour bucket (repartition before partitionBy)") {
    val path = targetTmp("snap")
    SnapshotStore.write(events, path, "ts")
    val dirs = new java.io.File(path).listFiles.filter(_.getName.startsWith("bucket="))
    assert(dirs.length == 3)
    dirs.foreach { d =>
      assert(d.listFiles.count(_.getName.endsWith(".parquet")) == 1, d.getName)
    }
  }

  test("store size stat is positive after write") {
    val path = targetTmp("snap")
    SnapshotStore.write(events, path, "ts")
    assert(SnapshotStore.totalSizeBytes(path) > 0)
  }

  test("bucketed store: per-entity aggregation plans no shuffle") {
    val df = graft.store.BucketedStore.read(spark, "/root/testdata/sf0.001")
    val agg = df.groupBy($"user_id").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(agg.count() > 0)
    // pivot over the bucketed table is also exchange-free up to the agg
    val pivoted = graft.operators.Trajectory.pivot(df, "user_id", "ts", Seq("value"))
    val pplan = pivoted.queryExecution.executedPlan.toString
    assert(!pplan.contains("Exchange hashpartitioning"), pplan)
  }

  test("co-located bucketed join: fact ⋈ dim plans zero Exchange") {
    val sfDir = "/root/testdata/sf0.001"
    val ev = graft.store.BucketedStore.read(spark, sfDir)
    val dims = spark.table(graft.store.BucketedStore.ensureBucketedUserDims(spark, sfDir))
    val joined = ev.join(dims.hint("merge"), "user_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    assert(joined.count() == ev.count())
  }

  test("merge store: insert-only keeps existing, adds unseen") {
    val existing = Seq(("h1", "a"), ("h2", "b")).toDF("k", "v")
    val incoming = Seq(("h2", "B"), ("h3", "c")).toDF("k", "v")
    val m = MergeStore.upsertInsertOnly(existing, incoming, "k")
      .as[(String, String)].collect().toMap
    assert(m == Map("h1" -> "a", "h2" -> "b", "h3" -> "c"))
  }

  test("merge store: replace prefers incoming on key match") {
    val existing = Seq(("h1", "a"), ("h2", "b")).toDF("k", "v")
    val incoming = Seq(("h2", "B"), ("h3", "c")).toDF("k", "v")
    val m = MergeStore.upsertReplace(existing, incoming, "k")
      .as[(String, String)].collect().toMap
    assert(m == Map("h1" -> "a", "h2" -> "B", "h3" -> "c"))
  }

  test("per-bucket gzip JSON store round-trips") {
    val path = targetTmp("jsongz")
    val df = events.select($"id".as("event_id"), expr("unix_micros(ts)").as("ts_us"),
      lit(1L).as("user_id"), lit("t").as("event_type"), $"v".as("value"),
      graft.store.JsonStore.bucketExpr($"ts").as("bucket"))
    graft.store.JsonStore.write(df, path, codec = Some("gzip"))
    assert(new java.io.File(path).listFiles.exists(_.getName.startsWith("bucket=")))
    val back = graft.store.JsonStore.read(spark, path)
    assert(back.count() == 4)
    assert(back.select($"event_id", $"value").as[(Long, Double)].collect().toMap ==
      Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0))
  }

  test("pivotCompressed with snappy codec round-trips") {
    val all = events.withColumn("k", lit(1))
      .withColumn("vm", floor($"v" * 1000).cast("long"))
    val vec = CompressedStore.pivotCompressed(all, "k", "ts", Seq("vm"), codec = "snappy")
      .select(CompressedStore.snappyDecompress($"vm_blob")).as[String].head()
    assert(vec == "1000,2000,3000,4000")
  }

  test("gzip and snappy UDFs round-trip arbitrary strings") {
    val df = Seq("hello,1,2,3", "", "unicode: déjà vu ☃").toDF("s")
    val r = df.select($"s",
      CompressedStore.gzipDecompress(CompressedStore.gzipCompress($"s")).as("g"),
      CompressedStore.snappyDecompress(CompressedStore.snappyCompress($"s")).as("n"))
      .as[(String, String, String)].collect()
    r.foreach { case (s, g, n) => assert(g == s && n == s) }
  }

  test("ORC store round-trips types and pushes predicates to the scan") {
    val path = targetTmp("orc")
    events.select($"id", $"v", lit("a\"b,c").as("s"))
      .write.mode("overwrite").orc(path)
    val back = spark.read.orc(path)
    assert(back.as[(Long, Double, String)].collect().map(r => r._1 -> r._3).toMap ==
      Map(1L -> "a\"b,c", 2L -> "a\"b,c", 3L -> "a\"b,c", 4L -> "a\"b,c"))
    val plan = back.filter($"id" === 3L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(id)"), plan)
  }

  test("CSV round-trips quotes, escapes, doubles and longs exactly") {
    val path = targetTmp("csv")
    val in = Seq(
      (1L, 0.1 + 0.2, """{"k": 69}"""),
      (2L, 1.0 / 3.0, "comma, and \"quoted\" text"),
      (3L, -0.0, ""),
      (4L, 4.9e-324, "plain")
    ).toDF("event_id", "value", "props")
    in.write.option("header", "true").mode("overwrite").csv(path)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    val back = spark.read.schema(schema).option("header", "true").csv(path)
      .as[(Long, Double, String)].collect().sortBy(_._1)
    val exp = in.as[(Long, Double, String)].collect().sortBy(_._1)
    back.zip(exp).foreach { case ((bi, bv, bp), (ei, ev, ep)) =>
      assert(bi == ei)
      assert(java.lang.Double.doubleToRawLongBits(bv) ==
        java.lang.Double.doubleToRawLongBits(ev), s"double drift at id $bi")
      assert(Option(bp).getOrElse("") == ep, s"string drift at id $bi")
    }
  }

  test("XML round-trips markup characters, doubles and longs exactly") {
    val path = targetTmp("xml")
    val in = Seq(
      (1L, 0.1 + 0.2, """<b att="x">&amp; raw & brackets</b>"""),
      (2L, 1.0 / 3.0, "plain text"),
      (3L, -0.0, "a]]>b"),          // CDATA-terminator lookalike
      (4L, 4.9e-324, "tab\tand\nnewline")
    ).toDF("event_id", "value", "props")
    in.write.option("rowTag", "event").option("rootTag", "events")
      .mode("overwrite").format("xml").save(path)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    val back = spark.read.schema(schema).option("rowTag", "event")
      .format("xml").load(path)
      .as[(Long, Double, String)].collect().sortBy(_._1)
    val exp = in.as[(Long, Double, String)].collect().sortBy(_._1)
    back.zip(exp).foreach { case ((bi, bv, bp), (ei, ev, ep)) =>
      assert(bi == ei)
      assert(java.lang.Double.doubleToRawLongBits(bv) ==
        java.lang.Double.doubleToRawLongBits(ev), s"double drift at id $bi")
      assert(bp == ep, s"string drift at id $bi: got [$bp] want [$ep]")
    }
  }

  test("morton key: roundtrip, known values, per-coordinate monotonicity") {
    import graft.functions.ZOrder
    // reference values: interleave bits of x at even, y at odd positions
    assert(ZOrder.mortonKeyLong(0, 0) == 0L)
    assert(ZOrder.mortonKeyLong(1, 0) == 1L)
    assert(ZOrder.mortonKeyLong(0, 1) == 2L)
    assert(ZOrder.mortonKeyLong(3, 5) == 39L)    // 0b100111
    assert(ZOrder.mortonKeyLong(65535, 65535) == 0xFFFFFFFFL)
    // Column path == driver path + decode roundtrip over edge/random grid
    val pts = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L),
      (12345L, 54321L), (1L, 65534L), (32768L, 32767L))
    val got = pts.toDF("x", "y")
      .select($"x", $"y", ZOrder.mortonKey($"x", $"y").as("z"))
      .withColumn("x2", ZOrder.mortonX($"z"))
      .withColumn("y2", ZOrder.mortonY($"z"))
      .as[(Long, Long, Long, Long, Long)].collect()
    got.foreach { case (x, y, z, x2, y2) =>
      assert(z == ZOrder.mortonKeyLong(x, y), s"column/driver drift at ($x,$y)")
      assert(x2 == x && y2 == y, s"roundtrip drift at ($x,$y)")
    }
    // monotonic per coordinate ⇒ bbox ⊆ z-range (the pruning soundness)
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { _ =>
      val (x1, y1) = (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)
      val (x2, y2) = (x1 + rnd.nextInt(65536 - x1.toInt).toLong,
        y1 + rnd.nextInt(65536 - y1.toInt).toLong)
      assert(ZOrder.mortonKeyLong(x1, y1) <= ZOrder.mortonKeyLong(x2, y2))
    }
  }

  test("z-order bbox scan: partition pruning + zkey pushdown, exact result") {
    import graft.functions.ZOrder
    val path = targetTmp("zstore")
    // 32×32 full grid, scaled to the 16-bit key space via <<11
    val grid = (0 until 32).flatMap(x => (0 until 32).map(y => (x.toLong << 11, y.toLong << 11)))
      .toDF("gx", "gy")
      .withColumn("zkey", ZOrder.mortonKey($"gx", $"gy"))
      .withColumn("zbucket", shiftright($"zkey", graft.store.ZOrderStore.BucketShift))
    grid.repartition($"zbucket").sortWithinPartitions($"zbucket", $"zkey")
      .write.partitionBy("zbucket").mode("overwrite").parquet(path)
    val (xLo, xHi, yLo, yHi) = (4L << 11, 7L << 11, 20L << 11, 23L << 11)
    val zLo = ZOrder.mortonKeyLong(xLo, yLo)
    val zHi = ZOrder.mortonKeyLong(xHi, yHi)
    val scan = spark.read.parquet(path)
      .filter($"zbucket" >= (zLo >> graft.store.ZOrderStore.BucketShift) &&
        $"zbucket" <= (zHi >> graft.store.ZOrderStore.BucketShift))
      .filter($"zkey" >= zLo && $"zkey" <= zHi)
      .filter($"gx".between(xLo, xHi) && $"gy".between(yLo, yHi))
    val got = scan.select($"gx", $"gy").as[(Long, Long)].collect().toSet
    val want = (4 to 7).flatMap(x => (20 to 23).map(y => (x.toLong << 11, y.toLong << 11))).toSet
    assert(got == want, "bbox result wrong — z-range must be a superset of the bbox")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("zbucket"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(zkey") || plan.contains("PushedFilters: [") &&
      plan.contains("zkey"), s"zkey not pushed:\n${plan.take(2000)}")
  }

  test("hilbert key: exhaustive sub-block bijection + unit-step adjacency, roundtrip") {
    import graft.functions.HilbertOps
    // the first 4^8 keys must fill exactly the aligned 256×256 block at
    // the origin, visiting each cell once with every step a grid
    // neighbor — the defining (jump-free) Hilbert property, and the
    // contiguous-quadrant property the store's dir pruning relies on
    var prev: (Long, Long) = null
    val seen = new scala.collection.mutable.HashSet[(Long, Long)]
    (0L until 65536L).foreach { d =>
      val p = HilbertOps.d2xy(d)
      assert(p._1 < 256 && p._2 < 256, s"escaped the origin block at d=$d: $p")
      assert(seen.add(p), s"revisited $p at d=$d")
      if (prev != null)
        assert(math.abs(p._1 - prev._1) + math.abs(p._2 - prev._2) == 1,
          s"jump at d=$d: $prev -> $p")
      assert(HilbertOps.xy2d(p._1, p._2) == d, s"encode(decode($d)) drift")
      prev = p
    }
    assert(seen.size == 65536)
    // roundtrip across the FULL 16-bit domain (edges + random)
    val rnd = new scala.util.Random(11)
    val pts = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L),
      (32768L, 32767L)) ++
      (0 until 500).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    pts.foreach { case (x, y) =>
      val d = HilbertOps.xy2d(x, y)
      assert(d >= 0L && d < (1L << 32), s"key out of range at ($x,$y): $d")
      assert(HilbertOps.d2xy(d) == ((x, y)), s"roundtrip drift at ($x,$y)")
    }
    // Column (codegen) path == driver path, decode pinned
    val got = pts.toDF("x", "y")
      .select($"x", $"y", HilbertOps.hilbertKey($"x", $"y").as("h"))
      .withColumn("xy", HilbertOps.hilbertXY($"h"))
      .select($"x", $"y", $"h", $"xy.x".as("x2"), $"xy.y".as("y2"))
      .as[(Long, Long, Long, Long, Long)].collect()
    got.foreach { case (x, y, h, x2, y2) =>
      assert(h == HilbertOps.xy2d(x, y), s"column/driver drift at ($x,$y)")
      assert(x2 == x && y2 == y, s"column roundtrip drift at ($x,$y)")
    }
    // SQL surface: the registered functions plan to the same expressions
    org.apache.spark.sql.graftbridge.registerFunctions(spark)
    pts.toDF("x", "y").createOrReplaceTempView("hpts")
    val sqlGot = spark.sql(
        "SELECT x, y, hilbert_key(x, y) AS h, hilbert_xy(hilbert_key(x, y)).x AS x2 FROM hpts")
      .as[(Long, Long, Long, Long)].collect()
    sqlGot.foreach { case (x, y, h, x2) =>
      assert(h == HilbertOps.xy2d(x, y) && x2 == x, s"SQL drift at ($x,$y)")
    }
  }

  test("hilbert bbox scan: quadrant IN-list pruning, exact result") {
    import graft.functions.HilbertOps
    import graft.store.HilbertStore
    val path = targetTmp("hstore")
    // 32×32 full grid scaled to the 16-bit space via <<11 (z-order twin)
    val grid = (0 until 32).flatMap(x => (0 until 32).map(y => (x.toLong << 11, y.toLong << 11)))
      .toDF("gx", "gy")
      .withColumn("hkey", HilbertOps.hilbertKey($"gx", $"gy"))
      .withColumn("hbucket", shiftright($"hkey", HilbertStore.BucketShift))
    grid.repartition($"hbucket").sortWithinPartitions($"hbucket", $"hkey")
      .write.partitionBy("hbucket").mode("overwrite").parquet(path)
    val (xLo, xHi, yLo, yHi) = (4L << 11, 7L << 11, 20L << 11, 23L << 11)
    // covering set: superset of every matching row's dir, and small
    // (the bbox spans ≤ 2 aligned 8192-blocks per axis → ≤ 4 dirs)
    val cover = HilbertStore.coveringBuckets(xLo, xHi, yLo, yHi)
    val want = (4 to 7).flatMap(x => (20 to 23).map(y => (x.toLong << 11, y.toLong << 11))).toSet
    val wantBuckets = want.map { case (x, y) => HilbertOps.xy2d(x, y) >> HilbertStore.BucketShift }
    assert(wantBuckets.subsetOf(cover.toSet), s"covering set missed dirs: $wantBuckets vs $cover")
    assert(cover.size <= 4, s"covering set too large: $cover")
    val scan = HilbertStore.bboxScan(spark, path, xLo, xHi, yLo, yHi)
    val got = scan.select($"gx", $"gy").as[(Long, Long)].collect().toSet
    assert(got == want, "bbox result wrong")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("hbucket"), plan.take(2000))
    assert(plan.contains("PushedFilters") && plan.contains("gx"),
      s"gx not pushed:\n${plan.take(2000)}")
  }

  test("skip index: exact lookup, partition pruning on surviving buckets only") {
    import graft.store.SkipIndexStore
    val path = targetTmp("skipstore")
    // 400 rows bucketed by user hash (the layout key), probed by id
    val rows = (1L to 400L).map(i => (i, i % 37, s"t${i % 5}"))
      .toDF("event_id", "user_id", "event_type")
      .withColumn("fb", pmod(xxhash64($"user_id"), lit(SkipIndexStore.Buckets.toLong)))
    rows.repartition($"fb").write.partitionBy("fb").mode("overwrite").parquet(path)
    val idx = SkipIndexStore.ensureSkipIndex(spark, path)
    // probes: 3 present, 2 absent (bloom may false-positive a bucket,
    // never a row)
    val keys = Seq(10L, 200L, 399L, 5000L, 9999L).toDF("k")
    val scan = SkipIndexStore.skipScan(spark, path, idx, keys)
    val got = scan.select($"event_id").as[Long].collect().toSet
    assert(got == Set(10L, 200L, 399L))
    // the main scan must carry a LITERAL bucket IN-list (compile-time
    // partition pruning), and read strictly fewer dirs than exist
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("fb"), plan.take(2000))
    // 5 probe keys can hit at most 5 true buckets + fp tail ≪ 32
    val inList = "fb#\\d+ IN \\(([^)]*)\\)".r.findFirstMatchIn(plan)
    assert(inList.isDefined, plan.take(2000))
    assert(inList.get.group(1).split(",").length < SkipIndexStore.Buckets / 2,
      s"pruning too weak: ${inList.get.group(1)}")
    // index signatures are sorted distinct ints within [0, Bits)
    val sig = spark.read.parquet(idx).select($"sig").as[Seq[Int]].collect()
    assert(sig.forall(a => a == a.sorted && a.distinct.length == a.length &&
      a.forall(h => h >= 0 && h < SkipIndexStore.Bits)))
  }

  test("bloom index: exact lookup, constant-width signature, pruned IN-list") {
    import graft.store.{BloomIndexStore, SkipIndexStore}
    val path = targetTmp("bloomstore")
    val rows = (1L to 400L).map(i => (i, i % 37, s"t${i % 5}"))
      .toDF("event_id", "user_id", "event_type")
      .withColumn("fb", pmod(xxhash64($"user_id"), lit(SkipIndexStore.Buckets.toLong)))
    rows.repartition($"fb").write.partitionBy("fb").mode("overwrite").parquet(path)
    val idx = BloomIndexStore.ensureBloomIndex(spark, path)
    // no false negatives: every present key's rows come back exactly
    val keys = Seq(10L, 200L, 399L, 5000L, 9999L).toDF("k")
    val scan = BloomIndexStore.bloomScan(spark, path, idx, keys)
    val got = scan.select($"event_id").as[Long].collect().toSet
    assert(got == Set(10L, 200L, 399L))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("fb"), plan.take(2000))
    val inList = "fb#\\d+ IN \\(([^)]*)\\)".r.findFirstMatchIn(plan)
    assert(inList.isDefined, plan.take(2000))
    assert(inList.get.group(1).split(",").length < SkipIndexStore.Buckets / 2,
      s"pruning too weak: ${inList.get.group(1)}")
    // the signature is CONSTANT-width: ≤ Buckets × BloomBits/64 packed
    // words regardless of how many keys each bucket holds
    val words = spark.read.parquet(idx)
    assert(words.count() <= SkipIndexStore.Buckets.toLong * (BloomIndexStore.BloomBits / 64),
      words.count().toString)
    assert(words.select($"word").as[Long].collect()
      .forall(w => w >= 0 && w < BloomIndexStore.BloomBits / 64))
  }

  test("incrementalJoinView equals the full recompute, duplicates preserved") {
    import graft.store.Maintenance
    val ord = Seq((1L, "P1"), (2L, "P2"), (3L, "P1"), (4L, "P3"), (5L, "P2"))
      .toDF("k", "prio")
    val li = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L),
      (4L, 41L), (5L, 50L), (6L, 60L)).toDF("k", "qty")
    // split both sides into old/delta; key 6 dangles (never joins)
    val vNew = Maintenance.incrementalJoinView("spec",
      ord.filter($"k" <= 3L), ord.filter($"k" > 3L),
      li.filter($"qty" % 2 === 0L), li.filter($"qty" % 2 =!= 0L), "k")
    val full = ord.join(li, "k")
    val got = vNew.as[(Long, String, Long)].collect().sorted.toSeq
    val want = full.as[(Long, String, Long)].collect().sorted.toSeq
    assert(got == want, s"got=$got want=$want")
    // ΔA⋈ΔB rows must appear EXACTLY once (folded into the ΔA⋈B_new
    // term): (4, P3, 41) is delta-order × delta-line
    assert(got.count(_ == ((4L, "P3", 41L))) == 1, got.toString)
  }

  test("pivotCompressed: per-key time-ordered CSV survives the codec") {
    val comp = CompressedStore.pivotCompressed(
      events.withColumn("vm", floor($"v" * 1000).cast("long")), "id", "ts", Seq("vm"))
    assert(comp.columns.toSet == Set("id", "vm_blob"))
    val all = events.withColumn("k", lit(1))
    val vec = CompressedStore.pivotCompressed(
      all.withColumn("vm", floor($"v" * 1000).cast("long")), "k", "ts", Seq("vm"))
      .select(CompressedStore.gzipDecompress($"vm_blob")).as[String].head()
    assert(vec == "1000,2000,3000,4000")
  }

  test("compact: shrinks file count, keeps every row, files are disjoint time slices") {
    val src = targetTmp("cmp_src")
    val out = targetTmp("cmp_out")
    val many = (1L to 200L).map(i =>
      (i, ts(f"2024-01-${i % 28 + 1}%02d 0${i % 9 + 1}:00:00"), i.toDouble))
      .toDF("id", "ts", "v")
    SnapshotStore.write(many, src, "ts")
    val before = graft.store.Maintenance.parquetFileCount(src)
    graft.store.Maintenance.compact(spark, src, out, targetFiles = 4)
    val after = graft.store.Maintenance.parquetFileCount(out)
    assert(before > 50 && after <= 4, s"file count $before -> $after")
    val back = spark.read.parquet(out)
    assert(back.select($"id").as[Long].collect().sorted.toSeq == (1L to 200L))
    // range partitioning ⇒ per-file [min ts, max ts] intervals are disjoint
    val spans = back
      .groupBy(input_file_name().as("f"))
      .agg(min($"ts").as("lo"), max($"ts").as("hi"))
      .select($"lo".cast("long"), $"hi".cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    spans.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._1, s"file time spans overlap: $a vs $b")
      case _           =>
    }
  }

  test("schema evolution: mergeSchema surfaces v1 value as NULL with ver partition") {
    val path = graft.store.Maintenance.ensureEvolvedStore(spark, "/root/testdata/sf0.001")
    val df = graft.store.Maintenance.readEvolved(spark, path)
    assert(df.columns.contains("value") && df.columns.contains("ver"))
    val census = df.groupBy($"ver")
      .agg(count(lit(1)).as("n"), sum(when($"value".isNull, 1L).otherwise(0L)).as("nulls"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(census.length == 2)
    val v1 = census(0); val v2 = census(1)
    assert(v1._1 == 1 && v1._2 == v1._3, s"v1 rows must ALL have null value: $v1")
    assert(v2._1 == 2 && v2._3 == 0L, s"v2 rows must have no null value: $v2")
  }

  test("linearScanLookup: first-match limit-1 contract (reference all_in_one scan)") {
    import graft.store.JsonStore
    val all = Seq((1L, 100L), (2L, 200L), (3L, 200L)).toDF("event_id", "ts_us")
    assert(JsonStore.linearScanLookup(all, 200L).count() == 1) // first match only
    assert(JsonStore.linearScanLookup(all, 999L).count() == 0) // miss is empty
  }

  test("versioned commit log: as-of replay, delete shadowing, resurrection, scan pruning") {
    import graft.store.MergeStore
    val path = targetTmp("graft_tt") + "/log"
    // v0: k1→10, k2→20; v1: update k1→11, DELETE k2; v2: re-insert k2→22
    MergeStore.writeCommit(
      Seq((1L, 10L, "U"), (2L, 20L, "U")).toDF("k", "x", "_op"), path, 0)
    MergeStore.writeCommit(
      Seq((1L, 11L, "U"), (2L, 0L, "D")).toDF("k", "x", "_op"), path, 1)
    MergeStore.writeCommit(
      Seq((2L, 22L, "U")).toDF("k", "x", "_op"), path, 2)
    def state(v: Int): Map[Long, Long] =
      MergeStore.readAsOf(spark, path, v, Seq("k"))
        .as[(Long, Long)].collect().toMap
    assert(state(0) == Map(1L -> 10L, 2L -> 20L), state(0).toString)
    assert(state(1) == Map(1L -> 11L), state(1).toString) // tombstone shadows v0
    assert(state(2) == Map(1L -> 11L, 2L -> 22L), state(2).toString) // resurrection
    // time travel must PRUNE newer commits at the scan
    val plan = MergeStore.readAsOf(spark, path, 1, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("commit_v"), plan.take(2000))
    // the v=2 file is not among scanned partitions: 2 of 3 dirs selected
    val scanned: Int = MergeStore.readAsOf(spark, path, 1, Seq("k"))
      .queryExecution.sparkPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.foldLeft(0)(_ + _)
    assert(scanned == 2, s"expected 2 pruned-in partitions, got $scanned")
  }

  test("checkpointAndVacuum: reads above the horizon unchanged, history below gone, idempotent") {
    import graft.store.MergeStore
    val path = targetTmp("graft_vac") + "/log"
    MergeStore.writeCommit(
      Seq((1L, 10L, "U"), (2L, 20L, "U"), (3L, 30L, "U")).toDF("k", "x", "_op"), path, 0)
    MergeStore.writeCommit(
      Seq((1L, 11L, "U"), (3L, 0L, "D")).toDF("k", "x", "_op"), path, 1)
    MergeStore.writeCommit(
      Seq((2L, 22L, "U")).toDF("k", "x", "_op"), path, 2)
    def state(v: Int): Map[Long, Long] =
      MergeStore.readAsOf(spark, path, v, Seq("k"))
        .as[(Long, Long)].collect().toMap
    val (s1, s2) = (state(1), state(2))
    def dirs(): Seq[String] = new java.io.File(path).listFiles.toSeq
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs() == Seq("commit_v=0", "commit_v=1", "commit_v=2"), dirs().toString)

    MergeStore.checkpointAndVacuum(spark, path, upTo = 1, Seq("k"))
    assert(dirs() == Seq("commit_v=1", "commit_v=2"), dirs().toString)
    // reads at/above the horizon are bit-identical
    assert(state(1) == s1 && state(2) == s2, s"${state(1)} / ${state(2)}")
    // the delete tombstone was RESOLVED into the checkpoint (k=3 absent,
    // not re-shadowed), and history below the horizon is vacuumed
    assert(!state(1).contains(3L))
    assert(state(0).isEmpty, state(0).toString)
    // idempotent re-run
    MergeStore.checkpointAndVacuum(spark, path, upTo = 1, Seq("k"))
    assert(dirs() == Seq("commit_v=1", "commit_v=2") && state(2) == s2)
  }

  test("balancedWriteSplit: exact byte prefix sum, balance, and contiguity") {
    import graft.store.Maintenance
    val rnd = new scala.util.Random(7)
    // skewed sizes: mostly small rows, a few 100x whales
    val rows = (1L to 500L).map(k =>
      (k, if (k % 97 == 0) 5000L else rnd.nextInt(50).toLong + 1L))
    val got = Maintenance.balancedWriteSplit(rows.toDF("key", "nb"), nFiles = 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // brute global prefix sum replay
    val tot = rows.map(_._2).sum
    var ce = 0L
    rows.zip(got).foreach { case ((k, nb), (gk, gnb, gf)) =>
      assert(gk == k && gnb == nb, s"row order broke at $k")
      assert(gf == ce * 8 / tot, s"file_id mismatch at key $k: got $gf")
      ce += nb
    }
    // byte balance: every file within one max-row-size of the ideal slab
    val byFile = got.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val maxRow = rows.map(_._2).max
    byFile.values.foreach(b =>
      assert(b <= tot / 8 + maxRow, s"file overfull: $byFile"))
    // key contiguity: per-file [min,max] ranges are disjoint and ordered
    val ranges = got.groupBy(_._3).toSeq.sortBy(_._1)
      .map { case (f, rs) => (f, rs.map(_._1).min, rs.map(_._1).max) }
    ranges.sliding(2).foreach {
      case Seq((_, _, hi), (_, lo, _)) => assert(hi < lo, ranges.toString)
      case _ =>
    }
    // a different band count computes the SAME split (bands are an
    // implementation detail of the prefix sum, not the result)
    val alt = Maintenance.balancedWriteSplit(rows.toDF("key", "nb"), 8, nBands = 5)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(alt.toSeq == got.toSeq)
  }

  test("string zone map: prefix scan exact, truncation-safe, pruned IN-list") {
    import graft.store.StringZoneStore
    val path = targetTmp("zonestore")
    // keys spanning the alphabet; several share the 4-char truncation
    // prefix 'spar' (sparse vs spark) — truncation must never false-skip
    val words = Seq("alpha", "beta", "gamma", "spark", "sparse", "spare",
      "split", "table", "window", "zeta")
    val rows = (1L to 400L).map(i => (i, words((i % 10).toInt) + s" tail$i"))
      .toDF("doc_id", "text")
      .withColumn("zkey", substring_index($"text", " ", 1))
      .repartitionByRange(StringZoneStore.Buckets, $"zkey", $"doc_id")
      .withColumn("fb", spark_partition_id())
    rows.write.partitionBy("fb").mode("overwrite").parquet(path)
    val idx = StringZoneStore.ensureZoneIndex(spark, path)
    val scan = StringZoneStore.prefixScan(spark, path, idx, "spa")
    val got = scan.select($"doc_id").as[Long].collect().toSet
    val want = (1L to 400L).filter(i =>
      words((i % 10).toInt).startsWith("spa")).toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    // literal bucket IN-list reaches the scan, reading fewer dirs than exist
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("fb"), plan.take(2000))
    // small survivor sets print as IN (...), larger ones as INSET ...
    val inList = "fb#\\d+ IN \\(([^)]*)\\)".r.findFirstMatchIn(plan).map(_.group(1))
      .orElse("fb#\\d+ INSET ([^\\]]*)".r.findFirstMatchIn(plan).map(_.group(1)))
    assert(inList.isDefined, plan.take(2000))
    assert(inList.get.split(",").length < StringZoneStore.Buckets / 2,
      s"pruning too weak: ${inList.get}")
    // zone entries are fixed-width truncations
    val zones = spark.read.parquet(idx).select($"zmin", $"zmax")
      .as[(String, String)].collect()
    assert(zones.forall { case (a, b) =>
      a.length <= StringZoneStore.TruncWidth &&
        b.length <= StringZoneStore.TruncWidth && a <= b })
    // empty survivor set (prefix beyond every zone) returns zero rows
    assert(StringZoneStore.prefixScan(spark, path, idx, "zzzz").count() == 0L)
  }

  test("DeltaLogStore: protocol-shaped commits, remove shadowing, time travel") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta") + "/tbl"
    val d0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val d1 = Seq((3L, "c")).toDF("k", "s")
    DeltaLogStore.commit(spark, path, Some(d0.coalesce(1)), 0L)
    DeltaLogStore.commit(spark, path, Some(d1.coalesce(1)), 1L)
    assert(DeltaLogStore.latestVersion(path) == 1L)
    // commit 0 carries protocol + metaData actions with the schema JSON
    val v0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_delta_log",
        "0" * 19 + "0.json")), "UTF-8")
    assert(v0.contains("\"protocol\"") && v0.contains("\"minReaderVersion\":1"))
    assert(v0.contains("\"metaData\"") && v0.contains("schemaString"))
    assert(v0.contains("\"add\""))
    // snapshots: v0 = d0; latest = d0 ∪ d1
    assert(DeltaLogStore.read(spark, path, Some(0L)).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(DeltaLogStore.read(spark, path).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the footer schema is the schema Spark infers from the same files
    assert(DeltaLogStore.read(spark, path).schema == spark.read.parquet(path).schema)
    // OPTIMIZE-style rewrite: remove v0's file, re-add same rows compacted
    val f0 = DeltaLogStore.snapshotFiles(spark, path, Some(0L))
      .select("path").as[String].collect().toSeq
    assert(f0.length == 1)
    DeltaLogStore.commit(spark, path, Some(d0.coalesce(1)), 2L, removePaths = f0)
    // rows invariant under the rewrite; removed file no longer live but
    // still on disk (time travel) and still served for VERSION AS OF 0
    assert(DeltaLogStore.read(spark, path, Some(2L)).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val live2 = DeltaLogStore.snapshotFiles(spark, path, Some(2L))
      .select("path").as[String].collect().toSet
    assert(!live2.contains(f0.head) && new java.io.File(path, f0.head).exists())
    assert(DeltaLogStore.read(spark, path, Some(0L)).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    // double-commit of an existing version refuses (the commit point is
    // the rename-if-absent)
    intercept[IllegalArgumentException] {
      DeltaLogStore.commit(spark, path, Some(d1), 2L)
    }
  }

  test("DeltaLogStore checkpoints: parquet state equals JSON replay, old JSON skippable") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta_cp") + "/tbl"
    // 25 commits at the delta-spark default cadence (checkpoint every
    // 10): v0..v24 each append one row; v12 additionally DELETES v0's
    // file so the checkpointed state carries a remove tombstone
    def row(v: Long) = Seq((v, s"r$v")).toDF("k", "s").coalesce(1)
    DeltaLogStore.commit(spark, path, Some(row(0L)), 0L, checkpointEvery = 10)
    val f0 = DeltaLogStore.snapshotFiles(spark, path, Some(0L))
      .select("path").as[String].collect().toSeq
    (1L to 24L).foreach { v =>
      DeltaLogStore.commit(spark, path, Some(row(v)), v,
        removePaths = if (v == 12L) f0 else Nil, checkpointEvery = 10)
    }
    // commit-integrated cadence wrote exactly the v10 and v20 checkpoints
    assert(DeltaLogStore.checkpointVersions(path) == Seq(10L, 20L))
    assert(DeltaLogStore.lastCheckpointVersion(path) == 20L)
    // the wire artifact: classic checkpoint rows, exactly one action each
    val cp20 = spark.read.parquet(
      s"$path/_delta_log/${"0" * 18}20.checkpoint.parquet")
    assert(cp20.columns.toSet == Set("protocol", "metaData", "add", "remove"))
    val counts = cp20.select(
      sum(when($"protocol".isNotNull, 1).otherwise(0)),
      sum(when($"metaData".isNotNull, 1).otherwise(0)),
      sum(when($"add".isNotNull, 1).otherwise(0)),
      sum(when($"remove".isNotNull, 1).otherwise(0))).as[(Long, Long, Long, Long)].head()
    assert(counts._1 == 1L && counts._2 == 1L, s"protocol/metaData rows: $counts")
    assert(counts._4 == 1L, s"v12's tombstone must ride the checkpoint: $counts")
    assert(cp20.count() == counts._1 + counts._2 + counts._3 + counts._4)
    // `_last_checkpoint` names the checkpoint and its row count
    val lc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_delta_log", "_last_checkpoint")), "UTF-8")
    assert(lc.trim == s"""{"version":20,"size":${cp20.count()}}""", lc)
    // EQUALITY, checkpointed vs JSON-replayed: a twin table built from
    // the same commits with no checkpoints must resolve identical
    // snapshots at every probed version (across both checkpoints, the
    // rewrite, and versions below/between/after them)
    val twin = targetTmp("graft_delta_nocp") + "/tbl"
    DeltaLogStore.commit(spark, twin, Some(row(0L)), 0L)
    val t0 = DeltaLogStore.snapshotFiles(spark, twin, Some(0L))
      .select("path").as[String].collect().toSeq
    (1L to 24L).foreach { v =>
      DeltaLogStore.commit(spark, twin, Some(row(v)), v,
        removePaths = if (v == 12L) t0 else Nil)
    }
    assert(DeltaLogStore.checkpointVersions(twin).isEmpty)
    for (v <- Seq(0L, 9L, 10L, 11L, 12L, 19L, 20L, 24L)) {
      assert(
        DeltaLogStore.read(spark, path, Some(v)).as[(Long, String)].collect().toSet ==
          DeltaLogStore.read(spark, twin, Some(v)).as[(Long, String)].collect().toSet,
        s"checkpointed vs replayed rows diverge at v$v")
      // live FILE SETS must match too, not just rows (the rewrite case)
      assert(
        DeltaLogStore.snapshotFiles(spark, path, Some(v))
          .select("path").as[String].collect().toSet ==
          DeltaLogStore.snapshotFiles(spark, twin, Some(v))
            .select("path").as[String].collect().toSet,
        s"checkpointed vs replayed file sets diverge at v$v")
    }
    // the 100 TB point: resolution above the checkpoint touches ONLY the
    // JSON after it — prove it by deleting everything the checkpoint
    // covers (Delta metadata cleanup) and resolving unchanged
    val before24 = DeltaLogStore.read(spark, path, Some(24L))
      .as[(Long, String)].collect().toSet
    val beforeLatest = DeltaLogStore.read(spark, path)
      .as[(Long, String)].collect().toSet
    val deleted = DeltaLogStore.cleanupLog(path)
    assert(deleted == 22, s"expected 21 JSON (v0..v20) + cp10, got $deleted")
    assert(DeltaLogStore.latestVersion(path) == 24L)
    assert(DeltaLogStore.read(spark, path, Some(24L))
      .as[(Long, String)].collect().toSet == before24)
    assert(DeltaLogStore.read(spark, path)
      .as[(Long, String)].collect().toSet == beforeLatest)
    assert(DeltaLogStore.read(spark, path, Some(20L)).count() == 20L) // k=1..20: v12 deleted k=0
    // time travel below the checkpoint is gone with the cleaned JSON —
    // the documented Delta retention trade
    intercept[Exception] {
      DeltaLogStore.read(spark, path, Some(9L)).collect()
    }
    ()
  }

  test("DeltaLogStore: read and snapshotFiles run no job, before and after a checkpoint") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta_nojob") + "/tbl"
    def row(v: Long) = Seq((v, s"r$v")).toDF("k", "s").coalesce(1)
    def resolvesWithNoJob(v: Option[Long], want: Set[Long]): Unit = {
      val (df, built) = census.measure(DeltaLogStore.read(spark, path, v))
      assert(built.stages.isEmpty, s"read at $v: ${built.stages}")
      val (files, listed) = census.measure(DeltaLogStore.snapshotFiles(spark, path, v)
        .filter($"size" > 0L).select($"path").as[String].collect().toSet)
      assert(listed.stages.isEmpty, s"snapshotFiles at $v: ${listed.stages}")
      assert(files.size == want.size, s"live files at $v: $files")
      assert(df.select($"k").as[Long].collect().toSet == want, s"rows at $v")
    }
    (0L to 2L).foreach(v =>
      DeltaLogStore.commit(spark, path, Some(row(v)), v, checkpointEvery = 3))
    assert(DeltaLogStore.checkpointVersions(path).isEmpty)
    resolvesWithNoJob(None, Set(0L, 1L, 2L))
    resolvesWithNoJob(Some(1L), Set(0L, 1L))
    (3L to 4L).foreach(v =>
      DeltaLogStore.commit(spark, path, Some(row(v)), v, checkpointEvery = 3))
    assert(DeltaLogStore.checkpointVersions(path) == Seq(3L))
    resolvesWithNoJob(None, (0L to 4L).toSet)
    resolvesWithNoJob(Some(3L), (0L to 3L).toSet)
    resolvesWithNoJob(Some(2L), Set(0L, 1L, 2L))
    // a version past the head names the first commit it lacks
    val e = intercept[IllegalArgumentException](DeltaLogStore.read(spark, path, Some(6L)))
    assert(e.getMessage.contains("missing commit after") &&
      e.getMessage.contains("0" * 19 + "5.json"), e.getMessage)
  }

  test("DeltaLogStore: a path removed at v1 and re-added at v3 is live at v3, not at v2") {
    import graft.store.DeltaLogStore
    def row(v: Long) = Seq((v, s"r$v", T0 + v * Hour)).toDF("k", "s", "us")
      .select($"k", $"s", timestamp_micros($"us").as("ts")).coalesce(1)
    Seq(false, true).foreach { checkpointed =>
      val path = targetTmp("graft_delta_readd") + "/tbl"
      DeltaLogStore.commit(spark, path, Some(row(0L)), 0L)
      val f0 = DeltaLogStore.liveFiles(spark, path)
      assert(f0.length == 1)
      DeltaLogStore.commit(spark, path, None, 1L, removePaths = f0)
      DeltaLogStore.commit(spark, path, Some(row(2L)), 2L)
      // with a checkpoint at v2 the remove rides it as a tombstone
      if (checkpointed) DeltaLogStore.writeCheckpoint(spark, path, 2L)
      // v3 restores v0's file by path: a commit the protocol allows but
      // `commit` (which only adds new files) never writes, so by hand
      val size = new java.io.File(path, f0.head).length
      java.nio.file.Files.write(java.nio.file.Paths.get(path, "_delta_log", "0" * 19 + "3.json"),
        (s"""{"add":{"path":"${f0.head}","partitionValues":{},"size":$size,""" +
          """"modificationTime":1700000000003,"dataChange":true}}""" + "\n").getBytes("UTF-8"))
      val at = s"checkpointed=$checkpointed"
      assert(!DeltaLogStore.liveFiles(spark, path, Some(2L)).contains(f0.head), at)
      assert(DeltaLogStore.snapshotFiles(spark, path, Some(3L)).as[(String, Long, Long)]
        .collect().toSet.contains((f0.head, size, 3L)), at)
      assert(DeltaLogStore.read(spark, path, Some(2L)).select($"k").as[Long]
        .collect().toSet == Set(2L), at)
      assert(DeltaLogStore.read(spark, path, Some(3L)).select($"k").as[Long]
        .collect().toSet == Set(0L, 2L), at)
      // the hand-written add has no stats, so no predicate skips it; v2's
      // file (ts = T0 + 2 h) is skipped by its own
      val at3 = DeltaLogStore.read(spark, path, Some(3L))
      val before = at3.filter($"ts" < micros(T0 - Hour))
      assert(scannedFiles(before) == 1 && before.isEmpty, at)
      val v0 = at3.filter($"ts" === micros(T0))
      assert(scannedFiles(v0) == 1 && v0.select($"k").as[Long].collect().toSeq == Seq(0L), at)
    }
  }

  /** 2024-01-01 00:00 UTC and one hour, in µs. */
  private val T0 = 1704067200000000L
  private val Hour = 3600L * 1000000L

  /** A timestamp literal of `us` µs since the epoch. */
  private def micros(us: Long): Column =
    lit(java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Runs `df` and returns the files its parquet scans read. */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      .map(_.metrics("numFiles").value).sum
  }

  test("DeltaLogStore: stats skip exactly the files a timestamp or date predicate cannot meet") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta_skip") + "/tbl"
    // file i holds two rows, at 12i h + 15 min and 12i h + 45 min: whole
    // milliseconds, so its stats' [min, max] are its rows' exact range
    val spans = (0 until 4).map(i => (T0 + 12 * i * Hour + Hour / 4, T0 + 12 * i * Hour + 3 * Hour / 4))
    spans.zipWithIndex.foreach { case ((lo, hi), i) =>
      val rows = Seq((2L * i, lo), (2L * i + 1, hi)).toDF("k", "us")
        .select($"k", timestamp_micros($"us").as("ts")).withColumn("d", to_date($"ts"))
      DeltaLogStore.commit(spark, path, Some(rows.coalesce(1)), i.toLong)
    }
    // the protocol's encoding: ISO instants truncated to ms, ISO dates
    val commit0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_delta_log", "0" * 20 + ".json")), "UTF-8")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val add = commit0.split("\n").map(mapper.readTree).find(_.has("add")).get.get("add")
    assert(mapper.readTree(add.get("stats").asText) == mapper.readTree(
      """{"numRecords":2,"minValues":{"ts":"2024-01-01T00:15:00.000Z","d":"2024-01-01"},""" +
        """"maxValues":{"ts":"2024-01-01T00:45:00.000Z","d":"2024-01-01"},""" +
        """"nullCount":{"ts":0,"d":0}}"""), add.toString)
    val (lo1, hi1) = spans(1)
    val lo3 = spans(3)._1
    // each predicate with the files it may skip none of: those whose
    // [min, max] meets it, the max widened to the last µs of its
    // millisecond (the stats truncate it), so `> max` still reads the file
    val grid: Seq[(String, Column, ((Long, Long)) => Boolean)] = Seq(
      ("= a file's min", $"ts" === micros(lo1), { case (lo, hi) => lo <= lo1 && lo1 <= hi }),
      ("= inside a file, no row", $"ts" === micros(lo1 + 60000000L),
        { case (lo, hi) => lo <= lo1 + 60000000L && lo1 + 60000000L <= hi }),
      ("< a file's min", $"ts" < micros(lo1), { case (lo, _) => lo < lo1 }),
      ("<= a file's min", $"ts" <= micros(lo1), { case (lo, _) => lo <= lo1 }),
      ("> a file's max", $"ts" > micros(hi1), { case (_, hi) => hi > hi1 }),
      (">= a file's max", $"ts" >= micros(hi1), { case (_, hi) => hi >= hi1 }),
      (">= 1 ms past a file's max", $"ts" >= micros(hi1 + 1000L), { case (_, hi) => hi >= hi1 + 1000L }),
      ("literal on the left", micros(hi1) < $"ts", { case (_, hi) => hi > hi1 }),
      ("a range", $"ts" >= micros(lo1) && $"ts" < micros(hi1),
        { case (lo, hi) => hi >= lo1 && lo < hi1 }),
      ("OR of two ranges", $"ts" < micros(lo1) || $"ts" >= micros(lo3),
        { case (lo, hi) => lo < lo1 || hi >= lo3 }),
      ("a date", $"d" === lit(java.sql.Date.valueOf("2024-01-02")),
        { case (lo, _) => lo >= T0 + 24 * Hour }),
      ("not a column against a literal", hour($"ts") === 12, _ => true))
    def check(at: String): Unit = {
      val live = DeltaLogStore.liveFiles(spark, path).map(p => s"$path/$p")
      grid.foreach { case (name, p, meets) =>
        val pruned = DeltaLogStore.read(spark, path).filter(p)
        assert(scannedFiles(pruned) == spans.count { case (lo, hi) => meets((lo, hi + 999L)) },
          s"$at: $name")
        assert(pruned.collect().toSet == spark.read.parquet(live: _*).filter(p).collect().toSet,
          s"$at: $name")
      }
    }
    check("JSON commits")
    DeltaLogStore.writeCheckpoint(spark, path, 3L)
    check("checkpoint")
    assert(DeltaLogStore.cleanupLog(path) == 4)
    check("after cleanupLog")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try check("session zone Asia/Kolkata")
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("DeltaLogStore: a file whose only ts has non-zero µs is kept") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta_us") + "/tbl"
    val us = T0 + 500L // stats say 2024-01-01T00:00:00.000Z
    DeltaLogStore.commit(spark, path,
      Some(spark.range(1).select(timestamp_micros(lit(us)).as("ts")).coalesce(1)), 0L)
    Seq($"ts" === micros(us), $"ts" >= micros(us), $"ts" > micros(T0)).foreach { p =>
      val df = DeltaLogStore.read(spark, path).filter(p)
      assert(scannedFiles(df) == 1 && df.count() == 1, p.toString)
    }
  }

  test("DeltaLogStore: a commit adds no file for an empty partition of its frame") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta_empty") + "/tbl"
    // two partitions holding one row: the first is empty
    val frame = spark.range(0, 1, 1, 2).select(timestamp_micros(lit(T0) + $"id").as("ts"))
    assert(frame.rdd.getNumPartitions == 2)
    DeltaLogStore.commit(spark, path, Some(frame), 0L)
    assert(DeltaLogStore.liveFiles(spark, path).size == 1)
    val get = DeltaLogStore.read(spark, path).filter($"ts" === micros(T0))
    assert(scannedFiles(get) == 1 && get.count() == 1)
    // a frame with no row at all still commits one file
    DeltaLogStore.commit(spark, path, Some(frame.filter($"ts" < micros(T0))), 1L)
    assert(DeltaLogStore.liveFiles(spark, path).size == 2)
    assert(DeltaLogStore.read(spark, path).count() == 1)
  }

  test("DeltaLogStore: read over 40 live files plans with no job, typed as Spark reads it") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta_40") + "/tbl"
    (0L until 40L).foreach { v =>
      val row = Seq((v, T0 + v * Hour)).toDF("k", "us").select($"k", timestamp_micros($"us").as("ts"))
      DeltaLogStore.commit(spark, path, Some(row.coalesce(1)), v, checkpointEvery = 10)
    }
    val (get, built) = census.measure {
      val df = DeltaLogStore.read(spark, path).filter($"ts" === micros(T0 + 7 * Hour))
      df.queryExecution.executedPlan
      df
    }
    assert(built.stages.isEmpty, built.stages)
    assert(scannedFiles(get) == 1 && get.select($"k").as[Long].collect().toSeq == Seq(7L))
    assert(DeltaLogStore.read(spark, path).schema == spark.read.parquet(path).schema)
  }

  test("graftdelta source: versionAsOf reads, PushedFilters reach the parquet scan") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta_src") + "/tbl"
    val d0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val d1 = Seq((3L, "c")).toDF("k", "s")
    DeltaLogStore.commit(spark, path, Some(d0.coalesce(1)), 0L)
    DeltaLogStore.commit(spark, path, Some(d1.coalesce(1)), 1L)
    // the log types the table, so building it runs no inference job
    val (loaded, built) = census.measure(spark.read.format("graftdelta").load(path))
    assert(built.stages.isEmpty, built.stages)
    assert(loaded.schema == spark.read.parquet(path).schema)
    // latest + time travel through the public reader API
    assert(spark.read.format("graftdelta").load(path)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(spark.read.format("graftdelta").option("versionAsOf", 0L).load(path)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // the data plane is the stock V2 parquet scan: a filter must reach
    // the scan as PushedFilters, and the plan must be a BatchScan over
    // parquet — the log layer adds no execution operator of its own
    val q = spark.read.format("graftdelta").load(path).filter($"k" === 2L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), plan.take(2000))
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(k)")
      && plan.contains("EqualTo(k,2)"), plan.take(2000))
    assert(q.as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    // column pruning reaches the scan (ReadSchema carries only `s`)
    val pr = spark.read.format("graftdelta").load(path).select($"s")
    assert(pr.queryExecution.executedPlan.toString.contains("ReadSchema: struct<s:string>"),
      pr.queryExecution.executedPlan.toString.take(2000))
    // a checkpoint-backed snapshot serves the same source path: write a
    // checkpoint at v1, drop the JSON it covers, read again unchanged
    DeltaLogStore.writeCheckpoint(spark, path, 1L)
    assert(DeltaLogStore.cleanupLog(path) == 2)
    assert(spark.read.format("graftdelta").load(path)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // bad usage errors early and explicitly
    intercept[Exception] {
      spark.read.format("graftdelta").option("versionAsOf", 99L).load(path).collect()
    }
    ()
  }

  test("graftdelta write path: append + overwrite commit through the log") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta_w") + "/tbl"
    // creation is a version-0 library commit (metaData/protocol header);
    // the writer API serves the reference's APPEND shape
    // (delta_lake.py:31-33) against an existing table
    DeltaLogStore.commit(spark, path,
      Some(Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)), 0L)
    Seq((3L, "c")).toDF("k", "s")
      .write.format("graftdelta").mode("append").save(path)
    assert(DeltaLogStore.latestVersion(path) == 1L)
    assert(spark.read.format("graftdelta").load(path)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // overwrite = remove every live file + add the new data, ONE commit;
    // history stays time-travelable
    Seq((9L, "z")).toDF("k", "s")
      .write.format("graftdelta").mode("overwrite").save(path)
    assert(DeltaLogStore.latestVersion(path) == 2L)
    assert(spark.read.format("graftdelta").load(path)
      .as[(Long, String)].collect().toSet == Set((9L, "z")))
    assert(spark.read.format("graftdelta").option("versionAsOf", 1L).load(path)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // both round trips also read through the library reader (same log)
    assert(DeltaLogStore.read(spark, path).as[(Long, String)]
      .collect().toSet == Set((9L, "z")))
    ()
  }

  test("graftdelta: first append to a fresh directory creates the table") {
    import graft.store.DeltaLogStore
    // the reference's store_document appends to a directory it never
    // explicitly created (delta_lake.py:31-36) — Delta creates the table
    // on first append, and so does graftdelta (ADVICE r14)
    val path = targetTmp("graft_delta_create") + "/tbl"
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .write.format("graftdelta").mode("append").save(path)
    assert(DeltaLogStore.latestVersion(path) == 0L)
    // version 0 adopted the data's schema via the metaData header
    assert(spark.read.format("graftdelta").load(path)
      .schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("k", "long"), ("s", "string")))
    assert(spark.read.format("graftdelta").load(path)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // subsequent appends extend the created table as usual
    Seq((3L, "c")).toDF("k", "s")
      .write.format("graftdelta").mode("append").save(path)
    assert(DeltaLogStore.latestVersion(path) == 1L)
    assert(spark.read.format("graftdelta").load(path).count() == 3L)
    // first OVERWRITE on a fresh directory also creates (nothing to
    // remove, version 0 carries only adds)
    val path2 = targetTmp("graft_delta_create2") + "/tbl"
    Seq((9L, "z")).toDF("k", "s")
      .write.format("graftdelta").mode("overwrite").save(path2)
    assert(DeltaLogStore.latestVersion(path2) == 0L)
    assert(spark.read.format("graftdelta").load(path2)
      .as[(Long, String)].collect().toSet == Set((9L, "z")))
    // READS of a never-created table still fail loudly...
    val e = intercept[Exception] {
      spark.read.format("graftdelta").load(targetTmp("graft_delta_nope")).collect()
    }
    assert(e.getMessage.contains("no graftdelta log"), e.getMessage)
    // ...and time travel cannot target a table that was never created
    val e2 = intercept[Exception] {
      Seq((1L, "x")).toDF("k", "s").write.format("graftdelta")
        .option("versionAsOf", 0L).mode("append").save(targetTmp("graft_delta_nope2"))
    }
    assert(e2.getMessage.contains("never created"), e2.getMessage)
    ()
  }

  test("graftdelta: empty snapshot reads as zero rows with the declared schema") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta_e") + "/tbl"
    DeltaLogStore.commit(spark, path,
      Some(Seq((1L, "a")).toDF("k", "s").coalesce(1)), 0L)
    val f0 = DeltaLogStore.snapshotFiles(spark, path, Some(0L))
      .select("path").as[String].collect().toSeq
    // v1 removes every live file — a valid Delta state (all-tombstone)
    DeltaLogStore.commit(spark, path, None, 1L, removePaths = f0)
    val empty = spark.read.format("graftdelta").load(path)
    assert(empty.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("k", "long"), ("s", "string")))
    assert(empty.count() == 0L)
    // filters/projections on the empty table still plan and run
    assert(empty.filter($"k" > 0).select($"s").collect().isEmpty)
    // time travel back to the non-empty version unaffected
    assert(spark.read.format("graftdelta").option("versionAsOf", 0L).load(path)
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    ()
  }

  test("DeltaLogStore: cleaned-up versions fail loudly; vacuum shrinks the store size") {
    import graft.store.DeltaLogStore
    val path = targetTmp("graft_delta_v") + "/tbl"
    def row(v: Long) = Seq((v, s"r$v")).toDF("k", "s").coalesce(1)
    DeltaLogStore.commit(spark, path, Some(row(0L)), 0L)
    // q_store_size teeth (VERDICT r13 Next #8): the size stat must
    // STRICTLY GROW with appends ...
    val s0 = SnapshotStore.totalSizeBytes(path)
    assert(s0 > 0L)
    DeltaLogStore.commit(spark, path, Some(row(1L)), 1L)
    val s1 = SnapshotStore.totalSizeBytes(path)
    assert(s1 > s0, s"append must grow the store: $s0 -> $s1")
    // rewrite keeps the old files for time travel — size still grows
    val live1 = DeltaLogStore.snapshotFiles(spark, path, Some(1L))
      .select("path").as[String].collect().toSeq
    DeltaLogStore.commit(spark, path,
      Some(Seq((0L, "r0"), (1L, "r1")).toDF("k", "s").coalesce(1)), 2L,
      removePaths = live1)
    val s2 = SnapshotStore.totalSizeBytes(path)
    assert(s2 > s1, s"rewrite keeps history: $s1 -> $s2")
    // ... and SHRINK after VACUUM reclaims the tombstoned files
    val reclaimed = DeltaLogStore.vacuum(spark, path)
    assert(reclaimed > 0L)
    val s3 = SnapshotStore.totalSizeBytes(path)
    assert(s3 < s2 && s3 == s2 - reclaimed, s"vacuum must shrink: $s2 -> $s3")
    // the latest snapshot is untouched by vacuum
    assert(DeltaLogStore.read(spark, path).as[(Long, String)]
      .collect().toSet == Set((0L, "r0"), (1L, "r1")))
    // ADVICE r13: a version whose JSON was removed by log cleanup must
    // fail with an explicit error, not resolve to an empty file set
    DeltaLogStore.writeCheckpoint(spark, path, 2L)
    assert(DeltaLogStore.cleanupLog(path) == 3) // v0..v2 JSON
    val e = intercept[IllegalArgumentException] {
      DeltaLogStore.snapshotFiles(spark, path, Some(1L)).collect()
    }
    assert(e.getMessage.contains("removed by log cleanup"), e.getMessage)
    // the checkpointed head still resolves
    assert(DeltaLogStore.read(spark, path).count() == 2L)
    ()
  }
}
