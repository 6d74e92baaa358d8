package graft

import org.apache.spark.sql.functions._

import graft.operators.{Encodings, Flatten, Normalize}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // -- Flatten ------------------------------------------------------------

  test("nest → flatten round-trips flat observations") {
    val flat = Seq(
      (10L, 1L, "u1", "t", 1.5, 4.1, 50.1),
      (10L, 2L, "u2", "t", 2.5, 4.2, 50.2),
      (20L, 3L, "u3", "s", 3.5, 4.3, 50.3)
    ).toDF("bucket", "fid", "uuid", "etype", "v", "lon", "lat")
    val docs = Flatten.nest(flat, "bucket", "fid", Seq("uuid", "etype", "v"), "lon", "lat")
    assert(docs.count() == 2)
    val d10 = docs.filter($"bucket" === 10L).select($"type", size($"features")).head()
    assert(d10.getString(0) == "FeatureCollection" && d10.getInt(1) == 2)
    val back = Flatten.flatten(docs, "bucket")
      .select($"bucket", $"feature_id".cast("long"), $"uuid", $"etype", $"v",
        $"coordinates_0", $"coordinates_1")
      .as[(Long, Long, String, String, Double, Double, Double)].collect().toSet
    assert(back == flat.as[(Long, Long, String, String, Double, Double, Double)].collect().toSet)
  }

  test("features arrays are sorted by the id key (deterministic)") {
    val flat = Seq(
      (1L, 9L, "z", "t", 0.0, 0.0, 0.0),
      (1L, 1L, "a", "t", 0.0, 0.0, 0.0)
    ).toDF("bucket", "fid", "uuid", "etype", "v", "lon", "lat")
    val ids = Flatten.nest(flat, "bucket", "fid", Seq("uuid", "etype", "v"), "lon", "lat")
      .select(transform($"features", f => f.getField("id")).as("ids"))
      .as[Seq[String]].head()
    assert(ids == Seq("1", "9"))
  }

  test("nestSalted (two-phase, skew-safe) ≡ nest") {
    val flat = (1 to 100).map(i => ((i % 3).toLong, i.toLong, s"u$i", "t", i * 1.5, 4.0 + i, 50.0 + i))
      .toDF("bucket", "fid", "uuid", "etype", "v", "lon", "lat")
    val plain = Flatten.nest(flat, "bucket", "fid", Seq("uuid", "etype", "v"), "lon", "lat")
    val salted = Flatten.nestSalted(flat, "bucket", "fid", Seq("uuid", "etype", "v"), "lon", "lat", 4)
    val a = plain.orderBy("bucket").collect().map(_.toString).toSeq
    val b = salted.orderBy("bucket").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("toGeoJson renders a parseable FeatureCollection string") {
    val flat = Seq((1L, 1L, "u", "t", 1.0, 4.5, 50.5)).toDF(
      "bucket", "fid", "uuid", "etype", "v", "lon", "lat")
    val s = Flatten.toGeoJson(
      Flatten.nest(flat, "bucket", "fid", Seq("uuid", "etype", "v"), "lon", "lat"))
      .select($"geojson").as[String].head()
    assert(s.contains("\"FeatureCollection\"") && s.contains("\"coordinates\":[4.5,50.5]"))
  }

  // -- Encodings ----------------------------------------------------------

  test("direction encode/decode round-trip on {1,2}") {
    val df = Seq(1, 2).toDF("d")
    val r = df.select($"d",
      Encodings.decodeDirection(Encodings.encodeDirection($"d")).as("rt"))
      .as[(Int, Int)].collect().toMap
    assert(r == Map(1 -> 1, 2 -> 2))
  }

  test("fixed-point encode/decode round-trip within 1e-8") {
    val df = Seq(4.123456789, 4.2, 5.0).toDF("x").withColumn("m", lit(4.0))
    val r = df.select($"x",
      Encodings.fixedPointDecode(Encodings.fixedPointEncode($"x", $"m"), $"m").as("d"))
      .as[(Double, Double)].collect()
    r.foreach { case (x, d) => assert(math.abs(x - d) < 1e-8) }
  }

  test("surrogateKey: separator prevents concat collisions; NULL-safe") {
    val df = Seq(("ab", "c"), ("a", "bc"), (null, "c")).toDF("p", "q")
    val keys = df.select(Encodings.surrogateKey(8, $"p", $"q")).as[String].collect()
    assert(keys.distinct.length == 3)
    assert(keys.forall(_.length == 8))
  }

  // -- Normalize ----------------------------------------------------------

  test("extractDim dedups on the full tuple; factWithKey re-keys") {
    val facts = Seq(("x", 1, 10.0), ("x", 1, 20.0), ("y", 2, 30.0)).toDF("a", "b", "v")
    val dims = Normalize.extractDim(facts, 8, Seq("a", "b"))
    assert(dims.count() == 2)
    val fact = Normalize.factWithKey(facts, 8, Seq("a", "b"))
    assert(fact.columns.toSet == Set("v", "dim_hash"))
    val joined = fact.join(dims, "dim_hash")
    assert(joined.count() == 3)
    assert(joined.filter($"a" === "x").agg(sum($"v")).as[Double].head() == 30.0)
  }

  test("newDims returns only unseen keys") {
    val existing = Seq(("k1", "v1")).toDF("k", "v")
    val incoming = Seq(("k1", "v1"), ("k2", "v2")).toDF("k", "v")
    val nd = Normalize.newDims(incoming, existing, "k").as[(String, String)].collect()
    assert(nd.toSeq == Seq(("k2", "v2")))
  }

  test("reassemble chains broadcast joins without losing fact rows") {
    val fact = Seq((1, 100), (2, 200)).toDF("dk", "v")
    val dim = Seq((1, "a"), (2, "b")).toDF("dk", "name")
    val r = Normalize.reassemble(fact, Seq((dim, "dk")))
    assert(r.count() == 2)
    assert(r.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("nearestRankPercentiles selects the value at row ceil(q*n)") {
    // group a: values 1..10 → p50 = row ceil(5.0) = 5, p90 = row 9,
    // p99 = row ceil(9.9) = 10; group b: duplicate values make the
    // selection tie-independent
    val df = ((1 to 10).map(v => ("a", v.toLong, v.toLong)) ++
      Seq(("b", 7L, 1L), ("b", 7L, 2L), ("b", 9L, 3L))).toDF("g", "v", "id")
    val r = graft.operators.Stats
      .nearestRankPercentiles(df, "g", "v", "id", Seq(50, 90, 99))
      .orderBy("g")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq(
      ("a", 10L, 5L, 9L, 10L),
      // n=3: p50 → row ceil(1.5)=2 → 7; p90/p99 → row 3 → 9
      ("b", 3L, 7L, 9L, 9L)))
    // the window rank and the final agg share ONE hash partitioning on
    // the group key — a second exchange would re-shuffle for nothing
    val plan = graft.operators.Stats
      .nearestRankPercentiles(df, "g", "v", "id", Seq(50, 90, 99))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length == 1, plan)
  }

  test("hashSplit is the md5-nibble band of the id's decimal string") {
    val ids = (0L until 64L).toSeq
    val got = ids.toDF("id")
      .select($"id", graft.operators.Sampling.hashNibble($"id").as("nib"),
        graft.operators.Sampling.hashSplit($"id", 12, 14).as("split"),
        graft.operators.Sampling.hashSample($"id", 1).as("dev"))
      .as[(Long, Int, String, Boolean)].collect().toSeq.sortBy(_._1)
    got.foreach { case (id, nib, split, dev) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val expect = (h(0) & 0xF0) >> 4
      assert(nib == expect, s"id $id")
      assert(split == (if (nib < 12) "train" else if (nib < 14) "val" else "test"))
      assert(dev == (nib == 0))
    }
    // all three bands are populated over 64 sequential ids
    assert(got.map(_._3).toSet == Set("train", "val", "test"))
  }

  test("dictEncode: dense order-preserving codes, band-count invariant, dup/null safe") {
    val vals = Seq("pear", "apple", "pear", "fig", null, "banana", "apple", "kiwi")
    val df = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("s", "i")
    val want = vals.filter(_ != null).distinct.sorted.zipWithIndex
      .map { case (v, i) => (i + 1L, v) }
    Seq(1, 3, 32).foreach { nb =>
      val got = Encodings.dictEncode(df, $"s", nBands = nb)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got == want, s"nBands=$nb got=$got")
    }
    // codes join back losslessly and preserve range predicates
    val dict = Encodings.dictEncode(df, $"s")
    val joined = df.filter($"s".isNotNull)
      .join(dict, df("s") === dict("value"))
    assert(joined.count() == vals.count(_ != null))
    val lo = dict.filter($"value" >= "banana" && $"value" <= "kiwi")
      .agg(min($"code"), max($"code")).as[(Long, Long)].head()
    assert(lo == ((2L, 4L))) // banana, fig, kiwi are codes 2..4
  }

  // -- Approx (sketch aggregates) -----------------------------------------

  test("HLL distinct check: estimates in tolerance, merge invariant holds") {
    // 2 groups × 1000 distinct ids, each id duplicated and spread across
    // both splits so union-merge must dedup across splits to stay exact.
    val df = (0 until 1000).flatMap(i =>
      Seq(("a", i.toLong, 0), ("a", i.toLong, 1), ("b", (i + 5000).toLong, i % 2)))
      .toDF("k", "id", "half")
    val r = graft.operators.Approx.distinctSketchCheck(df, "k", "id", $"half")
      .as[(String, Long, Boolean, Boolean)].collect().sortBy(_._1)
    assert(r.map(x => (x._1, x._2)).toSeq == Seq(("a", 1000L), ("b", 1000L)))
    r.foreach { case (k, _, hllOk, mergeOk) =>
      assert(hllOk, s"group $k HLL estimate outside tolerance")
      assert(mergeOk, s"group $k sketch merge not invariant")
    }
  }

  test("hllRegisterCensus equals MD5 brute replay; shard-split and duplicate invariant") {
    import graft.operators.Approx
    val ids = (0L until 500L).map(i => i * 7919L % 1000L)
    val df = ids.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "shard")
    def census(shard: org.apache.spark.sql.Column) =
      Approx.hllRegisterCensus(df, $"v", shard, b = 8)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got = census(pmod($"shard", lit(7L)))
    // brute: same md5-nibble math in plain Scala
    val want = ids.map { v =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xFF}%02x").mkString
      val reg = java.lang.Long.parseLong(h.substring(0, 2), 16)
      val sub = h.substring(2, 18)
      val rest = sub.dropWhile(_ == '0')
      val rho = if (rest.isEmpty) 65L
        else 4L * (16 - rest.length) + (rest.head match {
          case '1' => 3L case '2' | '3' => 2L
          case '4' | '5' | '6' | '7' => 1L case _ => 0L
        }) + 1L
      (reg, rho)
    }.groupBy(_._1).toSeq.map { case (r, rs) =>
      (r, rs.map(_._2).max, rs.size.toLong)
    }.sortBy(_._1)
    assert(got == want, s"got=${got.take(5)} want=${want.take(5)}")
    // merge law: any shard split (including none) yields the same census
    assert(census(pmod($"shard", lit(2L))) == got)
    assert(census(lit(0)) == got)
    // duplicates move n_rows only, never max_rho (max is idempotent)
    val dup = Approx.hllRegisterCensus(
        df.unionByName(df), $"v", pmod($"shard", lit(3L)), b = 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(dup == got.map { case (r, m, n) => (r, m, 2 * n) })
  }

  test("hllRegisterCensusBy: per-group census equals the global census of each slice") {
    import graft.operators.Approx
    val df = (0L until 200L).map(i => (s"g${i % 3}", i * 53L % 41L, i))
      .toDF("g", "v", "shard")
    val byG = Approx.hllRegisterCensusBy(df, $"g", $"v", pmod($"shard", lit(4L)))
      .as[(String, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).sortBy(_._1).toSeq)
    Seq("g0", "g1", "g2").foreach { g =>
      val solo = Approx.hllRegisterCensus(
          df.filter($"g" === g), $"v", pmod($"shard", lit(4L)))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(byG(g) == solo, s"group $g diverged")
    }
  }

  test("profileTable: per-column-branch null/NDV census matches per-column brute") {
    import graft.operators.Normalize
    val df = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "x", 1.5), (2L, "x", null), (2L, null, 2.5),
      (null, "y", 2.5), (3L, "y", null))
      .toDF("a", "b", "c")
    val got = Normalize.profileTable(df, Seq("a", "b", "c"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", 5L, 1L, 3L), ("b", 5L, 1L, 2L), ("c", 5L, 2L, 2L)), got.toString)
    // hostile names: a quote in the label literal and a backtick in the
    // identifier must neither break the parse nor mislabel a row
    val hostile = df.withColumnRenamed("a", "it's").withColumnRenamed("b", "x`y")
    val got2 = Normalize.profileTable(hostile, Seq("it's", "x`y"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq(("it's", 5L, 1L, 3L), ("x`y", 5L, 1L, 2L)), got2.toString)
  }

  test("kmvSketch equals MD5 brute replay; shard-merge exact; k past distinct count") {
    import graft.operators.Approx
    val vals = (0L until 300L).map(i => i * 131L % 97L) // 97 distinct, dense dups
    val df = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "shard")
    def brute(k: Int) = vals.distinct.map { v =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xFF}%02x").mkString
      (h, v)
    }.sorted.take(k).zipWithIndex.map { case ((h, v), i) => (i + 1L, h, v) }
    def got(k: Int, shard: org.apache.spark.sql.Column) =
      Approx.kmvSketch(df, $"v", shard, k)
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got(16, pmod($"shard", lit(5L))) == brute(16))
    // merge law: any sharding (or none) gives the same bottom-k
    assert(got(16, pmod($"shard", lit(2L))) == brute(16))
    assert(got(16, lit(0)) == brute(16))
    // k beyond the distinct count returns all 97, still exactly ranked
    assert(got(500, pmod($"shard", lit(3L))) == brute(500))
    assert(got(500, lit(0)).size == 97)
  }

  test("kmvSetOps equals brute sketch replay; exact Jaccard when k covers the union") {
    import graft.operators.Approx
    // a = 0..299, b = 200..499 (|∩|=100, |∪|=500, J=0.2), c disjoint
    val rows = ((0L until 300L).map(("a", _)) ++ (200L until 500L).map(("b", _)) ++
      (900L until 950L).map(("c", _)))
    val df = rows.toDF("k", "v")
    def md5hex(v: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(v.toString.getBytes("UTF-8")).map(b => f"${b & 0xFF}%02x").mkString
    def bruteSketch(vs: Seq[Long], k: Int) =
      vs.distinct.map(v => (md5hex(v), v)).sorted.take(k)
    def brutePair(avs: Seq[Long], bvs: Seq[Long], k: Int) = {
      val (sa, sb) = (bruteSketch(avs, k), bruteSketch(bvs, k))
      val merged = (sa ++ sb).distinct.sorted.take(k)
      val common = sa.toSet & sb.toSet
      val nc = merged.count(common)
      (merged.size.toLong, nc.toLong, nc.toLong * 1000000L / merged.size)
    }
    Seq(16, 64, 2000).foreach { k =>
      val got = Approx.kmvSetOps(df, "k", $"v", k)
        .as[(String, String, Long, Long, Long)].collect()
        .map(r => ((r._1, r._2), (r._3, r._4, r._5))).toMap
      assert(got(("a", "b")) == brutePair(rows.filter(_._1 == "a").map(_._2),
        rows.filter(_._1 == "b").map(_._2), k), s"k=$k")
      assert(got(("a", "c"))._2 == 0L && got(("a", "c"))._3 == 0L)
    }
    // k ≥ |union| ⇒ the estimator IS the exact Jaccard (⌊0.2·10⁶⌋)
    val exact = Approx.kmvSetOps(df, "k", $"v", 2000)
      .filter($"key_a" === "a" && $"key_b" === "b")
      .select($"k_eff", $"jaccard_est_ppm").as[(Long, Long)].head()
    assert(exact == ((500L, 200000L)), exact.toString)
  }

  test("quantile sketch check: rank brackets hold, and catch a wrong value") {
    val df = (1 to 1000).map(i => ("g", i.toLong)).toDF("lang", "n_chars")
    val flags = graft.operators.Approx.quantileSketchCheck(
        df, "lang", "n_chars", Seq(50, 90, 99))
      .as[(String, Long, Boolean, Boolean, Boolean)].head()
    assert(flags == (("g", 1000L, true, true, true)))
    // the bracket predicate itself must reject an off-by-rank-tolerance
    // value: v=700 at q=0.5 over 1..1000 (rank 700 vs target 500, tol 1)
    val target = 500L; val tol = 1L
    val lt = 699L; val le = 700L // counts for v=700
    assert(!(lt <= target - 1 + tol && le >= target - tol))
  }

  test("HLL set-op check: exact pair counts, disjoint pair coalesces, bound holds") {
    // a = 0..999, b = 500..1499 (|a∩b| = 500), c = 2000..2099 (disjoint
    // from both); every row duplicated so the pre-distinct must dedup.
    val df = ((0 until 1000).map(i => ("a", i.toLong)) ++
      (500 until 1500).map(i => ("b", i.toLong)) ++
      (2000 until 2100).map(i => ("c", i.toLong)))
      .flatMap(r => Seq(r, r)).toDF("k", "id")
    val r = graft.operators.Approx.setOpSketchCheck(df, "k", "id")
      .as[(String, String, Long, Long, Long, Long, Boolean)]
      .collect().sortBy(x => (x._1, x._2))
    assert(r.map(x => (x._1, x._2, x._3, x._4, x._5, x._6)).toSeq == Seq(
      ("a", "b", 1000L, 1000L, 1500L, 500L),
      ("a", "c", 1000L, 100L, 1100L, 0L),
      ("b", "c", 1000L, 100L, 1100L, 0L)))
    r.foreach { case (ka, kb, _, _, _, _, ok) =>
      assert(ok, s"pair ($ka,$kb) inclusion-exclusion estimate outside bound")
    }
  }

  test("benford audit: exact digit extraction, sub-1 exclusion, zero-count digits kept") {
    // first digits: 1 (from 1.0, 123.45, 1999), 9 (from 9.9), 0.5 excluded
    val df = Seq(1.0, 123.45, 1999.0, 9.9, 0.5).toDF("v")
    val r = graft.operators.Stats.benfordAudit(df, $"v")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(r.map(_._1).toSeq == (1L to 9L), "all 9 digits present")
    assert(r.forall(_._2 == 4L), "n excludes the sub-1 value")
    val byDigit = r.map(x => x._1 -> ((x._3, x._4, x._5))).toMap
    assert(byDigit(1L) == ((750000L, 301029L, 448971L)), byDigit(1L).toString)
    assert(byDigit(9L) == ((250000L, 45757L, 204243L)), byDigit(9L).toString)
    assert(byDigit(2L) == ((0L, 176091L, 176091L)), byDigit(2L).toString)
    // the literal expectation table sums to ~1e6 (floor rounding)
    assert(r.map(_._4).sum == 999995L)
  }

  test("expectations audit counts violations per rule; unique rule counts dups") {
    val df = Seq((1L, -5.0), (2L, 3.0), (2L, 4.0), (3L, -1.0)).toDF("id", "v")
    val r = graft.operators.Expectations.audit(df, Seq(
        "v_non_negative" -> ($"v" < 0), "v_under_10" -> ($"v" >= 10)))
      .unionAll(graft.operators.Expectations.uniqueAudit(df, "id_unique", $"id"))
      .as[(String, Long, Long, Boolean)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(r("v_non_negative") == ((4L, 2L, false)))
    assert(r("v_under_10") == ((4L, 0L, true)))
    assert(r("id_unique") == ((4L, 1L, false)))
  }

  test("CMS heavy hitters: top-k exact counts, frequency bound, exact merge") {
    // item i occurs i times (1..50): top-3 = 50, 49, 48; split parity
    // scatters each item across both split sketches
    val df = (1 to 50).flatMap(i => (1 to i).map(j => (i.toLong, j)))
      .toDF("item", "j")
    val r = graft.operators.Approx.heavyHitterSketchCheck(
        df, "item", splitCol = ($"j" % 2).cast("int"), topN = 3)
      .as[(Long, Long, Boolean, Boolean)].collect().sortBy(-_._2)
    assert(r.map(x => (x._1, x._2)).toSeq == Seq((50L, 50L), (49L, 49L), (48L, 48L)))
    r.foreach { case (item, _, cmsOk, mergeExact) =>
      assert(cmsOk, s"item $item CMS estimate outside [exact, exact + eps*N]")
      assert(mergeExact, s"item $item merged sketch diverged from whole-built")
    }
  }

  test("saltedEquiJoin equals the plain join on a skewed key and spreads the hot key") {
    val fact = (1L to 400L).map(i => (if (i % 10 < 7) 0L else i % 5, i, i * 2.0))
      .toDF("k", "src", "value") // ~70% of rows on hot key 0
    val dim = (0L to 4L).map(i => (i, s"attr$i")).toDF("k", "attr")
    val salted = graft.operators.Normalize.saltedEquiJoin(fact, dim, "k", $"src", salts = 8)
    val plain = fact.join(dim, Seq("k"))
    assert(salted.count() == plain.count())
    assert(salted.select($"k", $"src", $"attr").as[(Long, Long, String)].collect().toSet ==
      plain.select($"k", $"src", $"attr").as[(Long, Long, String)].collect().toSet)
    // the hot key's rows really occupy all 8 (key, salt) reducer keys
    val spread = fact.filter($"k" === 0L)
      .select(org.apache.spark.sql.functions.pmod($"src", org.apache.spark.sql.functions.lit(8)))
      .distinct().count()
    assert(spread == 8L, s"hot key used only $spread of 8 salts")
    // and the plan is a shuffle join, not the broadcast this op avoids
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin:\n$plan")
  }

  test("snapshotDiff classifies I/U/D, drops unchanged, null-safe compare") {
    val vOld = Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L), (3L, None: Option[String], 30L),
      (4L, Some("d"), 40L)).toDF("k", "s", "n")
    val vNew = Seq((1L, Some("a"), 10L), (2L, Some("B"), 20L), (3L, None: Option[String], 30L),
      (5L, Some("e"), 50L)).toDF("k", "s", "n")
    val r = graft.store.MergeStore.snapshotDiff(vOld, vNew, Seq("k"), Seq("s", "n"))
      .as[(Long, String)].collect().toMap
    // 1 unchanged -> absent; 2 updated; 3 unchanged (null == null); 4 deleted; 5 inserted
    assert(r == Map(2L -> "U", 4L -> "D", 5L -> "I"), r.toString)
  }

  test("weightedSystematicSample: banded prefix equals one global window; mass rule holds") {
    import graft.operators.Sampling
    val df = (1L to 400L).map(i => (i, 1L + (i * 7) % 50)).toDF("doc_id", "w")
    val step = 100L
    val got = Sampling.weightedSystematicSample(df, "doc_id", col("w"), step)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // reference: one global window in plain Scala over the same order
    val keyed = df.select(col("doc_id"), col("w"),
        md5(col("doc_id").cast("string").cast("binary")).as("k"))
      .as[(Long, Long, String)].collect().toSeq.sortBy(t => (t._3, t._1))
    var cum = 0L
    val expect = keyed.flatMap { case (id, w, _) =>
      val lo = cum; cum += w
      def mults(x: Long) = (x + step - 1) / step
      if (mults(lo + w) > mults(lo)) Some((id, w, lo)) else None
    }.sortBy(_._1)
    assert(got == expect, s"got=${got.take(5)}... expect=${expect.take(5)}...")
    // every selected interval really contains a multiple of step, and
    // consecutive multiples never skip an interval: picks = ceil(total/step)
    assert(got.forall { case (_, w, lo) => (lo + w - 1) / step >= (lo + step - 1) / step })
    assert(got.size == ((cum + step - 1) / step))
  }

  test("skyline2d equals brute-force dominance, incl. ties and band edges") {
    import graft.operators.Stats
    // deterministic scatter with exact twins and cost ties across the
    // band boundary (bandWidth 10: costs 19/20/21 straddle it)
    val rows = ((1L to 120L).map(i => (i, (i * 37) % 40, (i * 53) % 60)) ++
      Seq((200L, 19L, 55L), (201L, 20L, 55L), (202L, 21L, 56L),
        (203L, 20L, 55L))) // exact twin of 201 — both or neither survive
      .toDF("id", "cost", "gain")
    val got = Stats.skyline2d(rows, "id", col("cost"), col("gain"), bandWidth = 10L)
      .as[(Long, Long, Long)].collect().toSet
    val all = rows.as[(Long, Long, Long)].collect().toSeq
    val brute = all.filter { case (_, c, g) =>
      !all.exists { case (_, c2, g2) => c2 <= c && g2 >= g && (c2 < c || g2 > g) }
    }.toSet
    assert(got == brute, s"got=${got.size} brute=${brute.size}")
    assert(got.map(_._1).intersect(Set(201L, 203L)).size % 2 == 0) // twins together
  }

  test("histogramDrift: exact ppm arithmetic, empty bins materialized, clamping") {
    import graft.operators.Stats
    // ref: group a uniform over bins 0,1; group b all in bin 0
    // cur: group a shifted mass into bin 2 (incl. out-of-range clamp),
    //      group b unchanged — drift must be 0 for b, exact ppm for a
    val ref = Seq(("a", 5.0), ("a", 5.0), ("a", 15.0), ("a", 15.0),
      ("b", 3.0), ("b", 7.0)).toDF("g", "v")
    val cur = Seq(("a", 5.0), ("a", 25.0), ("a", 25.0), ("a", 999.0), // clamps to top bin
      ("b", 4.0), ("b", 6.0)).toDF("g", "v")
    val got = Stats.histogramDrift(ref, cur, "g", "v", lo = 0.0, binWidth = 10.0, bins = 3)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    // all groups × all 3 bins materialized
    assert(got.keySet == Set("a", "b").flatMap(g => (0L to 2L).map(g -> _)))
    // group b: both periods entirely in bin 0 → zero drift everywhere
    assert(got(("b", 0L)) == ((2L, 2L, 0L, 0L)))
    assert(got(("b", 1L)) == ((0L, 0L, 0L, 0L)))
    // group a, bin 0: p = 2/4, q = 1/4 → dev = 250000 ppm,
    // chi2 = (1/4)²/(3/4) = 1/12 → 83333 ppm
    assert(got(("a", 0L)) == ((2L, 1L, 250000L, 83333L)))
    // group a, bin 1: p = 2/4, q = 0 → dev 500000, chi2 = (1/2)²/(1/2) = 1/2
    assert(got(("a", 1L)) == ((2L, 0L, 500000L, 500000L)))
    // group a, bin 2 (incl. the 999.0 clamp): p = 0, q = 3/4
    assert(got(("a", 2L)) == ((0L, 3L, 750000L, 750000L)))
    // Σ dev_ppm = 2·TV; identical frames → all-zero drift
    val same = Stats.histogramDrift(ref, ref, "g", "v", 0.0, 10.0, 3)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(same.forall(r => r._5 == 0L && r._6 == 0L))
  }

  // -- peakConcurrency ----------------------------------------------------

  private val DayUs = 86400000000L

  /** Brute per-day peak model: level at instant t = #intervals with
    * start <= t < end; a day's peak scans its start level plus every
    * in-day event level; at_us = earliest instant achieving it. */
  private def brutePeaks(iv: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val pts = iv.flatMap { case (s, e) => Seq((s, 1L), (e, -1L)) }
    val sorted = pts.sortBy(identity)
    val days = pts.map(_._1 / DayUs).distinct
    days.map { day =>
      val dayStart = day * DayUs
      def levelAfter(p: ((Long, Long)) => Boolean) =
        sorted.filter(p).map(_._2).sum
      val startLevel = levelAfter { case (t, d) =>
        t < dayStart || (t == dayStart && d == -1L) }
      val inDay = sorted.zipWithIndex
        .filter { case ((t, _), _) => t / DayUs == day }
        .map { case ((t, _), i) => (t, sorted.take(i + 1).map(_._2).sum) }
      val peak = (startLevel +: inDay.map(_._2)).max
      val atUs =
        if (startLevel == peak) dayStart
        else inDay.filter(_._2 == peak).map(_._1).min
      day -> (peak, atUs)
    }.toMap
  }

  test("peakConcurrency: day whose max holds from midnight reports the carried level") {
    import graft.operators.Stats
    // one interval [day0 10:00, day1 10:00): day1's only endpoint is the
    // −1 at 10:00 — the peak 1 holds from midnight (ADVICE r6 high)
    val iv = Seq((10L * 3600000000L, DayUs + 10L * 3600000000L, 1L))
      .toDF("s_us", "e_us", "tie")
    val got = Stats.peakConcurrency(iv, col("s_us"), col("e_us"), col("tie"))
      .as[(Long, Long, Long)].collect().map { case (d, p, a) => d -> (p, a) }.toMap
    assert(got(0L) == (1L, 10L * 3600000000L))
    assert(got(1L) == (1L, DayUs)) // carried level, at day start — was 0 before the fix
  }

  test("peakConcurrency equals brute sweep on multi-day scatter (incl. midnight edges)") {
    import graft.operators.Stats
    // deterministic scatter: 150 intervals, durations 1s..2.5 days, some
    // starting/ending exactly at midnight
    val iv = (1L to 150L).map { i =>
      val s = (i * 7919L) % (5 * DayUs)
      val dur = 1000000L + (i * 104729L) % (DayUs * 5 / 2)
      (if (i % 10 == 0) (s / DayUs) * DayUs else s, // every 10th starts at midnight
        if (i % 7 == 0) (s / DayUs + 1) * DayUs else s + dur) // every 7th ends at midnight
    }.map { case (s, e) => (s, math.max(e, s + 1)) }
    val df = iv.zipWithIndex.map { case ((s, e), i) => (s, e, i.toLong) }
      .toDF("s_us", "e_us", "tie")
    val got = Stats.peakConcurrency(df, col("s_us"), col("e_us"), col("tie"))
      .as[(Long, Long, Long)].collect().map { case (d, p, a) => d -> (p, a) }.toMap
    assert(got == brutePeaks(iv), s"diff=${(got.toSet diff brutePeaks(iv).toSet).take(3)}")
  }

  test("peakConcurrency drops null-endpoint rows instead of throwing") {
    import graft.operators.Stats
    val df = Seq(
      (Some(1000000L), Some(2000000L), 1L),
      (None: Option[Long], Some(5000000L), 2L),
      (Some(3000000L), None: Option[Long], 3L))
      .toDF("s_us", "e_us", "tie")
    val got = Stats.peakConcurrency(df, col("s_us"), col("e_us"), col("tie"))
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((0L, 1L, 1000000L)))
  }

  // -- slidingDistinctDaily -----------------------------------------------

  test("slidingDistinctDaily: one active day covers exactly the trailing window") {
    import graft.operators.Stats
    val ev = Seq((1L, 0L), (1L, 1000L)).toDF("k", "ts_us") // 2 events, same day 0
    val got = Stats.slidingDistinctDaily(ev, col("k"), col("ts_us"), windowDays = 7)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 6L).map(_ -> 1L).toMap, got.toString)
  }

  test("slidingDistinctDaily never double-counts a key with overlapping windows") {
    import graft.operators.Stats
    // key 1 active days 0 and 3 (windows overlap on days 3..6): every
    // covered day counts it ONCE; coverage runs 0..9
    val ev = Seq((1L, 0L), (1L, 3L * DayUs)).toDF("k", "ts_us")
    val got = Stats.slidingDistinctDaily(ev, col("k"), col("ts_us"), windowDays = 7)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 9L).map(_ -> 1L).toMap, got.toString)
  }

  test("slidingDistinctDaily equals brute-force distinct-per-window") {
    import graft.operators.Stats
    // deterministic scatter: 40 keys × up to 6 active days over 3 weeks
    val ud = for { k <- 1L to 40L; j <- 0L until (k % 6 + 1) }
      yield (k, ((k * 7919L + j * 104729L) % 21L))
    val ev = ud.map { case (k, d) => (k, d * DayUs + k * 1000L) }.toDF("k", "ts_us")
    val got = Stats.slidingDistinctDaily(ev, col("k"), col("ts_us"), windowDays = 7)
      .as[(Long, Long)].collect().toMap
    val brute = (0L to 27L).map { day =>
      day -> ud.filter { case (_, d) => d >= day - 6 && d <= day }.map(_._1).distinct.size.toLong
    }.filter(_._2 > 0).toMap
    assert(got == brute, s"diff=${(got.toSet diff brute.toSet).take(5)}")
  }

  // -- giniImpurity --------------------------------------------------------

  test("giniImpurity: uniform, pure, and hand-computed skewed mixes") {
    import graft.operators.Stats
    val df = (Seq.fill(2)(("u", "a")) ++ Seq.fill(2)(("u", "b")) ++
      Seq.fill(4)(("p", "a")) ++
      Seq.fill(3)(("s", "a")) ++ Seq.fill(1)(("s", "b")))
      .toDF("k", "c")
    val got = Stats.giniImpurity(df, col("k"), col("c"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("u") == (("u", 4L, 2L, 500000L)), got.toString)   // 50/50
    assert(got("p") == (("p", 4L, 1L, 0L)), got.toString)        // pure
    // 3:1 → 1e6 − floor((9+1)·1e6/16) = 375000
    assert(got("s") == (("s", 4L, 2L, 375000L)), got.toString)
  }

  // -- ksDrift ------------------------------------------------------------

  test("ksDrift: hand-computed sup of shifted, identical, and disjoint samples") {
    import graft.operators.Stats
    val df = (Seq(1L, 2L, 3L).map(("ref", _)) ++ Seq(2L, 3L, 4L).map(("shift", _)) ++
      Seq(1L, 2L, 3L).map(("same", _)) ++ Seq(10L, 11L).map(("disj", _)))
      .toDF("g", "v")
    val got = Stats.ksDrift(df, col("g"), col("v"), "ref")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // shift by 1: sup|F| = 1/3 → floor(3*1e6/9) = 333333
    assert(got("shift") == ((3L, 3L, 333333L)), got.toString)
    assert(got("same") == ((3L, 3L, 0L)), got.toString)
    assert(got("disj") == ((3L, 2L, 1000000L)), got.toString)
  }

  test("ksDrift equals brute-force CDF sup on random groups") {
    import graft.operators.Stats
    val rows = for { g <- Seq("a", "b", "c", "ref"); i <- 1L to 80L }
      yield (g, (i * 7919L + g.hashCode.toLong.abs % 97L * i) % 50L)
    val got = Stats.ksDrift(rows.toDF("g", "v"), col("g"), col("v"), "ref")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    val ref = rows.filter(_._1 == "ref").map(_._2)
    val brute = Seq("a", "b", "c").map { g =>
      val cur = rows.filter(_._1 == g).map(_._2)
      val pts = (ref ++ cur).distinct
      val md = pts.map(x =>
        math.abs(ref.count(_ <= x).toLong * cur.size - cur.count(_ <= x).toLong * ref.size)).max
      g -> md * 1000000L / (ref.size.toLong * cur.size)
    }.toMap
    assert(got == brute, s"got=$got brute=$brute")
  }

  test("ksDrift: missing reference group yields ks 0, not a crash") {
    import graft.operators.Stats
    val df = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    val got = Stats.ksDrift(df, col("g"), col("v"), "nope")
      .as[(String, Long, Long, Long)].collect()
    assert(got.toSeq == Seq(("a", 0L, 2L, 0L)), got.toSeq.toString)
  }

  // -- mergedCoverage -----------------------------------------------------

  /** Brute merge model: sort, sweep, union half-open intervals. */
  private def bruteCoverage(iv: Seq[(Long, Long)]): (Long, Long) = {
    val sorted = iv.sorted
    var islands = 0L; var covered = 0L
    var curS = 0L; var curE = Long.MinValue; var open = false
    for ((s, e) <- sorted) {
      if (!open || s > curE) {
        if (open) covered += curE - curS
        islands += 1; curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) covered += curE - curS
    (islands, covered)
  }

  test("mergedCoverage: hand case with overlap, containment, touch, and gap") {
    import graft.operators.Stats
    // [0,10) ∪ [5,7) (contained) ∪ [10,20) (touching → merges) = [0,20);
    // [25,30) is a second island
    val iv = Seq((1L, 0L, 10L, 1L), (1L, 5L, 7L, 2L), (1L, 10L, 20L, 3L),
      (1L, 25L, 30L, 4L)).toDF("k", "s", "e", "t")
    val got = Stats.mergedCoverage(iv, col("k"), col("s"), col("e"), col("t"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 25L, 4L)), got.toSeq.toString)
  }

  test("mergedCoverage equals brute sweep per key on random scatter") {
    import graft.operators.Stats
    val iv = for { k <- 1L to 10L; i <- 1L to 50L } yield {
      val s = (k * 104729L + i * 7919L) % 10000L
      (k, s, s + 1L + (i * 31L) % 500L, i)
    }
    val got = Stats.mergedCoverage(iv.toDF("k", "s", "e", "t"),
        col("k"), col("s"), col("e"), col("t"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val brute = iv.groupBy(_._1).map { case (k, rows) =>
      val (isl, cov) = bruteCoverage(rows.map(r => (r._2, r._3)).toSeq)
      k -> ((isl, cov, rows.size.toLong))
    }
    assert(got == brute, s"diff=${(got.toSet diff brute.toSet).take(3)}")
  }

  test("mergedCoverage drops null endpoints and keeps other keys intact") {
    import graft.operators.Stats
    val iv = Seq((1L, Some(0L), Some(10L), 1L), (2L, None: Option[Long], Some(5L), 2L))
      .toDF("k", "s", "e", "t")
    val got = Stats.mergedCoverage(iv, col("k"), col("s"), col("e"), col("t"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 1L, 10L, 1L)), got.toSeq.toString)
  }

  test("event-pattern regex: non-overlapping scan, greedy noise class, breaks on anchors") {
    // pins q_event_pattern's matching semantics on crafted sequences —
    // the same counts regexp_extract_all gives in the oracle engine
    val cases = Seq(
      "scp" -> 1L,    // plain funnel
      "sp" -> 1L,     // zero noise
      "scvcvp" -> 1L, // greedy class run
      "scpcp" -> 1L,  // second p has no s — non-overlapping restart
      "spsp" -> 2L,   // two disjoint funnels
      "ssp" -> 1L,    // failed start retries at next s
      "svep" -> 0L,   // 'e' (error) breaks the funnel
      "pvcs" -> 0L)   // right letters, wrong order
    val got = cases.map(_._1).toDF("s")
      .select($"s", regexp_count($"s", lit("s[cv]*p")).cast("long").as("n"))
      .as[(String, Long)].collect().toMap
    cases.foreach { case (s, want) => assert(got(s) == want, s"seq=$s got=${got(s)}") }
  }

  test("exactQuantilesSelect equals full-sort nearest rank, bin-width invariant") {
    import graft.operators.Stats
    val vals = (1L to 997L).map(i => (i * 7919L) % 5000L) ++ Seq(0L, 4999L, 4999L)
    val df = vals.toDF("v")
    val want = Seq(25, 50, 90, 99, 100).map { p =>
      val sorted = vals.sorted
      val rank = (vals.size.toLong * p + 99) / 100
      (p.toLong, vals.size.toLong, sorted((rank - 1).toInt))
    }
    Seq(1L, 16L, 1000L, 100000L).foreach { bw => // 100000 ⇒ single bin
      val got = Stats.exactQuantilesSelect(df, "v", Seq(25, 50, 90, 99, 100), bw)
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == want, s"binWidth=$bw got=$got want=$want")
    }
  }

  test("slidingDistinctDaily windowDays = 1 is plain DAU") {
    import graft.operators.Stats
    val ev = Seq((1L, 0L), (2L, 0L), (1L, DayUs)).toDF("k", "ts_us")
    val got = Stats.slidingDistinctDaily(ev, col("k"), col("ts_us"), windowDays = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 2L, 1L -> 1L), got.toString)
  }

  test("seqPairSupport: strict precedence, same-type repeats, simultaneous ties") {
    import graft.operators.Stats
    val ev = Seq(
      (1L, "a", 1L), (1L, "b", 2L),   // a before b
      (2L, "a", 5L), (2L, "a", 5L),   // same-type TIE: no strict repeat
      (3L, "a", 7L), (3L, "a", 9L),   // strict same-type repeat
      (4L, "a", 3L), (4L, "b", 3L))   // a/b simultaneous: neither precedes
      .toDF("u", "t", "ts")
    val got = Stats.seqPairSupport(ev, col("u"), col("t"), col("ts"))
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // 4 entities total; (a,b) hit only for user 1 (user 4 tied)
    assert(got(("a", "b")) == ((1L, 250000L)), got.toString)
    assert(got(("b", "a")) == ((0L, 0L)), got.toString)
    // (a,a) hit only for user 3 (user 2's tie excluded)
    assert(got(("a", "a")) == ((1L, 250000L)), got.toString)
    // (b,b): users 1 and 4 saw b once each — present with zero support
    assert(got(("b", "b")) == ((0L, 0L)), got.toString)
  }

  test("seqPairSupport equals brute-force ordered-pair existence scan") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(23)
    val types = Vector("a", "b", "c", "d")
    val ev = (1 to 600).map { _ =>
      ((rnd.nextInt(40) + 1).toLong, types(rnd.nextInt(4)), rnd.nextInt(50).toLong)
    }
    val got = Stats.seqPairSupport(ev.toDF("u", "t", "ts"),
        col("u"), col("t"), col("ts"))
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val byUser = ev.groupBy(_._1)
    val nU = byUser.size.toLong
    val brute = (for {
      ta <- types; tb <- types
      if byUser.values.exists(es => es.exists(_._2 == ta) && es.exists(_._2 == tb))
    } yield {
      val hits = byUser.values.count(es =>
        es.exists(e => e._2 == ta && es.exists(f => f._2 == tb && e._3 < f._3))).toLong
      (ta, tb) -> ((hits, hits * 1000000L / nU))
    }).toMap
    assert(got == brute, s"diff=${(got.toSet diff brute.toSet).take(5)}")
  }

  test("abTestT2: hand-computed pooled t², zero-variance NULL, row-split invariance") {
    import graft.operators.Stats
    // variants by id parity: v0 = {2, 4} totals {10, 14}, v1 = {1, 3}
    // totals {1, 3}. Pooled: means 12 vs 2, s_p² = 5, t² = 100/5 = 20.
    val ev = Seq(
      ("m", 2L, 10L), ("m", 4L, 14L), ("m", 1L, 1L), ("m", 3L, 3L),
      // zero pooled variance: every total equal -> NULL not 0
      ("z", 1L, 5L), ("z", 2L, 5L), ("z", 3L, 5L), ("z", 4L, 5L))
      .toDF("g", "e", "x")
    val got = Stats.abTestT2(ev, $"g", $"e", $"x")
      .as[(String, Long, Long, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got("m") == ((2L, 2L, 24L, 4L, 1L, Some(20000000L))), got.toString)
    assert(got("z") == ((2L, 2L, 10L, 10L, 0L, None)), got.toString)
    // per-entity totals aggregate first: splitting a row must not move t²
    val split = Seq(
      ("m", 2L, 4L), ("m", 2L, 6L), ("m", 4L, 14L), ("m", 1L, 1L), ("m", 3L, 3L))
      .toDF("g", "e", "x")
    val got2 = Stats.abTestT2(split, $"g", $"e", $"x")
      .as[(String, Long, Long, Long, Long, Long, Option[Long])].collect().head
    assert(got2 == (("m", 2L, 2L, 24L, 4L, 1L, Some(20000000L))), got2.toString)
  }

  test("abTestT2 equals BigInt brute replay (negative values included)") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(59)
    val ev = (1 to 300).map { _ =>
      ("g", (rnd.nextInt(30) + 1).toLong, (rnd.nextInt(200) - 100).toLong)
    }
    val got = Stats.abTestT2(ev.toDF("g", "e", "x"), $"g", $"e", $"x")
      .as[(String, Long, Long, Long, Long, Long, Option[Long])].collect().head
    val totals = ev.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val (v0, v1) = totals.partition(_._1 % 2 == 0)
    val (n0, n1) = (BigInt(v0.size), BigInt(v1.size))
    val (s0, s1) = (BigInt(v0.values.sum), BigInt(v1.values.sum))
    val q0 = v0.values.map(x => BigInt(x) * x).sum
    val q1 = v1.values.map(x => BigInt(x) * x).sum
    val num = s0 * n1 - s1 * n0
    val ss = n1 * (n0 * q0 - s0 * s0) + n0 * (n1 * q1 - s1 * s1)
    val t2 = if (n0 + n1 > 2 && ss > 0)
      Some(((num * num * (n0 + n1 - 2) * 1000000) / (ss * (n0 + n1))).toLong)
    else None
    assert(got == (("g", n0.toLong, n1.toLong, s0.toLong, s1.toLong,
      num.signum.toLong, t2)), s"got=$got")
  }

  test("fkAudit: orphans, null FKs, and unreferenced parents counted separately") {
    import graft.operators.Expectations
    val child = Seq(Some(1L), Some(1L), None, Some(9L)).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val got = Expectations.fkAudit("c->p", child, $"fk", parent, $"pk")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().head
    // 4 child rows, 1 null FK (not an orphan), 1 orphan (9),
    // ppm = 1e6/4, 3 parents, 2 unreferenced (2 and 3)
    assert(got == (("c->p", 4L, 1L, 1L, 250000L, 3L, 2L)), got.toString)
  }

  test("isotonicCalibration: hand-pooled violators, already-monotone passthrough") {
    import graft.operators.Stats
    // bins 0..2 with rates 500000, 250000, 750000 and weights 2,2,2:
    // bins 0 and 1 violate -> pool to (1+0+... ) pos=(1,0)? build:
    // bin0: 2 rows 1 pos; bin1: 2 rows 0 pos; bin2: 2 rows 2 pos
    // PAVA pools bins 0-1: mean 1/4 -> fit 250000, 250000, 1000000
    val rows = Seq(
      (0L, 1L), (0L, 0L), (1L, 0L), (1L, 0L), (2L, 1L), (2L, 1L))
      .toDF("b", "p")
    val got = Stats.isotonicCalibration(rows, $"b", $"p")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 2L, 1L, 500000L, 250000L),
      (1L, 2L, 0L, 0L, 250000L),
      (2L, 2L, 2L, 1000000L, 1000000L)), got.toString)
    // already-monotone input is untouched
    val mono = Seq((0L, 0L), (0L, 0L), (1L, 1L), (1L, 0L), (2L, 1L))
      .toDF("b", "p")
    val got2 = Stats.isotonicCalibration(mono, $"b", $"p")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    got2.foreach(r => assert(r._4 == r._5, got2.toString))
  }

  test("isotonicCalibration equals brute PAVA (floored), fit always non-decreasing") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(71)
    val rows = (1 to 800).map { _ =>
      val b = rnd.nextInt(12).toLong
      // rate loosely rises with b but with noise -> real violators
      (b, if (rnd.nextInt(14) < b + 2) 1L else 0L)
    }
    val got = Stats.isotonicCalibration(rows.toDF("b", "p"), $"b", $"p")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // brute PAVA over (n, pos) blocks; emit floor-ppm of pooled means
    val bins = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, rs) =>
      (b, rs.size.toLong, rs.map(_._2).sum)
    }
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    bins.foreach { blk =>
      var cur = blk
      while (stack.nonEmpty && {
        val top = stack.last
        // top.rate >= cur.rate  <=>  top.pos * cur.n >= cur.pos * top.n
        BigInt(top._3) * cur._2 >= BigInt(cur._3) * top._2
      }) { val top = stack.remove(stack.size - 1)
           cur = (top._1, top._2 + cur._2, top._3 + cur._3) }
      stack += cur
    }
    val pavaFit = scala.collection.mutable.Map.empty[Long, Long]
    var idx = 0
    stack.foreach { case (_, n, pos) =>
      val ppm = (BigInt(pos) * 1000000 / n).toLong
      // the block covers the next consecutive original bins totaling n rows
      var left = n
      while (left > 0) { pavaFit(bins(idx)._1) = ppm; left -= bins(idx)._2; idx += 1 }
    }
    got.foreach { case (b, _, _, _, iso) =>
      assert(iso == pavaFit(b), s"bin $b: got $iso want ${pavaFit(b)}")
    }
    got.sliding(2).foreach { case Seq(a, c) =>
      assert(a._5 <= c._5, s"fit not monotone: $got") }
  }

  test("groupedExactQuantiles equals the per-group rank window on every group") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(53)
    val rows = (1 to 900).map { i =>
      (Seq("a", "b", "c")(rnd.nextInt(3)), rnd.nextInt(5000).toLong, i.toLong)
    }.toDF("g", "v", "id")
    val got = Stats.groupedExactQuantiles(rows, $"g", "v", Seq(50, 90, 99),
        binWidth = 64L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // the window form is the spec'd reference implementation
    val ref = Stats.nearestRankPercentiles(rows, "g", "v", "id", Seq(50, 90, 99))
      .as[(String, Long, Long, Long, Long)].collect()
    ref.foreach { case (g, n, p50, p90, p99) =>
      assert(got((g, 50L)) == ((n, p50)), s"$g p50")
      assert(got((g, 90L)) == ((n, p90)), s"$g p90")
      assert(got((g, 99L)) == ((n, p99)), s"$g p99")
    }
    // single-bin degenerate (binWidth covers the whole domain)
    val got2 = Stats.groupedExactQuantiles(rows, $"g", "v", Seq(50),
        binWidth = 1000000L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    ref.foreach { case (g, _, p50, _, _) =>
      assert(got2((g, 50L)) == p50, s"$g single-bin p50") }
  }

  test("mannWhitneyU: hand-ranked case, all-tied NULL, pair-count identity") {
    import graft.operators.Stats
    // v0 = {e2:10, e4:20}, v1 = {e1:5, e3:15}; no ties:
    // U2 = 2*#(x0 > x1) = 6, num = 2, den = 4*60, z2 = 144e6/240
    val ev = Seq(("m", 2L, 10L), ("m", 4L, 20L), ("m", 1L, 5L), ("m", 3L, 15L),
      ("z", 1L, 7L), ("z", 2L, 7L), ("z", 3L, 7L), ("z", 4L, 7L))
      .toDF("g", "e", "x")
    val got = Stats.mannWhitneyU(ev, $"g", $"e", $"x")
      .as[(String, Long, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got("m") == ((2L, 2L, 6L, 1L, Some(600000L))), got.toString)
    // all values tied: corrected variance collapses to zero -> NULL
    assert(got("z") == ((2L, 2L, 4L, 0L, None)), got.toString)
  }

  test("mannWhitneyU equals brute pair-count U and BigInt z² replay") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(43)
    val ev = (1 to 400).map { _ =>
      ("g", (rnd.nextInt(40) + 1).toLong, rnd.nextInt(15).toLong)
    }
    val got = Stats.mannWhitneyU(ev.toDF("g", "e", "x"), $"g", $"e", $"x")
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    val totals = ev.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val (v0, v1) = totals.partition(_._1 % 2 == 0)
    // U2 = 2*#(x0 > x1) + #(x0 = x1)  — the pair-count identity the
    // rank formula must reproduce
    val u2 = (for (a <- v0.values; b <- v1.values) yield
      if (a > b) 2L else if (a == b) 1L else 0L).sum
    val (n0, n1) = (BigInt(v0.size), BigInt(v1.size))
    val nn = n0 + n1
    val tsum = totals.values.groupBy(identity).values
      .map(g => { val t = BigInt(g.size); t * t * t - t }).sum
    val num = BigInt(u2) - n0 * n1
    val den = n0 * n1 * (nn * (nn - 1) * (nn + 1) - tsum)
    val z2 = if (den > 0)
      Some(((3 * num * num * nn * (nn - 1) * 1000000) / den).toLong) else None
    assert(got == (("g", n0.toLong, n1.toLong, u2, num.signum.toLong, z2)),
      s"got=$got want u2=$u2 z2=$z2")
  }

  test("fkAudit: clean relationship reports all-zero defects") {
    import graft.operators.Expectations
    val child = Seq(1L, 2L, 2L).toDF("fk")
    val parent = Seq(1L, 2L).toDF("pk")
    val got = Expectations.fkAudit("ok", child, $"fk", parent, $"pk")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == (("ok", 3L, 0L, 0L, 0L, 2L, 0L)), got.toString)
  }

  // -- Spearman -----------------------------------------------------------

  test("spearmanRho: perfect monotone ±1e6, constant-metric NULL") {
    import graft.operators.Stats
    val rows =
      (1 to 5).map(i => ("p", i.toLong, i.toLong * 7)) ++     // perfect +
        (1 to 5).map(i => ("n", i.toLong, 10L - i)) ++        // perfect −
        (1 to 5).map(i => ("z", i.toLong, 4L))                // y constant
    val got = Stats.spearmanRho(rows.toDF("g", "x", "y"), $"g", $"x", $"y")
      .as[(String, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("p") == ((5L, 1L, Some(1000000L))), got.toString)
    assert(got("n") == ((5L, -1L, Some(1000000L))), got.toString)
    assert(got("z") == ((5L, 0L, None)), got.toString)
  }

  test("spearmanRho equals the BigInt doubled-rank replay under ties") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(61)
    val rows = (1 to 300).map(_ => ("g", rnd.nextInt(12).toLong, rnd.nextInt(9).toLong))
    val got = Stats.spearmanRho(rows.toDF("g", "x", "y"), $"g", $"x", $"y")
      .as[(String, Long, Long, Option[Long])].collect().head
    def r2(vs: Seq[Long]): Map[Long, BigInt] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val rank = sorted.indexOf(v) + 1
        val eq = sorted.count(_ == v)
        v -> BigInt(2 * rank + eq - 1)
      }.toMap
    }
    val (rx, ry) = (r2(rows.map(_._2)), r2(rows.map(_._3)))
    val n = BigInt(rows.size)
    val pairs = rows.map(t => (rx(t._2), ry(t._3)))
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val sxy = pairs.map(p => p._1 * p._2).sum
    val num = n * sxy - sx * sy
    val dx = n * sxx - sx * sx
    val dy = n * syy - sy * sy
    val rho2 = ((num * num / dx) * 1000000) / dy // the engine's two floored divisions
    assert(got == (("g", rows.size.toLong, num.signum.toLong, Some(rho2.toLong))),
      s"got=$got want rho2=$rho2")
  }

  // -- Poisson bootstrap ---------------------------------------------------

  test("bootstrapCiMean equals the md5 Poisson-weight replay, lo<=hi") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(71)
    val rows = (1 to 200).map(i => ("g", i.toLong, (rnd.nextInt(1000) + 1).toLong))
    val b = 16
    val got = Stats.bootstrapCiMean(rows.toDF("g", "e", "x"), $"g", $"e", $"x", b)
      .as[(String, Long, Long, Long, Long, Long)].collect().head
    // local replay: identical md5 draw, ladder, floor means, rank selection
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(e: Long, rep: Int): Long = {
      val hex = md.digest(s"$e|$rep".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val ladder = Stats.PoissonPpm
    def w(uu: Long): Long = ladder.indexWhere(uu < _) match {
      case -1 => ladder.size.toLong; case k => k.toLong
    }
    val means = (0 until b).flatMap { rep =>
      val ws = rows.map(t => (w(u(t._2, rep)), t._3))
      val wn = ws.map(_._1).sum
      if (wn == 0) None else Some(ws.map(t => t._1 * t._2).sum / wn)
    }.sorted
    val beff = means.size
    val lo = means((beff * 5 + 99) / 100 - 1)
    val hi = means((beff * 95 + 99) / 100 - 1)
    val mean = rows.map(_._3).sum / rows.size
    assert(got == (("g", 200L, mean, beff.toLong, lo, hi)), s"got=$got want ($mean,$beff,$lo,$hi)")
    assert(got._5 <= got._6)
  }

  // -- Kaplan-Meier --------------------------------------------------------

  test("kaplanMeier: hand-computed curve, censoring discounts risk only") {
    import graft.operators.Stats
    val per = Seq(("m", 1L, 1L), ("m", 2L, 0L), ("m", 3L, 1L), ("m", 3L, 0L),
      ("m", 5L, 0L)).toDF("g", "t", "d")
    val got = Stats.kaplanMeier(per, $"g", $"t", $"d")
      .orderBy("t")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // t=1: risk 5, 1 death -> floor(1e6*4/5) = 800000
    // t=2: censor only -> no curve row, but it left the risk set
    // t=3: risk 3, 1 death -> floor(800000*2/3) = 533333
    assert(got == Seq(("m", 1L, 5L, 1L, 800000L), ("m", 3L, 3L, 1L, 533333L)),
      got.toString)
  }

  test("logRank: hand-traced hypergeometric terms and z2 floor") {
    import graft.operators.Stats
    // (t, d, v): deaths at t=1 in both arms, censor at 2 (arm 0),
    // death at 3 (arm 1), censor at 4 (arm 1)
    val per = Seq(("m", 1L, 1L, 0L), ("m", 1L, 1L, 1L), ("m", 2L, 0L, 0L),
      ("m", 3L, 1L, 1L), ("m", 4L, 0L, 1L)).toDF("g", "t", "d", "v")
    val got = Stats.logRank(per)
      .as[(String, Long, Long, Long, Option[Long])].collect().toSeq
    // t=1: nr=5, nr1=3, dd=2 -> e1 = floor(1e6*2*3/5) = 1,200,000,
    //      var = floor(1e6*2*3*2*3/(25*4)) = 360,000
    // t=3: nr=2, nr1=2, dd=1 -> e1 = 1,000,000, var = 0 (nr1 = nr)
    // O1 = 2; z2 = (2e6 - 2.2e6)^2 DIV 360000 = 4e10/3.6e5 = 111,111
    assert(got == Seq(("m", 2L, 2200000L, 360000L, Some(111111L))),
      got.toString)
  }

  test("logRank: null z2 when one arm is empty; balanced identical arms score 0") {
    import graft.operators.Stats
    // every subject in arm 0 -> nr1 = 0 at every time -> Var = 0 -> NULL
    val oneArm = Seq(("g", 1L, 1L, 0L), ("g", 2L, 1L, 0L)).toDF("g", "t", "d", "v")
    val r1 = Stats.logRank(oneArm)
      .as[(String, Long, Long, Long, Option[Long])].collect().head
    assert(r1._2 == 0L && r1._4 == 0L && r1._5.isEmpty, r1.toString)
    // perfectly mirrored arms: O1 equals E1 exactly at every time
    val mirrored = Seq(("g", 1L, 1L, 0L), ("g", 1L, 1L, 1L),
      ("g", 2L, 1L, 0L), ("g", 2L, 1L, 1L)).toDF("g", "t", "d", "v")
    val r2 = Stats.logRank(mirrored)
      .as[(String, Long, Long, Long, Option[Long])].collect().head
    assert(r2._2 * 1000000L == r2._3 && r2._5.contains(0L), r2.toString)
  }

  test("logRank equals a brute per-time replay on random data") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(19)
    val per = (1 to 300).map(_ =>
      ("g", rnd.nextInt(15).toLong, rnd.nextInt(2).toLong, rnd.nextInt(2).toLong))
    val got = Stats.logRank(per.toDF("g", "t", "d", "v"))
      .as[(String, Long, Long, Long, Option[Long])].collect().head
    val byT = per.groupBy(_._2).toSeq.sortBy(_._1)
    var (o1, e1, vv) = (0L, 0L, 0L)
    byT.indices.foreach { i =>
      val (t, rows) = byT(i)
      val dd = rows.map(_._3).sum
      val dd1 = rows.filter(_._4 == 1L).map(_._3).sum
      val atRisk = byT.drop(i).flatMap(_._2)
      val nr = atRisk.size.toLong
      val nr1 = atRisk.count(_._4 == 1L).toLong
      if (dd > 0) {
        o1 += dd1
        e1 += 1000000L * dd * nr1 / nr
        if (nr > 1)
          vv += (BigInt(1000000L) * dd * nr1 * (nr - nr1) * (nr - dd) /
            (BigInt(nr) * nr * (nr - 1))).toLong
      }
    }
    val z2 = if (vv > 0) {
      val dppm = BigInt(1000000L) * o1 - e1
      Some((dppm * dppm / vv).toLong)
    } else None
    assert(got == (("g", o1, e1, vv, z2)), s"got=$got want=${(o1, e1, vv, z2)}")
  }

  test("kaplanMeier equals the sequential ppm-fold replay on random data") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(83)
    val per = (1 to 400).map(_ =>
      ("g", rnd.nextInt(20).toLong, rnd.nextInt(2).toLong))
    val got = Stats.kaplanMeier(per.toDF("g", "t", "d"), $"g", $"t", $"d")
      .orderBy("t").as[(String, Long, Long, Long, Long)].collect().toSeq
    val census = per.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (t, rs) => (t, rs.map(_._3).sum, rs.size.toLong) }
    var s = 1000000L
    val want = census.indices.flatMap { i =>
      val (t, dd, _) = census(i)
      val nr = census.drop(i).map(_._3).sum
      if (dd > 0) { s = s * (nr - dd) / nr; Some(("g", t, nr, dd, s)) } else None
    }
    assert(got == want, s"got=$got want=$want")
    got.map(_._5).sliding(2).foreach {
      case Seq(a, c) => assert(a >= c, "survival must be non-increasing")
      case _ =>
    }
  }

  // -- selection guards (ADVICE r8) ---------------------------------------

  test("exact selection: empty input -> empty frame; duplicate percents dedupe") {
    import graft.operators.Stats
    val empty = Seq.empty[(String, Long)].toDF("g", "v")
    assert(Stats.exactQuantilesSelect(empty, "v", Seq(50, 90)).collect().isEmpty)
    assert(Stats.groupedExactQuantiles(empty, $"g", "v", Seq(50), 16L).collect().isEmpty)
    val rows = (1 to 100).map(i => ("a", i.toLong)).toDF("g", "v")
    assert(Stats.exactQuantilesSelect(rows, "v", Seq(50, 50, 50)).count() == 1)
    assert(Stats.groupedExactQuantiles(rows, $"g", "v", Seq(90, 90), 8L).count() == 1)
  }

  test("groupedExactQuantiles fails fast on a too-many-groups histogram") {
    import graft.operators.Stats
    // high-cardinality group column: every row its own group
    val rows = (1 to 500).map(i => (s"g$i", i.toLong)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      Stats.groupedExactQuantiles(rows, $"g", "v", Seq(50), 16L,
        maxHistRows = 100)
    }
    assert(e.getMessage.contains("maxHistRows"), e.getMessage)
  }

  test("anovaF on 2 balanced groups equals abTestT2 exactly (F(1,·) = t²)") {
    import graft.operators.Stats
    // For k = 2 balanced groups the two cleared fractions are the SAME
    // rational (A = (T0−T1)², ss = n·B), so the floors agree bit-exactly.
    val rnd = new scala.util.Random(83)
    val ev = (1 to 200).map { i =>
      (if (i % 2 == 0) "a" else "b", (i % 40).toLong, (rnd.nextInt(200) - 100).toLong)
    }.toDF("g", "e", "x")
    // balanced grid: every (g, e) cell present
    val grid = (for (g <- Seq("a", "b"); e <- 0L until 40L) yield (g, e)).toDF("g", "e")
    val full = grid.join(ev.groupBy($"g", $"e").agg(sum($"x").as("x")),
      Seq("g", "e"), "left").na.fill(0L, Seq("x"))
    // arm by group: relabel entities so parity encodes the group
    val armed = full.select($"g", ($"e" * 2 + when($"g" === "a", 0).otherwise(1)).as("e2"), $"x")
    val f = Stats.anovaF(full, $"g", $"e", $"x")
      .select($"k", $"n", $"f_ppm").as[(Long, Long, Option[Long])].collect().head
    val t2 = Stats.abTestT2(armed.withColumn("one", lit("all")),
        $"one", $"e2", $"x")
      .select($"t2_ppm").as[Option[Long]].collect().head
    assert(f._1 == 2L && f._2 == 40L, f.toString)
    assert(f._3 == t2, s"f=$f t2=$t2")
  }

  test("anovaF: unbalanced design and zero within-variance report NULL") {
    import graft.operators.Stats
    val unbal = Seq(("a", 1L, 5L), ("a", 2L, 7L), ("b", 1L, 3L)).toDF("g", "e", "x")
    val f1 = Stats.anovaF(unbal, $"g", $"e", $"x")
      .select($"f_ppm").as[Option[Long]].collect().head
    assert(f1.isEmpty, f1.toString)
    // zero within: every entity equals its group mean exactly
    val zw = Seq(("a", 1L, 5L), ("a", 2L, 5L), ("b", 1L, 9L), ("b", 2L, 9L))
      .toDF("g", "e", "x")
    val f2 = Stats.anovaF(zw, $"g", $"e", $"x")
      .select($"f_ppm").as[Option[Long]].collect().head
    assert(f2.isEmpty, f2.toString)
  }

  test("cupedDelta: perfect covariate zeroes the delta, zero-variance x = raw") {
    import graft.operators.Stats
    // y = 2x exactly → θ_ppm = 2e6 and the adjusted delta collapses to 0
    // (1e6·dy − θ_ppm·dx = 1e6·2dx − 2e6·dx) whatever the arm imbalance.
    val rnd = new scala.util.Random(17)
    val perfect = (1 to 50).map { i =>
      val x = (rnd.nextInt(100) + 1).toLong
      ("g", i.toLong, x, 2 * x)
    }.toDF("g", "e", "x", "y")
    val got = Stats.cupedDelta(perfect, $"g", $"e", $"x", $"y")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().head
    assert(got._4 == Some(2000000L), got.toString)
    assert(got._6 == Some(0L), got.toString)
    // constant x (no pre-period signal): θ NULL and cuped == raw
    val flat = (1 to 40).map(i => ("g", i.toLong, 7L, (rnd.nextInt(50)).toLong))
      .toDF("g", "e", "x", "y")
    val g2 = Stats.cupedDelta(flat, $"g", $"e", $"x", $"y")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().head
    assert(g2._4.isEmpty && g2._5 == g2._6, g2.toString)
  }

  test("cupedDelta equals the BigInt replay on random data") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(29)
    val rows = (1 to 120).map(i =>
      ("g", i.toLong, (rnd.nextInt(200) - 100).toLong, (rnd.nextInt(200) - 100).toLong))
    val got = Stats.cupedDelta(rows.toDF("g", "e", "x", "y"), $"g", $"e", $"x", $"y")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().head
    val n = BigInt(rows.size)
    val (sx, sy) = (BigInt(rows.map(_._3).sum), BigInt(rows.map(_._4).sum))
    val sxx = rows.map(r => BigInt(r._3) * r._3).sum
    val sxy = rows.map(r => BigInt(r._3) * r._4).sum
    val t = rows.filter(_._2 % 2 == 0)
    val c = rows.filter(_._2 % 2 != 0)
    val (n0, n1) = (BigInt(t.size), BigInt(c.size))
    val (sx0, sx1) = (BigInt(t.map(_._3).sum), BigInt(c.map(_._3).sum))
    val (sy0, sy1) = (BigInt(t.map(_._4).sum), BigInt(c.map(_._4).sum))
    val cd = n * sxx - sx * sx
    val cn = n * sxy - sx * sy
    // both engines' integer division TRUNCATES toward zero (Spark DIV,
    // DuckDB //) — BigInt / replays that exactly
    def fdiv(a: BigInt, b: BigInt): Long = (a / b).toLong
    val theta = if (cd > 0) Some(fdiv(cn * 1000000, cd)) else None
    val dy = sy0 * n1 - sy1 * n0
    val dx = sx0 * n1 - sx1 * n0
    val raw = fdiv(dy * 1000000, n0 * n1)
    val adj = fdiv(dy * 1000000 - BigInt(theta.getOrElse(0L)) * dx, n0 * n1)
    assert(got == (("g", n0.toLong, n1.toLong, theta, Some(raw), Some(adj))),
      s"got=$got want=${(theta, raw, adj)}")
  }

  test("chi2Contingency: independent table contributes 0, hand 2x2 checks out") {
    import graft.operators.Stats
    // perfectly independent 2x2: margins (30, 60) x (30, 60), N = 90,
    // every O equals R*C/N exactly -> contrib 0, e_ppm = O * 1e6
    val ind = (Seq.fill(10)(("a", 1L)) ++ Seq.fill(20)(("a", 2L)) ++
      Seq.fill(20)(("b", 1L)) ++ Seq.fill(40)(("b", 2L))).toDF("r", "c")
    val g1 = Stats.chi2Contingency(ind, $"r", $"c")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4, x._5))).toMap
    assert(g1(("a", 1L)) == ((10L, 10000000L, 0L)), g1.toString)
    assert(g1(("b", 2L)) == ((40L, 40000000L, 0L)), g1.toString)
    // dependent diagonal 2x2, O=(5,0 / 0,5): the FULL grid ships — the
    // zero cells carry contrib R*C/N too (dropping them would understate
    // χ²: here every cell contributes 2.5, χ² = N = 10 exactly)
    val dep = (Seq.fill(5)(("x", 1L)) ++ Seq.fill(5)(("y", 2L))).toDF("r", "c")
    val g2 = Stats.chi2Contingency(dep, $"r", $"c")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(g2.length == 4 && g2.forall(x => x._4 == 2500000L && x._5 == 2500000L),
      g2.mkString(","))
    assert(g2.map(_._5).sum == 10000000L, g2.mkString(",")) // 1e6·χ², χ² = N
    assert(g2.filter(x => (x._1, x._2) == (("x", 2L))).head._3 == 0L)
  }

  test("abProportionsZ2: hand-computed pooled z², degenerate groups NULL") {
    import graft.operators.Stats
    // arm0 = even entities {2,4,6,8} all converted; arm1 = odd {1,3,5,7}
    // one converted: p0=1, p1=0.25, pooled p=5/8.
    // z² = (x0·n1−x1·n0)²(n0+n1)/(n0·n1·(x0+x1)(N−x0−x1)) = 144·8/(16·5·3)=4.8
    val ev = (Seq(2L, 4L, 6L, 8L, 1L).map(e => ("g", e, 1L)) ++
      Seq(3L, 5L, 7L).map(e => ("g", e, 0L))).toDF("g", "e", "c")
    val got = Stats.abProportionsZ2(ev, $"g", $"e", $"c")
      .as[(String, Long, Long, Long, Long, Long, Option[Long])].collect().head
    assert(got == (("g", 4L, 4L, 4L, 1L, 1L, Some(4800000L))), got.toString)
    // everyone converted -> zero pooled variance -> NULL
    val all1 = (1L to 6L).map(e => ("z", e, 1L)).toDF("g", "e", "c")
    val g2 = Stats.abProportionsZ2(all1, $"g", $"e", $"c")
      .as[(String, Long, Long, Long, Long, Long, Option[Long])].collect().head
    assert(g2._7.isEmpty, g2.toString)
  }

  test("giniConcentration: all-equal 0, one-holds-all (n-1)/n, brute rank replay") {
    import graft.operators.Stats
    val eq = (1 to 6).map(i => ("a", i.toLong, 10L)) // all equal -> 0
    val oneAll = Seq(("b", 1L, 100L)) ++ (2 to 5).map(i => ("b", i.toLong, 0L))
    val got = Stats.giniConcentration((eq ++ oneAll).toDF("g", "e", "x"), $"g", $"x")
      .as[(String, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == ((6L, 60L, Some(0L))), got.toString)
    assert(got("b") == ((5L, 100L, Some(800000L))), got.toString) // (n-1)/n
    // brute: sorted ranks Σ(2r−n−1)x / (n·Σx) — histogram form must agree
    val rnd = new scala.util.Random(67)
    val rows = (1 to 200).map(i => ("r", i.toLong, rnd.nextInt(50).toLong))
    val g2 = Stats.giniConcentration(rows.toDF("g", "e", "x"), $"g", $"x")
      .as[(String, Long, Long, Option[Long])].collect().head
    val xs = rows.map(_._3).sorted
    val n = xs.size
    val s = xs.zipWithIndex.map { case (x, i) =>
      BigInt(2 * (i + 1) - n - 1) * x }.sum
    val want = (s * 1000000 / (BigInt(n) * xs.sum)).toLong
    assert(g2 == (("r", n.toLong, xs.sum, Some(want))), s"got=$g2 want=$want")
  }

  test("dpGeometricCounts: ladder thresholds, bounded deterministic noise") {
    import graft.operators.Stats
    // the compile-time CDF: F(-1) = 1/3, F(0) = 2/3 in floored ppm
    val cdf = Stats.GeoHalfCdfPpm.toMap
    assert(cdf(-1) == 333333L && cdf(0) == 666666L, cdf.toString)
    assert(Stats.GeoHalfCdfPpm.map(_._2) == Stats.GeoHalfCdfPpm.map(_._2).sorted)
    val e = (1 to 50).flatMap(i => Seq(("a", i.toLong % 5), ("b", i.toLong % 3)))
      .toDF("k1", "k2")
    val got = Stats.dpGeometricCounts(e, Seq($"k1", $"k2"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.forall(r => r._4 >= -19 && r._4 <= 19), got.mkString(","))
    assert(got.forall(r => r._5 == math.max(r._3 + r._4, 0L)), got.mkString(","))
    val again = Stats.dpGeometricCounts(e, Seq($"k1", $"k2"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.sortBy(r => (r._1, r._2)).toSeq == again.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("runsTest: alternation and single-block both reject, mixed passes") {
    import graft.operators.Stats
    def seq(g: String, e: Long, bits: Seq[Int]) =
      bits.zipWithIndex.map { case (b, i) => (g, e, i.toLong, i.toLong, b.toLong) }
    val rows = (
      seq("alt", 1L, Seq(0, 1, 0, 1, 0, 1, 0, 1, 0, 1)) ++   // R=10: z²=7.2e6
      seq("blk", 1L, Seq(0, 0, 0, 0, 0, 1, 1, 1, 1, 1)) ++   // R=2:  z²=7.2e6
      seq("mix", 1L, Seq(0, 1, 1, 0, 1, 0, 0, 1, 0, 1)) ++   // R=8:  z²=1.8e6
      seq("one", 1L, Seq(1, 1, 1, 1))                        // n0=0: untestable
    ).toDF("g", "e", "t", "i", "b")
    val got = Stats.runsTest(rows, $"g", $"e", $"t", $"i", $"b")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("alt") == ((1L, 1L, 1L)), got.toString)
    assert(got("blk") == ((1L, 1L, 1L)), got.toString)
    assert(got("mix") == ((1L, 1L, 0L)), got.toString)
    assert(got("one") == ((1L, 0L, 0L)), got.toString)
  }

  test("runsTest: 1200-event two-run sequence (BIGINT z² would wrap) matches BigInt replay") {
    import graft.operators.Stats
    // 600 zeros then 600 ones: the z² numerator ((R−1)N − 2n0n1)²(N−1)·10⁶
    // ≈ 6.2e20 exceeds int64 — the advice-r9 case the DECIMAL widening fixes
    val bits = Seq.fill(600)(0) ++ Seq.fill(600)(1)
    val rows = bits.zipWithIndex
      .map { case (b, i) => ("g", 1L, i.toLong, i.toLong, b.toLong) }
      .toDF("g", "e", "t", "i", "b")
    val got = Stats.runsTest(rows, $"g", $"e", $"t", $"i", $"b")
      .as[(String, Long, Long, Long)].collect().head
    val (r, n0, n1) = (BigInt(2), BigInt(600), BigInt(600))
    val nn = n0 + n1
    val num = (r - 1) * nn - 2 * n0 * n1
    val inter = num * num * (nn - 1) * 1000000 // the term BIGINT wrapped
    val z2 = inter / (2 * n0 * n1 * (2 * n0 * n1 - nn))
    assert(inter > BigInt(Long.MaxValue),
      s"fixture too small to prove widening: intermediate=$inter")
    assert(got == (("g", 1L, 1L, 1L)), s"$got (want nonrandom flagged, z²=$z2)")
  }

  test("Banding.bandExpr: full long-span domain (BIGINT span wraps) stays exact") {
    import graft.functions.Banding
    val vals = Seq(Long.MinValue, Long.MinValue / 2, -1L, 0L, 1L,
      Long.MaxValue / 2, Long.MaxValue)
    val df = vals.toDF("_t")
      .withColumn("_lo", lit(Long.MinValue)).withColumn("_hi", lit(Long.MaxValue))
    val got = df.withColumn("_band", Banding.bandExpr("_t", 64))
      .select($"_t", $"_band").as[(Long, Int)].collect().toMap
    val span = BigInt(Long.MaxValue) - BigInt(Long.MinValue) + 1 // 2⁶⁴ — wraps int64
    vals.foreach { v =>
      val want = ((BigInt(v) - Long.MinValue) * 64 / span).toInt
      assert(got(v) == want, s"v=$v got=${got(v)} want=$want")
    }
    assert(got.values.toSeq.distinct.sorted == got.values.toSeq.distinct.sorted
      .filter(b => b >= 0 && b < 64))
  }

  test("pairedT2: hand t², constant differences NULL, row-split invariance") {
    import graft.operators.Stats
    // d = {1, 3}: Σd=4, Σd²=10, den = 2·10−16 = 4, t² = 16·1/4 = 4
    val ev = Seq(("m", 1L, 1L), ("m", 2L, 3L),
      ("z", 1L, 5L), ("z", 2L, 5L)).toDF("g", "e", "d")
    val got = Stats.pairedT2(ev, $"g", $"e", $"d")
      .as[(String, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("m") == ((2L, 4L, 1L, Some(4000000L))), got.toString)
    assert(got("z") == ((2L, 10L, 1L, None)), got.toString) // zero variance
    // per-entity differences total first: splitting a row can't move t²
    val split = Seq(("m", 1L, 1L), ("m", 2L, 1L), ("m", 2L, 2L)).toDF("g", "e", "d")
    val g2 = Stats.pairedT2(split, $"g", $"e", $"d")
      .as[(String, Long, Long, Long, Option[Long])].collect().head
    assert(g2 == (("m", 2L, 4L, 1L, Some(4000000L))), g2.toString)
  }

  test("pairedT2 equals BigInt brute replay (negative diffs included)") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(73)
    val ev = (1 to 150).map(i => ("g", i.toLong, (rnd.nextInt(200) - 100).toLong))
    val got = Stats.pairedT2(ev.toDF("g", "e", "d"), $"g", $"e", $"d")
      .as[(String, Long, Long, Long, Option[Long])].collect().head
    val n = BigInt(ev.size)
    val sd = BigInt(ev.map(_._3).sum)
    val q = ev.map(r => BigInt(r._3) * r._3).sum
    val den = n * q - sd * sd
    val t2 = if (n > 1 && den > 0) Some((sd * sd * (n - 1) * 1000000 / den).toLong) else None
    assert(got == (("g", n.toLong, sd.toLong, sd.signum.toLong, t2)), got.toString)
  }

  /** Brute Kruskal–Wallis H replay over (arm, per-entity value) rows:
    * tie-averaged doubled ranks, tie-exact general form, BigInt. */
  private def bruteKruskalH(rows: Seq[(String, Long)]): Option[Long] = {
    val nn = BigInt(rows.size)
    val eq = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def d2(v: Long): BigInt =
      BigInt(2L * rows.count(_._2 < v) + eq(v) + 1)
    val arms = rows.groupBy(_._1)
    val ns = arms.values.map(_.size).toSet
    val sd2 = eq.map { case (v, e) => BigInt(e) * d2(v) * d2(v) }.sum
    val tot = sd2 - nn * (nn + 1) * (nn + 1)
    if (ns.size != 1 || arms.size < 2 || tot <= 0) None
    else {
      val n = BigInt(ns.head)
      val sa2 = arms.values.map { g =>
        val a = g.map(r => d2(r._2)).sum - BigInt(g.size) * (nn + 1)
        a * a
      }.sum
      Some(((nn - 1) * sa2 * 1000000 / (n * tot)).toLong)
    }
  }

  test("kruskalWallisH equals BigInt brute replay (dense ties) and k=2 equals Mann-Whitney z²") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(91)
    // 3 arms × 60 entities, small value domain -> heavy ties
    val rows = for (g <- Seq("a", "b", "c"); e <- 1 to 60)
      yield (g, e.toLong, (rnd.nextInt(12) + (if (g == "c") 3 else 0)).toLong)
    val got = Stats.kruskalWallisH(rows.toDF("g", "e", "x"), $"g", $"e", $"x")
      .as[(Long, Long, Long, Option[Long])].collect().head
    val brute = bruteKruskalH(rows.map(r => (r._1, r._3)))
    assert(got == ((3L, 60L, 180L, brute)), s"got=$got brute=$brute")
    assert(got._4.exists(_ > 0), got.toString)
    // k = 2 balanced arms: H is EXACTLY the tie-corrected Mann-Whitney
    // z² (the same corrected variance divides both), so the single-floor
    // ppm renderings agree bit-exactly. Arm membership re-encoded as
    // entity parity for mannWhitneyU's variant convention.
    val two = rows.filter(r => r._1 != "c")
    val h2 = Stats.kruskalWallisH(two.toDF("g", "e", "x"), $"g", $"e", $"x")
      .as[(Long, Long, Long, Option[Long])].collect().head._4
    val parity = two.map(r => ("m", r._2 * 2 + (if (r._1 == "a") 0 else 1), r._3))
    val z2 = Stats.mannWhitneyU(parity.toDF("g", "e", "x"), $"g", $"e", $"x")
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head._6
    assert(h2 == z2, s"h2=$h2 z2=$z2")
  }

  test("kruskalWallisH: unbalanced and all-tied NULL; banding-invariant") {
    import graft.operators.Stats
    val unbal = Seq(("a", 1L, 5L), ("a", 2L, 7L), ("b", 1L, 3L)).toDF("g", "e", "x")
    assert(Stats.kruskalWallisH(unbal, $"g", $"e", $"x")
      .as[(Long, Long, Long, Option[Long])].collect().head._4.isEmpty)
    val tied = Seq(("a", 1L, 5L), ("a", 2L, 5L), ("b", 1L, 5L), ("b", 2L, 5L))
      .toDF("g", "e", "x")
    assert(Stats.kruskalWallisH(tied, $"g", $"e", $"x")
      .as[(Long, Long, Long, Option[Long])].collect().head._4.isEmpty)
    // band count cannot move the answer (prefix offsets are exact)
    val rnd = new scala.util.Random(19)
    val rows = for (g <- Seq("a", "b"); e <- 1 to 40)
      yield (g, e.toLong, rnd.nextInt(1000000).toLong)
    val hs = Seq(1, 3, 64).map { nb =>
      Stats.kruskalWallisH(rows.toDF("g", "e", "x"), $"g", $"e", $"x", nBands = nb)
        .as[(Long, Long, Long, Option[Long])].collect().head._4
    }
    assert(hs.distinct.size == 1, hs.toString)
    assert(hs.head == bruteKruskalH(rows.map(r => (r._1, r._3))), hs.toString)
  }

  test("welchT2: quantized-recurrence BigInt replay and degenerate NULLs") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(57)
    // arm 0 (even e): tight around 100; arm 1 (odd e): wide around 140
    val ev = (1 to 120).map { i =>
      ("g", i.toLong,
        if (i % 2 == 0) (100 + rnd.nextInt(11) - 5).toLong
        else (140 + rnd.nextInt(161) - 80).toLong)
    }
    val got = Stats.welchT2(ev.toDF("g", "e", "x"), $"g", $"e", $"x")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().head
    val (a0, a1) = ev.partition(_._2 % 2 == 0)
    def mom(a: Seq[(String, Long, Long)]) =
      (BigInt(a.size), BigInt(a.map(_._3).sum), a.map(r => BigInt(r._3) * r._3).sum)
    val (n0, s0, q0) = mom(a0); val (n1, s1, q1) = mom(a1)
    val dppm = (s0 * n1 - s1 * n0) * 1000000 / (n0 * n1)
    val v0 = (n0 * q0 - s0 * s0) * 1000000 / (n0 * n0 * (n0 - 1))
    val v1 = (n1 * q1 - s1 * s1) * 1000000 / (n1 * n1 * (n1 - 1))
    val t2 = dppm * dppm / (v0 + v1)
    assert(got == (("g", n0.toLong, n1.toLong, Some(dppm.toLong),
      Some(v0.toLong), Some(v1.toLong), Some(t2.toLong))), got.toString)
    // one-entity arm -> v NULL -> t² NULL; zero variance both arms -> NULL
    val tiny = Seq(("g", 1L, 5L), ("g", 2L, 9L), ("g", 4L, 11L)).toDF("g", "e", "x")
    val g2 = Stats.welchT2(tiny, $"g", $"e", $"x")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().head
    assert(g2._5.isDefined && g2._6.isEmpty && g2._7.isEmpty, g2.toString)
    val const = Seq(("g", 1L, 5L), ("g", 2L, 5L), ("g", 3L, 5L), ("g", 4L, 5L))
      .toDF("g", "e", "x")
    val g3 = Stats.welchT2(const, $"g", $"e", $"x")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().head
    assert(g3._5 == Some(0L) && g3._6 == Some(0L) && g3._7.isEmpty, g3.toString)
  }

  /** Brute NN-match replay: min-id rep per (g, x) among controls, then
    * per-treated argmin by (|cx−x|, cx). */
  private def bruteAtt(rows: Seq[(String, Boolean, Long, Long, Long)])
      : Map[String, (Long, Long, Option[Long], Option[Long], Option[Long])] = {
    val byG = rows.groupBy(_._1)
    byG.map { case (g, rs) =>
      val reps = rs.filter(!_._2).groupBy(_._4).map { case (x, cs) =>
        val c = cs.minBy(_._3); (x, c._5)
      }.toSeq
      val treated = rs.filter(_._2)
      val matches = treated.flatMap { t =>
        if (reps.isEmpty) None
        else {
          val (cx, cy) = reps.minBy { case (x, _) => ((x - t._4).abs, x) }
          Some((t._5 - cy, (cx - t._4).abs))
        }
      }
      val sumDy = matches.map(_._1).sum
      val att = // BigInt / truncates toward zero, matching DIV on both engines
        if (matches.isEmpty) None
        else Some((BigInt(sumDy) / matches.size).toLong)
      g -> ((treated.size.toLong, matches.size.toLong,
        if (matches.isEmpty) None else Some(sumDy),
        att, if (matches.isEmpty) None else Some(matches.map(_._2).sum)))
    }
  }

  test("nnMatchAtt: hand matches, tie-to-prev, no-controls NULL") {
    import graft.operators.Stats
    // controls at x = 10 (y=100, id 2 beats id 4) and x = 20 (y=200);
    // treated: x=9 -> ctrl 10 (dy=-40), x=15 equidistant -> PREV x=10
    // (dy=50), x=21 -> ctrl 20 (dy=-80)
    val rows = Seq(
      ("a", false, 2L, 10L, 100L), ("a", false, 4L, 10L, 999L),
      ("a", false, 6L, 20L, 200L),
      ("a", true, 1L, 9L, 60L), ("a", true, 3L, 15L, 150L),
      ("a", true, 5L, 21L, 120L),
      ("b", true, 1L, 5L, 50L)) // no controls in b
    val got = Stats.nnMatchAtt(rows.toDF("g", "tr", "id", "x", "y"),
        $"g", $"tr", $"id", $"x", $"y")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // dy: (60-100) + (150-100) + (120-200) = -70; adx: 1 + 5 + 1 = 7
    assert(got("a") == ((3L, 3L, Some(-70L), Some(-23L), Some(7L))), got.toString)
    assert(got("b") == ((1L, 0L, None, None, None)), got.toString)
  }

  test("nnMatchAtt equals brute replay at every band count (cross-band fallbacks)") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(67)
    val rows = (1 to 300).map { i =>
      val g = if (i % 3 == 0) "a" else "b"
      (g, i % 2 == 1, i.toLong, rnd.nextInt(500).toLong,
        (rnd.nextInt(2000) - 500).toLong)
    }
    val want = bruteAtt(rows)
    for (nb <- Seq(1, 7, 64)) {
      val got = Stats.nnMatchAtt(rows.toDF("g", "tr", "id", "x", "y"),
          $"g", $"tr", $"id", $"x", $"y", nBands = nb)
        .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
      want.foreach { case (g, w) =>
        assert(got(g) == w, s"nBands=$nb g=$g got=${got(g)} want=$w") }
    }
  }

  test("kendallTauB: perfect concordance, tie-corrected brute replay") {
    import graft.operators.Stats
    // strictly increasing in both -> all pairs concordant, tau2 = 1e6
    val mono = (1L to 10L).map(i => ("m", i, i * 2, i * 3))
    val got = Stats.kendallTauB(mono.toDF("g", "i", "x", "y"))
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    assert(got == (("m", 10L, 45L, 0L, 1L, Some(1000000L))), got.toString)
    // random with heavy ties vs brute
    val rnd = new scala.util.Random(11)
    val pts = (1L to 25L).map(i => ("t", i, rnd.nextInt(5).toLong, rnd.nextInt(5).toLong))
    val g2 = Stats.kendallTauB(pts.toDF("g", "i", "x", "y"))
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().head
    val pairs = for (a <- pts; b <- pts if a._2 < b._2)
      yield (java.lang.Long.signum(b._3 - a._3), java.lang.Long.signum(b._4 - a._4))
    val conc = pairs.count(p => p._1 * p._2 == 1).toLong
    val disc = pairs.count(p => p._1 * p._2 == -1).toLong
    val n0 = pairs.size.toLong
    val n1 = pairs.count(_._1 == 0).toLong
    val n2 = pairs.count(_._2 == 0).toLong
    val den = BigInt(n0 - n1) * (n0 - n2)
    val tau2 = if (den > 0)
      Some((BigInt(conc - disc) * (conc - disc) * 1000000 / den).toLong) else None
    assert(g2 == (("t", 25L, conc, disc,
      java.lang.Long.signum(conc - disc).toLong, tau2)), s"got=$g2")
  }

  test("aucByGroup: hand pairs, perfect separation, single-class NULL") {
    import graft.operators.Stats
    // a: pos {3,1}, neg {2,1} -> wins 2, ties 1 -> u2 = 5, auc = 625000
    // b: pos {10,9}, neg {1,2} -> perfect -> auc = 1000000
    // c: all positive -> NULL
    val ev = Seq(("a", 3L, 1L), ("a", 1L, 1L), ("a", 2L, 0L), ("a", 1L, 0L),
      ("b", 10L, 1L), ("b", 9L, 1L), ("b", 1L, 0L), ("b", 2L, 0L),
      ("c", 5L, 1L), ("c", 6L, 1L)).toDF("g", "s", "p")
    val got = Stats.aucByGroup(ev, $"g", $"s", $"p")
      .as[(String, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("a") == ((2L, 2L, 5L, Some(625000L))), got.toString)
    assert(got("b") == ((2L, 2L, 8L, Some(1000000L))), got.toString)
    assert(got("c") == ((2L, 0L, 0L, None)), got.toString)
  }

  test("aucByGroup equals brute doubled pair count on tied random data") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(47)
    val ev = (1 to 500).map(_ =>
      ("g", rnd.nextInt(12).toLong, rnd.nextInt(3) % 2L))
    val got = Stats.aucByGroup(ev.toDF("g", "s", "p"), $"g", $"s", $"p")
      .as[(String, Long, Long, Long, Option[Long])].collect().head
    val pos = ev.filter(_._3 == 1L).map(_._2)
    val neg = ev.filter(_._3 == 0L).map(_._2)
    val u2 = (for (a <- pos; b <- neg) yield
      if (a > b) 2L else if (a == b) 1L else 0L).sum
    val auc = (BigInt(u2) * 1000000 /
      (2 * BigInt(pos.size) * neg.size)).toLong
    assert(got == (("g", pos.size.toLong, neg.size.toLong, u2, Some(auc))),
      s"got=$got want u2=$u2 auc=$auc")
  }

  test("targetEncodeLoo: hand shrinkage and BigInt replay") {
    import graft.operators.Labeling
    // m=1, global mean 20: A {10,20} -> LOO means pull toward 20;
    // B singleton -> shrinks ALL the way to the prior
    val ev = Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "B", 30L))
      .toDF("id", "cat", "y")
    val got = Labeling.targetEncodeLoo(ev, $"id", $"cat", $"y", m = 1)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("A", 2L, 20000L)), got.toString)
    assert(got(2L) == (("A", 2L, 15000L)), got.toString)
    assert(got(3L) == (("B", 1L, 20000L)), got.toString)
    // default m: BigInt replay on random categories
    val rnd = new scala.util.Random(53)
    val big = (1 to 300).map(i =>
      (i.toLong, s"c${rnd.nextInt(7)}", rnd.nextInt(1000).toLong))
    val got2 = Labeling.targetEncodeLoo(big.toDF("id", "cat", "y"),
        $"id", $"cat", $"y")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    val gsum = BigInt(big.map(_._3).sum); val gn = BigInt(big.size)
    val cs = big.groupBy(_._2).view
      .mapValues(rs => (BigInt(rs.map(_._3).sum), BigInt(rs.size))).toMap
    big.foreach { case (id, c, y) =>
      val (csum, cn) = cs(c)
      val want = (((csum - y) * gn + 10 * gsum) * 1000 /
        ((cn - 1 + 10) * gn)).toLong
      assert(got2(id) == want, s"id=$id got=${got2(id)} want=$want")
    }
  }

  test("simpsonDiversity: hand mixes and event conservation") {
    import graft.operators.Stats
    val ev = Seq.fill(4)(("mono", "t1")) ++
      Seq(("half", "t1"), ("half", "t1"), ("half", "t2"), ("half", "t2")) ++
      Seq(("quad", "t1"), ("quad", "t2"), ("quad", "t3"), ("quad", "t4"))
    val got = Stats.simpsonDiversity(ev.toDF("e", "c"), $"e", $"c")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("mono") == ((4L, 1L, 0L)), got.toString)
    assert(got("half") == ((4L, 2L, 500000L)), got.toString)
    assert(got("quad") == ((4L, 4L, 750000L)), got.toString)
    assert(got.values.map(_._1).sum == ev.size.toLong)
  }

  test("weightedQuantileSelect equals row-expansion nearest rank, bin-width invariant") {
    import graft.operators.Stats
    val rows = (1L to 397L).map(i => ((i * 7919L) % 500L, i % 7L + 1L)) ++
      Seq((0L, 3L), (499L, 1L), (499L, 5L)) // dup extreme values, distinct weights
    val df = rows.toDF("v", "w")
    // brute force: expand each row w times, sort, nearest-rank on the
    // expanded multiset — the definition the 2-pass selection must match
    val expanded = rows.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }.sorted
    val n = expanded.size.toLong
    val want = Seq(25, 50, 90, 99, 100).map { p =>
      val rank = (n * p + 99) / 100
      (p.toLong, n, expanded((rank - 1).toInt))
    }
    Seq(1L, 16L, 100L, 100000L).foreach { bw => // 100000 ⇒ single bin
      val got = Stats.weightedQuantileSelect(df, "v", "w",
          Seq(25, 50, 90, 99, 100), bw)
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == want, s"binWidth=$bw got=$got want=$want")
    }
    // all-weight-1 degenerates to the unweighted selection
    val uw = rows.map(_._1).toDF("v").withColumn("w", lit(1L))
    val gotU = Stats.weightedQuantileSelect(uw, "v", "w", Seq(50, 99))
      .as[(Long, Long, Long)].collect().toSeq
    val wantU = Stats.exactQuantilesSelect(rows.map(_._1).toDF("v"), "v",
      Seq(50, 99)).as[(Long, Long, Long)].collect().toSeq
    assert(gotU == wantU, s"got=$gotU want=$wantU")
  }

  test("weightedQuantileSelect: empty input, duplicate percents, weight<1 fail-fast") {
    import graft.operators.Stats
    val empty = Seq.empty[(Long, Long)].toDF("v", "w")
    assert(Stats.weightedQuantileSelect(empty, "v", "w", Seq(50)).collect().isEmpty)
    val rows = (1L to 50L).map(i => (i, 2L)).toDF("v", "w")
    assert(Stats.weightedQuantileSelect(rows, "v", "w", Seq(50, 50, 50)).count() == 1)
    val bad = Seq((1L, 1L), (2L, 0L)).toDF("v", "w")
    val e = intercept[IllegalArgumentException] {
      Stats.weightedQuantileSelect(bad, "v", "w", Seq(50)).collect()
    }
    assert(e.getMessage.contains("weights"), e.getMessage)
  }

  test("cochranArmitage: hand case, BigInt replay, degenerate NULLs") {
    import graft.operators.Stats
    // group "up": success rate rises with dose 0/1/2 → positive trend.
    // dose 0: 1/4 pos; dose 1: 2/4; dose 2: 3/4.
    val up = (0 to 2).flatMap { d =>
      (1 to 4).map(i => ("up", d.toLong, if (i <= d + 1) 1L else 0L)) }
    // "down" mirrors it → same z², negative sign
    val down = up.map { case (_, d, p) => ("down", d, 1L - p) }
    // degenerates: all-success and a single dose level
    val allPos = Seq(("allpos", 0L, 1L), ("allpos", 1L, 1L))
    val oneDose = Seq(("onedose", 2L, 1L), ("onedose", 2L, 0L))
    val df = (up ++ down ++ allPos ++ oneDose).toDF("g", "d", "p")
    val got = Stats.cochranArmitage(df, col("g"), col("d"), col("p"))
      .as[(String, Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // BigInt replay of the "up" group: N=12, R=6, Σwn=12, Σwr=8, Σw²n=20
    val (nN, r, swn, swr, sw2n) = (BigInt(12), BigInt(6), BigInt(12), BigInt(8), BigInt(20))
    val t = nN * swr - r * swn        // 96 - 72 = 24
    val dd = nN * sw2n - swn * swn    // 240 - 144 = 96
    val z2 = t * t * nN * 1000000 / (r * (nN - r) * dd)
    assert(got("up") == ((12L, 6L, Some(1L), Some(z2.toLong))), got.toString)
    assert(got("down") == ((12L, 6L, Some(-1L), Some(z2.toLong))), got.toString)
    assert(got("allpos") == ((2L, 2L, None, None)), got.toString)
    assert(got("onedose") == ((2L, 1L, None, None)), got.toString)
  }

  test("quantileNormalize equals brute rank mapping, band-width invariant") {
    import graft.operators.Stats
    val rows = (1L to 90L).map(i => (i, s"g${i % 3}", (i * 7919L) % 50L))
    val n = rows.size.toLong
    val global = rows.map(r => (r._3, r._1)).sorted.map(_._1) // by (v, id)
    val want = rows.groupBy(_._2).toSeq.flatMap { case (g, rs) =>
      val sorted = rs.sortBy(r => (r._3, r._1))
      sorted.zipWithIndex.map { case ((id, _, v), i) =>
        val rn = ((i + 1L) * n + rs.size - 1) / rs.size
        (id, g, v, global((rn - 1).toInt))
      }
    }.sortBy(_._1)
    Seq(1L, 8L, 1000000L).foreach { bw => // 1000000 ⇒ single band
      val got = Stats.quantileNormalize(rows.toDF("id", "g", "v"),
          col("id"), col("g"), "v", bandWidth = bw)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      assert(got.toSeq == want, s"bandWidth=$bw got=${got.take(5).toSeq}")
    }
    // a group identical to the global distribution maps to itself
    val one = (1L to 20L).map(i => (i, "only", i * 3L))
    val self = Stats.quantileNormalize(one.toDF("id", "g", "v"),
        col("id"), col("g"), "v")
      .as[(Long, String, Long, Long)].collect()
    assert(self.forall(r => r._3 == r._4), self.take(5).mkString(","))
  }

  test("quantileNormalize: empty input, maxBands fail-fast") {
    import graft.operators.Stats
    val empty = Seq.empty[(Long, String, Long)].toDF("id", "g", "v")
    assert(Stats.quantileNormalize(empty, col("id"), col("g"), "v")
      .collect().isEmpty)
    // empty branch keeps the CALLER's group-column dtype (advice r9):
    // an Int-grouped empty input must not come back as a string `g`
    val emptyInt = Seq.empty[(Long, Int, Long)].toDF("id", "g", "v")
    val sch = Stats.quantileNormalize(emptyInt, col("id"), col("g"), "v").schema
    assert(sch("g").dataType == org.apache.spark.sql.types.IntegerType, sch.toString)
    assert(sch.fieldNames.toSeq == Seq("id", "g", "v", "norm_v"), sch.toString)
    val wide = (1L to 100L).map(i => (i, "g", i * 1000L)).toDF("id", "g", "v")
    val e = intercept[IllegalArgumentException] {
      Stats.quantileNormalize(wide, col("id"), col("g"), "v",
        bandWidth = 1L, maxBands = 10)
    }
    assert(e.getMessage.contains("maxBands"), e.getMessage)
  }

  test("cvmDrift equals BigInt brute replay; an identical sample scores 0") {
    import graft.operators.Stats
    val ref = (1L to 50L).map(i => ("click", (i * 13L) % 20L))
    val g1 = (1L to 40L).map(i => ("a", (i * 7L) % 20L + 5L)) // shifted
    val g2 = ref.map { case (_, v) => ("b", v) }              // identical multiset
    val got = Stats.cvmDrift((ref ++ g1 ++ g2).toDF("g", "v"),
        col("g"), col("v"), refGroup = "click")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("b") == ((50L, 50L, 0L)), got.toString) // same distribution → 0
    // brute replay for the shifted group
    val (nr, ng) = (BigInt(ref.size), BigInt(g1.size))
    val vals = (ref.map(_._2) ++ g1.map(_._2)).distinct.sorted
    var (fr, fg, s) = (BigInt(0), BigInt(0), BigInt(0))
    vals.foreach { v =>
      val cr = BigInt(ref.count(_._2 == v)); val cg = BigInt(g1.count(_._2 == v))
      fr += cr; fg += cg
      val d = fr * ng - fg * nr
      s += (cr + cg) * d * d
    }
    val want = s * 1000000 / (nr * ng * (nr + ng) * (nr + ng))
    assert(got("a") == ((50L, 40L, want.toLong)), s"got=${got("a")} want=$want")
    assert(want > 0, "shifted group must score positive")
  }

  test("giniSplitGain: perfect split scores 0 impurity with base gain") {
    import graft.operators.Stats
    // bin 0 all-negative, bin 1 all-positive → threshold 0 is a perfect
    // stump: impurity 0, gain = unsplit base = 1 − 2·(1/2)² = 500000 ppm
    val rows = (1 to 4).map(_ => (0L, 0L)) ++ (1 to 4).map(_ => (1L, 1L))
    val got = Stats.giniSplitGain(rows.toDF("b", "p"), col("b"), col("p"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.head == ((0L, 4L, 0L, 500000L)), got.toString)
    assert(got.size == 1, got.toString) // only one valid threshold
  }

  test("giniSplitGain equals brute-force BigInt impurity on every threshold") {
    import graft.operators.Stats
    val rows = (1L to 300L).map(i => ((i * 7919L) % 10L, (i * 31L) % 3L min 1L))
    val got = Stats.giniSplitGain(rows.toDF("b", "p"), col("b"), col("p"),
        topK = 100)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val n = BigInt(rows.size)
    val p = BigInt(rows.count(_._2 == 1L))
    val basePpm = (n * n - p * p - (n - p) * (n - p)) * 1000000 / (n * n)
    val want = rows.map(_._1).distinct.sorted.dropRight(1).map { t =>
      val l = rows.filter(_._1 <= t)
      val (nl, pl) = (BigInt(l.size), BigInt(l.count(_._2 == 1L)))
      val (nr, pr) = (n - nl, p - pl)
      val num = (nl * nl - pl * pl - (nl - pl) * (nl - pl)) * nr +
        (nr * nr - pr * pr - (nr - pr) * (nr - pr)) * nl
      val imp = num * 1000000 / (nl * nr * n)
      (t, nl.toLong, imp.toLong, (basePpm - imp).toLong)
    }.sortBy(r => (r._3, r._1)).map(r => (r._1, r._2, r._3, r._4))
    assert(got == want, s"got=$got want=$want")
  }

  test("tokenBudgetSample: bucketed 2-pass selection equals the naive hash-order cumsum") {
    import graft.operators.Sampling
    def h(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map(b => f"${b & 0xFF}%02x").mkString
    // two groups; weights chosen so the budget boundary lands MID-bucket
    // for g1 (several ids share a first byte is unlikely at n=40, so the
    // boundary bucket typically holds one doc — the mid-bucket partial
    // keep is still exercised when that doc overflows the remainder)
    val rows = (0L until 40L).map(i => ("g1", i, 10L + i % 7)) ++
      (100L until 110L).map(i => ("g2", i, 5L))
    val df = rows.toDF("g", "doc_id", "w")
    val got = Sampling.tokenBudgetSample(df, $"g", "doc_id", $"w")
      .orderBy("g")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    def naive(g: String, data: Seq[(Long, Long)]) = {
      val total = data.map(_._2).sum
      val budget = total / 2
      val ordered = data.sortBy { case (id, _) => (h(id), id) }
      val sel = ordered.scanLeft((0L, -1L, 0L)) { case ((cum, _, _), (id, w)) =>
        (cum + w, id, w)
      }.drop(1).takeWhile(_._1 <= budget)
      val ids = sel.map(_._2)
      (g, data.size.toLong, total, budget, ids.size.toLong, sel.map(_._3).sum,
        if (ids.isEmpty) 0L else ids.sum,
        if (ids.isEmpty) -1L else ids.min, if (ids.isEmpty) -1L else ids.max)
    }
    val g1 = (0L until 40L).map(i => (i, 10L + i % 7))
    val g2 = (100L until 110L).map(i => (i, 5L))
    assert(got == Seq(naive("g1", g1), naive("g2", g2)), got.toString)
    // zero-budget edge: nothing selected, sentinels intact
    val z = Sampling.tokenBudgetSample(df.filter($"g" === "g2"), $"g", "doc_id", $"w",
        budgetNum = 0L, budgetDen = 1L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(z == (("g2", 10L, 50L, 0L, 0L, 0L, 0L, -1L, -1L)), z.toString)
  }

  test("conformalCoverage: brute replay exact; +1 finite-sample rank; clamp at tiny n") {
    import graft.operators.Stats
    def nib(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 1), 16)
    }
    val calIds = (0L to 200L).filter(nib(_) < 8)
    val evalIds = (0L to 200L).filter(nib(_) >= 8)
    // group A: exactly 10 calibration rows — ceil((10+1)*0.9) = 10 but
    // ceil(10*0.9) = 9, so the finite-sample +1 is DISCRIMINATED when
    // the 9th and 10th smallest scores differ (distinct values below)
    val aRows = calIds.take(10).zipWithIndex.map { case (id, i) => ("A", id, 100L + i * 10L) } ++
      evalIds.take(5).zipWithIndex.map { case (id, i) => ("A", id, 95L + i * 25L) }
    // group B: 3 calibration rows — rank min(3, ceil(4*0.9)=4) clamps to n
    val bRows = calIds.drop(10).take(3).zipWithIndex.map { case (id, i) => ("B", id, 50L + i * 7L) } ++
      evalIds.drop(5).take(3).zipWithIndex.map { case (id, i) => ("B", id, 40L + i * 30L) }
    val rows = aRows ++ bRows
    val got = Stats.conformalCoverage(rows.toDF("g", "id", "v"),
        $"g", $"id", $"v", alphaPct = 10, binWidth = 8L)
      .orderBy("g")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq

    def brute(g: String) = {
      val mine = rows.filter(_._1 == g)
      val cal = mine.filter(r => nib(r._2) < 8).map(_._3).sorted
      val n = cal.length
      val med = cal((n + 1) / 2 - 1)
      val scores = mine.filter(r => nib(r._2) < 8).map(r => math.abs(r._3 - med)).sorted
      val rank = math.min(n.toLong, ((n + 1) * 90L + 99) / 100)
      val qhat = scores(rank.toInt - 1)
      val ev = mine.filter(r => nib(r._2) >= 8).map(r => math.abs(r._3 - med))
      val cov = ev.count(_ <= qhat).toLong
      (g, n.toLong, ev.size.toLong, med, qhat, cov, cov * 1000000L / ev.size)
    }
    assert(got == Seq(brute("A"), brute("B")), s"got $got")
    // the +1 rank is discriminating for A: qhat is the 10th (max)
    // calibration score, not the 9th
    val aCal = rows.filter(r => r._1 == "A" && nib(r._2) < 8).map(_._3).sorted
    val aMed = aCal(4)
    val aScores = rows.filter(r => r._1 == "A" && nib(r._2) < 8)
      .map(r => math.abs(r._3 - aMed)).sorted
    assert(aScores(9) != aScores(8), "fixture degenerate: top scores tied")
    assert(got.head._5 == aScores(9), s"qhat must use the (n+1) rank: $got")
    // clamp for B: qhat = the max calibration score
    val bCal = rows.filter(r => r._1 == "B" && nib(r._2) < 8).map(_._3).sorted
    val bScores = rows.filter(r => r._1 == "B" && nib(r._2) < 8)
      .map(r => math.abs(r._3 - bCal(1))).sorted
    assert(got(1)._5 == bScores.last, s"tiny-n clamp: $got")
  }

  test("kAnonymityCensus: hand fixture — weakest classes first, census exact") {
    import graft.operators.Stats
    // class A: 1 entity (k-violation), 1 sensitive value (l-violation)
    // class B: 2 entities, 2 sensitive values (k-violation only, k=3)
    // class C: 3 entities, 3 sensitive values (clean)
    val rows = Seq(
      ("A", 1L, "x"), ("A", 1L, "x"),
      ("B", 1L, "x"), ("B", 2L, "y"), ("B", 2L, "y"),
      ("C", 1L, "x"), ("C", 2L, "y"), ("C", 3L, "z"), ("C", 3L, "x")
    ).toDF("qi", "user", "sens")
    val got = Stats.kAnonymityCensus(rows, Seq("qi" -> $"qi"),
        entity = $"user", sensitive = $"sens", k = 3L, l = 2L, topK = 2)
      .collect()
    // topK=2 keeps the two weakest classes in (n_entities, n_rows) order
    assert(got.map(_.getString(0)).toSeq == Seq("A", "B"))
    val a = got.head
    assert(a.getLong(a.fieldIndex("n_rows")) == 2L)
    assert(a.getLong(a.fieldIndex("n_entities")) == 1L)
    assert(a.getLong(a.fieldIndex("n_sensitive")) == 1L)
    // census (identical on every row): k-anonymity 1, l-diversity 1,
    // two k-violating classes covering 5 rows, one low-l class
    assert(a.getLong(a.fieldIndex("n_classes")) == 3L)
    assert(a.getLong(a.fieldIndex("total_rows")) == 9L)
    assert(a.getLong(a.fieldIndex("k_entity_min")) == 1L)
    assert(a.getLong(a.fieldIndex("k_row_min")) == 2L)
    assert(a.getLong(a.fieldIndex("l_min")) == 1L)
    assert(a.getLong(a.fieldIndex("n_viol_classes")) == 2L)
    assert(a.getLong(a.fieldIndex("n_exposed_rows")) == 5L)
    assert(a.getLong(a.fieldIndex("n_low_l_classes")) == 1L)
    assert(got(1).getLong(got(1).fieldIndex("n_classes")) == 3L) // census repeats
  }

  test("dsirSelect: BigInt brute replay exact; target-like docs outrank; short docs drop") {
    import graft.operators.Sampling
    val rows = Seq(
      (1L, "alpha beta alpha beta alpha beta", true),
      (2L, "alpha beta gamma delta", true),
      (10L, "alpha beta alpha beta", false), // raw, pure target-like grams
      (11L, "zeta eta theta iota", false),   // raw, no target grams
      (12L, "single", false),                // <2 tokens: no bigrams, excluded
      (13L, "alpha beta zeta eta", false))   // raw, mixed
    val B = 16
    val got = Sampling.dsirSelect(rows.toDF("doc_id", "text", "tgt"),
        "text", "doc_id", $"tgt", buckets = B, topK = 10)
      .as[(Long, Long, Long)].collect().toSeq

    // brute replay with BigInt arithmetic and a JVM md5
    def bucket(g: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 12), 16) % B).toInt
    }
    def grams(t: String): Seq[Int] =
      t.split(" ", -1).toSeq.sliding(2).filter(_.size == 2)
        .map(p => bucket(p.mkString(" "))).toSeq
    val byDoc = rows.map { case (id, t, tgt) => (id, tgt, grams(t)) }
    val tc = Array.fill(B)(0L); val rc = Array.fill(B)(0L)
    byDoc.foreach { case (_, tgt, gs) =>
      gs.foreach(b => if (tgt) tc(b) += 1 else rc(b) += 1) }
    val (tt, rt) = (tc.sum, rc.sum)
    def ratio(b: Int): BigInt =
      (BigInt(tc(b) + 1) * (rt + B) * 1000000) / (BigInt(rc(b) + 1) * (tt + B))
    val brute = byDoc.filter(d => !d._2 && d._3.nonEmpty).map { case (id, _, gs) =>
      val score = gs.map(ratio).sum
      (id, gs.size.toLong, (score / gs.size).toLong)
    }.sortBy { case (id, _, ppm) => (-ppm, id) }
    assert(got == brute, s"got $got want $brute")
    // semantics: the all-target-gram doc outranks the mixed one outranks
    // the disjoint one; the 1-token doc never appears
    val rank = got.map(_._1)
    assert(rank.indexOf(10L) < rank.indexOf(13L))
    assert(rank.indexOf(13L) < rank.indexOf(11L))
    assert(!rank.contains(12L) && !rank.contains(1L) && !rank.contains(2L))
  }

  test("prCurveByGroup + avgPrecisionByGroup match the brute threshold sweep") {
    import graft.operators.Stats
    // group "a": scores with ties and a pure-negative bucket;
    // group "b": all positives (recall defined, fp = 0 everywhere)
    val rows = Seq(
      ("a", 3L, 1L), ("a", 3L, 0L), ("a", 2L, 1L), ("a", 2L, 1L),
      ("a", 1L, 0L), ("a", 0L, 0L),
      ("b", 5L, 1L), ("b", 4L, 1L)).toDF("g", "s", "p")
    val got = Stats.prCurveByGroup(rows, $"g", $"s", $"p")
      .orderBy("g", "bucket")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    def brute(g: String, data: Seq[(Long, Long)]) = {
      val pTot = data.map(_._2).sum
      data.map(_._1).distinct.sorted.map { t =>
        val tp = data.filter(r => r._1 >= t).map(_._2).sum
        val fp = data.count(r => r._1 >= t) - tp
        val fn = pTot - tp
        (g, t, tp, fp, fn, tp * 1000000L / (tp + fp),
          if (tp + fn > 0) tp * 1000000L / (tp + fn) else -1L,
          if (2 * tp + fp + fn > 0) 2 * tp * 1000000L / (2 * tp + fp + fn) else -1L)
      }
    }
    val aData = Seq((3L, 1L), (3L, 0L), (2L, 1L), (2L, 1L), (1L, 0L), (0L, 0L))
    val bData = Seq((5L, 1L), (4L, 1L))
    assert(got == brute("a", aData) ++ brute("b", bData), got.toString)
    val ap = Stats.avgPrecisionByGroup(rows, $"g", $"s", $"p")
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    def bruteAp(g: String, data: Seq[(Long, Long)]) = {
      val byBucket = data.groupBy(_._1).toSeq.sortBy(-_._1)
      var tp = 0L; var fp = 0L; var num = BigInt(0)
      byBucket.foreach { case (_, rs) =>
        val np = rs.map(_._2).sum; val nn = rs.size - np
        tp += np; fp += nn
        num += BigInt(np) * (tp * 1000000L / (tp + fp))
      }
      (g, data.map(_._2).sum, (num / data.map(_._2).sum).toLong)
    }
    assert(ap == Seq(bruteAp("a", aData), bruteAp("b", bData)), ap.toString)
  }

  test("brierDecomposition: perfectly-calibrated bins show zero reliability; hand case exact") {
    import graft.operators.Stats
    // bin 0 (p=50 milli): 1 of 20 positive (om=50 → gap 0 exact)
    // bin 9 (p=950 milli): 19 of 20 positive (om=950 → gap 0 exact)
    val calib = (0 until 20).map(i => (50L, if (i == 0) 1L else 0L)) ++
      (0 until 20).map(i => (950L, if (i < 19) 1L else 0L))
    val g1 = Stats.brierDecomposition(calib.toDF("p", "o"), $"p", $"o")
      .as[(Long, Long, Long, Long, Long)].head()
    // brier_sum = (50-0)²·19 + (50-1000)² + (950-1000)²·19 + 950²
    val sumE = 2500L * 19 + 950L * 950 + 2500L * 19 + 950L * 950
    val om = (1000L * 20) / 40 // base rate 20/40 = 500 milli
    assert(g1 == (40L, sumE / 40, 0L,
      (20L * (50 - om) * (50 - om) + 20L * (950 - om) * (950 - om)) / 40,
      om * (1000 - om)), g1.toString)
    // decomposition sanity on the calibrated case: brier ≈ unc − res
    assert(g1._2 == g1._5 - g1._4 + g1._3)
  }

  test("cms register census + point checks: md5 replay exact, estimates never undercount") {
    import graft.operators.Approx
    val keys = (0L until 400L).map(i => i * 31L % 23L) // 23 keys, skewed dups
    val df = keys.toDF("k")
    val got = Approx.cmsRegisterCensus(df, $"k", depth = 2)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    def reg(r: Long, k: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$r:$k".getBytes("UTF-8"))
      (h(0) & 0xFF).toLong
    }
    val want = keys.flatMap(k => Seq(0L, 1L).map(r => (r, reg(r, k))))
      .groupBy(identity).map { case ((r, c), v) => (r, c, v.size.toLong) }
      .toSeq.sorted
    assert(got == want, s"got=${got.take(5)} want=${want.take(5)}")
    val checks = Approx.cmsPointChecks(df, $"k", topK = 5, depth = 2)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(checks.size == 5)
    checks.foreach { case (k, nTrue, nEst, over) =>
      val trueN = keys.count(_.toString == k).toLong
      assert(nTrue == trueN, s"key $k true count")
      val wantEst = Seq(0L, 1L).map { r =>
        val c = reg(r, k.toLong)
        keys.count(x => reg(r, x) == c).toLong
      }.min
      assert(nEst == wantEst && over == nEst - nTrue && nEst >= nTrue, s"key $k est")
    }
  }
}
