package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Clustering, Dedup, Multimodal, Normalize, Sampling, Similarity, Stats,
  TextAnalysis}
import graft.sources.Tables
import graft.plans.Spread._

/** LLM-training-data pipeline queries over `documents` / `embeddings`:
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity
  * search (exact cosine top-k + LSH-bucketed ANN), text analysis, and
  * multimodal blob plumbing.
  *
  * Oracle notes: every similarity/ratio is emitted as integer ppm so the
  * DuckDB compare is FP-free; the SimHash oracle works because simhash32
  * is defined over md5 hex nibbles, which both engines compute
  * identically. Minhash-LSH candidate recall at the 0.8 verify threshold
  * is 1-(1-s⁴)¹⁶ ≥ 0.9998 (observed corpus: near-dup pairs all ≥ 0.95 →
  * miss prob < 1e-11), so the LSH+verify output equals the all-pairs
  * oracle.
  */
object PipelineQueries {

  private val MinhashK = 64
  private val Bands = 16
  private val RowsPerBand = 4
  private val JaccardThresholdPpm = 800000L

  /** Fixed ±1 Johnson-Lindenstrauss sign matrix (8 outputs × 64 dims),
    * md5-derived at class init — the ONE source of truth that emits
    * both q_jl_project's engine expressions and its oracle SQL, so the
    * two engines multiply identical integers. */
  private lazy val JlSigns: Array[Array[Int]] = Array.tabulate(8, 64) { (k, j) =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"jl_${k}_$j".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1 else -1
  }

  /** Engine expression text for JL output k over a mils array column. */
  /** The IVF search oracle — ONE full-build SQL text shared by
    * q_ann_ivf, q_ann_incremental, and q_ann_incremental_delete: under
    * the frozen seeded quantizer an incremental postings append (or
    * tombstoned delete) is bit-identical to a rebuild over the effective
    * corpus, so all three queries hash to this replay. `corpusPred`
    * restricts the SEARCHABLE corpus (the asg CTE) only — centroids and
    * queries deliberately stay on the full table: the quantizer is
    * frozen (trained before the deletes) and queries are external
    * probes, not corpus members. */
  private def ivfSearchOracleSql(corpusPred: String = "TRUE"): String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
      |n AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nn FROM v),
      |cent AS (SELECT vec_id AS cid, ve AS cv, nn AS cn FROM n WHERE vec_id < 8),
      |asg AS (
      |  SELECT n.vec_id, n.ve, n.nn,
      |    -((max(struct_pack(s := CAST(floor(list_dot_product(n.ve, cent.cv)
      |                                       / (n.nn * cent.cn) * 1000000.0) AS BIGINT),
      |                       nc := -cent.cid))).nc) AS cid
      |  FROM n, cent WHERE $corpusPred GROUP BY n.vec_id, n.ve, n.nn),
      |q AS (SELECT vec_id AS q_id, ve AS qv, nn AS qn FROM n WHERE vec_id < 5),
      |probe AS (
      |  SELECT q_id, cid FROM (
      |    SELECT q.q_id, cent.cid,
      |      row_number() OVER (PARTITION BY q.q_id ORDER BY
      |        CAST(floor(list_dot_product(q.qv, cent.cv)
      |                   / (q.qn * cent.cn) * 1000000.0) AS BIGINT) DESC, cent.cid) AS pr
      |    FROM q, cent) WHERE pr <= 2),
      |cand AS (
      |  SELECT q.q_id, a.vec_id,
      |    CAST(floor(list_dot_product(a.ve, q.qv) / (a.nn * q.qn) * 1000000.0) AS BIGINT) AS sim_ppm
      |  FROM asg a JOIN probe p ON a.cid = p.cid JOIN q ON q.q_id = p.q_id
      |  WHERE a.vec_id <> q.q_id),
      |r AS (
      |  SELECT q_id, vec_id, sim_ppm,
      |         row_number() OVER (PARTITION BY q_id ORDER BY sim_ppm DESC, vec_id) AS rank
      |  FROM cand)
      |SELECT q_id, rank, vec_id, sim_ppm FROM r WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  private def jlYEngine(vCol: String, k: Int): String =
    s"CAST(0 AS BIGINT) " + (0 until 64).map(j =>
      s"${if (JlSigns(k)(j) > 0) "+" else "-"} element_at($vCol, ${j + 1})")
      .mkString(" ")

  /** Oracle SQL text for JL output k over a mils list column `v`. */
  private def jlYSql(k: Int): String =
    "CAST(0 AS BIGINT) " + (0 until 64).map(j =>
      s"${if (JlSigns(k)(j) > 0) "+" else "-"} v[${j + 1}]").mkString(" ")

  /** DuckDB-side word-3-shingle set (mirrors Dedup.wordShingles(_, 3)). */
  private val duckShingles =
    """SELECT doc_id,
      |       list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |                      for i in range(1, len(s)-1)]) AS sh
      |FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)""".stripMargin

  /** DuckDB-side clustered-embedding twin (mirrors
    * Similarity.clusteredEmbeddings: Rademacher md5 centers + 0.25 noise,
    * cluster count = least(256, greatest(8, n // 256)) — the bounded-
    * cluster-SIZE derivation that keeps the corpus ANN-sparse at scale).
    * Yields CTEs v (raw), p (cluster count), cl (vec_id, cluster, ve2). */
  private val duckClustered =
    """v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
      |p AS (SELECT least(256, greatest(8, count(*) // 256)) AS nc FROM v),
      |cl AS (SELECT vec_id, vec_id % p.nc AS cluster,
      |         list_transform(range(0, 64), d ->
      |           CASE WHEN ascii(substr(md5('ctr:' ||
      |             (vec_id % p.nc) || ':' || d), 1, 1)) >= 56
      |                THEN 1.0 ELSE -1.0 END + 0.25 * ve[d::INT + 1]) AS ve2
      |       FROM v, p)""".stripMargin

  /** md5 random-hyperplane signature over a DOUBLE[] column `vcol` at
    * `nbits` — the SQL twin of Similarity.rhpSignaturesMd5 (bit j at
    * position nbits-1-j; coefficient sign = first md5 nibble of "j:i"). */
  private def duckRhpSig(vcol: String, nbits: Int): String =
    s"""CAST(list_sum(list_transform(range(0, $nbits), j ->
       |  CASE WHEN list_sum(list_transform(range(0, 64), i ->
       |         $vcol[i::INT + 1] * CASE WHEN ascii(substr(md5(j || ':' || i), 1, 1)) >= 56
       |                                  THEN 1.0 ELSE -1.0 END)) > 0
       |       THEN (1::BIGINT << (${nbits - 1} - j::INT)) ELSE 0 END)) AS BIGINT)""".stripMargin

  /** Single-pass drift census over events — ONE SQL text shared by
    * q_drift_hist (batch two-slice pass) and q_stream_drift (micro-
    * batch-maintained histogram census): counts merge associatively,
    * so any sharding must hash to this single-pass replay. */
  private[queries] def driftHistOracleSql: String =
    """WITH e AS (SELECT event_type AS g,
      |                  CASE WHEN epoch_us(ts) < 1705363200000000 THEN 0 ELSE 1 END AS per,
      |                  CAST(least(greatest(floor(value/10.0), 0), 9) AS BIGINT) AS bin
      |           FROM events),
      |r AS (SELECT g, bin, count(*) AS n_ref FROM e WHERE per = 0 GROUP BY 1, 2),
      |c AS (SELECT g, bin, count(*) AS n_cur FROM e WHERE per = 1 GROUP BY 1, 2),
      |grid AS (SELECT g, bin FROM (SELECT DISTINCT g FROM e),
      |                            (SELECT unnest(generate_series(0, 9)) AS bin)),
      |cells AS (SELECT grid.g, grid.bin,
      |                 COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
      |          FROM grid LEFT JOIN r ON grid.g = r.g AND grid.bin = r.bin
      |                    LEFT JOIN c ON grid.g = c.g AND grid.bin = c.bin),
      |t AS (SELECT g, sum(n_ref) AS tr, sum(n_cur) AS tc FROM cells GROUP BY 1),
      |d AS (SELECT cells.g, bin, n_ref, n_cur,
      |             CASE WHEN tr > 0 AND tc > 0
      |                  THEN abs(n_ref*tc - n_cur*tr) * 1000000 // (tr*tc)
      |                  ELSE 0 END AS dev_ppm,
      |             CASE WHEN tr > 0 AND tc > 0 AND n_ref*tc + n_cur*tr > 0
      |                  THEN (n_ref*tc - n_cur*tr) * (n_ref*tc - n_cur*tr) * 1000000
      |                       // ((tr*tc) * (n_ref*tc + n_cur*tr))
      |                  ELSE 0 END AS chi2_ppm
      |      FROM cells JOIN t ON cells.g = t.g)
      |SELECT g AS event_type, CAST(sum(n_ref) AS BIGINT) AS n_ref,
      |       CAST(sum(n_cur) AS BIGINT) AS n_cur,
      |       CAST(sum(dev_ppm) AS BIGINT) AS tv2_ppm,
      |       CAST(sum(chi2_ppm) AS BIGINT) AS chi2_ppm
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Single-pass CMS register census over events.user_id — ONE SQL text
    * shared by q_cms_census (batch) and q_stream_cms (per-micro-batch
    * partials merged by register sum): the CMS merge law says any
    * sharding must hash to this single-pass replay. */
  private[queries] def cmsCensusOracleSql: String =
    """WITH r AS (SELECT CAST(x AS BIGINT) AS row_id FROM (VALUES (0), (1), (2), (3)) v(x)),
      |h AS (SELECT row_id,
      |             md5(CAST(row_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)) AS h
      |      FROM events CROSS JOIN r),
      |c AS (SELECT row_id,
      |             CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
      |                + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS BIGINT) AS col_id
      |      FROM h)
      |SELECT row_id, col_id, CAST(count(*) AS BIGINT) AS n
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Single-pass HLL register census over events.user_id — ONE SQL text
    * shared by q_hll_census (batch, per-day shards merged) and
    * q_stream_hll (per-micro-batch partials merged): the merge law says
    * any sharding must hash to this single-pass replay. */
  private[queries] def hllCensusOracleSql: String =
    """WITH h AS (SELECT md5(user_id::VARCHAR) AS h FROM events),
      |x AS (SELECT (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
      |           + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS register,
      |             ltrim(substr(h, 3, 16), '0') AS rest FROM h),
      |r AS (SELECT CAST(register AS BIGINT) AS register,
      |        CAST(CASE WHEN rest = '' THEN 65
      |          ELSE 4 * (16 - length(rest))
      |             + CASE WHEN substr(rest, 1, 1) = '1' THEN 3
      |                    WHEN substr(rest, 1, 1) IN ('2', '3') THEN 2
      |                    WHEN substr(rest, 1, 1) IN ('4', '5', '6', '7') THEN 1
      |                    ELSE 0 END + 1 END AS BIGINT) AS rho
      |      FROM x)
      |SELECT register, max(rho) AS max_rho,
      |       CAST(count(*) AS BIGINT) AS n_rows
      |FROM r GROUP BY register ORDER BY register""".stripMargin

  /** Single-pass bottom-64 of distinct users — ONE SQL text shared by
    * q_kmv_sketch (batch, per-day shards) and q_stream_kmv (per-batch
    * partials): bottom-k merge is exact, so any sharding hashes to this
    * one replay. */
  private[queries] def kmvSketchOracleSql: String =
    """WITH d AS (SELECT DISTINCT user_id AS value FROM events),
      |h AS (SELECT md5(value::VARCHAR) AS h, value FROM d),
      |r AS (SELECT h, value,
      |        row_number() OVER (ORDER BY h, value) AS rank FROM h)
      |SELECT CAST(rank AS BIGINT) AS rank, h, value
      |FROM r WHERE rank <= 64 ORDER BY rank""".stripMargin

  private val IngestBuckets = 5

  /** q_stream_ingest_dedup's oracle: the sequential batch recurrence
    * (survivors_b = batch-b docs with no >= t match in survivors_{<b})
    * unrolled as one MATERIALIZED CTE per batch (the q_kcore lesson:
    * without materialization DuckDB re-inlines the chain and work
    * doubles per level), generated from the same bucket count the
    * streaming source uses. */
  private def ingestDedupOracle(buckets: Int): String = {
    def jacc(a: String, b: String) =
      s"CAST(floor(len(list_intersect($a.sh, $b.sh)) * 1000000.0 / " +
        s"len(list_distinct($a.sh || $b.sh))) AS BIGINT)"
    val survCtes = (0 until buckets).map { b =>
      if (b == 0)
        "s0 AS MATERIALIZED (SELECT doc_id, sh, b FROM d WHERE b = 0)"
      else {
        val priorUnion = (0 until b)
          .map(i => s"SELECT doc_id, sh FROM s$i").mkString(" UNION ALL ")
        s"""s$b AS MATERIALIZED (SELECT doc_id, sh, b FROM d WHERE b = $b
           |  AND doc_id NOT IN (
           |    SELECT x.doc_id FROM d x JOIN ($priorUnion) p
           |    ON x.b = $b AND ${jacc("p", "x")} >= $JaccardThresholdPpm))""".stripMargin
      }
    }
    val survUnion = (0 until buckets).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""WITH sh0 AS ($duckShingles),
       |d AS MATERIALIZED (SELECT doc_id, sh, doc_id % $buckets AS b FROM sh0),
       |${survCtes.mkString(",\n")},
       |surv AS ($survUnion),
       |m AS (SELECT d.doc_id, min(s.doc_id) AS matched_old
       |      FROM d JOIN surv s ON s.b < d.b AND ${jacc("s", "d")} >= $JaccardThresholdPpm
       |      GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(CASE WHEN m.matched_old IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
       |       coalesce(m.matched_old, -1) AS matched_old
       |FROM d LEFT JOIN m USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** q_kcenter's oracle: the greedy recurrence unrolled — one
    * MATERIALIZED distance frame + one LIMIT-1 argmin CTE per round,
    * generated from the same k. */
  private def kcenterOracle(k: Int): String = {
    def sim(a: String, b: String) =
      s"CAST(floor(list_dot_product($a, $b) / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) " +
        s"* 1000000.0) AS BIGINT)"
    val rounds = (1 until k).map { r =>
      s"""s$r AS MATERIALIZED (SELECT vec_id, bs FROM d${r - 1}
         |  ORDER BY bs, vec_id LIMIT 1),
         |d$r AS MATERIALIZED (SELECT d.vec_id, d.ve,
         |  greatest(d.bs, ${sim("d.ve", "c.cv")}) AS bs
         |  FROM d${r - 1} d CROSS JOIN
         |    (SELECT v2.ve AS cv FROM s$r JOIN v v2 USING (vec_id)) c)""".stripMargin
    }
    val out = (1 until k)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, vec_id AS center_id, bs AS sel_sim_ppm FROM s$r")
      .mkString("\nUNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
       |c0 AS (SELECT vec_id, ve AS cv FROM v ORDER BY vec_id LIMIT 1),
       |d0 AS MATERIALIZED (SELECT v.vec_id, v.ve, ${sim("v.ve", "c0.cv")} AS bs
       |  FROM v CROSS JOIN c0),
       |${rounds.mkString(",\n")}
       |SELECT CAST(0 AS BIGINT) AS round, vec_id AS center_id,
       |       CAST(-1 AS BIGINT) AS sel_sim_ppm FROM c0
       |UNION ALL $out
       |ORDER BY round""".stripMargin
  }

  // SQL fragments mirroring TextAnalysis (single source of truth for lists)
  private def duckHits(words: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"

  private def duckList(items: Seq[String]): String =
    items.map(s => s"'$s'").mkString("[", ", ", "]")

  /** The minhash-LSH → exact-Jaccard-verify → connected-components
    * cluster frame shared by q_dedup_clusters (the cluster listing) and
    * q_dedup_keep (the kept-set mask): (doc_id, component, cluster_size)
    * for every CLUSTERED doc. Component label = min doc_id by the
    * min-label propagation, so the canonical representative needs no
    * extra argmin pass. */
  /** The verified near-dup PAIR frame (minhash-LSH candidates → exact
    * Jaccard ≥ threshold), shared by the cluster queries and the
    * incremental-CC query. */
  private def minhashPairsSim(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables.documents(s, dir)
      .withColumn("_toks", TextAnalysis.tokens(col("text")))
    val sh = docs.spreadBy(col("doc_id"))
      .select(col("doc_id"), Dedup.tokenShingles(col("_toks"), 3).as("sh"))
    val sig = Dedup.minhashSignatures(docs, "doc_id",
      Dedup.tokenShingles(col("_toks"), 3), MinhashK)
    // the verified pair frame is consumed by FIVE registry queries
    // (clusters, cluster audit, keep-list, incremental CC, and the pairs
    // view itself) — each used to re-run the whole tokenize → minhash →
    // band join → array verify pipeline; the compact (id_a, id_b, j)
    // result is now content-keyed so the corpus pays ONE build per sweep
    graft.store.Staging.stage(
      Dedup.candidatePairs(
          sig, "doc_id", Dedup.lshBandKeys(col("sig"), Bands, RowsPerBand))
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .withColumn("jaccard_ppm",
          graft.functions.SetOps.jaccardPpmCol(col("sh_a"), col("sh_b")))
        .filter(col("jaccard_ppm") >= JaccardThresholdPpm)
        .select(col("id_a"), col("id_b"), col("jaccard_ppm")),
      "mh_pairs")
  }

  private def minhashPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    minhashPairsSim(s, dir).select(col("id_a"), col("id_b"))

  private def minhashClusters(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    Dedup.connectedComponents(minhashPairs(s, dir))
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("comp", "component")
      .withColumn("cluster_size", count(lit(1)).over(w))
  }

  /** DuckDB CTE prefix computing the same clusters (shared by the two
    * cluster oracles). */
  private val duckClusters =
    s"""WITH RECURSIVE sh AS ($duckShingles
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
       |             / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= $JaccardThresholdPpm
       |), edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
       |), comp AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a
       |)""".stripMargin

  val all: Seq[Q] = Seq(

    // -- deduplication ---------------------------------------------------
    Q("q_dedup_exact",
      (s, dir) =>
        Dedup.exactDupGroups(Tables.documents(s, dir), "doc_id", "text")
          .orderBy("text_md5"),
      Some("""SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS keeper_id
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LSH operating-point tuning table — candidates vs verified
    // precision for three (bands, rows) splits of ONE 16-component
    // md5 minhash signature: the design census behind the registry's
    // (16, 4) production point. Every stage (signature, slice band
    // key, candidate join, exact Jaccard verify) replays
    // bit-identically in the oracle.
    Q("q_lsh_tuning",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
        Dedup.lshTuning(docs, "doc_id", Dedup.tokenShingles(col("_toks"), 3),
            k = 16, configs = Seq((8, 2), (4, 4), (2, 8)),
            thresholdPpm = JaccardThresholdPpm)
          .orderBy(col("bands").desc)
      },
      Some(s"""WITH sh0 AS ($duckShingles),
              |sh AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
              |sigs AS (SELECT doc_id,
              |                [list_min(list_transform(sh,
              |                   s -> md5(CAST(i AS VARCHAR) || ':' || s)))
              |                 for i in range(16)] AS sig
              |         FROM sh),
              |jac AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
              |               CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
              |                    / len(list_distinct(a.sh || b.sh))) AS BIGINT) AS j
              |        FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
              |b82 AS (SELECT doc_id, CAST(t.j AS VARCHAR) || '|' ||
              |               array_to_string(sig[t.j*2+1 : t.j*2+2], ',') AS bk
              |        FROM sigs, unnest(range(8)) AS t(j)),
              |c82 AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
              |        FROM b82 a JOIN b82 b ON a.bk = b.bk AND a.doc_id < b.doc_id),
              |b44 AS (SELECT doc_id, CAST(t.j AS VARCHAR) || '|' ||
              |               array_to_string(sig[t.j*4+1 : t.j*4+4], ',') AS bk
              |        FROM sigs, unnest(range(4)) AS t(j)),
              |c44 AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
              |        FROM b44 a JOIN b44 b ON a.bk = b.bk AND a.doc_id < b.doc_id),
              |b28 AS (SELECT doc_id, CAST(t.j AS VARCHAR) || '|' ||
              |               array_to_string(sig[t.j*8+1 : t.j*8+8], ',') AS bk
              |        FROM sigs, unnest(range(2)) AS t(j)),
              |c28 AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
              |        FROM b28 a JOIN b28 b ON a.bk = b.bk AND a.doc_id < b.doc_id),
              |agg AS (
              |  SELECT CAST(8 AS BIGINT) AS bands, CAST(2 AS BIGINT) AS rows_per_band,
              |         CAST(count(*) AS BIGINT) AS n_candidates,
              |         CAST(coalesce(sum(CASE WHEN j >= $JaccardThresholdPpm
              |                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_verified
              |  FROM c82 JOIN jac USING (ia, ib)
              |  UNION ALL
              |  SELECT 4, 4, CAST(count(*) AS BIGINT),
              |         CAST(coalesce(sum(CASE WHEN j >= $JaccardThresholdPpm
              |                           THEN 1 ELSE 0 END), 0) AS BIGINT)
              |  FROM c44 JOIN jac USING (ia, ib)
              |  UNION ALL
              |  SELECT 2, 8, CAST(count(*) AS BIGINT),
              |         CAST(coalesce(sum(CASE WHEN j >= $JaccardThresholdPpm
              |                           THEN 1 ELSE 0 END), 0) AS BIGINT)
              |  FROM c28 JOIN jac USING (ia, ib))
              |SELECT bands, rows_per_band, n_candidates, n_verified,
              |       CAST(CASE WHEN n_candidates > 0 THEN
              |         CAST(n_verified AS HUGEINT) * 1000000 // n_candidates
              |         END AS BIGINT) AS precision_ppm
              |FROM agg ORDER BY bands DESC""".stripMargin)),

    // PREFIX dedup census — the cheap first pass before shingling:
    // mirror sites and truncated re-crawls share their opening bytes
    // long before they agree end-to-end. Groups colliding on the
    // md5 of the first 64 chars, split into exact copies vs
    // same-opening-different-body (the MinHash candidates). One
    // (hash, hash) pair per doc shuffles; text never moves.
    Q("q_dedup_prefix",
      (s, dir) =>
        Dedup.prefixDupGroups(Tables.documents(s, dir), "doc_id", "text", 64)
          .orderBy("prefix_md5"),
      Some("""SELECT md5(substr(text, 1, 64)) AS prefix_md5,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
             |       min(doc_id) AS keeper_id
             |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)),

    // Vocabulary-richness census — the lexical-diversity quality gate
    // (template spam collapses the type-token ratio; OCR noise inflates
    // the hapax share). One (lang, term) frequency census; the rollup
    // rides the census.
    Q("q_hapax_ratio",
      (s, dir) => TextAnalysis.hapaxCensus(
          Tables.documents(s, dir), col("lang"), "text")
        .withColumnRenamed("g", "lang").orderBy("lang"),
      Some("""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS term
             |           FROM documents),
             |tf AS (SELECT lang, term, count(*) AS f FROM t
             |       WHERE term <> '' GROUP BY 1, 2),
             |a AS (SELECT lang, CAST(sum(f) AS BIGINT) AS n_tokens,
             |             CAST(count(*) AS BIGINT) AS n_vocab,
             |             CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
             |      FROM tf GROUP BY 1)
             |SELECT lang, n_tokens, n_vocab, n_hapax,
             |       CAST(CAST(n_vocab AS HUGEINT) * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
             |       CAST(CAST(n_hapax AS HUGEINT) * 1000000 // n_vocab AS BIGINT) AS hapax_ppm
             |FROM a ORDER BY lang""".stripMargin)),

    // Zipf-law fit per language — the power-law census sanity check
    // (natural language sits near slope −1 in log-log rank-frequency;
    // generated or truncated corpora drift). All-integer via bit
    // length; terms are NEVER individually ranked — the fit runs on
    // the (freq, n_terms) class census, whose rank ranges are closed
    // form (see TextAnalysis.zipfFit). The oracle ranks naively: any
    // within-class tiebreak leaves the per-class rank multiset — and
    // every sum — unchanged, which is the equivalence the spec pins.
    Q("q_zipf_fit",
      (s, dir) => TextAnalysis.zipfFit(
          Tables.documents(s, dir), col("lang"), "text")
        .withColumnRenamed("g", "lang").orderBy("lang"),
      Some("""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS term
             |           FROM documents),
             |tf AS (SELECT lang, term, count(*) AS f FROM t
             |       WHERE term <> '' GROUP BY 1, 2),
             |r AS (SELECT lang, f,
             |             row_number() OVER (PARTITION BY lang ORDER BY f DESC, term) AS rk
             |      FROM tf),
             |xy AS (SELECT lang, CAST(length(bin(rk)) - 1 AS BIGINT) AS x,
             |              CAST(length(bin(f)) - 1 AS BIGINT) AS y FROM r),
             |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
             |             CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
             |             CAST(sum(x * y) AS BIGINT) AS sum_xy,
             |             CAST(sum(x * x) AS BIGINT) AS sum_xx
             |      FROM xy GROUP BY 1)
             |SELECT lang, n_terms, sum_x, sum_y, sum_xy, sum_xx,
             |       CAST(CASE WHEN n_terms * sum_xx - sum_x * sum_x <> 0 THEN
             |         (CAST(n_terms AS HUGEINT) * sum_xy - CAST(sum_x AS HUGEINT) * sum_y)
             |           * 1000000
             |           // (CAST(n_terms AS HUGEINT) * sum_xx - CAST(sum_x AS HUGEINT) * sum_x)
             |         END AS BIGINT) AS slope_ppm
             |FROM a ORDER BY lang""".stripMargin)),

    Q("q_dedup_minhash",
      (s, dir) => {
        // _toks bound as a real column BEFORE the shingle HOF (see
        // Dedup.tokenShingles: a captured split would re-run per element)
        val docs = Tables.documents(s, dir)
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
        val sh = docs.spreadBy(col("doc_id"))
          .select(col("doc_id"), Dedup.tokenShingles(col("_toks"), 3).as("sh"))
        val sig = Dedup.minhashSignatures(docs, "doc_id",
          Dedup.tokenShingles(col("_toks"), 3), MinhashK)
        val cands = Dedup.candidatePairs(
          sig, "doc_id", Dedup.lshBandKeys(col("sig"), Bands, RowsPerBand))
        cands
          .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .withColumn("jaccard_ppm", graft.functions.SetOps.jaccardPpmCol(col("sh_a"), col("sh_b")))
          .filter(col("jaccard_ppm") >= JaccardThresholdPpm)
          .select(col("id_a"), col("id_b"), col("jaccard_ppm"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH sh AS ($duckShingles)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
              |                  / len(list_distinct(a.sh || b.sh))) AS BIGINT) AS jaccard_ppm
              |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |WHERE CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
              |                 / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= $JaccardThresholdPpm
              |ORDER BY id_a, id_b""".stripMargin)),

    // Cross-source duplication census — the dataset-curation diagnostic
    // ("how much of source A is recycled in source B?") that decides
    // which sources to keep, downweight, or dedup first: verified
    // near-dup pairs (the q_dedup_minhash pipeline: banded candidates,
    // exact shingle-Jaccard verify) aggregated into an unordered
    // source×source matrix. Pair volume is the dedup pipeline's own
    // (valve-capped) candidate set; the census adds one (source_a,
    // source_b) groupBy of id pairs — text never ships.
    Q("q_source_overlap",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
        val sh = docs.spreadBy(col("doc_id"))
          .select(col("doc_id"), Dedup.tokenShingles(col("_toks"), 3).as("sh"))
        val sig = Dedup.minhashSignatures(docs, "doc_id",
          Dedup.tokenShingles(col("_toks"), 3), MinhashK)
        val cands = Dedup.candidatePairs(
          sig, "doc_id", Dedup.lshBandKeys(col("sig"), Bands, RowsPerBand))
        val pairs = cands
          .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .filter(graft.functions.SetOps.jaccardPpmCol(col("sh_a"), col("sh_b"))
            >= JaccardThresholdPpm)
          .select(col("id_a"), col("id_b"))
        val srcs = docs.select(col("doc_id"), col("source"))
        pairs
          .join(srcs.select(col("doc_id").as("id_a"), col("source").as("_sa")), Seq("id_a"))
          .join(srcs.select(col("doc_id").as("id_b"), col("source").as("_sb")), Seq("id_b"))
          .select(least(col("_sa"), col("_sb")).as("source_a"),
            greatest(col("_sa"), col("_sb")).as("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH sh AS ($duckShingles),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |      WHERE CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
              |                       / len(list_distinct(a.sh || b.sh))) AS BIGINT)
              |            >= $JaccardThresholdPpm)
              |SELECT least(da.source, db.source) AS source_a,
              |       greatest(da.source, db.source) AS source_b,
              |       CAST(count(*) AS BIGINT) AS n_pairs
              |FROM p JOIN documents da ON da.doc_id = p.id_a
              |       JOIN documents db ON db.doc_id = p.id_b
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Diversity-maximizing coreset selection: Gonzalez k-center greedy
    // (2-approx for the k-center objective) — 8 rounds, each adding the
    // point farthest (smallest max-cosine) from the chosen set, ties to
    // smaller id. Corpus state is ONE running-max column; a round = one
    // map-side argmin (1-row collect, the bounded k-centroids class) +
    // one row-local fold vs the 1-row broadcast center. The oracle
    // unrolls the same recurrence as materialized LIMIT-1 CTEs,
    // generated from the same k.
    Q("q_kcenter",
      (s, dir) => Clustering.kCenterGreedy(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8),
      Some(kcenterOracle(8))),

    // Matryoshka-style truncation audit: recall@10 of searching with
    // only the FIRST 16 of 64 embedding dimensions against the full-
    // dimension exact top-10 — the measurement that licenses (or vetoes)
    // the 4x cheaper truncated index a production ANN tier wants. Both
    // sides are the already-verified exact scorer; only the vector slice
    // differs, so the row documents the truncation contract itself.
    Q("q_ann_recall_trunc",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val full = Similarity.topKExact(emb, queries,
          "vec_id", "embedding", "q_id", "q_vec", 10)
        val embT = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
        val queriesT = queries.select(col("q_id"), slice(col("q_vec"), 1, 16).as("q_vec"))
        val trunc = Similarity.topKExact(embT, queriesT,
          "vec_id", "embedding", "q_id", "q_vec", 10)
        full.as("e")
          .join(trunc.as("a"),
            col("e.q_id") === col("a.q_id") && col("e.vec_id") === col("a.vec_id"), "left")
          .groupBy(col("e.q_id").as("q_id"))
          .agg(floor(sum(when(col("a.vec_id").isNotNull, 1L).otherwise(0L))
            * lit(1000000L) / count(lit(1))).cast("long").as("recall_ppm"))
          .orderBy("q_id")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |q AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 5),
             |exact AS (
             |  SELECT q.q_id, e.vec_id,
             |         row_number() OVER (PARTITION BY q.q_id ORDER BY
             |           CAST(floor(list_dot_product(e.ve, q.qe)
             |             / (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe)))
             |             * 1000000.0) AS BIGINT) DESC, e.vec_id) AS rank
             |  FROM v e, q WHERE e.vec_id <> q.q_id),
             |trunc AS (
             |  SELECT q.q_id, e.vec_id,
             |         row_number() OVER (PARTITION BY q.q_id ORDER BY
             |           CAST(floor(list_dot_product(e.ve[1:16], q.qe[1:16])
             |             / (sqrt(list_dot_product(e.ve[1:16], e.ve[1:16]))
             |                * sqrt(list_dot_product(q.qe[1:16], q.qe[1:16])))
             |             * 1000000.0) AS BIGINT) DESC, e.vec_id) AS rank
             |  FROM v e, q WHERE e.vec_id <> q.q_id)
             |SELECT e.q_id,
             |       CAST(floor(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             |                  * 1000000.0 / count(*)) AS BIGINT) AS recall_ppm
             |FROM (SELECT * FROM exact WHERE rank <= 10) e
             |LEFT JOIN (SELECT * FROM trunc WHERE rank <= 10) t
             |  ON t.q_id = e.q_id AND t.vec_id = e.vec_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact all-pairs similarity join via PREFIX FILTERING (PPJoin, Xiao
    // et al. 2011) — the deterministic-recall counterpart to the
    // probabilistic minhash-LSH above, over the SAME 3-token shingle
    // sets and threshold: every pair with Jaccard ≥ 0.8 is provably a
    // candidate (any qualifying pair must share a token in its
    // rarest-first prefix under one global (df, shingle) order), so the
    // blocked output EQUALS the all-pairs oracle by theorem, not by
    // tuned banding. Candidates fan out on rare shingles (selective
    // buckets), never boilerplate. Raw word-sets would be the wrong
    // granularity on a small vocabulary (26% of all pairs pass 0.8 —
    // nothing to prune); shingles make the prefix filter bite.
    Q("q_dedup_ppjoin",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
        Dedup.ppjoinPairs(docs, "doc_id", Dedup.tokenShingles(col("_toks"), 3),
            minJacPpm = 800000L)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH sh AS ($duckShingles)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
              |                  / len(list_distinct(a.sh || b.sh))) AS BIGINT) AS jac_ppm
              |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |WHERE CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
              |                 / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= 800000
              |ORDER BY id_a, id_b""".stripMargin)),

    // Fixed-width record linkage (ID/phone/code typo matching): customer
    // pairs whose 18-char names differ in ≤ 2 positions, exact Hamming.
    // Multi-index-hashing pigeonhole blocking with ROUND-ROBIN position
    // classes (a contiguous split degenerates on this corpus: the
    // constant "Customer#0..." run puts every record in one bucket);
    // recall is deterministic, so the blocked output EQUALS the
    // brute-force oracle by theorem.
    Q("q_er_hamming",
      (s, dir) => Dedup.hammingBlockedPairs(
          Tables.customer(s, dir).filter(col("c_custkey") < 500),
          "c_custkey", col("c_name"), width = 18, maxMismatch = 2)
        .orderBy("id_a", "id_b"),
      Some {
        val hd = (1 to 18).map(i =>
          s"CASE WHEN substring(a.c_name,$i,1)<>substring(b.c_name,$i,1) THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH s AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 500),
           |h AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           |             CAST($hd AS BIGINT) AS hamming
           |      FROM s a JOIN s b ON a.c_custkey < b.c_custkey)
           |SELECT id_a, id_b, hamming FROM h WHERE hamming <= 2
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // Sorted-neighborhood ER (Hernández–Stolfo): rank by the key, verify
    // only pairs within w=5 positions — the classic HEURISTIC blocking
    // (window-bounded recall; the paper's multi-pass method = union with
    // q_er_hamming's guaranteed pigeonhole pass). Ranks are banded on a
    // monotone key prefix (the range-partitioner contract), neighbor
    // pairs come from the 1-D rank-bucket binned join. The window
    // semantics are deterministic, so the oracle replays them exactly.
    Q("q_er_sorted",
      (s, dir) => Dedup.sortedNeighborPairs(
          Tables.customer(s, dir).filter(col("c_custkey") < 500),
          "c_custkey", col("c_name"), substring(col("c_name"), 16, 1),
          width = 18, w = 5, maxMismatch = 3)
        .orderBy("id_a", "id_b"),
      Some {
        val hd = (1 to 18).map(i =>
          s"CASE WHEN substring(a.c_name,$i,1)<>substring(b.c_name,$i,1) THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH s AS (SELECT c_custkey, c_name,
           |                  row_number() OVER (ORDER BY c_name, c_custkey) AS rn
           |           FROM customer WHERE c_custkey < 500),
           |h AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           |             CAST($hd AS BIGINT) AS hamming
           |      FROM s a JOIN s b ON b.rn - a.rn BETWEEN 1 AND 5)
           |SELECT id_a, id_b, hamming FROM h WHERE hamming <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // Blocking-quality audit of the sorted-neighborhood blocker:
    // reduction ratio (pairs spared vs brute n(n-1)/2) and pair
    // completeness (true hamming<=1 matches the w=5 window kept) — the
    // eval that says whether the HEURISTIC blocker is safe to ship
    // where the pigeonhole one is guaranteed. Candidates = the
    // q_er_sorted window with the verify filter OPEN (maxMismatch =
    // width); truth = the exact-recall pigeonhole pairs at hamming<=1.
    Q("q_er_quality",
      (s, dir) => {
        val cust = Tables.customer(s, dir).filter(col("c_custkey") < 500)
        val cand = Dedup.sortedNeighborPairs(cust, "c_custkey", col("c_name"),
          substring(col("c_name"), 16, 1), width = 18, w = 5, maxMismatch = 18)
        val truth = Dedup.hammingBlockedPairs(cust, "c_custkey", col("c_name"),
          width = 18, maxMismatch = 1)
        Dedup.blockingQuality(cand, truth, cust.select(col("c_custkey")))
      },
      Some {
        val hd = (1 to 18).map(i =>
          s"CASE WHEN substring(a.c_name,$i,1)<>substring(b.c_name,$i,1) THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH s AS (SELECT c_custkey, c_name,
           |                  row_number() OVER (ORDER BY c_name, c_custkey) AS rn
           |           FROM customer WHERE c_custkey < 500),
           |cand AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
           |         FROM s a JOIN s b ON b.rn - a.rn BETWEEN 1 AND 5),
           |cn AS (SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
           |       FROM cand GROUP BY 1, 2),
           |truth AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
           |          FROM s a JOIN s b ON a.c_custkey < b.c_custkey
           |          WHERE $hd <= 1),
           |m AS (SELECT (SELECT count(*) FROM s) AS n_rec,
           |             (SELECT count(*) FROM cn) AS n_cand,
           |             (SELECT count(*) FROM truth) AS n_true,
           |             (SELECT count(*) FROM truth t
           |              WHERE EXISTS (SELECT 1 FROM cn
           |                            WHERE cn.id_a = t.id_a AND cn.id_b = t.id_b))
           |               AS n_caught)
           |SELECT CAST(n_rec AS BIGINT) AS n_rec, CAST(n_cand AS BIGINT) AS n_cand,
           |       CAST(n_true AS BIGINT) AS n_true, CAST(n_caught AS BIGINT) AS n_caught,
           |       CAST((CAST(n_rec AS HUGEINT) * (n_rec - 1) // 2 - n_cand) * 1000000
           |            // (CAST(n_rec AS HUGEINT) * (n_rec - 1) // 2) AS BIGINT)
           |         AS reduction_ratio_ppm,
           |       CAST(CASE WHEN n_true > 0
           |            THEN CAST(n_caught AS HUGEINT) * 1000000 // n_true
           |            END AS BIGINT) AS completeness_ppm
           |FROM m""".stripMargin
      }),

    // Edit-distance-1 fuzzy self-join by deletion neighborhoods (FastSS/
    // SymSpell): every distinct customer name joined to every name one
    // substitution/insertion/deletion away. Exact recall by the shared-
    // deletion-variant theorem (no window, no probability — unlike
    // q_er_sorted), candidates Σ bucket² over variant buckets (≤ 10 on
    // this corpus: names differing at one digit), verified with one
    // codegen'd levenshtein. Oracle is the brute-force quadratic
    // levenshtein join — equality is the recall proof.
    Q("q_fuzzy_join",
      (s, dir) => Dedup.fuzzyPairsEd1(
          Tables.customer(s, dir).select(col("c_name")), "c_name")
        .orderBy("s_a", "s_b"),
      Some("""WITH n AS (SELECT DISTINCT c_name AS s FROM customer)
             |SELECT a.s AS s_a, b.s AS s_b,
             |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
             |FROM n a JOIN n b
             |  ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 1
             |WHERE levenshtein(a.s, b.s) <= 1
             |ORDER BY 1, 2""".stripMargin)),

    // Edit-distance ≤ 2 fuzzy self-join — the k = 2 FastSS
    // generalization of q_fuzzy_join (depth-≤2 deletion neighborhoods,
    // exact recall by the deletion theorem; equality with the brute
    // quadratic oracle IS the recall proof). Scoped to 2,000 names so
    // the oracle's n² levenshtein stays tractable; the engine side
    // never goes quadratic.
    Q("q_fuzzy_join2",
      (s, dir) => Dedup.fuzzyPairsEd2(
          Tables.customer(s, dir).filter(col("c_custkey") <= 2000)
            .select(col("c_name")), "c_name")
        .orderBy("s_a", "s_b"),
      Some("""WITH n AS (SELECT DISTINCT c_name AS s FROM customer
             |           WHERE c_custkey <= 2000)
             |SELECT a.s AS s_a, b.s AS s_b,
             |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
             |FROM n a JOIN n b
             |  ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 2
             |WHERE levenshtein(a.s, b.s) <= 2
             |ORDER BY 1, 2""".stripMargin)),

    // Golden-record resolution: verified ER pairs → connected components
    // → one canonical record (min id — the component label itself) per
    // entity cluster, with cluster size. The ER composition a master-
    // data pipeline actually ships; the mod-7 scope keeps the key graph
    // from collapsing into one transitive blob (35 clusters, sizes ≤ 4
    // at sf0.01). Oracle: recursive-CTE closure over the same pair set.
    Q("q_er_golden",
      (s, dir) => {
        val cust = Tables.customer(s, dir)
          .filter(col("c_custkey") < 500 && col("c_custkey") % 7 === 0)
        val pairs = Dedup.hammingBlockedPairs(
          cust, "c_custkey", col("c_name"), width = 18, maxMismatch = 1)
          .select(col("id_a"), col("id_b"))
        val comps = Dedup.connectedComponents(pairs)
          .select(col("id").as("c_custkey"), col("comp"))
        cust.select(col("c_custkey"))
          .join(comps, Seq("c_custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("comp"), col("c_custkey")).as("canonical_id"))
          .withColumn("cluster_size",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("canonical_id"))))
          .orderBy("c_custkey")
      },
      Some {
        val hd = (1 to 18).map(i =>
          s"CASE WHEN substring(a.c_name,$i,1)<>substring(b.c_name,$i,1) THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH RECURSIVE s AS (
           |  SELECT c_custkey, c_name FROM customer
           |  WHERE c_custkey < 500 AND c_custkey % 7 = 0),
           |h AS (SELECT a.c_custkey AS ia, b.c_custkey AS ib
           |      FROM s a JOIN s b ON a.c_custkey < b.c_custkey
           |      WHERE $hd <= 1),
           |edges AS (SELECT ia AS a, ib AS b FROM h UNION SELECT ib, ia FROM h),
           |reach(a, b) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
           |comp AS (SELECT a AS id, least(a, min(b)) AS canonical FROM reach GROUP BY a)
           |SELECT s.c_custkey,
           |       coalesce(comp.canonical, s.c_custkey) AS canonical_id,
           |       count(*) OVER (PARTITION BY coalesce(comp.canonical, s.c_custkey)) AS cluster_size
           |FROM s LEFT JOIN comp ON comp.id = s.c_custkey
           |ORDER BY c_custkey""".stripMargin
      }),

    // Near-dup CLUSTERS: verified minhash pairs → connected components →
    // (doc, component, cluster size). Oracle: transitive closure via a
    // recursive CTE over the identical pair set.
    Q("q_dedup_clusters",
      (s, dir) => minhashClusters(s, dir).orderBy("doc_id"),
      Some(s"""$duckClusters
              |SELECT doc_id, component, count(*) OVER (PARTITION BY component) AS cluster_size
              |FROM comp ORDER BY doc_id""".stripMargin)),

    // Transitive-cluster quality audit: per near-dup cluster, the
    // weakest verified edge (min pairwise Jaccard). Transitivity is THE
    // known near-dup-cluster failure mode — A~B~C chains collapse docs
    // that never matched each other; a big cluster whose min edge sits
    // at the threshold is a chain, not a family. Edges join their
    // component via one id-keyed join; the verdict is O(clusters).
    Q("q_cluster_diameter",
      (s, dir) => minhashPairsSim(s, dir)
        .join(minhashClusters(s, dir)
          .select(col("doc_id").as("id_a"), col("component"), col("cluster_size")),
          Seq("id_a"))
        .groupBy(col("component"))
        .agg(max(col("cluster_size")).as("cluster_size"),
          count(lit(1)).as("n_edges"),
          min(col("jaccard_ppm")).as("min_sim_ppm"),
          max(col("jaccard_ppm")).as("max_sim_ppm"))
        .orderBy("component"),
      Some(s"""$duckClusters,
              |ps AS (
              |  SELECT a.doc_id AS id_a,
              |         CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
              |              / len(list_distinct(a.sh || b.sh))) AS BIGINT) AS j
              |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |  WHERE CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
              |             / len(list_distinct(a.sh || b.sh))) AS BIGINT) >= $JaccardThresholdPpm
              |),
              |cs AS (SELECT component, count(*) AS n FROM comp GROUP BY 1)
              |SELECT c.component AS component,
              |       CAST(max(cs.n) AS BIGINT) AS cluster_size,
              |       count(*) AS n_edges,
              |       min(ps.j) AS min_sim_ppm, max(ps.j) AS max_sim_ppm
              |FROM ps JOIN comp c ON ps.id_a = c.doc_id
              |JOIN cs ON c.component = cs.component
              |GROUP BY 1 ORDER BY c.component""".stripMargin)),

    // INCREMENTAL connected components: the same cluster listing as
    // q_dedup_clusters, computed by a different plan — docs with
    // doc_id % 10 == 3 play the newly-ingested batch: base CC runs on
    // pairs among the old docs only, the batch's pairs contract to
    // current labels and CC runs on that batch-sized graph, the relabel
    // map broadcasts back. Hash-equality with the from-scratch oracle
    // IS the correctness proof that incremental merge == full recompute
    // (min-label contraction argument in Dedup.incrementalComponents).
    Q("q_cc_incremental",
      (s, dir) => {
        val pairs = graft.store.Staging.stage(minhashPairs(s, dir), "ccinc_pairs")
        val isNew = (c: org.apache.spark.sql.Column) => pmod(c, lit(10L)) === 3L
        val basePairs = pairs.filter(!isNew(col("id_a")) && !isNew(col("id_b")))
        val batchPairs = pairs.filter(isNew(col("id_a")) || isNew(col("id_b")))
        val baseLabels = graft.store.Staging.stage(
          Dedup.connectedComponents(basePairs), "ccinc_base")
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
        Dedup.incrementalComponents(baseLabels, batchPairs)
          .withColumnRenamed("id", "doc_id")
          .withColumnRenamed("comp", "component")
          .withColumn("cluster_size", count(lit(1)).over(w))
          .orderBy("doc_id")
      },
      Some(s"""$duckClusters
              |SELECT doc_id, component, count(*) OVER (PARTITION BY component) AS cluster_size
              |FROM comp ORDER BY doc_id""".stripMargin)),

    // The dedup OUTPUT a pipeline actually consumes: a kept/dropped mask
    // over every document. Keep rule = the cluster's canonical
    // representative (min doc_id — which IS the component label under
    // min-label propagation, no extra argmin pass) plus every
    // unclustered doc. Composes the verified cluster pipeline with one
    // left join; at scale the mask join is a broadcast of the (small)
    // clustered set against the full corpus.
    Q("q_dedup_keep",
      (s, dir) => {
        val cc = minhashClusters(s, dir)
        Tables.documents(s, dir).select(col("doc_id"))
          .join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("component").isNull || col("component") === col("doc_id"), 1)
              .otherwise(0).as("kept"),
            coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
          .orderBy("doc_id")
      },
      Some(s"""$duckClusters,
              |cz AS (
              |  SELECT doc_id, component,
              |         count(*) OVER (PARTITION BY component) AS cluster_size
              |  FROM comp)
              |SELECT d.doc_id,
              |  CASE WHEN c.component IS NULL OR c.component = d.doc_id
              |       THEN 1 ELSE 0 END AS kept,
              |  coalesce(c.cluster_size, 1) AS cluster_size
              |FROM documents d LEFT JOIN cz c USING (doc_id)
              |ORDER BY d.doc_id""".stripMargin)),

    Q("q_dedup_simhash",
      (s, dir) => {
        // row-local kernel fingerprint (pure projection; bit-identical to
        // the explode-and-vote frame — DedupSpec differential + this
        // query's DuckDB VALUE oracle both pin it)
        val fp = Dedup.simhash32FpFrame(Tables.documents(s, dir), "doc_id", "text")
        val q0 = fp.filter(col("doc_id") === 0).select(col("fp").as("fp0"))
        fp.crossJoin(broadcast(q0))
          .select(col("doc_id"), col("fp"),
            Dedup.hamming(col("fp"), col("fp0")).cast("long").as("hamming_to_doc0"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
             |  SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS hs
             |  FROM documents
             |), fp AS (
             |  SELECT doc_id,
             |    CAST(list_sum(list_transform(range(1, 33), j ->
             |      CASE WHEN list_sum(list_transform(hs, h ->
             |             CASE WHEN substr(h, j::INT, 1) IN ('8','9','a','b','c','d','e','f')
             |                  THEN 1 ELSE -1 END)) > 0
             |           THEN (1::BIGINT << (32 - j::INT)) ELSE 0 END)) AS BIGINT) AS fp
             |  FROM h
             |)
             |SELECT a.doc_id, a.fp, CAST(bit_count(xor(a.fp, b.fp0)) AS BIGINT) AS hamming_to_doc0
             |FROM fp a, (SELECT fp AS fp0 FROM fp WHERE doc_id = 0) b
             |ORDER BY a.doc_id""".stripMargin)),

    // MinHash estimator contract, end-to-end checked: with the md5
    // string family (Dedup.minhashSignaturesMd5) the per-component mins
    // are bit-reproducible in an external engine, so the oracle verifies
    // the estimator's agreement count itself — not just the exact
    // Jaccard it tracks. Pairs: all (a < b) among doc_id < 30 with
    // non-empty shingle sets (docs without shingles cannot pair).
    Q("q_minhash_estimate",
      (s, dir) => {
        val docs = Tables.documents(s, dir).filter(col("doc_id") < 30)
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
        val sh = docs.spreadBy(col("doc_id"))
          .select(col("doc_id"), Dedup.tokenShingles(col("_toks"), 3).as("sh"))
          .filter(size(col("sh")) > 0)
        val sig = Dedup.minhashSignaturesMd5(docs, "doc_id",
          Dedup.tokenShingles(col("_toks"), 3), 32)
        val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
          .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
          .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        a.join(broadcast(b), col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            Dedup.minhashEstimatePpm(col("sig_a"), col("sig_b")).as("est_ppm"),
            graft.functions.SetOps.jaccardPpmCol(col("sh_a"), col("sh_b")).as("exact_ppm"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH sh0 AS ($duckShingles),
              |sh AS (SELECT doc_id, sh FROM sh0 WHERE doc_id < 30 AND len(sh) > 0),
              |sig AS (
              |  SELECT doc_id,
              |         [list_min(list_transform(sh, x -> md5(i || ':' || x))) for i in range(0, 32)] AS sig
              |  FROM sh
              |)
              |SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
              |  CAST(floor(len(list_filter(range(1, 33), i -> sga.sig[i::INT] = sgb.sig[i::INT]))
              |             * 1000000.0 / 32) AS BIGINT) AS est_ppm,
              |  CAST(floor(len(list_intersect(sa.sh, sb.sh)) * 1000000.0
              |             / len(list_distinct(sa.sh || sb.sh))) AS BIGINT) AS exact_ppm
              |FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
              |JOIN sig sga ON sga.doc_id = sa.doc_id
              |JOIN sig sgb ON sgb.doc_id = sb.doc_id
              |ORDER BY id_a, id_b""".stripMargin)),

    // 64-bit xxhash64-family SimHash — the production-width fingerprint.
    // No external engine reproduces Spark's seeded xxhash64, so fp VALUES
    // are unverifiable outside Spark; the oracle instead pins the defining
    // determinism invariant end-to-end: every group of identical texts
    // collapses to exactly one fingerprint. (The 32-bit md5 family in
    // q_dedup_simhash is value-checked; same explode→vote→pack plumbing.)
    Q("q_dedup_simhash64",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val fp = Dedup.simhash64FpFrame(docs, "doc_id", "text")
        docs.select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
          .join(fp, Seq("doc_id"))
          .groupBy(col("text_md5"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("fp")).as("n_distinct_fp"))
          .orderBy("text_md5")
      },
      Some("""SELECT md5(text) AS text_md5, count(*) AS n_docs, CAST(1 AS BIGINT) AS n_distinct_fp
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Manku-style simhash near-dup pairs: fingerprints split into 4
    // 8-bit blocks, candidates bucket-joined on (block, value), verified
    // by hamming ≤ 3 — by pigeonhole a pair within 3 bits ALWAYS shares
    // a block, so recall at that radius is exact while comparisons stay
    // within buckets (never all-pairs). md5-nibble family ⇒ the whole
    // pipeline (fp, blocks, pairs, hamming) is value-checked in DuckDB.
    Q("q_dedup_simhash_neardup",
      (s, dir) => {
        val fps = Dedup.simhash32FpFrame(Tables.documents(s, dir), "doc_id", "text")
        Dedup.simhashNearDupPairs(fps, "doc_id", "fp",
            nbits = 32, blocks = 4, maxHamming = 3)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH h AS (
             |  SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS hs
             |  FROM documents
             |), fp AS (
             |  SELECT doc_id,
             |    CAST(list_sum(list_transform(range(1, 33), j ->
             |      CASE WHEN list_sum(list_transform(hs, h ->
             |             CASE WHEN substr(h, j::INT, 1) IN ('8','9','a','b','c','d','e','f')
             |                  THEN 1 ELSE -1 END)) > 0
             |           THEN (1::BIGINT << (32 - j::INT)) ELSE 0 END)) AS BIGINT) AS fp
             |  FROM h
             |), blk AS (
             |  SELECT doc_id, fp, b, (fp >> (b::INT * 8)) & 255 AS bv
             |  FROM fp, range(0, 4) t(b)
             |), cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fp_a, b.fp AS fp_b
             |  FROM blk a JOIN blk b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
             |)
             |SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
             |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // The PRODUCTION near-dup path: 64-bit xxhash64 simhash (the 32-bit
    // md5 family above is the oracle-checkable demo; its fingerprint
    // space saturates at billions of docs), 6 blocks × 10 bits, verified
    // hamming ≤ 5. Recall at the radius is still exact: ≤5 differing
    // covered bits ruin at most 5 of the 6 blocks, and diffs in the 4
    // uncovered top bits ruin none, so some block always matches.
    // No external engine reproduces seeded xxhash64, so like
    // q_dedup_simhash64 the oracle pins the determinism/recall invariant
    // instead of fp values: identical texts hash to identical
    // fingerprints, so EVERY same-text pair must surface with hamming 0
    // (a missed pair drops a row → red; a nonzero hamming → hash red).
    // The corpus has no exact-dup texts below sf0.1, so 10 duplicates are
    // PLANTED (docs 0-9 unioned back under offset ids — the standard
    // known-answer recall fixture); the oracle derives the same-text pair
    // set generically over the same augmented corpus, so natural dups
    // (8 groups at sf0.1) are covered too. DedupSpec additionally
    // differential-tests the 64-bit pipeline against brute-force
    // all-pairs bit_count.
    Q("q_dedup_simhash_neardup64",
      (s, dir) => {
        val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val docs = base.unionByName(
          base.filter(col("doc_id") < 10)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        val fps = Dedup.simhash64FpFrame(docs, "doc_id", "text")
        val pairs = Dedup.simhashNearDupPairs(fps, "doc_id", "fp",
          nbits = 64, blocks = 6, maxHamming = 5)
        val keyed = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("_m"))
        val sameText = keyed.select(col("doc_id").as("id_a"), col("_m"))
          .join(keyed.select(col("doc_id").as("id_b"), col("_m")), Seq("_m"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
        pairs.join(sameText, Seq("id_a", "id_b"))
          .select(col("id_a"), col("id_b"), col("hamming"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
             |FROM corpus a JOIN corpus b
             |  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
             |ORDER BY id_a, id_b""".stripMargin)),

    // Eval-set decontamination: corpus docs (doc_id >= 25) whose 5-gram
    // shingle sets overlap an eval doc (doc_id < 25) — the test-set
    // leakage check every training pipeline runs. Candidates via
    // inverted-index join on the shingle itself (exact recall — any pair
    // with Jaccard > 0 shares a shingle), df-capped as the skew valve,
    // then exact Jaccard from |A|, |B|, |A∩B|. One row per overlapping
    // corpus doc: best eval match + contaminated flag at 0.5.
    Q("q_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.contaminationFlags(
            docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
            "doc_id", "text", n = 5, minJacPpm = 500000L)
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
             |  SELECT doc_id, list_distinct([substr(text, i::INT, 5) for i in range(1, len(text)-3)]) AS g
             |  FROM documents),
             |cs AS (SELECT doc_id, unnest(g) AS s FROM g WHERE doc_id >= 25),
             |es AS (SELECT doc_id AS eval_id, unnest(g) AS s FROM g WHERE doc_id < 25),
             |hot AS (SELECT s FROM (SELECT s, doc_id FROM cs UNION SELECT s, eval_id FROM es)
             |        GROUP BY s HAVING count(DISTINCT doc_id) > 100000),
             |csf AS (SELECT * FROM cs WHERE s NOT IN (SELECT s FROM hot)),
             |esf AS (SELECT * FROM es WHERE s NOT IN (SELECT s FROM hot)),
             |na AS (SELECT doc_id, count(*) AS na FROM csf GROUP BY 1),
             |nb AS (SELECT eval_id, count(*) AS nb FROM esf GROUP BY 1),
             |inter AS (SELECT c.doc_id, e.eval_id, count(*) AS i
             |          FROM csf c JOIN esf e USING (s) GROUP BY 1, 2),
             |jac AS (SELECT doc_id, eval_id,
             |               CAST(floor(i * 1000000.0 / (na + nb - i)) AS BIGINT) AS jac_ppm
             |        FROM inter JOIN na USING (doc_id) JOIN nb USING (eval_id)),
             |best AS (SELECT doc_id, max(struct_pack(j := jac_ppm, ne := -eval_id)) AS m
             |         FROM jac GROUP BY 1)
             |SELECT doc_id, -(m.ne) AS eval_id, m.j AS jac_ppm,
             |       CASE WHEN m.j >= 500000 THEN 1 ELSE 0 END AS contaminated
             |FROM best ORDER BY doc_id""".stripMargin)),

    // Eval-set n-gram coverage — decontamination's AGGREGATE twin: per
    // eval document, the ppm of its distinct char 5-grams that appear
    // ANYWHERE in the train corpus (q_decontaminate finds the worst
    // single source; this measures total surface overlap — the
    // memorization-risk metric eval authors report). The corpus-wide
    // distinct-gram index is staged once (the decontamination index
    // shape); the eval side is small by definition and joins it on the
    // gram key.
    Q("q_ngram_coverage",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val corpusGrams = graft.store.Staging.stage(
          docs.filter(col("doc_id") >= 25)
            .select(explode(Dedup.charShingles(col("text"), 5)).as("_s"))
            .distinct(),
          "covg_corpus_grams")
        docs.filter(col("doc_id") < 25)
          .select(col("doc_id"), explode(Dedup.charShingles(col("text"), 5)).as("_s"))
          .join(corpusGrams.withColumn("_hit", lit(1L)), Seq("_s"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("_hit"), lit(0L))).as("_cov"))
          .withColumn("covered_ppm", expr("_cov * 1000000 DIV n_grams"))
          .select(col("doc_id"), col("n_grams"), col("covered_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
             |  SELECT doc_id, list_distinct([substr(text, i::INT, 5) for i in range(1, len(text)-3)]) AS g
             |  FROM documents),
             |cg AS (SELECT DISTINCT unnest(g) AS s FROM g WHERE doc_id >= 25),
             |eg AS (SELECT doc_id, unnest(g) AS s FROM g WHERE doc_id < 25)
             |SELECT e.doc_id, count(*) AS n_grams,
             |       CAST(sum(CASE WHEN cg.s IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS covered_ppm
             |FROM eg e LEFT JOIN cg ON e.s = cg.s
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Language-label audit — the confusion matrix between the corpus's
    // CLAIMED lang column and the n-gram language-ID prediction (the
    // q_text_stats scorer): mislabeled-language documents poison
    // per-language sampling rates and tokenizer choices, and the audit
    // is one map-side-combined (lang, lang_pred) aggregation over the
    // row-local scorer — nothing but the 2-column verdict shuffles.
    Q("q_lang_mismatch",
      (s, dir) => {
        val tk = col("_toks")
        val langHitCols = TextAnalysis.stopwords.map { case (lang, words) =>
          s"_s_$lang" -> TextAnalysis.stopwordHits(tk, words)
        }
        Tables.documents(s, dir)
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
          .withColumns(langHitCols.toMap)
          .withColumn("lang_pred", TextAnalysis.langIdFromScores(
            TextAnalysis.stopwords.map { case (l, _) => l -> col(s"_s_$l") }))
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("mismatch", (col("lang") =!= col("lang_pred")).cast("long"))
          .orderBy("lang", "lang_pred")
      },
      Some {
        val hits = TextAnalysis.stopwords.map { case (lang, words) =>
          s"${duckHits(words)} AS s_$lang"
        }.mkString(",\n    ")
        val langs = TextAnalysis.stopwords.map(_._1)
        val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val langCase = langs.map(l => s"WHEN s_$l = $best AND s_$l > 0 THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        s"""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
           |m AS (SELECT doc_id, lang,
           |    $hits
           |  FROM tk),
           |p AS (SELECT lang, $langCase AS lang_pred FROM m)
           |SELECT lang, lang_pred, count(*) AS n_docs,
           |       CAST(CASE WHEN lang <> lang_pred THEN 1 ELSE 0 END AS BIGINT) AS mismatch
           |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),


    // Inverted-index phrase search: the staged (shingle → doc) index the
    // dedup/decontamination pipelines already persist doubles as a search
    // index — an n-token phrase appears consecutively in a doc IFF the
    // doc's token-n-shingle set contains it, so a phrase lookup is ONE
    // point predicate on the index (pushed to the parquet scan: dictionary
    // + row-group stats skip), then a semi-join back to documents. No
    // full-corpus text scan; the oracle runs the naive substring scan and
    // must agree exactly (single-space tokenization makes the space-guard
    // substring predicate equivalent to consecutive-token match).
    Q("q_phrase_search",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val idx = graft.store.Staging.stage(
          docs.withColumn("_toks", split(col("text"), " "))
            .select(col("doc_id"),
              explode(Dedup.tokenShingles(col("_toks"), 2)).as("_s")),
          "phrase_index")
        val hits = idx.filter(col("_s") === "table value")
          .select(col("doc_id")).distinct()
        docs.join(hits, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE position(' table value ' IN ' ' || text || ' ') > 0
             |ORDER BY doc_id""".stripMargin)),

    // Bloom-prefiltered decontamination — same semantics and ORACLE as
    // q_decontaminate, different 100 TB shape: a broadcast-size bloom of
    // the eval shingles (built driver-side from the small-by-definition
    // eval set, probed by the codegen'd might_contain expression) filters
    // corpus shingles BEFORE the shuffle join, cutting the shuffled
    // corpus volume to ~matches + fpp·|corpus| rows. The exact equi-join
    // removes bloom false positives, so the output is identical — which
    // is exactly what sharing the oracle verifies. NOTE the bench corpus
    // is dup-dense (~92% of corpus shingles DO hit an eval shingle at
    // sf0.1), so there the bloom is measured overhead, not a win — the
    // pruning pays off precisely when eval∩corpus overlap is sparse,
    // i.e. the real 100 TB decontamination shape.
    Q("q_decontaminate_bloom",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.contaminationFlags(
            docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
            "doc_id", "text", n = 5, minJacPpm = 500000L,
            bloomFpp = Some(0.01))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
             |  SELECT doc_id, list_distinct([substr(text, i::INT, 5) for i in range(1, len(text)-3)]) AS g
             |  FROM documents),
             |cs AS (SELECT doc_id, unnest(g) AS s FROM g WHERE doc_id >= 25),
             |es AS (SELECT doc_id AS eval_id, unnest(g) AS s FROM g WHERE doc_id < 25),
             |hot AS (SELECT s FROM (SELECT s, doc_id FROM cs UNION SELECT s, eval_id FROM es)
             |        GROUP BY s HAVING count(DISTINCT doc_id) > 100000),
             |csf AS (SELECT * FROM cs WHERE s NOT IN (SELECT s FROM hot)),
             |esf AS (SELECT * FROM es WHERE s NOT IN (SELECT s FROM hot)),
             |na AS (SELECT doc_id, count(*) AS na FROM csf GROUP BY 1),
             |nb AS (SELECT eval_id, count(*) AS nb FROM esf GROUP BY 1),
             |inter AS (SELECT c.doc_id, e.eval_id, count(*) AS i
             |          FROM csf c JOIN esf e USING (s) GROUP BY 1, 2),
             |jac AS (SELECT doc_id, eval_id,
             |               CAST(floor(i * 1000000.0 / (na + nb - i)) AS BIGINT) AS jac_ppm
             |        FROM inter JOIN na USING (doc_id) JOIN nb USING (eval_id)),
             |best AS (SELECT doc_id, max(struct_pack(j := jac_ppm, ne := -eval_id)) AS m
             |         FROM jac GROUP BY 1)
             |SELECT doc_id, -(m.ne) AS eval_id, m.j AS jac_ppm,
             |       CASE WHEN m.j >= 500000 THEN 1 ELSE 0 END AS contaminated
             |FROM best ORDER BY doc_id""".stripMargin)),

    // Embedding-cosine near-dup pairs — the vector-space dedup variant:
    // candidates share ≥1 md5-hyperplane LSH band, exact cosine ≥ 0.35
    // verifies within buckets (never all-pairs). Like q_ann_lsh, the md5
    // family makes every stage reproduce in DuckDB — the approximate
    // pipeline is oracle-checked end-to-end, not rows-only.
    Q("q_dedup_embed",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.embedNearDupPairs(emb, "vec_id", "embedding",
            minSimPpm = 350000L, signatures = Similarity.rhpSignaturesMd5)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |sig AS (
             |  SELECT vec_id,
             |    CAST(list_sum(list_transform(range(0, 16), j ->
             |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
             |             ve[i::INT + 1] * CASE WHEN ascii(substr(md5(j || ':' || i), 1, 1)) >= 56
             |                                   THEN 1.0 ELSE -1.0 END)) > 0
             |           THEN (1::BIGINT << (15 - j::INT)) ELSE 0 END)) AS BIGINT) AS sig
             |  FROM v),
             |bands AS (SELECT vec_id, b, (sig >> (b::INT * 4)) & 15 AS bv FROM sig, range(0, 4) t(b)),
             |cand AS (
             |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
             |  FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
             |sc AS (
             |  SELECT id_a, id_b,
             |    CAST(floor(list_dot_product(x.ve, y.ve)
             |      / (sqrt(list_dot_product(x.ve, x.ve)) * sqrt(list_dot_product(y.ve, y.ve)))
             |      * 1000000.0) AS BIGINT) AS sim_ppm
             |  FROM cand JOIN v x ON id_a = x.vec_id JOIN v y ON id_b = y.vec_id)
             |SELECT id_a, id_b, sim_ppm FROM sc WHERE sim_ppm >= 350000
             |ORDER BY id_a, id_b""".stripMargin)),

    // k-NN label classification: vec_id % 10 == 3 plays the held-out
    // eval split; each eval vector takes the majority label of its 5
    // nearest train neighbors by exact cosine (vote ties -> smaller
    // label). The weak-labeling / embedding-quality-audit primitive.
    // The REGISTRY PATH is the ANN-candidate plan (IVF nprobe=6 ∪ LSH
    // 2-bit bands, exact re-rank — the 100 TB plan SHAPE, no
    // |eval|·|train| stage); the brute scorer is the ORACLE it must
    // hash-match: equality holds iff the union candidate set contains
    // each true top-5 (the recall contract, checked here at every SF;
    // knnClassify remains the brute twin, exercised by
    // q_classifier_metrics). The operating point is DENSE because these
    // embeddings are near-random — the measured sweep and the
    // per-corpus density argument live on knnClassifyAnn's scaladoc.
    // Mutual nearest-neighbor pairs — the high-precision embedding
    // match rule (each side the other's exact top-1, ties → smaller
    // id): the precision tier ABOVE q_dedup_embed's threshold pairs.
    // Runs the ANN-CANDIDATE plan (IVF bucket join ∪ multi-probe LSH
    // band self-join, exact verify in buckets, mutual filter unchanged
    // — the q_knn_classify r10 swap applied to the last registered
    // corpus² query); the brute mutualNnPairs frame is the ORACLE the
    // SQL below replays. The operating point is now CHOSEN AT RUNTIME
    // by mutualNnTuned's bounded design sample (VERDICT r13 Next #3):
    // a clustered corpus earns IVF-only, this near-random fixture's
    // sample demands the dense fallback — the cheapest MnnProbe sweep
    // point with zero pair mismatches at 3 SFs (nprobe=2 of 8 buckets +
    // 16/8 multi-probe LSH), now EARNED per corpus, not hardcoded.
    Q("q_mutual_nn",
      (s, dir) => Similarity.mutualNnTuned(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          fallbackCentroids = 8, fallbackNprobe = 2)
        .orderBy("id_a"),
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |n AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nn FROM v),
             |s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
             |             CAST(floor(list_dot_product(a.ve, b.ve) / (a.nn * b.nn)
             |                  * 1000000.0) AS BIGINT) AS sim_ppm
             |      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
             |r AS (SELECT src, dst, sim_ppm,
             |             row_number() OVER (PARTITION BY src
             |               ORDER BY sim_ppm DESC, dst) AS rk FROM s),
             |nn1 AS (SELECT src, dst, sim_ppm FROM r WHERE rk = 1)
             |SELECT a.src AS id_a, a.dst AS id_b, a.sim_ppm
             |FROM nn1 a JOIN nn1 b ON a.src = b.dst AND a.dst = b.src
             |WHERE a.src < a.dst ORDER BY id_a""".stripMargin)),

    Q("q_knn_classify",
      (s, dir) => Similarity.knnClassifyAnn(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label",
          pmod(col("vec_id"), lit(10L)) === 3L, k = 5)
        .orderBy("q_id"),
      Some("""WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS ve, label
             |           FROM embeddings WHERE vec_id % 10 <> 3),
             |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv,
             |             CAST(label AS BIGINT) AS true_label
             |      FROM embeddings WHERE vec_id % 10 = 3),
             |s AS (SELECT q.q_id, t.vec_id, t.label,
             |        CAST(floor(list_dot_product(t.ve, q.qv)
             |          / (sqrt(list_dot_product(t.ve, t.ve)) * sqrt(list_dot_product(q.qv, q.qv)))
             |          * 1000000.0) AS BIGINT) AS sim_ppm
             |      FROM q JOIN t ON q.q_id <> t.vec_id),
             |nn AS (SELECT q_id, vec_id, label FROM s
             |       QUALIFY row_number() OVER (PARTITION BY q_id
             |               ORDER BY sim_ppm DESC, vec_id) <= 5),
             |v AS (SELECT q_id, CAST(label AS BIGINT) AS label, count(*) AS nv
             |      FROM nn GROUP BY 1, 2),
             |p AS (SELECT q_id, label AS predicted, nv AS n_votes FROM v
             |      QUALIFY row_number() OVER (PARTITION BY q_id
             |              ORDER BY nv DESC, label) = 1)
             |SELECT q.q_id, q.true_label, p.predicted,
             |       CAST(p.n_votes AS BIGINT) AS n_votes,
             |       CASE WHEN q.true_label = p.predicted
             |            THEN CAST(1 AS BIGINT) ELSE 0 END AS correct
             |FROM q JOIN p USING (q_id) ORDER BY q_id""".stripMargin)),

    // Per-class precision/recall/F1 over the q_knn_classify eval split
    // — the metrics rollup a classifier run ships with (accuracy alone
    // hides per-class collapse): tp + both marginals per class, the
    // harmonic F1 cleared to ONE division (2·tp/(n_pred+n_true)).
    Q("q_classifier_metrics",
      (s, dir) => Similarity.classMetrics(
          Similarity.knnClassify(Tables.embeddings(s, dir), "vec_id",
            "embedding", "label", pmod(col("vec_id"), lit(10L)) === 3L, k = 5),
          col("true_label"), col("predicted"))
        .orderBy("class"),
      Some("""WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS ve, label
             |           FROM embeddings WHERE vec_id % 10 <> 3),
             |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv,
             |             CAST(label AS BIGINT) AS true_label
             |      FROM embeddings WHERE vec_id % 10 = 3),
             |s AS (SELECT q.q_id, t.vec_id, t.label,
             |        CAST(floor(list_dot_product(t.ve, q.qv)
             |          / (sqrt(list_dot_product(t.ve, t.ve)) * sqrt(list_dot_product(q.qv, q.qv)))
             |          * 1000000.0) AS BIGINT) AS sim_ppm
             |      FROM q JOIN t ON q.q_id <> t.vec_id),
             |nn AS (SELECT q_id, vec_id, label FROM s
             |       QUALIFY row_number() OVER (PARTITION BY q_id
             |               ORDER BY sim_ppm DESC, vec_id) <= 5),
             |v AS (SELECT q_id, CAST(label AS BIGINT) AS label, count(*) AS nv
             |      FROM nn GROUP BY 1, 2),
             |p AS (SELECT q_id, label AS predicted, nv FROM v
             |      QUALIFY row_number() OVER (PARTITION BY q_id
             |              ORDER BY nv DESC, label) = 1),
             |pr AS (SELECT q.true_label AS t, p.predicted AS pd
             |       FROM q JOIN p USING (q_id)),
             |bt AS (SELECT t AS class, CAST(count(*) AS BIGINT) AS n_true FROM pr GROUP BY 1),
             |bp AS (SELECT pd AS class, CAST(count(*) AS BIGINT) AS n_pred FROM pr GROUP BY 1),
             |tp AS (SELECT t AS class, CAST(count(*) AS BIGINT) AS tp
             |       FROM pr WHERE t = pd GROUP BY 1),
             |m AS (SELECT class, coalesce(n_true, 0) AS n_true,
             |             coalesce(n_pred, 0) AS n_pred, coalesce(tp.tp, 0) AS tp
             |      FROM bt FULL JOIN bp USING (class) LEFT JOIN tp USING (class))
             |SELECT class, n_true, n_pred, tp,
             |       CAST(CASE WHEN n_pred > 0 THEN tp * 1000000 // n_pred END AS BIGINT) AS precision_ppm,
             |       CAST(CASE WHEN n_true > 0 THEN tp * 1000000 // n_true END AS BIGINT) AS recall_ppm,
             |       CAST(CASE WHEN n_pred + n_true > 0
             |            THEN 2 * tp * 1000000 // (n_pred + n_true) END AS BIGINT) AS f1_ppm
             |FROM m ORDER BY class""".stripMargin)),

    // Filtered vector search — pre-filter vs post-filter, THE design
    // question metadata-filtered ANN serving faces: pre-filter runs
    // top-k on the predicate-surviving corpus (gold); post-filter takes
    // unfiltered top-k and drops non-matching hits (cheap, loses
    // recall when the filter is selective). Per query: both paths +
    // the post-path's recall against gold.
    Q("q_ann_filtered",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val pre = Similarity.topKExact(emb.filter(pmod(col("label"), lit(2L)) === 0L),
          queries, "vec_id", "embedding", "q_id", "q_vec", 10)
        val post = Similarity.topKExact(emb, queries,
            "vec_id", "embedding", "q_id", "q_vec", 10)
          .join(emb.filter(pmod(col("label"), lit(2L)) === 0L)
            .select(col("vec_id")), Seq("vec_id"), "left_semi")
        val hits = post.join(pre.select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "left_semi")
        val counts = pre.groupBy(col("q_id")).agg(count(lit(1)).as("n_pre"))
          .join(post.groupBy(col("q_id")).agg(count(lit(1)).as("n_post")),
            Seq("q_id"), "left")
          .join(hits.groupBy(col("q_id")).agg(count(lit(1)).as("n_hit")),
            Seq("q_id"), "left")
          .na.fill(0L, Seq("n_post", "n_hit"))
        counts
          .withColumn("recall_post_ppm", expr("n_hit * 1000000 DIV n_pre"))
          .orderBy("q_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve, label FROM embeddings),
             |q AS (SELECT vec_id AS q_id, ve AS qv FROM e WHERE vec_id < 5),
             |s AS (SELECT q.q_id, e.vec_id, e.label,
             |        CAST(floor(list_dot_product(e.ve, q.qv)
             |          / (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qv, q.qv)))
             |          * 1000000.0) AS BIGINT) AS sim_ppm
             |      FROM q JOIN e ON q.q_id <> e.vec_id),
             |pre AS (SELECT q_id, vec_id FROM s WHERE label % 2 = 0
             |        QUALIFY row_number() OVER (PARTITION BY q_id
             |                ORDER BY sim_ppm DESC, vec_id) <= 10),
             |post AS (SELECT q_id, vec_id FROM (
             |           SELECT q_id, vec_id, label FROM s
             |           QUALIFY row_number() OVER (PARTITION BY q_id
             |                   ORDER BY sim_ppm DESC, vec_id) <= 10)
             |         WHERE label % 2 = 0),
             |hit AS (SELECT post.q_id, post.vec_id FROM post
             |        JOIN pre ON post.q_id = pre.q_id AND post.vec_id = pre.vec_id)
             |SELECT q.q_id,
             |       CAST((SELECT count(*) FROM pre WHERE pre.q_id = q.q_id) AS BIGINT) AS n_pre,
             |       CAST((SELECT count(*) FROM post WHERE post.q_id = q.q_id) AS BIGINT) AS n_post,
             |       CAST((SELECT count(*) FROM hit WHERE hit.q_id = q.q_id) AS BIGINT) AS n_hit,
             |       CAST((SELECT count(*) FROM hit WHERE hit.q_id = q.q_id) * 1000000
             |            // (SELECT count(*) FROM pre WHERE pre.q_id = q.q_id) AS BIGINT)
             |         AS recall_post_ppm
             |FROM q ORDER BY q_id""".stripMargin)),

    // Pre-filter ANN recall CONTRACT under a SELECTIVE predicate
    // (VERDICT r14 Next #8): q_ann_filtered above prices a mild mod-2
    // filter; this census prices a 1/16-selective one, where the
    // pre-filter path's fixed nprobe inspects ~1/16 the candidates per
    // probed bucket and recall decays. The CONTRACT (annFilteredTopK's
    // scaladoc): keep the FULL-corpus quantizer, filter only the
    // postings, and widen nprobe inversely with the measured survivor
    // fraction — nprobeEff = min(nC, nprobe · ceil(total/survivors)).
    // At the cap the probe set covers every bucket and the filtered
    // search is EXACT over survivors (the correct degenerate when the
    // survivor set is scan-small). Output per query: brute-filtered
    // truth size, hits of the naive (widen=1) and contract paths, and
    // both recall ppms — the oracle replays quantizer, widening
    // arithmetic and both paths deterministically.
    Q("q_ann_filtered_selective",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val pred = pmod(col("vec_id"), lit(16L)) === 1L
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val truth = Similarity.topKExact(emb.filter(pred), queries,
          "vec_id", "embedding", "q_id", "q_vec", 10)
        val naive = Similarity.annFilteredTopK(emb, pred, queries,
          "vec_id", "embedding", "q_id", "q_vec", 10,
          nCentroids = 8, nprobe = 2, widen = Some(1L))
        val contract = Similarity.annFilteredTopK(emb, pred, queries,
          "vec_id", "embedding", "q_id", "q_vec", 10,
          nCentroids = 8, nprobe = 2)
        def hits(path: org.apache.spark.sql.DataFrame, as: String) =
          truth.select(col("q_id"), col("vec_id"))
            .join(path.select(col("q_id"), col("vec_id")),
              Seq("q_id", "vec_id"), "left_semi")
            .groupBy(col("q_id")).agg(count(lit(1)).as(as))
        truth.groupBy(col("q_id")).agg(count(lit(1)).as("n_true"))
          .join(hits(naive, "n_naive_hit"), Seq("q_id"), "left")
          .join(hits(contract, "n_contract_hit"), Seq("q_id"), "left")
          .na.fill(0L, Seq("n_naive_hit", "n_contract_hit"))
          .withColumn("recall_naive_ppm",
            expr("n_naive_hit * 1000000 DIV n_true"))
          .withColumn("recall_contract_ppm",
            expr("n_contract_hit * 1000000 DIV n_true"))
          .orderBy("q_id")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |n AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nn FROM v),
             |cent AS (SELECT vec_id AS cid, ve AS cv, nn AS cn FROM n WHERE vec_id < 8),
             |f AS (SELECT * FROM n WHERE vec_id % 16 = 1),
             |wd AS (SELECT least(CAST(8 AS BIGINT),
             |         2 * (((SELECT count(*) FROM n) + (SELECT count(*) FROM f) - 1)
             |              // (SELECT count(*) FROM f))) AS np),
             |q AS (SELECT vec_id AS q_id, ve AS qv, nn AS qn FROM n WHERE vec_id < 5),
             |ts AS (SELECT q.q_id, f.vec_id,
             |         CAST(floor(list_dot_product(f.ve, q.qv) / (f.nn * q.qn)
             |              * 1000000.0) AS BIGINT) AS sim_ppm
             |       FROM q JOIN f ON q.q_id <> f.vec_id),
             |truth AS (SELECT q_id, vec_id FROM ts
             |          QUALIFY row_number() OVER (PARTITION BY q_id
             |                  ORDER BY sim_ppm DESC, vec_id) <= 10),
             |asg AS (
             |  SELECT f.vec_id, f.ve, f.nn,
             |    -((max(struct_pack(s := CAST(floor(list_dot_product(f.ve, cent.cv)
             |                                       / (f.nn * cent.cn) * 1000000.0) AS BIGINT),
             |                       nc := -cent.cid))).nc) AS cid
             |  FROM f, cent GROUP BY f.vec_id, f.ve, f.nn),
             |prq AS (
             |  SELECT q.q_id, cent.cid,
             |    row_number() OVER (PARTITION BY q.q_id ORDER BY
             |      CAST(floor(list_dot_product(q.qv, cent.cv)
             |                 / (q.qn * cent.cn) * 1000000.0) AS BIGINT) DESC,
             |      cent.cid) AS pno
             |  FROM q, cent),
             |candc AS (
             |  SELECT q.q_id, a.vec_id,
             |    CAST(floor(list_dot_product(a.ve, q.qv) / (a.nn * q.qn)
             |         * 1000000.0) AS BIGINT) AS sim_ppm
             |  FROM asg a
             |  JOIN (SELECT q_id, cid FROM prq WHERE pno <= (SELECT np FROM wd)) p
             |    ON a.cid = p.cid
             |  JOIN q ON q.q_id = p.q_id WHERE a.vec_id <> q.q_id),
             |pathc AS (SELECT q_id, vec_id FROM candc
             |          QUALIFY row_number() OVER (PARTITION BY q_id
             |                  ORDER BY sim_ppm DESC, vec_id) <= 10),
             |candn AS (
             |  SELECT q.q_id, a.vec_id,
             |    CAST(floor(list_dot_product(a.ve, q.qv) / (a.nn * q.qn)
             |         * 1000000.0) AS BIGINT) AS sim_ppm
             |  FROM asg a
             |  JOIN (SELECT q_id, cid FROM prq WHERE pno <= 2) p ON a.cid = p.cid
             |  JOIN q ON q.q_id = p.q_id WHERE a.vec_id <> q.q_id),
             |pathn AS (SELECT q_id, vec_id FROM candn
             |          QUALIFY row_number() OVER (PARTITION BY q_id
             |                  ORDER BY sim_ppm DESC, vec_id) <= 10),
             |hitsn AS (SELECT t.q_id, count(*) AS h FROM truth t
             |          JOIN pathn p ON t.q_id = p.q_id AND t.vec_id = p.vec_id
             |          GROUP BY 1),
             |hitsc AS (SELECT t.q_id, count(*) AS h FROM truth t
             |          JOIN pathc p ON t.q_id = p.q_id AND t.vec_id = p.vec_id
             |          GROUP BY 1),
             |tr AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_true
             |       FROM truth GROUP BY 1)
             |SELECT tr.q_id AS q_id, tr.n_true,
             |  CAST(coalesce(hn.h, 0) AS BIGINT) AS n_naive_hit,
             |  CAST(coalesce(hc.h, 0) AS BIGINT) AS n_contract_hit,
             |  CAST(coalesce(hn.h, 0) * 1000000 // tr.n_true AS BIGINT) AS recall_naive_ppm,
             |  CAST(coalesce(hc.h, 0) * 1000000 // tr.n_true AS BIGINT) AS recall_contract_ppm
             |FROM tr LEFT JOIN hitsn hn ON tr.q_id = hn.q_id
             |LEFT JOIN hitsc hc ON tr.q_id = hc.q_id
             |ORDER BY tr.q_id""".stripMargin)),

    // Hard-example triplet mining (contrastive fine-tuning batch
    // construction): every 25th vector anchors; its hardest NEGATIVE is
    // the most-similar different-label vector, its hardest POSITIVE the
    // least-similar same-label one; margin = pos_sim - neg_sim (negative
    // = currently-violated triplet). Anchors broadcast, extrema ride one
    // conditional map-side-combinable aggregate; ties -> smaller id.
    Q("q_hard_negatives",
      (s, dir) => Similarity.hardNegatives(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label",
          pmod(col("vec_id"), lit(25L)) === 0L)
        .orderBy("a_id"),
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS ve,
             |                 CAST(label AS BIGINT) AS label FROM embeddings),
             |a AS (SELECT vec_id AS a_id, ve AS av, label AS a_label
             |      FROM c WHERE vec_id % 25 = 0),
             |s AS (SELECT a.a_id, a.a_label, c.vec_id, c.label,
             |        CAST(floor(list_dot_product(c.ve, a.av)
             |          / (sqrt(list_dot_product(c.ve, c.ve)) * sqrt(list_dot_product(a.av, a.av)))
             |          * 1000000.0) AS BIGINT) AS sim_ppm
             |      FROM a JOIN c ON c.vec_id <> a.a_id),
             |n AS (SELECT a_id, vec_id AS neg_id, sim_ppm AS neg_sim_ppm
             |      FROM s WHERE label <> a_label
             |      QUALIFY row_number() OVER (PARTITION BY a_id
             |              ORDER BY sim_ppm DESC, vec_id) = 1),
             |p AS (SELECT a_id, vec_id AS pos_id, sim_ppm AS pos_sim_ppm
             |      FROM s WHERE label = a_label
             |      QUALIFY row_number() OVER (PARTITION BY a_id
             |              ORDER BY sim_ppm ASC, vec_id) = 1)
             |SELECT a.a_id, a.a_label, n.neg_id, n.neg_sim_ppm,
             |       p.pos_id, p.pos_sim_ppm,
             |       p.pos_sim_ppm - n.neg_sim_ppm AS margin_ppm
             |FROM a JOIN n USING (a_id) JOIN p USING (a_id)
             |ORDER BY a_id""".stripMargin)),

    // The hardest-NEGATIVE half of the triplet miner on ANN CANDIDATES
    // — the corpus-scale plan (anchors probe the staged IVF postings +
    // the corpus LSH band index with anchor-side Hamming-1 multi-probe;
    // different-label argmax over candidates only). The broadcast-exact
    // q_hard_negatives above is the ORACLE — this SQL is its negative
    // half verbatim — and the operating point is the cheapest HnProbe
    // sweep point with zero mismatches at 3 SFs. The hardest POSITIVE
    // deliberately does not swap: it is a farthest-point search that
    // similarity buckets structurally cannot serve (scaladoc).
    Q("q_hard_negatives_ann",
      (s, dir) => Similarity.hardNegativesAnn(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label",
          pmod(col("vec_id"), lit(25L)) === 0L)
        .orderBy("a_id"),
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS ve,
             |                 CAST(label AS BIGINT) AS label FROM embeddings),
             |a AS (SELECT vec_id AS a_id, ve AS av, label AS a_label
             |      FROM c WHERE vec_id % 25 = 0),
             |s AS (SELECT a.a_id, a.a_label, c.vec_id, c.label,
             |        CAST(floor(list_dot_product(c.ve, a.av)
             |          / (sqrt(list_dot_product(c.ve, c.ve)) * sqrt(list_dot_product(a.av, a.av)))
             |          * 1000000.0) AS BIGINT) AS sim_ppm
             |      FROM a JOIN c ON c.vec_id <> a.a_id)
             |SELECT a_id, a_label, vec_id AS neg_id, sim_ppm AS neg_sim_ppm
             |FROM s WHERE label <> a_label
             |QUALIFY row_number() OVER (PARTITION BY a_id
             |        ORDER BY sim_ppm DESC, vec_id) = 1
             |ORDER BY a_id""".stripMargin)),

    // Per-dimension robust stats of the embedding corpus (feature QC):
    // exact nearest-rank quartiles of each of the 64 dims' micro-unit
    // values + outlier census under |v - median| > max(3·IQR, 1) — the
    // median/IQR path is immune to the outliers it hunts. Explode is a
    // fixed ×64 fan-out; quartiles are per-dim windows (64 perfectly
    // spread groups); the 64-row stats frame broadcasts for the census.
    // Embedding-space drift monitor: per label, the signed-squared
    // cosine between the EVEN-id and ODD-id half-centroids (shard A vs
    // shard B). The 1/n factors cancel in the cosine, so the statistic
    // runs on integer SUM vectors — one (label, half, dim) map-side agg
    // is the only data-sized pass; no sqrt, no libm.
    Q("q_embed_drift",
      (s, dir) => Similarity.splitHalfCentroidDrift(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label")
        .orderBy("label"),
      Some("""WITH el AS (
             |  SELECT label, vec_id % 2 = 0 AS ha,
             |         unnest(range(len(embedding))) AS dim,
             |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024) AS BIGINT) AS q
             |  FROM embeddings),
             |s AS (SELECT label, ha, dim, sum(q) AS s, count(*) AS n
             |      FROM el GROUP BY 1, 2, 3),
             |j AS (SELECT a.label, max(a.n) AS n_a, max(b.n) AS n_b,
             |             sum(CAST(a.s AS HUGEINT) * b.s) AS num,
             |             sum(CAST(a.s AS HUGEINT) * a.s) AS da,
             |             sum(CAST(b.s AS HUGEINT) * b.s) AS db
             |      FROM s a JOIN s b ON a.label = b.label AND a.dim = b.dim
             |      WHERE a.ha AND NOT b.ha GROUP BY 1)
             |SELECT CAST(label AS BIGINT) AS label,
             |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             |       CAST(CASE WHEN da > 0 AND db > 0 THEN
             |              (CASE WHEN num < 0
             |               THEN -(num*num*1000000 // (da*db))
             |               ELSE num*num*1000000 // (da*db) END)
             |            ELSE 0 END AS BIGINT) AS cos2s_ppm
             |FROM j ORDER BY label""".stripMargin)),

    // Label-noise audit: the 25 vectors least similar to their OWN
    // class centroid (cosine on the integer class SUM vector — 1/n
    // cancels) = the mislabel candidates a labeling pipeline re-queues.
    // One (label, dim) agg broadcast back; per-vector dots map-side
    // combine; TakeOrdered.
    Q("q_label_outliers",
      (s, dir) => Similarity.labelOutliers(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", topK = 25),
      Some("""WITH el AS (
             |  SELECT vec_id, label, unnest(range(len(embedding))) AS dim,
             |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024) AS BIGINT) AS q
             |  FROM embeddings),
             |s AS (SELECT label, dim, sum(q) AS s, count(*) AS n
             |      FROM el GROUP BY 1, 2),
             |d AS (SELECT el.vec_id, el.label, max(s.n) AS n_label,
             |             sum(CAST(el.q AS HUGEINT) * s.s) AS num,
             |             sum(CAST(el.q AS HUGEINT) * el.q) AS dq,
             |             sum(CAST(s.s AS HUGEINT) * s.s) AS ds
             |      FROM el JOIN s ON el.label = s.label AND el.dim = s.dim
             |      GROUP BY 1, 2)
             |SELECT vec_id, CAST(label AS BIGINT) AS label,
             |       CAST(n_label AS BIGINT) AS n_label,
             |       CAST(CASE WHEN dq > 0 AND ds > 0 THEN
             |              (CASE WHEN num < 0
             |               THEN -(num*num*1000000 // (dq*ds))
             |               ELSE num*num*1000000 // (dq*ds) END)
             |            ELSE 0 END AS BIGINT) AS cos2s_ppm
             |FROM d ORDER BY cos2s_ppm, vec_id LIMIT 25""".stripMargin)),

    Q("q_robust_scale",
      (s, dir) => Similarity.dimRobustStats(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy("dim"),
      Some("""WITH el AS (
             |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
             |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS v_us
             |  FROM embeddings),
             |r AS (SELECT dim, vec_id, v_us,
             |        row_number() OVER (PARTITION BY dim ORDER BY v_us, vec_id) AS rn,
             |        count(*) OVER (PARTITION BY dim) AS n
             |      FROM el),
             |p AS (SELECT dim, max(n) AS n,
             |        max(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN v_us END) AS p25,
             |        max(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT) THEN v_us END) AS p50,
             |        max(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN v_us END) AS p75
             |      FROM r GROUP BY 1)
             |SELECT el.dim, p.n, p.p25 AS p25_us, p.p50 AS p50_us, p.p75 AS p75_us,
             |       p.p75 - p.p25 AS iqr_us,
             |       CAST(sum(CASE WHEN abs(v_us - p50) > greatest((p75 - p25) * 3, 1)
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM el JOIN p USING (dim)
             |GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY dim""".stripMargin)),

    // Embedding-space eval-set leakage: vec_id % 10 == 7 plays the held-
    // out eval split, everyone else is train; eval vectors probe the
    // STAGED train LSH index (never eval×train), exact cosine ≥ 0.35
    // verifies within buckets — the paraphrase-level contamination
    // check the n-gram decontaminate pass can't see. The md5 hyperplane
    // family makes every stage replay in DuckDB, so the approximate
    // pipeline is oracle-checked end-to-end.
    Q("q_embed_leakage",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val isTest = col("vec_id") % 10 === 7
        Similarity.embedLeakagePairs(
            emb.filter(!isTest), emb.filter(isTest), "vec_id", "embedding",
            minSimPpm = 350000L, signatures = Similarity.rhpSignaturesMd5)
          .orderBy("test_id", "train_id")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |sig AS (
             |  SELECT vec_id,
             |    CAST(list_sum(list_transform(range(0, 16), j ->
             |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
             |             ve[i::INT + 1] * CASE WHEN ascii(substr(md5(j || ':' || i), 1, 1)) >= 56
             |                                   THEN 1.0 ELSE -1.0 END)) > 0
             |           THEN (1::BIGINT << (15 - j::INT)) ELSE 0 END)) AS BIGINT) AS sig
             |  FROM v),
             |bands AS (SELECT vec_id, b, (sig >> (b::INT * 4)) & 15 AS bv FROM sig, range(0, 4) t(b)),
             |cand AS (
             |  SELECT DISTINCT t.vec_id AS test_id, tr.vec_id AS train_id
             |  FROM bands t JOIN bands tr ON t.b = tr.b AND t.bv = tr.bv
             |  WHERE t.vec_id % 10 = 7 AND tr.vec_id % 10 != 7),
             |sc AS (
             |  SELECT test_id, train_id,
             |    CAST(floor(list_dot_product(x.ve, y.ve)
             |      / (sqrt(list_dot_product(x.ve, x.ve)) * sqrt(list_dot_product(y.ve, y.ve)))
             |      * 1000000.0) AS BIGINT) AS sim_ppm
             |  FROM cand JOIN v x ON test_id = x.vec_id JOIN v y ON train_id = y.vec_id)
             |SELECT test_id, train_id, sim_ppm FROM sc WHERE sim_ppm >= 350000
             |ORDER BY test_id, train_id""".stripMargin)),

    // ---- the ANN SPARSE regime, priced (VERDICT r12 Next #3) ----------
    // q_mutual_nn runs on the benchmark's near-random embeddings — ANN's
    // adversarial case, where any zero-mismatch operating point is
    // near-dense in candidates (CandProbe r12: 24.5x shuffle at 5x). The
    // three queries below plant deterministic cluster structure (the
    // regime a production embedding corpus actually exhibits) and run
    // the SAME machinery sparse: the design table derives the operating
    // point, the IVF side probes one planted cluster per vector, and
    // the 5x scale probe (last held in commit `9188937`) priced the
    // shuffle growth (bounded cluster size => candidate volume linear
    // in n).

    // The rhp-LSH design table on the clustered fixture's deterministic
    // id-residue sample: per (nbits, bands) config, candidate volume vs
    // recall/precision of true >= 0.7-cosine pairs — Dedup.lshTuning's
    // discipline for the embedding family. The oracle REPLAYS the whole
    // table (md5 signatures, band self-joins, brute sample truth).
    Q("q_ann_tuning",
      (s, dir) => Similarity.rhpTuning(
          Similarity.clusteredEmbeddings(
              Tables.embeddings(s, dir), "vec_id", "embedding")
            .filter(col("vec_id") % 4 === 1),
          "vec_id", "embedding",
          Seq((16, 8), (16, 4), (8, 4), (8, 2)), 700000L)
        .orderBy(col("nbits").desc, col("bands").desc),
      Some(s"""WITH $duckClustered,
              |sm AS (SELECT vec_id, ve2 FROM cl WHERE vec_id % 4 = 1),
              |n AS (SELECT vec_id, ve2, sqrt(list_dot_product(ve2, ve2)) AS nn FROM sm),
              |tr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |       FROM n a JOIN n b ON a.vec_id < b.vec_id
              |       WHERE CAST(floor(list_dot_product(a.ve2, b.ve2)
              |               / (a.nn * b.nn) * 1000000.0) AS BIGINT) >= 700000),
              |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tr),
              |s16 AS (SELECT vec_id, ${duckRhpSig("ve2", 16)} AS sig FROM sm),
              |s8 AS (SELECT vec_id, ${duckRhpSig("ve2", 8)} AS sig FROM sm),
              |b16_8 AS (SELECT vec_id, t.b, (sig >> (t.b::INT * 2)) & 3 AS bv
              |          FROM s16, range(0, 8) t(b)),
              |b16_4 AS (SELECT vec_id, t.b, (sig >> (t.b::INT * 4)) & 15 AS bv
              |          FROM s16, range(0, 4) t(b)),
              |b8_4 AS (SELECT vec_id, t.b, (sig >> (t.b::INT * 2)) & 3 AS bv
              |         FROM s8, range(0, 4) t(b)),
              |b8_2 AS (SELECT vec_id, t.b, (sig >> (t.b::INT * 4)) & 15 AS bv
              |         FROM s8, range(0, 2) t(b)),
              |c16_8 AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              |          FROM b16_8 a JOIN b16_8 b ON a.b = b.b AND a.bv = b.bv
              |            AND a.vec_id < b.vec_id),
              |c16_4 AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              |          FROM b16_4 a JOIN b16_4 b ON a.b = b.b AND a.bv = b.bv
              |            AND a.vec_id < b.vec_id),
              |c8_4 AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              |         FROM b8_4 a JOIN b8_4 b ON a.b = b.b AND a.bv = b.bv
              |           AND a.vec_id < b.vec_id),
              |c8_2 AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              |         FROM b8_2 a JOIN b8_2 b ON a.b = b.b AND a.bv = b.bv
              |           AND a.vec_id < b.vec_id),
              |agg AS (
              |  SELECT CAST(16 AS BIGINT) AS nbits, CAST(8 AS BIGINT) AS bands,
              |         CAST(count(*) AS BIGINT) AS n_candidates,
              |         CAST(coalesce(sum(CASE WHEN tr.id_a IS NOT NULL
              |                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_found
              |  FROM c16_8 c LEFT JOIN tr ON c.id_a = tr.id_a AND c.id_b = tr.id_b
              |  UNION ALL
              |  SELECT 16, 4, CAST(count(*) AS BIGINT),
              |         CAST(coalesce(sum(CASE WHEN tr.id_a IS NOT NULL
              |                           THEN 1 ELSE 0 END), 0) AS BIGINT)
              |  FROM c16_4 c LEFT JOIN tr ON c.id_a = tr.id_a AND c.id_b = tr.id_b
              |  UNION ALL
              |  SELECT 8, 4, CAST(count(*) AS BIGINT),
              |         CAST(coalesce(sum(CASE WHEN tr.id_a IS NOT NULL
              |                           THEN 1 ELSE 0 END), 0) AS BIGINT)
              |  FROM c8_4 c LEFT JOIN tr ON c.id_a = tr.id_a AND c.id_b = tr.id_b
              |  UNION ALL
              |  SELECT 8, 2, CAST(count(*) AS BIGINT),
              |         CAST(coalesce(sum(CASE WHEN tr.id_a IS NOT NULL
              |                           THEN 1 ELSE 0 END), 0) AS BIGINT)
              |  FROM c8_2 c LEFT JOIN tr ON c.id_a = tr.id_a AND c.id_b = tr.id_b)
              |SELECT nbits, bands, n_candidates, (SELECT n_true FROM nt) AS n_true,
              |       n_found,
              |       CAST(CASE WHEN (SELECT n_true FROM nt) > 0 THEN
              |         CAST(n_found AS HUGEINT) * 1000000 // (SELECT n_true FROM nt)
              |         END AS BIGINT) AS recall_ppm,
              |       CAST(CASE WHEN n_candidates > 0 THEN
              |         CAST(n_found AS HUGEINT) * 1000000 // n_candidates
              |         END AS BIGINT) AS precision_ppm
              |FROM agg ORDER BY nbits DESC, bands DESC""".stripMargin)),

    // Mutual top-1 on the clustered fixture at the design-table-derived
    // SPARSE operating point (nprobe=1 over clusterCount centroids, the
    // cheapest full-recall LSH config, no multi-probe) — the brute SQL
    // oracle is UNCHANGED from q_mutual_nn's shape, so recall equality
    // is hash-checked, not assumed.
    Q("q_mutual_nn_clustered",
      (s, dir) => Similarity.mutualNnClusteredTuned(
          Similarity.clusteredEmbeddings(
            Tables.embeddings(s, dir), "vec_id", "embedding"),
          "vec_id", "embedding")
        .orderBy("id_a"),
      Some(s"""WITH $duckClustered,
              |n AS (SELECT vec_id, ve2, sqrt(list_dot_product(ve2, ve2)) AS nn FROM cl),
              |s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
              |             CAST(floor(list_dot_product(a.ve2, b.ve2) / (a.nn * b.nn)
              |                  * 1000000.0) AS BIGINT) AS sim_ppm
              |      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
              |r AS (SELECT src, dst, sim_ppm,
              |             row_number() OVER (PARTITION BY src
              |               ORDER BY sim_ppm DESC, dst) AS rk FROM s),
              |nn1 AS (SELECT src, dst, sim_ppm FROM r WHERE rk = 1)
              |SELECT a.src AS id_a, a.dst AS id_b, a.sim_ppm
              |FROM nn1 a JOIN nn1 b ON a.src = b.dst AND a.dst = b.src
              |WHERE a.src < a.dst ORDER BY id_a""".stripMargin)),

    // Train/test embedding decontamination on the clustered fixture —
    // q_embed_leakage's twin in the SPARSE regime: candidates ride the
    // IVF inverted file (staged train postings, each test vector probes
    // its own assigned bucket), NOT the LSH bands — fixed-key-space
    // banding is structurally quadratic in n (the r13 25x expfit
    // measured exp 3.83 for the (16,4) band variant), while
    // sum-of-bucket-sizes squared is linear at bounded cluster size.
    // Threshold 0.70 so only planted same-cluster pairs flag; the
    // oracle replays the centroid assignment and the threshold verify.
    Q("q_embed_leakage_clustered",
      (s, dir) => {
        val cl = Similarity.clusteredEmbeddings(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        val isTest = col("vec_id") % 10 === 7
        Similarity.embedLeakagePairsIvf(
            cl.filter(!isTest), cl.filter(isTest), "vec_id", "embedding",
            minSimPpm = 700000L,
            centroids = Similarity.clusterCentroids(cl, "vec_id", "embedding"))
          .orderBy("test_id", "train_id")
      },
      Some(s"""WITH $duckClustered,
              |n AS (SELECT vec_id, ve2, sqrt(list_dot_product(ve2, ve2)) AS nn FROM cl),
              |cent AS (SELECT vec_id AS cid, ve2 AS cv, nn AS cn
              |         FROM n, p WHERE vec_id < p.nc),
              |asg AS (
              |  SELECT n.vec_id,
              |    -((max(struct_pack(s := CAST(floor(list_dot_product(n.ve2, cent.cv)
              |                                       / (n.nn * cent.cn) * 1000000.0) AS BIGINT),
              |                       nc := -cent.cid))).nc) AS cid
              |  FROM n, cent GROUP BY n.vec_id),
              |cand AS (
              |  SELECT t.vec_id AS test_id, tr.vec_id AS train_id
              |  FROM asg t JOIN asg tr ON t.cid = tr.cid
              |  WHERE t.vec_id % 10 = 7 AND tr.vec_id % 10 != 7),
              |sc AS (
              |  SELECT test_id, train_id,
              |    CAST(floor(list_dot_product(x.ve2, y.ve2) / (x.nn * y.nn)
              |         * 1000000.0) AS BIGINT) AS sim_ppm
              |  FROM cand JOIN n x ON test_id = x.vec_id JOIN n y ON train_id = y.vec_id)
              |SELECT test_id, train_id, sim_ppm FROM sc WHERE sim_ppm >= 700000
              |ORDER BY test_id, train_id""".stripMargin)),

    // Shingle-containment search (quote/inclusion detection): docs with
    // doc_id % 5 == 2 play the probe batch; a probe is flagged when
    // ≥ 60% of its distinct 3-shingles appear in some other doc —
    // the asymmetric-threshold case Jaccard-LSH structurally misses
    // (small-inside-big pairs have near-zero Jaccard). Candidates via
    // the containment-transposed PPJoin prefix (k_A rarest shingles
    // probe the full inverted index — exact recall by pigeonhole),
    // with the r12 default df cap: prefix postings rarer than the
    // p99.9 corpus df always survive, the degenerate all-ubiquitous
    // probe is bounded, and every pair carries prefix_capped recording
    // whether its probe doc's recall guarantee held. The oracle
    // REPLAYS the full capped generation (cap rank-selection, prefix,
    // size filter, verify, flag) — candidate machinery is
    // value-checked end-to-end, the q_dedup_minhash discipline.
    Q("q_containment",
      (s, dir) => {
        val docs = Tables.documents(s, dir).spreadBy(col("doc_id"))
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
        Dedup.containmentPairs(docs, docs.filter(col("doc_id") % 5 === 2),
            "doc_id", Dedup.tokenShingles(col("_toks"), 3),
            minContainPpm = 600000L)
          .orderBy("contained_id", "container_id")
      },
      Some(s"""WITH sh AS ($duckShingles),
              |inv AS (SELECT doc_id AS container_id, len(sh) AS nb, unnest(sh) AS g
              |        FROM sh),
              |dfr AS (SELECT g, count(*) AS df FROM inv GROUP BY 1),
              |cap AS (SELECT df AS c
              |        FROM (SELECT df, row_number() OVER (ORDER BY df) AS r FROM dfr)
              |        WHERE r = (SELECT (count(*) * 999 + 999) // 1000 FROM dfr)),
              |pr AS (SELECT a.doc_id AS contained_id, u.g, len(a.sh) AS na,
              |              len(a.sh) - (600000 * len(a.sh) + 999999) // 1000000 + 1 AS k,
              |              coalesce(d.df, 0) AS df
              |       FROM sh a
              |       CROSS JOIN LATERAL (SELECT unnest(a.sh) AS g) u
              |       LEFT JOIN dfr d ON u.g = d.g
              |       WHERE a.doc_id % 5 = 2),
              |pk AS (SELECT * FROM (SELECT pr.*, row_number() OVER (
              |                        PARTITION BY contained_id ORDER BY df, g) AS r
              |                      FROM pr) WHERE r <= k),
              |fl AS (SELECT contained_id,
              |              max(CASE WHEN df > (SELECT c FROM cap) THEN 1 ELSE 0 END)
              |                AS prefix_capped
              |       FROM pk GROUP BY 1),
              |cand AS (SELECT DISTINCT contained_id, container_id, na
              |         FROM pk JOIN inv USING (g)
              |         WHERE df <= (SELECT c FROM cap)
              |           AND contained_id <> container_id
              |           AND nb >= (600000 * na + 999999) // 1000000)
              |SELECT c.contained_id, c.container_id,
              |       CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
              |                  / len(a.sh)) AS BIGINT) AS contain_ppm,
              |       CAST(f.prefix_capped AS BIGINT) AS prefix_capped
              |FROM cand c
              |JOIN sh a ON a.doc_id = c.contained_id
              |JOIN sh b ON b.doc_id = c.container_id
              |JOIN fl f ON f.contained_id = c.contained_id
              |WHERE floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
              |            / len(a.sh)) >= 600000
              |ORDER BY c.contained_id, c.container_id""".stripMargin)),

    Q("q_ngram_jaccard",
      (s, dir) => {
        // repartition: the shingle + set-intersect work otherwise runs in
        // the raw file's single input partition
        val g = Tables.documents(s, dir).spreadBy(col("doc_id"))
          .select(col("doc_id"), Dedup.charShingles(col("text"), 5).as("g"))
        val q0 = g.filter(col("doc_id") === 0).select(col("g").as("g0"))
        g.crossJoin(broadcast(q0))
          .select(col("doc_id"), size(col("g")).cast("long").as("n_grams"),
            graft.functions.SetOps.jaccardPpmCol(col("g"), col("g0")).as("jaccard_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
             |  SELECT doc_id,
             |         list_distinct([substr(text, i::INT, 5) for i in range(1, len(text)-3)]) AS g
             |  FROM documents
             |)
             |SELECT a.doc_id, CAST(len(a.g) AS BIGINT) AS n_grams,
             |       CAST(floor(len(list_intersect(a.g, b.g0)) * 1000000.0
             |                  / len(list_distinct(a.g || b.g0))) AS BIGINT) AS jaccard_ppm
             |FROM g a, (SELECT g AS g0 FROM g WHERE doc_id = 0) b
             |ORDER BY a.doc_id""".stripMargin)),

    // -- similarity search ----------------------------------------------
    Q("q_cosine_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.topKExact(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 10)
          .orderBy("q_id", "rank")
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5
             |), s AS (
             |  SELECT q.q_id, e.vec_id,
             |    CAST(floor(
             |      list_dot_product(e.embedding::DOUBLE[], q.q_vec::DOUBLE[])
             |      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
             |         * sqrt(list_dot_product(q.q_vec::DOUBLE[], q.q_vec::DOUBLE[])))
             |      * 1000000.0) AS BIGINT) AS sim_ppm
             |  FROM embeddings e, q WHERE e.vec_id <> q.q_id
             |), r AS (
             |  SELECT q_id, vec_id, sim_ppm,
             |         row_number() OVER (PARTITION BY q_id ORDER BY sim_ppm DESC, vec_id) AS rank
             |  FROM s
             |)
             |SELECT q_id, rank, vec_id, sim_ppm FROM r WHERE rank <= 10
             |ORDER BY q_id, rank""".stripMargin)),

    // MMR diversity rerank — the step between retrieval and consumption
    // (RAG context packing, dedup'd search results): greedily re-pick 5
    // of each query's top-12 cosine candidates maximizing
    // relevance − max-sim-to-already-picked (λ = 1/2 cleared of its
    // division; exact integer ppm; ties to the smaller id). Retrieval
    // is the data-sized work and is staged ONCE; every greedy round
    // then runs on (queries × 12)-row frames keyed on q_id — a million
    // queries spread, the k rounds never funnel. The oracle replays the
    // identical greedy trail as an unrolled CTE chain.
    Q("q_mmr_rerank",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val cands = graft.store.Staging.stage(
          Similarity.topKExact(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 12)
            .select(col("q_id"), col("vec_id").as("cand_id"),
              col("sim_ppm").as("rel_ppm")),
          "mmr_cands")
        val cv = cands.join(
          emb.select(col("vec_id").as("cand_id"), col("embedding")), Seq("cand_id"))
        val pairs = graft.store.Staging.stage(
          cv.select(col("q_id"), col("cand_id").as("a_id"), col("embedding").as("_va"))
            .join(cv.select(col("q_id"), col("cand_id").as("b_id"), col("embedding").as("_vb")),
              Seq("q_id"))
            .filter(col("a_id") =!= col("b_id"))
            .withColumn("psim_ppm", Similarity.cosinePpm(col("_va"), col("_vb")))
            .select(col("q_id"), col("a_id"), col("b_id"), col("psim_ppm")),
          "mmr_pairs")
        Similarity.mmrRerank(cands, pairs, "q_id", "cand_id", 5)
          .orderBy("q_id", "rank")
      },
      Some {
        val cos = (a: String, b: String) =>
          s"""CAST(floor(list_dot_product($a::DOUBLE[], $b::DOUBLE[])
             |  / (sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[]))
             |     * sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])))
             |  * 1000000.0) AS BIGINT)""".stripMargin
        val head = Seq(
          "q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3)",
          s"""s AS (SELECT q.q_id, e.vec_id AS cand_id,
             |  ${cos("e.embedding", "q.q_vec")} AS rel_ppm
             |  FROM embeddings e, q WHERE e.vec_id <> q.q_id)""".stripMargin,
          """cand AS (SELECT q_id, cand_id, rel_ppm FROM (
            |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel_ppm DESC, cand_id) AS rn
            |  FROM s) WHERE rn <= 12)""".stripMargin,
          """cv AS (SELECT c.q_id, c.cand_id, e.embedding AS v
            |  FROM cand c JOIN embeddings e ON e.vec_id = c.cand_id)""".stripMargin,
          s"""pairs AS (SELECT a.q_id, a.cand_id AS a_id, b.cand_id AS b_id,
             |  ${cos("a.v", "b.v")} AS psim_ppm
             |  FROM cv a JOIN cv b ON a.q_id = b.q_id AND a.cand_id <> b.cand_id)""".stripMargin,
          """sel1 AS (SELECT q_id, 1 AS rank, cand_id, rel_ppm AS score FROM (
            |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel_ppm DESC, cand_id) AS rn
            |  FROM cand) WHERE rn = 1)""".stripMargin,
          "selall1 AS (SELECT * FROM sel1)")
        val steps = (2 to 5).flatMap { r =>
          Seq(
            s"""scored$r AS (SELECT c.q_id, c.cand_id, c.rel_ppm - max(p.psim_ppm) AS score
               |  FROM cand c
               |  JOIN pairs p ON p.q_id = c.q_id AND p.a_id = c.cand_id
               |  JOIN selall${r - 1} x ON x.q_id = p.q_id AND x.cand_id = p.b_id
               |  WHERE NOT EXISTS (SELECT 1 FROM selall${r - 1} z
               |                    WHERE z.q_id = c.q_id AND z.cand_id = c.cand_id)
               |  GROUP BY c.q_id, c.cand_id, c.rel_ppm)""".stripMargin,
            s"""sel$r AS (SELECT q_id, $r AS rank, cand_id, score FROM (
               |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
               |  FROM scored$r) WHERE rn = 1)""".stripMargin,
            s"selall$r AS (SELECT * FROM selall${r - 1} UNION ALL SELECT * FROM sel$r)")
        }
        "WITH " + (head ++ steps).mkString(",\n") +
          "\nSELECT q_id, CAST(rank AS BIGINT) AS rank, cand_id, CAST(score AS BIGINT) AS score2_ppm" +
          "\nFROM selall5 ORDER BY q_id, rank"
      }),

    // LSH-bucketed ANN with a FULL oracle: the md5-derived hyperplane
    // family makes signatures, bands, candidates, cosine and ranks all
    // reproducible in DuckDB — the approximate pipeline is checked
    // end-to-end, not rows-only. The plan contains no full-corpus
    // crossJoin (asserted in SimilaritySpec).
    Q("q_ann_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.annTopK(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 10,
            signatures = Similarity.rhpSignaturesMd5)
          .orderBy("q_id", "rank")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |sig AS (
             |  SELECT vec_id,
             |    CAST(list_sum(list_transform(range(0, 16), j ->
             |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
             |             ve[i::INT + 1] * CASE WHEN ascii(substr(md5(j || ':' || i), 1, 1)) >= 56
             |                                   THEN 1.0 ELSE -1.0 END)) > 0
             |           THEN (1::BIGINT << (15 - j::INT)) ELSE 0 END)) AS BIGINT) AS sig
             |  FROM v),
             |cbands AS (SELECT vec_id, b, (sig >> (b::INT * 4)) & 15 AS bv FROM sig, range(0, 4) t(b)),
             |qbands AS (SELECT vec_id AS q_id, b, bv FROM cbands WHERE vec_id < 5),
             |cand AS (
             |  SELECT DISTINCT q.q_id, c.vec_id
             |  FROM cbands c JOIN qbands q ON c.b = q.b AND c.bv = q.bv AND c.vec_id <> q.q_id),
             |scored AS (
             |  SELECT cand.q_id, cand.vec_id,
             |    CAST(floor(
             |      list_dot_product(cv.ve, qv.ve)
             |      / (sqrt(list_dot_product(cv.ve, cv.ve)) * sqrt(list_dot_product(qv.ve, qv.ve)))
             |      * 1000000.0) AS BIGINT) AS sim_ppm
             |  FROM cand JOIN v cv ON cand.vec_id = cv.vec_id JOIN v qv ON cand.q_id = qv.vec_id),
             |r AS (
             |  SELECT q_id, vec_id, sim_ppm,
             |         row_number() OVER (PARTITION BY q_id ORDER BY sim_ppm DESC, vec_id) AS rank
             |  FROM scored)
             |SELECT q_id, rank, vec_id, sim_ppm FROM r WHERE rank <= 10
             |ORDER BY q_id, rank""".stripMargin)),

    // Multi-probe LSH ANN: the same banded corpus index as q_ann_lsh,
    // but each query ALSO probes every Hamming-1 perturbation of each
    // of its 4 band values (5 keys per band instead of 1) — recall
    // rises at probe-count cost instead of index-size cost (Lv et
    // al.'s multi-probe trade). Oracle mirrors the full pipeline with
    // the expanded probe set; the corpus index is untouched.
    Q("q_ann_multiprobe",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.annTopK(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 10,
            signatures = Similarity.rhpSignaturesMd5,
            queryKeys = Similarity.multiProbeBlockKeys)
          .orderBy("q_id", "rank")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |sig AS (
             |  SELECT vec_id,
             |    CAST(list_sum(list_transform(range(0, 16), j ->
             |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
             |             ve[i::INT + 1] * CASE WHEN ascii(substr(md5(j || ':' || i), 1, 1)) >= 56
             |                                   THEN 1.0 ELSE -1.0 END)) > 0
             |           THEN (1::BIGINT << (15 - j::INT)) ELSE 0 END)) AS BIGINT) AS sig
             |  FROM v),
             |cbands AS (SELECT vec_id, b, (sig >> (b::INT * 4)) & 15 AS bv FROM sig, range(0, 4) t(b)),
             |qbands AS (SELECT vec_id AS q_id, b, bv FROM cbands WHERE vec_id < 5),
             |qprobe AS (
             |  SELECT q_id, b, bv FROM qbands
             |  UNION
             |  SELECT q_id, b, xor(bv, (1::BIGINT << i::INT)) FROM qbands, range(0, 4) u(i)),
             |cand AS (
             |  SELECT DISTINCT q.q_id, c.vec_id
             |  FROM cbands c JOIN qprobe q ON c.b = q.b AND c.bv = q.bv AND c.vec_id <> q.q_id),
             |scored AS (
             |  SELECT cand.q_id, cand.vec_id,
             |    CAST(floor(
             |      list_dot_product(cv.ve, qv.ve)
             |      / (sqrt(list_dot_product(cv.ve, cv.ve)) * sqrt(list_dot_product(qv.ve, qv.ve)))
             |      * 1000000.0) AS BIGINT) AS sim_ppm
             |  FROM cand JOIN v cv ON cand.vec_id = cv.vec_id JOIN v qv ON cand.q_id = qv.vec_id),
             |r2 AS (
             |  SELECT q_id, vec_id, sim_ppm,
             |         row_number() OVER (PARTITION BY q_id ORDER BY sim_ppm DESC, vec_id) AS rank
             |  FROM scored)
             |SELECT q_id, rank, vec_id, sim_ppm FROM r2 WHERE rank <= 10
             |ORDER BY q_id, rank""".stripMargin)),

    // Recall@k of the approximate path vs the exact one — the ANN's only
    // failure mode (a band miss) is invisible on a tiny corpus unless
    // measured explicitly. One row per query: what fraction of the exact
    // top-10 the ANN returned, in ppm. The oracle derives from the same
    // two already-verified pipelines, so this row documents the
    // approximation contract rather than re-deriving either side.
    Q("q_ann_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val exact = Similarity.topKExact(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 10)
        val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 10,
          signatures = Similarity.rhpSignaturesMd5)
        exact.as("e")
          .join(ann.as("a"),
            col("e.q_id") === col("a.q_id") && col("e.vec_id") === col("a.vec_id"), "left")
          .groupBy(col("e.q_id").as("q_id"))
          .agg(floor(sum(when(col("a.vec_id").isNotNull, 1L).otherwise(0L))
            * lit(1000000L) / count(lit(1))).cast("long").as("recall_ppm"))
          .orderBy("q_id")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |q AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 5),
             |exact AS (
             |  SELECT q.q_id, e.vec_id,
             |         row_number() OVER (PARTITION BY q.q_id ORDER BY
             |           CAST(floor(list_dot_product(e.ve, q.qe)
             |             / (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe)))
             |             * 1000000.0) AS BIGINT) DESC, e.vec_id) AS rank
             |  FROM v e, q WHERE e.vec_id <> q.q_id),
             |sig AS (
             |  SELECT vec_id,
             |    CAST(list_sum(list_transform(range(0, 16), j ->
             |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
             |             ve[i::INT + 1] * CASE WHEN ascii(substr(md5(j || ':' || i), 1, 1)) >= 56
             |                                   THEN 1.0 ELSE -1.0 END)) > 0
             |           THEN (1::BIGINT << (15 - j::INT)) ELSE 0 END)) AS BIGINT) AS sig
             |  FROM v),
             |cbands AS (SELECT vec_id, b, (sig >> (b::INT * 4)) & 15 AS bv FROM sig, range(0, 4) t(b)),
             |qbands AS (SELECT vec_id AS q_id, b, bv FROM cbands WHERE vec_id < 5),
             |cand AS (
             |  SELECT DISTINCT q.q_id, c.vec_id
             |  FROM cbands c JOIN qbands q ON c.b = q.b AND c.bv = q.bv AND c.vec_id <> q.q_id),
             |ann AS (
             |  SELECT cand.q_id, cand.vec_id,
             |         row_number() OVER (PARTITION BY cand.q_id ORDER BY
             |           CAST(floor(list_dot_product(cv.ve, qv.ve)
             |             / (sqrt(list_dot_product(cv.ve, cv.ve)) * sqrt(list_dot_product(qv.ve, qv.ve)))
             |             * 1000000.0) AS BIGINT) DESC, cand.vec_id) AS rank
             |  FROM cand JOIN v cv ON cand.vec_id = cv.vec_id JOIN v qv ON cand.q_id = qv.vec_id)
             |SELECT e.q_id, CAST(floor(count(a.vec_id) * 1000000.0 / count(*)) AS BIGINT) AS recall_ppm
             |FROM (SELECT * FROM exact WHERE rank <= 10) e
             |LEFT JOIN (SELECT * FROM ann WHERE rank <= 10) a
             |  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
             |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin)),

    // NDCG@10 of the LSH path vs exact — recall counts SET overlap;
    // NDCG charges for returning the right docs in the WRONG order
    // (position-discounted credit, the metric retrieval evals report).
    // Graded relevance = 11 − exact_rank; discounts w_p =
    // floor(10⁶/log₂(p+1)) are COMPILE-TIME ppm literals (the ladder
    // trick — no libm log at runtime), the ideal DCG is their
    // rel-sorted constant, and ndcg_ppm is one floor-division.
    Q("q_ann_ndcg",
      (s, dir) => {
        val wts = Seq(1000000L, 630929L, 500000L, 430676L, 386852L,
          356207L, 333333L, 315464L, 301029L, 289064L)
        val ideal = wts.zipWithIndex.map { case (w, i) => (10L - i) * w }.sum
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val exact = Similarity.topKExact(emb, queries, "vec_id", "embedding",
          "q_id", "q_vec", 10)
        val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding",
          "q_id", "q_vec", 10, signatures = Similarity.rhpSignaturesMd5)
        val wArr = s"array(${wts.mkString("L, ")}L)"
        ann.join(exact.select(col("q_id"), col("vec_id"),
            col("rank").as("_erank")), Seq("q_id", "vec_id"), "left")
          .withColumn("_rel", coalesce(lit(11L) - col("_erank"), lit(0L)))
          .withColumn("_w", expr(s"element_at($wArr, CAST(rank AS INT))"))
          .groupBy(col("q_id"))
          .agg(sum(col("_rel") * col("_w")).as("dcg_sys"))
          .withColumn("ndcg_ppm", expr(s"dcg_sys * 1000000 DIV ${ideal}L"))
          .orderBy("q_id")
      },
      Some {
        val wts = Seq(1000000L, 630929L, 500000L, 430676L, 386852L,
          356207L, 333333L, 315464L, 301029L, 289064L)
        val ideal = wts.zipWithIndex.map { case (w, i) => (10L - i) * w }.sum
        val wCase = wts.zipWithIndex
          .map { case (w, p) => s"WHEN ${p + 1} THEN $w" }
          .mkString("CASE a.rank ", " ", " END")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |q AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 5),
           |exact AS (
           |  SELECT q.q_id, e.vec_id,
           |         row_number() OVER (PARTITION BY q.q_id ORDER BY
           |           CAST(floor(list_dot_product(e.ve, q.qe)
           |             / (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe)))
           |             * 1000000.0) AS BIGINT) DESC, e.vec_id) AS rank
           |  FROM v e, q WHERE e.vec_id <> q.q_id),
           |sig AS (
           |  SELECT vec_id,
           |    CAST(list_sum(list_transform(range(0, 16), j ->
           |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
           |             ve[i::INT + 1] * CASE WHEN ascii(substr(md5(j || ':' || i), 1, 1)) >= 56
           |                                   THEN 1.0 ELSE -1.0 END)) > 0
           |           THEN (1::BIGINT << (15 - j::INT)) ELSE 0 END)) AS BIGINT) AS sig
           |  FROM v),
           |cbands AS (SELECT vec_id, b, (sig >> (b::INT * 4)) & 15 AS bv FROM sig, range(0, 4) t(b)),
           |qbands AS (SELECT vec_id AS q_id, b, bv FROM cbands WHERE vec_id < 5),
           |cand AS (
           |  SELECT DISTINCT q.q_id, c.vec_id
           |  FROM cbands c JOIN qbands q ON c.b = q.b AND c.bv = q.bv AND c.vec_id <> q.q_id),
           |ann AS (
           |  SELECT cand.q_id, cand.vec_id,
           |         row_number() OVER (PARTITION BY cand.q_id ORDER BY
           |           CAST(floor(list_dot_product(cv.ve, qv.ve)
           |             / (sqrt(list_dot_product(cv.ve, cv.ve)) * sqrt(list_dot_product(qv.ve, qv.ve)))
           |             * 1000000.0) AS BIGINT) DESC, cand.vec_id) AS rank
           |  FROM cand JOIN v cv ON cand.vec_id = cv.vec_id JOIN v qv ON cand.q_id = qv.vec_id)
           |SELECT a.q_id,
           |       CAST(sum((CASE WHEN e.rank IS NOT NULL THEN 11 - e.rank ELSE 0 END)
           |                * ($wCase)) AS BIGINT) AS dcg_sys,
           |       CAST(sum((CASE WHEN e.rank IS NOT NULL THEN 11 - e.rank ELSE 0 END)
           |                * ($wCase)) * 1000000 // $ideal AS BIGINT) AS ndcg_ppm
           |FROM (SELECT * FROM ann WHERE rank <= 10) a
           |LEFT JOIN (SELECT * FROM exact WHERE rank <= 10) e
           |  ON a.q_id = e.q_id AND a.vec_id = e.vec_id
           |GROUP BY a.q_id ORDER BY a.q_id""".stripMargin
      }),

    // MRR of the LSH path — the third retrieval-eval lens (recall =
    // set coverage, NDCG = full-list order, MRR = "how far down is THE
    // answer"): reciprocal rank of the exact TOP-1 neighbor in the ANN
    // list, floor(10⁶/rank) from the same compile-time-ladder idiom,
    // 0 when the ANN misses it entirely.
    Q("q_ann_mrr",
      (s, dir) => {
        val rr = (1 to 10).map(r => r.toLong -> (1000000L / r)).toMap
        val rrCase = (1 to 10)
          .map(r => s"WHEN rank = $r THEN ${rr(r.toLong)}")
          .mkString("CASE ", " ", " ELSE 0 END")
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val exact1 = Similarity.topKExact(emb, queries, "vec_id", "embedding",
          "q_id", "q_vec", 1).select(col("q_id"), col("vec_id"))
        val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding",
          "q_id", "q_vec", 10, signatures = Similarity.rhpSignaturesMd5)
        exact1.join(ann.select(col("q_id"), col("vec_id"), col("rank")),
            Seq("q_id", "vec_id"), "left")
          .select(col("q_id"),
            coalesce(expr(rrCase), lit(0L)).as("rr_ppm"))
          .orderBy("q_id")
      },
      Some {
        val rrCase = (1 to 10)
          .map(r => s"WHEN a.rank = $r THEN ${1000000L / r}")
          .mkString("CASE ", " ", " ELSE 0 END")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |q AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 5),
           |exact AS (
           |  SELECT q.q_id, e.vec_id,
           |         row_number() OVER (PARTITION BY q.q_id ORDER BY
           |           CAST(floor(list_dot_product(e.ve, q.qe)
           |             / (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe)))
           |             * 1000000.0) AS BIGINT) DESC, e.vec_id) AS rank
           |  FROM v e, q WHERE e.vec_id <> q.q_id),
           |sig AS (
           |  SELECT vec_id,
           |    CAST(list_sum(list_transform(range(0, 16), j ->
           |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
           |             ve[i::INT + 1] * CASE WHEN ascii(substr(md5(j || ':' || i), 1, 1)) >= 56
           |                                   THEN 1.0 ELSE -1.0 END)) > 0
           |           THEN (1::BIGINT << (15 - j::INT)) ELSE 0 END)) AS BIGINT) AS sig
           |  FROM v),
           |cbands AS (SELECT vec_id, b, (sig >> (b::INT * 4)) & 15 AS bv FROM sig, range(0, 4) t(b)),
           |qbands AS (SELECT vec_id AS q_id, b, bv FROM cbands WHERE vec_id < 5),
           |cand AS (
           |  SELECT DISTINCT q.q_id, c.vec_id
           |  FROM cbands c JOIN qbands q ON c.b = q.b AND c.bv = q.bv AND c.vec_id <> q.q_id),
           |ann AS (
           |  SELECT cand.q_id, cand.vec_id,
           |         row_number() OVER (PARTITION BY cand.q_id ORDER BY
           |           CAST(floor(list_dot_product(cv.ve, qv.ve)
           |             / (sqrt(list_dot_product(cv.ve, cv.ve)) * sqrt(list_dot_product(qv.ve, qv.ve)))
           |             * 1000000.0) AS BIGINT) DESC, cand.vec_id) AS rank
           |  FROM cand JOIN v cv ON cand.vec_id = cv.vec_id JOIN v qv ON cand.q_id = qv.vec_id)
           |SELECT e1.q_id,
           |       CAST(coalesce($rrCase, 0) AS BIGINT) AS rr_ppm
           |FROM (SELECT * FROM exact WHERE rank = 1) e1
           |LEFT JOIN (SELECT * FROM ann WHERE rank <= 10) a
           |  ON e1.q_id = a.q_id AND e1.vec_id = a.vec_id
           |ORDER BY e1.q_id""".stripMargin
      }),

    // Measured recall@10 of the MULTI-PROBE LSH path vs exact — the
    // third column of the LSH / multi-probe / IVF chooser. Multi-probe
    // candidates are a superset of plain banding's, so this recall is
    // ≥ q_ann_recall's by construction; here it is measured, not
    // assumed.
    Q("q_ann_recall_multiprobe",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val exact = Similarity.topKExact(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 10)
        val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 10,
          signatures = Similarity.rhpSignaturesMd5,
          queryKeys = Similarity.multiProbeBlockKeys)
        exact.as("e")
          .join(ann.as("a"),
            col("e.q_id") === col("a.q_id") && col("e.vec_id") === col("a.vec_id"), "left")
          .groupBy(col("e.q_id").as("q_id"))
          .agg(floor(sum(when(col("a.vec_id").isNotNull, 1L).otherwise(0L))
            * lit(1000000L) / count(lit(1))).cast("long").as("recall_ppm"))
          .orderBy("q_id")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |q AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 5),
             |exact AS (
             |  SELECT q.q_id, e.vec_id,
             |         row_number() OVER (PARTITION BY q.q_id ORDER BY
             |           CAST(floor(list_dot_product(e.ve, q.qe)
             |             / (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe)))
             |             * 1000000.0) AS BIGINT) DESC, e.vec_id) AS rank
             |  FROM v e, q WHERE e.vec_id <> q.q_id),
             |sig AS (
             |  SELECT vec_id,
             |    CAST(list_sum(list_transform(range(0, 16), j ->
             |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
             |             ve[i::INT + 1] * CASE WHEN ascii(substr(md5(j || ':' || i), 1, 1)) >= 56
             |                                   THEN 1.0 ELSE -1.0 END)) > 0
             |           THEN (1::BIGINT << (15 - j::INT)) ELSE 0 END)) AS BIGINT) AS sig
             |  FROM v),
             |cbands AS (SELECT vec_id, b, (sig >> (b::INT * 4)) & 15 AS bv FROM sig, range(0, 4) t(b)),
             |qbands AS (SELECT vec_id AS q_id, b, bv FROM cbands WHERE vec_id < 5),
             |qprobe AS (
             |  SELECT q_id, b, bv FROM qbands
             |  UNION
             |  SELECT q_id, b, xor(bv, (1::BIGINT << i::INT)) FROM qbands, range(0, 4) u(i)),
             |cand AS (
             |  SELECT DISTINCT q.q_id, c.vec_id
             |  FROM cbands c JOIN qprobe q ON c.b = q.b AND c.bv = q.bv AND c.vec_id <> q.q_id),
             |ann AS (
             |  SELECT cand.q_id, cand.vec_id,
             |         row_number() OVER (PARTITION BY cand.q_id ORDER BY
             |           CAST(floor(list_dot_product(cv.ve, qv.ve)
             |             / (sqrt(list_dot_product(cv.ve, cv.ve)) * sqrt(list_dot_product(qv.ve, qv.ve)))
             |             * 1000000.0) AS BIGINT) DESC, cand.vec_id) AS rank
             |  FROM cand JOIN v cv ON cand.vec_id = cv.vec_id JOIN v qv ON cand.q_id = qv.vec_id)
             |SELECT e.q_id, CAST(floor(count(a.vec_id) * 1000000.0 / count(*)) AS BIGINT) AS recall_ppm
             |FROM (SELECT * FROM exact WHERE rank <= 10) e
             |LEFT JOIN (SELECT * FROM ann WHERE rank <= 10) a
             |  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
             |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin)),

    // IVF-style inverted-file ANN — the data-DEPENDENT coarse quantizer
    // (centroids seeded from corpus rows id < 8; a k-means loop would be
    // trained offline at scale). Assignment, probing (nprobe=2), bucket
    // search and ranks are all deterministic, so like q_ann_lsh the whole
    // approximate pipeline is oracle-checked END-TO-END. No full-corpus
    // crossJoin (asserted in SimilaritySpec).
    Q("q_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 10,
            nCentroids = 8, nprobe = 2)
          .orderBy("q_id", "rank")
      },
      Some(ivfSearchOracleSql())),

    // INCREMENTAL IVF index maintenance: the base corpus's postings are
    // a staged compact (id, cid, norm) parquet index, a new ingest
    // batch (vec_id % 10 == 0) assigns only ITS vectors and appends —
    // the quantizer is frozen, so the merged index is bit-identical to
    // a full rebuild, and the ORACLE IS q_ann_ivf's full-build SQL:
    // incremental == rebuild is the checked contract.
    // STREAMING ANN ingest: vectors arrive as mtime-ordered
    // micro-batches, each assigning only ITS vectors to the
    // offline-trained (frozen) quantizer and appending compact
    // (id, cid, norm) postings to a versioned view — the embedding
    // store's write path under the streaming engine. Per-row assignment
    // independence makes the final view == full rebuild, so the oracle
    // IS q_ann_ivf's full-build SQL: batch boundaries provably leave no
    // trace.
    Q("q_stream_ann",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val store = graft.streaming.Replay.ensureEmbIngestStore(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        // View root derives from the sfDir-keyed ingest store path, like
        // every other replay view — concurrent runs over different scale
        // dirs must not clobber each other's view/checkpoint.
        graft.streaming.Replay.annIngestReplay(s, store, emb,
            store + "_view", queries,
            "vec_id", "embedding", "q_id", "q_vec", 10, nCentroids = 8, nprobe = 2)
          .orderBy("q_id", "rank")
      },
      Some(ivfSearchOracleSql())),

    Q("q_ann_incremental",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.ivfIncrementalTopK(emb, pmod(col("vec_id"), lit(10L)) === 0L,
            queries, "vec_id", "embedding", "q_id", "q_vec", 10,
            nCentroids = 8, nprobe = 2)
          .orderBy("q_id", "rank")
      },
      Some(ivfSearchOracleSql())),

    // IVF maintenance with DELETES: dedup kills docs (vec_id % 10 == 7),
    // a new batch appends (vec_id % 10 == 0); kills are TOMBSTONES
    // anti-joined onto the postings view — the staged base index is
    // never rewritten (MergeStore row-shadowing, applied to ANN). The
    // quantizer stays frozen, so deleting vec 7 — itself a centroid
    // seed — removes it from every result but keeps its bucket anchor:
    // the oracle is the SAME full-build SQL with only the searchable
    // corpus filtered, proving tombstoned-merged == rebuild.
    Q("q_ann_incremental_delete",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.ivfIncrementalDeleteTopK(emb,
            pmod(col("vec_id"), lit(10L)) === 7L,
            pmod(col("vec_id"), lit(10L)) === 0L,
            queries, "vec_id", "embedding", "q_id", "q_vec", 10,
            nCentroids = 8, nprobe = 2)
          .orderBy("q_id", "rank")
      },
      Some(ivfSearchOracleSql("n.vec_id % 10 <> 7"))),

    // COMPACTION closing the ANN maintenance loop (append → delete →
    // compact): the tombstoned live view rewrites into a fresh staged
    // postings index — a pure (id, cid, norm) rewrite, NO vector access,
    // no re-assignment (MergeStore-OPTIMIZE cost, parallel by cid) —
    // and search over it must STILL hash to the same full-build oracle
    // as q_ann_incremental_delete: compacted == live view == rebuild.
    Q("q_ann_compact",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.ivfCompactTopK(emb,
            pmod(col("vec_id"), lit(10L)) === 7L,
            pmod(col("vec_id"), lit(10L)) === 0L,
            queries, "vec_id", "embedding", "q_id", "q_vec", 10,
            nCentroids = 8, nprobe = 2)
          .orderBy("q_id", "rank")
      },
      Some(ivfSearchOracleSql("n.vec_id % 10 <> 7"))),

    // Recall@10 of the IVF path vs exact — the companion to q_ann_recall
    // (which measures the LSH pipeline): the IVF quantizer's recall loss
    // (seeded centroids, nprobe=2) was asserted correct but never
    // MEASURED, and recall is the number a user needs to choose LSH vs
    // IVF on their data (VERDICT r4 next #5). Same shape: one row per
    // query, fraction of the exact top-10 the IVF top-10 returned, ppm.
    Q("q_ann_recall_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val exact = Similarity.topKExact(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 10)
        val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "q_id", "q_vec", 10,
          nCentroids = 8, nprobe = 2)
        exact.as("e")
          .join(ivf.as("a"),
            col("e.q_id") === col("a.q_id") && col("e.vec_id") === col("a.vec_id"), "left")
          .groupBy(col("e.q_id").as("q_id"))
          .agg(floor(sum(when(col("a.vec_id").isNotNull, 1L).otherwise(0L))
            * lit(1000000L) / count(lit(1))).cast("long").as("recall_ppm"))
          .orderBy("q_id")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |n AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nn FROM v),
             |q AS (SELECT vec_id AS q_id, ve AS qv, nn AS qn FROM n WHERE vec_id < 5),
             |exact AS (
             |  SELECT q.q_id, e.vec_id,
             |         row_number() OVER (PARTITION BY q.q_id ORDER BY
             |           CAST(floor(list_dot_product(e.ve, q.qv)
             |             / (e.nn * q.qn) * 1000000.0) AS BIGINT) DESC, e.vec_id) AS rank
             |  FROM n e, q WHERE e.vec_id <> q.q_id),
             |cent AS (SELECT vec_id AS cid, ve AS cv, nn AS cn FROM n WHERE vec_id < 8),
             |asg AS (
             |  SELECT n.vec_id, n.ve, n.nn,
             |    -((max(struct_pack(s := CAST(floor(list_dot_product(n.ve, cent.cv)
             |                                       / (n.nn * cent.cn) * 1000000.0) AS BIGINT),
             |                       nc := -cent.cid))).nc) AS cid
             |  FROM n, cent GROUP BY n.vec_id, n.ve, n.nn),
             |probe AS (
             |  SELECT q_id, cid FROM (
             |    SELECT q.q_id, cent.cid,
             |      row_number() OVER (PARTITION BY q.q_id ORDER BY
             |        CAST(floor(list_dot_product(q.qv, cent.cv)
             |                   / (q.qn * cent.cn) * 1000000.0) AS BIGINT) DESC, cent.cid) AS pr
             |    FROM q, cent) WHERE pr <= 2),
             |ivf AS (
             |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY sim_ppm DESC, vec_id) AS rank
             |  FROM (
             |    SELECT q.q_id, a.vec_id,
             |      CAST(floor(list_dot_product(a.ve, q.qv) / (a.nn * q.qn) * 1000000.0) AS BIGINT) AS sim_ppm
             |    FROM asg a JOIN probe p ON a.cid = p.cid JOIN q ON q.q_id = p.q_id
             |    WHERE a.vec_id <> q.q_id))
             |SELECT e.q_id, CAST(floor(count(a.vec_id) * 1000000.0 / count(*)) AS BIGINT) AS recall_ppm
             |FROM (SELECT * FROM exact WHERE rank <= 10) e
             |LEFT JOIN (SELECT * FROM ivf WHERE rank <= 10) a
             |  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
             |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin)),

    // Embedding int8 quantization round-trip: the 4×-smaller storage path
    // for embedding corpora, with the reconstruction error bounded and
    // oracle-checked (identical double op order in both engines).
    Q("q_embed_quantize",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .withColumn("_maxabs", Similarity.vecMaxAbs(col("embedding")))
          .withColumn("_q", Similarity.int8Quantize(col("embedding"), col("_maxabs")))
        e.select(
          col("vec_id"),
          array_max(col("_q")).as("max_q"),
          array_min(col("_q")).as("min_q"),
          Similarity.int8ErrPpm(col("embedding"), col("_q"), col("_maxabs")).as("err_ppm"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
             |m AS (SELECT vec_id, ve, list_max(list_transform(ve, x -> abs(x))) AS maxabs FROM e),
             |q AS (SELECT vec_id, ve, maxabs,
             |        list_transform(ve, x -> floor(x / maxabs * 127.0)) AS qv FROM m)
             |SELECT vec_id,
             |  CAST(list_max(qv) AS BIGINT) AS max_q,
             |  CAST(list_min(qv) AS BIGINT) AS min_q,
             |  CAST(floor(
             |    list_sum(list_transform(range(1, 65), i -> abs(ve[i::INT] - qv[i::INT] * maxabs / 127.0)))
             |    / list_sum(list_transform(ve, x -> abs(x))) * 1000000.0) AS BIGINT) AS err_ppm
             |FROM q ORDER BY vec_id""".stripMargin)),

    // Deterministic hash-based train/val/test split (12/2/2 by md5
    // nibble band) + a ~6.25% dev-sample flag: assignment is a pure
    // function of the id, so it is stable across runs/engines/cluster
    // sizes — no RNG, no shuffle, one codegen'd hash per row. Hex md5
    // digits sort '0'<'9'<'a'<'f', so the oracle's nibble bands are
    // plain char comparisons.
    Q("q_data_split",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            Sampling.hashSplit(col("doc_id"), 12, 14).as("split"),
            Sampling.hashSample(col("doc_id"), 1).cast("int").as("in_dev_sample"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
             |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
             |       ELSE 'test' END AS split,
             |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' THEN 1
             |       ELSE 0 END AS in_dev_sample
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Group-aware k-fold CV assignment (sklearn's GroupKFold, made
    // deterministic): the fold is a pure md5 function of user_id, so
    // ALL of a user's events share a fold and per-user signal can never
    // leak across CV folds — the entity-atomic middle ground between
    // q_data_split's per-row hash and q_split_safe's cluster-atomic
    // split. The census is the balance audit a pipeline checks before
    // trusting the folds: user/event counts and label rate per fold.
    Q("q_group_folds",
      (s, dir) => Tables.events(s, dir)
        .withColumn("fold",
          pmod(conv(substring(md5(col("user_id").cast("string").cast("binary")),
            1, 12), 16, 10).cast("long"), lit(5L)))
        .groupBy(col("fold"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          sum((col("event_type") === "purchase").cast("long")).as("n_purchase"))
        .withColumn("purchase_rate_ppm",
          expr("CAST(n_purchase * 1000000 DIV n_events AS BIGINT)"))
        .orderBy("fold"),
      Some("""WITH b AS (SELECT user_id, event_type,
             |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 5
             |    AS fold
             |  FROM events)
             |SELECT fold, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_purchase,
             |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |            * 1000000 // count(*) AS BIGINT) AS purchase_rate_ppm
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Leakage-safe train/val/test split: near-dup clusters (the verified
    // minhash→CC frame) split as ATOMIC units — every member inherits
    // the hashSplit of its cluster representative (the component min-id
    // label), so near-dup twins can never straddle train and test (the
    // eval-contamination guarantee q_data_split's per-doc hash cannot
    // give). Singletons split by their own id, so on a dup-free corpus
    // the assignment degrades to q_data_split exactly. At scale the
    // clustered set is small → the rep join broadcasts.
    Q("q_split_safe",
      (s, dir) => {
        val cc = minhashClusters(s, dir)
        Tables.documents(s, dir).select(col("doc_id"))
          .join(cc.select(col("doc_id"), col("component")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("rep"),
            Sampling.hashSplit(
              coalesce(col("component"), col("doc_id")), 12, 14).as("split"))
          .orderBy("doc_id")
      },
      Some(s"""$duckClusters
              |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep,
              |  CASE WHEN substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR)), 1, 1) < 'c' THEN 'train'
              |       WHEN substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR)), 1, 1) < 'e' THEN 'val'
              |       ELSE 'test' END AS split
              |FROM documents d LEFT JOIN comp c USING (doc_id)
              |ORDER BY d.doc_id""".stripMargin)),

    // Stratified (per-language) deterministic sampling — the domain
    // REBALANCING step: en is ~44% of this corpus, so it samples at 4/16
    // while zh keeps everything; the md5-nibble predicate makes the kept
    // set a pure function of (doc_id, lang), nested under rate increases
    // and engine-reproducible (same family as q_data_split). Output is
    // the per-stratum census: total, kept, and the realized keep rate.
    Q("q_stratified_sample",
      (s, dir) => {
        val rates = Seq("en" -> 4, "fr" -> 8, "es" -> 8, "de" -> 8, "zh" -> 16)
        Tables.documents(s, dir)
          .withColumn("_keep",
            Sampling.stratifiedSampleFlag(col("doc_id"), col("lang"), rates, 8))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("_keep").cast("long")).as("n_kept"))
          .select(col("lang"), col("n_docs"), col("n_kept"),
            floor(col("n_kept") * lit(1000000L) / col("n_docs")).cast("long").as("kept_ppm"))
          .orderBy("lang")
      },
      Some("""WITH f AS (
             |  SELECT lang,
             |    CASE WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
             |         WHEN lang = 'zh' THEN TRUE
             |         ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' END AS keep
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |       CAST(floor(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000.0 / count(*)) AS BIGINT) AS kept_ppm
             |FROM f GROUP BY lang ORDER BY lang""".stripMargin)),

    // Distribution-drift monitor between two corpus windows (the PSI
    // use case, engine-exact): per event_type, 10 fixed-width value
    // bins, reference = Jan 1-15 vs current = Jan 16-30, per-bin |p-q|
    // and (p-q)²/(p+q) contributions in pure integer/DECIMAL(38,0)
    // arithmetic — no ln(), no float division, nothing libm to diverge.
    // Headline per group: 2·TV ppm + χ² ppm. Drift frame is
    // O(groups·bins) regardless of corpus size (two map-side-combined
    // histograms + broadcast totals join).
    Q("q_drift_hist",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val cut = 1705363200000000L // 2024-01-16T00:00:00Z epoch-µs
        val cells = Stats.histogramDrift(
          ev.filter(unix_micros(col("ts")) < cut),
          ev.filter(unix_micros(col("ts")) >= cut),
          "event_type", "value", lo = 0.0, binWidth = 10.0, bins = 10)
        cells.groupBy(col("g").as("event_type"))
          .agg(sum(col("n_ref")).as("n_ref"), sum(col("n_cur")).as("n_cur"),
            sum(col("dev_ppm")).as("tv2_ppm"), sum(col("chi2_ppm")).as("chi2_ppm"))
          .orderBy("event_type")
      },
      Some(driftHistOracleSql)),

    // Binless drift: exact two-sample Kolmogorov-Smirnov distance of
    // every event_type's value-mils distribution vs the 'click'
    // reference — sup|F_ref - F_g| over pooled distinct values, cross-
    // multiplied cumulative counts (no division until the DECIMAL ppm),
    // per-group windows only. Catches the shape shifts q_drift_hist's
    // fixed bins can wash out. Oracle replays the identical pooled-CDF
    // recurrence (totals = last cumulative, HUGEINT ppm).
    Q("q_ks_test",
      (s, dir) => Stats.ksDrift(
          Tables.events(s, dir), col("event_type"),
          floor(col("value") * 1000).cast("long"), refGroup = "click")
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type"),
      Some("""WITH b AS (SELECT event_type AS g,
             |                  CAST(floor(value*1000) AS BIGINT) AS v FROM events),
             |rc AS (SELECT v, count(*) AS cr FROM b WHERE g = 'click' GROUP BY 1),
             |cc AS (SELECT g, v, count(*) AS cg FROM b WHERE g <> 'click' GROUP BY 1, 2),
             |re AS (SELECT gs.g, rc.v, rc.cr FROM rc CROSS JOIN (SELECT DISTINCT g FROM cc) gs),
             |m AS (SELECT coalesce(re.g, cc.g) AS g, coalesce(re.v, cc.v) AS v,
             |             coalesce(re.cr, 0) AS cr, coalesce(cc.cg, 0) AS cg
             |      FROM re FULL OUTER JOIN cc ON re.g = cc.g AND re.v = cc.v),
             |c AS (SELECT g, v,
             |        sum(cr) OVER (PARTITION BY g ORDER BY v
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fr,
             |        sum(cg) OVER (PARTITION BY g ORDER BY v
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fg
             |      FROM m),
             |t AS (SELECT g, max(fr) AS nr, max(fg) AS ng FROM c GROUP BY 1),
             |d AS (SELECT c.g, t.nr, t.ng,
             |             max(abs(c.fr*t.ng - c.fg*t.nr)) AS md
             |      FROM c JOIN t ON c.g = t.g GROUP BY 1, 2, 3)
             |SELECT g AS event_type, CAST(nr AS BIGINT) AS n_ref,
             |       CAST(ng AS BIGINT) AS n_cur,
             |       CAST(CASE WHEN nr > 0 AND ng > 0
             |            THEN CAST(md AS HUGEINT) * 1000000 // (CAST(nr AS HUGEINT) * ng)
             |            ELSE 0 END AS BIGINT) AS ks_ppm
             |FROM d ORDER BY event_type""".stripMargin)),

    // Two-sample Cramér–von Mises vs the 'click' reference — the
    // INTEGRATED companion to q_ks_test's sup: KS sees the single worst
    // CDF gap, CvM charges for the whole area between the curves, so
    // small-everywhere drift scores here and hides from KS. Same
    // distinct-value census machinery, different final reduce.
    Q("q_cvm_test",
      (s, dir) => Stats.cvmDrift(
          Tables.events(s, dir), col("event_type"),
          floor(col("value") * 1000).cast("long"), refGroup = "click")
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type"),
      Some("""WITH b AS (SELECT event_type AS g,
             |                  CAST(floor(value*1000) AS BIGINT) AS v FROM events),
             |rc AS (SELECT v, count(*) AS cr FROM b WHERE g = 'click' GROUP BY 1),
             |cc AS (SELECT g, v, count(*) AS cg FROM b WHERE g <> 'click' GROUP BY 1, 2),
             |re AS (SELECT gs.g, rc.v, rc.cr FROM rc CROSS JOIN (SELECT DISTINCT g FROM cc) gs),
             |m AS (SELECT coalesce(re.g, cc.g) AS g, coalesce(re.v, cc.v) AS v,
             |             coalesce(re.cr, 0) AS cr, coalesce(cc.cg, 0) AS cg
             |      FROM re FULL OUTER JOIN cc ON re.g = cc.g AND re.v = cc.v),
             |c AS (SELECT g, v, cr, cg,
             |        sum(cr) OVER (PARTITION BY g ORDER BY v
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fr,
             |        sum(cg) OVER (PARTITION BY g ORDER BY v
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fg
             |      FROM m),
             |t AS (SELECT g, max(fr) AS nr, max(fg) AS ng FROM c GROUP BY 1),
             |d AS (SELECT c.g, t.nr, t.ng,
             |             sum(CAST(c.cr + c.cg AS HUGEINT)
             |                 * (CAST(c.fr AS HUGEINT) * t.ng - CAST(c.fg AS HUGEINT) * t.nr)
             |                 * (CAST(c.fr AS HUGEINT) * t.ng - CAST(c.fg AS HUGEINT) * t.nr))
             |               AS s
             |      FROM c JOIN t ON c.g = t.g GROUP BY 1, 2, 3)
             |SELECT g AS event_type, CAST(nr AS BIGINT) AS n_ref,
             |       CAST(ng AS BIGINT) AS n_cur,
             |       CAST(CASE WHEN nr > 0 AND ng > 0
             |            THEN s * 1000000 // (CAST(nr AS HUGEINT) * ng * (nr + ng) * (nr + ng))
             |            ELSE 0 END AS BIGINT) AS cvm_ppm
             |FROM d ORDER BY event_type""".stripMargin)),

    // Weighted sampling WITHOUT replacement, RNG-free: systematic
    // selection by cumulative token weight over the (md5(id), id)
    // pseudo-random order (Madow) — inclusion ∝ weight, exact integer
    // floor-division everywhere (A-ES reservoir keys u^(1/w) would tie
    // the pick set to libm). The prefix sum runs banded (16 nibble sums
    // to the driver as offsets + per-band window), never one partition.
    Q("q_sample_weighted",
      (s, dir) => Sampling.weightedSystematicSample(
          Tables.documents(s, dir),
          "doc_id",
          size(TextAnalysis.tokens(col("text"))),
          step = 500L)
        .orderBy("doc_id"),
      Some("""WITH k AS (
             |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS w,
             |         md5(CAST(doc_id AS VARCHAR)) AS kk
             |  FROM documents),
             |c AS (SELECT doc_id, w,
             |             CAST(sum(w) OVER (ORDER BY kk, doc_id) - w
             |                  AS BIGINT) AS lo
             |      FROM k)
             |SELECT doc_id, w AS weight, lo AS cum_before FROM c
             |WHERE (lo + w + 499) // 500 > (lo + 499) // 500
             |ORDER BY doc_id""".stripMargin)),

    // Informative-term contrast (Monroe "Fightin' Words" log-odds with
    // Dirichlet prior) between the en and de sub-corpora, ranked by the
    // EXACT integer cross-ratio (monotone in the log-odds — no ln(),
    // nothing libm to diverge): ratio_ppm > 10⁶ leans en, < 10⁶ leans
    // de. One token explode → one two-conditional-count aggregation +
    // 1-row broadcast totals; output O(vocab).
    Q("q_logodds_terms",
      (s, dir) => TextAnalysis.logOddsTerms(
          Tables.documents(s, dir).filter(col("lang").isin("en", "de")),
          "text", col("lang") === "en")
        .orderBy(col("ratio_ppm").desc, col("term")),
      Some("""WITH tok AS (SELECT lang = 'en' AS c1,
             |                    unnest(string_split(text, ' ')) AS term
             |             FROM documents WHERE lang IN ('en', 'de')),
             |cnt AS (SELECT term,
             |               sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS y1,
             |               sum(CASE WHEN NOT c1 THEN 1 ELSE 0 END) AS y2
             |        FROM tok GROUP BY 1),
             |t AS (SELECT sum(y1) AS n1, sum(y2) AS n2, count(*) AS v FROM cnt)
             |SELECT term, CAST(y1 AS BIGINT) AS y1, CAST(y2 AS BIGINT) AS y2,
             |       CASE WHEN (n1 + v - y1 - 1) > 0 AND (y2 + 1) > 0
             |            THEN CAST(((y1 + 1) * (n2 + v - y2 - 1) * 1000000)
             |                      // ((n1 + v - y1 - 1) * (y2 + 1)) AS BIGINT)
             |       END AS ratio_ppm
             |FROM cnt, t ORDER BY ratio_ppm DESC, term""".stripMargin)),

    // Trending-terms detector: biggest frequency-RANK movers between
    // the early and late corpus halves (doc_id parity plays the time
    // axis) — the drift diagnostic editors actually read (rank space is
    // scale-free; raw counts just measure corpus growth). Per-period
    // ranks are per-period windows over the vocab frame (period is the
    // partition key — never a global window); ties by term; top-20 by
    // |Δrank| then term.
    Q("q_trending_terms",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select((col("doc_id") % 2).as("period"),
            explode(TextAnalysis.tokens(col("text"))).as("term"))
          .groupBy(col("period"), col("term")).agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("period")).orderBy(col("n").desc, col("term"))
        val ranked = tok.withColumn("rank", row_number().over(w).cast("long"))
        ranked.filter(col("period") === 0)
          .select(col("term"), col("n").as("n_early"), col("rank").as("rank_early"))
          .join(ranked.filter(col("period") === 1)
            .select(col("term"), col("n").as("n_late"), col("rank").as("rank_late")),
            Seq("term"))
          .withColumn("abs_drank", abs(col("rank_early") - col("rank_late")))
          .orderBy(col("abs_drank").desc, col("term"))
          .limit(20)
      },
      Some("""WITH tok AS (SELECT doc_id % 2 AS period,
             |                    unnest(string_split(text, ' ')) AS term
             |             FROM documents),
             |c AS (SELECT period, term, count(*) AS n FROM tok GROUP BY 1, 2),
             |r AS (SELECT period, term, n,
             |             row_number() OVER (PARTITION BY period
             |                                ORDER BY n DESC, term) AS rank
             |      FROM c)
             |SELECT a.term AS term, a.n AS n_early, a.rank AS rank_early,
             |       b.n AS n_late, b.rank AS rank_late,
             |       abs(a.rank - b.rank) AS abs_drank
             |FROM r a JOIN r b ON a.term = b.term AND a.period = 0 AND b.period = 1
             |ORDER BY abs_drank DESC, a.term LIMIT 20""".stripMargin)),

    // Vocabulary-growth (Heaps-law novelty) census across ingest
    // batches (doc_id % 10): per batch, bigram occurrences, bigrams
    // never seen earlier, running vocabulary, novelty ppm. First-
    // occurrence = ONE min-agg over bigrams (never a batch×batch
    // anti-join chain); the cumulative sum is a triangular join on the
    // 10-row batch frame — no single-partition window.
    Q("q_vocab_growth",
      (s, dir) => TextAnalysis.vocabGrowth(
          Tables.documents(s, dir), col("doc_id") % 10, "text")
        .orderBy("batch"),
      Some("""WITH d AS (SELECT doc_id % 10 AS b, string_split(text, ' ') AS toks
             |           FROM documents),
             |bi AS (SELECT b, unnest([toks[i::INT] || ' ' || toks[(i::INT) + 1]
             |                         for i in range(1, len(toks))]) AS bg
             |       FROM d WHERE len(toks) >= 2),
             |fs AS (SELECT bg, min(b) AS batch FROM bi GROUP BY 1),
             |nn AS (SELECT batch, count(*) AS n_new FROM fs GROUP BY 1),
             |oc AS (SELECT b AS batch, count(*) AS n_occ FROM bi GROUP BY 1),
             |wn AS (SELECT oc.batch, oc.n_occ, coalesce(nn.n_new, 0) AS n_new
             |       FROM oc LEFT JOIN nn USING (batch)),
             |c AS (SELECT a.batch, max(a.n_occ) AS n_occ, max(a.n_new) AS n_new,
             |             sum(b.n_new) AS cum_vocab
             |      FROM wn a JOIN wn b ON b.batch <= a.batch GROUP BY 1)
             |SELECT CAST(batch AS BIGINT) AS batch, CAST(n_occ AS BIGINT) AS n_occ,
             |       CAST(n_new AS BIGINT) AS n_new,
             |       CAST(cum_vocab AS BIGINT) AS cum_vocab,
             |       CAST(CASE WHEN n_occ > 0 THEN n_new * 1000000 // n_occ
             |            ELSE 0 END AS BIGINT) AS novelty_ppm
             |FROM c ORDER BY batch""".stripMargin)),

    // χ² discriminative-term selection (document frequency, the
    // presence/absence companion of q_logodds_terms): which terms'
    // presence best separates English from non-English docs? Pearson's
    // χ² on the 2×2 doc-count contingency is PURE RATIONAL — one
    // DECIMAL(38,0) floor-division per term, no expected-frequency
    // floats. Per-doc presence dedup is row-local (array_distinct
    // before the explode — never a (doc, term) distinct shuffle).
    Q("q_chi2_terms",
      (s, dir) => TextAnalysis.chi2Terms(
          Tables.documents(s, dir), "text", col("lang") === "en", topK = 30),
      Some("""WITH pres AS (SELECT lang = 'en' AS c1,
             |                     unnest(list_distinct(string_split(text, ' '))) AS term
             |              FROM documents),
             |cnt AS (SELECT term,
             |               sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS df1,
             |               sum(CASE WHEN NOT c1 THEN 1 ELSE 0 END) AS df2
             |        FROM pres GROUP BY 1),
             |t AS (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n1,
             |             sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS n2
             |      FROM documents),
             |s AS (SELECT term, df1, df2,
             |             CASE WHEN (df1 + df2) > 0 AND (n1 - df1 + n2 - df2) > 0
             |                   AND n1 > 0 AND n2 > 0
             |             THEN CAST((CAST(n1 + n2 AS HUGEINT) *
             |                        (CAST(df1 AS HUGEINT)*(n2 - df2) - CAST(df2 AS HUGEINT)*(n1 - df1)) *
             |                        (CAST(df1 AS HUGEINT)*(n2 - df2) - CAST(df2 AS HUGEINT)*(n1 - df1)) *
             |                        1000000)
             |                       // (CAST(df1 + df2 AS HUGEINT) *
             |                          (n1 - df1 + n2 - df2) * n1 * n2) AS BIGINT)
             |             END AS chi2_ppm
             |      FROM cnt, t)
             |SELECT term, CAST(df1 AS BIGINT) AS df1, CAST(df2 AS BIGINT) AS df2, chi2_ppm
             |FROM s WHERE chi2_ppm IS NOT NULL
             |ORDER BY chi2_ppm DESC, term LIMIT 30""".stripMargin)),

    // Log-free tf-idf top-5 terms per document (doc_id < 50 so the
    // oracle's window stays cheap): score = tf·10⁶·N/(n_toks·df), exact
    // integer-derived arithmetic — a log() would tie the hash compare to
    // libm rounding; df still orders terms identically per doc under the
    // monotone transform. tf⋈df shuffles on term (no vocabulary-size
    // broadcast assumption); N broadcasts as one row; ties break by term.
    Q("q_tfidf_topterms",
      (s, dir) =>
        TextAnalysis.tfidfTopTerms(
            Tables.documents(s, dir).filter(col("doc_id") < 50), "doc_id", "text", 5)
          .orderBy("doc_id", "rank"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
             |          FROM documents WHERE doc_id < 50),
             |ex AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS term FROM d),
             |tf AS (SELECT doc_id, n, term, count(*) AS tf FROM ex GROUP BY 1, 2, 3),
             |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
             |nd AS (SELECT count(*) AS nd FROM d),
             |sc AS (
             |  SELECT doc_id, term,
             |         CAST(floor(tf * 1000000.0 * nd / (n * df)) AS BIGINT) AS score_ppm
             |  FROM tf JOIN dfreq USING (term), nd),
             |r AS (
             |  SELECT doc_id, term, score_ppm,
             |         row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, term) AS rank
             |  FROM sc)
             |SELECT doc_id, rank, term, score_ppm FROM r WHERE rank <= 5
             |ORDER BY doc_id, rank""".stripMargin)),

    // Corpus-trained bigram-LM fluency score — the CCNet/Gopher LM
    // quality filter, log-free: mean over a doc's bigrams of
    // floor(1e6·c(w1,w2)/c(w1·)), both counts from the corpus's own
    // bigram stream. Exact integer terms + floored mean ⇒ hash-exact in
    // DuckDB. Model join is ON THE BIGRAM (no model-broadcast
    // assumption); single-token docs have no bigram and drop out.
    Q("q_lm_bigram_score",
      (s, dir) =>
        TextAnalysis.bigramLmScore(Tables.documents(s, dir), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |bi AS (SELECT doc_id,
             |         unnest([toks[i::INT] || ' ' || toks[(i::INT) + 1]
             |                 for i in range(1, len(toks))]) AS bg
             |       FROM d WHERE len(toks) >= 2),
             |c2 AS (SELECT bg, count(*) AS c2 FROM bi GROUP BY 1),
             |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM bi GROUP BY 1),
             |t AS (SELECT doc_id, CAST(floor(c2 * 1000000.0 / c1) AS BIGINT) AS t
             |      FROM bi JOIN c2 USING (bg)
             |      JOIN c1 ON split_part(bi.bg, ' ', 1) = c1.w1)
             |SELECT doc_id, CAST(floor(sum(t) * 1.0 / count(*)) AS BIGINT) AS fluency_ppm,
             |       count(*) AS n_bigrams
             |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Collocation mining: top-50 corpus bigrams by the monotone integer
    // PMI cross-ratio n12·N/(n1·n2) (log-free ranking, the q_logodds
    // precedent), support >= 5 so hapax pairs can't game raw PMI. Two
    // count groupBys + margin joins on the word + TakeOrdered — never a
    // global sort.
    Q("q_collocations",
      (s, dir) => TextAnalysis.collocations(
          Tables.documents(s, dir), "doc_id", "text", minCount = 5L, k = 50)
        .orderBy(col("pmi_ppm").desc, col("bigram")),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |bi AS (SELECT unnest([toks[i::INT] || ' ' || toks[(i::INT) + 1]
             |                      for i in range(1, len(toks))]) AS bg
             |       FROM d WHERE len(toks) >= 2),
             |uni AS (SELECT unnest(toks) AS w FROM d),
             |c2 AS (SELECT bg, count(*) AS n12 FROM bi GROUP BY 1 HAVING count(*) >= 5),
             |c1 AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
             |n AS (SELECT count(*) AS nt FROM uni)
             |SELECT bg AS bigram, n12, a.c AS n1, b.c AS n2,
             |       CAST(CAST(n12 AS HUGEINT) * (SELECT nt FROM n) * 1000000
             |            // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS pmi_ppm
             |FROM c2 JOIN c1 a ON split_part(bg, ' ', 1) = a.w
             |        JOIN c1 b ON split_part(bg, ' ', 2) = b.w
             |ORDER BY pmi_ppm DESC, bigram LIMIT 50""".stripMargin)),

    // Stupid-backoff trigram scoring (Brants 2007) — the web-scale LM
    // smoothing, integer-exact because the backoff factor is a fixed
    // 0.4 (400000 ppm): model trains on even doc_ids (yesterday's
    // corpus), scores the odd ones (today's batch) so unseen trigrams
    // actually back off (a self-trained model never would). Per-doc
    // mean term + per-level hit census. Oracle replays the cascade
    // with the same gram CTEs and left joins.
    Q("q_lm_backoff",
      (s, dir) => TextAnalysis.stupidBackoffScore(
          Tables.documents(s, dir), "doc_id", "text",
          pmod(col("doc_id"), lit(2L)) === 0L)
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, doc_id % 2 = 0 AS tr,
             |                  string_split(text, ' ') AS toks FROM documents),
             |tri AS (SELECT doc_id, tr,
             |          unnest([toks[i::INT]||' '||toks[(i::INT)+1]||' '||toks[(i::INT)+2]
             |                  for i in range(1, len(toks)-1)]) AS tg
             |        FROM d WHERE len(toks) >= 3),
             |bi AS (SELECT unnest([toks[i::INT]||' '||toks[(i::INT)+1]
             |                      for i in range(1, len(toks))]) AS bg
             |       FROM d WHERE tr AND len(toks) >= 2),
             |uni AS (SELECT unnest(toks) AS w FROM d WHERE tr),
             |c3 AS (SELECT tg, count(*) AS c FROM tri WHERE tr GROUP BY 1),
             |c2 AS (SELECT bg, count(*) AS c FROM bi GROUP BY 1),
             |c1 AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
             |n AS (SELECT count(*) AS c FROM uni),
             |e AS (SELECT doc_id, tg,
             |        split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS w12,
             |        split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS w23,
             |        split_part(tg, ' ', 2) AS w2, split_part(tg, ' ', 3) AS w3
             |      FROM tri WHERE NOT tr),
             |s AS (SELECT e.doc_id,
             |        CASE WHEN c3.c IS NOT NULL THEN 3 WHEN cb.c IS NOT NULL THEN 2
             |             WHEN cw3.c IS NOT NULL THEN 1 ELSE 0 END AS lvl,
             |        CASE WHEN c3.c IS NOT NULL
             |               THEN CAST(floor(c3.c * 1000000.0 / cp.c) AS BIGINT)
             |             WHEN cb.c IS NOT NULL
             |               THEN CAST(floor(cb.c * 400000.0 / cw2.c) AS BIGINT)
             |             WHEN cw3.c IS NOT NULL
             |               THEN CAST(floor(cw3.c * 160000.0 / (SELECT c FROM n)) AS BIGINT)
             |             ELSE 0 END AS t
             |      FROM e LEFT JOIN c3 ON e.tg = c3.tg
             |             LEFT JOIN c2 cp ON e.w12 = cp.bg
             |             LEFT JOIN c2 cb ON e.w23 = cb.bg
             |             LEFT JOIN c1 cw2 ON e.w2 = cw2.w
             |             LEFT JOIN c1 cw3 ON e.w3 = cw3.w)
             |SELECT doc_id, count(*) AS n_trigrams,
             |       CAST(floor(sum(t) * 1.0 / count(*)) AS BIGINT) AS score_ppm,
             |       CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
             |       CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
             |       CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1
             |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // DSIR importance weighting (Xie et al. 2023) in the log-free
    // integer form: per-doc difference of floored-ppm bigram fluency
    // under a target-domain model (lang = 'en' here) vs the all-corpus
    // source model — the data-selection weight an LM curation pipeline
    // resamples by (the resampling itself is q_sample_weighted's
    // machinery). Unseen-by-target bigrams carry 0 target mass; the
    // oracle replays both models and the per-doc means as CTEs.
    Q("q_dsir_weight",
      (s, dir) =>
        TextAnalysis.dsirImportance(
            Tables.documents(s, dir), "doc_id", "text", col("lang") === "en")
          .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
             |bi AS (SELECT doc_id, (lang = 'en') AS tgt,
             |         unnest([toks[i::INT] || ' ' || toks[(i::INT) + 1]
             |                 for i in range(1, len(toks))]) AS bg
             |       FROM d WHERE len(toks) >= 2),
             |c2t AS (SELECT bg, count(*) AS c FROM bi WHERE tgt GROUP BY 1),
             |c1t AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c FROM bi WHERE tgt GROUP BY 1),
             |c2s AS (SELECT bg, count(*) AS c FROM bi GROUP BY 1),
             |c1s AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c FROM bi GROUP BY 1),
             |t AS (SELECT doc_id,
             |        COALESCE(CAST(floor(c2t.c * 1000000.0 / c1t.c) AS BIGINT), 0) AS tt,
             |        CAST(floor(c2s.c * 1000000.0 / c1s.c) AS BIGINT) AS ts
             |      FROM bi
             |      LEFT JOIN c2t ON bi.bg = c2t.bg
             |      LEFT JOIN c1t ON split_part(bi.bg, ' ', 1) = c1t.w1
             |      JOIN c2s ON bi.bg = c2s.bg
             |      JOIN c1s ON split_part(bi.bg, ' ', 1) = c1s.w1)
             |SELECT doc_id, count(*) AS n_bigrams,
             |       CAST(floor(sum(tt) * 1.0 / count(*)) AS BIGINT) AS fluency_target_ppm,
             |       CAST(floor(sum(ts) * 1.0 / count(*)) AS BIGINT) AS fluency_source_ppm,
             |       CAST(floor(sum(tt) * 1.0 / count(*)) AS BIGINT)
             |         - CAST(floor(sum(ts) * 1.0 / count(*)) AS BIGINT) AS importance_ppm
             |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // PII scrub — email + long-digit-run redaction with typed
    // placeholders, the pre-training redaction pass. The patterns are
    // simple character-class regexes that behave identically under Java
    // regex (Spark) and RE2 (DuckDB), and the full scrubbed TEXT is
    // hash-compared — a cross-engine regex divergence turns the row red.
    // The synthetic corpus contains no PII, so five docs are planted
    // with an email + phone suffix (offset ids, same fixture style as
    // q_dedup_simhash_neardup64); digit runs inside an email are
    // redacted as part of the email, never double-counted (counts are
    // per stage, second stage over the email-scrubbed text).
    Q("q_pii_scrub",
      (s, dir) => {
        val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val planted = base.filter(col("doc_id") < 5)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" contact: user"), col("doc_id").cast("string"),
              lit("@example.com or call 5551234567")).as("text"))
        base.unionByName(planted)
          .withColumn("_e", TextAnalysis.emailScrub(col("text")))
          .select(col("doc_id"),
            TextAnalysis.digitScrub(col("_e")).as("clean"),
            TextAnalysis.patternCount(col("text"), TextAnalysis.emailPattern).as("n_emails"),
            TextAnalysis.patternCount(col("_e"), TextAnalysis.longDigitPattern).as("n_digit_runs"))
          .orderBy("doc_id")
      },
      Some {
        val ep = TextAnalysis.emailPattern
        val dp = TextAnalysis.longDigitPattern
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 2000000,
           |         text || ' contact: user' || CAST(doc_id AS VARCHAR)
           |              || '@example.com or call 5551234567'
           |  FROM documents WHERE doc_id < 5),
           |e AS (SELECT doc_id, text,
           |             regexp_replace(text, '$ep', '<EMAIL>', 'g') AS et
           |      FROM corpus)
           |SELECT doc_id,
           |  regexp_replace(et, '$dp', '<NUM>', 'g') AS clean,
           |  CAST(len(regexp_extract_all(text, '$ep')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(et, '$dp')) AS BIGINT) AS n_digit_runs
           |FROM e ORDER BY doc_id""".stripMargin
      }),

    // LONGITUDINAL k-anonymity / l-diversity audit — the multi-row-per-
    // entity completion of the q_k_anon / q_l_diversity / q_t_closeness
    // triad: those audit CUSTOMER (one row per person, so row-count k =
    // person k); an event RELEASE has many rows per user and row counts
    // overstate anonymity — the k that matters is DISTINCT ENTITIES per
    // quasi-identifier class, carried here next to the row count and the
    // sensitive-value diversity in one pass. Quasi-identifiers =
    // (hour-of-day, 50-wide value band); entity = user_id; sensitive =
    // event_type. Output: the 20 weakest classes + the release-wide
    // census on each row (k_entity_min IS the release's k-anonymity).
    // One map-side groupBy over the bounded QI domain; weakest-class
    // list plans as TakeOrderedAndProject.
    Q("q_k_anonymity",
      (s, dir) => graft.operators.Stats.kAnonymityCensus(
        Tables.events(s, dir),
        Seq("hod" -> hour(col("ts")).cast("long"),
          "vband" -> floor(col("value") / 50).cast("long")),
        entity = col("user_id"), sensitive = col("event_type"),
        k = 5L, l = 3L),
      Some("""WITH b AS (SELECT CAST(hour(ts) AS BIGINT) AS hod,
             |                  CAST(floor(value / 50) AS BIGINT) AS vband,
             |                  user_id, event_type FROM events),
             |cl AS (SELECT hod, vband, CAST(count(*) AS BIGINT) AS n_rows,
             |              CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities,
             |              CAST(count(DISTINCT event_type) AS BIGINT) AS n_sensitive
             |       FROM b GROUP BY 1, 2),
             |cs AS (SELECT CAST(count(*) AS BIGINT) AS n_classes,
             |              CAST(sum(n_rows) AS BIGINT) AS total_rows,
             |              min(n_entities) AS k_entity_min,
             |              min(n_rows) AS k_row_min,
             |              min(n_sensitive) AS l_min,
             |              CAST(sum(CASE WHEN n_entities < 5 THEN 1 ELSE 0 END) AS BIGINT)
             |                AS n_viol_classes,
             |              CAST(sum(CASE WHEN n_entities < 5 THEN n_rows ELSE 0 END) AS BIGINT)
             |                AS n_exposed_rows,
             |              CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT)
             |                AS n_low_l_classes
             |       FROM cl)
             |SELECT cl.*, cs.* FROM cl, cs
             |ORDER BY n_entities, n_rows, hod, vband LIMIT 20""".stripMargin)),

    // Gopher/C4-style repetition filters: top-token fraction, top-bigram
    // fraction and distinct-token ratio per doc, integer ppm — the
    // boilerplate/spam signals a quality pipeline thresholds on. Docs
    // with < 2 tokens have no bigram → 0 (LEFT JOIN on both engines).
    Q("q_text_repetition",
      (s, dir) =>
        TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tok AS (
             |  SELECT doc_id, CAST(floor(max(c) * 1000000.0 / sum(c)) AS BIGINT) AS top_tok_ppm,
             |         CAST(floor(count(*) * 1000000.0 / sum(c)) AS BIGINT) AS distinct_tok_ppm
             |  FROM (SELECT doc_id, t, count(*) AS c
             |        FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY 1, 2)
             |  GROUP BY doc_id),
             |big AS (
             |  SELECT doc_id, CAST(floor(max(c) * 1000000.0 / sum(c)) AS BIGINT) AS top_bigram_ppm
             |  FROM (SELECT doc_id, b, count(*) AS c
             |        FROM (SELECT doc_id,
             |                unnest([toks[i::INT] || ' ' || toks[(i::INT) + 1]
             |                        for i in range(1, len(toks))]) AS b
             |              FROM d WHERE len(toks) >= 2) GROUP BY 1, 2)
             |  GROUP BY doc_id)
             |SELECT doc_id, top_tok_ppm, coalesce(top_bigram_ppm, 0) AS top_bigram_ppm,
             |       distinct_tok_ppm
             |FROM tok LEFT JOIN big USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Content-defined chunking (the CDC primitive of storage dedup /
    // delta sync: boundaries follow CONTENT, so an insert shifts only
    // its own chunk while fixed-size blocks would shift every later
    // one): a boundary closes after position i when the md5 of the
    // trailing 8-char window opens with hex nibble 0 (≈1/16 rate);
    // chunks are the segments between boundaries. Output: one row per
    // chunk with its md5 — the chunk store's dedup key. Row-local
    // (transform + filter HOFs, zero shuffle before the final explode);
    // the md5-per-position window rule is the ORACLE family, same split
    // as the winnow pair (q_doc_winnow md5 ↔ q_doc_winnow_roll): a
    // production 100 TB pass swaps in the gear/FastCDC rolling hash.
    Q("q_cdc_chunks",
      (s, dir) => {
        val k = 8
        Tables.documents(s, dir)
          // sequence(8, len) flips DESCENDING for shorter text — the
          // q_chunk_tokens empty-array lesson (ADVICE r5 #2) as a filter
          .filter(col("doc_id") < 200 && length(col("text")) >= 8)
          .select(col("doc_id"), col("text"),
            expr(s"""filter(transform(sequence($k, length(text)),
                     i -> CASE WHEN substring(md5(cast(substring(text, i - ${k - 1}, $k) as binary)), 1, 1) = '0'
                               THEN i ELSE CAST(NULL AS INT) END),
                     x -> x IS NOT NULL)""").as("_b"))
          .select(col("doc_id"), col("text"),
            expr("concat(array(0), _b)").as("_starts"),
            expr("concat(_b, array(length(text)))").as("_ends"))
          .select(col("doc_id"),
            posexplode(expr(
              """filter(zip_with(_starts, _ends,
                 (s, e) -> named_struct('s', s, 'e', e)), p -> p.e > p.s)"""))
              .as(Seq("chunk_idx", "_c")),
            col("text"))
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            (col("_c.s") + 1).cast("long").as("start_pos"),
            (col("_c.e") - col("_c.s")).cast("long").as("chunk_len"),
            md5(expr("cast(substring(text, _c.s + 1, _c.e - _c.s) as binary)"))
              .as("chunk_md5"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
             |           WHERE doc_id < 200 AND len(text) >= 8),
             |b AS (SELECT doc_id, text,
             |        [0] || [i for i in range(8, len(text) + 1)
             |                if substring(md5(substring(text, i - 7, 8)), 1, 1) = '0'] AS starts,
             |        [i for i in range(8, len(text) + 1)
             |                if substring(md5(substring(text, i - 7, 8)), 1, 1) = '0']
             |          || [len(text)] AS ends
             |      FROM d),
             |c AS (SELECT doc_id, text,
             |             unnest(starts) AS s, unnest(ends) AS e
             |      FROM b),
             |f AS (SELECT doc_id, s, e,
             |             row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_idx,
             |             substring(text, s + 1, e - s) AS chunk
             |      FROM c WHERE e > s)
             |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             |       CAST(s + 1 AS BIGINT) AS start_pos,
             |       CAST(e - s AS BIGINT) AS chunk_len,
             |       md5(chunk) AS chunk_md5
             |FROM f ORDER BY doc_id, chunk_idx""".stripMargin)),

    // The cleaning DECISION a pipeline actually executes: every
    // per-signal filter above composed into one pass emitting a keep
    // flag plus a reason BITMASK (1 = too short, 2 = low quality,
    // 4 = unidentifiable language, 8 = repetitive) — auditable drops,
    // not silent ones, and each bit's arithmetic is byte-identical to
    // its standalone verified query. One projection computes bits 1/2/4
    // (hit columns bound once — the q_text_stats CSE trap); bit 8 joins
    // the repetition aggregate on doc_id.
    Q("q_filter_decide",
      (s, dir) => {
        val t = col("text")
        val tk = col("_toks")
        val langHitCols = TextAnalysis.stopwords.map { case (lang, words) =>
          s"_s_$lang" -> TextAnalysis.stopwordHits(tk, words)
        }
        val allHits = TextAnalysis.stopwordHits(tk, TextAnalysis.stopwords.flatMap(_._2))
        val rep = TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("top_tok_ppm"))
        Tables.documents(s, dir)
          .spreadBy(col("doc_id"))
          .withColumn("_toks", TextAnalysis.tokens(t))
          .withColumns(langHitCols.toMap + ("_s_all" -> allHits))
          .select(col("doc_id"),
            TextAnalysis.tokenCount(tk).as("_n_tok"),
            TextAnalysis.qualityScorePpmFromHits(t, tk, col("_s_all")).as("_q"),
            TextAnalysis.langIdFromScores(
              TextAnalysis.stopwords.map { case (lang, _) => lang -> col(s"_s_$lang") })
              .as("_lang"))
          .join(rep, Seq("doc_id"))
          .select(col("doc_id"),
            (when(col("_n_tok") < 20, 1L).otherwise(0L) +
              when(col("_q") < 700000L, 2L).otherwise(0L) +
              when(col("_lang") === "und", 4L).otherwise(0L) +
              when(col("top_tok_ppm") > 150000L, 8L).otherwise(0L)).as("reasons"))
          .select(col("doc_id"), col("reasons"),
            (col("reasons") === 0L).cast("long").as("keep"))
          .orderBy("doc_id")
      },
      Some {
        val hits = TextAnalysis.stopwords.map { case (lang, words) =>
          s"${duckHits(words)} AS s_$lang"
        }.mkString(",\n    ")
        val langs = TextAnalysis.stopwords.map(_._1)
        val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val langCase = langs.map(l => s"WHEN s_$l = $best AND s_$l > 0 THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        val allWords = TextAnalysis.stopwords.flatMap(_._2)
        s"""WITH tk AS (
           |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
           |), m AS (
           |  SELECT doc_id, toks, len(toks)::BIGINT AS n_tok, len(text) AS nc,
           |    CAST(floor(${duckHits(allWords)} * 1000000.0 / len(toks)) AS BIGINT) AS stop_ppm,
           |    CAST(floor((len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1000000.0 / len(text)) AS BIGINT) AS punct_ppm,
           |    $hits
           |  FROM tk
           |), q AS (
           |  SELECT doc_id, n_tok,
           |    (CASE WHEN nc BETWEEN 50 AND 5000 THEN 400000 ELSE 0 END
           |     + CASE WHEN stop_ppm >= 20000 THEN 300000 ELSE 0 END
           |     + CASE WHEN punct_ppm <= 200000 THEN 300000 ELSE 0 END)::BIGINT AS q_ppm,
           |    $langCase AS lang_pred
           |  FROM m
           |), tok AS (
           |  SELECT doc_id, CAST(floor(max(c) * 1000000.0 / sum(c)) AS BIGINT) AS top_tok_ppm
           |  FROM (SELECT doc_id, t, count(*) AS c
           |        FROM (SELECT doc_id, unnest(toks) AS t FROM tk) GROUP BY 1, 2)
           |  GROUP BY doc_id
           |), r AS (
           |  SELECT q.doc_id,
           |    (CASE WHEN n_tok < 20 THEN 1 ELSE 0 END
           |     + CASE WHEN q_ppm < 700000 THEN 2 ELSE 0 END
           |     + CASE WHEN lang_pred = 'und' THEN 4 ELSE 0 END
           |     + CASE WHEN top_tok_ppm > 150000 THEN 8 ELSE 0 END)::BIGINT AS reasons
           |  FROM q JOIN tok USING (doc_id))
           |SELECT doc_id, reasons,
           |       (CASE WHEN reasons = 0 THEN 1 ELSE 0 END)::BIGINT AS keep
           |FROM r ORDER BY doc_id""".stripMargin
      }),

    // -- text analysis ---------------------------------------------------
    // Exact nearest-rank percentiles of document length per language —
    // the quality-threshold statistic (e.g. "truncate above the p99
    // length"). Nearest-rank selection (value at sorted row ceil(q·n)) is
    // pure integer work, so unlike interpolated `percentile` / sketch
    // `approx_percentile` the result reproduces exactly in DuckDB.
    // Sketch count-distinct (HLL++ + Datasketches HLL) vs exact, per
    // event_type: emits the exact count plus two machine-checked
    // invariants — the HLL++ estimate within 5% of exact, and the
    // per-split union-MERGED sketch estimate also within 5% of exact
    // (mergeability is what makes per-day sketch rollups sound at
    // 100 TB; equality with the whole-group sketch would be too strong —
    // union drops the HIP estimator). Booleans keep the DuckDB compare
    // deterministic.
    Q("q_approx_distinct",
      (s, dir) =>
        graft.operators.Approx.distinctSketchCheck(
            Tables.events(s, dir), "event_type", "user_id",
            splitCol = (col("event_id") % 2).cast("int"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_exact,
             |       TRUE AS hll_ok, TRUE AS merge_invariant
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Bit-deterministic HLL register census over events.user_id: md5
    // nibbles → (register, ρ), engine side built per-DAY and MERGED by
    // register max (the year-of-daily-sketches rollup), oracle replays
    // the single pass — cross-engine hash equality proves the HLL merge
    // law exactly, complementing q_approx_distinct's tolerance bounds.
    Q("q_hll_census",
      (s, dir) =>
        graft.operators.Approx.hllRegisterCensus(
            Tables.events(s, dir), col("user_id"),
            date_trunc("day", col("ts")))
          .orderBy("register"),
      Some(hllCensusOracleSql)),

    // Count-min sketch register census — the FREQUENCY twin of
    // q_hll_census (HLL: how many distinct; CMS: about how often per
    // key, in depth×width space — streaming heavy-hitter / rate-limit
    // state). The census IS the sketch: engines agreeing on every
    // register agree on every point query. 4 md5-derived rows × 256
    // byte-columns, one explode + one count agg.
    Q("q_cms_census",
      (s, dir) =>
        graft.operators.Approx.cmsRegisterCensus(
            Tables.events(s, dir), col("user_id"))
          .orderBy("row_id", "col_id"),
      Some(cmsCensusOracleSql)),

    // CMS point-query audit: estimates (min over the key's 4 registers)
    // vs true counts for the 20 heaviest users — the overestimate-only
    // contract (est ≥ true; the overcount is the collision noise width
    // is sized against), hash-checked cross-engine.
    Q("q_cms_estimate",
      (s, dir) =>
        graft.operators.Approx.cmsPointChecks(
            Tables.events(s, dir), col("user_id"), topK = 20)
          .orderBy(col("n_true").desc, col("key")),
      Some("""WITH t AS (SELECT CAST(user_id AS VARCHAR) AS key,
             |                  CAST(count(*) AS BIGINT) AS n_true
             |           FROM events GROUP BY 1
             |           ORDER BY n_true DESC, key LIMIT 20),
             |r AS (SELECT CAST(x AS BIGINT) AS row_id FROM (VALUES (0), (1), (2), (3)) v(x)),
             |h AS (SELECT row_id,
             |             md5(CAST(row_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)) AS h
             |      FROM events CROSS JOIN r),
             |regs AS (SELECT row_id,
             |                CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             |                   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS BIGINT) AS col_id,
             |                CAST(count(*) AS BIGINT) AS n
             |         FROM h GROUP BY 1, 2),
             |p AS (SELECT t.key, t.n_true, r.row_id,
             |             md5(CAST(r.row_id AS VARCHAR) || ':' || t.key) AS h
             |      FROM t CROSS JOIN r),
             |pc AS (SELECT key, n_true, row_id,
             |              CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             |                 + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS BIGINT) AS col_id
             |       FROM p),
             |est AS (SELECT pc.key, pc.n_true, min(regs.n) AS n_est
             |        FROM pc JOIN regs USING (row_id, col_id) GROUP BY 1, 2)
             |SELECT key, n_true, n_est, n_est - n_true AS overcount
             |FROM est ORDER BY n_true DESC, key""".stripMargin)),

    // Per-GROUP HLL register cube — "distinct users per event type" as
    // fixed-size sketch state (|groups|·2⁸ rows) instead of a per-group
    // id shuffle; per-day partials merged by register max, single-pass
    // oracle per group.
    Q("q_hll_census_by",
      (s, dir) =>
        graft.operators.Approx.hllRegisterCensusBy(
            Tables.events(s, dir), col("event_type"), col("user_id"),
            date_trunc("day", col("ts")))
          .orderBy("g", "register"),
      Some("""WITH h AS (SELECT event_type AS g, md5(user_id::VARCHAR) AS h FROM events),
             |x AS (SELECT g,
             |             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             |           + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS register,
             |             ltrim(substr(h, 3, 16), '0') AS rest FROM h),
             |r AS (SELECT g, CAST(register AS BIGINT) AS register,
             |        CAST(CASE WHEN rest = '' THEN 65
             |          ELSE 4 * (16 - length(rest))
             |             + CASE WHEN substr(rest, 1, 1) = '1' THEN 3
             |                    WHEN substr(rest, 1, 1) IN ('2', '3') THEN 2
             |                    WHEN substr(rest, 1, 1) IN ('4', '5', '6', '7') THEN 1
             |                    ELSE 0 END + 1 END AS BIGINT) AS rho
             |      FROM x)
             |SELECT g, register, max(rho) AS max_rho,
             |       CAST(count(*) AS BIGINT) AS n_rows
             |FROM r GROUP BY g, register ORDER BY g, register""".stripMargin)),

    // KMV bottom-k sketch of distinct users: per-day bottom-64 merged
    // (bottom-k of shard bottom-ks == bottom-k of the whole — min-order
    // is global, so the merge law is EXACT and the oracle replays one
    // pass). Doubles as a uniform distinct-user sample and carries the
    // (k−1)/frac(h_k) cardinality estimator; merge is orderBy+limit
    // (TakeOrderedAndProject), never a global sort.
    Q("q_kmv_sketch",
      (s, dir) =>
        graft.operators.Approx.kmvSketch(
            Tables.events(s, dir), col("user_id"),
            date_trunc("day", col("ts")), k = 64)
          .orderBy("rank"),
      Some(kmvSketchOracleSql)),

    // KMV set operations — the deterministic theta-sketch face: per
    // event-type bottom-64 user sketches, pairwise merged to the
    // union's bottom-64, n_common = two-sided members, jaccard_est =
    // n_common/k_eff. Every number (including the ESTIMATOR itself)
    // replays exactly in SQL because md5 order is the sample order —
    // q_approx_setops' library-sketch sibling can only bound its HIP
    // estimates; this one is hash-checked.
    Q("q_kmv_setops",
      (s, dir) =>
        graft.operators.Approx.kmvSetOps(
            Tables.events(s, dir), "event_type", col("user_id"), k = 64)
          .orderBy("key_a", "key_b"),
      Some("""WITH d AS (SELECT DISTINCT event_type AS k, user_id AS v FROM events),
             |h AS (SELECT k, v, md5(v::VARCHAR) AS h FROM d),
             |s AS (SELECT k, v, h FROM h
             |      QUALIFY row_number() OVER (PARTITION BY k ORDER BY h, v) <= 64),
             |p AS (SELECT a.k AS key_a, b.k AS key_b
             |      FROM (SELECT DISTINCT k FROM s) a, (SELECT DISTINCT k FROM s) b
             |      WHERE a.k < b.k),
             |u AS (SELECT DISTINCT p.key_a, p.key_b, s.h, s.v
             |      FROM p JOIN s ON s.k = p.key_a OR s.k = p.key_b),
             |m AS (SELECT key_a, key_b, h, v FROM u
             |      QUALIFY row_number() OVER (PARTITION BY key_a, key_b
             |              ORDER BY h, v) <= 64),
             |b2 AS (SELECT sa.k AS key_a, sb.k AS key_b, sa.h, sa.v
             |       FROM s sa JOIN s sb
             |         ON sa.h = sb.h AND sa.v = sb.v AND sa.k < sb.k)
             |SELECT m.key_a, m.key_b, CAST(count(*) AS BIGINT) AS k_eff,
             |       CAST(count(b2.h) AS BIGINT) AS n_common,
             |       CAST(count(b2.h) * 1000000 // count(*) AS BIGINT) AS jaccard_est_ppm
             |FROM m LEFT JOIN b2 ON m.key_a = b2.key_a AND m.key_b = b2.key_b
             |                   AND m.h = b2.h AND m.v = b2.v
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Sketch set operations: distinct-user INTERSECTION of every
    // event-type pair by inclusion-exclusion over Datasketches HLL —
    // the audience-overlap primitive (per-group sketch is KBs; the
    // pairwise combine never touches raw ids). Error compounds across
    // three estimates, so the machine-checked bound is against the
    // UNION size (0.15·|A∪B|); sketches are deterministic so the
    // boolean reproduces. Oracle recomputes the exact counts + TRUE.
    Q("q_approx_setops",
      (s, dir) =>
        graft.operators.Approx.setOpSketchCheck(
            Tables.events(s, dir), "event_type", "user_id")
          .orderBy("key_a", "key_b"),
      Some("""WITH s AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
             |n AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
             |it AS (SELECT x.t AS ta, y.t AS tb, CAST(count(*) AS BIGINT) AS n_inter
             |       FROM s x JOIN s y ON x.u = y.u AND x.t < y.t GROUP BY 1, 2)
             |SELECT na.t AS key_a, nb.t AS key_b, na.n AS n_a, nb.n AS n_b,
             |       na.n + nb.n - coalesce(it.n_inter, 0) AS n_union,
             |       coalesce(it.n_inter, 0) AS n_inter,
             |       TRUE AS incl_excl_ok
             |FROM n na JOIN n nb ON na.t < nb.t
             |LEFT JOIN it ON it.ta = na.t AND it.tb = nb.t
             |ORDER BY key_a, key_b""".stripMargin)),

    // Count-min-sketch heavy hitters: the top-10 users by event count,
    // each checked against the CMS frequency contract (never
    // undercounts, overcount ≤ ⌈ε·N⌉) AND the exact-merge contract
    // (split sketches add counter-wise to the whole-built sketch — the
    // property that makes per-day sketch rollups lossless). Booleans
    // keep the DuckDB compare deterministic; see
    // Approx.heavyHitterSketchCheck.
    Q("q_approx_topk",
      (s, dir) =>
        graft.operators.Approx.heavyHitterSketchCheck(
            Tables.events(s, dir), "user_id",
            splitCol = (col("event_id") % 2).cast("int"))
          .orderBy(col("n_exact").desc, col("user_id")),
      Some("""SELECT user_id, count(*) AS n_exact,
             |       TRUE AS cms_ok, TRUE AS merge_exact
             |FROM events GROUP BY user_id
             |ORDER BY n_exact DESC, user_id LIMIT 10""".stripMargin)),

    // Quantile sketch (percentile_approx / GK) vs its own rank guarantee:
    // a second exact pass verifies count(x < v) / count(x ≤ v) straddle
    // ceil(q·n) within the sketch's rank-error bound. The exact twin of
    // this query is q_doc_percentiles; this one exercises the sketch path
    // a 100 TB pipeline would actually run.
    Q("q_approx_quantile",
      (s, dir) =>
        graft.operators.Approx.quantileSketchCheck(
            Tables.documents(s, dir).select(col("lang"), col("n_chars")),
            "lang", "n_chars", Seq(50, 90, 99))
          .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
             |       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Column profiling — the first query any pipeline runs on a new drop:
    // per column, row/null/distinct counts, through the same table
    // profile q_profile_table runs on lineitem.
    Q("q_profile",
      (s, dir) =>
        Normalize.profileTable(Tables.events(s, dir),
            Seq("event_id", "user_id", "event_type", "value"))
          .withColumnRenamed("column_name", "col")
          .orderBy("col"),
      Some("""SELECT col, n_rows, n_null, n_distinct FROM (
             |  SELECT 'event_id' AS col, count(*) AS n_rows,
             |         count(*) - count(event_id) AS n_null,
             |         count(DISTINCT event_id) AS n_distinct FROM events
             |  UNION ALL
             |  SELECT 'user_id', count(*), count(*) - count(user_id),
             |         count(DISTINCT user_id) FROM events
             |  UNION ALL
             |  SELECT 'event_type', count(*), count(*) - count(event_type),
             |         count(DISTINCT event_type) FROM events
             |  UNION ALL
             |  SELECT 'value', count(*), count(*) - count(value),
             |         count(DISTINCT value) FROM events
             |) ORDER BY col""".stripMargin)),

    // Order-independent table checksum — cross-store fidelity validation
    // (does the partitioned store hold EXACTLY the source rows?) without
    // sorting or co-locating either side: per-group SUM of a per-row
    // md5-prefix (48 bits: 5×10⁴ rows ⇒ collision-cancellation odds
    // ~2⁻⁴⁸ per pair; sums commute, so file/partition order is free).
    // The checksum input uses only integer/string renderings (identical
    // across engines — a double rendering would not be). Spark computes
    // the checksum over the WRITTEN hour-partitioned store; the oracle
    // computes it over the source table — equality IS the fidelity proof.
    Q("q_table_checksum",
      (s, dir) => {
        val path = graft.store.SnapshotStore.ensureEventsStore(s, dir)
        graft.store.SnapshotStore.read(s, path)
          .select(col("event_type"),
            conv(substring(md5(concat_ws("|",
              col("event_id"), col("user_id"), col("event_type"),
              expr("unix_micros(ts)"))), 1, 12), 16, 10)
              .cast("long").as("_h"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("_h")).as("checksum"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(('0x' || substr(md5(
             |        event_id || '|' || user_id || '|' || event_type || '|' || epoch_us(ts)
             |      ), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("q_doc_percentiles",
      (s, dir) =>
        graft.operators.Stats.nearestRankPercentiles(
            Tables.documents(s, dir), "lang", "n_chars", "doc_id", Seq(50, 90, 99))
          .orderBy("lang"),
      Some("""WITH r AS (
             |  SELECT lang, n_chars,
             |         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS r,
             |         count(*) OVER (PARTITION BY lang) AS n
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |       max(CASE WHEN r = CAST(ceil(n * 0.5) AS BIGINT) THEN n_chars END) AS p50_n_chars,
             |       max(CASE WHEN r = CAST(ceil(n * 0.9) AS BIGINT) THEN n_chars END) AS p90_n_chars,
             |       max(CASE WHEN r = CAST(ceil(n * 0.99) AS BIGINT) THEN n_chars END) AS p99_n_chars
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("q_text_stats",
      (s, dir) => {
        val t = col("text")
        val tk = col("_toks")
        // Every stopword hit count is bound ONCE as a real column before
        // the projection: the langId argmax + ratio + quality score
        // otherwise duplicate each interpreted HOF filter pass ~7× per
        // reference (27 s → ~2 s at sf0.1; same trap as the r2 jaccard
        // hotspot, via common-subexpression duplication instead of
        // lambda capture — fallback-mode projections get no CSE).
        val langHitCols = TextAnalysis.stopwords.map { case (lang, words) =>
          s"_s_$lang" -> TextAnalysis.stopwordHits(tk, words)
        }
        val allHits = TextAnalysis.stopwordHits(tk, TextAnalysis.stopwords.flatMap(_._2))
        Tables.documents(s, dir)
          .spreadBy(col("doc_id"))
          .withColumn("_toks", TextAnalysis.tokens(t))
          .withColumns(langHitCols.toMap + ("_s_all" -> allHits))
          .select(
            col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(tk).as("n_tokens"),
            TextAnalysis.bpeishTokenCount(t).as("n_bpeish"),
            TextAnalysis.punctRatioPpm(t).as("punct_ppm"),
            TextAnalysis.avgTokenLenMilli(t, tk).as("avg_tok_len_milli"),
            TextAnalysis.stopwordRatioPpmFromHits(col("_s_all"), tk).as("stop_ppm"),
            TextAnalysis.qualityScorePpmFromHits(t, tk, col("_s_all")).as("quality_ppm"),
            TextAnalysis.langIdFromScores(
              TextAnalysis.stopwords.map { case (lang, _) => lang -> col(s"_s_$lang") })
              .as("lang_pred"))
          .orderBy("doc_id")
      },
      Some {
        val hits = TextAnalysis.stopwords.map { case (lang, words) =>
          s"${duckHits(words)} AS s_$lang"
        }.mkString(",\n    ")
        val langs = TextAnalysis.stopwords.map(_._1)
        val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val langCase = langs.map(l => s"WHEN s_$l = $best AND s_$l > 0 THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        val allWords = TextAnalysis.stopwords.flatMap(_._2)
        s"""WITH tk AS (
           |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents
           |), m AS (
           |  SELECT doc_id, lang, text, toks,
           |    len(toks)::BIGINT AS n_tokens,
           |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0))::BIGINT AS n_bpeish,
           |    CAST(floor((len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1000000.0 / len(text)) AS BIGINT) AS punct_ppm,
           |    CAST(floor(len(replace(text, ' ', '')) * 1000.0 / len(toks)) AS BIGINT) AS avg_tok_len_milli,
           |    CAST(floor(${duckHits(allWords)} * 1000000.0 / len(toks)) AS BIGINT) AS stop_ppm,
           |    $hits
           |  FROM tk
           |)
           |SELECT doc_id, lang, n_tokens, n_bpeish, punct_ppm, avg_tok_len_milli, stop_ppm,
           |  (CASE WHEN len(text) BETWEEN 50 AND 5000 THEN 400000 ELSE 0 END
           |   + CASE WHEN stop_ppm >= 20000 THEN 300000 ELSE 0 END
           |   + CASE WHEN punct_ppm <= 200000 THEN 300000 ELSE 0 END)::BIGINT AS quality_ppm,
           |  $langCase AS lang_pred
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    // Winnowing fingerprints (the MOSS scheme): hash every positional
    // 5-gram, slide a 4-hash window, keep each window's min — any shared
    // substring of length >= k+w-1 = 8 shares a fingerprint while only
    // ~1/w of hashes survive. Full windows only; Spark pos is 0-based
    // (pos <= tot-4), the oracle's is 1-based (p <= tot-3) — same set.
    Q("q_doc_winnow",
      (s, dir) =>
        TextAnalysis.winnowFrame(Tables.documents(s, dir), "doc_id", "text", k = 5, w = 4)
          .orderBy("doc_id"),
      Some("""WITH g AS (
             |  SELECT doc_id, [{'p': i, 'h': md5(substr(text, i::INT, 5))} for i in range(1, len(text) - 3)] AS hs
             |  FROM documents WHERE len(text) >= 5),
             |sh AS (SELECT doc_id, unnest(hs, recursive := true) FROM g),
             |w AS (SELECT doc_id, p, h,
             |             min(h) OVER (PARTITION BY doc_id ORDER BY p
             |                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
             |             count(*) OVER (PARTITION BY doc_id) AS tot
             |      FROM sh)
             |SELECT doc_id, count(DISTINCT wmin) AS n_fp,
             |       min(wmin) AS fp_min, max(wmin) AS fp_max
             |FROM w WHERE p <= tot - 3
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Winnowing, PRODUCTION family: the rolling-polynomial-hash kernel
    // (one multiply-add per char + fmix64, vs one MD5 per position in the
    // oracle family above — same dual-family pattern as minhash).
    // No external engine reproduces the hash, so the oracle pins the
    // fingerprint determinism invariant on planted duplicates (docs 0-9
    // unioned back under offset ids, like q_dedup_simhash_neardup64):
    // identical texts must produce ELEMENT-WISE identical fingerprint
    // arrays (values AND selection order). Both sides of the self-join
    // recompute the winnow — the honest cost of the check, and the bench
    // number that demonstrates the rolling kernel's speed. DedupSpec
    // differential-tests the kernel against an independent
    // reimplementation and ties both families' shared-substring
    // guarantee.
    Q("q_doc_winnow_roll",
      (s, dir) => {
        val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val docs = base.unionByName(
          base.filter(col("doc_id") < 10)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        val fp = docs.spreadBy(col("doc_id"))
          .select(col("doc_id"), md5(col("text").cast("binary")).as("_m"),
            graft.functions.SetOps.winnowHashesRollCol(col("text"), 5, 4).as("_fp"))
        fp.select(col("doc_id").as("id_a"), col("_m"), col("_fp").as("_fa"))
          .join(fp.select(col("doc_id").as("id_b"), col("_m"), col("_fp").as("_fb")), Seq("_m"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            (col("_fa") === col("_fb")).cast("int").as("fp_equal"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1 AS fp_equal
             |FROM corpus a JOIN corpus b
             |  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
             |ORDER BY id_a, id_b""".stripMargin)),

    // Corpus vocabulary statistic: the 20 tokens with the highest
    // document frequency (distinct-doc count, not raw occurrences) — the
    // classic map-reduce shape, and what a pipeline derives stopword /
    // frequent-n-gram filters from. Per-doc distinct tokens first
    // (array_distinct before explode ⇒ df not tf), map-side-combined
    // count, TakeOrdered top-k — no global sort. Ties break by token.
    Q("q_vocab_topdf",
      (s, dir) =>
        Tables.documents(s, dir)
          .spreadBy(col("doc_id"))
          .select(col("doc_id"),
            explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("tok"))
          .limit(20),
      Some("""SELECT tok, count(*) AS df
             |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
             |      FROM documents)
             |GROUP BY tok ORDER BY df DESC, tok LIMIT 20""".stripMargin)),

    // Grouped top-k — "keep the best k documents per group" (here: top 3
    // per language by quality score), the per-domain selection step of a
    // training pipeline. Unlike the global q_topk (TakeOrderedAndProject),
    // this is a window rank inside each group: one shuffle on the group
    // key, rank, filter ≤ k — no global sort, no driver collect.
    Q("q_quality_topk",
      (s, dir) => {
        val t = col("text")
        val tk = col("_toks")
        val docs = Tables.documents(s, dir)
          .spreadBy(col("doc_id"))
          .withColumn("_toks", TextAnalysis.tokens(t))
          .withColumn("_s_all",
            TextAnalysis.stopwordHits(tk, TextAnalysis.stopwords.flatMap(_._2)))
          .withColumn("q_ppm", TextAnalysis.qualityScorePpmFromHits(t, tk, col("_s_all")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("q_ppm").desc, col("doc_id"))
        docs
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("lang"), col("rank"), col("doc_id"), col("q_ppm"))
          .orderBy("lang", "rank")
      },
      Some {
        val allWords = TextAnalysis.stopwords.flatMap(_._2)
        s"""WITH tk AS (
           |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents
           |), s AS (
           |  SELECT doc_id, lang, len(text) AS nc,
           |    CAST(floor(${duckHits(allWords)} * 1000000.0 / len(toks)) AS BIGINT) AS stop_ppm,
           |    CAST(floor((len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1000000.0 / len(text)) AS BIGINT) AS punct_ppm
           |  FROM tk
           |), q AS (
           |  SELECT doc_id, lang,
           |    (CASE WHEN nc BETWEEN 50 AND 5000 THEN 400000 ELSE 0 END
           |     + CASE WHEN stop_ppm >= 20000 THEN 300000 ELSE 0 END
           |     + CASE WHEN punct_ppm <= 200000 THEN 300000 ELSE 0 END)::BIGINT AS q_ppm
           |  FROM s
           |), r AS (
           |  SELECT lang, doc_id, q_ppm,
           |    row_number() OVER (PARTITION BY lang ORDER BY q_ppm DESC, doc_id) AS rank
           |  FROM q)
           |SELECT lang, rank, doc_id, q_ppm FROM r WHERE rank <= 3
           |ORDER BY lang, rank""".stripMargin
      }),

    // N-GRAM-heuristic language ID (the builder brief's wording; the
    // stopword argmax in q_text_stats is the token-based family): score =
    // |distinct char bigrams of the text ∩ per-language profile|, argmax
    // with the shared declaration-order tie rule. Profiles derive from
    // the stopword lists in Scala and are inlined as LITERALS into both
    // the Spark plan and this oracle — nothing to diverge cross-engine.
    // Bigrams come from the native CharShinglesExpr; scores are bound
    // once (langIdFromScores binding contract).
    Q("q_lang_bigram",
      (s, dir) => {
        val bg = col("_bg")
        val scoreCols = TextAnalysis.bigramProfiles.map { case (lang, prof) =>
          s"b_$lang" -> TextAnalysis.bigramHits(bg, prof)
        }
        Tables.documents(s, dir)
          .spreadBy(col("doc_id"))
          .withColumn("_bg", Dedup.charShingles(col("text"), 2))
          .withColumns(scoreCols.toMap)
          .select(
            (col("doc_id") +: col("lang") +:
              TextAnalysis.bigramProfiles.map { case (lang, _) => col(s"b_$lang") }) :+
              TextAnalysis.langIdFromScores(
                TextAnalysis.bigramProfiles.map { case (lang, _) => lang -> col(s"b_$lang") })
                .as("lang_bigram_pred"): _*)
          .orderBy("doc_id")
      },
      Some {
        val scores = TextAnalysis.bigramProfiles.map { case (lang, prof) =>
          s"CAST(len(list_intersect(bg, ${duckList(prof)})) AS BIGINT) AS b_$lang"
        }.mkString(",\n    ")
        val langs = TextAnalysis.bigramProfiles.map(_._1)
        val best = s"greatest(${langs.map("b_" + _).mkString(", ")})"
        val pred = langs.map(l => s"WHEN b_$l = $best AND b_$l > 0 THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        s"""WITH g AS (
           |  SELECT doc_id, lang,
           |         list_distinct([substr(text, i::INT, 2) for i in range(1, len(text))]) AS bg
           |  FROM documents
           |), m AS (
           |  SELECT doc_id, lang,
           |    $scores
           |  FROM g
           |)
           |SELECT doc_id, lang, ${langs.map("b_" + _).mkString(", ")},
           |  $pred AS lang_bigram_pred
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    // Scrub/normalize pass every training pipeline runs before dedup:
    // lowercase, strip punctuation, collapse whitespace. Output includes
    // how many chars the scrub removed (cheap quality signal).
    Q("q_text_clean",
      (s, dir) =>
        // cleanText bound ONCE: a projection referencing the regex chain
        // twice (clean + n_removed) would run the regexes twice per row if
        // subexpression elimination doesn't fuse them
        Tables.documents(s, dir)
          .withColumn("clean", TextAnalysis.cleanText(col("text")))
          .select(
            col("doc_id"), col("clean"),
            (length(col("text")) - length(col("clean"))).cast("long").as("n_removed"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS clean,
             |  CAST(len(text) - len(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_removed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_doc_fingerprint",
      (s, dir) =>
        TextAnalysis.fingerprintFrame(
            Tables.documents(s, dir).withColumn("_toks", TextAnalysis.tokens(col("text"))),
            "doc_id", Dedup.tokenShingles(col("_toks"), 3))
          .select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"),
            col("fp_min"), col("fp_max"))
          .orderBy("doc_id"),
      Some(s"""WITH sh AS ($duckShingles)
              |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
              |       list_min(list_transform(sh, x -> md5(x))) AS fp_min,
              |       list_max(list_transform(sh, x -> md5(x))) AS fp_max
              |FROM sh ORDER BY doc_id""".stripMargin)),

    // -- multimodal blob plumbing ---------------------------------------
    // Byte-level blob QC (codec-free corruption screen): distinct-byte
    // count, modal byte + frequency ppm (integer compressibility
    // proxy), magic-prefix format sniff. Blob content never shuffles —
    // only (doc_id, byte, count) tuples move; modal ties to the
    // smallest byte.
    // REAL image decode — Netpbm P2 (ASCII PGM): render a deterministic
    // 8×6 grayscale image per doc (pixel(i) = (doc_id·31 + i·17) mod
    // 256), then DECODE it with honest grammar parsing (magic, dims,
    // maxval, pixels) and extract features. The oracle derives the
    // features from the CLOSED FORM — Spark's render→parse round-trip
    // must land exactly on the independent arithmetic, so both the
    // encoder and the decoder are checked. (JPEG/PNG decode for real
    // below via the in-JDK javax.imageio codecs — q_image_decode_png /
    // q_image_decode_jpeg.)
    Q("q_image_decode",
      (s, dir) =>
        graft.operators.Multimodal.pgmFeatures(
          Tables.documents(s, dir)
            .select(col("doc_id")).spreadBy(col("doc_id"))
            .select(col("doc_id"),
              graft.operators.Multimodal.pgmBlob(col("doc_id"), 8, 6).as("img")),
          "doc_id", "img")
        .orderBy("doc_id"),
      Some("""WITH px AS (SELECT doc_id,
             |                   [CAST((doc_id*31 + i*17) % 256 AS BIGINT)
             |                    for i in range(48)] AS p
             |            FROM documents)
             |SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
             |       CAST(48 AS BIGINT) AS n_pixels, TRUE AS ok_format,
             |       CAST(list_sum(p) // 48 AS BIGINT) AS mean_pixel,
             |       list_min(p) AS min_pixel, list_max(p) AS max_pixel
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL compressed-image decode — PNG via the in-JDK javax.imageio
    // codec (no external library): render the same 16×8 closed-form
    // grayscale corpus (pixel(i) = (doc_id·31 + i·17) mod 256), ENCODE
    // it through the real PNG writer, then DECODE with ImageIO and
    // extract dims/channels/luma stats. PNG is lossless, so the oracle
    // derives every feature from the closed form — the full binary
    // encode→decode round-trip of a real compressed format is checked
    // against independent arithmetic. mapPartitions batch shape,
    // content never shuffles.
    Q("q_image_decode_png",
      (s, dir) => {
        val blobs = graft.operators.Multimodal.imageioRenderGray(s,
          Tables.documents(s, dir).select(col("doc_id")), "doc_id",
          16, 8, "png", blockConstant = false)
        graft.operators.Multimodal.imageioFeatures(s, blobs, "doc_id", "img")
          .orderBy("doc_id")
      },
      Some("""WITH px AS (SELECT doc_id,
             |                   [CAST((doc_id*31 + i*17) % 256 AS BIGINT)
             |                    for i in range(128)] AS p
             |            FROM documents)
             |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
             |       CAST(128 AS BIGINT) AS n_pixels, CAST(1 AS BIGINT) AS n_channels,
             |       TRUE AS ok_format,
             |       CAST(list_sum(p) // 128 AS BIGINT) AS mean_pixel,
             |       list_min(p) AS min_pixel, list_max(p) AS max_pixel
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL compressed-image decode — JPEG, the LOSSY codec, still with
    // a closed-form oracle: the rendered 32×16 grayscale corpus is
    // CONSTANT within each 8×8 block (block(b) = (doc_id·31 + b·17) mod
    // 256), so every block is DC-only, and at ImageIO quality 1.0 the
    // scaled quantization table is all ones — the DC coefficient
    // quantizes losslessly and the decode is BIT-EXACT (property
    // verified over ids × qualities in graft.ImgProbe, pinned in
    // MultimodalSpec). The oracle reads the 8 block values straight off
    // the closed form; Spark runs the real JFIF encode→decode.
    Q("q_image_decode_jpeg",
      (s, dir) => {
        val blobs = graft.operators.Multimodal.imageioRenderGray(s,
          Tables.documents(s, dir).select(col("doc_id")), "doc_id",
          32, 16, "jpeg", blockConstant = true)
        graft.operators.Multimodal.imageioFeatures(s, blobs, "doc_id", "img")
          .orderBy("doc_id")
      },
      Some("""WITH bv AS (SELECT doc_id,
             |                   [CAST((doc_id*31 + b*17) % 256 AS BIGINT)
             |                    for b in range(8)] AS v
             |            FROM documents)
             |SELECT doc_id, CAST(32 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
             |       CAST(512 AS BIGINT) AS n_pixels, CAST(1 AS BIGINT) AS n_channels,
             |       TRUE AS ok_format,
             |       CAST(list_sum(v) * 64 // 512 AS BIGINT) AS mean_pixel,
             |       list_min(v) AS min_pixel, list_max(v) AS max_pixel
             |FROM bv ORDER BY doc_id""".stripMargin)),

    // REAL audio decode — RIFF/WAVE PCM16: render a deterministic mono
    // 8 kHz 32-sample clip per doc (sample(i) = (doc_id·7 + i·13) mod
    // 2000 − 1000), then DECODE the canonical 44-byte header and the
    // signed little-endian 16-bit samples with honest byte parsing
    // (hex-materialized once) and extract the no-libm audio QC set:
    // peak, Σ|s|, Σs², zero crossings. The oracle derives everything
    // from the closed form — render AND parse both checked. (Compressed
    // codecs stay labeled environmental stubs; RIFF needs none.)
    Q("q_audio_decode",
      (s, dir) =>
        graft.operators.Multimodal.wavFeatures(
          Tables.documents(s, dir)
            .select(col("doc_id")).spreadBy(col("doc_id"))
            .select(col("doc_id"),
              graft.operators.Multimodal.wavBlob(col("doc_id"), 32).as("wav")),
          "doc_id", "wav")
        .orderBy("doc_id"),
      Some("""WITH s AS (SELECT doc_id,
             |                  [CAST((doc_id*7 + i*13) % 2000 - 1000 AS BIGINT)
             |                   for i in range(32)] AS sm
             |           FROM documents)
             |SELECT doc_id, CAST(32 AS BIGINT) AS n_samples,
             |       CAST(8000 AS BIGINT) AS sample_rate, TRUE AS ok_format,
             |       list_max(list_transform(sm, x -> abs(x))) AS peak_abs,
             |       CAST(list_sum(list_transform(sm, x -> abs(x))) AS BIGINT) AS sum_abs,
             |       CAST(list_sum(list_transform(sm, x -> x*x)) AS BIGINT) AS sum_sq,
             |       CAST(len(list_filter(range(1, 32),
             |                i -> (sm[i+1] < 0) != (sm[i] < 0))) AS BIGINT) AS n_zero_cross
             |FROM s ORDER BY doc_id""".stripMargin)),

    // REAL video decode — YUV4MPEG2 (Y4M): render a deterministic
    // 6-frame 4×4 grayscale clip per doc, then DECODE the container
    // honestly — the header line is FOUND (first 0x0A scan), dims come
    // from its W/H tokens, every FRAME marker is validated — and run
    // the no-libm SHOT-BOUNDARY detector: consecutive-frame mean
    // absolute pixel difference vs a threshold. Frame groups shift
    // with the doc id, so the cut census varies per row. The oracle
    // derives everything from the closed-form pixels: render AND parse
    // both checked. Completes the real-decode trio (P2, WAV, Y4M).
    Q("q_video_decode",
      (s, dir) =>
        graft.operators.Multimodal.y4mFeatures(
          Tables.documents(s, dir)
            .select(col("doc_id")).spreadBy(col("doc_id"))
            .select(col("doc_id"),
              graft.operators.Multimodal.y4mBlob(col("doc_id"), 4, 4, 6).as("clip")),
          "doc_id", "clip")
        .orderBy("doc_id"),
      Some("""WITH p AS (SELECT doc_id,
             |                  [[CAST((doc_id*3 + ((f + doc_id)//2)*97 + i*7) % 256
             |                     AS BIGINT) for i in range(16)]
             |                   for f in range(6)] AS fr
             |           FROM documents)
             |SELECT doc_id, CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
             |       CAST(6 AS BIGINT) AS n_frames, TRUE AS ok_format,
             |       CAST(list_sum(list_transform(fr, l -> list_sum(l))) // 96
             |            AS BIGINT) AS mean_y,
             |       CAST(len(list_filter(
             |              [list_sum([abs(fr[f+1][i+1] - fr[f][i+1]) for i in range(16)])
             |               for f in range(1, 6)],
             |              d -> d >= 480)) AS BIGINT) AS n_scene_cuts
             |FROM p ORDER BY doc_id""".stripMargin)),

    // REAL image resize — 2× box-filter downsample of the decoded P2
    // image (out(r,c) = ⌊mean of the 2×2 block⌋), row-local element_at
    // arithmetic over the pixel array, fingerprinted exactly by
    // md5(resized). Oracle replays the kernel from the closed-form
    // pixels.
    Q("q_image_resize",
      (s, dir) =>
        graft.operators.Multimodal.pgmDownsample2x(
          Tables.documents(s, dir)
            .select(col("doc_id")).spreadBy(col("doc_id"))
            .select(col("doc_id"),
              graft.operators.Multimodal.pgmBlob(col("doc_id"), 8, 6).as("img")),
          "doc_id", "img", w = 8, h = 6)
        .orderBy("doc_id"),
      Some("""WITH px AS (SELECT doc_id,
             |                   [CAST((doc_id*31 + i*17) % 256 AS BIGINT)
             |                    for i in range(48)] AS p
             |            FROM documents),
             |rs AS (SELECT doc_id,
             |              [CAST(floor((p[((o//4)*2)*8 + (o%4)*2 + 1]
             |                         + p[((o//4)*2)*8 + (o%4)*2 + 2]
             |                         + p[((o//4)*2+1)*8 + (o%4)*2 + 1]
             |                         + p[((o//4)*2+1)*8 + (o%4)*2 + 2]) / 4.0) AS BIGINT)
             |               for o in range(12)] AS r
             |       FROM px)
             |SELECT doc_id, CAST(4 AS BIGINT) AS out_w, CAST(3 AS BIGINT) AS out_h,
             |       CAST(list_sum(r) AS BIGINT) AS px_sum,
             |       md5(array_to_string(r, ' ')) AS px_md5
             |FROM rs ORDER BY doc_id""".stripMargin)),

    Q("q_blob_stats",
      (s, dir) => Multimodal.blobByteStats(
          Multimodal.toBlobTable(Tables.documents(s, dir), "doc_id", "text", "text"))
        .orderBy("doc_id"),
      Some("""WITH h AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |                  hex(encode(text)) AS hx
             |           FROM documents),
             |e AS (SELECT doc_id, unnest(range(n_bytes)) AS i, hx FROM h),
             |byt AS (SELECT doc_id,
             |          (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
             |          + strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1)) - 1 AS b
             |        FROM e),
             |c AS (SELECT doc_id, b, count(*) AS c FROM byt GROUP BY 1, 2),
             |r AS (SELECT doc_id, b, c,
             |             row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, b) AS rn,
             |             count(*) OVER (PARTITION BY doc_id) AS nd
             |      FROM c),
             |t AS (SELECT doc_id, b AS top_byte, c AS topc, nd FROM r WHERE rn = 1)
             |SELECT h.doc_id, CAST(h.n_bytes AS BIGINT) AS n_bytes,
             |       CAST(coalesce(t.nd, 0) AS BIGINT) AS n_distinct,
             |       CAST(t.top_byte AS BIGINT) AS top_byte,
             |       CAST(CASE WHEN h.n_bytes > 0 THEN t.topc * 1000000 // h.n_bytes
             |            ELSE 0 END AS BIGINT) AS top_ppm,
             |       CASE WHEN h.n_bytes = 0 THEN 'empty'
             |            WHEN starts_with(hx, '89504E47') THEN 'png'
             |            WHEN starts_with(hx, 'FFD8FF') THEN 'jpeg'
             |            WHEN starts_with(hx, '1F8B') THEN 'gzip'
             |            WHEN starts_with(hx, '25504446') THEN 'pdf'
             |            WHEN starts_with(hx, '52494646') THEN 'riff'
             |            ELSE 'unknown' END AS format
             |FROM h LEFT JOIN t USING (doc_id) ORDER BY doc_id""".stripMargin)),

    Q("q_multimodal",
      (s, dir) => {
        val blobs = Multimodal.toBlobTable(Tables.documents(s, dir), "doc_id", "text", "text")
        val frames = Multimodal.sampleFrames(blobs, 64)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_frames"), sum(col("frame_val")).as("frame_sum"))
        blobs.select(col("doc_id"), col("n_bytes"), col("content_md5"))
          .join(frames, Seq("doc_id"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (
             |  SELECT doc_id, octet_length(text::BLOB)::BIGINT AS n_bytes, md5(text) AS content_md5,
             |         [ascii(substr(text, o::INT + 1, 1)) for o in range(0, octet_length(text::BLOB), 64)] AS vals
             |  FROM documents
             |)
             |SELECT doc_id, n_bytes, content_md5,
             |       CAST(len(vals) AS BIGINT) AS n_frames,
             |       CAST(list_sum(vals) AS BIGINT) AS frame_sum
             |FROM f ORDER BY doc_id""".stripMargin)),

    // Blob dedup WITHOUT codecs (the image/audio-dedup shape, honest
    // offline): exact duplicates by md5-of-bytes, near-duplicates by a
    // 32-bit md5-nibble simhash over BYTE 4-gram shingles of the raw
    // blob (Multimodal.blobSimhash32 — shingles over hex(content) at
    // byte-aligned offsets, so both engines see identical strings), with
    // candidates from the same pigeonhole block join as
    // q_dedup_simhash_neardup (4 blocks ⇒ exact recall at hamming ≤ 3).
    // Output: candidate pair, hamming, and an exact_dup flag from the
    // byte-level md5 — the oracle recomputes fingerprints from the same
    // byte shingles and verifies ALL-PAIRS, so blocked recall is checked
    // end-to-end, not assumed. Blob bytes never shuffle: fingerprints are
    // (id, long), pairs verify in place.
    Q("q_dedup_blob",
      (s, dir) => {
        val blobs = Multimodal.toBlobTable(Tables.documents(s, dir), "doc_id", "text", "text")
        val fps = Multimodal.blobSimhash32(blobs, "doc_id", n = 4)
        val pairs = Dedup.simhashNearDupPairs(fps, "doc_id", "fp",
          nbits = 32, blocks = 4, maxHamming = 3)
        val keyed = blobs.select(col("doc_id"), col("content_md5"))
        pairs
          .join(keyed.select(col("doc_id").as("id_a"), col("content_md5").as("_ma")), Seq("id_a"))
          .join(keyed.select(col("doc_id").as("id_b"), col("content_md5").as("_mb")), Seq("id_b"))
          .select(col("id_a"), col("id_b"), col("hamming"),
            (col("_ma") === col("_mb")).cast("long").as("exact_dup"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH hx AS (
             |  SELECT doc_id, hex(text) AS h, md5(text) AS m FROM documents
             |), sh AS (
             |  SELECT doc_id, m,
             |         [md5(substr(h, (2*i-1)::INT, 8)) for i in range(1, (len(h)//2 - 2)::INT)] AS hs
             |  FROM hx WHERE len(h)//2 >= 4
             |), fp AS (
             |  SELECT doc_id, m,
             |    CAST(list_sum(list_transform(range(1, 33), j ->
             |      CASE WHEN list_sum(list_transform(hs, hh ->
             |             CASE WHEN substr(hh, j::INT, 1) IN ('8','9','a','b','c','d','e','f')
             |                  THEN 1 ELSE -1 END)) > 0
             |           THEN (1::BIGINT << (32 - j::INT)) ELSE 0 END)) AS BIGINT) AS fp
             |  FROM sh
             |)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming,
             |       CAST(CASE WHEN a.m = b.m THEN 1 ELSE 0 END AS BIGINT) AS exact_dup
             |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.fp, b.fp)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // The production-scale blob near-dup family: 64-bit xxhash64 simhash
    // over the same byte 4-gram shingles (Multimodal.blobSimhash64).
    // Operating point 4 blocks × 16-bit keys, hamming ≤ 3: in-bucket
    // candidate volume is Σ|bucket|² ≈ n²·blocks/2^width, so block WIDTH
    // is the scale knob — 16-bit keys measured 5.9× candidates on 5×
    // unique docs where the 10-bit keys of the 6-block/radius-5 point
    // ran 12× (and the 32-bit family's 8-bit keys 13×; see the scale
    // probe, last held in commit `9188937`, and BUILDER_NOTES round 6).
    // Radius trades against width through the pigeonhole bound
    // (maxHamming ≤ blocks−1). xxhash64 isn't
    // replayable in the oracle engine, so like q_dedup_simhash_neardup64
    // the checked output is the planted byte-exact dups (fingerprint
    // equality is deterministic for identical bytes ⇒ hamming 0, always
    // within radius); the general near-dup recall of the same family is
    // brute-force-differentialed in DedupSpec.
    Q("q_dedup_blob64",
      (s, dir) => {
        val base = Tables.documents(s, dir)
        val docs = base.unionByName(
          base.filter(col("doc_id") < 10)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
              col("lang"), col("source"), col("n_chars")))
        val blobs = Multimodal.toBlobTable(docs, "doc_id", "text", "text")
        val fps = Multimodal.blobSimhash64(blobs, "doc_id", n = 4)
        val pairs = Dedup.simhashNearDupPairs(fps, "doc_id", "fp",
          nbits = 64, blocks = 4, maxHamming = 3)
        val keyed = blobs.select(col("doc_id"), col("content_md5"))
        val sameBytes = keyed.select(col("doc_id").as("id_a"), col("content_md5"))
          .join(keyed.select(col("doc_id").as("id_b"), col("content_md5")), Seq("content_md5"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
        pairs.join(sameBytes, Seq("id_a", "id_b"))
          .select(col("id_a"), col("id_b"), col("hamming"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
             |FROM corpus a JOIN corpus b
             |  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
             |ORDER BY id_a, id_b""".stripMargin)),

    // Per-language length-decile binning (ntile) — the calibration step
    // a curation pipeline uses to stratify thresholds per language
    // instead of one global cutoff. (doc_id tie-break makes the decile
    // assignment a total order; output is the per-bucket census.)
    Q("q_length_deciles",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
        Tables.documents(s, dir)
          .withColumn("decile", ntile(10).over(w).cast("long"))
          .groupBy(col("lang"), col("decile"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("min_nc"), max(col("n_chars")).as("max_nc"))
          .orderBy("lang", "decile")
      },
      Some("""SELECT lang, CAST(decile AS BIGINT) AS decile, count(*) AS n_docs,
             |       min(n_chars) AS min_nc, max(n_chars) AS max_nc
             |FROM (SELECT lang, n_chars, doc_id,
             |             ntile(10) OVER (PARTITION BY lang
             |                             ORDER BY n_chars, doc_id) AS decile
             |      FROM documents)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // BM25 ranked retrieval for a 3-term query, top-10 docs — the
    // query-time search scoring the corpus-side index queries
    // (q_phrase_search, q_vocab_topdf) exist to serve. Rational-integer
    // BM25 (see TextAnalysis.bm25TopK) keeps the score exact in both
    // engines; ties broken by doc_id so the top-k set is a total order.
    Q("q_bm25_search",
      (s, dir) =>
        TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "vector", "stream"), k = 10),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
             |tot AS (SELECT count(*) AS n_docs, sum(dl) AS sumdl FROM dl),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             |       FROM (SELECT doc_id, unnest(toks) AS term FROM t)
             |       WHERE term IN ('spark', 'vector', 'stream') GROUP BY 1, 2),
             |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dfreq FROM tf GROUP BY 1)
             |SELECT doc_id,
             |       CAST(sum((10000 * (2*n_docs - 2*dfreq + 1) * 44 * tf * sumdl)
             |                // ((2*dfreq + 1) * (20*tf*sumdl + 6*sumdl + 18*dl*n_docs)))
             |            AS BIGINT) AS score_bp
             |FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
             |GROUP BY doc_id ORDER BY score_bp DESC, doc_id LIMIT 10""".stripMargin)),

    // Dictionary phrase tagging (FlashText class): a 6-phrase, 3-tag
    // dictionary of 1- and 2-token phrases over the documents corpus —
    // topic labeling / badword routing as one n-gram explode per
    // distinct phrase length + a broadcast dictionary join; document
    // text never shuffles. Oracle replays the same grams via
    // generate_series + list slicing.
    Q("q_keyword_tag",
      (s, dir) => TextAnalysis.tagKeywords(Tables.documents(s, dir),
          "doc_id", "text",
          Seq("perf" -> "slow", "perf" -> "fast table",
            "sql" -> "table scan", "sql" -> "agg",
            "stream" -> "batch window", "stream" -> "stream"))
        .orderBy("doc_id", "tag"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dict(tag, phrase, l) AS (VALUES
             |  ('perf', 'slow', 1), ('perf', 'fast table', 2),
             |  ('sql', 'table scan', 2), ('sql', 'agg', 1),
             |  ('stream', 'batch window', 2), ('stream', 'stream', 1)),
             |ls AS (SELECT DISTINCT l FROM dict),
             |g AS (
             |  SELECT doc_id, l, gs.i - 1 AS pos,
             |         array_to_string(toks[gs.i : gs.i + l - 1], ' ') AS gram
             |  FROM d CROSS JOIN ls,
             |       LATERAL unnest(generate_series(1, len(toks) - l + 1)) AS gs(i)
             |  WHERE len(toks) >= l)
             |SELECT doc_id, tag, count(*) AS n_hits, min(pos) AS first_pos
             |FROM g JOIN dict ON g.gram = dict.phrase AND g.l = dict.l
             |GROUP BY 1, 2 ORDER BY doc_id, tag""".stripMargin)),

    // Reciprocal-rank fusion of two retrieval runs (a lexical-ish
    // length ranking + a pseudo-random md5 ranking — deterministic
    // stand-ins for BM25/ANN lists, reproducible in both engines).
    // Each run is built the 100 TB way: orderBy+limit compiles to
    // TakeOrderedAndProject (distributed top-k, no global sort), and
    // rank assignment over the ALREADY-REDUCED k rows is a broadcast
    // k²-count join (rank = 1 + |rows ordering strictly before|; 50²
    // candidate pairs — statistics-sized). NOT a partitionBy(lit(0))
    // window: EliminateWindowPartitions folds a literal partition key
    // away and the plan degrades to the global WindowExec this registry
    // bans. Integer ppm contributions make the fused score exact; see
    // TextAnalysis.rrfFuse.
    Q("q_rrf_fuse",
      (s, dir) => {
        // before(a, b) = b orders strictly before a in the run's sort
        def ranked(top: org.apache.spark.sql.DataFrame,
                   before: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
                     org.apache.spark.sql.Column, org.apache.spark.sql.Column)
                     => org.apache.spark.sql.Column) = {
          val b = top.select(col("doc_id").as("_id2"), col("_k").as("_k2"))
          top.join(broadcast(b),
              before(col("_k"), col("doc_id"), col("_k2"), col("_id2")), "left")
            .groupBy(col("doc_id"))
            .agg((count(col("_id2")) + 1).cast("int").as("rank"))
        }
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), length(col("text")).as("_len"),
            md5(col("doc_id").cast("string").cast("binary")).as("_h"))
        val byLen = ranked(
          docs.select(col("doc_id"), col("_len").as("_k"))
            .orderBy(col("_k").desc, col("doc_id")).limit(50),
          (k, id, k2, id2) => k2 > k || (k2 === k && id2 < id))
        val byHash = ranked(
          docs.select(col("doc_id"), col("_h").as("_k"))
            .orderBy(col("_k"), col("doc_id")).limit(50),
          (k, id, k2, id2) => k2 < k || (k2 === k && id2 < id))
        TextAnalysis.rrfFuse(Seq(byLen, byHash), "doc_id", "rank",
          kRrf = 60, topK = 30)
      },
      Some("""WITH r1 AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY length(text) DESC, doc_id) AS rank
             |  FROM documents QUALIFY rank <= 50),
             |r2 AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
             |  FROM documents QUALIFY rank <= 50),
             |u AS (SELECT doc_id, rank FROM r1 UNION ALL SELECT doc_id, rank FROM r2)
             |SELECT doc_id, count(*) AS n_lists,
             |       CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm
             |FROM u GROUP BY 1
             |ORDER BY rrf_ppm DESC, doc_id LIMIT 30""".stripMargin)),

    // Incremental ingest dedup: docs with doc_id % 10 == 7 play the
    // incoming batch; everyone else is the existing corpus whose
    // signature index is STAGED parquet (built once, appended per
    // ingest). The batch computes only its own signatures and probes the
    // index — no corpus re-mine, no batch×batch join. Same LSH recall
    // guarantee as q_dedup_minhash (≥ 0.9998 at the 0.8 verify
    // threshold); oracle is the exact all-pairs new×old join.
    Q("q_dedup_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("_toks", TextAnalysis.tokens(col("text")))
        val isNew = col("doc_id") % 10 === 7
        val sh = docs.spreadBy(col("doc_id"))
          .select(col("doc_id"), Dedup.tokenShingles(col("_toks"), 3).as("sh"))
        val oldSig = graft.store.Staging.stage(
          Dedup.minhashSignatures(docs.filter(!isNew), "doc_id",
            Dedup.tokenShingles(col("_toks"), 3), MinhashK), "inc_index")
        val newSig = Dedup.minhashSignatures(docs.filter(isNew), "doc_id",
          Dedup.tokenShingles(col("_toks"), 3), MinhashK)
        val cands = Dedup.candidatePairsAcross(
          oldSig, Dedup.lshBandKeys(col("sig"), Bands, RowsPerBand),
          newSig, Dedup.lshBandKeys(col("sig"), Bands, RowsPerBand), "doc_id")
        cands
          .join(sh.select(col("doc_id").as("new_id"), col("sh").as("sh_n")), Seq("new_id"))
          .join(sh.select(col("doc_id").as("old_id"), col("sh").as("sh_o")), Seq("old_id"))
          .withColumn("jaccard_ppm",
            graft.functions.SetOps.jaccardPpmCol(col("sh_n"), col("sh_o")))
          .filter(col("jaccard_ppm") >= JaccardThresholdPpm)
          .select(col("new_id"), col("old_id"), col("jaccard_ppm"))
          .orderBy("new_id", "old_id")
      },
      Some(s"""WITH sh AS ($duckShingles)
              |SELECT n.doc_id AS new_id, o.doc_id AS old_id,
              |       CAST(floor(len(list_intersect(n.sh, o.sh)) * 1000000.0
              |                  / len(list_distinct(n.sh || o.sh))) AS BIGINT) AS jaccard_ppm
              |FROM sh n JOIN sh o ON n.doc_id % 10 = 7 AND o.doc_id % 10 != 7
              |WHERE CAST(floor(len(list_intersect(n.sh, o.sh)) * 1000000.0
              |                 / len(list_distinct(n.sh || o.sh))) AS BIGINT) >= $JaccardThresholdPpm
              |ORDER BY new_id, old_id""".stripMargin)),

    // Crowd-label aggregation (the annotation step of SFT/RLHF data
    // prep): lineitem plays a 3-label annotation log (item = orderkey,
    // annotator = suppkey, label = returnflag). Round 1 majority (tie ->
    // smallest label), round 2 annotator reliability in integer ppm +
    // reliability-weighted revote — Dawid-Skene-lite, one EM half-step,
    // fully closed-form so the oracle replays it exactly.
    Q("q_label_vote",
      (s, dir) => graft.operators.Labeling.goldenLabels(
          Tables.lineitem(s, dir), "l_orderkey", "l_suppkey", "l_returnflag")
        .orderBy("l_orderkey"),
      Some("""WITH v AS (SELECT l_orderkey AS item, l_suppkey AS annot,
             |                 l_returnflag AS label FROM lineitem),
             |c1 AS (SELECT item, label, count(*) AS n FROM v GROUP BY 1, 2),
             |maj AS (SELECT item, label AS maj_label FROM c1
             |        QUALIFY row_number() OVER (PARTITION BY item
             |                ORDER BY n DESC, label) = 1),
             |rel AS (SELECT annot,
             |          CAST(sum(CASE WHEN v.label = m.maj_label THEN 1 ELSE 0 END)
             |               * 1000000 // count(*) AS BIGINT) AS rel_ppm
             |        FROM v JOIN maj m USING (item) GROUP BY 1),
             |c2 AS (SELECT item, label, CAST(sum(rel_ppm) AS BIGINT) AS w
             |       FROM v JOIN rel USING (annot) GROUP BY 1, 2),
             |fin AS (SELECT item, label AS final_label FROM c2
             |        QUALIFY row_number() OVER (PARTITION BY item
             |                ORDER BY w DESC, label) = 1),
             |nv AS (SELECT item, CAST(count(*) AS BIGINT) AS n_annot FROM v GROUP BY 1)
             |SELECT nv.item AS l_orderkey, nv.n_annot, m.maj_label, f.final_label,
             |       CAST(CASE WHEN m.maj_label <> f.final_label THEN 1 ELSE 0 END
             |            AS BIGINT) AS changed
             |FROM nv JOIN maj m USING (item) JOIN fin f USING (item)
             |ORDER BY l_orderkey""".stripMargin)),

    // Pairwise Cohen's kappa — chance-corrected inter-annotator
    // agreement for every annotator pair sharing >= 5 items, the
    // labeling-quality gate BEFORE q_label_vote's aggregation (raw
    // agreement rewards majority-class parrots; kappa subtracts the
    // agreement the pair's label marginals produce by chance). Exact
    // integer: kappa_ppm = sign-split floor(1e6*(a*n - sum(cp*cq)) /
    // (n^2 - sum(cp*cq))). Annotators = l_suppkey % 20 (a dense
    // 20-annotator panel), labels = l_returnflag, items = orders.
    Q("q_kappa",
      (s, dir) => graft.operators.Labeling.pairwiseKappa(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey"),
              (col("l_suppkey") % 20).as("annot"), col("l_returnflag")),
          "l_orderkey", "annot", "l_returnflag", minShared = 5L)
        .orderBy("annot_a", "annot_b"),
      Some("""WITH v AS (SELECT l_orderkey AS item, l_suppkey % 20 AS an,
             |                  min(l_returnflag) AS l
             |           FROM lineitem GROUP BY 1, 2),
             |p AS (SELECT x.an AS a, y.an AS b, x.l AS la, y.l AS lb
             |      FROM v x JOIN v y ON x.item = y.item AND x.an < y.an),
             |m AS (SELECT a, b, l, sum(ca) AS cp, sum(cb) AS cq FROM (
             |        SELECT a, b, la AS l, 1 AS ca, 0 AS cb FROM p
             |        UNION ALL
             |        SELECT a, b, lb AS l, 0 AS ca, 1 AS cb FROM p)
             |      GROUP BY 1, 2, 3),
             |pe AS (SELECT a, b, sum(CAST(cp AS HUGEINT) * cq) AS pe
             |       FROM m GROUP BY 1, 2),
             |ag AS (SELECT a, b, count(*) AS n,
             |              sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS agr
             |       FROM p GROUP BY 1, 2)
             |SELECT ag.a AS annot_a, ag.b AS annot_b,
             |       CAST(n AS BIGINT) AS n_shared,
             |       CAST(agr * 1000000 // n AS BIGINT) AS agree_ppm,
             |       CAST(CASE WHEN CAST(n AS HUGEINT) * n - pe.pe = 0 THEN 0
             |            ELSE (CASE WHEN CAST(agr AS HUGEINT) * n - pe.pe < 0
             |              THEN -(abs(CAST(agr AS HUGEINT) * n - pe.pe) * 1000000
             |                     // (CAST(n AS HUGEINT) * n - pe.pe))
             |              ELSE (CAST(agr AS HUGEINT) * n - pe.pe) * 1000000
             |                   // (CAST(n AS HUGEINT) * n - pe.pe) END)
             |            END AS BIGINT) AS kappa_ppm
             |FROM ag JOIN pe ON ag.a = pe.a AND ag.b = pe.b
             |WHERE n >= 5 ORDER BY annot_a, annot_b""".stripMargin)),

    // STREAMING ingest near-dup dedup: the documents table replays as 5
    // mtime-ordered micro-batches (bucket = doc_id % 5); each batch
    // minhashes only itself, probes the persisted survivor index
    // (candidatePairsAcross — never batch×batch), exact-verifies by
    // shingle Jaccard, and appends its survivors — q_dedup_incremental's
    // production shape run for a whole backlog under the streaming
    // engine. A doc is kept iff no PRIOR-batch survivor matches at
    // >= 0.8; matched_old = smallest matching survivor id; intra-batch
    // dups both admitted. The oracle replays the batch recurrence as 5
    // unrolled materialized survivor CTEs GENERATED from the same bucket
    // count, so query and oracle cannot drift.
    Q("q_stream_ingest_dedup",
      (s, dir) => {
        val store = graft.streaming.Replay.ensureDocIngestStore(s, dir, IngestBuckets)
        graft.streaming.Replay.ingestDedupReplay(s, store,
            s"${graft.store.SnapshotStore.root}/ingest_dedup_work",
            JaccardThresholdPpm)
          .orderBy("doc_id")
      },
      Some(ingestDedupOracle(IngestBuckets))),

    // Fixed-size token chunking with overlap (window 32, stride 24 ⇒ 8
    // tokens of carried context) — the LM sample-prep step that turns
    // ragged documents into trainable windows. Pure row-local projection
    // (sequence-explode + slice, all codegen'd): chunking shuffles
    // NOTHING at any scale.
    // Sentence-boundary greedy chunking (the RAG-ingest shape): chunks
    // never split a sentence, pack greedily to 24 tokens, oversized
    // sentences get their own chunk. The packing recurrence runs as a
    // row-local fold (aggregate HOF with finish flush) — zero shuffle,
    // text never leaves its row; the oracle replays the recurrence as a
    // recursive CTE. The synthetic corpus has no punctuation, so the
    // token " a " plays the sentence boundary (same split semantics in
    // both engines: greedy left-to-right, non-overlapping).
    Q("q_chunk_sentences",
      (s, dir) => graft.operators.Chunking.chunkSentences(
          Tables.documents(s, dir), "doc_id", "text", maxTokens = 24,
          delim = " a ")
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH RECURSIVE s0 AS (
             |  SELECT doc_id, list_filter(string_split(text, ' a '), x -> x <> '') AS ss
             |  FROM documents),
             |tk AS (SELECT doc_id,
             |         unnest([{rn: i, t: len(string_split(ss[i::INT], ' '))}
             |                 for i in range(1, len(ss) + 1)]) AS s
             |       FROM s0),
             |t2 AS (SELECT doc_id, s.rn AS rn, s.t AS t FROM tk),
             |r AS (
             |  SELECT doc_id, rn, t, 0 AS ch, t AS cur FROM t2 WHERE rn = 1
             |  UNION ALL
             |  SELECT t2.doc_id, t2.rn, t2.t,
             |         CASE WHEN r.cur + t2.t > 24 THEN r.ch + 1 ELSE r.ch END,
             |         CASE WHEN r.cur + t2.t > 24 THEN t2.t ELSE r.cur + t2.t END
             |  FROM r JOIN t2 ON t2.doc_id = r.doc_id AND t2.rn = r.rn + 1)
             |SELECT doc_id, CAST(ch AS BIGINT) AS chunk_idx,
             |       count(*) AS n_sentences, CAST(sum(t) AS BIGINT) AS n_tokens
             |FROM r GROUP BY 1, 2 ORDER BY doc_id, chunk_idx""".stripMargin)),

    Q("q_chunk_tokens",
      (s, dir) =>
        graft.operators.Chunking.chunkTokens(
          Tables.documents(s, dir), "text", size = 32, stride = 24)
          .orderBy("doc_id", "start_pos"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |SELECT doc_id,
             |       CAST(s AS BIGINT) AS start_pos,
             |       CAST(len(toks[s+1 : s+32]) AS BIGINT) AS n_tok,
             |       array_to_string(toks[s+1 : s+32], ' ') AS chunk_text
             |FROM t, LATERAL unnest(generate_series(0, len(toks)-1, 24)) AS u(s)
             |ORDER BY doc_id, start_pos""".stripMargin)),

    // Greedy sequence packing into 256-token context bins, independent
    // per md5-nibble shard: the packed-batch manifest (shard, bin, doc,
    // offset) a training loader consumes. Only (doc_id, n_tok) metadata
    // moves — text never shuffles — and the sequential pack runs inside
    // shard-sorted partitions (no driver collect, no global window). The
    // oracle replays the same fold as a recursive CTE per shard.
    Q("q_pack_greedy",
      (s, dir) =>
        graft.operators.Chunking.greedyPack(
          Tables.documents(s, dir), "text", capacity = 256)
          .orderBy("shard", "bin_id", "doc_id"),
      Some("""WITH RECURSIVE m AS (
             |  SELECT doc_id,
             |         CAST(instr('0123456789abcdef',
             |                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) AS shard,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents
             |), ordered AS (
             |  SELECT shard, doc_id, n_tok,
             |         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
             |  FROM m
             |), pack(shard, rn, doc_id, n_tok, bin, fill) AS (
             |  SELECT shard, rn, doc_id, n_tok, CAST(0 AS BIGINT), n_tok
             |  FROM ordered WHERE rn = 1
             |  UNION ALL
             |  SELECT o.shard, o.rn, o.doc_id, o.n_tok,
             |         CASE WHEN p.fill + o.n_tok <= 256 THEN p.bin ELSE p.bin + 1 END,
             |         CASE WHEN p.fill + o.n_tok <= 256 THEN p.fill + o.n_tok ELSE o.n_tok END
             |  FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
             |)
             |SELECT shard, bin AS bin_id, doc_id, n_tok, fill - n_tok AS tok_offset
             |FROM pack ORDER BY shard, bin_id, doc_id""".stripMargin)),

    // Deterministic global shuffle order: each doc's position under the
    // total order (md5(doc_id), doc_id) — reproducible training order
    // with no RNG. Computed with band-count offsets + per-band rank, so
    // no single-partition global sort exists in the plan.
    Q("q_shuffle_order",
      (s, dir) =>
        graft.operators.Chunking.globalShuffleOrder(Tables.documents(s, dir))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
             |            AS BIGINT) AS pos
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // C4-style span-level exact dedup with reconstruction: 15-token
    // segments dropped when their text already occurred earlier in the
    // corpus ((doc_id, start) order), docs re-assembled from kept
    // segments. The mask shuffles only (md5, doc_id, start); span text
    // never shuffles and reconstruction is row-local (see
    // Dedup.spanDedup's scale note).
    Q("q_span_dedup",
      (s, dir) =>
        Dedup.spanDedup(Tables.documents(s, dir), "text", span = 15)
          .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |spans AS (
             |  SELECT doc_id, s AS start,
             |         array_to_string(toks[s+1 : s+15], ' ') AS span
             |  FROM t, LATERAL unnest(generate_series(0, len(toks)-1, 15)) AS u(s)
             |), mask AS (
             |  SELECT doc_id, start, span,
             |         row_number() OVER (PARTITION BY md5(span)
             |                            ORDER BY doc_id, start) = 1 AS kept
             |  FROM spans
             |)
             |SELECT doc_id,
             |       CAST(count(*) AS BIGINT) AS n_spans,
             |       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
             |       coalesce(string_agg(span, ' ' ORDER BY start) FILTER (WHERE kept),
             |                '') AS clean_text
             |FROM mask GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Trained coarse quantizer: deterministic distributed Lloyd k-means
    // over mils-quantized embeddings (k lowest ids seed, lowest-index
    // ties, floor-mean updates — all exact int64, so the oracle replays
    // the identical 3-iteration trail). Assignment is a row-local
    // codegen'd projection against driver-held centroids; each update is
    // one map-side-combined (cluster, dim) aggregation. The trained twin
    // of q_ann_ivf's data-independent quantizer.
    Q("q_cluster_kmeans",
      (s, dir) =>
        Clustering.kmeans(Tables.embeddings(s, dir), "vec_id", "embedding",
            k = 8, iters = 3)
          .orderBy("vec_id"),
      Some(kmeansOracle(k = 8, iters = 3, dims = 64) +
        "\nSELECT vec_id, c AS cluster, dist FROM af ORDER BY vec_id")),

    // Broadcast-assignment twin of q_cluster_kmeans: identical Lloyd
    // training (the content-keyed stage + codebook memo mean the corpus
    // trains ONCE for both), but the final assignment joins a broadcast
    // centroid frame instead of baking k literal structs into one
    // projection — the shape that survives IVF-scale k (tens of
    // thousands of centroids), where the literal plan outgrows codegen
    // and analysis budgets (measured wall in BUILDER_NOTES). Same
    // oracle: the assignment contract (min distance, ties to lowest
    // index) is path-independent.
    Q("q_cluster_kmeans_bcast",
      (s, dir) => {
        val q = graft.store.Staging.stage(
          Tables.embeddings(s, dir).select(col("vec_id"),
            Clustering.quantizeMils(col("embedding")).as("_qv")),
          "kmeans_q8")
        Clustering.assignQuantizedBroadcast(q, "vec_id",
          Clustering.trainCentroids(q, "vec_id", k = 8, iters = 3))
          .orderBy("vec_id")
      },
      Some(kmeansOracle(k = 8, iters = 3, dims = 64) +
        "\nSELECT vec_id, c AS cluster, dist FROM af ORDER BY vec_id")),

    // SemDeDup (Abbas et al. 2023): semantic dedup = k-means partition +
    // within-cluster cosine pruning against lower-id neighbors. Pair
    // count is Σ|cluster|² (k tunes it), never n²; similarity runs on
    // the original float vectors via the bit-stable sequential-fold dot.
    Q("q_semdedup",
      (s, dir) =>
        Clustering.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
            k = 8, iters = 3, minSimPpm = 350000L)
          .orderBy("vec_id"),
      Some(kmeansOracle(k = 8, iters = 3, dims = 64) +
        """, ve AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          |dup AS (
          |  SELECT DISTINCT a.vec_id AS vid
          |  FROM af a JOIN af b ON a.c = b.c AND b.vec_id < a.vec_id
          |  JOIN ve x ON a.vec_id = x.vec_id JOIN ve y ON b.vec_id = y.vec_id
          |  WHERE CAST(floor(list_dot_product(x.e, y.e)
          |        / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e)))
          |        * 1000000.0) AS BIGINT) >= 350000)
          |SELECT af.vec_id, af.c AS cluster,
          |       CAST(CASE WHEN d.vid IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
          |FROM af LEFT JOIN dup d ON af.vec_id = d.vid ORDER BY af.vec_id""".stripMargin)),

    // Prototype pruning (Sorscher et al. 2022) — semDedup's dual: drop
    // the most PROTOTYPICAL quarter of each k-means cluster (closest to
    // centroid; nearest-rank p25 of the exact int64 squared distance is
    // the per-cluster cut, ties survive) and keep the hard examples. No
    // pairs ever form; the threshold pass is the grouped 2-pass
    // selection + a k-row broadcast join back.
    Q("q_prototype_prune",
      (s, dir) =>
        Clustering.prototypePrune(Tables.embeddings(s, dir), "vec_id",
            "embedding", k = 8, iters = 3, prunePct = 25)
          .orderBy("vec_id"),
      Some(kmeansOracle(k = 8, iters = 3, dims = 64) +
        """, r AS (SELECT vec_id, c, dist,
          |         row_number() OVER (PARTITION BY c ORDER BY dist, vec_id) AS rn,
          |         count(*) OVER (PARTITION BY c) AS n FROM af),
          |thr AS (SELECT c, max(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
          |                           THEN dist END) AS thr
          |        FROM r GROUP BY c)
          |SELECT r.vec_id, r.c AS cluster, r.dist,
          |       CAST(CASE WHEN r.dist >= t.thr THEN 1 ELSE 0 END AS BIGINT) AS kept
          |FROM r JOIN thr t ON r.c = t.c ORDER BY r.vec_id""".stripMargin)),

    // Product quantization (Jégou et al. 2011): 8 independent sub-space
    // codebooks (k=16, 2 Lloyd iterations each — the same exact-integer
    // training as q_cluster_kmeans), every vector encoded as 8 packed
    // nibbles in ONE long + its exact int64 reconstruction error. 64
    // float dims → 8 bytes is the compression that fits 100 TB of
    // vectors in memory; training slices ONE staged quantized scan and
    // the encode is a single row-local projection (no joins — codebooks
    // are driver-held literals). The oracle replays all 8 sub-space
    // Lloyd trails and the same nibble packing.
    Q("q_pq_encode",
      (s, dir) =>
        Clustering.pqEncode(Tables.embeddings(s, dir), "vec_id", "embedding",
            dims = 64, subspaces = 8, k = 16, iters = 2)._1
          .orderBy("vec_id"),
      Some(pqChains(subspaces = 8, d = 8, k = 16, iters = 2) +
        s"""
           |SELECT vec_id,
           |       CAST(${(0 until 8).map(s => s"c$s * ${1L << (4 * s)}").mkString(" + ")} AS BIGINT) AS code,
           |       CAST(${(0 until 8).map(s => s"d$s").mkString(" + ")} AS BIGINT) AS recon_err
           |FROM enc ORDER BY vec_id""".stripMargin)),

    // Asymmetric-distance (ADC) top-k over the PQ codes: queries keep
    // exact quantized vectors, the corpus contributes ONLY its 8-byte
    // codes — distance decodes each nibble against the driver-held
    // codebook literals row-locally (scan touches 8 bytes/vector, never
    // floats). Each query ranks itself first at dist = its own
    // reconstruction error — the PQ sanity invariant, visible in the
    // checked output.
    Q("q_pq_search",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (enc, books) = Clustering.pqEncode(emb, "vec_id", "embedding",
          dims = 64, subspaces = 8, k = 16, iters = 2)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"),
            Clustering.quantizeMils(col("embedding")).as("_qv"))
        Clustering.pqTopK(enc, queries, "q_id", "vec_id", books, dims = 64, topK = 10)
          .orderBy("q_id", "rank")
      },
      Some(pqChains(subspaces = 8, d = 8, k = 16, iters = 2) +
        s""",
           |queries AS (SELECT vec_id AS q_id, v FROM qb WHERE vec_id < 5),
           |adc AS (
           |  SELECT qq.q_id, e.vec_id,
           |         CAST(${(0 until 8).map(s =>
               s"list_sum([ (qq.v[(${s * 8}+i)::INT] - b$s.v[i::INT]) * (qq.v[(${s * 8}+i)::INT] - b$s.v[i::INT]) for i in range(1, 9) ])")
               .mkString(" + ")} AS BIGINT) AS adc_dist
           |  FROM enc e ${(0 until 8).map(s => s"JOIN s${s}_c2 b$s ON e.c$s = b$s.c").mkString(" ")}
           |  CROSS JOIN queries qq)
           |SELECT q_id, rank, vec_id, adc_dist FROM (
           |  SELECT q_id, vec_id, adc_dist,
           |         row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
           |  FROM adc) WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // IVF-PQ (the FAISS IVFx,PQy architecture): the coarse inverted
    // file restricts search to 2 probed buckets, ranking inside them
    // runs on 8-byte PQ codes via ADC — composes the two verified
    // quantizers (q_ann_ivf's seeded-cosine coarse + q_pq_search's
    // codebooks) into the production vector-search shape where a
    // 100 TB corpus contributes codes only and only the probed
    // fraction is scanned. The oracle splices both generated chains.
    Q("q_ann_ivfpq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Clustering.ivfPqTopK(emb, "vec_id", "embedding", queries, "q_id", "q_vec",
            dims = 64, subspaces = 8, kCodes = 16, iters = 2,
            nCentroids = 8, nprobe = 2, topK = 10)
          .orderBy("q_id", "rank")
      },
      Some(pqChains(subspaces = 8, d = 8, k = 16, iters = 2) +
        s""",
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |vn AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nn FROM v),
           |cent AS (SELECT vec_id AS cid, ve AS cv, nn AS cn FROM vn WHERE vec_id < 8),
           |asg AS (
           |  SELECT n.vec_id,
           |    -((max(struct_pack(s := CAST(floor(list_dot_product(n.ve, cent.cv)
           |                                       / (n.nn * cent.cn) * 1000000.0) AS BIGINT),
           |                       nc := -cent.cid))).nc) AS cid
           |  FROM vn n, cent GROUP BY n.vec_id),
           |q AS (SELECT vec_id AS q_id, ve AS qv, nn AS qn FROM vn WHERE vec_id < 5),
           |probe AS (
           |  SELECT q_id, cid FROM (
           |    SELECT q.q_id, cent.cid,
           |      row_number() OVER (PARTITION BY q.q_id ORDER BY
           |        CAST(floor(list_dot_product(q.qv, cent.cv)
           |                   / (q.qn * cent.cn) * 1000000.0) AS BIGINT) DESC, cent.cid) AS pr
           |    FROM q, cent) WHERE pr <= 2),
           |qq AS (SELECT vec_id AS q_id, v FROM qb WHERE vec_id < 5),
           |adc AS (
           |  SELECT qq.q_id, e.vec_id,
           |         CAST(${(0 until 8).map(s =>
               s"list_sum([ (qq.v[(${s * 8}+i)::INT] - b$s.v[i::INT]) * (qq.v[(${s * 8}+i)::INT] - b$s.v[i::INT]) for i in range(1, 9) ])")
               .mkString(" + ")} AS BIGINT) AS adc_dist
           |  FROM enc e ${(0 until 8).map(s => s"JOIN s${s}_c2 b$s ON e.c$s = b$s.c").mkString(" ")}
           |  JOIN asg a ON a.vec_id = e.vec_id
           |  JOIN probe p ON a.cid = p.cid
           |  JOIN qq ON qq.q_id = p.q_id
           |  WHERE e.vec_id <> qq.q_id)
           |SELECT q_id, rank, vec_id, adc_dist FROM (
           |  SELECT q_id, vec_id, adc_dist,
           |         row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
           |  FROM adc) WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // IVF-PQ recall@10 vs exact kNN (self excluded on both sides) — the
    // number that prices the nprobe×compression trade against
    // q_pq_recall's full-scan ADC and q_ann_recall_ivf's uncompressed
    // probing; derived from two verified pipelines like its siblings.
    Q("q_ann_recall_ivfpq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val ivfpq = Clustering.ivfPqTopK(emb, "vec_id", "embedding", queries,
          "q_id", "q_vec", dims = 64, subspaces = 8, kCodes = 16, iters = 2,
          nCentroids = 8, nprobe = 2, topK = 10)
        val q = queries.select(col("q_id"),
          Clustering.quantizeMils(col("q_vec")).as("_qv"))
        // spread before the exact brute-force (r16, guide §2.5): the
        // embeddings scan is one row group, so the |corpus|x|q| L2 pass
        // otherwise runs on one core
        val corpus = emb.select(col("vec_id"),
          Clustering.quantizeMils(col("embedding")).as("_cv"))
          .spreadBy(col("vec_id"))
        val dist = aggregate(
          zip_with(col("_qv"), col("_cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("_d"), col("vec_id"))
        val exact = corpus.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), dist.as("_d"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
        ivfpq.join(exact.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"))
          .groupBy(col("q_id"))
          .agg((count(lit(1)) * 100000L).as("recall_ppm"))
          .orderBy("q_id")
      },
      Some(pqChains(subspaces = 8, d = 8, k = 16, iters = 2) +
        s""",
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |vn AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nn FROM v),
           |cent AS (SELECT vec_id AS cid, ve AS cv, nn AS cn FROM vn WHERE vec_id < 8),
           |asg AS (
           |  SELECT n.vec_id,
           |    -((max(struct_pack(s := CAST(floor(list_dot_product(n.ve, cent.cv)
           |                                       / (n.nn * cent.cn) * 1000000.0) AS BIGINT),
           |                       nc := -cent.cid))).nc) AS cid
           |  FROM vn n, cent GROUP BY n.vec_id),
           |q AS (SELECT vec_id AS q_id, ve AS qv, nn AS qn FROM vn WHERE vec_id < 5),
           |probe AS (
           |  SELECT q_id, cid FROM (
           |    SELECT q.q_id, cent.cid,
           |      row_number() OVER (PARTITION BY q.q_id ORDER BY
           |        CAST(floor(list_dot_product(q.qv, cent.cv)
           |                   / (q.qn * cent.cn) * 1000000.0) AS BIGINT) DESC, cent.cid) AS pr
           |    FROM q, cent) WHERE pr <= 2),
           |qq AS (SELECT vec_id AS q_id, v FROM qb WHERE vec_id < 5),
           |adc AS (
           |  SELECT qq.q_id, e.vec_id,
           |         CAST(${(0 until 8).map(s =>
               s"list_sum([ (qq.v[(${s * 8}+i)::INT] - b$s.v[i::INT]) * (qq.v[(${s * 8}+i)::INT] - b$s.v[i::INT]) for i in range(1, 9) ])")
               .mkString(" + ")} AS BIGINT) AS adc_dist
           |  FROM enc e ${(0 until 8).map(s => s"JOIN s${s}_c2 b$s ON e.c$s = b$s.c").mkString(" ")}
           |  JOIN asg a ON a.vec_id = e.vec_id
           |  JOIN probe p ON a.cid = p.cid
           |  JOIN qq ON qq.q_id = p.q_id
           |  WHERE e.vec_id <> qq.q_id),
           |ivfpq10 AS (SELECT q_id, vec_id FROM (
           |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
           |  FROM adc) WHERE rank <= 10),
           |exact10 AS (SELECT q_id, vec_id FROM (
           |  SELECT qq.q_id, x.vec_id,
           |         row_number() OVER (PARTITION BY qq.q_id
           |           ORDER BY list_sum([ (qq.v[i]-x.v[i])*(qq.v[i]-x.v[i]) for i in range(1, 65) ]), x.vec_id) AS rank
           |  FROM qb x CROSS JOIN qq WHERE x.vec_id <> qq.q_id) WHERE rank <= 10)
           |SELECT q_id, CAST(count(*) * 100000 AS BIGINT) AS recall_ppm
           |FROM ivfpq10 JOIN exact10 USING (q_id, vec_id)
           |GROUP BY q_id ORDER BY q_id""".stripMargin)),

    // PQ recall@10: |ADC top-10 ∩ exact-L2 top-10| per query in tenths —
    // the compression-loss metric that decides k/subspace sizing, built
    // from the two independently-verified pipelines (exact kNN on the
    // full quantized vectors vs q_pq_search's code-only ADC), the same
    // derivation pattern as q_ann_recall_ivf.
    Q("q_pq_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (enc, books) = Clustering.pqEncode(emb, "vec_id", "embedding",
          dims = 64, subspaces = 8, k = 16, iters = 2)
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"),
            Clustering.quantizeMils(col("embedding")).as("_qv"))
        val adc = Clustering.pqTopK(enc, q, "q_id", "vec_id", books, dims = 64, topK = 10)
        // spread before the exact brute-force (r16, guide §2.5): the
        // embeddings scan is one row group, so the |corpus|x|q| L2 pass
        // otherwise runs on one core
        val corpus = emb.select(col("vec_id"),
          Clustering.quantizeMils(col("embedding")).as("_cv"))
          .spreadBy(col("vec_id"))
        val dist = aggregate(
          zip_with(col("_qv"), col("_cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("_d"), col("vec_id"))
        val exact = corpus.crossJoin(broadcast(q))
          .select(col("q_id"), col("vec_id"), dist.as("_d"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
        adc.join(exact.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"))
          .groupBy(col("q_id"))
          .agg((count(lit(1)) * 100000L).as("recall_ppm"))
          .orderBy("q_id")
      },
      Some(pqChains(subspaces = 8, d = 8, k = 16, iters = 2) +
        s""",
           |queries AS (SELECT vec_id AS q_id, v FROM qb WHERE vec_id < 5),
           |adc AS (
           |  SELECT qq.q_id, e.vec_id,
           |         CAST(${(0 until 8).map(s =>
               s"list_sum([ (qq.v[(${s * 8}+i)::INT] - b$s.v[i::INT]) * (qq.v[(${s * 8}+i)::INT] - b$s.v[i::INT]) for i in range(1, 9) ])")
               .mkString(" + ")} AS BIGINT) AS adc_dist
           |  FROM enc e ${(0 until 8).map(s => s"JOIN s${s}_c2 b$s ON e.c$s = b$s.c").mkString(" ")}
           |  CROSS JOIN queries qq),
           |adc10 AS (SELECT q_id, vec_id FROM (
           |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
           |  FROM adc) WHERE rank <= 10),
           |exact10 AS (SELECT q_id, vec_id FROM (
           |  SELECT qq.q_id, x.vec_id,
           |         row_number() OVER (PARTITION BY qq.q_id
           |           ORDER BY list_sum([ (qq.v[i]-x.v[i])*(qq.v[i]-x.v[i]) for i in range(1, 65) ]), x.vec_id) AS rank
           |  FROM qb x CROSS JOIN queries qq) WHERE rank <= 10)
           |SELECT q_id, CAST(count(*) * 100000 AS BIGINT) AS recall_ppm
           |FROM adc10 JOIN exact10 USING (q_id, vec_id)
           |GROUP BY q_id ORDER BY q_id""".stripMargin)),

    // Main-content extraction from raw HTML (the web-crawl front door:
    // trafilatura/jusText's deterministic core): script/style strip,
    // block-tag line breaks, tag removal, entity decode, then the
    // C4-style ≥6-token line filter that drops titles, nav crumbs and
    // button text. The HTML is constructed deterministically per doc
    // (title + h1 + body paragraph + nav div + script), so the checked
    // output proves each stage: script code and nav lines never appear,
    // short heads drop, the body paragraph round-trips.
    Q("q_html_extract",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><script>var x = 1 &amp; 2;</script></head><body><h1>"),
          array_join(slice(split(col("text"), " "), 1, 3), " "),
          lit("</h1><p>"), col("text"),
          lit("</p><div class=\"nav\">home about contact</div></body></html>"))
        val ex = TextAnalysis.extractHtmlText(html, minTokens = 6)
        // spread before the HTML strip (r16, guide §2.5): 1-row-group
        // scan + orderBy range sample re-executing the parse
        docs.select(col("doc_id"), col("text")).spreadBy(col("doc_id"))
          .select(col("doc_id"), ex.as("_e"))
          .select(col("doc_id"), col("_e").getField("text").as("clean_text"),
            col("_e").getField("n_lines").as("n_lines"),
            col("_e").getField("n_kept").as("n_kept"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
             |         '</title><script>var x = 1 &amp; 2;</script></head><body><h1>' ||
             |         array_to_string(string_split(text, ' ')[1:3], ' ') ||
             |         '</h1><p>' || text ||
             |         '</p><div class="nav">home about contact</div></body></html>' AS html
             |  FROM documents
             |), st AS (
             |  SELECT doc_id,
             |    replace(replace(replace(replace(replace(
             |      regexp_replace(
             |        regexp_replace(
             |          regexp_replace(
             |            regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
             |            '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
             |          '</(p|h1|h2|h3|div|li|title|tr)>', chr(10), 'g'),
             |        '<[^>]+>', ' ', 'g'),
             |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS t
             |  FROM h
             |), ln AS (
             |  SELECT doc_id,
             |         list_filter(list_transform(string_split(t, chr(10)),
             |                     l -> trim(regexp_replace(l, ' +', ' ', 'g'))),
             |                     l -> l <> '') AS lines
             |  FROM st
             |)
             |SELECT doc_id,
             |       array_to_string(list_filter(lines, l -> len(string_split(l, ' ')) >= 6), chr(10)) AS clean_text,
             |       CAST(len(lines) AS BIGINT) AS n_lines,
             |       CAST(len(list_filter(lines, l -> len(string_split(l, ' ')) >= 6)) AS BIGINT) AS n_kept
             |FROM ln ORDER BY doc_id""".stripMargin)),

    // URL canonicalization dedup — the crawl-frontier key step between
    // HTML extraction and content dedup: fragment strip, scheme+host
    // lowercase (paths stay case-sensitive), www strip, tracking-param
    // removal in all three positions, trailing-slash tidy; then group by
    // the canonical key. URLs are synthesized per doc to exercise every
    // rule (mixed-case host, mid-and-end tracking params, fragment,
    // trailing slash), with planted collisions at doc_id ≡ k (mod 50).
    Q("q_url_canonical",
      (s, dir) => {
        val id = col("doc_id")
        val url = concat(
          lit("HTTPS://WWW.Ex"), (id % 10).cast("string"),
          lit(".COM/p/"), (id % 50).cast("string"),
          when(id % 2 === 0, lit("/"))
            .otherwise(concat(lit("?id="), (id % 50).cast("string"))),
          lit("&utm_source=feed&ref="), id.cast("string"),
          lit("#s"), id.cast("string"))
        Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.canonicalUrl(url).as("canonical_url"))
          .groupBy(col("canonical_url"))
          .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper_id"))
          .orderBy("canonical_url")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |         'HTTPS://WWW.Ex' || CAST(doc_id % 10 AS VARCHAR) || '.COM/p/' ||
             |         CAST(doc_id % 50 AS VARCHAR) ||
             |         CASE WHEN doc_id % 2 = 0 THEN '/'
             |              ELSE '?id=' || CAST(doc_id % 50 AS VARCHAR) END ||
             |         '&utm_source=feed&ref=' || CAST(doc_id AS VARCHAR) ||
             |         '#s' || CAST(doc_id AS VARCHAR) AS url
             |  FROM documents
             |), nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS s FROM u),
             |hd AS (SELECT doc_id, s, regexp_extract(s, '^[a-zA-Z]+://[^/?]*') AS h FROM nf),
             |lw AS (SELECT doc_id, lower(h) || substr(s, length(h)+1) AS s FROM hd),
             |ww AS (SELECT doc_id,
             |         regexp_replace(regexp_replace(s, '^http://www\.', 'http://'),
             |                        '^https://www\.', 'https://') AS s FROM lw),
             |tr AS (SELECT doc_id,
             |         regexp_replace(
             |           regexp_replace(
             |             regexp_replace(s, '&(utm_[a-z]+|ref)=[^&#]*', '', 'g'),
             |             '\?(utm_[a-z]+|ref)=[^&#]*&', '?'),
             |           '\?(utm_[a-z]+|ref)=[^&#]*$', '') AS s FROM ww),
             |c AS (SELECT doc_id, regexp_replace(s, '/$', '') AS canonical_url FROM tr)
             |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_dups,
             |       min(doc_id) AS keeper_id
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- exact-substring (suffix-array) dedup ---------------------------
    // Token-level suffix array by distributed prefix doubling
    // (Manber–Myers; SuffixArray.scala's scaladoc has the three scale
    // decisions: terasort-style prefix-sum offsets, round-0 ranks through
    // the distinct vocabulary, group-local tie refinement with resolved
    // ranks frozen). The oracle replays the SAME doubling as 20 generated
    // rank()-window rounds at fixed depth (2^20 ≥ every sweep corpus);
    // Spark early-exits once no tie remains — further rounds are no-ops
    // on distinct ranks, so both converge to the same permutation.
    Q("q_suffix_array",
      (s, dir) =>
        graft.operators.SuffixArray
          .suffixRanks(Tables.documents(s, dir), "doc_id", "text")
          .orderBy("gpos"),
      Some(saOracle(20))),

    // ExactSubstr dedup (Lee et al. 2022) at minimum span length L:
    // repeated L-token windows (md5-keyed — 16 bytes/position shuffled
    // instead of ~8·L) mark duplicated positions; per-doc overlapping
    // windows merge into MAXIMAL spans (the union of repeated L-windows
    // equals the union of maximal repeats ≥ L), and the removal metric
    // counts positions covered by any non-first occurrence (all-but-one-
    // copy policy, corpus-first = min (doc_id, pos) per window key).
    Q("q_dedup_substring",
      (s, dir) =>
        graft.operators.SuffixArray
          .substringDedup(Tables.documents(s, dir), "doc_id", "text", SubstrL)
          .orderBy("doc_id"),
      Some(substrOracle(SubstrL))),

    // Sequence-level (exact-substring) CROSS-corpus decontamination —
    // q_decontaminate's verbatim twin (Lee et al. 2022 train/test
    // overlap): eval docs (doc_id % 10 == 5) probe the STAGED distinct
    // L-token window index of the train corpus; overlapping hits merge
    // into maximal leaked spans per eval doc. The train index is the
    // production asset — built once, probed by every eval refresh;
    // never an eval×train product.
    Q("q_decontaminate_substr",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.SuffixArray.crossSubstringLeak(
            docs.filter(pmod(col("doc_id"), lit(10L)) =!= 5L),
            docs.filter(pmod(col("doc_id"), lit(10L)) === 5L),
            "doc_id", "text", CrossSubstrL)
          .orderBy("doc_id")
      },
      Some(crossSubstrOracle(CrossSubstrL))),

    // -- BPE tokenization ----------------------------------------------
    // Sennrich-style byte-pair-encoding merge training over the distinct
    // word table (weighted by corpus counts; argmax pair per round, ties
    // to (lhs, rhs) ascending). The ||-delimiter string representation
    // makes each merge ONE engine-native replace() with classic greedy
    // left-to-right semantics in both engines (Bpe.scala scaladoc); the
    // oracle replays every round as generated (pairs, argmax, replace)
    // CTEs. A round with no pairs left merges nothing on both sides.
    Q("q_bpe_learn",
      (s, dir) => Bpe.learn(Tables.documents(s, dir), "text", BpeMerges)._1,
      Some(bpeChain(BpeMerges) + "\n" +
        "SELECT * FROM (" +
        (1 to BpeMerges).map(k =>
          s"SELECT $k AS step, lhs, rhs, c AS pair_cnt FROM b$k")
          .mkString("", " UNION ALL ", "") +
        ") ORDER BY step")),

    // Encoding with the learned vocabulary: per-doc BPE token counts via
    // a broadcast join of corpus tokens against the final word→symbols
    // table (the vocab is the bounded side by Heaps' law).
    // Training-data mixture sampling (the data-mixing step of an LLM
    // pipeline): per-language quotas by temperature-reweighted size
    // (α = 1/2 — sqrt damping upsamples the tail languages), selection
    // by deterministic hash rank within each language. All integer after
    // the one floor(sqrt·1000): quota = (target · s_l) div Σs, target =
    // half the corpus. The output fingerprints the SELECTED SET (count,
    // id-sum, min/max id), not just the quota arithmetic.
    // Per-SOURCE duplication census — the curation dashboard row that
    // decides which feed gets its crawler fixed: per source, how many
    // docs duplicate ANY corpus doc (cross-source mirrors included) vs
    // duplicate within the source itself, in ppm. One md5 census + a
    // hash-keyed join back; text never shuffles twice.
    Q("q_dup_by_source",
      (s, dir) => {
        val m = Tables.documents(s, dir)
          .select(col("source"), md5(col("text").cast("binary")).as("_h"))
        val global = m.groupBy(col("_h")).agg(count(lit(1)).as("_ng"))
        val bySrc = m.groupBy(col("source"), col("_h"))
          .agg(count(lit(1)).as("_ns"))
        bySrc.join(global, Seq("_h"))
          .groupBy(col("source"))
          .agg(sum(col("_ns")).as("n_docs"),
            sum(when(col("_ng") > 1L, col("_ns")).otherwise(0L)).as("n_dup_any"),
            sum(when(col("_ns") > 1L, col("_ns")).otherwise(0L)).as("n_dup_within"))
          .withColumn("dup_any_ppm",
            expr("CAST(CAST(n_dup_any AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)"))
          .withColumn("dup_within_ppm",
            expr("CAST(CAST(n_dup_within AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)"))
          .orderBy("source")
      },
      Some("""WITH m AS (SELECT source, md5(text) AS h FROM documents),
             |g AS (SELECT h, count(*) AS ng FROM m GROUP BY 1),
             |s AS (SELECT source, h, count(*) AS ns FROM m GROUP BY 1, 2),
             |a AS (SELECT source, CAST(sum(ns) AS BIGINT) AS n_docs,
             |             CAST(sum(CASE WHEN ng > 1 THEN ns ELSE 0 END) AS BIGINT) AS n_dup_any,
             |             CAST(sum(CASE WHEN ns > 1 THEN ns ELSE 0 END) AS BIGINT) AS n_dup_within
             |      FROM s JOIN g USING (h) GROUP BY 1)
             |SELECT source, n_docs, n_dup_any, n_dup_within,
             |       CAST(CAST(n_dup_any AS HUGEINT) * 1000000 // n_docs AS BIGINT) AS dup_any_ppm,
             |       CAST(CAST(n_dup_within AS HUGEINT) * 1000000 // n_docs AS BIGINT) AS dup_within_ppm
             |FROM a ORDER BY source""".stripMargin)),

    // Token-budget mixture draw — the knob a training run actually
    // turns (q_mix_sample's quota counts DOCUMENTS; the model consumes
    // TOKENS): per language, documents in deterministic md5 order while
    // the cumulative token count stays within half the language's
    // total. The selection is the grouped 2-pass pattern (hash-prefix
    // bucket histogram → driver prefix walk → boundary-bucket-only
    // cumsum), provably equal to the naive per-group cumulative window
    // the oracle runs (bucket order IS hash order; SamplingSpec).
    Q("q_token_budget",
      (s, dir) => graft.operators.Sampling.tokenBudgetSample(
          Tables.documents(s, dir)
            .withColumn("_w", size(split(col("text"), " ")).cast("long")),
          col("lang"), "doc_id", col("_w"))
        .withColumnRenamed("g", "lang").orderBy("lang"),
      Some("""WITH d AS (SELECT lang, doc_id,
             |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             |                  md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
             |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |             CAST(sum(w) AS BIGINT) AS total_w,
             |             CAST(sum(w) // 2 AS BIGINT) AS budget_w
             |      FROM d GROUP BY 1),
             |r AS (SELECT lang, doc_id, w,
             |             sum(w) OVER (PARTITION BY lang ORDER BY h, doc_id) AS cum
             |      FROM d),
             |sel AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_selected,
             |               CAST(sum(w) AS BIGINT) AS w_selected,
             |               CAST(sum(doc_id) AS BIGINT) AS sel_id_sum,
             |               min(doc_id) AS sel_id_min, max(doc_id) AS sel_id_max
             |        FROM r JOIN t USING (lang) WHERE cum <= t.budget_w GROUP BY 1)
             |SELECT t.lang, n_docs, total_w, budget_w,
             |       coalesce(n_selected, 0) AS n_selected,
             |       coalesce(w_selected, 0) AS w_selected,
             |       coalesce(sel_id_sum, 0) AS sel_id_sum,
             |       coalesce(sel_id_min, -1) AS sel_id_min,
             |       coalesce(sel_id_max, -1) AS sel_id_max
             |FROM t LEFT JOIN sel USING (lang) ORDER BY lang""".stripMargin)),

    // q_token_budget measured the budget in WHITESPACE words — the
    // proxy every pre-tokenizer census uses; the model's context window
    // consumes TRAINED-TOKENIZER tokens, and fertility differs per
    // language (q_bpe_ratio), so a word-budget draw systematically
    // over-serves high-fertility languages. This closes the loop
    // (VERDICT r14 Next #8): the SAME grouped 2-pass budget selection,
    // weighted by each document's BPE token count under the
    // corpus-learned merges (Bpe.learn staged + Bpe.encode's broadcast
    // vocab join — the trained-tokenizer APPLICATION at corpus scale).
    // Scale shape unchanged: encode is one explode + broadcast join +
    // map-side agg; the selection stays the hash-bucket histogram →
    // driver prefix walk → boundary-bucket-only cumsum pattern.
    Q("q_token_budget_bpe",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val enc = Bpe.encode(docs, "doc_id", "text",
          Bpe.learn(docs, "text", BpeMerges)._2)
        graft.operators.Sampling.tokenBudgetSample(
            docs.select(col("doc_id"), col("lang"))
              .join(enc.select(col("doc_id"), col("n_bpe_tokens")), Seq("doc_id")),
            col("lang"), "doc_id", col("n_bpe_tokens"))
          .withColumnRenamed("g", "lang").orderBy("lang")
      },
      Some(bpeChain(BpeMerges) + s""",
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |vv AS (SELECT word,
        |             CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS nsym
        |      FROM w$BpeMerges),
        |enc AS (SELECT doc_id, CAST(sum(nsym) AS BIGINT) AS n_bpe
        |        FROM tok JOIN vv USING (word) GROUP BY 1),
        |d AS (SELECT dd.lang, dd.doc_id, enc.n_bpe AS w,
        |             md5(CAST(dd.doc_id AS VARCHAR)) AS h
        |      FROM documents dd JOIN enc USING (doc_id)),
        |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(w) AS BIGINT) AS total_w,
        |             CAST(sum(w) // 2 AS BIGINT) AS budget_w
        |      FROM d GROUP BY 1),
        |r AS (SELECT lang, doc_id, w,
        |             sum(w) OVER (PARTITION BY lang ORDER BY h, doc_id) AS cum
        |      FROM d),
        |sel AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_selected,
        |               CAST(sum(w) AS BIGINT) AS w_selected,
        |               CAST(sum(doc_id) AS BIGINT) AS sel_id_sum,
        |               min(doc_id) AS sel_id_min, max(doc_id) AS sel_id_max
        |        FROM r JOIN t USING (lang) WHERE cum <= t.budget_w GROUP BY 1)
        |SELECT t.lang, n_docs, total_w, budget_w,
        |       coalesce(n_selected, 0) AS n_selected,
        |       coalesce(w_selected, 0) AS w_selected,
        |       coalesce(sel_id_sum, 0) AS sel_id_sum,
        |       coalesce(sel_id_min, -1) AS sel_id_min,
        |       coalesce(sel_id_max, -1) AS sel_id_max
        |FROM t LEFT JOIN sel USING (lang) ORDER BY lang""".stripMargin)),

    // DSIR-style targeted selection (Xie et al. 2023): rank the raw pool
    // by hashed-bigram resemblance to a trusted target slice (src1/src2
    // play "Wikipedia"). q_dsir_weight scores per-doc FLUENCY under
    // raw-bigram LMs (unbounded vocabulary — model size tracks the
    // corpus); this is the paper's HASHED variant plus the selection
    // step: the model is a fixed 256-bucket table regardless of corpus
    // size, the property that lets it price 100 TB against a broadcast.
    // Fixed-point substitutions — Laplace-smoothed
    // LINEAR per-bucket likelihood ratio in one DECIMAL(38,0) floor
    // division instead of the paper's log-ratio, deterministic top-k by
    // per-gram mean ratio instead of a Gumbel draw — keep it engine-exact
    // and RNG-free. Text leaves the scan only as (doc, bucket) pairs; the
    // 256-row bucket model broadcasts; top-k is TakeOrderedAndProject.
    Q("q_dsir_select",
      (s, dir) => graft.operators.Sampling.dsirSelect(
        Tables.documents(s, dir), "text", "doc_id",
        col("source").isin("src1", "src2")),
      Some("""WITH d AS (SELECT doc_id, source IN ('src1', 'src2') AS tgt,
             |                  string_split(text, ' ') AS tk FROM documents),
             |g AS (SELECT doc_id, tgt,
             |             unnest([tk[i] || ' ' || tk[i+1]
             |                     for i in range(1, len(tk))]) AS gm
             |      FROM d),
             |bk AS (SELECT doc_id, tgt,
             |              CAST(('0x' || substr(md5(gm), 1, 12)) AS BIGINT) % 256 AS b
             |       FROM g),
             |c AS (SELECT doc_id, tgt, b, count(*) AS c FROM bk GROUP BY 1, 2, 3),
             |bt AS (SELECT b, sum(CASE WHEN tgt THEN c ELSE 0 END) AS tc,
             |              sum(CASE WHEN NOT tgt THEN c ELSE 0 END) AS rc
             |       FROM c GROUP BY 1),
             |tot AS (SELECT sum(tc) AS tt, sum(rc) AS rt FROM bt),
             |r AS (SELECT b, ((tc + 1) * (rt + 256) * 1000000)
             |               // ((rc + 1) * (tt + 256)) AS ratio_ppm
             |      FROM bt, tot),
             |sc AS (SELECT doc_id, sum(c) AS n_grams,
             |              sum(c * ratio_ppm) AS score
             |       FROM c JOIN r USING (b) WHERE NOT tgt GROUP BY 1)
             |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
             |       CAST(score // n_grams AS BIGINT) AS dsir_ppm
             |FROM sc ORDER BY dsir_ppm DESC, doc_id LIMIT 50""".stripMargin)),

    Q("q_mix_sample",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val byLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
          .withColumn("s_mil", floor(sqrt(col("n_docs")) * 1000).cast("long"))
        val tot = byLang.agg(sum(col("s_mil")).as("_stot"),
          (sum(col("n_docs")) / 2).cast("long").as("_target"))
        val quotas = byLang.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"), col("s_mil"),
            expr("(_target * s_mil) div _stot").as("quota"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        val sel = docs
          .withColumn("_rk", row_number().over(w))
          .join(broadcast(quotas), "lang")
          .filter(col("_rk") <= col("quota"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_selected"), sum(col("doc_id")).as("sel_id_sum"),
            min(col("doc_id")).as("sel_id_min"), max(col("doc_id")).as("sel_id_max"))
        quotas.join(sel, Seq("lang"), "left")
          .select(col("lang"), col("n_docs"), col("s_mil"), col("quota"),
            coalesce(col("n_selected"), lit(0L)).as("n_selected"),
            coalesce(col("sel_id_sum"), lit(0L)).as("sel_id_sum"),
            coalesce(col("sel_id_min"), lit(-1L)).as("sel_id_min"),
            coalesce(col("sel_id_max"), lit(-1L)).as("sel_id_max"))
          .orderBy("lang")
      },
      Some("""WITH b AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |                 CAST(floor(sqrt(count(*)) * 1000) AS BIGINT) AS s_mil
             |          FROM documents GROUP BY 1),
             |t AS (SELECT sum(s_mil) AS stot, CAST(sum(n_docs) // 2 AS BIGINT) AS target FROM b),
             |q AS (SELECT lang, n_docs, s_mil,
             |             CAST((t.target * b.s_mil) // t.stot AS BIGINT) AS quota
             |      FROM b CROSS JOIN t),
             |r AS (SELECT lang, doc_id,
             |             row_number() OVER (PARTITION BY lang
             |               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |      FROM documents),
             |sel AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_selected,
             |               CAST(sum(r.doc_id) AS BIGINT) AS sel_id_sum,
             |               min(r.doc_id) AS sel_id_min, max(r.doc_id) AS sel_id_max
             |        FROM r JOIN q USING (lang) WHERE r.rk <= q.quota GROUP BY 1)
             |SELECT q.lang, q.n_docs, q.s_mil, q.quota,
             |       coalesce(sel.n_selected, 0) AS n_selected,
             |       coalesce(sel.sel_id_sum, 0) AS sel_id_sum,
             |       coalesce(sel.sel_id_min, -1) AS sel_id_min,
             |       coalesce(sel.sel_id_max, -1) AS sel_id_max
             |FROM q LEFT JOIN sel USING (lang) ORDER BY lang""".stripMargin)),

    // Tokenizer-efficiency audit: per-language BPE FERTILITY
    // (subword tokens per word, ppm) and tokens-per-kilochar under the
    // corpus-learned merges — the multilingual-fairness metric a
    // tokenizer team tracks (a language with inflated fertility pays
    // more context window per sentence). Reuses the learned-vocab
    // encode; one per-lang rollup on top.
    Q("q_bpe_ratio",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Bpe.encode(docs, "doc_id", "text", Bpe.learn(docs, "text", BpeMerges)._2)
          .join(docs.select(col("doc_id"), col("lang"), col("n_chars")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
            sum(col("n_chars")).as("n_chars"))
          .withColumn("fertility_ppm",
            expr("n_bpe_tokens * 1000000 DIV n_words"))
          .withColumn("tok_per_kchar",
            expr("n_bpe_tokens * 1000 DIV n_chars"))
          .orderBy("lang")
      },
      Some(bpeChain(BpeMerges) + s""",
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |v AS (SELECT word,
        |             CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS nsym
        |      FROM w$BpeMerges),
        |enc AS (SELECT doc_id, count(*) AS n_words, sum(nsym) AS n_bpe
        |        FROM tok JOIN v USING (word) GROUP BY 1),
        |j AS (SELECT d.lang, enc.n_words, enc.n_bpe, d.n_chars
        |      FROM enc JOIN documents d USING (doc_id))
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_words) AS BIGINT) AS n_words,
        |       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |       CAST(sum(n_bpe) * 1000000 // sum(n_words) AS BIGINT) AS fertility_ppm,
        |       CAST(sum(n_bpe) * 1000 // sum(n_chars) AS BIGINT) AS tok_per_kchar
        |FROM j GROUP BY 1 ORDER BY lang""".stripMargin)),

    Q("q_bpe_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Bpe.encode(docs, "doc_id", "text", Bpe.learn(docs, "text", BpeMerges)._2)
          .orderBy("doc_id")
      },
      Some(bpeChain(BpeMerges) + s""",
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |v AS (SELECT word,
        |             CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS nsym
        |      FROM w$BpeMerges)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum(nsym) AS BIGINT) AS n_bpe_tokens
        |FROM tok JOIN v USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Flesch-Kincaid readability per document — the grade-level quality
    // signal curriculum/filtering pipelines bucket corpora by
    // (q_text_stats measures surface ratios; this estimates reading
    // difficulty). Syllables as vowel-group runs, sentences as terminal-
    // punctuation runs (floored at 1), both ratio terms floored to
    // milli-grades so the engines replay bit-identically. Pure
    // projection — zero shuffles beyond the ordered dump.
    Q("q_readability",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .withColumn("n_words", TextAnalysis.tokenCount(TextAnalysis.tokens(col("text"))))
          .withColumn("n_sents", TextAnalysis.sentenceCount(col("text")))
          .withColumn("n_sylls", TextAnalysis.syllableCountish(col("text")))
        d.select(col("doc_id"), col("n_words"), col("n_sents"), col("n_sylls"),
            TextAnalysis.fkGradeMilli(col("n_words"), col("n_sents"), col("n_sylls"))
              .as("fk_milli"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT), 1) AS n_sents,
             |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT) AS n_sylls
             |  FROM documents)
             |SELECT doc_id, n_words, n_sents, n_sylls,
             |       CAST(390 * n_words // n_sents
             |            + 11800 * n_sylls // greatest(n_words, 1)
             |            - 15590 AS BIGINT) AS fk_milli
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Feature-hashing collision census — the audit for hashing-trick
    // featurization (the fixed-width path a 100 TB bag-of-words
    // pipeline takes instead of materializing a vocabulary): per
    // bucket, occupancy, DISTINCT colliding terms, and the dominant
    // term's share. Two map-side-combinable aggregations; md5-prefix
    // bucket is the registry's deterministic-hash idiom.
    Q("q_feature_hash",
      (s, dir) =>
        TextAnalysis.featureHashStats(Tables.documents(s, dir), "text", buckets = 256)
          .orderBy("bucket"),
      Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
             |b AS (SELECT term,
             |             CAST(('0x' || substr(md5(term), 1, 12)) AS BIGINT) % 256 AS bucket
             |      FROM t),
             |pt AS (SELECT bucket, term, CAST(count(*) AS BIGINT) AS n
             |       FROM b GROUP BY 1, 2)
             |SELECT bucket, CAST(sum(n) AS BIGINT) AS n_tok,
             |       CAST(count(*) AS BIGINT) AS n_terms,
             |       CAST(max(n) * 1000000 // sum(n) AS BIGINT) AS top_term_ppm
             |FROM pt GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // RAKE keyphrase extraction (Rose et al. 2010) — multi-word keyword
    // candidates where q_tfidf_topterms scores single tokens: phrases
    // split at stopwords/punctuation-bearing tokens, word score =
    // deg/freq floored ONCE to ppm, phrase score = Σ word scores.
    // Per-doc running-delimiter window (doc-keyed, never global) + two
    // aggregations + a word-stat join; top-30 via TakeOrdered.
    Q("q_rake_phrases",
      (s, dir) =>
        TextAnalysis.rakePhrases(Tables.documents(s, dir), "doc_id", "text", topK = 30),
      Some {
        val stops = TextAnalysis.stopwords.flatMap(_._2)
          .map(w => s"'$w'").mkString(", ")
        s"""WITH tl AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |tk AS (
           |  SELECT doc_id, unnest([{'p': i, 'w': toks[i]}
           |                         for i in range(1, len(toks) + 1)],
           |                        recursive := true) FROM tl),
           |mk AS (SELECT doc_id, p, w,
           |         CASE WHEN w IN ($stops) OR regexp_matches(w, '[^a-z0-9]')
           |              OR w = '' THEN 1 ELSE 0 END AS delim
           |       FROM tk),
           |ph AS (SELECT doc_id, p, w,
           |         sum(delim) OVER (PARTITION BY doc_id ORDER BY p
           |                          ROWS UNBOUNDED PRECEDING) AS phid
           |       FROM mk QUALIFY delim = 0),
           |pw AS (SELECT doc_id, phid, count(*) AS n_words,
           |              string_agg(w, ' ' ORDER BY p) AS phrase
           |       FROM ph GROUP BY 1, 2),
           |ws AS (SELECT ph.w, count(*) AS freq, sum(pw.n_words) AS deg
           |       FROM ph JOIN pw USING (doc_id, phid) GROUP BY 1),
           |sc AS (SELECT pw.doc_id, pw.phid, pw.phrase,
           |              CAST(pw.n_words AS BIGINT) AS n_words,
           |              sum(CAST(ws.deg * 1000000 // ws.freq AS BIGINT)) AS score_ppm
           |       FROM pw JOIN ph USING (doc_id, phid) JOIN ws ON ph.w = ws.w
           |       GROUP BY 1, 2, 3, 4)
           |SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS n_occur,
           |       CAST(max(score_ppm) AS BIGINT) AS score_ppm
           |FROM sc GROUP BY 1, 2
           |ORDER BY score_ppm DESC, phrase LIMIT 30""".stripMargin
      }),

    // WebDataset-style shard packing for multimodal blobs — the
    // archive-build manifest (q_pack_greedy packs token windows for a
    // text trainer; THIS packs opaque blobs into byte-budgeted,
    // record-capped shards for a multimodal loader): per md5-nibble
    // pack group, greedy fold in doc order, <= 4096 content bytes AND
    // <= 8 records per shard, oversized blobs alone in their own shard.
    // Only (doc_id, n_bytes) metadata shuffles; blob content never
    // moves (see Multimodal.packBlobs). The oracle replays the fold as
    // a recursive CTE per group.
    Q("q_blob_pack",
      (s, dir) =>
        graft.operators.Multimodal.packBlobs(
          graft.operators.Multimodal.toBlobTable(
            Tables.documents(s, dir), "doc_id", "text", "text"),
          byteBudget = 4096L, maxPerShard = 8)
          .orderBy("grp", "shard_id", "doc_id"),
      Some("""WITH RECURSIVE m AS (
             |  SELECT doc_id,
             |         CAST(instr('0123456789abcdef',
             |                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) AS grp,
             |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
             |  FROM documents
             |), ordered AS (
             |  SELECT grp, doc_id, n_bytes,
             |         row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
             |  FROM m
             |), pack(grp, rn, doc_id, n_bytes, shard, fill, cnt) AS (
             |  SELECT grp, rn, doc_id, n_bytes, CAST(0 AS BIGINT), n_bytes,
             |         CAST(1 AS BIGINT)
             |  FROM ordered WHERE rn = 1
             |  UNION ALL
             |  SELECT o.grp, o.rn, o.doc_id, o.n_bytes,
             |         CASE WHEN p.fill + o.n_bytes <= 4096 AND p.cnt < 8
             |              THEN p.shard ELSE p.shard + 1 END,
             |         CASE WHEN p.fill + o.n_bytes <= 4096 AND p.cnt < 8
             |              THEN p.fill + o.n_bytes ELSE o.n_bytes END,
             |         CASE WHEN p.fill + o.n_bytes <= 4096 AND p.cnt < 8
             |              THEN p.cnt + 1 ELSE CAST(1 AS BIGINT) END
             |  FROM pack p JOIN ordered o ON o.grp = p.grp AND o.rn = p.rn + 1
             |)
             |SELECT grp, shard AS shard_id, doc_id, n_bytes,
             |       fill - n_bytes AS byte_offset
             |FROM pack ORDER BY grp, shard_id, doc_id""".stripMargin)),

    // Zipf head-coverage curve — the tokenizer-budget planning number
    // ("how much of the corpus do the k most frequent types cover?"):
    // occurrence counts per type, then coverage at k = 10/100/1000 in
    // exact ppm of total occurrences. The head is a TakeOrdered
    // top-1000 (never a global sort); ranks within the 1000-row head
    // ride the broadcast rank self-join (no unpartitioned window);
    // totals broadcast 1-row. One token-explode aggregate is the only
    // data-sized pass.
    Q("q_vocab_coverage",
      (s, dir) => {
        val tf = Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val tot = tf.agg(sum(col("cnt")).as("total_tokens"),
          count(lit(1)).as("n_vocab"))
        def top = tf.orderBy(col("cnt").desc, col("tok")).limit(1000)
        val ranked = top.as("a")
          .join(broadcast(top.as("b")),
            col("b.cnt") > col("a.cnt") ||
              (col("b.cnt") === col("a.cnt") && col("b.tok") < col("a.tok")),
            "left")
          .groupBy(col("a.tok").as("tok"), col("a.cnt").as("cnt"))
          .agg((count(col("b.tok")) + 1L).as("rk"))
        ranked.agg(
            sum(when(col("rk") <= 10, col("cnt")).otherwise(0L)).as("cov10"),
            sum(when(col("rk") <= 100, col("cnt")).otherwise(0L)).as("cov100"),
            sum(when(col("rk") <= 1000, col("cnt")).otherwise(0L)).as("cov1000"))
          .crossJoin(broadcast(tot))
          .select(col("n_vocab"), col("total_tokens"),
            col("cov10"), col("cov100"), col("cov1000"),
            expr("cov10 * 1000000 DIV total_tokens").as("cov10_ppm"),
            expr("cov100 * 1000000 DIV total_tokens").as("cov100_ppm"),
            expr("cov1000 * 1000000 DIV total_tokens").as("cov1000_ppm"))
      },
      Some("""WITH tf AS (SELECT tok, count(*) AS cnt
             |            FROM (SELECT unnest(string_split(text, ' ')) AS tok
             |                  FROM documents)
             |            GROUP BY 1),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
             |               CAST(count(*) AS BIGINT) AS n_vocab
             |        FROM tf),
             |r AS (SELECT tok, cnt,
             |             row_number() OVER (ORDER BY cnt DESC, tok) AS rk
             |      FROM tf),
             |cov AS (SELECT
             |    CAST(sum(CASE WHEN rk <= 10 THEN cnt ELSE 0 END) AS BIGINT) AS cov10,
             |    CAST(sum(CASE WHEN rk <= 100 THEN cnt ELSE 0 END) AS BIGINT) AS cov100,
             |    CAST(sum(CASE WHEN rk <= 1000 THEN cnt ELSE 0 END) AS BIGINT) AS cov1000
             |  FROM r WHERE rk <= 1000)
             |SELECT n_vocab, total_tokens, cov10, cov100, cov1000,
             |       cov10 * 1000000 // total_tokens AS cov10_ppm,
             |       cov100 * 1000000 // total_tokens AS cov100_ppm,
             |       cov1000 * 1000000 // total_tokens AS cov1000_ppm
             |FROM cov CROSS JOIN tot""".stripMargin)),

    // Novelty-decay curve — the ingest-planning view of dedup ("how
    // fast does new data stop being new?"): per ingest decile (doc_id
    // range split off a broadcast min/max), the fraction of docs whose
    // exact text hash already occurred in an EARLIER doc. A corpus
    // whose tail deciles run hot is the signal to move dedup upstream
    // of storage. One md5 group (first-occurrence min) + one join +
    // one 10-row census; text never shuffles (hashes do).
    Q("q_novelty_decay",
      (s, dir) => {
        val m = Tables.documents(s, dir).select(
          col("doc_id").cast("long"),
          md5(col("text").cast("binary")).as("h"))
        val rng = m.agg(min(col("doc_id")).as("_lo"), max(col("doc_id")).as("_hi"))
        val first = m.groupBy(col("h")).agg(min(col("doc_id")).as("_first"))
        m.join(first, Seq("h"))
          .crossJoin(broadcast(rng))
          .withColumn("decile",
            expr("CAST((doc_id - _lo) * 10 DIV (_hi - _lo + 1) AS BIGINT)"))
          .withColumn("_dup", (col("doc_id") > col("_first")).cast("long"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_docs"), sum(col("_dup")).as("n_dup"))
          .withColumn("dup_ppm", expr("n_dup * 1000000 DIV n_docs"))
          .orderBy("decile")
      },
      Some("""WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
             |rng AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM m),
             |f AS (SELECT h, min(doc_id) AS first_id FROM m GROUP BY 1),
             |d AS (SELECT m.doc_id,
             |             CAST((m.doc_id - rng.lo) * 10 // (rng.hi - rng.lo + 1)
             |                  AS BIGINT) AS decile,
             |             CASE WHEN m.doc_id > f.first_id THEN 1 ELSE 0 END AS dup
             |      FROM m JOIN f USING (h) CROSS JOIN rng)
             |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(dup) AS BIGINT) AS n_dup,
             |       CAST(sum(dup) * 1000000 // count(*) AS BIGINT) AS dup_ppm
             |FROM d GROUP BY 1 ORDER BY decile""".stripMargin)),

    // Johnson-Lindenstrauss distortion audit — the go/no-go check
    // before swapping 64-dim distances for an 8-dim sketch: project
    // every mils-quantized vector through a FIXED ±1 sign matrix
    // (md5-derived at class init — one source of truth emits both the
    // engine expressions and the oracle SQL literals, so the two
    // engines multiply identical integers) and report, per probe
    // query, the min/max/mean of 10⁶·‖Δy‖²/(8·‖Δv‖²) over all
    // corpus pairs (expectation 10⁶ under JL). The projection is 8
    // codegen'd 64-term integer sums — no explode, no matrix join;
    // pairs ride the fixed 5-query broadcast (the q_ann_recall shape).
    Q("q_jl_project",
      (s, dir) => {
        // spread before the JL projections (r16, guide §2.5): the
        // embeddings scan is one row group, so the 8 per-row projections
        // and the pairwise distortion pass otherwise run on one core
        val base = Tables.embeddings(s, dir).select(col("vec_id"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
            .as("v"))
          .spreadBy(col("vec_id"))
        val withY = base.select(
          col("vec_id") +: col("v") +: (0 until 8).map(k =>
            expr(jlYEngine("v", k)).as(s"y$k")): _*)
        val qs = withY.filter(col("vec_id") < 5).select(
          col("vec_id").as("q_id") +: col("v").as("qv") +:
            (0 until 8).map(k => col(s"y$k").as(s"qy$k")): _*)
        val p2 = (0 until 8).map(k => s"(qy$k - y$k) * (qy$k - y$k)")
          .mkString(" + ")
        withY.filter(col("vec_id") >= 5).crossJoin(broadcast(qs))
          .withColumn("d2", expr(
            """aggregate(zip_with(qv, v, (a, b) -> (a - b) * (a - b)),
              |          CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin))
          .filter(col("d2") > 0)
          .withColumn("ratio_ppm", expr(s"($p2) * 1000000 DIV (8 * d2)"))
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("ratio_ppm")).as("min_ratio_ppm"),
            max(col("ratio_ppm")).as("max_ratio_ppm"),
            expr("sum(ratio_ppm) DIV count(1)").as("mean_ratio_ppm"))
          .orderBy("q_id")
      },
      Some {
        val d2 = (1 to 64).map(j =>
          s"(b.v[$j] - a.v[$j]) * (b.v[$j] - a.v[$j])").mkString(" + ")
        val p2 = (0 until 8).map(k =>
          s"(b.y$k - a.y$k) * (b.y$k - a.y$k)").mkString(" + ")
        s"""WITH q AS (SELECT vec_id,
           |             list_transform(embedding::DOUBLE[],
           |               x -> CAST(floor(x * 1000) AS BIGINT)) AS v
           |           FROM embeddings),
           |y AS (SELECT vec_id, v,
           |             ${(0 until 8).map(k => jlYSql(k) + s" AS y$k").mkString(",\n             ")}
           |      FROM q),
           |p AS (SELECT b.vec_id AS q_id, a.vec_id AS d_id,
           |             $d2 AS d2,
           |             $p2 AS p2
           |      FROM y a JOIN y b ON a.vec_id >= 5 AND b.vec_id < 5),
           |r AS (SELECT q_id, p2 * 1000000 // (8 * d2) AS ratio_ppm
           |      FROM p WHERE d2 > 0)
           |SELECT q_id, CAST(count(*) AS BIGINT) AS n_pairs,
           |       min(ratio_ppm) AS min_ratio_ppm,
           |       max(ratio_ppm) AS max_ratio_ppm,
           |       CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS mean_ratio_ppm
           |FROM r GROUP BY 1 ORDER BY q_id""".stripMargin
      }),

    // Recall@10 of JL-SKETCH retrieval — q_jl_project says the 8-dim
    // projection preserves distances ON AVERAGE; this says whether the
    // top-10 ORDERING survives (the decision that matters before
    // swapping 64-dim scans for the 8× smaller sketch): exact 64-dim
    // and projected 8-dim L2 are computed in ONE scored pass per
    // (query, doc) pair; both top-10s use the topKExact two-phase
    // shard rank (no per-query global funnel); overlap / 10 in ppm.
    Q("q_ann_recall_jl",
      (s, dir) => {
        // spread before the JL projections (r16, guide §2.5): the
        // embeddings scan is one row group, so the 8 per-row projections
        // and the pairwise distortion pass otherwise run on one core
        val base = Tables.embeddings(s, dir).select(col("vec_id"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
            .as("v"))
          .spreadBy(col("vec_id"))
        val withY = base.select(
          col("vec_id") +: col("v") +: (0 until 8).map(k =>
            expr(jlYEngine("v", k)).as(s"y$k")): _*)
        val qs = withY.filter(col("vec_id") < 5).select(
          col("vec_id").as("q_id") +: col("v").as("qv") +:
            (0 until 8).map(k => col(s"y$k").as(s"qy$k")): _*)
        val p2 = (0 until 8).map(k => s"(qy$k - y$k) * (qy$k - y$k)")
          .mkString(" + ")
        val scored = withY.filter(col("vec_id") >= 5)
          .crossJoin(broadcast(qs))
          .withColumn("d2x", expr(
            """aggregate(zip_with(qv, v, (a, b) -> (a - b) * (a - b)),
              |          CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin))
          .withColumn("d2p", expr(s"$p2"))
          .select(col("q_id"), col("vec_id"), col("d2x"), col("d2p"))
        def top10(dcol: String) = {
          import org.apache.spark.sql.expressions.Window
          val shard = pmod(xxhash64(col("vec_id")), lit(32))
          val w1 = Window.partitionBy(col("q_id"), shard)
            .orderBy(col(dcol).asc, col("vec_id"))
          val w2 = Window.partitionBy(col("q_id"))
            .orderBy(col(dcol).asc, col("vec_id"))
          scored.withColumn("_r", row_number().over(w1)).filter(col("_r") <= 10)
            .withColumn("_rank", row_number().over(w2)).filter(col("_rank") <= 10)
            .select(col("q_id"), col("vec_id"))
        }
        val overlap = top10("d2x").join(top10("d2p"), Seq("q_id", "vec_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
        qs.select(col("q_id")).join(overlap, Seq("q_id"), "left")
          .na.fill(0L, Seq("n_overlap"))
          .withColumn("recall_ppm", expr("n_overlap * 1000000 DIV 10"))
          .orderBy("q_id")
      },
      Some {
        val d2 = (1 to 64).map(j =>
          s"(b.v[$j] - a.v[$j]) * (b.v[$j] - a.v[$j])").mkString(" + ")
        val p2 = (0 until 8).map(k =>
          s"(b.y$k - a.y$k) * (b.y$k - a.y$k)").mkString(" + ")
        s"""WITH q AS (SELECT vec_id,
           |             list_transform(embedding::DOUBLE[],
           |               x -> CAST(floor(x * 1000) AS BIGINT)) AS v
           |           FROM embeddings),
           |y AS (SELECT vec_id, v,
           |             ${(0 until 8).map(k => jlYSql(k) + s" AS y$k").mkString(",\n             ")}
           |      FROM q),
           |p AS (SELECT b.vec_id AS q_id, a.vec_id AS d_id,
           |             $d2 AS d2x,
           |             $p2 AS d2p
           |      FROM y a JOIN y b ON a.vec_id >= 5 AND b.vec_id < 5),
           |ex AS (SELECT q_id, d_id FROM (
           |         SELECT q_id, d_id,
           |                row_number() OVER (PARTITION BY q_id ORDER BY d2x, d_id) AS rk
           |         FROM p) WHERE rk <= 10),
           |pj AS (SELECT q_id, d_id FROM (
           |         SELECT q_id, d_id,
           |                row_number() OVER (PARTITION BY q_id ORDER BY d2p, d_id) AS rk
           |         FROM p) WHERE rk <= 10),
           |ov AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_overlap
           |       FROM ex JOIN pj USING (q_id, d_id) GROUP BY 1)
           |SELECT qq.q_id, coalesce(ov.n_overlap, 0) AS n_overlap,
           |       CAST(coalesce(ov.n_overlap, 0) * 1000000 // 10 AS BIGINT)
           |         AS recall_ppm
           |FROM (SELECT vec_id AS q_id FROM q WHERE vec_id < 5) qq
           |LEFT JOIN ov USING (q_id) ORDER BY q_id""".stripMargin
      })
  )

  // `final` without a type annotation = compile-time constant, so it is
  // inlined at use sites and immune to the object-init-order trap the
  // `all` val otherwise has with later vals (see QuantizedEmbeddings)
  private final val SubstrL = 15
  private final val CrossSubstrL = 5
  private final val BpeMerges = 16

  /** WITH-chain for the BPE oracles: distinct word counts, char-symbol
    * delimiter strings, then per round (p_k pair counts, b_k argmax,
    * w_k merge-applied words). */
  private def bpeChain(nMerges: Int): String = {
    val head =
      """WITH base AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY 1
        |), w0 AS MATERIALIZED (
        |  SELECT word, cnt,
        |         '||' || array_to_string(string_split(word, '') || ['_'], '||') || '||' AS s
        |  FROM base
        |)""".stripMargin
    val steps = (1 to nMerges).flatMap { k =>
      Seq(
        s"""p$k AS (
           |  SELECT lhs, rhs, CAST(sum(cnt) AS BIGINT) AS c
           |  FROM (SELECT arr[i] AS lhs, arr[i+1] AS rhs, cnt
           |        FROM (SELECT cnt, string_split(trim(s, '|'), '||') AS arr FROM w${k - 1}) t
           |        CROSS JOIN LATERAL (SELECT unnest(range(1, len(arr))) AS i) u)
           |  GROUP BY 1, 2)""".stripMargin,
        s"b$k AS (SELECT lhs, rhs, c FROM p$k ORDER BY c DESC, lhs, rhs LIMIT 1)",
        s"""w$k AS MATERIALIZED (
           |  SELECT word, cnt,
           |         CASE WHEN b.lhs IS NULL THEN s
           |              ELSE replace(s, '|' || b.lhs || '||' || b.rhs || '|',
           |                              '|' || b.lhs || b.rhs || '|') END AS s
           |  FROM w${k - 1} LEFT JOIN b$k b ON TRUE)""".stripMargin)
    }
    (head +: steps).mkString(",\n")
  }

  /** WITH-chain for the suffix-array oracle: corpus tokens (per-doc
    * U+0001+doc_id separator, window-sum offsets), rank() by token, then
    * `rounds` prefix-doubling rank() windows over (r, shifted r). */
  private def saOracle(rounds: Int): String = {
    val head =
      """WITH d AS (
        |  SELECT doc_id,
        |         string_split(text, ' ') || [chr(1) || CAST(doc_id AS VARCHAR)] AS toks
        |  FROM documents
        |), off AS (
        |  SELECT doc_id, toks,
        |         sum(len(toks)) OVER (ORDER BY doc_id) - len(toks) AS ofs
        |  FROM d
        |), toks AS MATERIALIZED (
        |  SELECT CAST(ofs + i - 1 AS BIGINT) AS gpos, doc_id,
        |         CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
        |  FROM off CROSS JOIN LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u
        |), r0 AS MATERIALIZED (
        |  SELECT gpos, doc_id, pos,
        |         CAST(rank() OVER (ORDER BY tok) AS BIGINT) AS r
        |  FROM toks
        |)""".stripMargin
    val steps = (0 until rounds).map { k =>
      s"""r${k + 1} AS MATERIALIZED (
         |  SELECT a.gpos, a.doc_id, a.pos,
         |         CAST(rank() OVER (ORDER BY a.r, coalesce(b.r, -1)) AS BIGINT) AS r
         |  FROM r$k a LEFT JOIN r$k b ON b.gpos = a.gpos + ${1L << k})""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT gpos, doc_id, pos, r AS sa_rank FROM r$rounds ORDER BY gpos"
  }

  /** ExactSubstr oracle: repeated L-windows → per-doc maximal-span merge
    * (gaps-and-islands on window starts, new island iff pos > prev + L)
    * for both the any-duplicate and the removable (non-first-occurrence)
    * coverage. */
  /** Oracle for q_decontaminate_substr: train-window distinct index,
    * eval-window IN-probe, then the same island merge as
    * [[substrOracle]] restricted to the eval split. */
  private def crossSubstrOracle(l: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |w AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |         md5(array_to_string(toks[i:i+${l - 1}], ' ')) AS h
       |  FROM t CROSS JOIN LATERAL (SELECT unnest(range(1, len(toks) - ${l - 1} + 1)) AS i) u
       |  WHERE len(toks) >= $l
       |), tr AS (SELECT DISTINCT h FROM w WHERE doc_id % 10 <> 5),
       |hv AS (SELECT doc_id, pos FROM w
       |       WHERE doc_id % 10 = 5 AND h IN (SELECT h FROM tr)),
       |isl AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $l
       |              THEN 1 ELSE 0 END AS ni
       |  FROM hv
       |), isl2 AS (
       |  SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_leak_spans, sum(span_tok) AS n_leak_tokens
       |  FROM (SELECT doc_id, island, max(pos) + $l - min(pos) AS span_tok
       |        FROM isl2 GROUP BY 1, 2) GROUP BY 1
       |)
       |SELECT d.doc_id,
       |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |       CAST(coalesce(a.n_leak_spans, 0) AS BIGINT) AS n_leak_spans,
       |       CAST(coalesce(a.n_leak_tokens, 0) AS BIGINT) AS n_leak_tokens,
       |       CASE WHEN len(string_split(d.text, ' ')) > 0
       |            THEN CAST(CAST(coalesce(a.n_leak_tokens, 0) AS HUGEINT) * 1000000
       |                      // len(string_split(d.text, ' ')) AS BIGINT)
       |            ELSE 0 END AS leak_ppm
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |WHERE d.doc_id % 10 = 5 ORDER BY d.doc_id""".stripMargin

  private def substrOracle(l: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |w AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |         md5(array_to_string(toks[i:i+${l - 1}], ' ')) AS h
       |  FROM t CROSS JOIN LATERAL (SELECT unnest(range(1, len(toks) - ${l - 1} + 1)) AS i) u
       |  WHERE len(toks) >= $l
       |), occ AS (
       |  SELECT doc_id, pos,
       |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
       |         count(*) OVER (PARTITION BY h) AS n
       |  FROM w
       |), dup AS (SELECT doc_id, pos, rn > 1 AS removable FROM occ WHERE n >= 2),
       |isl AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $l
       |              THEN 1 ELSE 0 END AS ni
       |  FROM dup
       |), isl2 AS (
       |  SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_dup_spans, sum(span_tok) AS n_dup_tokens
       |  FROM (SELECT doc_id, island, max(pos) + $l - min(pos) AS span_tok
       |        FROM isl2 GROUP BY 1, 2) GROUP BY 1
       |), risl AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $l
       |              THEN 1 ELSE 0 END AS ni
       |  FROM dup WHERE removable
       |), risl2 AS (
       |  SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM risl
       |), ragg AS (
       |  SELECT doc_id, sum(span_tok) AS n_removed_tokens
       |  FROM (SELECT doc_id, island, max(pos) + $l - min(pos) AS span_tok
       |        FROM risl2 GROUP BY 1, 2) GROUP BY 1
       |)
       |SELECT d.doc_id,
       |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |       CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       |       CAST(coalesce(a.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       |       CAST(coalesce(r.n_removed_tokens, 0) AS BIGINT) AS n_removed_tokens
       |FROM documents d LEFT JOIN agg a USING (doc_id) LEFT JOIN ragg r USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB CTE chain replaying the Lloyd loop verbatim under a name
    * prefix `p`: `<p>q` = the quantized source (from `qDef`), `<p>c0` =
    * k-lowest-id seed, then per iteration an assignment (`<p>a<t>`: min
    * (dist, c) by row_number), a per-dim floor-mean (`<p>u<t>`), and the
    * centroid update with empty-cluster carry-over (`<p>c<t>`); `<p>af`
    * = the final assignment with its exact int64 squared distance. The
    * prefix lets product quantization emit eight independent sub-space
    * chains into one WITH clause. */
  private def kmeansChain(p: String, qDef: String, k: Int, iters: Int, dims: Int): Seq[String] = {
    def assign(name: String, prev: String, withDist: Boolean): String = {
      val dist =
        s"list_sum([ (${p}q.v[i]-cc.v[i])*(${p}q.v[i]-cc.v[i]) for i in range(1, ${dims + 1}) ])"
      val dcol = if (withDist) s",\n           CAST($dist AS BIGINT) AS dist" else ""
      val outd = if (withDist) ", dist" else ""
      s"""$name AS (
         |  SELECT vec_id, v, c$outd FROM (
         |    SELECT ${p}q.vec_id, ${p}q.v, cc.c$dcol,
         |           row_number() OVER (PARTITION BY ${p}q.vec_id ORDER BY $dist, cc.c) AS rn
         |    FROM ${p}q, $prev cc) WHERE rn = 1)""".stripMargin
    }
    val head = Seq(
      s"${p}q AS ($qDef)",
      s"""${p}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c, v
         |       FROM (SELECT vec_id, v FROM ${p}q ORDER BY vec_id LIMIT $k))""".stripMargin)
    val steps = (1 to iters).flatMap { t =>
      Seq(
        assign(s"${p}a$t", s"${p}c${t - 1}", withDist = false),
        s"""${p}u$t AS (
           |  SELECT c, CAST(dd.i AS INT) AS dim,
           |         CAST(floor(sum(v[CAST(dd.i AS INT)])/count(*)) AS BIGINT) AS cv
           |  FROM ${p}a$t, LATERAL unnest(range(1, ${dims + 1})) AS dd(i)
           |  GROUP BY c, dd.i)""".stripMargin,
        s"""${p}c$t AS (
           |  SELECT pp.c,
           |         CASE WHEN count(u.cv) = $dims THEN list(u.cv ORDER BY u.dim)
           |              ELSE any_value(pp.v) END AS v
           |  FROM ${p}c${t - 1} pp LEFT JOIN ${p}u$t u USING (c) GROUP BY pp.c)""".stripMargin)
    }
    head ++ steps :+ assign(s"${p}af", s"${p}c$iters", withDist = true)
  }

  // def, not val: `all` initializes before later vals in this object
  // (a val here would still be null inside pqChains at that point)
  private def QuantizedEmbeddings: String =
    "SELECT vec_id, list_transform(embedding::DOUBLE[], x -> CAST(floor(x*1000) AS BIGINT)) AS v FROM embeddings"

  private def kmeansOracle(k: Int, iters: Int, dims: Int): String =
    "WITH " + kmeansChain("", QuantizedEmbeddings, k, iters, dims).mkString(",\n")

  /** The eight sub-space Lloyd chains + the encode join for PQ oracles
    * (one WITH clause ending with `enc` = per-vector sub-space codes). */
  private def pqChains(subspaces: Int, d: Int, k: Int, iters: Int): String = {
    val chains = (0 until subspaces).flatMap { s =>
      kmeansChain(s"s${s}_", s"SELECT vec_id, v[${s * d + 1}:${(s + 1) * d}] AS v FROM qb",
        k, iters, d)
    }
    val joins = (1 until subspaces).map(s => s"JOIN s${s}_af s$s USING (vec_id)").mkString(" ")
    val ecols = (0 until subspaces).map(s => s"s$s.c AS c$s, s$s.dist AS d$s").mkString(", ")
    ("WITH " + (s"qb AS ($QuantizedEmbeddings)" +: chains).mkString(",\n")) +
      s",\nenc AS (SELECT s0.vec_id, $ecols FROM s0_af s0 $joins)"
  }
}
