package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.QueryDef.sql
import graft.core.Tables
import graft.functions.cosine_similarity

/** Vector / similarity-search surface over the `embeddings` table
  * (SURVEY §2.9 ops 17, 31, 38, 61 + the generalized ANN requirements).
  *
  * Cosine similarity is the engine's codegen'd `CosineSimilarity` Catalyst
  * expression; DuckDB's `list_cosine_similarity` over DOUBLE[] accumulates
  * in the same element order, so values agree before the 6-decimal rounding.
  *
  * Similarities are rounded BEFORE ranking on both sides — ranking raw
  * doubles across two engines risks rank flips from last-bit differences.
  */
object VectorQueries {

  def all: Seq[QueryDef] = Seq(
    q30Top1Similar, q31NearDupBucketed, q32KnnBruteForce, q33Centroids,
    q34LshTopK, q35IvfTopK, q36IvfIndexTopK, q88HofDot, q94IvfExactServe,
    q106IvfUpsertServe, q128PqAdcServe, q132IvfAdcServe, q147RetrievalChunks,
    q154KmeansTrain, q163ContrastivePairs, q181Sq8Serve, q202KCenterSeeds,
    q212MmrDiversify, q233IvfIdempotentUpsert)

  /** One MMR greedy round for the q212 oracle: remaining candidates score
    * `λ·simq − (1−λ)·max sim to the selected set`, argmax with id
    * tie-break joins the selection. */
  private def mmrIterSql(i: Int): String =
    s"""ms$i AS (
       |  SELECT c.qid, c.id, c.simq, max(cp.sim_ppb) AS msim
       |  FROM cand c
       |  JOIN cp ON cp.qid = c.qid AND cp.id_a = c.id
       |  JOIN sel${i - 1} s ON s.qid = cp.qid AND s.id = cp.id_b
       |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} z
       |                    WHERE z.qid = c.qid AND z.id = c.id)
       |  GROUP BY c.qid, c.id, c.simq),
       |pick$i AS (
       |  SELECT qid, $i AS sel_round, id,
       |         CAST(700000 * simq - 300000 * msim AS BIGINT) AS mmr_score
       |  FROM (
       |    SELECT qid, id, simq, msim,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY 700000 * simq - 300000 * msim DESC, id) AS rn
       |    FROM ms$i) WHERE rn = 1),
       |sel$i AS (SELECT qid, sel_round, id, mmr_score FROM sel${i - 1}
       |          UNION ALL
       |          SELECT qid, sel_round, id, mmr_score FROM pick$i)""".stripMargin

  /** MMR diversified re-ranking — `similarity.Mmr.select` (Carbonell &
    * Goldstein 1998, λ = 0.7) over the q32 brute retriever's top-8: the
    * serving stage that trades raw relevance for coverage, so three
    * near-identical top hits collapse to one plus genuinely different
    * results. Similarities on the q163 `round(cos·10^9)` ppb grid, λ in
    * ppm — every greedy argmax orders integers with an id tie-break, and
    * the oracle unrolls all 5 rounds (anti-join, max-sim-to-selected,
    * window argmax) as a CTE chain, q204-style. */
  val q212MmrDiversify: QueryDef = sql(
    "q212_mmr_diversify",
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |q AS (SELECT id AS qid, v AS qv FROM e WHERE id < 3),
       |sc AS (
       |  SELECT q.qid, e.id,
       |         CAST(round(list_cosine_similarity(q.qv, e.v) * 1000000000)
       |              AS BIGINT) AS simq
       |  FROM q JOIN e ON e.id <> q.qid),
       |cand AS (SELECT qid, id, simq FROM (
       |           SELECT qid, id, simq,
       |                  row_number() OVER (PARTITION BY qid
       |                                     ORDER BY simq DESC, id) AS rn
       |           FROM sc) WHERE rn <= 8),
       |cp AS (
       |  SELECT x.qid, x.id AS id_a, y.id AS id_b,
       |         CAST(round(list_cosine_similarity(ex.v, ey.v) * 1000000000)
       |              AS BIGINT) AS sim_ppb
       |  FROM cand x JOIN cand y ON x.qid = y.qid AND x.id <> y.id
       |  JOIN e ex ON ex.id = x.id JOIN e ey ON ey.id = y.id),
       |sel1 AS (
       |  SELECT qid, 1 AS sel_round, id,
       |         CAST(700000 * simq AS BIGINT) AS mmr_score
       |  FROM (
       |    SELECT qid, id, simq,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY simq DESC, id) AS rn
       |    FROM cand) WHERE rn = 1),
       |${(2 to 5).map(mmrIterSql).mkString(",\n")}
       |SELECT qid, sel_round, id, mmr_score FROM sel5
       |ORDER BY qid, sel_round""".stripMargin) { (s, d) =>
    val e = emb(s, d).select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("v"))
    val probes = e.filter(col("id") < 3)
      .select(col("id").as("qid"), col("v").as("qv"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("simq_ppb").desc, col("id"))
    val cands = broadcast(probes).join(e, col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        graft.functions.fixed_point(
          cosine_similarity(col("qv"), col("v")), 1e9).as("simq_ppb"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 8)
      .select(col("qid"), col("id"), col("simq_ppb"))
    val cv = cands.join(e, "id").select(col("qid"), col("id"), col("v"))
    val pairSims = cv.select(col("qid"), col("id").as("id_a"), col("v").as("va"))
      .join(cv.select(col("qid"), col("id").as("id_b"), col("v").as("vb")),
        "qid")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("qid"), col("id_a"), col("id_b"),
        graft.functions.fixed_point(
          cosine_similarity(col("va"), col("vb")), 1e9).as("sim_ppb"))
    graft.similarity.Mmr.select(cands, pairSims, k = 5, lambdaPpm = 700000L)
      .orderBy(col("qid"), col("sel_round"))
  }

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("label"), col("embedding"))

  /** Reference graph op (assets/recent_history.py:450-527): for every vector,
    * its most-similar *later* vector (vec_id ordering stands in for the
    * temporal ordering) with edge weight 1 − similarity.
    *
    * Scale note: the all-pairs form is O(n²) — correct at oracle scale; the
    * 100 TB path is q31's bucketed variant (LSH/IVF prune) with identical
    * ranking semantics. */
  val q30Top1Similar: QueryDef = sql(
    "q30_top1_similar",
    """WITH pairs AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                      CAST(b.embedding AS DOUBLE[])), 6) AS sim
      |  FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id),
      |ranked AS (
      |  SELECT src, dst, sim,
      |         row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rn
      |  FROM pairs)
      |SELECT src, dst, sim, round(1 - sim, 6) AS weight
      |FROM ranked WHERE rn = 1
      |ORDER BY src""".stripMargin) { (s, d) =>
    // block nested loop over a broadcast embedding matrix (exact rank-1
    // semantics and bit-identical arithmetic — see Knn.top1Later): no O(n²)
    // pair-row materialization, no shuffle of pairs at all.
    graft.similarity.Knn.top1Later(emb(s, d), "vec_id", "embedding")
      .select(col("src"), col("dst"), col("sim"),
        oround(lit(1) - col("sim"), 6).as("weight"))
      .orderBy(col("src"))
  }

  /** Embedding near-duplicate detection, bucketed by `label` (the IVF-style
    * scale path: candidate pairs only within a coarse bucket — here the
    * provided cluster label; at 100 TB the bucket is an LSH band or IVF
    * centroid assignment, turning O(n²) into Σ O(bucket²)). */
  val q31NearDupBucketed: QueryDef = sql(
    "q31_neardup_bucketed",
    """SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(b.embedding AS DOUBLE[])), 6) AS sim
      |FROM embeddings a JOIN embeddings b
      |  ON a.label = b.label AND b.vec_id > a.vec_id
      |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
      |ORDER BY label, id_a, id_b""".stripMargin) { (s, d) =>
    val a = emb(s, d).select(col("label"), col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = emb(s, d).select(col("label").as("lb"), col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.join(b, col("label") === col("lb") && col("id_b") > col("id_a"))
      .select(col("label"), col("id_a"), col("id_b"),
        oround(cosine_similarity(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") >= 0.3)
      .orderBy(col("label"), col("id_a"), col("id_b"))
  }

  /** Brute-force top-k cosine ANN baseline: 5 probe vectors × full scan.
    * Scale: probe side is broadcast; the scan side streams — no shuffle of
    * the big table; k is kept per-partition then merged by the window. */
  val q32KnnBruteForce: QueryDef = sql(
    "q32_knn_bruteforce",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, e.vec_id AS nn,
      |         round(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 6) AS sim
      |  FROM q CROSS JOIN embeddings e
      |  WHERE e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, nn, sim,
      |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nn) AS rank
      |  FROM scored)
      |SELECT qid, rank, nn, sim FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val q = emb(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qe"))
    val e = emb(s, d).select(col("vec_id").as("nn"), col("embedding").cast("array<double>").as("ne"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nn"))
    broadcast(q).join(e, col("nn") =!= col("qid"))
      .select(col("qid"), col("nn"), oround(cosine_similarity(col("qe"), col("ne")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("nn"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Per-label centroids via posexplode — the k-means/IVF assignment step's
    * aggregation half (SURVEY §2.9 clustering surface). Long-format output
    * (label, dim index, mean) keeps it engine-agnostic.
    * Scale: partial aggregation per partition → shuffle is |labels|×dims. */
  val q33Centroids: QueryDef = sql(
    "q33_centroids",
    """SELECT label, CAST(i AS BIGINT) AS dim,
      |       round(avg(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)), 6) AS centroid,
      |       count(*) AS n
      |FROM embeddings CROSS JOIN range(64) t(i)
      |GROUP BY label, i
      |ORDER BY label, dim""".stripMargin) { (s, d) =>
    emb(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(oround(avg(col("x").cast("double")), 6).as("centroid"), count(lit(1)).as("n"))
      .select(col("label"), col("i").cast("long").as("dim"), col("centroid"), col("n"))
      .orderBy(col("label"), col("dim"))
  }

  /** k-means TRAINING oracle-checked exactly (the q153 integer-training
    * pattern applied to clustering — the trainable core under the IVF/PQ
    * index builds, whose float k-means can only oracle-check its serve
    * side): 2 Lloyd iterations over 1e-6-grid quantized vectors, integer
    * squared-L2 assignment with id tiebreak, truncating-division centroid
    * update (DuckDB's flooring `//` wrapped for negative sums to match
    * Spark's truncate-toward-zero `div`), seeds = the k smallest vec_ids.
    * Both iterations unroll as CTE chains; output is the final centroid
    * table in long format. */
  val q154KmeansTrain: QueryDef = {
    def sdiv(a: String, b: String): String = graft.queries.sqlDivT(a, b)
    def iter(i: Int, prev: String): String =
      s"""a$i AS (
         |  SELECT q.vid, c.k, sum((q.x - c.c) * (q.x - c.c)) AS d
         |  FROM qx q JOIN $prev c USING (j) GROUP BY q.vid, c.k),
         |b$i AS (
         |  SELECT vid, k FROM (
         |    SELECT vid, k, row_number() OVER (PARTITION BY vid
         |                                      ORDER BY d, k) AS rn
         |    FROM a$i) WHERE rn = 1),
         |s$i AS (
         |  SELECT b.k, q.j, CAST(sum(q.x) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM qx q JOIN b$i b USING (vid) GROUP BY b.k, q.j),
         |c$i AS (
         |  SELECT c.k, c.j,
         |         CAST(COALESCE(${sdiv("s.s", "s.n")}, c.c) AS BIGINT) AS c
         |  FROM $prev c LEFT JOIN s$i s USING (k, j))""".stripMargin
    sql(
      "q154_kmeans_train",
      s"""WITH qx AS (
         |  SELECT vid, CAST(i - 1 AS BIGINT) AS j,
         |         CAST(round(e * 1000000) AS BIGINT) AS x
         |  FROM (SELECT vec_id AS vid,
         |               unnest(CAST(embedding AS DOUBLE[])) AS e,
         |               generate_subscripts(embedding, 1) AS i
         |        FROM embeddings)),
         |seeds AS (
         |  SELECT vid, rn - 1 AS k FROM (
         |    SELECT vid, row_number() OVER (ORDER BY vid) AS rn
         |    FROM (SELECT DISTINCT vid FROM qx)) WHERE rn <= 4),
         |c0 AS (SELECT s.k, q.j, q.x AS c FROM qx q JOIN seeds s USING (vid)),
         |${iter(1, "c0")},
         |${iter(2, "c1")}
         |SELECT k, j, c AS c_ppm FROM c2 ORDER BY k, j""".stripMargin) { (s, d) =>
      graft.cluster.KmeansPpm.train(emb(s, d), "vec_id", "embedding",
          k = 4, iters = 2)
        .select(col("k"), col("j"), col("c").as("c_ppm"))
        .orderBy(col("k"), col("j"))
    }
  }

  /** Farthest-point k-center seeding oracle-checked exactly
    * (`cluster.KCenter.farthestPoints` — Gonzalez's deterministic
    * 2-approximation, the reproducible alternative to k-means++ draws
    * and the seeding stage under IVF/PQ builds): anchor = smallest id,
    * then 3 argmax-of-min-integer-d² rounds with id tie-break, plus the
    * final coverage radius. The oracle unrolls every round as a CTE
    * chain over the same 1e-6-grid quantized vectors (the q154
    * discipline); selection ranks, selection distances, and the radius
    * all hash-pin the traversal. */
  val q202KCenterSeeds: QueryDef = {
    def dist(tag: String, centerSel: String): String =
      s"c$tag AS (SELECT q.j, q.x AS cx FROM qx q JOIN $centerSel USING (vid)), " +
        s"d$tag AS (SELECT q.vid, CAST(sum((q.x - c.cx) * (q.x - c.cx)) AS BIGINT) AS d FROM qx q JOIN c$tag c USING (j) GROUP BY q.vid)"
    sql(
      "q202_kcenter_seeds",
      s"""WITH qx AS (
         |  SELECT vid, CAST(i - 1 AS BIGINT) AS j,
         |         CAST(round(e * 1000000) AS BIGINT) AS x
         |  FROM (SELECT vec_id AS vid,
         |               unnest(CAST(embedding AS DOUBLE[]) ) AS e,
         |               generate_subscripts(embedding, 1) AS i
         |        FROM embeddings)),
         |s0 AS (SELECT min(vid) AS vid FROM qx),
         |${dist("0", "s0")},
         |m0 AS (SELECT vid, d AS md FROM d0),
         |s1 AS (SELECT vid, md FROM m0 ORDER BY md DESC, vid LIMIT 1),
         |${dist("1", "s1")},
         |m1 AS (SELECT m.vid, CASE WHEN d.d < m.md THEN d.d ELSE m.md END AS md
         |       FROM m0 m JOIN d1 d USING (vid)),
         |s2 AS (SELECT vid, md FROM m1 ORDER BY md DESC, vid LIMIT 1),
         |${dist("2", "s2")},
         |m2 AS (SELECT m.vid, CASE WHEN d.d < m.md THEN d.d ELSE m.md END AS md
         |       FROM m1 m JOIN d2 d USING (vid)),
         |s3 AS (SELECT vid, md FROM m2 ORDER BY md DESC, vid LIMIT 1),
         |${dist("3", "s3")},
         |m3 AS (SELECT m.vid, CASE WHEN d.d < m.md THEN d.d ELSE m.md END AS md
         |       FROM m2 m JOIN d3 d USING (vid)),
         |rad AS (SELECT CAST(max(md) AS BIGINT) AS r FROM m3),
         |sel AS (
         |  SELECT 0 AS center_no, vid, CAST(0 AS BIGINT) AS sel_d2 FROM s0
         |  UNION ALL SELECT 1, vid, md FROM s1
         |  UNION ALL SELECT 2, vid, md FROM s2
         |  UNION ALL SELECT 3, vid, md FROM s3)
         |SELECT CAST(center_no AS BIGINT) AS center_no,
         |       CAST(vid AS BIGINT) AS vec_id, sel_d2, rad.r AS radius_d2
         |FROM sel, rad ORDER BY center_no""".stripMargin) { (s, d) =>
      graft.cluster.KCenter.farthestPoints(emb(s, d), "vec_id", "embedding",
        k = 4)
    }
  }

  /** Contrastive training-pair mining (`similarity.Contrastive` — the
    * SimCLR/sentence-transformers data-prep stage), oracle-checked end to
    * end: per anchor ONE hard positive (argmax same-label cosine, sim_ppb
    * integer rank, smallest-id tiebreak — q52's float policy) and up to 3
    * deterministic md5-drawn other-label negatives (first valid of 10
    * attempts over a dense row index), every pair re-scored with the exact
    * cosine. DuckDB re-derives the draws, the index, the validity
    * filtering, the attempt ranking, and both score columns — a drift in
    * any of them (or in the draw seed) flips the hash. */
  val q163ContrastivePairs: QueryDef = sql(
    "q163_contrastive_pairs",
    """WITH e AS (
      |  SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      |idx AS (
      |  SELECT id, label, v,
      |         row_number() OVER (ORDER BY id) - 1 AS ridx
      |  FROM e),
      |pos AS (
      |  SELECT a.id AS anchor_id, b.id AS partner_id,
      |         CAST(round(list_cosine_similarity(a.v, b.v) * 1000000000)
      |              AS BIGINT) AS sim_ppb,
      |         row_number() OVER (PARTITION BY a.id
      |           ORDER BY CAST(round(list_cosine_similarity(a.v, b.v)
      |                               * 1000000000) AS BIGINT) DESC, b.id) AS rn
      |  FROM e a JOIN e b ON a.label = b.label AND a.id <> b.id),
      |drawn AS (
      |  SELECT a.id AS anchor_id, a.label AS a_label, a.v AS va, t.j AS j,
      |         ('0x' || substr(md5(CAST(a.id AS VARCHAR) || '|negs-v1|'
      |                             || CAST(t.j AS VARCHAR)), 1, 12))::BIGINT
      |           % tot.n AS ridx
      |  FROM e a CROSS JOIN range(10) t(j) CROSS JOIN tot),
      |hits AS (
      |  SELECT d.anchor_id, d.j, d.va, i.id AS partner_id, i.v AS vb,
      |         min(d.j) OVER (PARTITION BY d.anchor_id, i.id) AS jmin
      |  FROM drawn d JOIN idx i USING (ridx)
      |  WHERE i.label <> d.a_label AND i.id <> d.anchor_id),
      |valid AS (
      |  SELECT anchor_id, j, va, partner_id, vb,
      |         row_number() OVER (PARTITION BY anchor_id ORDER BY j) AS rk
      |  FROM hits WHERE j = jmin)
      |SELECT anchor_id, 'pos' AS role, partner_id, sim_ppb
      |FROM pos WHERE rn = 1
      |UNION ALL
      |SELECT anchor_id, 'neg_' || CAST(rk AS VARCHAR) AS role, partner_id,
      |       CAST(round(list_cosine_similarity(va, vb) * 1000000000)
      |            AS BIGINT) AS sim_ppb
      |FROM valid WHERE rk <= 3
      |ORDER BY anchor_id, role""".stripMargin) { (s, d) =>
    graft.similarity.Contrastive.pairs(emb(s, d), "vec_id", "embedding",
        "label", k = 3, attempts = 10, seed = "negs-v1")
      .orderBy(col("anchor_id"), col("role"))
  }

  /** Shared oracle SQL for the scratch-candidate ANN queries: DuckDB
    * re-joins the engine-pinned candidate pairs to their vectors, re-scores
    * the exact cosine, and re-ranks — value-checking the whole scoring/
    * ranking half of the operator (the bucketing half is engine-pinned by
    * construction; its recall is spec-asserted against the q32 exact
    * baseline in KnnSpec). */
  private def candidateRerankSql(scratchDir: => String): String =
    s"""WITH c AS (SELECT qid, nn FROM read_parquet('$scratchDir/*.parquet')),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |scored AS (
       |  SELECT c.qid, c.nn, round(list_cosine_similarity(a.v, b.v), 6) AS sim
       |  FROM c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.nn),
       |ranked AS (
       |  SELECT qid, nn, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nn) AS rank
       |  FROM scored)
       |SELECT qid, rank, nn, sim FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** Random-hyperplane LSH top-k — the ANN scale path. UPGRADED from
    * rows-only in round 8 via the q56 scratch-table mechanism: the
    * engine-pinned bucket candidates go to parquet, and DuckDB replays the
    * ENTIRE exact-cosine scoring + ranking from them — so the operator's
    * verification half is hash-checked, with ranking on the 6-decimal
    * rounded similarity on both sides (the q94 determinism contract).
    * Candidate recall vs the q32 exact baseline stays spec-asserted. */
  val q34LshTopK: QueryDef = {
    def p = graft.core.Scratch.lastDir("q34_lsh_topk")
    sql("q34_lsh_topk", candidateRerankSql(p)) { (s, d) =>
      import graft.similarity.Knn
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 5)
      val path = graft.core.Scratch.dir("q34_lsh_topk", d)
      Knn.lshCandidates(e, q, "vec_id", "embedding", dim = 64)
        .write.mode("overwrite").parquet(path)
      Knn.exactRerank(s.read.parquet(path), e, "vec_id", "embedding",
          k = 10, decimals = 6)
        .select(col("qid"), col("rank"), col("nn"), col("sim"))
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** IVF top-k probing 3 of the per-label centroids — UPGRADED from
    * rows-only in round 8, same scratch mechanism as q34: probed-partition
    * candidates to parquet, DuckDB replays scoring + ranking. Centroids
    * come from the q33 aggregation shape. */
  val q35IvfTopK: QueryDef = {
    def p = graft.core.Scratch.lastDir("q35_ivf_topk")
    sql("q35_ivf_topk", candidateRerankSql(p)) { (s, d) =>
      import graft.similarity.Knn
      val e = emb(s, d)
      // centroids via the VectorMean aggregate — map-side buffers, no 64×
      // posexplode shuffle blowup (equality with the explode form is pinned
      // in FunctionsSpec)
      val cents = e.groupBy(col("label"))
        .agg(graft.functions.vector_mean(col("embedding")).as("cd"))
        .select(col("label"), col("cd").cast("array<float>").as("cvec"))
      val q = e.filter(col("vec_id") < 5)
      val path = graft.core.Scratch.dir("q35_ivf_topk", d)
      Knn.ivfCandidates(e, q, "vec_id", "embedding", cents, "label", "cvec", nprobe = 3)
        .write.mode("overwrite").parquet(path)
      Knn.exactRerank(s.read.parquet(path), e, "vec_id", "embedding",
          k = 10, decimals = 6)
        .select(col("qid"), col("rank"), col("nn"), col("sim"))
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** ANN served from a PERSISTED IVF index: build once — seeded k-means,
    * assignments written partitioned by centroid — then each query is a
    * probe-pruned scan, the engine's standing-index analogue of the
    * reference's pgvector table. UPGRADED from rows-only in round 8 via
    * the q34/q35 scratch mechanism: the probed-partition candidates go to
    * parquet, DuckDB replays the exact scoring + ranking. The pruned-scan
    * physical shape and topK ≡ candidates+rerank stay pinned in KnnSpec. */
  val q36IvfIndexTopK: QueryDef = {
    def p = graft.core.Scratch.lastDir("q36_ivf_index_topk")
    sql("q36_ivf_index_topk", candidateRerankSql(p)) { (s, d) =>
      import graft.sources.IvfIndex
      val path = java.nio.file.Files.createTempDirectory("ivfidx_q36").toString + "/idx"
      val idx = IvfIndex.build(emb(s, d), path, "vec_id", "embedding",
        nCentroids = 8, iters = 2)
      val q = emb(s, d).filter(col("vec_id") < 5)
      val scratch = graft.core.Scratch.dir("q36_ivf_index_topk", d)
      idx.candidates(q, "vec_id", "embedding", nprobe = 3)
        .write.mode("overwrite").parquet(scratch)
      graft.similarity.Knn.exactRerank(s.read.parquet(scratch), emb(s, d),
          "vec_id", "embedding", k = 10, decimals = 6)
        .select(col("qid"), col("rank"), col("nn"), col("sim"))
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** The persisted-index serve path, oracle-checked via the exact-degenerate
    * case: with `nprobe` ≥ the centroid count every assignment partition is
    * probed, so candidates = the whole corpus and IVF top-k provably equals
    * brute force — which DuckDB replays directly (same oracle shape as q32).
    * This value-checks the index's full read path (centroid probe → static
    * partition pruning → in-partition exact scoring → rank); q36 keeps the
    * realistic pruned `nprobe=3` serve, whose approximate output is pinned
    * against the online `ivfTopK` in KnnSpec. Build is deliberately small
    * (iters=1): serving exactness is independent of centroid quality. */
  val q94IvfExactServe: QueryDef = sql(
    "q94_ivf_exact_serve",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, e.vec_id AS nn,
      |         round(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 6) AS sim
      |  FROM q CROSS JOIN embeddings e
      |  WHERE e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, nn, sim,
      |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nn) AS rank
      |  FROM scored)
      |SELECT qid, rank, nn, sim FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import graft.sources.IvfIndex
    val path = java.nio.file.Files.createTempDirectory("ivfidx_q94").toString + "/idx"
    val idx = IvfIndex.build(emb(s, d), path, "vec_id", "embedding",
      nCentroids = 8, iters = 1)
    val q = emb(s, d).filter(col("vec_id") < 5)
    idx.topK(q, "vec_id", "embedding", k = 10, nprobe = 8, simDecimals = Some(6))
      .select(col("qid"), col("rank"), col("nn"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The persisted index's INCREMENTAL-UPSERT path (IvfIndex.upsert —
    * spec-only until round 8), oracle-checked via the q94 exact-degenerate
    * serve: build on a base corpus (vec_id ≥ 5, original vectors), upsert
    * a delta that both INSERTS new ids (vec_id < 5) and UPDATES existing
    * ones (5 ≤ vec_id < 15) with REVERSED vectors (reversal changes cosine
    * geometry — a scale factor wouldn't — while keeping both engines'
    * element-order accumulation identical), then serve with nprobe ≥ the
    * centroid count so candidates = the whole post-upsert corpus and the
    * result provably equals brute force over it. DuckDB replays the merge
    * declaratively (base MINUS delta ids UNION delta) and brute-forces the
    * same top-k — so a wrong upsert (stale vector kept, changed id left in
    * its old centroid partition AND its new one, insert dropped) changes
    * the candidate set and flips the hash. */
  /** The post-upsert exact-serve oracle shared by q106 (one upsert) and
    * q233 (the SAME delta upserted twice — at-least-once delivery): the
    * upsert is a per-id REPLACE, so redelivery is naturally idempotent
    * and both queries hash against one SQL. */
  private val ivfUpsertServeSql: String =
    """WITH corpus AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings WHERE vec_id >= 15
      |  UNION ALL
      |  SELECT vec_id, list_reverse(CAST(embedding AS DOUBLE[])) AS e
      |  FROM embeddings WHERE vec_id < 15),
      |q AS (SELECT vec_id AS qid, e AS qe FROM corpus WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, c.vec_id AS nn,
      |         round(list_cosine_similarity(q.qe, c.e), 6) AS sim
      |  FROM q CROSS JOIN corpus c
      |  WHERE c.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, nn, sim,
      |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nn) AS rank
      |  FROM scored)
      |SELECT qid, rank, nn, sim FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  /** Build-upsert-serve with the delta applied `times` times — shared by
    * q106 (once) and q233 (twice). */
  private def ivfUpsertServe(s: SparkSession, d: String,
      times: Int): DataFrame = {
    import graft.sources.IvfIndex
    val path = graft.core.Scratch.tempDir("ivfidx_upsert") + "/idx"
    val e = emb(s, d)
    val idx = IvfIndex.build(e.filter(col("vec_id") >= 5), path,
      "vec_id", "embedding", nCentroids = 8, iters = 1)
    val delta = e.filter(col("vec_id") < 15)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    (1 to times).foreach(_ => idx.upsert(delta, "vec_id", "embedding"))
    idx.topK(delta.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nprobe = 8, simDecimals = Some(6))
      .select(col("qid"), col("rank"), col("nn"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  val q106IvfUpsertServe: QueryDef = sql(
    "q106_ivf_upsert_serve",
    ivfUpsertServeSql) { (s, d) => ivfUpsertServe(s, d, times = 1) }

  /** EXACTLY-ONCE for the VECTOR index family — the fourth and final
    * index family's story, and the degenerate-easy one that completes
    * the taxonomy: `IvfIndex.upsert` is a per-id REPLACE (delta ids'
    * partitions drain, then re-insert), so a redelivered delta is
    * NATURALLY idempotent — no ledger, no versioning, no batch keys
    * needed. q233 upserts the SAME delta twice (at-least-once delivery
    * made literal) and serves; the oracle is q106's single-upsert SQL
    * verbatim, so the hash gate IS double-apply ≡ single-apply. The
    * taxonomy this closes: batch-keyed appends + partials (postings,
    * q223), single-table batch-keyed appends (band, q227), copy-on-write
    * MVCC for global-statistics indexes (prefix, q232), natural
    * idempotence for replace-by-key stores (IVF, here). */
  val q233IvfIdempotentUpsert: QueryDef = sql(
    "q233_ivf_idempotent_upsert",
    ivfUpsertServeSql) { (s, d) => ivfUpsertServe(s, d, times = 2) }

  /** Dot product two ways over consecutive-id vector pairs: composed
    * higher-order functions (`zip_with` + `aggregate` — interpreted, the
    * composable form) and the codegen `DotProduct` Expression (the hot-path
    * form). Both columns oracle-checked against DuckDB's
    * `list_inner_product`, pinning that the fast path computes exactly what
    * the declarative HOF spelling does (double accumulation in index
    * order). */
  val q88HofDot: QueryDef = sql(
    "q88_hof_dot",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      |SELECT a.vec_id AS qid, b.vec_id AS nn,
      |       round(list_inner_product(a.e, b.e), 6) AS hof_dot,
      |       round(list_inner_product(a.e, b.e), 6) AS expr_dot
      |FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
      |ORDER BY qid""".stripMargin) { (s, d) =>
    val a = emb(s, d).select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qe"))
    val b = emb(s, d).select((col("vec_id") - 1).as("qid"),
      col("vec_id").as("nn"), col("embedding").cast("array<double>").as("ne"))
    a.join(b, "qid")
      .select(col("qid"), col("nn"),
        oround(expr(
          "aggregate(zip_with(qe, ne, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"),
          6).as("hof_dot"),
        oround(graft.functions.vec_dot(col("qe"), col("ne")), 6).as("expr_dot"))
      .orderBy(col("qid"))
  }

  /** Product-quantization ANN serve (similarity.Pq): train 4 subspaces ×
    * 16 codes on the corpus, encode every vector to 4 code ids, then serve
    * by asymmetric distance computation — per-query lookup table of
    * dot(q_sub, codeword), approximate score = Σ lookups over the CODES
    * table (the 64×-narrower scan that is the point of PQ), top-40 ADC
    * candidates re-ranked by exact cosine to the final top-10. The trained
    * codebook and codes are dumped to scratch and DuckDB replays the WHOLE
    * serve from those artifacts — LUT dots, the m-term ADC sum, the
    * round-6 candidate rank, the cut at 40, and the exact re-rank — so a
    * wrong encode, a stale codebook row, or a mis-summed lookup all flip
    * the hash. Ranks are on round-6 scores (the IvfIndex.topK simDecimals
    * contract), ties toward the smaller id. */
  val q128PqAdcServe: QueryDef = {
    def p = graft.core.Scratch.lastDir("q128_pq_adc_serve")
    sql(
      "q128_pq_adc_serve",
      s"""WITH cb AS (SELECT sub, code, CAST(cvec AS DOUBLE[]) AS cvec
         |            FROM read_parquet('$p/codebook/*.parquet')),
         |co AS (SELECT id, codes FROM read_parquet('$p/codes/*.parquet')),
         |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
         |      FROM embeddings WHERE vec_id < 5),
         |lut AS (
         |  SELECT qid, sub, code,
         |         list_inner_product(
         |           qe[CAST(sub * 16 + 1 AS INT):CAST(sub * 16 + 16 AS INT)],
         |           cvec) AS w
         |  FROM q CROSS JOIN cb),
         |ex AS (SELECT id, u.i AS sub, codes[CAST(u.i + 1 AS INT)] AS code
         |       FROM co, unnest(range(4)) AS u(i)),
         |adc AS (
         |  SELECT qid, id, round(sum(w), 6) AS ascore
         |  FROM ex JOIN lut USING (sub, code)
         |  GROUP BY qid, id),
         |cand AS (
         |  SELECT qid, id,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY ascore DESC, id) AS arank
         |  FROM adc WHERE id <> qid),
         |rr AS (
         |  SELECT c.qid, c.id AS nn,
         |         round(list_cosine_similarity(CAST(qe2.embedding AS DOUBLE[]),
         |                                      CAST(ne.embedding AS DOUBLE[])), 6) AS sim
         |  FROM cand c
         |  JOIN embeddings qe2 ON qe2.vec_id = c.qid
         |  JOIN embeddings ne ON ne.vec_id = c.id
         |  WHERE c.arank <= 40)
         |SELECT qid, rank, nn, sim
         |FROM (SELECT qid, nn, sim,
         |             row_number() OVER (PARTITION BY qid
         |                                ORDER BY sim DESC, nn) AS rank
         |      FROM rr)
         |WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      import graft.similarity.Pq
      val e = emb(s, d)
      val path = graft.core.Scratch.dir("q128_pq_adc_serve", d)
      val cb = Pq.train(e, "vec_id", "embedding", dim = 64,
        m = 4, nCodes = 16, iters = 2)
      cb.coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
      cb.unpersist()
      val cbR = s.read.parquet(s"$path/codebook")
      Pq.encode(e, "vec_id", "embedding", 64, cbR)
        .write.mode("overwrite").parquet(s"$path/codes")
      val codes = s.read.parquet(s"$path/codes")
      val q = e.filter(col("vec_id") < 5)
      Pq.topK(codes, cbR, q, e, "vec_id", "embedding", dim = 64,
          k = 10, factor = 4)
        .select(col("qid"), col("rank"), col("nn"), col("sim"))
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** Shared STANDING serve artifacts over the embeddings table — the
    * postingsShared/docIvfShared pattern applied to the quantized-vector
    * serve shelf (VERDICT r14 next-round #1): the IVFADC coarse
    * quantizer plus the PQ codebook/codes are read-only serve state —
    * production trains/encodes once (ETL) and serves every query from
    * the standing artifact. The MUTATING vector-index queries
    * (q36/q94/q106/q233) and the train-is-the-subject queries (q128,
    * q154) keep self-contained builds. The handle is the coarse index
    * plus the committed dir holding `codebook/` and `codes/`. */
  private[queries] val embServeShared =
    new graft.core.Standing("embserve_shared")({ (s, d, staging) =>
      import graft.similarity.Pq
      val e = emb(s, d)
      graft.sources.IvfIndex.build(e, s"$staging/ivf", "vec_id",
        "embedding", nCentroids = 8, iters = 1): Unit
      val cb = Pq.train(e, "vec_id", "embedding", dim = 64,
        m = 4, nCodes = 16, iters = 2)
      cb.coalesce(1).write.parquet(s"$staging/codebook")
      cb.unpersist(): Unit
      Pq.encode(e, "vec_id", "embedding", 64,
          s.read.parquet(s"$staging/codebook"))
        .write.parquet(s"$staging/codes")
    })((s, served) => (new graft.sources.IvfIndex(s, s"$served/ivf"), served))

  /** IVFADC — the FAISS coarse+fine serve architecture composed from the
    * verified halves: the COARSE quantizer is the persisted IVF index
    * (queries probe their 2 nearest centroids; candidates come from a
    * literal-isin PRUNED scan of the probed assignment partitions — q36's
    * shape), and the FINE stage is PQ asymmetric-distance scoring
    * restricted to those candidates (Pq.adcWithin: the LUT join ships one
    * row per candidate per subspace, never one per corpus row), top-40 by
    * round-6 ADC, exact-cosine re-rank to the final top-10. The coarse
    * IVF and the PQ codebook/codes are the SHARED standing serve
    * artifact ([[embServeShared]] — this query's subject is the serve
    * composition, not the train); the probed candidate set is dumped to
    * per-query scratch, and DuckDB replays everything downstream of the
    * coarse probe — the ADC sum over candidates, the cut, and the
    * re-rank — reading the codebook/codes from the standing artifact
    * (the probe half is value-checked by the q35/q36 family;
    * ADC-from-artifacts by q128). */
  val q132IvfAdcServe: QueryDef = {
    def p = graft.core.Scratch.lastDir("q132_ivfadc_serve")
    def shared = embServeShared.localDir
    sql(
      "q132_ivfadc_serve",
      s"""WITH cb AS (SELECT sub, code, CAST(cvec AS DOUBLE[]) AS cvec
         |            FROM read_parquet('$shared/codebook/*.parquet')),
         |co AS (SELECT id, codes FROM read_parquet('$shared/codes/*.parquet')),
         |cand AS (SELECT qid, nn FROM read_parquet('$p/candidates/*.parquet')),
         |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
         |      FROM embeddings WHERE vec_id < 5),
         |lut AS (
         |  SELECT qid, sub, code,
         |         list_inner_product(
         |           qe[CAST(sub * 16 + 1 AS INT):CAST(sub * 16 + 16 AS INT)],
         |           cvec) AS w
         |  FROM q CROSS JOIN cb),
         |ex AS (SELECT c.qid, c.nn, u.i AS sub, co.codes[CAST(u.i + 1 AS INT)] AS code
         |       FROM cand c JOIN co ON co.id = c.nn, unnest(range(4)) AS u(i)),
         |adc AS (
         |  SELECT qid, nn, round(sum(w), 6) AS ascore
         |  FROM ex JOIN lut USING (qid, sub, code)
         |  WHERE nn <> qid
         |  GROUP BY qid, nn),
         |top AS (
         |  SELECT qid, nn,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY ascore DESC, nn) AS arank
         |  FROM adc),
         |rr AS (
         |  SELECT t.qid, t.nn,
         |         round(list_cosine_similarity(CAST(qe2.embedding AS DOUBLE[]),
         |                                      CAST(ne.embedding AS DOUBLE[])), 6) AS sim
         |  FROM top t
         |  JOIN embeddings qe2 ON qe2.vec_id = t.qid
         |  JOIN embeddings ne ON ne.vec_id = t.nn
         |  WHERE t.arank <= 40)
         |SELECT qid, rank, nn, sim
         |FROM (SELECT qid, nn, sim,
         |             row_number() OVER (PARTITION BY qid
         |                                ORDER BY sim DESC, nn) AS rank
         |      FROM rr)
         |WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      import graft.similarity.Pq
      val e = emb(s, d)
      val path = graft.core.Scratch.dir("q132_ivfadc_serve", d)
      val (idx, served) = embServeShared.get(s, d)
      val q = e.filter(col("vec_id") < 5)
      idx.candidates(q, "vec_id", "embedding", nprobe = 2)
        .write.mode("overwrite").parquet(s"$path/candidates")
      val cbR = s.read.parquet(s"$served/codebook")
      val cand = s.read.parquet(s"$path/candidates")
      val codes = s.read.parquet(s"$served/codes")
      val topCand = Pq.adcWithin(cand, codes, cbR, q, "vec_id", "embedding",
          dim = 64, n = 40)
        .select(col("qid"), col("nn"))
      graft.similarity.Knn.exactRerank(topCand, e, "vec_id", "embedding",
          k = 10, decimals = 6)
        .select(col("qid"), col("rank"), col("nn"), col("sim"))
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** Deterministic 16-dim chunk "embedding": dim j reads a 16-bit hex
    * window of md5(chunk || "|e<j div 8>") and maps it to [−1, 1] —
    * the cross-engine-replayable stand-in for the model-embedding seam
    * (the real seam is `enrich.Enrich`; this one exists so the FULL
    * retrieval composition can be hash-checked, not just row-counted). */
  private def embedDimSql(j: Int): String = {
    val salt = j / 8; val p = (j % 8) * 4 + 1
    s"CAST((('0x' || substr(md5(chunk || '|e$salt'), $p, 4))::BIGINT % 2001) - 1000 AS DOUBLE) / 1000.0"
  }

  /** RAG-prep retrieval composition, end-to-end and hash-checked: token-
    * window chunking (the q111 grid) → deterministic embedding (seam
    * above) → brute cosine top-5 per probe chunk. The brute scan is the
    * oracle-checkable BASELINE of the ANN family — the same composition
    * serves from IVF (q35/q36), PQ-ADC (q128/q132) or LSH (q34) at scale;
    * probes broadcast, the chunk corpus streams, rank-window per probe.
    * Chunk explosion is a generator (no shuffle before the per-probe
    * rank), and the embedding is 16 codegen'd md5 windows per chunk. */
  val q147RetrievalChunks: QueryDef = sql(
    "q147_retrieval_chunks",
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 1),
       |c AS (
       |  SELECT doc_id, i AS chunk_id,
       |         array_to_string(w[CAST(i * 32 + 1 AS INT):CAST(i * 32 + 32 AS INT)], ' ') AS chunk
       |  FROM (SELECT doc_id, w, unnest(range(CAST(ceil(len(w) / 32.0) AS BIGINT))) AS i
       |        FROM t)),
       |e AS (
       |  SELECT doc_id, chunk_id,
       |         [${(0 until 16).map(embedDimSql).mkString(",\n       |          ")}] AS emb
       |  FROM c),
       |q AS (
       |  SELECT doc_id AS qdoc, emb AS qe FROM e
       |  WHERE doc_id < 3 AND chunk_id = 0),
       |scored AS (
       |  SELECT q.qdoc, e.doc_id, e.chunk_id,
       |         round(list_cosine_similarity(q.qe, e.emb), 6) AS sim
       |  FROM q CROSS JOIN e
       |  WHERE e.doc_id <> q.qdoc),
       |ranked AS (
       |  SELECT qdoc, doc_id, chunk_id, sim,
       |         row_number() OVER (PARTITION BY qdoc
       |                            ORDER BY sim DESC, doc_id, chunk_id) AS rn
       |  FROM scored)
       |SELECT qdoc, CAST(rn AS BIGINT) AS rnk, doc_id, chunk_id, sim
       |FROM ranked WHERE rn <= 5
       |ORDER BY qdoc, rnk""".stripMargin) { (s, d) =>
    def embedDim(j: Int): org.apache.spark.sql.Column = {
      val salt = j / 8; val p = (j % 8) * 4 + 1
      ((conv(substring(md5(concat(col("chunk"), lit(s"|e$salt"))), p, 4),
        16, 10).cast("long") % 2001) - 1000).cast("double") / lit(1000.0)
    }
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (size(w) - 1) div 32), " +
          "i -> concat_ws(' ', slice(w, i * 32 + 1, 32)))"))
        .as(Seq("chunk_id", "chunk")))
      .withColumn("emb", array((0 until 16).map(embedDim): _*))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("emb"))
    val probes = chunks.filter(col("doc_id") < 3 && col("chunk_id") === 0)
      .select(col("doc_id").as("qdoc"), col("emb").as("qe"))
    val w = Window.partitionBy(col("qdoc"))
      .orderBy(col("sim").desc, col("doc_id"), col("chunk_id"))
    broadcast(probes).join(chunks, col("doc_id") =!= col("qdoc"))
      .select(col("qdoc"), col("doc_id"), col("chunk_id"),
        oround(cosine_similarity(col("qe"), col("emb")), 6).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qdoc"), col("rnk"), col("doc_id"), col("chunk_id"), col("sim"))
      .orderBy(col("qdoc"), col("rnk"))
  }

  /** Scalar-quantization (SQ8) ANN serve — the codebook-free member of
    * the compression family (q128/q132 are PQ): per-dimension 8-bit
    * levels on the 1e-6 ppm integer grid, ADC on reconstructed integer
    * inner products, exact integer-dot re-rank (embeddings are
    * unit-norm, so the dot ranks like cosine). No scratch table: the
    * quantizer is a closed-form function of the corpus, so the oracle
    * re-derives stats, codes, reconstruction, BOTH scores, and both
    * rank stages from the raw table — every compare is integer. */
  val q181Sq8Serve: QueryDef = sql(
    "q181_sq8_serve",
    """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |px AS (SELECT id, CAST(u.i + 1 AS INT) AS d,
      |              CAST(round(v[CAST(u.i + 1 AS INT)] * 1000000) AS BIGINT) AS vppm
      |       FROM e, unnest(range(len(v))) AS u(i)),
      |st AS (SELECT d, min(vppm) AS lo,
      |              greatest(max(vppm) - min(vppm), 1) AS span
      |       FROM px GROUP BY d),
      |rec AS (SELECT id, d, lo + ((((vppm - lo) * 255) // span) * span) // 255 AS r
      |        FROM px JOIN st USING (d)),
      |qs AS (SELECT id AS qid, d, vppm AS qppm FROM px WHERE id < 5),
      |adc AS (SELECT qid, id, CAST(sum(qppm * r) AS BIGINT) AS adc_i
      |        FROM rec JOIN qs USING (d) WHERE id <> qid
      |        GROUP BY qid, id),
      |cand AS (SELECT qid, id, adc_i,
      |                row_number() OVER (PARTITION BY qid
      |                                   ORDER BY adc_i DESC, id) AS arank
      |         FROM adc),
      |ex AS (SELECT c.qid, c.id AS nn, c.adc_i,
      |              CAST(sum(q.qppm * p.vppm) AS BIGINT) AS exact_i
      |       FROM cand c
      |       JOIN px p ON p.id = c.id
      |       JOIN qs q ON q.qid = c.qid AND q.d = p.d
      |       WHERE c.arank <= 40
      |       GROUP BY c.qid, c.id, c.adc_i)
      |SELECT qid, rank, nn, adc_i, exact_i
      |FROM (SELECT qid, nn, adc_i, exact_i,
      |             row_number() OVER (PARTITION BY qid
      |                                ORDER BY exact_i DESC, nn) AS rank
      |      FROM ex)
      |WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import graft.similarity.Sq
    val e = emb(s, d)
    val st = Sq.stats(e, "vec_id", "embedding")
    val codes = Sq.encode(e, "vec_id", "embedding", st)
    val probes = e.filter(col("vec_id") < 5)
    Sq.topK(codes, st, probes, e, "vec_id", "embedding", k = 10, factor = 4)
      .orderBy(col("qid"), col("rank"))
  }
}
