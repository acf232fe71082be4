package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.enrich.Embedder
import graft.functions.cosine_similarity

/** Session-table operators of the reference's recent path (SURVEY §2 EP2):
  * ids, embeddings, adaptive thresholds, candidate pairs, merge, graph. */
object SessionOps {

  /** Deterministic per-user session ids + epoch-second interval bounds.
    * id = (user_id mod 2^38) << 24 | per-user ordinal — globally unique so
    * a frame keyed by id alone (merge labels, graph edges) never mixes two
    * users, and overflow-safe under ANSI mode even for 64-bit hashed user keys
    * (string users come in as xxhash64; the 38-bit fold keeps ids positive
    * — numeric user ids, the normal case, are far below the fold). */
  def withIds(sessions: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("date"), col("start_s"), col("end_s"), col("description"))
    sessions
      .withColumn("id",
        shiftleft(pmod(col("user_id"), lit(1L << 38)), 24) + row_number().over(w))
      .withColumn("start_ts", unix_date(col("date")).cast("long") * 86400L + col("start_s"))
      .withColumn("end_ts", unix_date(col("date")).cast("long") * 86400L + col("end_s"))
  }

  /** Embedding enrichment (SURVEY §2.9 op 56: batched embedder behind the
    * trait seam; the reference batches ≤100 texts per call): appends the
    * `embedding` of each row's `textCol` — `description` for sessions,
    * `interest` for the old path's exploded interests.
    *
    * `Dataset.mapPartitions` with an explicit Row encoder, not a
    * `rows.rdd` hop: the enrichment stays one node inside the Dataset
    * plan (Deserialize → map → Serialize), so upstream and downstream
    * stages keep Tungsten rows and whole-stage codegen instead of crossing
    * a createDataFrame scan barrier. */
  def withEmbeddings(rows: DataFrame, textCol: String, embedder: Embedder,
      batchSize: Int = 100): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(rows.schema.fields :+
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)))
    rows.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val embs = embedder.embed(batch.map(_.getAs[String](textCol)))
        batch.iterator.zip(embs.iterator).map { case (row, emb) =>
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (emb.toSeq: Seq[Float]))
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Per-user adaptive thresholds (assets/recent_history.py:244-341):
    * 10th pct of inter-session gaps (seconds) and 90th pct of
    * adjacent-session cosine similarity. Small output — broadcast it back. */
  def thresholds(sessions: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("date"), col("start_s"), col("id"))
    sessions
      .withColumn("gap_s", col("start_ts") - lag(col("end_ts"), 1).over(w))
      .withColumn("adj_sim", cosine_similarity(col("embedding"), lag(col("embedding"), 1).over(w)))
      .groupBy(col("user_id"))
      .agg(
        expr("percentile(gap_s, 0.1)").as("time_threshold_s"),
        expr("percentile(adj_sim, 0.9)").as("similarity_threshold"))
  }

  /** Merge-candidate pairs (assets/recent_history.py:384-411): b temporally
    * at/after a, gap ≤ per-user time threshold, cosine ≥ per-user similarity
    * threshold. A plain inner join on `user_id` whose condition carries the
    * band `b_start_ts − a_end_ts ∈ [−86400, maxGapS]` and the residual: on
    * an engine session `plans.BandJoinRewrite` buckets it by band width when
    * neither side is broadcast-small, and otherwise the hash join on
    * `user_id` serves it.
    *
    * `maxGapS` bounds the band width; the reference's theta predicate admits
    * gaps down to −86400s (cross-midnight ordering quirk), reproduced here.
    *
    * Float policy: both threshold compares run on the 1e-9 integer grid
    * (sim and threshold each rounded half-away-from-zero to ppb; the
    * integer gap scaled to the same grid) so a last-ulp difference in
    * another engine's cosine or interpolated percentile cannot flip a
    * candidate in or out — the [[similarityGraph]] rationale.
    */
  def candidatePairs(sessions: DataFrame, thresholds: DataFrame, maxGapS: Long = 86400L): DataFrame = {
    // the ppb-grid compare below multiplies gap_s (≤ maxGapS) by 1e9; past
    // this bound the product overflows Long and silently flips the filter
    require(maxGapS <= Long.MaxValue / 1000000000L,
      s"maxGapS=$maxGapS overflows the 1e-9-grid gap compare " +
        s"(max ${Long.MaxValue / 1000000000L}s ≈ 292 years)")
    val gap = col("b_start_ts") - col("a_end_ts")
    orderedPairs(sessions, gap >= -86400L && gap <= maxGapS)
      .join(broadcast(thresholds), "user_id")
      .withColumn("gap_s", gap)
      .withColumn("sim", cosine_similarity(col("a_embedding"), col("b_embedding")))
      .filter(col("gap_s") * lit(1000000000L) <= i9(col("time_threshold_s"))
        && i9(col("sim")) >= i9(col("similarity_threshold")))
      .select(col("user_id"), col("a_id"), col("b_id"), col("gap_s"), col("sim"))
  }

  /** The ordered self-join of both pair operators: every (a, b) of one user
    * with a ≠ b and b starting at or after a ends (a later date, or the same
    * date and `b.start_s ≥ a.end_s`, as in the reference's pair and graph
    * queries), `band` in the same join condition; `a_`/`b_` columns. */
  private def orderedPairs(sessions: DataFrame, band: Column): DataFrame = {
    def side(p: String) = sessions.select(col("user_id") +:
      Seq("id", "date", "start_s", "end_s", "start_ts", "end_ts", "embedding")
        .map(c => col(c).as(s"${p}_$c")): _*)
    side("a").join(side("b"), Seq("user_id"))
      .where(band && col("a_id") =!= col("b_id") && (col("b_date") > col("a_date") ||
        (col("b_date") === col("a_date") && col("b_start_s") >= col("a_end_s"))))
  }

  /** Integer fixed point at every threshold/rank compare (see
    * [[similarityGraph]]). */
  private def i9(c: Column): Column = graft.functions.fixed_point(c, 1e9)

  /** Set-based session merge (SURVEY §2.4 op 24): connected components over
    * the candidate-pair graph, then one interval aggregation per component —
    * the component's earliest session (min id) keeps its date, description
    * and interests; the interval becomes [least start, greatest end]
    * (GREATEST/LEAST semantics of the reference loop,
    * assets/recent_history.py:420-445). Pairs never cross users, so the
    * components are labelled per user inside the plan (one `flatMapGroups`
    * call of [[ConnectedComponents.unionFind]] per user's pairs): building
    * the merge runs no Spark job. */
  def merge(sessions: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = sessions.sparkSession
    import spark.implicits._
    val comps = pairs.select(col("user_id"), col("a_id"), col("b_id"))
      .groupBy(col("user_id")).as[Long, (Long, Long, Long)]
      .flatMapGroups((_, it) => ConnectedComponents.unionFind(it.map(p => (p._2, p._3))))
      .toDF("sid", "component")
    val labeled = sessions
      .join(comps, sessions("id") === col("sid"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
      .drop("sid")
    labeled
      .groupBy(col("user_id"), col("component"))
      .agg(
        min(struct(col("id"), col("date"), col("description"), col("interests"))).as("rep"),
        min(col("start_s")).as("start_s"),
        max(col("end_s")).as("end_s"),
        count(lit(1)).as("n_merged"))
      .select(
        col("user_id"), col("component").as("id"),
        col("rep.date").as("date"),
        col("start_s"), col("end_s"),
        col("rep.description").as("description"),
        col("rep.interests").as("interests"),
        col("n_merged"))
  }

  /** Similarity graph (assets/recent_history.py:450-527): for each session,
    * an edge to its most-similar strictly-later session when similarity
    * exceeds the per-user threshold; weight = 1 − similarity (distance).
    *
    * Float policy (round-then-compare at every oracle boundary): the rank
    * and the threshold comparison both run on INTEGER fixed point,
    * sim_i9 = round(similarity · 1e9) as a 64-bit integer (half away from
    * zero — the `oround` primitive), and the emitted weight is the exact
    * integer `weight_ppb = 1e9 − sim_i9` plus its double rendering
    * `weight = weight_ppb / 1e9` (one deterministic integer→double
    * division, bit-identical across engines). Raw-double ranking lets a
    * last-ulp similarity difference between two engines flip a rank-1
    * winner or a threshold membership while preserving the row count —
    * exactly the cross-engine failure mode this removes; a flip now
    * requires two rounded values to land on different 1e-9 grid points,
    * i.e. raw sims within an ulp of a 0.5e-9 boundary. Semantics vs the
    * reference are unchanged (rank-1 over similarity, ties at the 1e-9
    * grid broken toward the smaller child id).
    *
    * Scale shape: one exact ordered all-pairs join per user, quadratic in
    * that user's session count, which the recent path bounds by its 15-day
    * window (`TakeoutIngest`): at one session per chunk of up to 15 rows,
    * a user reaches 5,000 sessions only past ~75,000 activity rows in 15
    * days. */
  def similarityGraph(sessions: DataFrame, thresholds: DataFrame): DataFrame =
    // rank-1 per parent as a partial-aggregatable max(struct) instead of a
    // row_number window — map-side combine shrinks the O(pairs) shuffle to
    // one row per parent; lexicographic struct max = (similarity DESC,
    // child_id ASC) rank 1, identical to the reference's ROW_NUMBER filter.
    orderedPairs(sessions, lit(true))
      .select(col("user_id"), col("a_id").as("parent_id"), col("b_id").as("child_id"),
        i9(cosine_similarity(col("a_embedding"), col("b_embedding"))).as("sim_i9"))
      .groupBy(col("user_id"), col("parent_id"))
      .agg(max(struct(col("sim_i9"),
        (lit(0L) - col("child_id")).as("nd"))).as("m"))
      .join(broadcast(thresholds), "user_id")
      .filter(col("m.sim_i9") > i9(col("similarity_threshold")))
      .select(col("user_id"), col("parent_id"),
        (lit(0L) - col("m.nd")).as("child_id"),
        (lit(1000000000L) - col("m.sim_i9")).as("weight_ppb"),
        ((lit(1000000000L) - col("m.sim_i9")).cast("double") / lit(1e9)).as("weight"))
}
