package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.cosine_similarity

/** Contrastive training-pair mining — the data-prep stage an embedding
  * model's training loop consumes (SimCLR / sentence-transformers shape):
  * per anchor, ONE hard positive (the argmax-cosine same-label neighbor)
  * and `k` deterministic hash-drawn negatives from other labels, each
  * re-scored with the exact cosine so the trainer sees margins.
  *
  * Determinism contract (the repo's float policy): the positive rank
  * compares `sim_ppb = round(sim·1e9)` integers with smallest-id
  * tiebreak; negative draws are content-addressed md5 over
  * (anchor, attempt, seed) — re-runs and both engines agree exactly.
  *
  * Scale shape: positives are per-label all-pairs (labels are
  * bounded-size groups, as users are for `SessionOps.similarityGraph`;
  * an unbounded label would need an LSH-pruned candidate set such as
  * `Knn.lshCandidates`). Negatives cost k small equi-joins on a dense
  * row index — no pair blowup. The index is
  * `RecordLinkage.withGlobalRank` by id (one range-partitioned sort,
  * indexed in place), never a single-partition window.
  */
object Contrastive {

  private def i9(c: Column): Column = graft.functions.fixed_point(c, 1e9)

  /** @return long-format pair table (anchor_id, role, partner_id,
    *         sim_ppb) with role ∈ {pos, neg_1..neg_k}; anchors whose
    *         label has no second member emit no pos row, and negatives
    *         beyond the valid draws (same-label/self collisions past
    *         `attempts` tries, or attempts colliding on an already-drawn
    *         partner) are simply absent — the k emitted negatives are
    *         DISTINCT partners, deterministic, never padded. */
  def pairs(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      k: Int = 3, attempts: Int = 10, seed: String = "negs-v1"): DataFrame = {
    val e = df.select(col(labelCol).as("label"), col(idCol).as("id"),
      col(vecCol).as("vec"))
    // hard positive: max(struct) partial-aggregatable rank-1 (q30's shape)
    val a = e.select(col("label"), col("id").as("anchor_id"), col("vec").as("vec_a"))
    val b = e.select(col("label"), col("id").as("partner_id"), col("vec").as("vec_b"))
    val pos = a.join(b, Seq("label"))
      .filter(col("anchor_id") =!= col("partner_id"))
      .select(col("anchor_id"), col("partner_id"),
        i9(cosine_similarity(col("vec_a"), col("vec_b"))).as("sim_ppb"))
      .groupBy(col("anchor_id"))
      .agg(max(struct(col("sim_ppb"), (lit(0L) - col("partner_id")).as("nid"))).as("m"))
      .select(col("anchor_id"), lit("pos").as("role"),
        (lit(0L) - col("m.nid")).as("partner_id"), col("m.sim_ppb").as("sim_ppb"))
    // negatives: md5 draws over the dense row index, first k valid attempts
    val idx = graft.operators.RecordLinkage.withGlobalRank(e, Seq("id"), "ridx")
      .withColumn("ridx", col("ridx") - 1)
    val total = e.agg(count(lit(1)).as("n"))
    val drawn = e.select(col("label").as("a_label"), col("id").as("anchor_id"),
        col("vec").as("vec_a"))
      .crossJoin(broadcast(total))
      .withColumn("j", explode(sequence(lit(0), lit(attempts - 1))))
      .withColumn("ridx",
        conv(substring(md5(concat(col("anchor_id").cast("string"),
          lit(s"|$seed|"), col("j").cast("string"))), 1, 12), 16, 10)
          .cast("long") % col("n"))
    val negs = drawn
      .join(idx.select(col("ridx"), col("id").as("partner_id"),
        col("label").as("p_label"), col("vec").as("vec_b")), Seq("ridx"))
      .filter(col("p_label") =!= col("a_label") &&
        col("partner_id") =!= col("anchor_id"))
      // two attempts can collide on the same row index — keep only the
      // EARLIEST draw of each partner so the k negatives are distinct
      .withColumn("jmin", min(col("j")).over(
        Window.partitionBy(col("anchor_id"), col("partner_id"))))
      .filter(col("j") === col("jmin"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("anchor_id")).orderBy(col("j"))))
      .filter(col("rk") <= k)
      .select(col("anchor_id"),
        concat(lit("neg_"), col("rk").cast("string")).as("role"),
        col("partner_id"),
        i9(cosine_similarity(col("vec_a"), col("vec_b"))).as("sim_ppb"))
    pos.unionByName(negs)
  }
}
