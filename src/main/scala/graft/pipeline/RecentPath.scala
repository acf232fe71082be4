package graft.pipeline

import org.apache.spark.sql.DataFrame
import graft.enrich.{Embedder, LLMClient}
import graft.operators.{Sessionize, SessionOps}

/** The reference's recent path end-to-end (SURVEY §3 EP2): activity →
  * LLM sessions → embeddings → adaptive thresholds → candidate pairs (a
  * band join on `user_id` that `plans.BandJoinRewrite` buckets) →
  * per-user connected-components merge → top-1 similarity graph (one
  * exact all-pairs join per user; the 15-day window bounds its size).
  *
  * Every stage is a DataFrame transformation; enrichment stages cache
  * their output (non-deterministic boundary — Catalyst must not re-execute
  * the LLM/embedder on plan re-evaluation, SURVEY §4). `merged` and
  * `graph` are plans only: building them runs no Spark job. */
object RecentPath {

  final case class Outputs(sessions: DataFrame, thresholds: DataFrame,
      merged: DataFrame, graph: DataFrame)

  def run(activity: DataFrame, llm: LLMClient, embedder: Embedder,
      chunkSize: Int = 15): Outputs = {
    val sessions = SessionOps.withEmbeddings(
        SessionOps.withIds(Sessionize.sessions(activity, llm, chunkSize)),
        "description", embedder)
      .cache()
    val thresholds = SessionOps.thresholds(sessions).cache()
    Outputs(
      sessions,
      thresholds,
      SessionOps.merge(sessions, SessionOps.candidatePairs(sessions, thresholds)),
      SessionOps.similarityGraph(sessions, thresholds))
  }
}
