package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.enrich.{Embedder, LLMClient}
import graft.operators.{Sessionize, SessionOps}

/** The reference's recent path end-to-end (SURVEY §3 EP2): activity →
  * LLM sessions → embeddings → adaptive thresholds → candidate pairs (a
  * band join on `user_id` that `plans.BandJoinRewrite` buckets) →
  * connected-components merge → top-1 similarity graph (one exact
  * all-pairs join per user; the 15-day window bounds its size).
  *
  * Every stage is a DataFrame transformation; enrichment stages cache
  * their output (non-deterministic boundary — Catalyst must not re-execute
  * the LLM/embedder on plan re-evaluation, SURVEY §4). */
object RecentPath {

  /** merged/graph are lazy: the connected-components merge runs driver
    * actions (iteration + convergence checks) at construction time, so a
    * consumer that only needs the graph must not pay for the merge. */
  final class Outputs(
      val sessions: DataFrame,
      val thresholds: DataFrame,
      mergedF: => DataFrame,
      graphF: => DataFrame) {
    lazy val merged: DataFrame = mergedF
    lazy val graph: DataFrame = graphF
  }

  def run(activity: DataFrame, llm: LLMClient, embedder: Embedder,
      chunkSize: Int = 15): Outputs = {
    val sessions = SessionOps.withEmbeddings(
        SessionOps.withIds(Sessionize.sessions(activity, llm, chunkSize)),
        embedder)
      .cache()
    val thresholds = SessionOps.thresholds(sessions).cache()
    new Outputs(
      sessions,
      thresholds,
      SessionOps.merge(sessions, SessionOps.candidatePairs(sessions, thresholds)),
      SessionOps.similarityGraph(sessions, thresholds))
  }
}
