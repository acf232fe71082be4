package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cluster.LocalCluster
import graft.enrich.{Embedder, LLMClient}
import graft.operators.{InterestsExtract, SessionOps}

/** The reference's old/full path end-to-end (SURVEY §3 EP3): activity →
  * two-turn interest extraction → explode → embed → per-user clustering.
  * The reference stamps this twice ("sensitive" / "general" prompt specs) —
  * spec identity only changes the prompts, i.e. the `LLMClient`. */
object OldPath {

  final case class Outputs(
      interests: DataFrame, // per (user, day): chunked + distinct interests
      embedded: DataFrame, // per (user, interest): embedding
      clusters: DataFrame) // per (user, interest): cluster_label

  def run(activity: DataFrame, llm: LLMClient, embedder: Embedder,
      chunkSize: Int = 15, eps: Double = 0.02, minClusterSize: Int = 5): Outputs = {
    val interests = InterestsExtract.interests(activity, llm, chunkSize).cache()

    val embedded = SessionOps.withEmbeddings(
        interests.select(col("user_id"), explode(col("interests")).as("interest"))
          .distinct(),
        "interest", embedder)
      .cache()

    val clusters = LocalCluster.clusterPerKey(
      embedded, "user_id", "interest", "embedding", eps, minClusterSize)
    Outputs(interests, embedded, clusters)
  }
}
