package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: measures the 10-NN neighborhood preservation of the q93/q102
  * UMAP reductions per label group, so the `presFloorPct` pinned in their
  * bounds-flag oracles (PipelineQueries.clusterBounds) is an evidence-based
  * margin (~half the measured minimum), not a guess. Args: [sfDir]. */
object MeasureUmapPreservation {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.core.EngineConf.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("label").cast("long").as("user_id"),
        col("vec_id").cast("string").as("interest"),
        col("embedding"))
    for ((name, reduced) <- Seq(
      "q93_umap8_epscut" -> graft.cluster.LocalCluster.clusterPerKeyReduced(
        emb, "user_id", "interest", "embedding", eps = 0.45, minClusterSize = 5,
        reduceTo = Some(8), reducer = graft.cluster.LocalCluster.Umap),
      "q102_umap8_hdbscan" -> graft.cluster.LocalCluster.hdbscanPerKeyReduced(
        emb, "user_id", "interest", "embedding",
        minClusterSize = 5, minSamples = 5, clusterSelectionEpsilon = 0.02,
        reduceTo = Some(8), reducer = graft.cluster.LocalCluster.Umap))) {
      val labeled = reduced.cache()
      for (k <- Seq(5, 10)) {
        val rows = graft.cluster.LayoutQuality.preservation(labeled, k)
          .orderBy(col("user_id")).collect()
        val worst = rows.map(r => 100.0 * r.getLong(1) / r.getLong(2)).min
        println(f"$name k=$k WORST=$worst%.1f%%")
      }
      labeled.unpersist()
    }
    spark.stop()
  }
}
