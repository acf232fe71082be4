package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.enrich.{Embedder, LLMClient}
import graft.sources.VectorStore
import graft.streaming.StreamOps

/** The reference's orchestration lifecycle, Spark-native (SURVEY §3 +
  * §2.10): sensor tick → new user partitions → per-user pipeline run →
  * idempotent per-user overwrite of the serving tables → partition
  * delete on user removal.
  *
  *  - discovery: file-source stream over `<root>/<user>/MyActivity.json`
  *    with `Trigger.AvailableNow` — one call = one sensor tick; the
  *    checkpoint is the cursor, so a re-tick with no new files processes
  *    nothing (exactly-once per file);
  *  - processing: the recent path runs ONLY on the users present in the
  *    micro-batch (the reference's per-partition materialization);
  *  - serving: `VectorStore.upsertUsers` dynamically overwrites exactly
  *    the touched user partitions (DELETE-then-COPY idempotency);
  *  - removal: `retireUsers` = partition delete (GDPR path,
  *    sensors/__init__.py:19-21).
  *
  * String user ids (directory names) ride alongside a stable numeric key
  * (xxhash64) that the session-merge id arithmetic needs.
  */
object IncrementalDriver {

  /** One sensor tick: ingest any newly arrived user files, run the recent
    * path for those users, upsert their merged sessions into the store. */
  def tick(spark: SparkSession, root: String, storePath: String,
      checkpoint: String, llm: LLMClient, embedder: Embedder): Unit = {
    val discovered = StreamOps.discoverUsers(spark, root, TakeoutIngest.takeoutSchema)
    val q = discovered.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) processBatch(batch, storePath, llm, embedder)
      }
      .start()
    q.awaitTermination()
  }

  private[pipeline] def processBatch(batch: DataFrame, storePath: String,
      llm: LLMClient, embedder: Embedder): Unit = {
    val spark = batch.sparkSession
    val activity = batch
      .select(col("user_id").as("user_dir"),
        xxhash64(col("user_id")).as("user_id"),
        col("time").as("ts"), col("title"))
      .cache()
    try {
      val userMap = activity.select(col("user_id"), col("user_dir")).distinct()
      val out = RecentPath.run(activity.select(col("user_id"), col("ts"), col("title")),
        llm, embedder)
      try {
        val sessions = out.merged
          .join(broadcast(userMap), "user_id")
          .drop("user_id")
          .withColumnRenamed("user_dir", "user_id")
        new VectorStore(spark, storePath).upsertUsers(sessions)
      } finally Seq(out.sessions, out.thresholds).foreach(_.unpersist())
    } finally activity.unpersist()
  }

  /** User removal: drop the partitions (GDPR delete). */
  def retireUsers(spark: SparkSession, storePath: String, users: Seq[String]): Unit =
    new VectorStore(spark, storePath).deleteUsers(users)
}
