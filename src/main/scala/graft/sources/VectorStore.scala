package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.StructType
import graft.similarity.Knn

/** Parquet-backed vector store — the engine's replacement for the
  * reference's Postgres+pgvector tables (SURVEY §2.1 ops 6-8:
  * `recent_session_embeddings` / `recent_sessions_merged` /
  * `recent_sessions_graph`, delete-then-COPY idempotency at
  * assets/recent_history.py:127-178).
  *
  * Semantics:
  *  - `upsertUsers` = the reference's per-user DELETE + COPY: dynamic
  *    partition overwrite replaces exactly the user partitions present in
  *    the batch, leaving all others untouched (idempotent rebuild);
  *  - `deleteUsers` = GDPR-ish partition removal (the sensor's
  *    partition-delete path, sensors/__init__.py:19-21);
  *  - `ann` = the pgvector `<=>` query surface: top-k cosine over the
  *    store, served by the engine's ANN operators.
  *
  * Scale: one directory per user partition, `user_id=<escaped id>`,
  * holding one data file per write (`upsertUsers` clusters rows by user
  * first, so a task never writes a file for every user it holds).
  * `load()` lists every partition (a parallel-listing job past Spark's
  * 32-path threshold) and infers the schema (a job); `loadUser` lists
  * only the user's own directory (the reference's `a.user_id = '<pk>'`
  * pinning) under the instance's schema, so a lookup is one job whatever
  * the number of users. Blob-free rows keep partitions small.
  */
final class VectorStore(spark: SparkSession, path: String) {

  private val base = new Path(path)

  // The store's schema, resolved by one full `load()` and kept until this
  // instance writes. Another instance's write that changes the schema is
  // not seen (the file list is, on every lookup) — as [[IvfIndex]]'s handle.
  @volatile private var schemaCache: Option[StructType] = None

  private def schema: StructType = schemaCache.getOrElse {
    val s = load().schema
    schemaCache = Some(s)
    s
  }

  private def fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The user's partition directory, escaped exactly as Spark's writer
    * escapes it (`a:b` → `user_id=a%3Ab`). */
  private def userDir(userId: String): Path =
    new Path(base, ExternalCatalogUtils.getPartitionPathString("user_id", userId))

  /** Overwrite exactly the user partitions present in `df` (must carry a
    * `user_id` column), one data file per user partition. */
  def upsertUsers(df: DataFrame): Unit =
    try df.repartition(df("user_id")).write.mode("overwrite").partitionBy("user_id")
      .option("partitionOverwriteMode", "dynamic") // write-scoped, no session leak
      .parquet(path)
    finally schemaCache = None

  /** Remove user partitions (partition-level delete). */
  def deleteUsers(userIds: Seq[String]): Unit =
    try userIds.map(userDir).foreach(p => if (fs.exists(p)) fs.delete(p, true))
    finally schemaCache = None

  def load(): DataFrame = spark.read.parquet(path)

  /** Build a persisted IVF index over the store (the pgvector-CREATE-INDEX
    * analogue, SURVEY §2.1 op 6: the reference's vector table is a standing
    * index, not a per-query recompute — resources/postgres_resource.py:
    * 120-206). See [[IvfIndex]] for the layout and the serving path. */
  def buildIvfIndex(indexPath: String, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int = 3, seed: Long = 42L): IvfIndex =
    IvfIndex.build(load(), indexPath, idCol, vecCol, nCentroids, iters, seed)

  /** Rows of one user, equal to `load().filter(col("user_id") === userId)`:
    * reads only the user's directory, listed fresh on every call (so
    * another instance's writes show), with `basePath` keeping `user_id` a
    * column. A user with no directory (and "", which Spark stores as null)
    * gets an empty frame with the store's schema. */
  def loadUser(userId: String): DataFrame = {
    val s = schema
    val dir = userDir(userId)
    if (userId != null && userId.nonEmpty && fs.exists(dir))
      spark.read.schema(s).option("basePath", path).parquet(dir.toString)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
  }

  /** Top-k cosine neighbors in the store for each query row. */
  def ann(queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    Knn.bruteForce(load(), queries, idCol, vecCol, k)

  /** Row-granularity MERGE (upsert): see companion. Only the user
    * partitions present in `changes` are read and rewritten — merging the
    * whole store would turn a 10-row upsert into a full-table rewrite (and
    * clobber concurrently-updated unrelated partitions). A change row may
    * not move a key between users (per-user semantics, as the reference). */
  def merge(changes: DataFrame, key: String): Unit = {
    val touched = load().join(
      changes.select(changes("user_id")).distinct(), Seq("user_id"), "left_semi")
    // Match on (user_id, key), not key alone: keys are only unique per
    // user, so two users sharing a key value in one batch must not delete
    // each other's rows.
    upsertUsers(VectorStore.mergeUpsert(touched, changes, Seq("user_id", key)))
  }
}

object VectorStore {

  /** Row-granularity MERGE semantics (NEXT.md: upsert at row granularity,
    * not just partition overwrite): a change row replaces the existing row
    * with the same `keys` tuple; change rows with no existing match are
    * inserts; all other existing rows are kept. Set-based — one anti-join
    * plus a union, no driver iteration; at scale the join shuffles on the
    * keys (or co-locates if both sides are bucketed by them). Callers whose
    * keys are only unique within a scope (e.g. per user) must include the
    * scope column in `keys` — see [[VectorStore.merge]]. */
  def mergeUpsert(existing: DataFrame, changes: DataFrame, keys: Seq[String]): DataFrame =
    existing
      .join(changes.select(keys.map(changes(_)): _*), keys, "left_anti")
      .unionByName(changes)

  /** Single-key convenience: the key must be globally unique. */
  def mergeUpsert(existing: DataFrame, changes: DataFrame, key: String): DataFrame =
    mergeUpsert(existing, changes, Seq(key))
}
