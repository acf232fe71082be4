package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface (SURVEY §2.10).
  *
  * The reference is micro-batch over dynamic per-user partitions (sensor
  * poll + cursor, sensors/__init__.py:16-40); its only watermark-like state
  * is the seen-directory cursor. The engine generalizes to real streams:
  *
  *  - tumbling / sliding windowed aggregation with event-time watermarks;
  *  - gap-based session windows (`session_window`) — exactly the
  *    reference's sessionization semantic (op 62) as a streaming operator;
  *  - file-source discovery with `Trigger.AvailableNow` — the sensor
  *    equivalent: each tick processes newly arrived files exactly once,
  *    checkpointed (the cursor), scaling to millions of tracked files;
  *  - `foreachBatch` incremental rebuild — the per-user idempotent
  *    partition-overwrite pattern (DELETE-then-write,
  *    assets/recent_history.py:130-138) becomes dynamic partition
  *    overwrite of the touched user partitions only.
  *
  * Every aggregation here has the same shape as its batch twin in
  * EventQueries (q17/q23/q24), and StreamingSpec asserts stream == batch on
  * the same input — the correctness contract for incremental execution.
  *
  * AUTHORING CONTRACT — sentinel data batches (engine-wide default):
  * `EngineConf` disables `spark.sql.streaming.noDataMicroBatches.enabled`
  * for every session the engine builds, because the declared queries are
  * bounded replays. Under that default the watermark only advances when a
  * DATA batch arrives — final windows whose eviction would rely on an
  * idle-time empty trigger never emit. Any new watermarked append-mode
  * operator must therefore either (a) ship an explicit sentinel data batch
  * past the watermark horizon to flush final windows (what every declared
  * replay does), or (b) run under `GRAFT_STREAM_NODATA_BATCHES=true` /
  * a session that restores the Spark default (what a live-serving
  * deployment wants). See BASELINE.md "Streaming operating parameters".
  */
object StreamOps {

  /** The schema a parquet read-back of `df`'s own write would infer,
    * WITHOUT the inference job: field types verbatim, nullability
    * relaxed to true recursively (parquet file-source inference always
    * yields nullable fields/elements, and a more-nullable declaration is
    * always safe to read under). For the stage-then-stream pattern every
    * bounded replay uses: the staged files were just written FROM `df`,
    * so re-inferring their schema is a driver round-trip (listing +
    * footer-read Spark job) re-learning what the caller already holds —
    * one metadata job per streaming query, removed (r17, guide §5). */
  def stagedSchema(df: DataFrame): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def relax(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relax(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = relax(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = relax(m.keyType),
        valueType = relax(m.valueType), valueContainsNull = true)
      case other => other
    }
    relax(df.schema).asInstanceOf[StructType]
  }

  /** Run `body` against a CLONED session (`spark.newSession()` — same
    * SparkContext and catalog, separate SQL conf) whose
    * `spark.sql.shuffle.partitions` is `n`. A streaming query fixes its
    * STATE STORE partition count from this setting at start, and every
    * state partition pays per-micro-batch checkpoint I/O — so a stream's
    * state partitioning should be sized to its throughput (a handful for
    * a test-scale replay, hundreds for a production firehose), not
    * inherited from the engine-wide batch-shuffle default. The clone
    * isolates the override: anything running concurrently on the parent
    * session (parallel suites, bench reps) keeps the engine-wide setting,
    * and there is no save/restore to race. `body` must build its stream
    * FROM the session it receives — a frame built on the parent session
    * would silently keep the parent's partitioning. */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: SparkSession => T): T = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", n.toString)
    body(ss)
  }

  /** Normalize the event-time column to TIMESTAMP (LTZ). Parquet written
    * by pandas/pyarrow carries `isAdjustedToUTC=false`, which Spark 4
    * infers as TIMESTAMP_NTZ — a type `withWatermark` rejects outright.
    * The engine pins the session time zone to UTC (EngineConf), so the
    * cast is value-identical; applying it on BOTH the stream and its
    * batch twin keeps the stream == batch contract exact. */
  private def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("ts", col("ts").cast("timestamp"))

  /** Tumbling-window counts/sums per event_type. */
  def tumblingAgg(events: DataFrame, width: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding-window aggregation (width/slide). */
  def slidingAgg(events: DataFrame, width: String = "10 minutes",
      slide: String = "5 minutes", watermark: String = "30 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"))

  /** Gap-based session windows per user — streaming sessionization. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Stream-stream interval join: each left event pairs with the right
    * events of the SAME user whose timestamp falls in
    * `[left.ts, left.ts + horizon]` (attribution shape: click → purchase
    * within the horizon). Both sides are watermarked and the join carries
    * the time-range condition, so Spark bounds the buffered state on each
    * side — the unbounded-state trap of an unconstrained stream join is the
    * thing this operator exists to avoid at scale.
    *
    * `joinType` "inner" (default) emits matches eagerly; "left_outer"
    * additionally emits each unmatched left event with nulls — but only
    * once the watermark passes `l_ts + horizon` and a subsequent batch
    * evicts its state, so a finite stream needs watermark-advancing
    * sentinel data (the q133 mechanism) for the unmatched tail to drain.
    *
    * Works identically on batch frames (same code path, no watermark
    * needed; left_outer = a plain left join) — StreamingSpec asserts
    * stream == batch for both types. */
  def intervalJoin(left: DataFrame, right: DataFrame, horizon: String,
      watermark: String = "1 hour", joinType: String = "inner"): DataFrame = {
    val lt = withEventTime(left); val rt = withEventTime(right)
    val l = (if (lt.isStreaming) lt.withWatermark("ts", watermark) else lt)
      .select(col("user_id"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"), col("event_type").as("l_type"))
    val r = (if (rt.isStreaming) rt.withWatermark("ts", watermark) else rt)
      .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"), col("event_type").as("r_type"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizon"),
      joinType)
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        col("l_ts"), col("r_ts"))
  }

  /** Streaming exact dedup with BOUNDED state: duplicates (same `keys`
    * tuple) arriving within the watermark delay of each other collapse to
    * the first occurrence, and Spark evicts each key's state once the
    * watermark passes it — the streaming twin of `Dedup.exact`'s hash
    * shuffle. A plain `dropDuplicates` on a stream keeps every key forever
    * (unbounded state, the at-scale trap this operator exists to avoid);
    * `dropDuplicatesWithinWatermark` is the contract that matches how
    * training-data dedup actually ships: exact within a horizon, the
    * batch backfill (q40) catching the long tail.
    *
    * Works identically on batch frames (same code path; batch dedups
    * globally) — StreamingSpec asserts stream == batch when all
    * duplicates fall inside the horizon. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      withEventTime(events).withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
    else withEventTime(events).dropDuplicates(keys)

  /** File-source discovery stream over a takeout-style user tree
    * (`<root>/<user>/MyActivity.json`): the Dagster sensor, Spark-native.
    * `AvailableNow` = one sensor tick; re-run to pick up new users. */
  def discoverUsers(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1000")
      .option("multiLine", "true") // MyActivity.json is one pretty-printed array
      .json(s"$root/*/MyActivity.json")
      .withColumn("user_id", graft.pipeline.TakeoutIngest.userIdFromPath)

  /** Run a streaming frame into an idempotent per-user-partition parquet
    * sink: each micro-batch dynamically overwrites only the user partitions
    * it touches (the reference's DELETE-then-COPY idempotency). */
  def toUserPartitionedSink(df: DataFrame, outPath: String,
      checkpoint: String): StreamingQuery =
    df.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write
          .mode("overwrite")
          .partitionBy("user_id")
          .option("partitionOverwriteMode", "dynamic") // write-scoped, no session leak
          .parquet(outPath)
      }
      .start()
}
