package graft.streaming

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Correctness contract for incremental execution: every streaming
  * aggregation equals its batch twin on the same (finite) input. */
class StreamingSpec extends SparkSpec {

  private def streamOf(batch: DataFrame): DataFrame = {
    // replay a batch frame through a real file-source stream
    val dir = java.nio.file.Files.createTempDirectory("stream-in").toString
    batch.write.mode("overwrite").parquet(dir)
    spark.readStream.schema(batch.schema).parquet(dir)
  }

  private def runToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  // multiset, not set: join outputs can legitimately contain duplicate
  // rows, and a multiplicity bug in a streaming emission path must not
  // hide behind set semantics
  private def canon(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).map { case (k, v) => k -> v.length }

  test("tumbling window: stream == batch") {
    val events = Tables.events(spark, sf)
    val stream = runToMemory(StreamOps.tumblingAgg(streamOf(events)), "tumb", "complete")
    val batch = StreamOps.tumblingAgg(events)
    assert(canon(stream) == canon(batch))
    assert(stream.count() > 0)
  }

  test("sliding window: stream == batch") {
    val events = Tables.events(spark, sf)
    val stream = runToMemory(StreamOps.slidingAgg(streamOf(events)), "slide", "complete")
    val batch = StreamOps.slidingAgg(events)
    assert(canon(stream) == canon(batch))
  }

  test("session window: stream == batch and matches q17 session count") {
    val events = Tables.events(spark, sf)
    val stream = runToMemory(StreamOps.sessionAgg(streamOf(events)), "sess", "complete")
    val batch = StreamOps.sessionAgg(events)
    assert(canon(stream) == canon(batch))
    // cross-check against the window-function sessionization (q17 semantics)
    val q17 = graft.queries.EventQueries.q17Sessionize.run(spark, sf)
    assert(stream.count() == q17.count())
  }

  test("stream-stream interval join == batch join (click→purchase attribution)") {
    val events = Tables.events(spark, sf)
    val clicks = events.filter(col("event_type") === "click")
    val purchases = events.filter(col("event_type") === "purchase")
    val stream = runToMemory(
      StreamOps.intervalJoin(streamOf(clicks), streamOf(purchases), "30 MINUTES"),
      "ssjoin", "append")
    val batch = StreamOps.intervalJoin(clicks, purchases, "30 MINUTES")
    assert(canon(stream) == canon(batch))
    assert(batch.count() > 0)
  }

  test("left-outer interval join: stream == batch after watermark sentinels") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"))
    val mx = events.agg(max(col("ts"))).head.getTimestamp(0)
    val dir = java.nio.file.Files.createTempDirectory("souter").toString
    events.write.mode("overwrite").parquet(dir)
    def src() = spark.readStream.schema(events.schema).parquet(dir)
    val joined = StreamOps.intervalJoin(
      src().filter(col("event_type") === "click"),
      src().filter(col("event_type") === "purchase"),
      "30 MINUTES", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("souter")
      .outputMode("append").start()
    q.processAllAvailable()
    // unmatched-left emission needs the watermark to pass l_ts + horizon
    // AND a later batch to evict the state — two sentinel batches, each
    // advancing BOTH sources (q133's mechanism)
    def sentinel(uid: Long, plusMs: Long): Unit = {
      Seq((uid, new java.sql.Timestamp(mx.getTime + plusMs), uid, "click"),
          (uid - 1, new java.sql.Timestamp(mx.getTime + plusMs), uid - 1, "purchase"))
        .toDF("user_id", "ts", "event_id", "event_type")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    }
    sentinel(-1L, 315360000000L)
    sentinel(-3L, 315360001000L)
    q.stop()
    val stream = spark.table("souter").filter(col("user_id") >= 0)
    val batch = StreamOps.intervalJoin(
      events.filter(col("event_type") === "click"),
      events.filter(col("event_type") === "purchase"),
      "30 MINUTES", joinType = "left_outer")
    assert(canon(stream) == canon(batch))
    // the outer join emits strictly more than the inner (unmatched clicks)
    val inner = StreamOps.intervalJoin(
      events.filter(col("event_type") === "click"),
      events.filter(col("event_type") === "purchase"), "30 MINUTES")
    assert(batch.count() > inner.count())
  }

  test("dedup within watermark: stream == batch when dups are in-horizon") {
    val events = Tables.events(spark, sf)
    // duplicate a third of the events with identical (event_id, ts): the
    // copies land inside any watermark horizon, so the streaming dedup must
    // collapse them exactly like the global batch dedup
    val withDups = events.unionByName(
      events.filter(pmod(col("event_id"), lit(3)) === 0))
    val stream = runToMemory(
      StreamOps.dedupWithinWatermark(streamOf(withDups), Seq("event_id")),
      "dedupw", "append")
    val batch = StreamOps.dedupWithinWatermark(withDups, Seq("event_id"))
    assert(stream.count() == events.count())
    assert(canon(stream.select("event_id")) == canon(batch.select("event_id")))
  }

  test("file discovery + idempotent user-partitioned sink") {
    // the sink's dynamic overwrite is write-scoped: the session keeps its mode
    val mode = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(mode)
    val sessionMode = spark.conf.get(mode)
    val root = java.nio.file.Files.createTempDirectory("disc").toString
    def write(user: String, time: String): Unit = {
      val dir = java.nio.file.Paths.get(root, user)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("MyActivity.json"),
        s"""[{"header":"Search","title":"t","titleUrl":"u","time":"$time","products":["Search"]}]""")
    }
    write("u1", "2024-01-01T10:00:00.000Z")
    write("u2", "2024-01-02T10:00:00.000Z")
    val out = java.nio.file.Files.createTempDirectory("disc-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("disc-ckpt").toString
    val disc = StreamOps.discoverUsers(spark, root,
      graft.pipeline.TakeoutIngest.takeoutSchema)
    StreamOps.toUserPartitionedSink(disc, out, ckpt).awaitTermination()
    assert(spark.conf.get(mode) == sessionMode)
    val got = spark.read.parquet(out)
    assert(got.select("user_id").distinct().count() == 2)
    // second tick with a new user: only new files processed, sink stays consistent
    write("u3", "2024-01-03T10:00:00.000Z")
    StreamOps.toUserPartitionedSink(
      StreamOps.discoverUsers(spark, root, graft.pipeline.TakeoutIngest.takeoutSchema),
      out, ckpt).awaitTermination()
    assert(spark.read.parquet(out).select("user_id").distinct().count() == 3)
  }

  test("streaming pixel dedup: cross-micro-batch collapse, hand-computed groups") {
    import spark.implicits._
    import graft.multimodal.{ImageDecode, Multimodal}
    // image A (2x1: (10,20,30),(40,50,60)) encoded TWO byte-different ways,
    // image B (1x1: (1,2,3)) once; each row lands in its OWN staged file so
    // maxFilesPerTrigger=1 forces the duplicate into a LATER micro-batch —
    // the dedup state must survive the batch boundary to collapse it
    val aRgb = Array[Byte](10, 20, 30, 40, 50, 60)
    val bRgb = Array[Byte](1, 2, 3)
    val rows = Seq(
      (1L, "image", ImageDecode.encodePng(2, 1, aRgb)),
      (2L, "image", ImageDecode.encodePng(1, 1, bRgb)),
      (3L, "image", ImageDecode.encodePpm(2, 1, aRgb))) // pixel-dup of 1
    val dir = java.nio.file.Files.createTempDirectory("pixdedup").toString
    rows.foreach { r =>
      Seq(r).toDF("media_id", "kind", "bytes")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val schema = spark.read.parquet(dir).schema
    val deduped = StreamOps.dedupWithinWatermark(
      Multimodal.pixelFingerprint(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir))
        .withColumn("ts", timestamp_seconds(lit(1700000000L))),
      keys = Seq("fingerprint"), watermark = "1 hour")
    val got = runToMemory(
      deduped.select(col("width"), col("height"), col("r_sum"), col("g_sum"),
        col("b_sum")), "pixdedup", "append")
    // hand-computed: A -> (2,1, r=50,g=70,b=90); B -> (1,1, r=1,g=2,b=3)
    assert(canon(got) == canon(Seq(
      (2, 1, 50L, 70L, 90L), (1, 1, 1L, 2L, 3L))
      .toDF("width", "height", "r_sum", "g_sum", "b_sum")))
  }
}
