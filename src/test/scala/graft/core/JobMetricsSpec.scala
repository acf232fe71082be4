package graft.core

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Work is attributed to the job group it ran under, exactly, once the
  * bus is drained — no sleep, even with both groups' events in flight. */
class JobMetricsSpec extends SparkSpec {

  test("two job groups get exact, separate jobs, stages, tasks and shuffle bytes") {
    val sc = spark.sparkContext
    val m = JobMetrics.install(sc)
    try {
      sc.setJobGroup("outer", "outer")
      // a: two single-stage jobs of 4 tasks each, no shuffle
      m.group("a") {
        sc.parallelize(1 to 100, 4).count(): Unit
        sc.parallelize(1 to 100, 4).map(_ * 2).count(): Unit
      }
      assert(sc.getLocalProperty(JobMetrics.GroupKey) == "outer")
      // b: one job of a 3-task map stage shuffling into 2 reduce tasks
      m.group("b") {
        sc.parallelize(1 to 1000, 3).map(i => (i % 7, i)).reduceByKey(_ + _, 2).collect(): Unit
      }
      sc.clearJobGroup()
      m.drain()
      val a = m.layers("a")
      val b = m.layers("b")
      assert((a.jobs, a.stages, a.tasks) == ((2L, 2L, 8L)))
      assert(a.shuffleReadMb == 0.0 && a.shuffleWriteMb == 0.0)
      assert((b.jobs, b.stages, b.tasks) == ((1L, 2L, 5L)))
      assert(b.shuffleWriteMb > 0.0)
      assert(b.shuffleReadMb == b.shuffleWriteMb)
      assert(m.layers("outer").jobs == 0L)
      for (l <- Seq(a, b)) {
        assert(l.cpuS >= 0.0 && l.gcS >= 0.0 && l.spillMb == 0.0)
        assert(l.driverS >= 0.0 && l.driverS <= l.wallS, l)
      }
    } finally sc.removeSparkListener(m)
  }

  test("a streaming query's jobs land in the group that started it") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("jobmetrics-stream").toFile
    val src = new java.io.File(dir, "src")
    spark.range(0, 50).selectExpr("id", "id % 5 AS k").write.json(src.getPath)
    val m = JobMetrics.install(sc)
    m.drain() // the write's events must not reach the counter below
    val all = new java.util.concurrent.atomic.AtomicLong
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = all.incrementAndGet(): Unit
    }
    sc.addSparkListener(counter)
    try {
      val q = m.group("s") {
        val q = spark.readStream.schema("id LONG, k LONG").json(src.getPath)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.groupBy("k").count().collect(): Unit
          }
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", new java.io.File(dir, "ckpt").getPath)
          .start()
        q.awaitTermination()
        q
      }
      m.drain()
      val s = m.layers("s")
      assert(s.jobs > 0)
      assert(s.jobs == all.get)
      assert(m.layers(q.runId.toString).jobs == 0L)
      assert(s.driverS >= 0.0 && s.driverS <= s.wallS, s)
    } finally {
      sc.removeSparkListener(counter)
      sc.removeSparkListener(m)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }
}
