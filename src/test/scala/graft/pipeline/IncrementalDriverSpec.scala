package graft.pipeline

import graft.SparkSpec
import graft.enrich.{LLMClient, StubEmbedder, StubSessionsLLM}
import org.apache.spark.sql.functions._

/** An LLM endpoint that is down. */
final class FailingLLM extends LLMClient {
  override def complete(prompts: Seq[String]): Seq[String] =
    throw new IllegalStateException("LLM unavailable")
}

class IncrementalDriverSpec extends SparkSpec {

  private def writeUser(root: String, user: String, times: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(root, user)
    java.nio.file.Files.createDirectories(dir)
    val rows = times.zipWithIndex.map { case (t, i) =>
      s"""{"header":"Search","title":"query number $i","titleUrl":"u","time":"$t","products":["Search"]}"""
    }
    java.nio.file.Files.writeString(dir.resolve("MyActivity.json"),
      "[" + rows.mkString(",") + "]")
  }

  test("tick → process new users only → idempotent store → retire") {
    val root = java.nio.file.Files.createTempDirectory("inc-root").toString
    val store = java.nio.file.Files.createTempDirectory("inc-store").toString + "/sessions"
    val ckpt = java.nio.file.Files.createTempDirectory("inc-ckpt").toString

    writeUser(root, "alice", Seq("2024-01-01T10:00:00.000Z", "2024-01-01T10:05:00.000Z"))
    writeUser(root, "bob", Seq("2024-02-01T09:00:00.000Z"))

    def tick(): Unit = IncrementalDriver.tick(spark, root, store, ckpt,
      new StubSessionsLLM, new StubEmbedder)

    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    tick()
    // nothing a micro-batch cached outlives it
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds)
    val after1 = spark.read.parquet(store)
    assert(after1.select("user_id").distinct().count() == 2)
    val aliceRows1 = after1.filter(col("user_id") === "alice").collect().map(_.toString).sorted

    // second tick with no new files: nothing reprocessed, store unchanged
    tick()
    val after2 = spark.read.parquet(store)
    assert(after2.count() == after1.count())
    assert(after2.filter(col("user_id") === "alice").collect().map(_.toString).sorted
      .sameElements(aliceRows1))

    // new user arrives → only that partition changes
    writeUser(root, "carol", Seq("2024-03-01T12:00:00.000Z"))
    tick()
    val after3 = spark.read.parquet(store)
    assert(after3.select("user_id").distinct().count() == 3)
    assert(after3.filter(col("user_id") === "alice").collect().map(_.toString).sorted
      .sameElements(aliceRows1))

    // GDPR removal
    IncrementalDriver.retireUsers(spark, store, Seq("bob"))
    val after4 = spark.read.parquet(store)
    assert(after4.select("user_id").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("alice", "carol"))
  }

  test("a failing micro-batch leaves nothing cached") {
    val root = java.nio.file.Files.createTempDirectory("inc-fail-root").toString
    val store = java.nio.file.Files.createTempDirectory("inc-fail-store").toString + "/sessions"
    val ckpt = java.nio.file.Files.createTempDirectory("inc-fail-ckpt").toString
    writeUser(root, "alice", Seq("2024-01-01T10:00:00.000Z", "2024-01-01T10:05:00.000Z"))
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception] {
      IncrementalDriver.tick(spark, root, store, ckpt, new FailingLLM, new StubEmbedder)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("LLM unavailable")), e)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds)
  }
}
