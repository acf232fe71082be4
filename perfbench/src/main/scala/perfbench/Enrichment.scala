package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator
import graft.enrich.{Embedder, LLMClient, StubEmbedder, StubInterestsLLM, StubSessionsLLM}

/** Counting delegates around the enrichment seams. The counts are Spark
  * accumulators, so calls made inside executor tasks reach the driver. */
final class CountingLLM(inner: LLMClient, prompts: LongAccumulator, busyNs: LongAccumulator)
    extends LLMClient {
  override def complete(p: Seq[String]): Seq[String] = {
    val t0 = System.nanoTime()
    val out = inner.complete(p)
    busyNs.add(System.nanoTime() - t0)
    prompts.add(p.size.toLong)
    out
  }
}

final class CountingEmbedder(inner: Embedder, texts: LongAccumulator, busyNs: LongAccumulator)
    extends Embedder {
  override def dim: Int = inner.dim
  override def embed(t: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val out = inner.embed(t)
    busyNs.add(System.nanoTime() - t0)
    texts.add(t.size.toLong)
    out
  }
}

/** The program's stub enrichment, wrapped for counting. */
final class Enrichment(spark: SparkSession) {
  private val sc = spark.sparkContext
  val sessionPrompts: LongAccumulator = sc.longAccumulator("enrich.session_prompts")
  val interestPrompts: LongAccumulator = sc.longAccumulator("enrich.interest_prompts")
  val embedTexts: LongAccumulator = sc.longAccumulator("enrich.embed_texts")
  val busyNs: LongAccumulator = sc.longAccumulator("enrich.busy_ns")

  val sessionsLlm: LLMClient = new CountingLLM(new StubSessionsLLM, sessionPrompts, busyNs)
  val interestsLlm: LLMClient = new CountingLLM(new StubInterestsLLM, interestPrompts, busyNs)
  val embedder: Embedder = new CountingEmbedder(new StubEmbedder, embedTexts, busyNs)

  /** (session prompts, interest prompts, embedded texts, busy seconds) since
    * the last call; resets the counts. */
  def take(): (Long, Long, Long, Double) = {
    val r = (sessionPrompts.value.longValue, interestPrompts.value.longValue,
      embedTexts.value.longValue, busyNs.value / 1e9)
    Seq(sessionPrompts, interestPrompts, embedTexts, busyNs).foreach(_.reset())
    r
  }
}
