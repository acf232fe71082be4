package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.enrich.LLMClient

/** Two-turn interest extraction — the reference's old/full path
  * (SURVEY §2.9 op 55 / utils/old_history_utils.py:55-126): per (user, day,
  * 15-row chunk) the LLM is asked for an analysis (turn 1), then for a
  * bracketed `[interest, interest, ...]` list (turn 2); the list is captured
  * with a `\[(.*?)\]` regex, split, trimmed. Chunks whose response carries
  * no list are *counted* invalid (observe metric) and contribute null chunk
  * interests — per-day output keeps `chunked_interests` (nullable inner
  * arrays) and the distinct flattened `interests`, mirroring FIXTURES A6. */
object InterestsExtract {

  def firstPrompt(rows: Seq[(String, String)]): String =
    "Analyze the following activity rows (time | title):\n" +
      rows.map { case (h, t) => s"$h | $t" }.mkString("\n")

  def secondPrompt(rows: Seq[(String, String)], firstResponse: String): String =
    firstPrompt(rows) + "\n[SECOND_TURN] Previous analysis: " + firstResponse +
      "\nReply with a single bracketed list of interest keywords."

  /** The per-chunk parsed responses with the `observe("interests", …)`
    * counters attached — [[interests]] aggregates it; q86 dumps the
    * `response` column to a scratch table so its DuckDB oracle can replay
    * the same `\[(.*?)\]` capture rule and hash-compare the counts. */
  private[graft] def parsedResponses(activity: DataFrame, llm: LLMClient,
      chunkSize: Int = 15): DataFrame = {
    // two chained turns — the second prompt embeds the first response
    val responses = Chunker.responses(activity, chunkSize) { rows =>
      val first = llm.complete(rows.map(firstPrompt))
      llm.complete(rows.zip(first).map { case (r, f) => secondPrompt(r, f) })
    }
    parse(responses)
      .observe("interests",
        count(lit(1)).as("n_chunks"),
        sum(when(col("chunk_interests").isNull, 1).otherwise(0)).as("invalid_responses"))
  }

  /** The `[...]` capture + trim/empty-filter over a response frame —
    * pure parsing, no enrichment. */
  private def parse(responses: DataFrame): DataFrame =
    responses
      .withColumn("captured", regexp_extract(col("response"), "\\[(.*?)\\]", 1))
      .withColumn("chunk_interests",
        when(col("captured") === "", lit(null))
          .otherwise(expr(
            "filter(transform(split(captured, ','), x -> trim(x)), x -> x != '')")))

  /** [[interests]]' parse/aggregate half over an ALREADY-MATERIALIZED
    * response frame (user_id, date, chunk_id, response) — lets a caller
    * that dumps the raw response stream (q53's oracle mechanism) derive
    * the per-day interests from its own dump, so the two-turn LLM chain
    * runs ONCE per query instead of once per half. */
  def interestsFromResponses(responses: DataFrame): DataFrame =
    aggregateParsed(parse(responses))

  /** @return per-day frame `(user_id, date, chunked_interests
    *         array<array<string>>, interests array<string>,
    *         count_invalid_responses)` */
  def interests(activity: DataFrame, llm: LLMClient, chunkSize: Int = 15): DataFrame =
    aggregateParsed(parsedResponses(activity, llm, chunkSize))

  private def aggregateParsed(parsed: DataFrame): DataFrame =
    parsed
      .groupBy(col("user_id"), col("date"))
      .agg(
        sort_array(collect_list(struct(col("chunk_id"), col("chunk_interests")))).as("ci"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("chunk_interests").isNull, 1).otherwise(0)).as("count_invalid_responses"))
      .select(
        col("user_id"), col("date"),
        expr("transform(ci, x -> x.chunk_interests)").as("chunked_interests"),
        expr("array_sort(array_distinct(flatten(filter(transform(ci, x -> x.chunk_interests), x -> x is not null))))")
          .as("interests"),
        col("count_invalid_responses"))
}
