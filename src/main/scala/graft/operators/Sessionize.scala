package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.enrich.LLMClient
import graft.functions.{extract_json_objects, seconds_of_day}

/** LLM sessionization of an activity stream (SURVEY §2 EP2 step 1 /
  * assets/recent_history.py:67-124 + utils/recent_history_utils.py:82-186).
  *
  * Input: activity rows `(user_id: long, ts: timestamp-compatible,
  * title: string)`. Per (user, day): rows are ordered, cut into
  * `chunkSize`-row chunks (op 28), rendered as an `HH:mm | title` table,
  * summarized by the `LLMClient` into session JSON, then extracted with the
  * balanced-brace scanner and validated exactly like the reference:
  * non-object snippets, wrong key sets, and malformed `HH:mm` times are
  * dropped *and counted* (`Dataset.observe` metrics "sessionize" →
  * n_snippets/invalid_keys/invalid_times — the reference's error-rate
  * metadata, assets/recent_history.py:107-120).
  *
  * Scale: one shuffle to (user, date) chunk grouping; the LLM call is a
  * `mapPartitions` over ~chunk-count rows (thousands of× smaller than the
  * activity table); results are re-joined to nothing — the session frame is
  * already the enriched unit. Mark: enrichment happens once per chunk; the
  * output should be persisted/checkpointed by callers before branching
  * (non-deterministic-by-contract boundary, SURVEY §4).
  */
object Sessionize {

  val sessionSchema: StructType = StructType(Seq(
    StructField("time_start", StringType),
    StructField("time_end", StringType),
    StructField("description", StringType),
    StructField("interests", ArrayType(StringType))))

  private val hhmm = "^\\d{2}:\\d{2}$"

  /** Fixed-width `HH:mm | title` table — titles padded to the chunk's max
    * title length (SURVEY §2.4 op 21: the reference sizes its prompt table
    * from `frame["title"].str.len_chars().max()`). */
  def renderPrompt(rows: Seq[(String, String)]): String = {
    val width = if (rows.isEmpty) 0 else rows.map(_._2.length).max
    val table = rows.map { case (h, t) => s"$h | ${t.padTo(width, ' ')}" }.mkString("\n")
    "Summarize the following activity rows (time | title) into JSON sessions with keys " +
      "time_start, time_end, description, interests:\n" + table
  }

  /** The exploded snippet stream with its validation flags and the
    * `observe("sessionize", …)` counters attached — [[sessions]] filters
    * it; q86 dumps the `snippet` column to a scratch table so its DuckDB
    * oracle can replay the SAME drop rules (key-set + HH:mm regex checks,
    * utils/recent_history_utils.py:138-186) and hash-compare the counts. */
  private[graft] def validatedSnippets(activity: DataFrame, llm: LLMClient,
      chunkSize: Int = 15): DataFrame = {
    Chunker.responses(activity, chunkSize)(rows => llm.complete(rows.map(renderPrompt)))
      .select(col("user_id"), col("date"),
        explode(extract_json_objects(col("response"), explodeArrays = true)).as("snippet"))
      .withColumn("keys_ok",
        array_sort(json_object_keys(col("snippet"))) ===
          array(lit("description"), lit("interests"), lit("time_end"), lit("time_start")))
      .withColumn("parsed", from_json(col("snippet"), sessionSchema))
      .withColumn("times_ok",
        col("parsed.time_start").rlike(hhmm) && col("parsed.time_end").rlike(hhmm))
      .observe("sessionize",
        count(lit(1)).as("n_snippets"),
        sum(when(!col("keys_ok"), 1).otherwise(0)).as("invalid_keys"),
        sum(when(col("keys_ok") && !col("times_ok"), 1).otherwise(0)).as("invalid_times"))
  }

  /** @return sessions `(user_id, date, time_start "HH:mm", time_end "HH:mm",
    *         start_s, end_s, description, interests)` */
  def sessions(activity: DataFrame, llm: LLMClient, chunkSize: Int = 15): DataFrame =
    validatedSnippets(activity, llm, chunkSize)
      .filter(col("keys_ok") && col("times_ok"))
      .select(
        col("user_id"), col("date"),
        col("parsed.time_start").as("time_start"),
        col("parsed.time_end").as("time_end"),
        seconds_of_day(col("parsed.time_start")).as("start_s"),
        seconds_of_day(col("parsed.time_end")).as("end_s"),
        col("parsed.description").as("description"),
        col("parsed.interests").as("interests"))
}
