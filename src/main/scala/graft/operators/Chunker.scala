package graft.operators

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-(user, day) fixed-size chunking into prompt rows (SURVEY §2.4
  * op 28 / §7 "Chunker") in ONE shuffle:
  * `repartition(user_id)` + `sortWithinPartitions(user, ts, title)` +
  * a streaming per-partition grouper.
  *
  * The previous formulation (row_number window → floor(rn/15) → groupBy →
  * collect_list → sort_array) shuffled twice and materialized per-chunk
  * lists through an aggregation; this one streams each sorted partition
  * once — the chunk boundary is just a (user, date) change or a full
  * buffer. Date/hour derivation is explicit-UTC (matches the session
  * timezone contract), and ordering ties break on title exactly like the
  * window version, so chunk contents are byte-identical.
  */
object Chunker {

  private val hhmm = DateTimeFormatter.ofPattern("HH:mm").withZone(ZoneOffset.UTC)

  /** @return (user_id, date, chunk_id, rows[(hour, title)]) */
  def chunks(activity: DataFrame, chunkSize: Int)
      : Dataset[(Long, java.sql.Date, Long, Seq[(String, String)])] = {
    val spark = activity.sparkSession
    import spark.implicits._
    // Explicit partition count = the session's scale knob
    // (spark.sql.shuffle.partitions, sized per deployment in EngineConf).
    // A bare repartition(col) lets AQE coalesce this exchange by BYTES,
    // and the downstream cost is per-row LLM calls, not bytes — measured
    // r17 (q50 at sf0.1): the 1.9 MB chunk shuffle coalesced to ONE
    // partition and the whole enrichment pass ran single-threaded
    // (7 × 1-task stages, ~4 s of serial compute on a 32-core host).
    // Pinning the count keeps row-proportional parallelism; per-user
    // chunk contents are partition-count-independent (all of a user's
    // rows still land in one partition).
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    activity
      .select(col("user_id").cast("long"), col("ts").cast("timestamp"), col("title"))
      .repartition(n, col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("title"))
      .as[(Long, java.sql.Timestamp, String)]
      .mapPartitions { (it: Iterator[(Long, java.sql.Timestamp, String)]) =>
        val in = it.buffered
        new Iterator[(Long, java.sql.Date, Long, Seq[(String, String)])] {
          private var chunkId = -1L
          private var lastKey: (Long, Long) = null // (user, epochDay)

          override def hasNext: Boolean = in.hasNext

          override def next(): (Long, java.sql.Date, Long, Seq[(String, String)]) = {
            val (user, ts0, _) = in.head
            val epochDay = Math.floorDiv(ts0.getTime, 86400000L)
            val key = (user, epochDay)
            if (key != lastKey) { chunkId = 0L; lastKey = key } else chunkId += 1L
            val rows = Vector.newBuilder[(String, String)]
            var n = 0
            while (n < chunkSize && in.hasNext && {
              val (u, t, _) = in.head
              u == user && Math.floorDiv(t.getTime, 86400000L) == epochDay
            }) {
              val (_, t, title) = in.next()
              rows += ((hhmm.format(Instant.ofEpochMilli(t.getTime)), title))
              n += 1
            }
            val date = java.sql.Date.valueOf(
              java.time.LocalDate.ofEpochDay(epochDay))
            (user, date, chunkId, rows.result())
          }
        }
      }
  }

  /** [[chunks]] → `complete` → `(user_id, date, chunk_id, response)`: one
    * `complete` call per partition batch of chunk rows, which returns one
    * response per chunk in order — the LLM enrichment step of Sessionize
    * (one turn) and InterestsExtract (two chained turns). */
  def responses(activity: DataFrame, chunkSize: Int)
      (complete: Seq[Seq[(String, String)]] => Seq[String]): DataFrame = {
    val spark = activity.sparkSession
    import spark.implicits._
    chunks(activity, chunkSize)
      .mapPartitions { it =>
        val batch = it.toVector
        if (batch.isEmpty) Iterator.empty
        else batch.iterator.zip(complete(batch.map(_._4)).iterator)
          .map { case ((u, d, c, _), resp) => (u, d, c, resp) }
      }
      .toDF("user_id", "date", "chunk_id", "response")
  }
}
