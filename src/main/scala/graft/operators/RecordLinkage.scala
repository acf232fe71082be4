package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Entity resolution / record linkage — the registry-reconciliation stage
  * (Fellegi & Sunter 1969 lineage) a curation pipeline runs when two
  * sources describe the same entities with dirty keys: BLOCK to bound the
  * candidate space, SCORE candidates with an edit distance, MATCH by
  * deterministic reciprocal-best-hit.
  *
  * Blocking passes (composable, union-distinct the results):
  *  - [[equiBlock]]: hash-join on a caller-built blocking key (cheap,
  *    misses records whose key fields are themselves corrupted);
  *  - [[sortedNeighborhood]] (Hernández & Stolfo 1995): global sort of
  *    BOTH registries by name, candidates = cross-side pairs within ±w
  *    ranks — catches what the equi-key missed, O(N·w) pairs total.
  *
  * Scale shapes: equiBlock is one shuffle on the key. Sorted
  * neighborhood's global rank is one range-partitioned sort numbered in
  * place, never a single-partition window; the rank-band pairing is an
  * equi-join of each left rank's 2w+1 neighbour ranks (no nested loop).
  * Matching is two per-entity windows over already-blocked candidates. */
object RecordLinkage {

  /** Dense global 1-based rank of `df` by `orderCols` (the caller's tie
    * columns included), without a single-partition window: one
    * range-partitioned sort, numbered in place by `RDD.zipWithIndex`. Its
    * partition-size job and every read of the output read that one sort
    * shuffle, so the range partitioner is sampled once and nothing is
    * cached. */
  def withGlobalRank(df: DataFrame, orderCols: Seq[String], rankCol: String): DataFrame = {
    val sorted = df.sort(orderCols.map(col): _*)
    val ranked = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    df.sparkSession.createDataFrame(ranked, sorted.schema.add(rankCol, LongType, nullable = false))
  }

  /** Pass A — equi-key blocking: inputs carry (`<side>id`, `<side>_name`,
    * `bkey`); output distinct candidate pairs. */
  def equiBlock(left: DataFrame, right: DataFrame): DataFrame =
    left.join(right, "bkey")
      .select(col("lid"), col("l_name"), col("rid"), col("r_name"))

  /** Pass B — sorted neighborhood: global rank over the UNION of both
    * registries ordered by (name, side, id); candidates = cross-side
    * pairs within `w` ranks. The ranks are dense and unique, so joining
    * `explode(sequence(lrnk − w, lrnk + w))` to `rrnk` is exact. */
  def sortedNeighborhood(left: DataFrame, right: DataFrame, w: Int): DataFrame = {
    require(w >= 0, s"negative neighborhood width $w")
    val tagged = left.select(col("lid").as("id"), col("l_name").as("name"),
        lit(0).as("side"))
      .unionAll(right.select(col("rid").as("id"), col("r_name").as("name"),
        lit(1).as("side")))
    val ranked = withGlobalRank(tagged, Seq("name", "side", "id"), "rnk")
    val l = ranked.filter(col("side") === 0)
      .select(col("id").as("lid"), col("name").as("l_name"),
        explode(sequence(col("rnk") - w, col("rnk") + w)).as("rrnk"))
    val r = ranked.filter(col("side") === 1)
      .select(col("id").as("rid"), col("name").as("r_name"), col("rnk").as("rrnk"))
    l.join(r, "rrnk")
      .select(col("lid"), col("l_name"), col("rid"), col("r_name"))
  }

  /** Reciprocal best hit over scored candidates: Levenshtein ≤ `maxDist`,
    * keep pairs that are rank-1 for BOTH their left and right entity
    * (ties toward the smaller opposite id) — deterministic one-to-one
    * matching without a sequential greedy pass. */
  def mutualBest(candidates: DataFrame, maxDist: Int): DataFrame = {
    val scored = candidates
      .withColumn("dist", levenshtein(col("l_name"), col("r_name")))
      .filter(col("dist") <= maxDist)
    val wl = Window.partitionBy(col("lid")).orderBy(col("dist"), col("rid"))
    val wr = Window.partitionBy(col("rid")).orderBy(col("dist"), col("lid"))
    scored
      .withColumn("__rl", row_number().over(wl))
      .withColumn("__rr", row_number().over(wr))
      .filter(col("__rl") === 1 && col("__rr") === 1)
      .drop("__rl", "__rr")
  }
}
