package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Record-linkage contract. Independent references: a driver-side
  * brute-force rank / neighborhood / reciprocal-best computation on
  * hand-built registries. */
class RecordLinkageSpec extends SparkSpec {

  import spark.implicits._

  test("withGlobalRank equals the single-window rank at every partitioning") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(500)(i => (i.toLong, s"n${rnd.nextInt(100)}"))
    val expected = rows.sortBy { case (id, n) => (n, id) }
      .zipWithIndex.map { case ((id, _), r) => id -> (r + 1L) }.toMap
    val window = rows.toDF("id", "name")
      .withColumn("rnk", row_number().over(Window.orderBy(col("name"), col("id"))).cast("long"))
      .select("id", "rnk").as[(Long, Long)].collect().toMap
    assert(window == expected)
    val sc = spark.sparkContext
    for (parts <- Seq(1, 5, 32)) {
      val df = rows.toDF("id", "name").repartition(parts)
      val cached = sc.getPersistentRDDs.keySet
      val ranked = RecordLinkage.withGlobalRank(df, Seq("name", "id"), "rnk")
      assert(ranked.columns.toSeq == Seq("id", "name", "rnk"))
      val got = ranked.select("id", "rnk").as[(Long, Long)].collect().toMap
      assert(got == expected, s"parts=$parts")
      // the rank caches nothing: no persisted RDD outlives a consumed call
      assert(sc.getPersistentRDDs.keySet == cached, s"parts=$parts")
    }
  }

  test("sortedNeighborhood equals the brute-force rank-band pairs") {
    val left = Seq((1L, "alpha"), (2L, "bravo"), (3L, "zulu"))
      .toDF("lid", "l_name")
    val right = Seq((10L, "alphq"), (11L, "brav"), (12L, "yankee"))
      .toDF("rid", "r_name")
    val all = (Seq((1L, "alpha", 0), (2L, "bravo", 0), (3L, "zulu", 0)) ++
      Seq((10L, "alphq", 1), (11L, "brav", 1), (12L, "yankee", 1)))
      .sortBy { case (id, n, s) => (n, s, id) }.zipWithIndex
    val expected = (for {
      ((lid, _, 0), rl) <- all
      ((rid, _, 1), rr) <- all
      if math.abs(rl - rr) <= 2
    } yield (lid, rid)).toSet
    val got = RecordLinkage.sortedNeighborhood(left, right, w = 2)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("mutualBest keeps only reciprocal rank-1 pairs, ties to smaller id") {
    // l1 matches r1 at 0; l2's best is ALSO r1 (dist 1) but r1's best is
    // l1 -> l2 goes unmatched even though r2 is within threshold? No:
    // l2-r2 at dist 2 is l2's rank 2, but r2's rank 1 -> not mutual.
    val cands = Seq(
      (1L, "lumen", 1L, "lumen"), // dist 0 - mutual
      (2L, "lumeq", 1L, "lumen"), // dist 1 - l2 rank1, r1 rank2 -> dropped
      (2L, "lumeq", 2L, "lumiin") // dist 2 - l2 rank2, r2 rank1 -> dropped
    ).toDF("lid", "l_name", "rid", "r_name")
    val got = RecordLinkage.mutualBest(cands, maxDist = 2)
      .select("lid", "rid", "dist").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 1L, 0)))
  }

  test("mutualBest distance ties break toward the smaller opposite id") {
    val cands = Seq(
      (1L, "onyx", 7L, "onyxx"),
      (1L, "onyx", 8L, "oonyx")) // both dist 1 -> rid 7 wins
      .toDF("lid", "l_name", "rid", "r_name")
    val got = RecordLinkage.mutualBest(cands, maxDist = 2)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 7L)))
  }

  test("equiBlock joins on the blocking key only") {
    val l = Seq((1L, "anvil dune", "anvi|1950"), (2L, "ember fjord", "embe|1951"))
      .toDF("lid", "l_name", "bkey")
    val r = Seq((9L, "anvil dunee", "anvi|1950"), (8L, "ember fjord", "embe|1999"))
      .toDF("rid", "r_name", "bkey")
    val got = RecordLinkage.equiBlock(l, r)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 9L))) // year mismatch blocks the second
  }
}
