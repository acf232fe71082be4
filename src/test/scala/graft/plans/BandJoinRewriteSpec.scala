package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class BandJoinRewriteSpec extends SparkSpec {

  /** Session with GraftExtensions active (shares the JVM SparkContext). */
  private lazy val ext: SparkSession = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        // the fixtures here are deliberately tiny; disable auto-broadcast so
        // the rule's stats gate sees them as "large" and the rewrite fires
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  private def tables(): Unit = {
    import ext.implicits._
    (1 to 500).map(i => (i.toLong, (i * 7L) % 1000))
      .toDF("a_id", "a_ts").createOrReplaceTempView("ta")
    (1 to 500).map(i => (i.toLong, (i * 13L) % 1000))
      .toDF("b_id", "b_ts").createOrReplaceTempView("tb")
  }

  private def physical(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("stats gate: broadcast-small sides are NOT bucketed (BNLJ is fine there)") {
    // same extensions, default auto-broadcast threshold: the tiny side fits
    // under it, so the rule must leave the join alone — broadcast BNLJ over
    // a small build side beats an added explode + shuffle
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val extDefault =
      try SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      finally {
        SparkSession.clearDefaultSession()
        SparkSession.clearActiveSession()
        prevDefault.foreach(SparkSession.setDefaultSession)
        prevActive.foreach(SparkSession.setActiveSession)
      }
    import extDefault.implicits._
    (1 to 200).map(i => (i.toLong, (i * 7L) % 1000))
      .toDF("a_id", "a_ts").createOrReplaceTempView("sm_a")
    (1 to 200).map(i => (i.toLong, (i * 13L) % 1000))
      .toDF("b_id", "b_ts").createOrReplaceTempView("sm_b")
    val q = extDefault.sql(
      """SELECT a_id, b_id FROM sm_a JOIN sm_b
        |ON b_ts - a_ts >= 0 AND b_ts - a_ts <= 10""".stripMargin)
    val plan = physical(q)
    assert(!plan.contains("__graft_band_bucket"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(q.count() > 0)
  }

  test("q159 declared query plans through the rewrite: bucketed, no BNLJ") {
    // the declared driver query (SqlSurfaceQueries.q159BandJoinSql) builds
    // its own no-broadcast clone of the session it receives; on an
    // extension session the clone inherits the rule and the physical plan
    // must carry the band bucket refining the user_id equi key
    val q = graft.SparkEntry.queries("q159_band_join_sql")(ext, sf)
    val plan = physical(q)
    assert(plan.contains("__graft_band_bucket"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(q.count() > 0)
  }

  test("raw-SQL band theta join plans as a hash join, not BNLJ") {
    tables()
    val q = ext.sql(
      """SELECT a_id, b_id FROM ta JOIN tb
        |ON b_ts - a_ts >= 0 AND b_ts - a_ts <= 10""".stripMargin)
    val plan = physical(q)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Join") || plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("rewritten band join returns exactly the nested-loop result") {
    tables()
    // same tables on the extension-free session → BNLJ reference result
    import spark.implicits._
    (1 to 500).map(i => (i.toLong, (i * 7L) % 1000))
      .toDF("a_id", "a_ts").createOrReplaceTempView("ta0")
    (1 to 500).map(i => (i.toLong, (i * 13L) % 1000))
      .toDF("b_id", "b_ts").createOrReplaceTempView("tb0")
    val q = """SELECT a_id, b_id FROM %s JOIN %s
              |ON b_ts - a_ts >= 0 AND b_ts - a_ts <= 10""".stripMargin
    // the band alone, and the band plus a residual the rule must keep
    for (extra <- Seq("", " AND a_id % 3 <> b_id % 3")) {
      val rewritten = ext.sql(q.format("ta", "tb") + extra)
      assert(physical(rewritten).contains("__graft_band_bucket"), extra)
      val reference = spark.sql(q.format("ta0", "tb0") + extra)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == reference, extra)
      assert(reference.nonEmpty, extra)
    }
  }

  test("candidatePairs plans through the rewrite and equals the nested-loop pairs") {
    import ext.implicits._
    val rnd = new scala.util.Random(17)
    // 4 users × 40 sessions over 6 days; one in five runs past midnight
    // (end_s > 86400), so a later-dated session can start before it ends —
    // the reference's negative cross-midnight gaps
    val rows = for (u <- 1L to 4L; i <- 0 until 40) yield {
      val start = rnd.nextInt(86000)
      val dur = if (rnd.nextInt(5) == 0) 86400 + rnd.nextInt(86400) else 60 + rnd.nextInt(7200)
      (u, f"2024-01-${1 + rnd.nextInt(6)}%02d", start, start + dur, s"s$u-$i",
        Seq.fill(3)(rnd.nextFloat() - 0.5f))
    }
    val sess = graft.operators.SessionOps.withIds(
      rows.toDF("user_id", "ds", "start_s", "end_s", "description", "embedding")
        .select(col("user_id"), to_date(col("ds")).as("date"), col("start_s"),
          col("end_s"), col("description"), col("embedding")))
    // thresholds every in-band pair passes: the output is the join itself
    val open = (1L to 4L).map(u => (u, 1e6, -2.0))
      .toDF("user_id", "time_threshold_s", "similarity_threshold")
    val maxGapS = 3600L
    val got = graft.operators.SessionOps.candidatePairs(sess, open, maxGapS)
    assert(physical(got).contains("__graft_band_bucket"), physical(got))
    val byUser = sess.select(col("user_id"), col("id"), unix_date(col("date")),
        col("start_s"), col("end_s"), col("start_ts"), col("end_ts"))
      .as[(Long, Long, Int, Int, Int, Long, Long)].collect().groupBy(_._1)
    val ordered = (for {
      (u, ss) <- byUser.toSeq; a <- ss.toSeq; b <- ss.toSeq
      if a._2 != b._2 && (b._3 > a._3 || (b._3 == a._3 && b._4 >= a._5))
    } yield (u, a._2, b._2, b._6 - a._7)).toSet
    // both band ends cut ordered pairs, and negative gaps stay in band
    assert(ordered.exists(_._4 < -86400L) && ordered.exists(_._4 > maxGapS))
    val reference = ordered.filter(p => p._4 >= -86400L && p._4 <= maxGapS)
    assert(reference.exists(_._4 < 0) && reference.exists(_._4 > 0))
    val pairs = got.select("user_id", "a_id", "b_id", "gap_s")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pairs == reference)
  }

  test("r <= l + lit form and strict bounds are recognized; equivalence holds") {
    tables()
    val q = """SELECT a_id, b_id FROM %s a JOIN %s b
              |ON b_ts < a_ts + 25 AND b_ts > a_ts - 5""".stripMargin
    val rewritten = ext.sql(q.format("ta", "tb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plan = physical(ext.sql(q.format("ta", "tb")))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    import spark.implicits._
    val reference = spark.sql(q.format("ta0", "tb0"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rewritten == reference && reference.nonEmpty)
  }

  test("negative band bounds (cross-midnight quirk shape) stay correct") {
    tables()
    val q = """SELECT a_id, b_id FROM %s JOIN %s
              |ON b_ts - a_ts >= -50 AND b_ts - a_ts <= -10""".stripMargin
    val rewritten = ext.sql(q.format("ta", "tb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reference = spark.sql(q.format("ta0", "tb0"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rewritten == reference && reference.nonEmpty)
  }

  test("long values beyond 2^53 keep exact band semantics (decimal path)") {
    // doubles round these to multiples of 4; the old double-bucket path
    // could drop matching pairs whose rounded bucket drifted
    val base = (1L << 55) + 1L
    locally {
      import ext.implicits._
      (0 until 40).map(i => (i.toLong, base + i * 3L))
        .toDF("a_id", "a_ts").createOrReplaceTempView("tbig_a")
      (0 until 40).map(i => (100L + i, base + i * 3L + 1L))
        .toDF("b_id", "b_ts").createOrReplaceTempView("tbig_b")
    }
    val q = """SELECT a_id, b_id FROM %s JOIN %s
              |ON b_ts - a_ts >= 0 AND b_ts - a_ts <= 5""".stripMargin
    val rewritten = ext.sql(q.format("tbig_a", "tbig_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference result on the extension-free session (BNLJ, exact)
    locally {
      import spark.implicits._
      (0 until 40).map(i => (i.toLong, base + i * 3L))
        .toDF("a_id", "a_ts").createOrReplaceTempView("tbig_a0")
      (0 until 40).map(i => (100L + i, base + i * 3L + 1L))
        .toDF("b_id", "b_ts").createOrReplaceTempView("tbig_b0")
    }
    val reference = spark.sql(q.format("tbig_a0", "tbig_b0"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rewritten == reference)
    assert(reference.size >= 40) // every (i, 100+i) pair plus band overlaps
  }

  test("fractional-typed band joins are not rewritten (magnitude unsafe) but stay correct") {
    locally {
      import ext.implicits._
      (1 to 100).map(i => (i.toLong, (i * 7 % 500).toDouble))
        .toDF("a_id", "a_x").createOrReplaceTempView("tfrac_a")
      (1 to 100).map(i => (i.toLong, (i * 13 % 500).toDouble))
        .toDF("b_id", "b_x").createOrReplaceTempView("tfrac_b")
    }
    val q = """SELECT a_id, b_id FROM %s JOIN %s
              |ON b_x - a_x >= 0 AND b_x - a_x <= 10""".stripMargin
    val got = ext.sql(q.format("tfrac_a", "tfrac_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    locally {
      import spark.implicits._
      (1 to 100).map(i => (i.toLong, (i * 7 % 500).toDouble))
        .toDF("a_id", "a_x").createOrReplaceTempView("tfrac_a0")
      (1 to 100).map(i => (i.toLong, (i * 13 % 500).toDouble))
        .toDF("b_id", "b_x").createOrReplaceTempView("tfrac_b0")
    }
    val ref = spark.sql(q.format("tfrac_a0", "tfrac_b0"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref && ref.nonEmpty)
  }

  test("one-sided ranges and equi joins are left untouched") {
    tables()
    // no lower bound → not a band; must still produce correct results
    val oneSided = ext.sql(
      "SELECT count(*) FROM ta JOIN tb ON b_ts - a_ts <= 10")
      .head().getLong(0)
    val ref = spark.sql(
      "SELECT count(*) FROM ta0 JOIN tb0 ON b_ts - a_ts <= 10")
      .head().getLong(0)
    assert(oneSided == ref)
    // plain equi join unaffected
    val equi = ext.sql("SELECT count(*) FROM ta JOIN tb ON a_ts = b_ts").head().getLong(0)
    val equiRef = spark.sql("SELECT count(*) FROM ta0 JOIN tb0 ON a_ts = b_ts").head().getLong(0)
    assert(equi == equiRef)
  }
}
