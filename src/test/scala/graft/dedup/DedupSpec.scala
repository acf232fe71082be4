package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (4L, "completely different words about spark catalyst optimizer and shuffles here"),
    (5L, "short doc"))
    .toDF("doc_id", "text")

  test("exact: duplicate maps to min id, others keep themselves") {
    val m = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(m(2L) == (1L, true))
    assert(m(1L) == (1L, false))
    assert(m(4L) == (4L, false))
  }

  test("minhash LSH finds the near-dup pair and not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("mergeIntoBandIndex equals banding the union corpus row for row") {
    val corpus = docs.filter(col("doc_id") <= 3)
    val batch = docs.filter(col("doc_id") > 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "band", "bucket").as[(Long, Int, Long)].collect().toSet
    val merged = Dedup.mergeIntoBandIndex(batch, "doc_id", "text",
      Dedup.minhashBandBuckets(corpus, "doc_id", "text"))
    assert(rows(merged) == rows(Dedup.minhashBandBuckets(docs, "doc_id", "text")))
    // and a probe against the merged index behaves like one against the
    // rebuilt index (doc 1's dup pair is findable through either)
    val probe = Dedup.probeIndex(
      Seq((10L, docs.filter(col("doc_id") === 1)
        .select("text").as[String].head)).toDF("doc_id", "text"),
      "doc_id", "text", merged)
      .as[(Long, Long)].collect().toSet
    assert(probe.contains((10L, 1L)) && probe.contains((10L, 2L)))
  }

  test("simhash near-dup: identical docs at hamming 0; hamming bound holds") {
    val pairs = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue()).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.values.forall(_ <= 16))
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
    // the ≤3-hamming pigeonhole guarantee: pairs within 3 bits MUST be found
    val guaranteed = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guaranteed.contains((1L, 2L)))
  }

  test("simhash pigeonhole is exhaustive at sf0.1 (q57's claim at bench scale)") {
    // soundness + completeness of the 16-bit-chunk candidate generation
    // against a driver brute force over all C(5000,2) fingerprint pairs:
    // the banded plan must find EXACTLY the ≤3-hamming pairs
    import graft.functions.simhash64
    val docs01 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val found = Dedup.simhashNearDup(docs01, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue()).toMap
    val fps = docs01.select(col("doc_id"), simhash64(Dedup.tokens(col("text"))).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = scala.collection.mutable.Map.empty[(Long, Long), Long]
    var i = 0
    while (i < fps.length) {
      var j = i + 1
      while (j < fps.length) {
        val h = java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2).toLong
        if (h <= 3) {
          val key = if (fps(i)._1 < fps(j)._1) (fps(i)._1, fps(j)._1)
                    else (fps(j)._1, fps(i)._1)
          truth(key) = h
        }
        j += 1
      }
      i += 1
    }
    info(s"sf0.1: ${truth.size} true pairs within hamming 3")
    assert(found == truth.toMap)
  }

  test("canonicalize collapses a transitive near-dup chain to one representative") {
    // j(1,2)=3/5, j(2,3)=3/5 pass a 0.5 threshold; j(1,3)=2/6 does NOT —
    // pairwise keep/drop would leave {1,2} and {2,3} inconsistently, the
    // component collapse must map all three to doc 1. Doc 9 is untouched.
    val chain = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "a b e f"), (9L, "x y z w"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val verified = Dedup.jaccardVerify(pairs, chain, "doc_id", "text", 0.5)
    assert(verified.select("id_a", "id_b").as[(Long, Long)].collect().toSet ===
      Set((1L, 2L), (2L, 3L)))
    val got = Dedup.canonicalize(verified, chain, "doc_id")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, true), (9L, 9L, false)))
  }

  test("canonicalizeBy keeps the best-scored member; ties break to min id") {
    // same transitive chain, but doc 3 has the highest score → whole
    // cluster maps to 3, not to min-id 1; the singleton keeps itself
    val chain = Seq(
      (1L, "a b c d", 10L), (2L, "a b c e", 20L), (3L, "a b e f", 30L),
      (9L, "x y z w", 99L))
      .toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val verified = Dedup.jaccardVerify(pairs, chain, "doc_id", "text", 0.5)
    val got = Dedup.canonicalizeBy(verified, chain, "doc_id", "score")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 3L, true), (2L, 3L, true), (3L, 3L, false), (9L, 9L, false)))
    // score tie across the whole cluster → smallest id wins
    val tied = chain.withColumn("score", lit(7L))
    val gotTied = Dedup.canonicalizeBy(verified, tied, "doc_id", "score")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(gotTied.toSeq === Seq(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, true), (9L, 9L, false)))
  }

  test("embedding near-dup respects bucket boundary and threshold") {
    val vecs = Seq(
      (1L, 0, Seq(1f, 0f, 0f)),
      (2L, 0, Seq(0.99f, 0.1f, 0f)), // same bucket, close
      (3L, 1, Seq(1f, 0f, 0f)), // other bucket — never paired with 1
      (4L, 0, Seq(0f, 1f, 0f))) // same bucket, orthogonal
      .toDF("id", "bucket", "vec")
    val pairs = Dedup.embeddingNearDup(vecs, "id", "vec", "bucket", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("cappedPairs: deterministic split, payload orientation, observe counter") {
    val df = (1L to 10L).map(i => (0, i, i * 10)).toDF("b", "id", "v")
    // the cap window's order, ranked independently: (xxhash64(id), id)
    val order = df.select(col("id"), xxhash64(col("id"))).as[(Long, Long)]
      .collect().sortBy(r => (r._2, r._1)).map(_._1)
    val keptIds = order.take(3).toSet
    val pairs = Dedup.cappedPairs(df, Seq("b"), Seq("v"), 3, "t_cap")
    val rows = pairs.select("id_a", "id_b", "v_a", "v_b")
      .as[(Long, Long, Long, Long)].collect()
    rows.foreach { case (a, b2, va, vb) =>
      assert(a < b2)
      assert(va == a * 10 && vb == b2 * 10) // payload follows its id through the swap
    }
    val (kept, star) = rows.partition { case (a, b2, _, _) => keptIds(a) && keptIds(b2) }
    assert(kept.length == 3)
    assert(star.length == 7)
    // exactly ONE representative: every star pair links a tail member to
    // it, and it is among the kept ids (the bucket's rank-1 member)
    val reps = star.map(r => if (keptIds(r._1)) r._1 else r._2).toSet
    assert(reps == Set(order.head))
    assert(star.map(r => if (keptIds(r._1)) r._2 else r._1).toSet == order.drop(3).toSet)
    // never silent: the observe counter reports the demoted members, on
    // this frame's first action and again on a second one
    for (_ <- 1 to 2) {
      val m = graft.operators.ObservedMetrics.collect(pairs).collect()
        .map(r => r.getString(1) -> r.getDouble(2)).toMap
      assert(m("demoted_members") == 7.0)
      assert(m("max_bucket_members") == 10.0)
    }
    // determinism: a second run splits identically
    val again = Dedup.cappedPairs(df, Seq("b"), Seq("v"), 3, "t_cap2")
      .select("id_a", "id_b", "v_a", "v_b").as[(Long, Long, Long, Long)].collect()
    assert(again.toSet == rows.toSet)
  }

  test("near-dup generators leave nothing cached") {
    val sc = spark.sparkContext
    val vecs = Seq((1L, 0, Seq(1f, 0f)), (2L, 0, Seq(0.99f, 0.1f)), (3L, 1, Seq(1f, 0f)))
      .toDF("id", "bucket", "vec")
    val before = sc.getPersistentRDDs.keySet.toSet
    for (_ <- 1 to 2) Seq(
        Dedup.minhashLshCandidates(docs, "doc_id", "text"),
        Dedup.simhashCandidates(docs, "doc_id", "text"),
        Dedup.embeddingNearDup(vecs, "id", "vec", "bucket", threshold = 0.9))
      .foreach { df =>
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("InMemoryTableScan"), plan)
      }
    assert(sc.getPersistentRDDs.keySet.forall(before),
      sc.getPersistentRDDs.values.map(_.toString).mkString("\n"))
  }

  test("bucket cap: degenerate all-identical corpus stays linear, still one canonical cluster") {
    // VERDICT r10 item 1's fixture: N identical docs land in ONE bucket per
    // band — uncapped, that is C(N,2) candidate pairs; capped, the kept set
    // pairs exactly (C(cap,2)) and each tail member links once to the
    // representative, so volume is C(cap,2) + (N - cap), linear in N.
    val n = 60
    val cap = 8
    val boiler = (1L to n.toLong)
      .map(i => (i, "exact same boilerplate text repeated across the whole corpus"))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashLshCandidates(boiler, "doc_id", "text", bucketCap = cap)
      .collect()
    // identical docs share every band bucket and the hash order is
    // band-independent, so the same cap ids are kept in all 4 bands and
    // every band emits the same star pairs → distinct count is exact
    assert(cands.length == cap * (cap - 1) / 2 + (n - cap))
    // canonical result unchanged vs uncapped: ONE cluster keeping doc 1
    val canon = Dedup.nearDupCanonical(boiler, "doc_id", "text", bucketCap = cap)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(canon.size == n)
    assert(canon.values.map(_._1).toSet == Set(1L))
    assert(canon.count(_._2._2) == n - 1)
    // cap above the bucket size → exactly the uncapped all-pairs set
    val uncapped = Dedup.minhashLshCandidates(boiler, "doc_id", "text", bucketCap = n + 1)
    assert(uncapped.count() == n.toLong * (n - 1) / 2)
  }

  test("bucket cap: simhash star path keeps fingerprints consistent") {
    val n = 30
    val cap = 4
    val boiler = (1L to n.toLong)
      .map(i => (i, "identical words every single time for all documents"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDup(boiler, "doc_id", "text", maxHamming = 3,
      bucketCap = cap).collect()
    // identical text → identical fingerprints → hamming 0 everywhere; the
    // pair count is capped-linear exactly as the minhash case
    assert(pairs.length == cap * (cap - 1) / 2 + (n - cap))
    assert(pairs.forall(_.getAs[Number]("hamming").longValue() == 0L))
  }

  test("bucket cap: embedding near-dup demotes an oversized bucket to star pairs") {
    val n = 20
    val cap = 3
    val vecs = (1L to n.toLong).map(i => (i, 0, Seq(1f, 0f, 0f)))
      .toDF("vid", "bucket", "vec")
    val pairs = Dedup.embeddingNearDup(vecs, "vid", "vec", "bucket",
      threshold = 0.9, bucketCap = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length == cap * (cap - 1) / 2 + (n - cap))
    // all are sim-1 pairs; canonicalize still collapses everything to one keep
    val canon = Dedup.canonicalize(
      Dedup.embeddingNearDup(vecs, "vid", "vec", "bucket", 0.9, cap),
      vecs, "vid").collect()
    assert(canon.map(_.getLong(1)).toSet == Set(1L))
  }

  // q56/q57/q97/q98/q103 materialize these candidate frames to scratch
  // parquet inside run(), so PlanAuditSpec only sees the trivial read-back
  // plan — the pair-generating joins are audited HERE instead: every one
  // must be an equi-join on its bucket key (Σbucket², never n²). A
  // CartesianProduct or BroadcastNestedLoopJoin in any of them is the
  // exact scale bug the banding exists to prevent.
  test("candidate generation plans: bucket equi-joins, never all-pairs") {
    val sf = "/root/testdata/sf0.001"
    val docs001 = spark.read.parquet(s"$sf/documents.parquet")
    val plans = Map(
      "minhashLshCandidates" ->
        Dedup.minhashLshCandidates(docs001, "doc_id", "text"),
      "simhashCandidates" ->
        Dedup.simhashCandidates(docs001, "doc_id", "text"),
      "jaccardVerify" ->
        Dedup.jaccardVerify(
          docs001.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b")),
          docs001, "doc_id", "text", threshold = 0.2))
      .view.mapValues(_.queryExecution.executedPlan.toString).toMap
    plans.foreach { case (name, plan) =>
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n${plan.take(1500)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name plans a BNLJ:\n${plan.take(1500)}")
    }
    // the self-joins key on (band|chunk, bucket|key): visible as an
    // equi-join whose key list includes the bucket column
    assert(plans("minhashLshCandidates").contains("bucket"),
      plans("minhashLshCandidates").take(1500))
    assert(plans("simhashCandidates").contains("key"),
      plans("simhashCandidates").take(1500))
  }

  test("probeIndex finds planted near-dups against a stored index, bands the batch only once") {
    // existing corpus: two docs; batch: a near-copy of doc 1 and an
    // unrelated doc. The probe must pair 10<->1 and nothing else.
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta iota"),
      (11L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val idxPath = graft.core.Scratch.tempDir("probe_idx_spec")
    Dedup.minhashBandBuckets(existing, "doc_id", "text")
      .write.mode("overwrite").parquet(idxPath)
    val probe = Dedup.probeIndex(batch, "doc_id", "text",
      spark.read.parquet(idxPath))
    val pairs = probe.as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 1L)), s"planted dup missed: $pairs")
    assert(pairs.forall { case (n, o) => n >= 10L && o < 10L },
      s"probe pairs must be (new, existing) only: $pairs")
    // scale pin: exactly ONE banding pass in the probe plan - the index
    // side is a parquet READ, never recomputed (analyzed plan: the
    // optimizer may fold tiny local batches, but it can never ADD a
    // second signature pass)
    val plan = probe.queryExecution.analyzed.toString
    assert("minhash_signature".r.findAllIn(plan).size == 1, plan.take(2000))
  }

  test("cluster-keyed split is leakage-safe; the split hash matches an independent md5") {
    // the q192 rule applied to a hand cluster {10, 11} (canonical 10)
    // and a singleton {25}: members share 10's split; 25 follows its own.
    import java.security.MessageDigest
    def bucket(id: Long): String = {
      val md = MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id|split-v1".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val p = hex.substring(0, 2)
      if (p < "d0") "train" else if (p < "e8") "valid" else "test"
    }
    val sp = Seq((10L, 10L), (11L, 10L), (25L, 25L)).toDF("doc_id", "keep_id")
      .selectExpr("doc_id", "keep_id",
        "CASE WHEN substr(md5(CAST(keep_id AS STRING) || '|split-v1'), 1, 2) < 'd0' THEN 'train' " +
          "WHEN substr(md5(CAST(keep_id AS STRING) || '|split-v1'), 1, 2) < 'e8' THEN 'valid' ELSE 'test' END AS split")
      .as[(Long, Long, String)].collect()
      .map { case (d, k, s) => d -> ((k, s)) }.toMap
    assert(sp(10L)._2 == sp(11L)._2, "cluster members must share a split")
    assert(sp(10L)._2 == bucket(10L) && sp(25L)._2 == bucket(25L))
  }
}
