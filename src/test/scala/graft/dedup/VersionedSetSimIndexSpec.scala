package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Exactly-once contract of the VERSIONED prefix index (copy-on-write
  * MVCC — the discipline for an index with GLOBAL statistics, where
  * batch-keyed appends cannot work): double-delivered batches leave the
  * live version row-identical to a from-scratch build, orphan version
  * directories (torn writes without a ledger row) are invisible to
  * readers and overwritten by retries, prune keeps only the live
  * version while committed ids stay committed. */
class VersionedSetSimIndexSpec extends SparkSpec {
  import spark.implicits._

  private val T = 500000L

  private def fixture(n: Int, seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("ash", "oak", "fir", "elm", "yew", "bay", "box", "may")
    (1L to n.toLong).map(i =>
      i -> Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("vssidx").toString

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("double-delivered batches: live version ≡ from-scratch build, " +
      "probe parity") {
    val all = fixture(24, 61)
    val (b0, b1) = all.partition(_._1 % 3 != 0)
    val idx = VersionedSetSimIndex.create(spark, tmp(), T)
    assert(idx.mergeOnce(b0.toDF("doc_id", "text"), "doc_id", "text", 0L))
    assert(!idx.mergeOnce(b0.toDF("doc_id", "text"), "doc_id", "text", 0L))
    assert(idx.mergeOnce(b1.toDF("doc_id", "text"), "doc_id", "text", 1L))
    assert(!idx.mergeOnce(b1.toDF("doc_id", "text"), "doc_id", "text", 1L))
    assert(idx.liveVersion() == 1L)
    // merge ≡ rebuild is SetSimJoin's theorem; the class must preserve it
    val rebuilt = SetSimJoin.prefixIndex(all.toDF("doc_id", "text"),
      "doc_id", "text", T)
    assert(rowSet(idx.live()) == rowSet(rebuilt))
    // both writers emit exactly the layout readers pass as read schema
    def layout(schema: org.apache.spark.sql.types.StructType) =
      schema.map(f => f.name -> f.dataType)
    val declared = layout(SetSimJoin.indexSchema)
    assert(layout(rebuilt.schema) == declared)
    assert(layout(SetSimJoin.mergeIntoIndex(b1.toDF("doc_id", "text"),
      "doc_id", "text", SetSimJoin.prefixIndex(b0.toDF("doc_id", "text"),
        "doc_id", "text", T), T).schema) == declared)
    val probeBatch = fixture(4, 62).map { case (i, t) => (i + 1000L, t) }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(pairs(idx.probe(probeBatch.toDF("doc_id", "text"),
        "doc_id", "text")) ==
      pairs(SetSimJoin.probePrefixIndex(probeBatch.toDF("doc_id", "text"),
        "doc_id", "text", rebuilt, T)))
  }

  test("time travel: every version ≡ a from-scratch build over its batch prefix; as-of-batch resolution; uncommitted versions rejected") {
    val all = fixture(30, 83)
    val (b0, rest) = all.partition(_._1 % 3 == 1)
    val (b1, b2) = rest.partition(_._1 % 3 == 2)
    val idx = VersionedSetSimIndex.create(spark, tmp(), T)
    assert(idx.mergeOnce(b0.toDF("doc_id", "text"), "doc_id", "text", 7L))
    assert(idx.mergeOnce(b1.toDF("doc_id", "text"), "doc_id", "text", 8L))
    assert(idx.mergeOnce(b2.toDF("doc_id", "text"), "doc_id", "text", 9L))
    assert(idx.versionOf(8L).contains(1L) && idx.versionOf(99L).isEmpty)
    val prefixes = Seq(b0, b0 ++ b1, b0 ++ b1 ++ b2)
    val probe = fixture(6, 12).map { case (i, t) => (i + 1000L, t) }
    for ((prefix, v) <- prefixes.zipWithIndex) {
      val rebuilt = SetSimJoin.prefixIndex(prefix.toDF("doc_id", "text"),
        "doc_id", "text", T)
      assert(rowSet(idx.at(v.toLong)) == rowSet(rebuilt),
        s"version $v must equal the prefix rebuild")
      assert(rowSet(idx.probeAt(probe.toDF("doc_id", "text"), "doc_id",
          "text", v.toLong)) ==
        rowSet(SetSimJoin.probePrefixIndex(probe.toDF("doc_id", "text"),
          "doc_id", "text", rebuilt, T)), s"probe at $v")
    }
    intercept[IllegalArgumentException](idx.at(3L))
    // retention: after prune only live remains readable
    idx.prune()
    intercept[Exception](idx.at(0L).collect())
    assert(rowSet(idx.at(2L)) == rowSet(idx.live()))
  }

  test("an orphan version ABOVE live is invisible; a torn retry " +
      "self-heals by overwrite") {
    val all = fixture(16, 7)
    val (b0, b1) = all.partition(_._1 % 2 == 0)
    val dir = tmp()
    val idx = VersionedSetSimIndex.create(spark, dir, T)
    assert(idx.mergeOnce(b0.toDF("doc_id", "text"), "doc_id", "text", 0L))
    // orphan v7 (a "crashed future merge"): junk that WOULD probe-match
    SetSimJoin.prefixIndex(
      Seq((999L, b0.head._2)).toDF("doc_id", "text"), "doc_id", "text", T)
      .write.mode("overwrite").parquet(s"$dir/v7")
    assert(idx.liveVersion() == 0L, "orphan must not become live")
    assert(!rowSet(idx.live()).exists(_.contains(999L)))
    // torn v1 from a failed attempt of batch 1, then the retry
    SetSimJoin.prefixIndex(
      Seq((998L, b0.head._2)).toDF("doc_id", "text"), "doc_id", "text", T)
      .write.mode("overwrite").parquet(s"$dir/v1")
    assert(idx.mergeOnce(b1.toDF("doc_id", "text"), "doc_id", "text", 1L))
    assert(idx.liveVersion() == 1L)
    assert(rowSet(idx.live()) == rowSet(SetSimJoin.prefixIndex(
      all.toDF("doc_id", "text"), "doc_id", "text", T)))
    // prune keeps only the live dir; committed ids stay committed
    idx.prune()
    val dirs = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(dirs.filter(_.startsWith("v")) == Set("v1"))
    assert(!idx.mergeOnce(b0.toDF("doc_id", "text"), "doc_id", "text", 0L))
    assert(rowSet(idx.live()).nonEmpty)
  }

  test("fresh create; empty index rejects live(); negative id rejected") {
    val dir = tmp()
    val idx0 = VersionedSetSimIndex.create(spark, dir, T)
    assert(idx0.liveVersion() == -1L)
    intercept[IllegalArgumentException] { idx0.live() }
    intercept[IllegalArgumentException] {
      idx0.mergeOnce(fixture(4, 1).toDF("doc_id", "text"),
        "doc_id", "text", -1L)
    }
    assert(idx0.mergeOnce(fixture(4, 1).toDF("doc_id", "text"),
      "doc_id", "text", 0L))
    val idx1 = VersionedSetSimIndex.create(spark, dir, T)
    assert(idx1.liveVersion() == -1L, "create() must be FRESH")
  }
}
