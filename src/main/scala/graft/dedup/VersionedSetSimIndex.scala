package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EXACTLY-ONCE ingest for the persisted PREFIX index — the third index
  * family, and the one the batch-keyed-append discipline (q223/q227's
  * `Ledgered*` classes) structurally CANNOT cover: prefix rows depend on
  * GLOBAL corpus shingle frequencies, so folding a batch in rewrites
  * touched corpus rows (`SetSimJoin.mergeIntoIndex` re-derives every doc
  * sharing a shingle with the batch) — an in-place rewrite a retry
  * cannot undo. The right discipline here is the other classic one:
  * COPY-ON-WRITE VERSIONING (MVCC). Each merge writes a complete new
  * index under `v<version>/`, never touching the live one, and commits
  * by appending a (batch_id, version) ledger row LAST; readers resolve
  * the highest committed version. A redelivered batch is a no-op (its
  * id is in the ledger); a merge that died mid-write leaves an orphan
  * version directory that is INVISIBLE (no ledger row) and simply
  * overwritten by the retry. merge ≡ rebuild row-for-row is inherited
  * from `mergeIntoIndex` (q217's theorem), so every committed version
  * equals a from-scratch build over its batch prefix.
  *
  * 100 TB shape: the copy-on-write price is an index-sized write per
  * ingest cycle — exactly the cost `mergeIntoIndex` was built to beat
  * for TEXT (no corpus re-shingle: untouched rows pass through
  * verbatim, a columnar copy). Where that price is too high, cycles
  * batch up (merge daily, not per-micro-batch) — the versioning makes
  * each cycle idempotent regardless of cadence. Old versions are
  * droppable once no reader can hold them ([[prune]]).
  */
final class VersionedSetSimIndex(spark: SparkSession, path: String,
    tPpm: Long) {

  private def fs =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // the explicit read schema skips the per-read parquet schema-inference
  // job (a driver round-trip the protocol pays on every version read)
  private def readVersion(v: Long): DataFrame =
    spark.read.schema(SetSimJoin.indexSchema).parquet(s"$path/v$v")

  // Ledger state cached per instance and kept exact across this
  // instance's own appends — sound under the documented SINGLE-WRITER
  // contract (the caller is the one ingest loop; a cross-process reader
  // opens its own instance and reads the ledger fresh). Each protocol
  // step previously paid a parquet read + collect to re-learn state this
  // process had just written (measured r17: 6 ledger reads per q232 run).
  private var ledgerCache: Option[Map[Long, Long]] = None

  /** (batch_id → version) committed so far, ledger-ordered. */
  def committed(): Map[Long, Long] = ledgerCache.getOrElse {
    val m = graft.core.Ledger.rows(spark, s"$path/ledger").toMap
    ledgerCache = Some(m)
    m
  }

  /** The live (highest committed) version number; -1 when empty. */
  def liveVersion(): Long = {
    val c = committed()
    if (c.isEmpty) -1L else c.values.max
  }

  /** The live index frame. Requires ≥ 1 committed version. */
  def live(): DataFrame = {
    val v = liveVersion()
    require(v >= 0L, s"no committed version at $path")
    readVersion(v)
  }

  /** Idempotent versioned merge: false (untouched) when `batchId` is
    * committed; otherwise writes version `live+1` — a full
    * `mergeIntoIndex` of the batch into the live version, or a fresh
    * `prefixIndex` build when the index is empty — and commits by
    * appending the ledger row LAST. Overwrite mode on the version dir
    * makes a retry of a torn attempt self-healing. */
  def mergeOnce(batch: DataFrame, idCol: String, textCol: String,
      batchId: Long): Boolean = {
    require(batchId >= 0L, s"batchId must be >= 0, got $batchId")
    val c = committed()
    if (c.contains(batchId)) return false
    val vNew = (if (c.isEmpty) -1L else c.values.max) + 1L
    val next =
      if (vNew == 0L) SetSimJoin.prefixIndex(batch, idCol, textCol, tPpm)
      else SetSimJoin.mergeIntoIndex(batch, idCol, textCol,
        // the live version is vNew−1 by construction — read it directly
        // instead of re-collecting the ledger through live()
        readVersion(vNew - 1), tPpm)
    next.write.mode("overwrite").parquet(s"$path/v$vNew")
    // COMMIT POINT
    graft.core.Ledger.append(spark, s"$path/ledger", Seq((batchId, vNew)))
    // the append is durable once it returns — fold it into the cached
    // ledger state instead of re-reading what this process just wrote
    ledgerCache = Some(c + (batchId -> vNew))
    true
  }

  /** Probe a batch against the LIVE version (`SetSimJoin.
    * probePrefixIndex` — exact, no false negatives). */
  def probe(batch: DataFrame, idCol: String, textCol: String): DataFrame =
    SetSimJoin.probePrefixIndex(batch, idCol, textCol, live(), tPpm)

  /** TIME TRAVEL: the committed index frame AS OF `version` — MVCC's
    * free byproduct (every committed version is a complete immutable
    * directory, so reading history costs nothing the live read doesn't).
    * By merge ≡ rebuild (q217's theorem, applied per version), version v
    * EQUALS a from-scratch `prefixIndex` over the batch prefix committed
    * through v — the reproducibility answer ("what did dedup see when
    * batch b landed?") an audited 100 TB ingest loop must give, pinned
    * by q248's oracle. Bounded by retention: [[prune]] drops superseded
    * versions, so travel reaches only versions the retention policy
    * kept. Requires `version` be committed (orphan/torn dirs are not
    * readable history). */
  def at(version: Long): DataFrame = {
    require(committed().values.exists(_ == version),
      s"version $version not committed at $path")
    readVersion(version)
  }

  /** As-of-batch resolution: the version `batchId`'s merge committed. */
  def versionOf(batchId: Long): Option[Long] = committed().get(batchId)

  /** Probe against a historical version ([[at]]). */
  def probeAt(batch: DataFrame, idCol: String, textCol: String,
      version: Long): DataFrame =
    SetSimJoin.probePrefixIndex(batch, idCol, textCol, at(version), tPpm)

  /** Drop every version directory EXCEPT the live one: superseded
    * versions below it and orphans above it (torn writes whose commit
    * never landed). Single-writer contract — the caller is the one
    * ingest loop, so no merge can be in flight during a prune, and no
    * reader may still hold an old frame (the retention contract). The
    * ledger keeps all rows: committed batch ids stay committed. */
  def prune(): Unit = {
    val v = liveVersion()
    val st = fs.globStatus(new Path(s"$path/v*"))
    if (st != null) st.foreach { s =>
      val name = s.getPath.getName
      if (name.startsWith("v") && name.drop(1).nonEmpty &&
        name.drop(1).forall(_.isDigit) &&
        name.drop(1).toLong != v) fs.delete(s.getPath, true): Unit
    }
  }
}

object VersionedSetSimIndex {

  /** Initialize an EMPTY versioned index at `path` (prior state removed
    * — a leftover ledger would no-op new batches). */
  def create(spark: SparkSession, path: String,
      tPpm: Long): VersionedSetSimIndex = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true): Unit
    fs.mkdirs(p): Unit
    new VersionedSetSimIndex(spark, path, tPpm)
  }
}
