package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A standing, read-only serve artifact shared by several queries — built
  * once, published through [[VersionedPublish]], and served to every later
  * consumer in the process (the build is ETL; each consuming query prices
  * its serve over the standing artifact).
  *
  * One policy for every artifact:
  *   - the root is `Scratch.dir(name, sfDir)`, so an oracle reads the
  *     artifact by its name (the on-disk name is part of the oracle
  *     contract and must not change);
  *   - the first [[get]] per root in a JVM publishes a NEW version
  *     (`VersionedPublish` builds fresh per call, so a fixture regenerated
  *     between processes is never served stale) and opens it; later calls
  *     return the memoized handle;
  *   - [[localDir]] resolves the committed version on the local
  *     filesystem for oracle SQL, which is built without a SparkSession.
  *
  * RETENTION caveat: the memoized handle pins one artifact dir for the
  * process lifetime, i.e. a read of unbounded length, while
  * `publish(retain = 2)` lets two publishes from OTHER processes prune that
  * dir. Here every process publishes its own version on first touch and
  * reads only that (≤ 1 publish per process per root), so the pinned dir
  * is never older than retain − 1 publishes; a fleet that republishes
  * continuously under long-lived readers must size `retain` to the
  * longest reader or re-resolve the live version when the pinned path
  * disappears. */
final class Standing[A](val name: String)(
    build: (SparkSession, String, String) => Unit)(
    open: (SparkSession, String) => A) {

  // one entry per root (= per sf dir); a build that throws stores nothing,
  // so the next call retries it
  private val opened = new java.util.concurrent.ConcurrentHashMap[String, A]()

  /** The artifact for `sfDir`, built and published on first use. */
  def get(s: SparkSession, sfDir: String): A =
    opened.computeIfAbsent(Scratch.dir(name, sfDir), root =>
      open(s, VersionedPublish.publish(s, root)(build(s, sfDir, _))))

  /** The committed artifact dir of the last sf this artifact served, for
    * oracle SQL. A never-published root resolves to the root itself, which
    * Verify's scratch check then reports as missing. */
  def localDir: String = {
    val root = Scratch.lastDir(name)
    VersionedPublish.currentDirLocal(root).getOrElse(root)
  }
}

object Standing {

  /** A single-frame parquet artifact. The memoized handle is the committed
    * dir; consumers open it with `s.read.parquet` on each use. */
  def parquet(name: String)(frame: (SparkSession, String) => DataFrame)
      : Standing[String] =
    new Standing[String](name)((s, d, staging) =>
      frame(s, d).write.parquet(staging))((_, dir) => dir)
}
