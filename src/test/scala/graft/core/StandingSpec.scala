package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec

/** The one standing-artifact policy: one build per JVM per root, the
  * memoized handle on every later call, oracle-side resolution of the
  * served version, and a warm list that cannot miss an artifact. */
class StandingSpec extends SparkSpec {

  private val run = System.nanoTime()

  /** A Standing whose handle is the committed dir and whose build counts
    * its calls and records which sf it built for. */
  private def counting(name: String): (Standing[String], AtomicInteger) = {
    val builds = new AtomicInteger()
    val st = new Standing[String](s"standing_spec_${name}_$run")(
      (_, sfDir, staging) => {
        builds.incrementAndGet(): Unit
        Files.createDirectories(Paths.get(staging))
        Files.write(Paths.get(staging, "sf.txt"), sfDir.getBytes("UTF-8")): Unit
      })((_, dir) => dir)
    (st, builds)
  }
  private def builtFor(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "sf.txt")), "UTF-8")

  test("two gets on one root build once and return the same handle") {
    val (st, builds) = counting("once")
    val a = st.get(spark, "/data/sfA")
    val b = st.get(spark, "/data/sfA")
    assert(builds.get == 1)
    assert(a eq b)
    assert(builtFor(a) == "/data/sfA")
  }

  test("different roots build separately: another sf, another artifact name") {
    val (st, builds) = counting("roots")
    val a = st.get(spark, "/data/sfA")
    val b = st.get(spark, "/data/sfB")
    assert(builds.get == 2)
    assert(a.startsWith(Scratch.dir(st.name, "/data/sfA") + "/"))
    assert(b.startsWith(Scratch.dir(st.name, "/data/sfB") + "/"))
    assert(builtFor(b) == "/data/sfB")
    // the minhash 4x2 / 8x1 shape: same sf, different name
    val (other, otherBuilds) = counting("roots_8x1")
    val c = other.get(spark, "/data/sfA")
    assert(otherBuilds.get == 1 && builds.get == 2)
    assert(!c.startsWith(Scratch.dir(st.name, "/data/sfA")))
  }

  test("localDir resolves the committed version get served") {
    val (st, _) = counting("local")
    val a = st.get(spark, "/data/sfA")
    assert(st.localDir == a)
    // the oracle follows the last sf served
    val b = st.get(spark, "/data/sfB")
    assert(st.localDir == b)
    assert(VersionedPublish.currentDirLocal(Scratch.dir(st.name, "/data/sfA"))
      .contains(a))
  }

  test("a build that throws stores nothing; the next get builds again") {
    val calls = new AtomicInteger()
    val st = new Standing[String](s"standing_spec_retry_$run")(
      (_, _, staging) =>
        if (calls.incrementAndGet() == 1) throw new RuntimeException("boom")
        else Files.createDirectories(Paths.get(staging)): Unit)((_, dir) => dir)
    intercept[RuntimeException](st.get(spark, "/data/sfA"))
    val served = st.get(spark, "/data/sfA")
    assert(calls.get == 2)
    assert(st.localDir == served)
  }

  test("the warm list holds every Standing value the query modules define") {
    // every module object compiled into graft.queries (main classes, found
    // on disk so a new module is covered without editing this test)
    val classes = Class.forName("graft.queries.package$")
      .getProtectionDomain.getCodeSource.getLocation.toURI
    val dir = new java.io.File(new java.io.File(classes), "graft/queries")
    val modules = dir.list().toSeq
      .collect { case n if n.matches("[A-Za-z0-9]+\\$\\.class") => n.stripSuffix(".class") }
    assert(modules.contains("TextQueries$"))
    val defined = modules.flatMap { m =>
      val cls = Class.forName(s"graft.queries.$m")
      val module = cls.getField("MODULE$").get(null)
      cls.getDeclaredFields.toSeq
        .filter(f => classOf[Standing[_]].isAssignableFrom(f.getType))
        .map { f => f.setAccessible(true); f.get(module).asInstanceOf[Standing[_]] }
    }
    val listed = graft.queries.standingArtifacts
    assert(defined.nonEmpty && defined.size == listed.size)
    assert(defined.forall(d => listed.exists(_ eq d)))
    // oracles read these roots by path: the names are a contract
    assert(listed.map(_.name).toSet == Set("postings_shared",
      "docemb_ivf_shared", "ranker_lists_shared", "copurchase_pairs",
      "hyperball_pest_shared", "embserve_shared", "minhash_cand_4x2",
      "minhash_cand_8x1", "embsessions_shared"))
    val names = listed.map(_.name)
    assert(names.indexOf("copurchase_pairs") < names.indexOf("hyperball_pest_shared"))
  }
}
