package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Bench's query-name arguments: a typo must fail loudly before any
  * SparkSession is built, not run and time nothing (or everything). */
class BenchSpec extends AnyFunSuite {

  private def rejected(args: String*): IllegalArgumentException = {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](Bench.main(args.toArray))
    assert(SparkSession.getDefaultSession == before, "a session was built first")
    e
  }

  test("a data dir in the query position is rejected before any session is built") {
    val e = rejected("testdata/sf0.01", "q01_pricing_summary")
    assert(e.getMessage.contains("unknown query name(s): testdata/sf0.01"))
    assert(e.getMessage.contains("usage"))
  }

  test("a mistyped query name is rejected before any session is built") {
    val e = rejected("q204_kcore", "q208_setsim_jion")
    assert(e.getMessage.contains("q208_setsim_jion"))
    assert(!e.getMessage.contains("q204_kcore"))
  }

  test("no names selects every declared query; names select only themselves") {
    assert(Bench.selectQueries(Nil) == SparkEntry.queries.keys.toSeq.sorted)
    assert(Bench.selectQueries(Seq("q208_setsim_join", "q204_kcore", "q208_setsim_join")) ==
      Seq("q208_setsim_join", "q204_kcore"))
  }
}
