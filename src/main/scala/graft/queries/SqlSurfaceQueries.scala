package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.QueryDef
import graft.QueryDef.sql
import graft.core.Tables

/** Queries expressed as raw SQL through `spark.sql` over registered views —
  * the engine's SQL front door (same text runs on DuckDB as the oracle,
  * modulo nothing: these are written in the common dialect).
  *
  * Covers surface the DataFrame queries don't: correlated scalar
  * subqueries (SURVEY §2.3 op 19 — the reference's driver-side correlated
  * lookups, set-based), IN-subqueries, UNION ALL (op 36), CUBE grouping
  * sets. Catalyst decorrelates the subqueries into joins — worth having in
  * the benched surface because the reference did these as N×3 round-trips.
  */
object SqlSurfaceQueries {

  private def run(q: String)(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q)
  }

  def all: Seq[QueryDef] = Seq(q25ScalarSubquery, q26UnionAll, q27Cube,
    q28InSubquery, q159BandJoinSql)

  private val q25Sql =
    """SELECT o_orderkey, o_totalprice,
      |       (SELECT max(l_quantity) FROM lineitem WHERE l_orderkey = o_orderkey) AS max_qty,
      |       (SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_items
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin

  /** Correlated scalar subqueries (decorrelated to aggregates + joins). */
  val q25ScalarSubquery: QueryDef = sql("q25_scalar_subquery", q25Sql)(run(q25Sql))

  private val q26Sql =
    """SELECT 'big_order' AS src, o_orderkey AS k, o_totalprice AS v
      |FROM orders WHERE o_totalprice > 400000
      |UNION ALL
      |SELECT 'big_line' AS src, l_orderkey AS k, l_extendedprice AS v
      |FROM lineitem WHERE l_extendedprice > 90000
      |ORDER BY src, k, v""".stripMargin

  /** UNION ALL of heterogeneous selections (op 36). */
  val q26UnionAll: QueryDef = sql("q26_union_all", q26Sql)(run(q26Sql))

  // floor(x*100 + 0.5)/100 = engine-neutral 2-dp rounding: the SQL text is
  // shared verbatim with DuckDB, where round() semantics differ at
  // half-boundaries (see graft.queries.oround)
  private val q27Sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** CUBE grouping sets (full subtotal lattice). */
  val q27Cube: QueryDef = sql("q27_cube", q27Sql)(run(q27Sql))

  private val q28Sql =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
      |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** IN / NOT IN subqueries (semi/anti via subquery syntax). */
  val q28InSubquery: QueryDef = sql("q28_in_subquery", q28Sql)(run(q28Sql))

  /** A raw-SQL theta BAND join driven through the `BandJoinRewrite`
    * optimizer rule (VERDICT r10 item 6 — the rule was spec-only; this
    * gives it a driver-checked hash row and a bench time): same-user event
    * pairs within [0, 1800] seconds, written as the plain theta predicate
    * a SQL user would type (`b.ts_s BETWEEN a.ts_s AND a.ts_s + 1800`).
    * With GraftExtensions active (EngineConf registers them on every
    * engine session) the rule rewrites the band into a bucketed equi-join
    * — `__graft_band_bucket` refining the user_id hash key, the same
    * rewrite that plans the recent path's merge candidates
    * (`SessionOps.candidatePairs`). The run uses a
    * CLONED session with auto-broadcast disabled: at verify scale the
    * events scan fits under the broadcast threshold and the rule's
    * stats gate would (correctly) leave the join to broadcast — disabling
    * it forces the large-input plan shape so the driver hash row actually
    * exercises the rewrite at every sf (BandJoinRewriteSpec pins the
    * bucketed physical plan on this exact query). */
  val q159BandJoinSql: QueryDef = {
    val sparkSql =
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 AS ts_s
        |  FROM events)
        |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |       b.ts_s - a.ts_s AS gap_s
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id
        | AND b.ts_s >= a.ts_s
        | AND b.ts_s <= a.ts_s + 1800
        | AND a.event_id < b.event_id
        |ORDER BY 1, 2, 3""".stripMargin
    sql(
      "q159_band_join_sql",
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_s
        |  FROM events)
        |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |       b.ts_s - a.ts_s AS gap_s
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id
        | AND b.ts_s >= a.ts_s
        | AND b.ts_s <= a.ts_s + 1800
        | AND a.event_id < b.event_id
        |ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      val ss = s.newSession()
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.registerAll(ss, d)
      ss.sql(sparkSql)
    }
  }
}
