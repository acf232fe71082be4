package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

package object queries {

  /** DuckDB-equivalent double rounding: `std::round(x * 10^n) / 10^n`
    * (half away from zero, computed in binary floating point).
    *
    * Spark's `round()` goes through BigDecimal HALF_UP on the *decimal*
    * rendering of the double, which disagrees with DuckDB on half-boundary
    * values (e.g. 91204.335 → Spark 91204.33, DuckDB 91204.34). Every
    * oracle-checked query rounds computed doubles with THIS helper so both
    * engines perform the identical FP operation sequence.
    */
  def oround(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    val scaled = c.cast("double") * lit(p)
    when(c.isNull, lit(null).cast("double"))
      .otherwise((signum(scaled) * floor(abs(scaled) + lit(0.5))).cast("double") / lit(p))
  }

  /** DuckDB SQL for integer division TRUNCATING TOWARD ZERO — the
    * semantics of Spark's `div` (Java long division) and Scala `Long./`.
    * DuckDB's `//` FLOORS, so every signed oracle division must go
    * through this wrapper or silently disagree on negative numerators.
    * One definition; q153/q154 (and future integer-training oracles)
    * share it. */
  def sqlDivT(a: String, b: String): String =
    s"CASE WHEN ($a) < 0 THEN -((-($a)) // ($b)) ELSE ($a) // ($b) END"

  /** Epoch milliseconds of a parquet `TIMESTAMP_NTZ` column, interpreting the
    * wall-clock as UTC — matches DuckDB `epoch_ms(ts)` on naive timestamps.
    * (Session timezone is pinned to UTC by Verify/Bench/tests.) */
  def epochMs(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** Every standing artifact the query modules serve from, in dependency
    * order (hyperBallPestShared builds from coPurchaseShared). Bench warms
    * them in this order; a new `core.Standing` value must be listed here. */
  lazy val standingArtifacts: Seq[graft.core.Standing[_]] = Seq(
    TextQueries.postingsShared,
    TextQueries.docIvfShared,
    TextQueries.rankerListsShared,
    WarehouseQueries.coPurchaseShared,
    WarehouseQueries.hyperBallPestShared,
    VectorQueries.embServeShared,
    DedupQueries.minhashCand4x2,
    DedupQueries.minhashCand8x1,
    PipelineQueries.embSessionsShared)
}
