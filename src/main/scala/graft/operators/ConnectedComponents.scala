package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components (SURVEY §2.4 op 24: the set-based replacement for
  * the reference's sequential UPDATE/DELETE merge loop,
  * assets/recent_history.py:413-447): driver-side union-find for small
  * graphs, large-star / small-star contraction otherwise. Its callers are
  * whole-graph ones (Dedup, `GraphOps.components`, `VersionedCcIndex`);
  * the recent path's session merge never crosses a user, so
  * `SessionOps.merge` runs the same [[unionFind]] per user inside its plan.
  *
  * Semantics contract (SURVEY §2.4): merged sessions = connected components
  * of the *initial* candidate-pair graph — exactly what the reference's loop
  * computes, because its pair list is materialized once, before any merge.
  *
  * Lineage is truncated every round via `localCheckpoint` — without it
  * the loop re-executes the whole upstream plan each pass and the lineage
  * grows unboundedly (a classic iterative-Spark failure at scale).
  */
object ConnectedComponents {

  /** @param edges undirected edge list; columns `src`, `dst` (long ids,
    *              globally unique across any partition keys — callers with
    *              per-user graphs encode the user into the id or use
    *              user-unique ids)
    * @param localThreshold edge count below which the components are
    *              computed by driver-side union-find instead of the
    *              iterative distributed loop. Adaptive small-input fast
    *              path (same spirit as broadcast-join selection): each
    *              distributed iteration costs several Spark jobs, which
    *              dwarfs the work for graphs that fit trivially in memory;
    *              at cluster scale the distributed path engages.
    * @return (`id`, `component`) — component = min id reachable
    */
  def components(edges: DataFrame, maxIter: Int = 50,
      localThreshold: Long = 1L << 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e2 = edges.select(col("src"), col("dst")).cache()
    // both paths return a plan that no longer reads e2: the local one is
    // driver data, the distributed one starts from eager checkpoints
    try {
      if (e2.count() <= localThreshold)
        unionFind(e2.as[(Long, Long)].collect().iterator).toDF("id", "component")
      else starContraction(e2, maxIter)
    } finally e2.unpersist()
  }

  /** Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * distributed path. Compared to min-label propagation, each round
    * shuffles only the (shrinking) edge list, never a full label table,
    * and converges in O(log² n) rounds on any graph:
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(N(u) ∪ {u});
    *  - small-star(u): every neighbor v ≤ u (they're all < u after
    *    orientation) re-attaches to m = min(N(u));
    *
    * at fixpoint the edge set is a star forest (child → min-root).
    * Convergence = the edge set stopped changing; detected set-based and
    * overflow-proof (a checksum could false-positive) via the symmetric
    * difference of the old and new edge sets, computed in the SAME job that
    * materializes the iteration's lazy localCheckpoint — ONE Spark job per
    * round, not a checkpoint job + count job + exceptAll job (driver-action
    * cadence is the variance source on iterative queries).
    */
  def starContraction(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(true)
    // canonical orientation big → small, self-loops dropped
    var e = edges
      .select(greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var iter = 0
    var converged = e.isEmpty
    while (iter < maxIter && !converged) {
      // large-star over the bidirected adjacency: (v, m) for v > u
      val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val large = bidir.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star over the large-star output, oriented big → small
      val smallIn = large
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v"))
      val smallMins = smallIn.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = smallIn.join(smallMins, "u")
        .select(
          array(struct(col("u"), col("m").as("v")),
            struct(col("v").as("u"), col("m").as("v"))).as("pair"))
        .select(explode(col("pair")).as("e"))
        .select(col("e.u"), col("e.v"))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false) // lazy: materialized by the convergence job
      // ONE job per round: the aggregate below consumes every partition of
      // `next`, which is what persists the lazy checkpoint, and both edge
      // sets are distinct — so a (u, v) with multiplicity 1 in their
      // concatenation is in the symmetric difference, and an empty filter
      // result means the edge set reached its fixpoint.
      converged = next.unionAll(e.select(col("u"), col("v")))
        .groupBy(col("u"), col("v")).count()
        .filter(col("count") === 1)
        .isEmpty
      e = next
      iter += 1
    }
    // fixpoint edge set is child → root (min-agg guards the not-converged
    // maxIter edge case, where a child could still carry two targets);
    // roots label themselves
    nodes
      .join(e.groupBy(col("u")).agg(min(col("v")).as("lbl"))
        .withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("component"))
  }

  /** Union-find over an edge stream: `(id, component)` for every id an edge
    * touches, component = the min id it reaches, sorted by id — the output
    * contract of the distributed path. Pure: [[components]]' driver path
    * and `SessionOps.merge`'s per-user groups call it. */
  private[operators] def unionFind(edges: Iterator[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.sorted.map(id => (id, find(id)))
  }
}
