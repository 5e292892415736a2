package graft.geom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation
  * — the 100 TB path for the A7 rect-merge (SURVEY.md §2.4: "at scale:
  * iterative self-join on overlap predicate + min(component_id)
  * propagation until fixpoint"). [[RectMerge]] handles the real
  * per-page case (tiny independent groups); this operator is for when
  * a single group's edge set no longer fits one task.
  *
  * Each round: every node takes the min label over itself and its
  * neighbors (one join + one aggregate, both on the node key);
  * convergence when no label changes. Rounds = graph diameter in the
  * worst case; each round is shuffle-bound, not memory-bound. The
  * driver-side loop holds only a changed-count, never data.
  */
object ConnectedComponents {

  /** edges: (src, dst) undirected, long-typed node ids. Returns
    * (node, component) where component = min node id reachable.
    *
    * Two regimes, picked by ONE bounded collect of the symmetrized
    * edges (`limit(localEdgeCap + 1)`): it returns every edge when
    * there are at most `localEdgeCap` of them, and one more when there
    * are too many.
    *  - ≤ `localEdgeCap` edges → driver union-find on the collected
    *    edges. Dedup pipelines cap candidate generation (banded LSH,
    *    bucket caps), so their verified-pair edge sets are bounded by
    *    construction — and spending five shuffle rounds of job
    *    overhead to label a few thousand edges is the wrong trade at
    *    ANY scale. The collect is bounded by the cap (same contract as
    *    the MERGE key-prune cap).
    *  - above the cap → the edges are checkpointed and labelled by
    *    iterative min-label propagation, rounds = graph diameter,
    *    driver holds only a changed-count. */
  def labelPropagation(spark: SparkSession, edges: DataFrame,
      maxIter: Int = 20, localEdgeCap: Long = 200000): DataFrame = {
    // normalize node ids to long FIRST so both regimes emit the same
    // (node: long, component: long) schema — without this the output
    // type would silently depend on which side of the cap the data
    // landed on
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val symmetrized = e.select(col("src"), col("dst"))
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val bounded = symmetrized.limit(math.min(localEdgeCap + 1, Int.MaxValue).toInt).collect()
    if (bounded.length <= localEdgeCap)
      return unionFindLocal(spark, bounded.map(r => (r.getLong(0), r.getLong(1))))
    // localCheckpoint, not cache(): the loop re-reads this frame every
    // round, and a cache entry can be EVICTED under storage pressure in a
    // long session — silently re-running the (possibly very expensive)
    // edge-producing lineage once per iteration. Checkpoint blocks are
    // MEMORY_AND_DISK: under pressure they spill instead of dropping, and
    // the truncated lineage caps every round at one join + one aggregate.
    val sym = symmetrized.localCheckpoint()
    val nodes = sym.select(col("src").as("node")).distinct()
    var labels = nodes.withColumn("component", col("node")).localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("node", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src").as("node"))
        .agg(min(col("component")).as("nbr_min"))
      // Carry the changed flag inside the stepped frame so convergence
      // detection is a count over data this round materializes anyway —
      // not an extra join job per iteration. localCheckpoint (like sym)
      // so round N+1 never re-derives round N under memory pressure;
      // superseded checkpoints are GC-cleaned by the ContextCleaner.
      val stepped = labels
        .join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("next_component"),
          (coalesce(col("nbr_min"), col("component")) < col("component")).as("chg"))
        .localCheckpoint()
      val changed = stepped.filter(col("chg")).count()
      labels = stepped.select(col("node"), col("next_component").as("component"))
      converged = changed == 0
      iter += 1
    }
    labels
  }

  /** Exact components of a collected edge set: union-find with path
    * compression, re-label every root to the min member (so the
    * representative matches min-label propagation), return as a local
    * relation. */
  private def unionFindLocal(spark: SparkSession, es: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != cur) {
        val next = parent.getOrElse(cur, cur); parent(cur) = root; cur = next
      }
      root
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-root union
    }
    val rows = es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toArray
      .distinct.sorted
      .map(n => org.apache.spark.sql.Row(n, find(n)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType))))
  }

  /** Component-merged rects over the synthetic figure frame: overlap
    * edges per (doc, page), components via propagation, then the A6
    * union aggregate per component — the relational equivalent of
    * RectMerge for one round of closure (components of the ORIGINAL
    * overlap graph; RectMerge additionally re-tests merged rects). */
  def componentRects(spark: SparkSession, dir: String, tol: Double = 40.0): DataFrame = {
    // fig_key (= p_partkey) is already unique across the whole frame, so
    // it is the node id directly — any doc/page/key packing risks
    // collisions once the key range outgrows the packing radix.
    val r = Geometry.syntheticRects(spark, dir)
      .withColumn("node", col("fig_key"))
    val a = r.select(col("doc"), col("page"), col("node").as("src"),
      col("x0").as("ax0"), col("y0").as("ay0"), col("x1").as("ax1"), col("y1").as("ay1"))
    val b = r.select(col("doc"), col("page"), col("node").as("dst"),
      col("x0").as("bx0"), col("y0").as("by0"), col("x1").as("bx1"), col("y1").as("by1"))
    val edges = a.join(b, Seq("doc", "page"))
      .filter(col("src") < col("dst"))
      .filter(Geometry.overlaps(col("ax0"), col("ay0"), col("ax1"), col("ay1"),
        col("bx0"), col("by0"), col("bx1"), col("by1"), tol))
      .select(col("src"), col("dst"))
    val comps = labelPropagation(spark, edges)
      .withColumnRenamed("node", "comp_node")
    r.join(comps, col("node") === col("comp_node"), "left")
      .select(col("doc"), col("page"),
        coalesce(col("component"), col("node")).as("component"),
        col("x0"), col("y0"), col("x1"), col("y1"))
      .groupBy(col("doc"), col("page"), col("component"))
      .agg(min(col("x0")).as("ux0"), min(col("y0")).as("uy0"),
        max(col("x1")).as("ux1"), max(col("y1")).as("uy1"),
        count(lit(1)).as("n_members"))
      .orderBy(col("doc"), col("page"), col("component"))
  }
}
