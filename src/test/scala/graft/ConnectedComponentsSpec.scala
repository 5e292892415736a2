package graft

import org.apache.spark.sql.functions._
import graft.geom.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("label propagation finds components of a chain and an island — both regimes") {
    // chain 1-2-3-4, island 10-11, singleton edge-less node absent
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    // localEdgeCap = 0 forces the distributed propagation loop; the
    // default takes the bounded-collect union-find fast path — the two
    // regimes must agree exactly
    for (cap <- Seq(0L, 200000L)) {
      val comps = ConnectedComponents.labelPropagation(spark, edges, localEdgeCap = cap)
        .as[(Long, Long)].collect().toMap
      assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L && comps(4L) == 1L,
        s"cap=$cap")
      assert(comps(10L) == 10L && comps(11L) == 10L, s"cap=$cap")
    }
  }

  test("union-find fast path equals distributed propagation on a random graph") {
    val rng = new scala.util.Random(7)
    val edges = Seq.fill(300)((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
    val fast = ConnectedComponents.labelPropagation(spark, edges)
      .as[(Long, Long)].collect().toSet
    val dist = ConnectedComponents.labelPropagation(spark, edges, localEdgeCap = 0)
      .as[(Long, Long)].collect().toSet
    assert(fast == dist)
  }

  test("regime boundary: localEdgeCap edges stay local in one collect, one more propagates") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // 6 undirected edges symmetrize to 12 directed ones: cap 12 holds
    // exactly the cap (local), cap 11 sees one edge past it (propagation)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("src", "dst")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // the jobs of ONE bounded collect of the symmetrized edges (AQE
    // runs the distinct's shuffle map stage as a job of its own)
    val counter = new JobCounter(spark)
    try {
      edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().limit(13).collect()
      val oneCollect = counter.count()
      for ((cap, local) <- Seq(12L -> true, 11L -> false)) {
        counter.reset()
        val out = ConnectedComponents.labelPropagation(spark, edges, localEdgeCap = cap)
        val jobs = counter.count()
        if (local) assert(jobs == oneCollect, s"cap=$cap: $jobs jobs, one collect runs $oneCollect")
        else assert(jobs > oneCollect, s"cap=$cap: $jobs jobs")
        assert(out.queryExecution.logical.isInstanceOf[LocalRelation] == local, s"cap=$cap")
        assert(out.as[(Long, Long)].collect().toMap == want, s"cap=$cap")
      }
    } finally counter.close()
  }

  test("every overlap edge's endpoints land in the same component") {
    val out = ConnectedComponents.componentRects(spark, sf)
    // components partition the rects: member counts sum to total rects
    val total = geom.Geometry.syntheticRects(spark, sf).count()
    val sumMembers = out.agg(sum(col("n_members"))).as[Long].head()
    assert(sumMembers == total)
    // within a component the union box contains all members (by
    // construction of min/max agg) — sanity: boxes are well-formed
    assert(out.filter(col("ux1") < col("ux0") || col("uy1") < col("uy0")).count() == 0)
  }

  test("propagation component count matches per-group fixpoint's merge count upper bound") {
    // union-closure (RectMerge) can only merge MORE than the overlap
    // graph's components, never fewer
    val ccCount = ConnectedComponents.componentRects(spark, sf).count()
    val fixpointCount = geom.RectMerge.mergedFigures(spark, sf).count()
    assert(fixpointCount <= ccCount)
  }
}
