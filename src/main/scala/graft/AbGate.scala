package graft

/** Dev-only INTERLEAVED A/B of one gate's narrow-probe session vs a
  * wide one (`-Dgraft.wideProbe` hook in SparkEntry.narrowProbe).
  * Box throughput swings ±20–50% across minutes on identical plans,
  * so two sequential bench runs cannot resolve a 0.1 s-class session
  * question — this main alternates the arms run-by-run inside one JVM
  * (drift hits both arms equally) and reports per-arm medians plus
  * job counts.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.AbGate <gate> [rounds]"
  */
object AbGate {
  def main(args: Array[String]): Unit = {
    val gate = args.headOption.getOrElse(
      sys.error("usage: AbGate <gate> [rounds]"))
    val rounds = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val fn = SparkEntry.queries.getOrElse(gate,
      sys.error(s"unknown gate $gate"))
    val spark = DevHarness.session(cpus)
    val jobs = new JobCounter(spark)
    val scope = new CacheScope
    val (narrow, wide) = CacheScope.withScope(scope) { Scratch.scopedCleanup {
      def once(wideArm: Boolean): (Double, Int) = {
        System.setProperty("graft.wideProbe", wideArm.toString)
        try {
          jobs.reset()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          (dt, jobs.count())
        } finally {
          System.clearProperty("graft.wideProbe")
          scope.drain(); Scratch.drainCleanup(); ()
        }
      }
      once(false); once(true) // one untimed warm-up per arm (codegen)
      val runs = (0 until 2 * rounds).map(i => (i % 2 == 1, once(i % 2 == 1)))
      (runs.collect { case (false, r) => r }, runs.collect { case (true, r) => r })
    } }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    println(f"$gate: narrow median=${med(narrow.map(_._1))}%.3f s " +
      f"jobs=${narrow.map(_._2).max}%d | wide median=${med(wide.map(_._1))}%.3f s " +
      f"jobs=${wide.map(_._2).max}%d  (rounds=$rounds, interleaved)")
    println(s"  narrow runs: ${narrow.map(r => f"${r._1}%.3f").mkString(" ")}")
    println(s"  wide   runs: ${wide.map(r => f"${r._1}%.3f").mkString(" ")}")
    spark.stop()
  }
}
