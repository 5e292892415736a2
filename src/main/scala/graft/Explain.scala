package graft

/** Diagnostic main: time + formatted plan for selected queries.
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  * With no names, times every query (no plans). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = DevHarness.session(cpus)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (args.length > 1) df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[explain] $name%-28s $sec%8.3f s  ($n rows)")
    }
    spark.stop()
  }
}
