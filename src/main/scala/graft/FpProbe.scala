package graft

/** Diagnostic main for the two-dump fingerprint protocol: print ONE
  * query's canonicalized plan text (the exact text [[Bench.planCanon]]
  * hashes) and exit. Run it across many fresh JVMs to catch per-JVM
  * canonicalization coin tosses that two full-bench dumps can miss:
  *
  *   java -cp "SPARK_JARS:target/scala-2.13/classes" \
  *     graft.FpProbe q19_disc_revenue /root/testdata/sf0.1
  *
  * Dev-only; never invoked by Verify/Bench or the driver. */
object FpProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q19_disc_revenue")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = DevHarness.session(cpus)
    val df = SparkEntry.queries(name)(spark, sfDir)
    println("===CANON_BEGIN===")
    println(Bench.planCanon(df))
    println("===CANON_END===")
    spark.stop()
  }
}
