package graft

/** Census of the ACTION COUNT behind each gate — the round's perf
  * artifact of record since r18. PLANS.md's action-floor analysis says
  * every Spark action on this box pays ~0.1 s of dispatch floor
  * regardless of data size, so a lifecycle gate's bench cost is
  * essentially `#jobs × 0.1 s`; and five identical-plan full-board
  * runs spanned 95.7–137.2 s in r17 under host neighbor load —
  * wall-clock alone can no longer falsify the perf bar on this box,
  * while JOB COUNTS are load-independent. The round-close protocol
  * runs this main over the full board at the driver config and
  * commits the JSON as `ACTIONS_rN.json`; `tools/scoreboard.py` diffs
  * consecutive rounds and a job-count regression is treated like a
  * plan-fingerprint change (explain it or revert it).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ActionCount g1,g2,..."
  * (no args = the full board). Prints one line per gate:
  * `name  jobs=<n>  sec=<t>` sorted by job count, plus a total line
  * that covers succeeded gates only (failures are counted and named
  * separately — a failed gate's partial seconds would otherwise ride
  * a job total it isn't part of). With SPARK_GRAFT_ACTIONS_OUT=<path>
  * the same census is also written as one JSON object:
  * `{"sf":…,"cpus":…,"gates":{name:{"jobs":n,"sec":s}},"failed":[…],
  *   "total_jobs":N,"total_sec":S}`. Gates that amortize a one-time
  * fixture build across invocations (fixture-memo policy, PLANS.md)
  * additionally carry `"build_jobs"`/`"build_sec"` — recorded via
  * [[FixtureCensus]] when the warm-up pass built the fixture — so the
  * cached cost stays on the board.
  */
object ActionCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only: Option[Set[String]] =
      args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // same deployment recipe as Bench/Verify, so the census measures
    // the surfaces they run
    val spark = DevHarness.session(cpus)
    val jobs = new JobCounter(spark, js =>
      // dev flag: name each dispatched job's stages so a gate's
      // census is attributable line-by-line
      if (sys.env.contains("SPARK_GRAFT_JOB_TRACE"))
        Console.err.println(s"[job] ${js.jobId} " + js.stageInfos
          .map(si => s"${si.name}:${si.numTasks}t").mkString(" | ")))
    val scope = new CacheScope
    val rows = CacheScope.withScope(scope) { Scratch.scopedCleanup {
      SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
          // one warm-up materialization (codegen) so the counted run
          // reflects steady state like Bench's timed runs do
          try { fn(spark, sfDir).count(); () }
          catch { case scala.util.control.NonFatal(e) =>
            Console.err.println(s"[actioncount] $name warm-up failed: $e")
          }
          finally { scope.drain(); Scratch.drainCleanup(); () }
          // JobStart events deliver asynchronously — drain the bus on
          // both sides of the counted window or the warm-up's stragglers
          // inflate it (and the run's tail jobs go missing)
          jobs.reset()
          val t0 = System.nanoTime()
          val (n, sec) =
            try {
              fn(spark, sfDir).count()
              // timing excludes the drains below, like Bench's runs
              val dt = (System.nanoTime() - t0) / 1e9
              (jobs.count(), dt)
            }
            catch { case scala.util.control.NonFatal(e) =>
              Console.err.println(s"[actioncount] $name failed: $e")
              (-1, (System.nanoTime() - t0) / 1e9)
            }
            finally { scope.drain(); Scratch.drainCleanup(); () }
          (name, n, sec)
        }
    } }
    // gates that amortize a one-time fixture build across invocations
    // (fixture-memo policy, PLANS.md r19) record the build here — the
    // census reports it NEXT TO the steady-state count instead of
    // letting cached work vanish from the board
    val fixtures = FixtureCensus.snapshot
    rows.sortBy(-_._2).foreach { case (name, n, sec) =>
      val fx = fixtures.get(name)
        .map { case (bj, bs) => f"  build_jobs=$bj%3d build_sec=$bs%6.2f" }
        .getOrElse("")
      println(f"$name%-34s jobs=$n%4d  sec=$sec%7.2f$fx")
    }
    // totals cover the SAME gate set: succeeded gates (jobs >= 0 —
    // a gate that legitimately ran zero jobs counts), with failures
    // named rather than silently blended into either sum
    val ok = rows.filter(_._2 >= 0)
    val failed = rows.collect { case (name, n, _) if n < 0 => name }
    println(f"TOTAL jobs=${ok.map(_._2).sum}%d sec=${ok.map(_._3).sum}%.1f " +
      f"over ${ok.size}%d gates" +
      (if (failed.isEmpty) "" else s"; ${failed.size} FAILED: ${failed.mkString(",")}"))
    sys.env.get("SPARK_GRAFT_ACTIONS_OUT").foreach { out =>
      def fmt(v: Double): String = BigDecimal(v)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
      val gates = rows.sortBy(_._1)
        .map { case (name, n, sec) =>
          val fx = fixtures.get(name)
            .map { case (bj, bs) =>
              ",\"build_jobs\":" + bj + ",\"build_sec\":" + fmt(bs) }
            .getOrElse("")
          "\"" + name + "\":{\"jobs\":" + n + ",\"sec\":" + fmt(sec) + fx + "}" }
        .mkString("{", ",", "}")
      val json = s"""{"sf":"$sfDir","cpus":$cpus,"gates":$gates,""" +
        s""""failed":${failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""total_jobs":${ok.map(_._2).sum},"total_sec":${fmt(ok.map(_._3).sum)},""" +
        s""""n_gates":${ok.size}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        json.getBytes("UTF-8"))
      ()
    }
    spark.stop()
  }
}
