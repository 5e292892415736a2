package etlbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{CacheScope, Scratch}

/** One benchmark run in one JVM: set-up, a fixed warm-up, then a timed
  * phase of `seconds`. Writes the raw samples as JSON to `--out`;
  * `run.py` turns them into the reported metrics.
  *
  * With `--trace 1` an untraced phase of `seconds / 2` runs first, then
  * a traced phase of `seconds`. The traced phase materializes the lazy
  * layers on their own and records spans; comparing the two phases per
  * operation kind gives the tracing overhead.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, input: String, work: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("input"), need("work"), need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val h = new Harness(a)
    try {
      a.workload match {
        case "ingest" => Ingest.run(h)
        case "dedup" => DedupWorkload.run(h)
        case "serve" => Serve.run(h)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      h.writeResult()
    } finally h.spark.stop()
  }
}

/** What every workload shares: the session, op isolation and timing,
  * failure counting, the tracer, and the result file. */
final class Harness(val args: Main.Args) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("etlbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    // Spark caches 100 compiled code-generation classes by default, fewer
    // than one dedup pass generates: with the default every pass compiles
    // them again, and its time falls for five passes as the compiler warms
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // direct task commit, the recipe the engine's own bench mains use
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.local.dir", s"${args.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${args.work}/spark-warehouse")
    .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    .config("spark.sql.catalog.graft.warehouse", s"${args.work}/catalog")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionReadyMs = System.currentTimeMillis()

  val trace: Tracer = if (args.trace) new Tracer(spark) else null

  /** A span of `layer` around `body` when tracing, else just `body`. */
  def layer[T](name: String)(body: => T): T =
    if (trace == null) body else trace.span(name, name)(body)
  /** A span for harness work: its jobs belong to no layer. */
  def harness[T](body: => T): T =
    if (trace == null) body else trace.span(Tracer.HarnessSpan, "")(body)
  def tracing: Boolean = trace != null && trace.on
  def count(name: String, v: Double): Unit = if (trace != null) trace.add(name, v)
  def gauge(name: String, v: Double): Unit = if (trace != null) trace.set(name, v)

  // ---- samples ----

  import Harness.Sample
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private var attempted = 0
  private var failed = 0
  private var framesDrained = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private val setupSamples = mutable.ArrayBuffer.empty[Double]
  /** Milestones of the run, in seconds since the JVM started. */
  private val timeline = mutable.LinkedHashMap("session_ready" -> (sessionReadyMs - jvmStartMs) / 1e3)
  private def mark(name: String): Unit =
    timeline(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** A failed output check found after the operations that produced it
    * ran: `n` of the attempted operations count as failed. */
  def fail(n: Int, why: String): Unit = {
    failed += n
    problems += why
    Console.err.println(s"[etlbench] check failed: $why")
  }

  /** One timed operation. The call runs under its own cache and scratch
    * scopes, which are drained after the timer stops (as the engine's
    * bench main does), so persisted frames cannot pile up into a
    * within-run trend. `check` runs after the timer; an exception or a
    * false check counts the operation as failed. */
  def op[T](kind: String, phase: String)(body: => T)(check: T => Boolean): Unit = {
    attempted += 1
    var ms = 0.0
    var at = 0.0
    val result: Either[Throwable, T] = isolated {
      val t0 = System.nanoTime()
      at = (t0 - phaseStartNs) / 1e9
      val r =
        try Right(if (trace == null) body else trace.span(kind, "")(body))
        catch { case NonFatal(e) => Left(e) }
      ms = (System.nanoTime() - t0) / 1e6
      r
    }
    val ok = result match {
      case Right(v) =>
        try harness(check(v))
        catch { case NonFatal(e) => problems += s"$kind check: $e"; false }
      case Left(e) =>
        problems += s"$kind: $e"
        Console.err.println(s"[etlbench] $kind failed: $e")
        false
    }
    if (!ok) failed += 1
    samples += Sample(kind, phase, at, ms, ok)
  }

  /** Run `body` under its own cache and scratch scopes and drain both
    * when it returns. */
  def isolated[T](body: => T): T = {
    val scope = new CacheScope
    CacheScope.withScope(scope) {
      Scratch.scopedCleanup {
        try body
        finally {
          framesDrained += scope.drain()
          framesDrained += Scratch.drainCleanup()
        }
      }
    }
  }

  /** Time one repetition of the workload's set-up; the reported set-up
    * time is the median over repetitions. */
  def setup[T](body: => T): T = {
    if (setupSamples.isEmpty) mark("setup_start")
    val t0 = System.nanoTime()
    val r = body
    setupSamples += (System.nanoTime() - t0) / 1e9
    r
  }

  /** When the current phase (warm-up, timed or traced) started; each
    * sample records its start relative to it. */
  private var phaseStartNs = System.nanoTime()

  def warmupStarts(): Unit = {
    mark("warmup_start")
    phaseStartNs = System.nanoTime()
  }

  private val phaseWall = mutable.LinkedHashMap.empty[String, Double]
  private val phaseWindow = mutable.LinkedHashMap.empty[String, Double]
  private var cpuS = 0.0

  /** The timed phase: run `next` until `seconds` pass or it has no more
    * operations (with tracing, the untraced and traced phases). */
  def timed(next: String => Boolean): Unit = {
    mark("timed_start")
    val halves =
      if (trace == null) Seq("timed" -> args.seconds)
      else Seq("timed" -> args.seconds / 2, "traced" -> args.seconds)
    val cpu0 = processCpuNs()
    halves.foreach { case (phase, secs) =>
      if (phase == "traced") trace.begin()
      phaseStartNs = System.nanoTime()
      val deadline = phaseStartNs + (secs * 1e9).toLong
      while (System.nanoTime() < deadline && next(phase)) {}
      phaseWall(phase) = (System.nanoTime() - phaseStartNs) / 1e9
      phaseWindow(phase) = secs
      if (phase == "traced") trace.end()
    }
    cpuS = (processCpuNs() - cpu0) / 1e9
    mark("timed_end")
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => 0L
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def writeResult(): Unit = {
    val layers = if (trace == null) Map.empty[String, Double] else trace.report()
    mark("result")
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload,
      "seed" -> args.seed,
      "cores" -> cores,
      "timeline_s" -> timeline.toMap,
      "setup_s" -> setupSamples.toSeq,
      "phase_wall_s" -> phaseWall.toMap,
      "phase_window_s" -> phaseWindow.toMap,
      "cpu_s" -> cpuS,
      "peak_rss_mb" -> peakRssMb(),
      "attempted" -> attempted,
      "failed" -> failed,
      "frames_drained" -> framesDrained,
      "problems" -> problems.toSeq,
      "info" -> info.toMap,
      "samples" -> samples.toSeq.map(s =>
        Map("kind" -> s.kind, "phase" -> s.phase, "at" -> s.at, "ms" -> s.ms, "ok" -> s.ok)),
      "layers" -> layers)
    if (trace != null) res("spans") = trace.spanRecords
    Files.write(Paths.get(args.out),
      new ObjectMapper().writeValueAsString(Harness.toJava(res)).getBytes(StandardCharsets.UTF_8))
  }
}

object Harness {
  /** One operation: `at` is its start in seconds after its phase began. */
  final case class Sample(kind: String, phase: String, at: Double, ms: Double, ok: Boolean)

  /** Scala collections to the Java ones Jackson writes. */
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case other => other
  }

  /** Read a JSON file the generator wrote. */
  def readJson(path: String): com.fasterxml.jackson.databind.JsonNode =
    new ObjectMapper().readTree(new java.io.File(path))

  /** Move each `batch=<n>` directory of a partitioned parquet write to
    * `<dest>/<n>/<table>.parquet`, so one write lays out every batch's
    * input directory. */
  def splitPartitions(staged: String, dest: String, table: String): Unit = {
    val dirs = Files.list(Paths.get(staged)).iterator().asScala.toSeq
    dirs.filter(_.getFileName.toString.startsWith("batch=")).foreach { p =>
      val n = p.getFileName.toString.stripPrefix("batch=")
      val target = Paths.get(dest, n, s"$table.parquet")
      Files.createDirectories(target.getParent)
      Files.move(p, target)
    }
  }

  /** The data files the table's head version references. */
  def tableFiles(spark: SparkSession, root: String): Set[String] =
    graft.sources.SnapshotTable.filesDf(spark, root).select("path").collect()
      .map(_.getString(0)).toSet

  /** Bytes under a directory tree. */
  def dirBytes(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
