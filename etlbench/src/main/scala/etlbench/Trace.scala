package etlbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's calls into each engine layer, plus the
  * Spark work that ran under them.
  *
  * A span is (name, layer, start, end, parent). Spans are recorded only
  * while `on`; otherwise [[span]] runs its body directly, so the
  * untraced runs that give the end-to-end numbers pay nothing.
  *
  * Spark jobs are attributed to spans BY TIME WINDOW: the harness has
  * one client thread, so at most one operation is open at a time, and a
  * job belongs to the innermost span open when it started. SparkContext
  * job-group properties would lose the jobs that
  * `graft.Concurrency.overlap` runs on its pool threads, which do not
  * inherit local properties. Jobs that start inside no span are counted
  * as unattributed.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  /** epoch-ns = nanoTime + origin: listener events carry epoch ms. */
  private val origin = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochMs(nanos: Long): Double = (nanos + origin) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var window: Option[(Double, Double)] = None
  private var windowStart = 0L
  @volatile var on = false

  /** Turn recording on for one phase; jobs outside the phase's window
    * are not counted. */
  def begin(): Unit = { on = true; windowStart = System.nanoTime() }
  def end(): Unit = {
    on = false
    window = Some((epochMs(windowStart), epochMs(System.nanoTime())))
  }

  /** Run `body` as a span of `layer` ("" for an operation or harness
    * span that belongs to no layer). */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, layer, stack.headOption.fold(-1)(_.id),
        System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  private val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Add to a layer-specific count (recorded only while tracing). */
  def add(name: String, v: Double): Unit =
    if (on) counters(name) = counters.getOrElse(name, 0.0) + v
  /** Overwrite a layer-specific gauge (recorded only while tracing). */
  def set(name: String, v: Double): Unit = if (on) counters(name) = v

  // ---- Spark work, from the listener bus ----

  private final class Job(val startMs: Long, var endMs: Long)
  private final class StageWork {
    var tasks, cpuNs, schedMs, inBytes, inRecords, shuffleBytes, spillBytes,
      outBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageWork = mutable.HashMap.empty[Int, StageWork]
  private val planPhases = mutable.LinkedHashMap.empty[(Int, String), (Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = new Job(e.time, -1L)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val w = stageWork.getOrElseUpdate(e.stageId, new StageWork)
        val info = e.taskInfo
        val computing = m.executorDeserializeTime + m.executorRunTime +
          m.resultSerializationTime
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.schedMs += math.max(0L, info.finishTime - info.launchTime - computing - gettingResult)
        w.inBytes += m.inputMetrics.bytesRead
        w.inRecords += m.inputMetrics.recordsRead
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      // one Dataset keeps its QueryExecution across actions: key each
      // phase by its tracker so a phase is counted once
      val key = System.identityHashCode(qe.tracker)
      qe.tracker.phases.foreach { case (phase, p) =>
        planPhases.getOrElseUpdate((key, phase), (p.startTimeMs, p.durationMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  // ---- aggregation ----

  /** The per-layer report: 12 generic metrics per layer, the layers'
    * own counts, and the harness's attribution diagnostics. */
  def report(): Map[String, Double] = {
    org.apache.spark.EtlbenchBus.drain(spark.sparkContext)
    synchronized {
      val (w0, w1) = window.getOrElse((0.0, 0.0))
      val ms = spans.map(s => (s, epochMs(s.start), epochMs(s.end)))
      // innermost span open at epoch-ms `t`: spans nest, so the latest
      // start among the spans containing t
      def innermost(t: Double): Option[Span] =
        ms.filter { case (_, a, b) => a <= t && t <= b }
          .maxByOption(_._2).map(_._1)
      val jobSpan = jobs.collect { case (id, j) if j.startMs >= w0 && j.startMs <= w1 =>
        id -> innermost(j.startMs.toDouble)
      }
      val unattributed = jobSpan.count { case (_, s) => s.forall(_.layer.isEmpty) &&
        !s.exists(_.name == HarnessSpan) }
      val stagesOf = stageJob.groupBy(_._2).map { case (j, ss) => j -> ss.keys.toSeq }
      val children = spans.groupBy(_.parent)
      val out = mutable.LinkedHashMap.empty[String, Double]
      val perLayer = Layers.map { layer =>
        val own = spans.filter(_.layer == layer)
        val ownIds = own.map(_.id).toSet
        val lJobs = jobSpan.collect { case (id, Some(s)) if ownIds(s.id) => id }.toSeq
        val work = lJobs.flatMap(j => stagesOf.getOrElse(j, Nil)).flatMap(stageWork.get)
        def sum(f: StageWork => Long): Double = work.map(f).sum.toDouble
        val busy = own.map(s => (s.end - s.start) / 1e6).sum
        val self = own.map { s =>
          (s.end - s.start - children.getOrElse(s.id, Nil).map(c => c.end - c.start).sum) / 1e6
        }.sum
        val plan = planPhases.values.collect {
          case (start, dur) if innermost(start.toDouble).exists(s => ownIds(s.id)) => dur
        }.sum.toDouble
        val driverOnly = own.map { s =>
          val (a, b) = (epochMs(s.start), epochMs(s.end))
          val busyJobs = jobs.values.toSeq.filter(_.endMs >= 0).map(j =>
            (math.max(a, j.startMs.toDouble), math.min(b, j.endMs.toDouble)))
            .filter { case (x, y) => y > x }
          (b - a) - unionLength(busyJobs)
        }.sum
        out ++= Seq(
          s"$layer.calls" -> own.size.toDouble,
          s"$layer.busy_ms" -> busy,
          s"$layer.self_ms" -> self,
          s"$layer.plan_ms" -> plan,
          s"$layer.jobs" -> lJobs.size.toDouble,
          s"$layer.tasks" -> sum(_.tasks),
          s"$layer.sched_delay_ms" -> sum(_.schedMs),
          s"$layer.cpu_ms" -> sum(_.cpuNs) / 1e6,
          s"$layer.driver_only_ms" -> driverOnly,
          s"$layer.input_bytes" -> sum(_.inBytes),
          s"$layer.shuffle_bytes" -> sum(_.shuffleBytes),
          s"$layer.spill_bytes" -> sum(_.spillBytes))
        layer -> (sum(_.inRecords), sum(_.outBytes))
      }.toMap
      def c(n: String): Double = counters.getOrElse(n, 0.0)
      def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
      out ++= Seq(
        "chunk.chunks_per_doc" -> ratio(c("chunk.chunks"), c("chunk.docs")),
        "vector.dedup.candidate_yield" ->
          ratio(c("vector.dedup.verified"), c("vector.dedup.candidates")),
        "vector.search.rows_scored_per_result" ->
          ratio(perLayer("vector.search")._1, c("vector.search.results")),
        "sources.commit.bytes_written" -> perLayer("sources.commit")._2,
        "sources.commit.files_rewritten" -> c("sources.commit.files_rewritten"),
        "sources.commit.write_amp" ->
          ratio(perLayer("sources.commit")._2, c("sources.commit.payload_bytes")),
        "sources.read.files_kept_ratio" ->
          ratio(c("sources.read.files_kept"), c("sources.read.files_total")),
        "sources.maintain.bytes_rewritten" -> perLayer("sources.maintain")._2,
        "sources.maintain.space_amp" -> c("sources.maintain.space_amp"),
        "sources.maintain.live_files" -> c("sources.maintain.live_files"),
        "harness.unattributed_jobs" -> unattributed.toDouble)
      out.toMap
    }
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
    "start_ms" -> epochMs(s.start), "end_ms" -> epochMs(s.end)))
}

object Tracer {
  private final case class Span(id: Int, name: String, layer: String,
      parent: Int, start: Long, var end: Long)

  /** Layer names follow the engine's modules. */
  val Layers: Seq[String] = Seq("text", "chunk", "vector.embed", "vector.dedup",
    "vector.search", "sources.commit", "sources.read", "sources.maintain", "catalog")

  /** Spans for harness work (input loading, model upkeep, checks): their
    * jobs are attributed, but to no layer. */
  val HarnessSpan = "harness"

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, curA, curB = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      } else curB = math.max(curB, b)
    }
    if (open) total + (curB - curA) else total
  }
}
