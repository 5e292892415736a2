package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The dev mains' shared pieces (ActionCount, AbGate, FpProbe, Explain):
  * one session recipe, and [[JobCounter]] for their job census. */
object DevHarness {

  /** `local[$cpus]` with Bench/Verify's deployment recipe (UTC session
    * time, one shuffle partition per core, no UI, direct task commit),
    * so dev numbers compare with Bench's. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Counts the jobs started on `spark`'s context from construction (or
  * the last [[reset]]) until [[close]]. Job-start events deliver
  * asynchronously, so [[reset]] and [[count]] drain the listener bus
  * first. `onStart` sees every counted job. */
final class JobCounter(spark: SparkSession,
    onStart: SparkListenerJobStart => Unit = _ => ()) extends SparkListener {
  private val jobs = new AtomicInteger(0)
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    onStart(js)
  }

  def reset(): Unit = { flush(); jobs.set(0) }
  def count(): Int = { flush(); jobs.get() }
  def close(): Unit = spark.sparkContext.removeSparkListener(this)

  private def flush(): Unit =
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
}
