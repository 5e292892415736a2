package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** One read path: every programmatic read of a snapshot table is the
  * catalog's DSv2 scan ([[graft.catalog.GraftScan]]) over the entries
  * the read resolved, with deletion vectors applied by the reader that
  * reads the file. What that buys, pinned here: a point lookup under
  * dv debt is one Spark job (no sidecar scan or broadcast ahead of
  * the data scan), the executed plan holds the snapshot scan on every
  * read entry point, and the parallelism guard sizes the read from
  * manifest metadata without building an RDD. */
class ReadPathSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-readpath").toString

  /** 2,000 rows range-clustered on `doc_id` into 16 files. */
  private def clustered(root: String): Unit =
    SnapshotTable.create(spark, root,
      (0L until 2000L).map(i => (i, s"r$i")).toDF("doc_id", "v")
        .repartitionByRange(16, col("doc_id")), statsKey = Some("doc_id"))

  /** Spark jobs `body` runs, counted by a listener after the bus drains. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def snapshotScans(df: DataFrame): Seq[graft.catalog.GraftScan] =
    graft.PlanWalk.batchScans(df).map(_.scan).collect { case g: graft.catalog.GraftScan => g }

  test("a 3-key lookup under dv debt in every probed file runs in ONE Spark job") {
    val root = tmp()
    clustered(root)
    val keys = Array(101L, 1003L, 1905L)
    // one delete per probed file: a neighbour of each probed key, plus
    // one probed key itself
    SnapshotTable.deleteWhere(spark, root, col("doc_id").isin(100L, 1004L, 1905L))
    val probed = SnapshotTable.manifestFull(spark, root, SnapshotTable.versions(spark, root).last)
      .entries.filter(e => e.minKey.zip(e.maxKey).exists { case (lo, hi) =>
        keys.exists(k => k >= lo && k <= hi) })
    assert(probed.size == 3 && probed.forall(_.dv.isDefined),
      s"every probed file must carry a deletion vector: $probed")
    def lookup(): Seq[(Long, String)] =
      SnapshotTable.readKeys(spark, root, "doc_id", keys)
        .filter(col("doc_id").isin(keys.toSeq: _*))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val model = Seq((101L, "r101"), (1003L, "r1003"))
    lookup() // warm: codegen and the per-JVM sidecar memo
    val (rows, jobs) = jobsOf(lookup())
    assert(rows == model, s"lookup returned $rows")
    assert(jobs == 1, s"a dv-debt point lookup must be one job, ran $jobs")
    // the positions load where the file is read: no sidecar scan, no
    // join, and the lookup reads exactly the three probed files
    val df = SnapshotTable.readKeys(spark, root, "doc_id", keys)
    assert(df.inputFiles.length == 3)
    assert(graft.PlanWalk.fileScans(df).isEmpty)
  }

  test("every programmatic read plans the snapshot scan") {
    val root = tmp()
    clustered(root)
    SnapshotTable.deleteWhere(spark, root, col("doc_id") === 7L)
    val reads: Seq[(String, DataFrame)] = Seq(
      "read" -> SnapshotTable.read(spark, root),
      "readAsOf" -> SnapshotTable.readAsOf(spark, root, System.currentTimeMillis()),
      "readRange" -> SnapshotTable.readRange(spark, root, 0L, 150L),
      "readKeys" -> SnapshotTable.readKeys(spark, root, "doc_id", Array(7L, 8L)),
      "readIndexed" -> SnapshotTable.readIndexed(spark, root).filter(col("doc_id") === 8L),
      "readChanges" -> SnapshotTable.readChanges(spark, root, 1))
    reads.foreach { case (name, df) =>
      df.collect()
      assert(snapshotScans(df).nonEmpty, s"$name: no snapshot scan in the executed plan")
      // (readChanges reads its dv sidecars as plain parquet; no read
      // of a data file may be a V1 scan)
      assert(graft.PlanWalk.fileScans(df)
        .forall(!_.relation.location.rootPaths.exists(_.toString.contains("/data/"))),
        s"$name: a V1 scan of data files in the executed plan")
    }
    assert(SnapshotTable.readKeys(spark, root, "doc_id", Array(7L, 8L))
      .filter(col("doc_id").isin(7L, 8L)).as[(Long, String)].collect().toSeq == Seq((8L, "r8")))
    // (file, ordinal) metadata columns name every live row exactly once,
    // inside its file's recorded row range
    val rowsOf = SnapshotTable.manifestFull(spark, root, SnapshotTable.versions(spark, root).last)
      .entries.map(e => e.path -> e.rows.get).toMap
    val pos = SnapshotTable.read(spark, root)
      .select(col("_graft_file"), col("_graft_row")).as[(String, Long)].collect().toSeq
    assert(pos.size == 1999 && pos.distinct.size == 1999)
    assert(pos.forall { case (f, r) => r >= 0L && r < rowsOf(f) })
  }

  test("the parallelism guard sizes a snapshot read from metadata, building no RDD") {
    val root = tmp()
    clustered(root)
    val df = SnapshotTable.read(spark, root)
    def nextRddId(): Int = spark.sparkContext.emptyRDD[Int].id
    val before = nextRddId()
    val estimate = graft.Parallelism.scanPartitions(spark, df)
    graft.Parallelism.ensure(spark)(df)
    val after = nextRddId()
    assert(estimate.exists(_ >= 1L), s"estimate undefined for a snapshot read: $estimate")
    assert(after == before + 1, s"the guard built ${after - before - 1} RDDs")
  }
}
