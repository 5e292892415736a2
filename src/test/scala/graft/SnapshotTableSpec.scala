package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** ACID snapshot-table protocol: versioned commits, key-scoped MERGE
  * (J2 delete-then-add with no stale tails), time travel, and
  * optimistic conflict handling. */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-snap").toString

  test("create + append produce readable increasing versions") {
    val root = tmp()
    val v1 = SnapshotTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"))
    assert(v1 == 1)
    val v2 = SnapshotTable.append(spark, root, Seq((3L, "c")).toDF("id", "payload"))
    assert(v2 == 2)
    assert(SnapshotTable.read(spark, root).count() == 3)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
  }

  test("merge deletes every old row of an updated key (no stale tails)") {
    val root = tmp()
    // doc 1 has three chunks, doc 2 has one
    SnapshotTable.create(spark, root,
      Seq((1L, 0L, "v1-c0"), (1L, 1L, "v1-c1"), (1L, 2L, "v1-c2"), (2L, 0L, "x"))
        .toDF("doc_id", "chunk_idx", "chunk"))
    // reprocessed doc 1 now yields ONE chunk
    SnapshotTable.merge(spark, root,
      Seq((1L, 0L, "v2-c0")).toDF("doc_id", "chunk_idx", "chunk"), key = "doc_id")
    val now = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(now == Set((1L, 0L, "v2-c0"), (2L, 0L, "x")),
      "old tail chunks of doc 1 must be gone, doc 2 untouched")
  }

  test("time travel: historical versions stay exactly readable") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "old")).toDF("id", "v"))
    SnapshotTable.merge(spark, root, Seq((1L, "new")).toDF("id", "v"), key = "id")
    assert(SnapshotTable.read(spark, root, Some(1)).head().getString(1) == "old")
    assert(SnapshotTable.read(spark, root, Some(2)).head().getString(1) == "new")
    assert(SnapshotTable.read(spark, root).head().getString(1) == "new")
  }

  test("TIMESTAMP AS OF resolves by commit instant; pre-table instants fail loudly") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "old")).toDF("id", "v"))
    SnapshotTable.merge(spark, root, Seq((1L, "new")).toDF("id", "v"), key = "id")
    // pin distinct commit instants deterministically (same-ms commits
    // are routine on a fast box): v1 ← T-10s, v2 ← T
    val t = System.currentTimeMillis()
    def pin(v: Int, ts: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(root, "_snapshots", f"v$v%07d.json"),
        java.nio.file.attribute.FileTime.fromMillis(ts))
    pin(1, t - 10000); pin(2, t)
    assert(SnapshotTable.versionAsOf(spark, root, t - 10000).contains(1),
      "at-or-before is inclusive of the commit instant itself")
    assert(SnapshotTable.versionAsOf(spark, root, t - 1).contains(1))
    assert(SnapshotTable.versionAsOf(spark, root, t).contains(2))
    assert(SnapshotTable.versionAsOf(spark, root, t - 20000).isEmpty)
    assert(SnapshotTable.readAsOf(spark, root, t - 1).head().getString(1) == "old")
    assert(SnapshotTable.readAsOf(spark, root, t + 1000).head().getString(1) == "new")
    intercept[IllegalArgumentException] {
      SnapshotTable.readAsOf(spark, root, t - 20000)
    }
    // CDC since an instant: changes strictly after T-1 are v2's
    // delete+insert pair; a pre-table instant yields the full history
    assert(SnapshotTable.readChangesSince(spark, root, t - 1).count() == 2)
    assert(SnapshotTable.readChangesSince(spark, root, t - 20000).count() == 3,
      "pre-table instant = full history: create insert + merge pair")
    // retention agrees with resolution: after expiring v1, its instant
    // is no longer resolvable (gone, not silently remapped)
    SnapshotTable.expireVersions(spark, root, keepLast = 1)
    assert(SnapshotTable.versionAsOf(spark, root, t - 1).isEmpty)
  }

  test("vacuum dryRun: reports exactly the real sweep's candidates, touches nothing") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    SnapshotTable.merge(spark, root, Seq((1L, "a2")).toDF("id", "v"), key = "id")
    SnapshotTable.expireVersions(spark, root, keepLast = 1)
    val wouldGo = SnapshotTable.vacuum(spark, root, minAgeMs = 0L, dryRun = true)
    assert(wouldGo.nonEmpty, "v1's orphaned files must be sweep candidates")
    // the dry run deleted NOTHING
    wouldGo.foreach(rel => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(root, rel)),
      s"dry run must not delete $rel"))
    assert(SnapshotTable.read(spark, root).count() == 2)
    // the real sweep reclaims exactly the reported set
    val gone = SnapshotTable.vacuum(spark, root, minAgeMs = 0L)
    assert(gone.toSet == wouldGo.toSet,
      s"real sweep ${gone.toSet} must equal the dry run's ${wouldGo.toSet}")
    gone.foreach(rel => assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(root, rel))))
    assert(SnapshotTable.read(spark, root).count() == 2, "live table untouched")
  }

  test("restoreAsOf: rollback addressed in time, loud on pre-table instants") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "good")).toDF("id", "v"))   // v1
    SnapshotTable.merge(spark, root,
      Seq((1L, "corrupt")).toDF("id", "v"), key = "id")                     // v2
    val t = System.currentTimeMillis()
    def pin(v: Int, ts: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(root, "_snapshots", f"v$v%07d.json"),
        java.nio.file.attribute.FileTime.fromMillis(ts))
    pin(1, t - 10000); pin(2, t) // v1 ← "before the bad deploy", v2 ← the deploy
    val v3 = SnapshotTable.restoreAsOf(spark, root, t - 1)
    assert(v3 == 3)
    assert(SnapshotTable.read(spark, root).head().getString(1) == "good")
    assert(SnapshotTable.history(spark, root).last.op == "restore")
    intercept[IllegalArgumentException] {
      SnapshotTable.restoreAsOf(spark, root, t - 20000) // pre-table instant
    }
  }

  test("a lost commit race retries onto the next version without losing rows") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    // another writer lands version 2 between our read and our commit:
    // simulate by committing an append first, then appending again
    SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("id", "v"))
    val v = SnapshotTable.append(spark, root, Seq((3L, "c")).toDF("id", "v"))
    assert(v == 3)
    assert(SnapshotTable.read(spark, root).count() == 3)
    // manifest files are one per version, none clobbered
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2, 3))
  }

  test("merge rewrites only files whose key range is hit (data skipping)") {
    val root = tmp()
    // four range-partitioned files with disjoint id ranges and stats
    val base = (0L until 400L).map(i => (i, s"row$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
    SnapshotTable.create(spark, root, base, statsKey = Some("id"))
    // resolved (logical) file set vs the raw lines physically present:
    // under format-8 delta manifests a carried file may not be relisted
    def manifestFiles(v: Int): Set[String] =
      SnapshotTable.dataFilePaths(spark, root, v).toSet
    def rawLines(v: Int): Seq[String] = {
      val p = java.nio.file.Paths.get(root, "_snapshots", f"v$v%07d.json")
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(p)).asScala.toSeq.drop(1)
        .filterNot(_.startsWith("S{")) // the version's schema line
    }
    val v1 = manifestFiles(1)
    assert(v1.size == 4, "expected one data file per range partition")
    // update keys 10 and 20 — both land in the lowest range file
    SnapshotTable.merge(spark, root,
      Seq((10L, "TEN"), (20L, "TWENTY")).toDF("id", "v"), key = "id")
    val v2 = manifestFiles(2)
    val carried = v1.intersect(v2)
    assert(carried.size == 3,
      s"three untouched files must carry forward by name, got ${carried.size}")
    // the delta property itself: the commit wrote its blast radius
    // (1 removal + the replacement adds), not the live file list
    val raw2 = rawLines(2)
    assert(raw2.count(_.startsWith("R\t")) == 1,
      s"one touched file must be removed by name, got $raw2")
    assert(raw2.size < v2.size,
      "a small merge's manifest must be smaller than the table's file list")
    // correctness is untouched by the pruning
    val now = SnapshotTable.read(spark, root)
    assert(now.count() == 400)
    assert(now.filter(col("id") === 10L).head().getString(1) == "TEN")
    assert(now.filter(col("id") === 15L).head().getString(1) == "row15")
  }

  test("streaming upsert: each micro-batch is one atomic merge, reprocessing leaves no stale tails") {
    val indexRoot = tmp()
    val src1 = tmp()
    // doc 1 long (several chunks), doc 2 short
    Seq((1L, "alpha " * 300, "en", "s", 6L * 300), (2L, "beta small", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(src1)
    graft.streaming.StreamingRunner.runStreamingIndexUpsert(spark, src1, indexRoot)
    val v1chunks = SnapshotTable.read(spark, indexRoot)
      .groupBy(col("doc_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v1chunks(1L) > 1, "long doc must produce several chunks")

    // doc 1 reprocessed much shorter → fewer chunks, old tail must vanish
    val src2 = tmp()
    Seq((1L, "alpha now tiny", "en", "s", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(src2)
    graft.streaming.StreamingRunner.runStreamingIndexUpsert(spark, src2, indexRoot)
    val now = SnapshotTable.read(spark, indexRoot)
    assert(now.filter(col("doc_id") === 1L).count() == 1, "stale tail chunks must be deleted")
    assert(now.filter(col("doc_id") === 2L).count() == v1chunks(2L), "doc 2 untouched")
    // and the pre-update index is still time-travelable
    val versions = SnapshotTable.versions(spark, indexRoot)
    val before = SnapshotTable.read(spark, indexRoot, Some(versions.init.last))
    assert(before.filter(col("doc_id") === 1L).count() == v1chunks(1L))
  }

  test("compaction consolidates files without changing rows; history keeps reading") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "v").repartition(10),
      statsKey = Some("id"))
    (0 until 3).foreach { k =>
      SnapshotTable.merge(spark, root,
        Seq((k.toLong, s"upd$k")).toDF("id", "v"), key = "id")
    }
    val before = SnapshotTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val v = SnapshotTable.compact(spark, root, targetFiles = 2, statsKey = Some("id"))
    val after = SnapshotTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "compaction must not change table contents")
    assert(SnapshotTable.read(spark, root).inputFiles.length <= 2,
      "compacted snapshot must read few files")
    // pre-compaction version still reads its own (fragmented) files
    assert(SnapshotTable.read(spark, root, Some(v - 1)).count() == 100)
  }

  test("vacuum removes only unreferenced files past the age floor") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.merge(spark, root, Seq((1L, "b")).toDF("id", "v"), key = "id")
    // simulate a crashed writer: data files that no manifest references,
    // plus log-dir garbage (a torn tmp manifest and an abandoned claim)
    Seq((99L, "orphan")).toDF("id", "v")
      .write.parquet(s"$root/data/batch-orphan")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_snapshots", "v0000009.json.tmp-deadbeef"),
      "{\"version\":9}".getBytes("UTF-8"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(root, "_snapshots", "v0000009.json.abandoned-cafe"))
    // age floor protects everything just written
    assert(SnapshotTable.vacuum(spark, root).isEmpty)
    // with the floor lowered, only garbage goes; both versions still read
    val deleted = SnapshotTable.vacuum(spark, root, minAgeMs = 0L)
    assert(deleted.nonEmpty &&
      deleted.forall(p => p.contains("batch-orphan") || p.contains("_snapshots")))
    assert(deleted.count(_.contains("_snapshots")) == 2,
      "both log-dir garbage files must be swept")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_snapshots", "v0000001.json")),
      "committed manifests must never be swept")
    assert(SnapshotTable.read(spark, root, Some(1)).head().getString(1) == "a")
    assert(SnapshotTable.read(spark, root, Some(2)).head().getString(1) == "b")
    // expire v1, vacuum again: v1's exclusive file is now collectible
    SnapshotTable.expireVersions(spark, root, keepLast = 1)
    val deleted2 = SnapshotTable.vacuum(spark, root, minAgeMs = 0L)
    assert(deleted2.nonEmpty)
    assert(SnapshotTable.versions(spark, root).size == 1)
    assert(SnapshotTable.read(spark, root).head().getString(1) == "b")
  }

  test("plain, bucketed and partitioned writes count their files in the tasks' output metrics") {
    // what Spark's own file writers report (and what the UI and any
    // listener read): the bytes and rows of the written files
    def outputDuring(body: => Unit): (Long, Long) = {
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      val records = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach { m =>
            bytes.addAndGet(m.outputMetrics.bytesWritten)
            records.addAndGet(m.outputMetrics.recordsWritten)
          }
      }
      spark.sparkContext.addSparkListener(listener)
      try { body; org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark) }
      finally spark.sparkContext.removeSparkListener(listener)
      (bytes.get, records.get)
    }
    val df = (0L until 120L).map(i => (i, s"l${i % 3}")).toDF("id", "lang")
    Seq[String => Unit](
      root => SnapshotTable.create(spark, root, df.repartition(4), statsKey = Some("id")),
      root => SnapshotTable.create(spark, root, df, statsKey = Some("id"), buckets = Some(4)),
      root => SnapshotTable.create(spark, root, df.repartition(2), statsKey = Some("id"),
        partitionCols = Seq("lang"))).foreach { write =>
      val root = tmp()
      val (bytes, records) = outputDuring(write(root))
      val files = SnapshotTable.filesDf(spark, root).collect()
      assert(files.length > 1)
      assert(bytes == files.map(_.getLong(2)).sum && records == 120L,
        s"$root: reported $bytes bytes / $records rows")
    }
  }

  test("file stats cost ZERO Spark jobs: footers only, independent of file count") {
    // no data pass and no footer read-back: the writer tasks measure
    // rows and key ranges as they write —
    // enabling stats must not add a single job or data-pass (an
    // aggregate over the batch would re-read it on the write path; a
    // per-file job loop would put thousands of jobs on the commit's
    // critical path at thousands of files per batch)
    def jobsDuring(body: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try { body; org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark) }
      finally spark.sparkContext.removeSparkListener(listener)
      counter.get()
    }
    val df = (0L until 160L).map(i => (i, s"r$i")).toDF("id", "v")
    val jobsNoStats = jobsDuring {
      SnapshotTable.create(spark, tmp(), df.repartition(16), statsKey = None)
    }
    val jobsStats16 = jobsDuring {
      SnapshotTable.create(spark, tmp(), df.repartition(16), statsKey = Some("id"))
    }
    val jobsStats2 = jobsDuring {
      SnapshotTable.create(spark, tmp(), df.repartition(2), statsKey = Some("id"))
    }
    assert(jobsStats16 == jobsNoStats,
      s"stats must add zero jobs: without $jobsNoStats, with $jobsStats16")
    assert(jobsStats2 <= jobsStats16,
      s"stats jobs must not grow with file count: 2 files → $jobsStats2, 16 → $jobsStats16")
    // and the stats are still real: skipping behaves as before
    val root = tmp()
    SnapshotTable.create(spark, root,
      df.repartitionByRange(4, col("id")), statsKey = Some("id"))
    SnapshotTable.merge(spark, root, Seq((3L, "UPD")).toDF("id", "v"), key = "id")
    assert(SnapshotTable.read(spark, root).filter(col("id") === 3L).head().getString(1) == "UPD")
    assert(SnapshotTable.read(spark, root).count() == 160)
  }

  test("merge beyond maxPruneKeys stays correct without driver-side key materialization") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsKey = Some("id"))
    // 10 distinct update keys > cap of 4 → pruning disabled, rewrite-all
    val updates = (0L until 10L).map(i => (i * 10, s"upd$i")).toDF("id", "v")
    SnapshotTable.merge(spark, root, updates, key = "id", maxPruneKeys = 4)
    val now = SnapshotTable.read(spark, root)
    assert(now.count() == 100)
    assert(now.filter(col("id") === 30L).head().getString(1) == "upd3")
    assert(now.filter(col("id") === 31L).head().getString(1) == "row31".replace("row", "r"))
  }

  test("a stale zero-length manifest-name file is reclaimed; a fresh one is not") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val claim = java.nio.file.Paths.get(root, "_snapshots", "v0000002.json")
    // the hard-link publish never creates empty manifests, so this
    // models external tampering / a pre-hard-link build's crashed
    // claim. Fresh: benefit of the doubt — commits of v2 must NOT
    // steal it, so the append burns its retries and fails
    java.nio.file.Files.createFile(claim)
    intercept[java.io.IOException] {
      SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("id", "v"))
    }
    // age the claim past the staleness bar → abandoned, reclaimed, and
    // the table is writable again (the un-recovered failure mode was a
    // PERMANENTLY unwritable table)
    java.nio.file.Files.setLastModifiedTime(claim,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10 * 60 * 1000))
    val v = SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("id", "v"))
    assert(v == 2)
    assert(SnapshotTable.read(spark, root).count() == 2)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
  }

  test("schema evolution: appended column null-fills old files, per-version schemas hold") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // append a batch carrying a NEW column
    SnapshotTable.append(spark, root,
      Seq((3L, "c", 9.5)).toDF("id", "v", "score"))
    val latest = SnapshotTable.read(spark, root)
    assert(latest.columns.toSeq == Seq("id", "v", "score"),
      "evolved column appends after the table's columns")
    val byId = latest.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(2) && byId(2L).isNullAt(2),
      "pre-evolution rows must null-fill the new column")
    assert(byId(3L).getDouble(2) == 9.5)
    // time travel: version 1 never shows the later column
    assert(SnapshotTable.read(spark, root, Some(1)).columns.toSeq == Seq("id", "v"))
  }

  test("schema evolution through merge: update batch adds a column, delete-then-add holds") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "n"),
      statsKey = Some("id"))
    SnapshotTable.merge(spark, root,
      Seq((2L, 21L, "updated")).toDF("id", "n", "note"), key = "id")
    val rows = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(rows == Set((1L, 10L, null), (2L, 21L, "updated"), (3L, 30L, null)))
    // compaction carries the evolved schema forward
    SnapshotTable.compact(spark, root, targetFiles = 1, statsKey = Some("id"))
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("id", "n", "note"))
    assert(SnapshotTable.read(spark, root).count() == 3)
  }

  test("schema evolution tolerates nested-nullability drift (struct columns round-trip)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = tmp()
    // table created from a frame whose struct field is NON-null...
    val strict = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("meta", StructType(Seq(
        StructField("tag", StringType, nullable = false))), nullable = false)))
    val df1 = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, Row("a")), Row(2L, Row("b"))), strict)
    SnapshotTable.create(spark, root, df1)
    // ...merged with a batch whose SAME struct reads back all-nullable
    // (what any parquet round-trip produces) — must not be rejected
    val loose = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("meta", StructType(Seq(
        StructField("tag", StringType, nullable = true))), nullable = true)))
    val df2 = spark.createDataFrame(
      java.util.Arrays.asList(Row(2L, Row("B"))), loose)
    SnapshotTable.merge(spark, root, df2, key = "id")
    val rows = SnapshotTable.read(spark, root)
      .selectExpr("id", "meta.tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set(1L -> "a", 2L -> "B"))
  }

  test("schema evolution rejects a type conflict on an existing column") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root, Seq((2L, 7.0)).toDF("id", "v"))
    }
    // the failed append must not have committed anything
    assert(SnapshotTable.versions(spark, root) == Seq(1))
  }

  test("history reports each live version's operation, files, and schema width") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0L until 40L).map(i => (i, s"r$i")).toDF("id", "v").repartition(4),
      statsKey = Some("id"))
    SnapshotTable.append(spark, root, Seq((100L, "x", 1.5)).toDF("id", "v", "w"),
      statsKey = Some("id"))
    SnapshotTable.merge(spark, root, Seq((3L, "UPD")).toDF("id", "v"), key = "id")
    SnapshotTable.compact(spark, root, targetFiles = 1, statsKey = Some("id"))
    val h = SnapshotTable.history(spark, root)
    assert(h.map(_.op) == Seq("create", "append", "merge", "compact"))
    assert(h.map(_.version) == Seq(1, 2, 3, 4))
    assert(h.head.nColumns == 2 && h.last.nColumns == 3,
      "schema width must reflect the append's evolution")
    assert(h.last.nFiles == 1, "compaction must leave one file")
    assert(h.forall(e => e.withStats == e.nFiles),
      "every file carries skipping stats when statsKey is integral")
    // expiry is reflected: dropped versions vanish from history
    SnapshotTable.expireVersions(spark, root, keepLast = 2)
    assert(SnapshotTable.history(spark, root).map(_.version) == Seq(3, 4))
  }

  test("concurrent appends from two threads both land, serialized by the protocol") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((0L, "seed")).toDF("id", "v"))
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        SnapshotTable.append(spark, root, Seq((i.toLong, s"t$i")).toDF("id", "v"))
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(SnapshotTable.read(spark, root).count() == 5)
    assert(SnapshotTable.versions(spark, root) == (1 to 5).toSeq)
  }

  test("type widening is opt-in: rejected by default, int batch reconciles into a long table with the flag") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, 10L)).toDF("id", "n"))
    val intBatch = Seq((2L, 20)).toDF("id", "n") // n: INT vs table LONG
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root, intBatch)
    }
    assert(SnapshotTable.versions(spark, root) == Seq(1),
      "the default must stay rejection — nothing committed")
    SnapshotTable.append(spark, root, intBatch, allowWiden = true)
    val latest = SnapshotTable.read(spark, root)
    assert(latest.schema("n").dataType == org.apache.spark.sql.types.LongType,
      "schema keeps the wider side; the batch upcasts on write")
    assert(latest.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 20L)))
  }

  test("widening the TABLE side: long batch vs int table commits the widened schema, old int files upcast on read") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, 10)).toDF("id", "n")) // n: INT
    SnapshotTable.append(spark, root,
      Seq((2L, 7000000000L)).toDF("id", "n"), allowWiden = true) // beyond int range
    val latest = SnapshotTable.read(spark, root)
    assert(latest.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(latest.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 7000000000L)),
      "the pre-widening int32 file must read back as long")
    // version 1 still reads with its own (int) schema — time travel is
    // unaffected by a later widening
    assert(SnapshotTable.read(spark, root, Some(1)).schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // float→double through MERGE as well
    val root2 = tmp()
    SnapshotTable.create(spark, root2, Seq((1L, 1.5f)).toDF("id", "w"),
      statsKey = Some("id"))
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, root2, Seq((1L, 2.5)).toDF("id", "w"), key = "id")
    }
    SnapshotTable.merge(spark, root2, Seq((1L, 2.5)).toDF("id", "w"), key = "id",
      allowWiden = true)
    val r2 = SnapshotTable.read(spark, root2)
    assert(r2.schema("w").dataType == org.apache.spark.sql.types.DoubleType)
    assert(r2.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 2.5)))
  }

  test("case-insensitive resolution: 'ID' matches 'id' for the type check, case-duplicate batches rejected") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    // same column spelled differently with a CONFLICTING type must hit
    // the type check, not slip through as a "new" column
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root, Seq((2.5, "b")).toDF("ID", "v"))
    }
    // same type, different case: resolves to the table's canonical name
    SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("ID", "v"))
    val latest = SnapshotTable.read(spark, root)
    assert(latest.columns.toSeq == Seq("id", "v"),
      "no case-duplicate column may ever be committed")
    assert(latest.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
    // a batch that is case-duplicate WITHIN ITSELF is rejected outright
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root, Seq((3L, "c", "C")).toDF("id", "v", "V"))
    }
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
  }

  test("history row counts ride the manifest: per-version nRows tracks the lifecycle, zero jobs to read") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0L until 40L).map(i => (i, s"r$i")).toDF("id", "v").repartition(2),
      statsKey = Some("id"))
    SnapshotTable.append(spark, root, Seq((100L, "x")).toDF("id", "v"),
      statsKey = Some("id"))
    // delete one live key, add two rows → 40 + 1 - 1 + 2
    SnapshotTable.merge(spark, root,
      Seq((3L, "UPD"), (200L, "new")).toDF("id", "v"), key = "id")
    def jobsDuring(body: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try { body; org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark) }
      finally spark.sparkContext.removeSparkListener(listener)
      counter.get()
    }
    var h: Seq[SnapshotTable.HistoryEntry] = Seq.empty
    val jobs = jobsDuring { h = SnapshotTable.history(spark, root) }
    assert(jobs == 0, s"history is manifest metadata only, fired $jobs jobs")
    assert(h.map(_.nRows) == Seq(40L, 41L, 42L))
    assert(h.map(_.op) == Seq("create", "append", "merge"))
  }

  test("appendIfNonEmpty skips the commit for an all-duplicate batch: no version churn, no orphan files") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val empty = Seq((1L, "a")).toDF("id", "v").filter(col("id") === 999L)
    assert(SnapshotTable.appendIfNonEmpty(spark, root, empty).isEmpty)
    assert(SnapshotTable.versions(spark, root) == Seq(1),
      "an empty batch must not commit a no-op version")
    // the just-written empty files are cleaned up eagerly
    val dataDir = java.nio.file.Paths.get(root, "data")
    val batchDirs = java.nio.file.Files.list(dataDir)
    try assert(batchDirs.count() == 1, "only the create's batch dir may remain")
    finally batchDirs.close()
    // a non-empty batch commits normally through the same surface
    assert(SnapshotTable.appendIfNonEmpty(spark, root,
      Seq((2L, "b")).toDF("id", "v")).contains(2))
    assert(SnapshotTable.read(spark, root).count() == 2)
  }

  test("readRange prunes files via manifest key stats: in-range files only, empty frame when fully pruned") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0L until 400L).map(i => (i, s"r$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsKey = Some("id"))
    val pruned = SnapshotTable.readRange(spark, root, 120L, 130L)
    assert(pruned.inputFiles.length == 1,
      s"[120,130] touches one of four range files, scanned ${pruned.inputFiles.length}")
    assert(pruned.filter(col("id").between(120L, 130L)).count() == 11,
      "every key in range must be present in the kept files")
    val none = SnapshotTable.readRange(spark, root, 10000L, 20000L)
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("id", "v"),
      "a fully-pruned read still carries the version's schema")
  }

  test("clustered compaction restores pruning: disjoint ranges, point merges leave other ranges' files untouched") {
    val root = tmp()
    // round-robin layout: every file spans ~the whole key range, so
    // stats prune nothing — the state incremental merges converge to
    SnapshotTable.create(spark, root,
      (0L until 400L).map(i => (i, s"r$i")).toDF("id", "v").repartition(4),
      statsKey = Some("id"))
    val before = SnapshotTable.readRange(spark, root, 120L, 130L).inputFiles.length
    assert(before > 1, s"interleaved layout must defeat pruning, scanned $before file(s)")
    SnapshotTable.compact(spark, root, targetFiles = 4, statsKey = Some("id"),
      cluster = true)
    val after = SnapshotTable.readRange(spark, root, 120L, 130L)
    assert(after.inputFiles.length == 1,
      s"clustered files have disjoint ranges: [120,130] is one file, scanned ${after.inputFiles.length}")
    assert(after.filter(col("id").between(120L, 130L)).count() == 11)
    // a point merge in one range must not rewrite other ranges' files
    val lowBefore = SnapshotTable.readRange(spark, root, 0L, 10L).inputFiles.toSet
    SnapshotTable.merge(spark, root, Seq((125L, "UPD")).toDF("id", "v"), key = "id")
    val lowAfter = SnapshotTable.readRange(spark, root, 0L, 10L).inputFiles.toSet
    assert(lowAfter == lowBefore,
      "files outside the merged key's range carry forward verbatim")
    val latest = SnapshotTable.read(spark, root)
    assert(latest.count() == 400)
    assert(latest.filter(col("id") === 125L).head().getString(1) == "UPD")
  }

  test("STRING merge keys prune via binary manifest stats: untouched ranges' files carry verbatim") {
    val root = tmp()
    // four range files keyed by a zero-padded doc name — the reference's
    // own merge key (filename) is a string, so string keys must prune
    val base = (0 until 400).map(i => (f"doc-$i%04d", s"r$i")).toDF("name", "v")
      .repartitionByRange(4, col("name"))
    SnapshotTable.create(spark, root, base, statsKey = Some("name"))
    val v1Files = SnapshotTable.read(spark, root).inputFiles.toSet
    assert(v1Files.size == 4)
    SnapshotTable.merge(spark, root,
      Seq(("doc-0125", "UPD")).toDF("name", "v"), key = "name")
    val v2Files = SnapshotTable.read(spark, root).inputFiles.toSet
    assert((v1Files intersect v2Files).size == 3,
      "a single-key merge must rewrite exactly the one file whose byte range holds it")
    val latest = SnapshotTable.read(spark, root)
    assert(latest.count() == 400)
    assert(latest.filter(col("name") === "doc-0125").head().getString(1) == "UPD")
    assert(latest.filter(col("name") === "doc-0126").head().getString(1) == "r126")
  }

  test("readIndexed on a STRING key: pushed string predicates prune files") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0 until 400).map(i => (f"doc-$i%04d", s"r$i")).toDF("name", "v")
        .repartitionByRange(4, col("name")), statsKey = Some("name"))
    // collect, not count: an aggregate would put AQE between the frame
    // and the scan, and the initial plan's scan instance (whose metric
    // we read) would never be the one that executed
    def runAndCountFiles(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = df.collect().length.toLong
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
      val scan = graft.PlanWalk.keptFiles(df).headOption
        .getOrElse(fail("plan must contain a snapshot scan"))
      (n, scan.toLong)
    }
    val (eqRows, eqFiles) = runAndCountFiles(
      SnapshotTable.readIndexed(spark, root, "name")
        .filter(col("name") === "doc-0125"))
    assert(eqRows == 1)
    assert(eqFiles == 1, s"string = pushed down must scan 1 file, scanned $eqFiles")
    val (rgRows, rgFiles) = runAndCountFiles(
      SnapshotTable.readIndexed(spark, root, "name")
        .filter(col("name") >= "doc-0100" && col("name") < "doc-0200"))
    assert(rgRows == 100)
    assert(rgFiles <= 2, s"a 100-key byte range spans at most 2 range files, scanned $rgFiles")
    // one-sided bound: only the tail file(s)
    val (tailRows, tailFiles) = runAndCountFiles(
      SnapshotTable.readIndexed(spark, root, "name")
        .filter(col("name") >= "doc-0390"))
    assert(tailRows == 10)
    assert(tailFiles == 1, s"a one-sided lower bound prunes to the tail file, scanned $tailFiles")
  }

  test("readIndexed: the scan's own pushed filters prune files at planning time (Catalyst-integrated skipping)") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0L until 400L).map(i => (i, s"r$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsKey = Some("id"))
    def runAndCountFiles(df: org.apache.spark.sql.DataFrame): (Seq[(Long, String)], Long) = {
      val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
      val scan = graft.PlanWalk.keptFiles(df).headOption
        .getOrElse(fail("plan must contain a snapshot scan"))
      (rows, scan.toLong)
    }
    // point lookup: exactly the one file whose range holds the key
    val (eqRows, eqFiles) = runAndCountFiles(
      SnapshotTable.readIndexed(spark, root, "id").filter(col("id") === 125L))
    assert(eqRows == Seq((125L, "r125")))
    assert(eqFiles == 1, s"= pushed down must scan 1 file, scanned $eqFiles")
    // conjunctive range probe
    val (rgRows, rgFiles) = runAndCountFiles(
      SnapshotTable.readIndexed(spark, root, "id")
        .filter(col("id") >= 120L && col("id") <= 130L))
    assert(rgRows.map(_._1).sorted == (120L to 130L))
    assert(rgFiles == 1, s"range conjuncts must scan 1 file, scanned $rgFiles")
    // filters the index cannot bound keep every file but stay correct
    val (vRows, vFiles) = runAndCountFiles(
      SnapshotTable.readIndexed(spark, root, "id").filter(col("v") === "r7"))
    assert(vRows == Seq((7L, "r7")))
    assert(vFiles == 4, "an unbounded filter must conservatively keep all files")
    // no filter: full table through the indexed path
    assert(SnapshotTable.readIndexed(spark, root, "id").count() == 400)
  }

  test("readKeys: a far-apart point probe reads the point files, not the envelope between them") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0L until 400L).map(i => (i, s"r$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsKey = Some("id"))
    // two keys in the first and last range file: the [5, 395] envelope
    // spans all four files — the point probe must touch exactly two
    val probe = SnapshotTable.readKeys(spark, root, "id", Array(5L, 395L))
    assert(probe.inputFiles.length == 2,
      s"2 far-apart keys over 4 clustered files must read 2, read ${probe.inputFiles.length}")
    assert(probe.filter(col("id").isin(5L, 395L)).count() == 2)
    val envelope = SnapshotTable.readRange(spark, root, 5L, 395L)
    assert(envelope.inputFiles.length == 4,
      "the range envelope reads everything — the contrast the point probe exists for")
    // empty key set: an IN () is false everywhere — empty frame, schema intact
    val none = SnapshotTable.readKeys(spark, root, "id", Array.empty[Long])
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
    // string-key form over a string-keyed table
    val sroot = tmp()
    SnapshotTable.create(spark, sroot,
      (0 until 400).map(i => (f"doc-$i%04d", s"r$i")).toDF("name", "v")
        .repartitionByRange(4, col("name")), statsKey = Some("name"))
    val sprobe = SnapshotTable.readKeysStr(spark, sroot, "name",
      Array("doc-0005", "doc-0395"))
    assert(sprobe.inputFiles.length == 2,
      s"string point probe must read 2 files, read ${sprobe.inputFiles.length}")
    assert(sprobe.filter(col("name").isin("doc-0005", "doc-0395")).count() == 2)
  }

  test("readIndexed: IN-list predicates prune to the exact point files at planning time") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0L until 400L).map(i => (i, s"r$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsKey = Some("id"))
    def runAndCountFiles(df: org.apache.spark.sql.DataFrame): (Seq[Long], Long) = {
      val rows = df.collect().map(_.getLong(0)).toSeq.sorted
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
      val scan = graft.PlanWalk.keptFiles(df).headOption
        .getOrElse(fail("plan must contain a snapshot scan"))
      (rows, scan.toLong)
    }
    // the verdict's own acceptance shape: a 2-point IN over a clustered
    // table reads the 2 point files, where the [min,max] envelope alone
    // would scan every file between the points
    val (inRows, inFiles) = runAndCountFiles(
      SnapshotTable.readIndexed(spark, root, "id").filter(col("id").isin(5L, 395L)))
    assert(inRows == Seq(5L, 395L))
    assert(inFiles == 2, s"2-point IN must scan 2 files, scanned $inFiles")
    // an IN whose points all fall in one file scans one
    val (oneRows, oneFiles) = runAndCountFiles(
      SnapshotTable.readIndexed(spark, root, "id").filter(col("id").isin(120L, 125L, 130L)))
    assert(oneRows == Seq(120L, 125L, 130L))
    assert(oneFiles == 1, s"co-located IN points must scan 1 file, scanned $oneFiles")
    // string IN over a string-keyed table
    val sroot = tmp()
    SnapshotTable.create(spark, sroot,
      (0 until 400).map(i => (f"doc-$i%04d", s"r$i")).toDF("name", "v")
        .repartitionByRange(4, col("name")), statsKey = Some("name"))
    val sIn = SnapshotTable.readIndexed(spark, sroot, "name")
      .filter(col("name").isin("doc-0005", "doc-0395"))
    val sRows = sIn.collect().map(_.getString(0)).toSeq.sorted
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    val sScan = graft.PlanWalk.keptFiles(sIn).headOption
        .getOrElse(fail("plan must contain a snapshot scan"))
    assert(sRows == Seq("doc-0005", "doc-0395"))
    assert(sScan.toLong == 2,
      s"string 2-point IN must scan 2 files, scanned ${sScan.toLong}")
  }

  test("stats identity: a key the stats were NOT computed for never prunes (no lost rows)") {
    val root = tmp()
    // table keyed (and clustered) by id — stats are id ranges
    SnapshotTable.create(spark, root,
      (0L until 400L).map(i => (i, 400L - i)).toDF("id", "other")
        .repartitionByRange(4, col("id")), statsKey = Some("id"))
    // a range probe naming ANOTHER column must not use id's ranges:
    // other ∈ [1,50] lives where id ∈ [350,399] — pruning by id's
    // ranges would keep the wrong file and lose all 50 rows
    val wrongKey = SnapshotTable.readRange(spark, root, 1L, 50L, key = Some("other"))
    assert(wrongKey.inputFiles.length == 4,
      "a stats-key mismatch must degrade to scanning everything")
    assert(wrongKey.filter(col("other").between(1L, 50L)).count() == 50)
    // same for the point probe and the Catalyst index
    val wrongKeys = SnapshotTable.readKeys(spark, root, "other", Array(1L, 50L))
    assert(wrongKeys.inputFiles.length == 4)
    val idx = SnapshotTable.readIndexed(spark, root, "other")
      .filter(col("other").between(1L, 50L))
    assert(idx.count() == 50,
      "the indexed read with a mismatched key must still see every row")
    // the matching name (case-insensitive) DOES prune
    assert(SnapshotTable.readKeys(spark, root, "ID", Array(5L)).inputFiles.length == 1)
  }

  test("secondary-key stats: conjunctive two-key probes prune files one key cannot") {
    val root = tmp()
    // four files with EXACT known (doc_id, chunk_idx) ranges — one
    // append per file, the reference's (filename, chunk_idx) chunk
    // identity shape with a file boundary inside each document
    def half(doc: Long, lo: Long): org.apache.spark.sql.DataFrame =
      (lo until lo + 50L).map(c => (doc, c, s"d$doc-c$c")).toDF("doc_id", "chunk_idx", "chunk")
        .coalesce(1)
    SnapshotTable.create(spark, root, half(1L, 0L),
      statsKey = Some("doc_id"), statsKey2 = Some("chunk_idx"))
    SnapshotTable.append(spark, root, half(1L, 50L))
    SnapshotTable.append(spark, root, half(2L, 0L))
    SnapshotTable.append(spark, root, half(2L, 50L))
    def countFiles(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = df.collect().length.toLong
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
      val scan = graft.PlanWalk.keptFiles(df).headOption
        .getOrElse(fail("plan must contain a snapshot scan"))
      (n, scan.toLong)
    }
    // primary alone: both halves of doc 2
    val (pRows, pFiles) = countFiles(
      SnapshotTable.readIndexed(spark, root, "doc_id").filter(col("doc_id") === 2L))
    assert(pRows == 100 && pFiles == 2,
      s"doc_id = 2 spans its two half-files, scanned $pFiles")
    // the conjunction prunes on BOTH recorded ranges: one file
    val (bRows, bFiles) = countFiles(
      SnapshotTable.readIndexed(spark, root, "doc_id")
        .filter(col("doc_id") === 2L && col("chunk_idx") === 75L))
    assert(bRows == 1 && bFiles == 1,
      s"(doc_id, chunk_idx) conjunction must scan 1 file, scanned $bFiles")
    // hierarchical clustered compaction inherits and preserves both keys
    SnapshotTable.compact(spark, root, targetFiles = 4, cluster = true)
    val (cRows, cFiles) = countFiles(
      SnapshotTable.readIndexed(spark, root, "doc_id")
        .filter(col("doc_id") === 2L && col("chunk_idx") === 75L))
    assert(cRows == 1 && cFiles <= 2,
      s"post-compact the two-key probe stays pruned, scanned $cFiles")
    assert(SnapshotTable.read(spark, root).count() == 200)
  }

  test("STRING secondary stats: (integral, string) two-key probes prune (format 5)") {
    val root = tmp()
    // the flipped reference identity: doc_id primary, chunk NAME
    // secondary — zero-padded names keep byte order = chunk order, so
    // each file's binary min2/max2 is a tight name range
    def half(doc: Long, lo: Long): org.apache.spark.sql.DataFrame =
      (lo until lo + 50L).map(c => (doc, f"c-$c%04d", s"d$doc-c$c"))
        .toDF("doc_id", "name", "chunk").coalesce(1)
    SnapshotTable.create(spark, root, half(1L, 0L),
      statsKey = Some("doc_id"), statsKey2 = Some("name"))
    SnapshotTable.append(spark, root, half(1L, 50L))
    SnapshotTable.append(spark, root, half(2L, 0L))
    SnapshotTable.append(spark, root, half(2L, 50L))
    def countFiles(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = df.collect().length.toLong
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
      val scan = graft.PlanWalk.keptFiles(df).headOption
        .getOrElse(fail("plan must contain a snapshot scan"))
      (n, scan.toLong)
    }
    // primary alone: both halves of doc 2
    val (pRows, pFiles) = countFiles(
      SnapshotTable.readIndexed(spark, root).filter(col("doc_id") === 2L))
    assert(pRows == 100 && pFiles == 2,
      s"doc_id = 2 spans its two half-files, scanned $pFiles")
    // the conjunction prunes on the BINARY secondary range too: 1 file
    val (bRows, bFiles) = countFiles(
      SnapshotTable.readIndexed(spark, root)
        .filter(col("doc_id") === 2L && col("name") === "c-0075"))
    assert(bRows == 1 && bFiles == 1,
      s"(doc_id, name) conjunction must scan 1 file, scanned $bFiles")
    // hierarchical clustered compaction range-partitions on the string
    // secondary (repartitionByRange is type-agnostic) and the rewrite
    // re-measures binary min2/max2 — pruning survives maintenance
    SnapshotTable.compact(spark, root, targetFiles = 4, cluster = true)
    val (cRows, cFiles) = countFiles(
      SnapshotTable.readIndexed(spark, root)
        .filter(col("doc_id") === 2L && col("name") === "c-0075"))
    assert(cRows == 1 && cFiles <= 2,
      s"post-compact the two-key probe stays pruned, scanned $cFiles")
    assert(SnapshotTable.read(spark, root).count() == 200)
  }

  test("z-order layout: a SECONDARY-only predicate prunes files — hierarchical clustering cannot") {
    val root = tmp()
    // a 16x64 grid: every doc has the full chunk range, so under a
    // hierarchical (doc-first) layout every file spans chunk 0..63 and
    // a chunk-only predicate can prune NOTHING — the case z-order exists for
    val grid = for { d <- 0L until 16L; c <- 0L until 64L } yield (d, c, s"g$d-$c")
    SnapshotTable.create(spark, root,
      grid.toDF("doc_id", "chunk_idx", "chunk").repartition(4),
      statsKey = Some("doc_id"), statsKey2 = Some("chunk_idx"))
    def countFiles(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = df.collect().length.toLong
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
      val scan = graft.PlanWalk.keptFiles(df).headOption
        .getOrElse(fail("plan must contain a snapshot scan"))
      (n, scan.toLong)
    }
    // hierarchical: chunk-only predicate scans everything
    SnapshotTable.compact(spark, root, targetFiles = 8, cluster = true)
    val (hRows, hFiles) = countFiles(
      SnapshotTable.readIndexed(spark, root).filter(col("chunk_idx") < 8L))
    assert(hRows == 16 * 8)
    assert(hFiles == 8,
      s"doc-first layout gives every file the full chunk range, scanned $hFiles of 8")
    // z-order: the same predicate prunes (files are (doc, chunk) rectangles)
    SnapshotTable.compact(spark, root, targetFiles = 8, zorder = true)
    val (zRows, zFiles) = countFiles(
      SnapshotTable.readIndexed(spark, root).filter(col("chunk_idx") < 8L))
    assert(zRows == 16 * 8, "layout choices must never change results")
    assert(zFiles < 8,
      s"z-ordered files carry selective chunk ranges, scanned $zFiles of 8")
    // the primary still prunes under z-order too (less sharply than
    // hierarchical, but far from nothing)
    val (pRows, pFiles) = countFiles(
      SnapshotTable.readIndexed(spark, root).filter(col("doc_id") === 3L))
    assert(pRows == 64)
    assert(pFiles < 8, s"a doc-only predicate must still prune, scanned $pFiles of 8")
    // and the keyless readIndexed pruned on the RECORDED keys without
    // the caller naming them (asserted by the scans above using it)
  }

  test("zorder=true refuses to degrade: missing or non-integral keys fail loudly") {
    // a z-layout request the table cannot honor must throw, not fall
    // through to round-robin with none of the pruning the flag exists
    // for — the caller would believe both predicates prune when
    // neither does
    val oneKey = tmp()
    SnapshotTable.create(spark, oneKey,
      (0L until 20L).map(i => (i, s"r$i")).toDF("id", "v"),
      statsKey = Some("id")) // no secondary
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, oneKey, targetFiles = 2, zorder = true)
    }
    assert(e1.getMessage.contains("statsKey2"))
    // a DOUBLE secondary has no manifest range representation (fmt 3/5
    // record long/binary only) — a z-layout no read path can prune is
    // a lie, so the request must throw, not degrade to round-robin
    val dblKey2 = tmp()
    SnapshotTable.create(spark, dblKey2,
      (0L until 20L).map(i => (i, i / 2.0)).toDF("id", "w"),
      statsKey = Some("id"), statsKey2 = Some("w"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.retainWhere(spark, dblKey2, col("id") < 10L,
        targetFiles = 2, zorder = true)
    }
    assert(e2.getMessage.contains("int/bigint/string"))
    // the table is untouched by either refused rewrite
    assert(SnapshotTable.read(spark, oneKey).count() == 20)
    assert(SnapshotTable.read(spark, dblKey2).count() == 20)
    // a STRING secondary is a legal z key since r16 (byte-prefix
    // interleave — the reference's own chunk identity is
    // (filename STRING, chunk_idx INT)): the same rewrite that used
    // to refuse now produces the layout and keeps exactly the rows
    val strKey2 = tmp()
    SnapshotTable.create(spark, strKey2,
      (0L until 20L).map(i => (i, s"f$i", i)).toDF("id", "fname", "n"),
      statsKey = Some("id"), statsKey2 = Some("fname"))
    SnapshotTable.retainWhere(spark, strKey2, col("id") < 10L,
      targetFiles = 2, zorder = true)
    assert(SnapshotTable.read(spark, strKey2).count() == 10)
  }

  test("compactSmall: only the small-file debt is rewritten; big files carry by name") {
    val root = tmp()
    // one genuinely big file, then a stream of tiny appends
    val big = (0L until 20000L).map(i => (i, s"payload-$i " * 8)).toDF("id", "v").coalesce(1)
    SnapshotTable.create(spark, root, big, statsKey = Some("id"))
    (0 until 4).foreach { i =>
      SnapshotTable.append(spark, root,
        Seq((100000L + i, s"small-$i")).toDF("id", "v").coalesce(1))
    }
    val before = SnapshotTable.read(spark, root)
    val sizes = before.inputFiles.map(f =>
      f -> new java.io.File(new java.net.URI(f)).length).toMap
    val bigFile = sizes.maxBy(_._2)._1
    assert(sizes.values.count(_ < 50000L) == 4, s"four small files expected: $sizes")
    val vBefore = SnapshotTable.versions(spark, root).last
    // debt of 4 small files → ONE packed file; the big file untouched
    val v = SnapshotTable.compactSmall(spark, root, smallBytes = 50000L, cluster = true)
    assert(v.contains(vBefore + 1))
    val after = SnapshotTable.read(spark, root)
    assert(after.inputFiles.contains(bigFile),
      "the big file must carry forward BY NAME — rewriting it is the cost this op exists to avoid")
    assert(after.inputFiles.length == 2,
      s"4 small files pack into one output, got ${after.inputFiles.toSeq}")
    assert(after.count() == 20004)
    // row-preserving: the CDC window over the compactSmall is silent
    assert(SnapshotTable.readChanges(spark, root, vBefore, Some(vBefore + 1)).isEmpty)
    // fixpoint: one small file left → nothing to do, NO version churn
    assert(SnapshotTable.compactSmall(spark, root, smallBytes = 50000L).isEmpty)
    assert(SnapshotTable.versions(spark, root).last == vBefore + 1)
  }

  test("describeDetail + expireOlderThan: the zero-job maintenance decision surface") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0L until 1000L).map(i => (i, s"row-$i " * 6)).toDF("id", "v").coalesce(1),
      statsKey = Some("id"))
    (0 until 3).foreach(i => SnapshotTable.append(spark, root,
      Seq((2000L + i, "tiny")).toDF("id", "v").coalesce(1)))
    val d = SnapshotTable.describeDetail(spark, root, smallBytes = 10000L)
    assert(d.version == 4 && d.liveVersions == 4 && d.nFiles == 4)
    assert(d.nRows == 1003 && d.statsKey.contains("id") && d.statsKey2.isEmpty)
    assert(d.smallFiles == 3, s"the three tiny appends are the debt, got $d")
    assert(d.totalBytes > 0)
    // the detail drives the decision: debt > 1 → compactSmall fires
    assert(SnapshotTable.compactSmall(spark, root, smallBytes = 10000L).isDefined)
    val after = SnapshotTable.describeDetail(spark, root, smallBytes = 10000L)
    assert(after.smallFiles == 1 && after.nFiles == 2 && after.nRows == 1003)
    // time-based retention: everything already committed is "old" vs a
    // zero age, but the newest keepLast survive regardless
    val dropped = SnapshotTable.expireOlderThan(spark, root, maxAgeMs = 0L, keepLast = 2)
    assert(dropped == Seq(1, 2, 3))
    assert(SnapshotTable.versions(spark, root) == Seq(4, 5))
    // a generous age drops nothing
    assert(SnapshotTable.expireOlderThan(spark, root, maxAgeMs = 24L * 3600 * 1000).isEmpty)
    assert(SnapshotTable.read(spark, root).count() == 1003)
  }

  test("readChanges: per-version CDC — append file-level, merge row-level, compact silent") {
    val root = tmp()
    def rows(r: (Long, String)*) = r.toDF("id", "v")
    SnapshotTable.create(spark, root,                       // v1
      rows(1L -> "a", 2L -> "b", 3L -> "c").repartitionByRange(3, col("id")),
      statsKey = Some("id"))
    SnapshotTable.append(spark, root, rows(4L -> "d"))      // v2
    SnapshotTable.merge(spark, root,                        // v3: update 2, insert 5
      rows(2L -> "B", 5L -> "e"), key = "id")
    SnapshotTable.compact(spark, root, targetFiles = 1)     // v4: layout only
    SnapshotTable.retainWhere(spark, root, col("id") =!= 1L) // v5: delete 1
    def changes(from: Int, to: Int) =
      SnapshotTable.readChanges(spark, root, from, Some(to))
        .select(col("_commit_version"), col("_change_type"), col("id"), col("v"))
        .as[(Int, String, Long, String)].collect().toSet
    // the full window, from before the create
    assert(changes(0, 5) == Set(
      (1, "insert", 1L, "a"), (1, "insert", 2L, "b"), (1, "insert", 3L, "c"),
      (2, "insert", 4L, "d"),
      (3, "insert", 2L, "B"), (3, "insert", 5L, "e"), (3, "delete", 2L, "b"),
      (5, "delete", 1L, "a")))
    // v4 (compact) emitted NOTHING — checked above by absence; and a
    // window holding only the compact is empty with the full schema
    val only4 = SnapshotTable.readChanges(spark, root, 3, Some(4))
    assert(only4.isEmpty && only4.columns.toSeq ==
      Seq("_commit_version", "_change_type", "id", "v"))
    // sub-window: merge only — the carried row 3 nets out of the diff
    assert(changes(2, 3) == Set(
      (3, "insert", 2L, "B"), (3, "insert", 5L, "e"), (3, "delete", 2L, "b")))
    // CDC invariant: snapshot(from) + inserts − deletes = snapshot(to)
    val base = SnapshotTable.read(spark, root, Some(1)).select("id", "v")
    val cs = SnapshotTable.readChanges(spark, root, 1, Some(5))
    val ins = cs.filter(col("_change_type") === "insert").select("id", "v")
    val del = cs.filter(col("_change_type") === "delete").select("id", "v")
    val replayed = base.unionAll(ins).exceptAll(del)
    val now = SnapshotTable.read(spark, root, Some(5)).select("id", "v")
    assert(replayed.exceptAll(now).isEmpty && now.exceptAll(replayed).isEmpty,
      "replaying the change stream must reproduce the target snapshot")
    // an expired window refuses loudly rather than returning a partial stream
    SnapshotTable.expireVersions(spark, root, keepLast = 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.readChanges(spark, root, 1, Some(5)).collect()
    }
    assert(e.getMessage.contains("expired"))
  }

  test("filesDf: the manifest as a queryable metadata table, zero data I/O") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (0L until 400L).map(i => (i, s"row$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsKey = Some("id"))
    SnapshotTable.append(spark, root, Seq((400L, "x")).toDF("id", "v").coalesce(1))
    SnapshotTable.deleteWhere(spark, root, col("id") === 7L)
    val f = SnapshotTable.filesDf(spark, root)
    assert(f.count() == 5, "4 range files + 1 append")
    assert(f.agg(sum(col("rows"))).head().getLong(0) == 401,
      "recorded rows are footer counts (dv-deleted rows still recorded)")
    assert(f.filter(col("dv").isNotNull).count() == 1)
    assert(f.agg(sum(col("dv_rows"))).head().getLong(0) == 1)
    assert(f.filter(col("min_key").isNull || col("max_key").isNull).count() == 0,
      "every file carries primary stats")
    assert(f.filter(col("bytes").isNull || col("bytes") <= 0).count() == 0)
    // the stats IDENTITY rides every row: these ranges were measured
    // on `id`, and there is no phantom secondary
    assert(f.filter(col("stats_key") === "id").count() == 5)
    assert(f.filter(col("stats_key2").isNotNull).count() == 0)
    // time travel: the metadata table of an old version is that
    // version's manifest, not the head's
    assert(SnapshotTable.filesDf(spark, root, Some(1)).count() == 4)
    assert(SnapshotTable.filesDf(spark, root, Some(1))
      .filter(col("dv").isNotNull).count() == 0)
  }

  test("restore rolls back to an earlier version: zero data I/O, history kept, CDC-visible") {
    val root = tmp()
    SnapshotTable.create(spark, root,                                  // v1: good state
      (0L until 400L).map(i => (i, s"row$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsKey = Some("id"))
    SnapshotTable.merge(spark, root,                                   // v2: bad batch
      Seq((10L, "CORRUPT"), (250L, "CORRUPT")).toDF("id", "v"), key = "id")
    SnapshotTable.deleteWhere(spark, root, col("id") === 42L)          // v3: bad delete
    def dataFiles(): Set[String] = {
      val d = java.nio.file.Paths.get(root, "data")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(d).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
    }
    val before = dataFiles()
    assert(SnapshotTable.restore(spark, root, 1) == 4)
    // zero data I/O: the restore wrote a manifest, not one data file
    assert(dataFiles() == before, "restore must not write or delete data files")
    // the head IS v1's state again
    val now = SnapshotTable.read(spark, root)
    assert(now.count() == 400)
    assert(now.filter(col("id") === 10L).head().getString(1) == "row10")
    assert(now.filter(col("id") === 42L).count() == 1)
    // nothing was erased: the bad versions stay time-travelable
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2, 3, 4))
    assert(SnapshotTable.read(spark, root, Some(3))
      .filter(col("id") === 10L).head().getString(1) == "CORRUPT")
    assert(SnapshotTable.history(spark, root).last.op == "restore")
    // CDC replay across the rollback converges on the restored state
    val base = SnapshotTable.read(spark, root, Some(3)).select("id", "v")
    val cs = SnapshotTable.readChanges(spark, root, 3, Some(4))
    val ins = cs.filter(col("_change_type") === "insert").select("id", "v")
    val del = cs.filter(col("_change_type") === "delete").select("id", "v")
    val replayed = base.unionAll(ins).exceptAll(del)
    assert(replayed.exceptAll(now.select("id", "v")).isEmpty &&
      now.select("id", "v").exceptAll(replayed).isEmpty,
      "replaying the restore's change stream must reproduce the rollback")
    // restoring an expired version refuses loudly
    SnapshotTable.expireVersions(spark, root, keepLast = 2)
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, root, 1)
    }
    assert(err.getMessage.contains("not live"))
  }

  test("readChanges: schema evolution inside the window null-fills pre-evolution deletes") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v1
    SnapshotTable.append(spark, root,                                            // v2 evolves
      Seq((3L, "c", "en")).toDF("id", "v", "lang"), allowWiden = true)
    SnapshotTable.merge(spark, root,                                             // v3 updates 1
      Seq((1L, "A", "de")).toDF("id", "v", "lang"), key = "id")
    val cs = SnapshotTable.readChanges(spark, root, 1)
      .select(col("_commit_version"), col("_change_type"), col("id"), col("v"), col("lang"))
      .as[(Int, String, Long, String, Option[String])].collect().toSet
    assert(cs == Set(
      (2, "insert", 3L, "c", Some("en")),
      (3, "insert", 1L, "A", Some("de")),
      // the deleted OLD row predates the lang column: null-filled,
      // exactly as read() shows that version's files today
      (3, "delete", 1L, "a", None)))
  }
}
