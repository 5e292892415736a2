package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Deletion vectors (manifest format 6): merge-on-read deletes.
  * [[SnapshotTable.deleteWhere]] / [[SnapshotTable.mergeOnRead]] commit
  * by recording (file, row-position) sidecars instead of rewriting data
  * files; every read drops the positions at its reader; any rewrite of
  * a file (compact, copy-on-write merge, retainWhere) MATERIALIZES its
  * deletions. The contract under test: delete cost ∝ rows deleted (no
  * data file rewritten), reads exact on every path (read / readRange /
  * readKeys / readIndexed / time travel / CDC), debt visible to the
  * maintenance scheduler, sidecars vacuum-safe while referenced. */
class SnapshotDvSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-dv").toString

  /** Data-file paths version `v` RESOLVES to (format-8 delta chains
    * applied): the logical file set the physical invariants below are
    * about — a carried file may not be relisted in `vN.json` at all. */
  private def manifestFiles(root: String, v: Int): Set[String] =
    sources.SnapshotTable.dataFilePaths(spark, root, v).toSet

  private def clustered400(root: String): Unit =
    SnapshotTable.create(spark, root,
      (0L until 400L).map(i => (i, s"r$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsKey = Some("id"))

  test("deleteWhere marks rows deleted without rewriting any data file") {
    val root = tmp()
    clustered400(root)
    val v2 = SnapshotTable.deleteWhere(spark, root, col("id") % 10 === 0)
    assert(v2.contains(2))
    // merge-on-read: the data file set is IDENTICAL — only dv refs moved
    assert(manifestFiles(root, 2) == manifestFiles(root, 1),
      "a dv delete must not rewrite or add data files")
    val now = SnapshotTable.read(spark, root)
    assert(now.count() == 360)
    assert(now.filter(col("id") % 10 === 0).count() == 0)
    // time travel: the pre-delete version still shows every row
    assert(SnapshotTable.read(spark, root, Some(1)).count() == 400)
    // pruned read paths apply the vectors too (they bound FILES; the
    // caller's row filter sees only live rows)
    assert(SnapshotTable.readRange(spark, root, 0L, 99L, key = Some("id")).count() == 90)
    assert(SnapshotTable.readKeys(spark, root, "id", Array(10L, 11L))
      .filter(col("id").isin(10L, 11L)).count() == 1)
    // debt surfaces on the maintenance decision surface; nRows is LIVE
    val d = SnapshotTable.describeDetail(spark, root)
    assert(d.dvFiles == 4 && d.dvRows == 40 && d.nRows == 360)
  }

  test("deleteWhere with no matching live row commits nothing") {
    val root = tmp()
    clustered400(root)
    assert(SnapshotTable.deleteWhere(spark, root, col("id") < 0).isEmpty)
    assert(SnapshotTable.versions(spark, root) == Seq(1))
    // deleting the same rows twice: second call is a no-op, not churn
    assert(SnapshotTable.deleteWhere(spark, root, col("id") === 7L).contains(2))
    assert(SnapshotTable.deleteWhere(spark, root, col("id") === 7L).isEmpty)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
  }

  test("repeated deletes accumulate; each file keeps ONE live sidecar reference") {
    val root = tmp()
    clustered400(root)
    SnapshotTable.deleteWhere(spark, root, col("id") < 10)
    SnapshotTable.deleteWhere(spark, root, col("id") >= 10 && col("id") < 20)
    assert(SnapshotTable.read(spark, root).count() == 380)
    assert(SnapshotTable.read(spark, root).agg(min(col("id"))).head().getLong(0) == 20L)
    val d = SnapshotTable.describeDetail(spark, root)
    assert(d.dvRows == 20 && d.dvFiles == 1, s"both deletes hit the first file: $d")
    // the touched entry repointed to the union sidecar — exactly one
    // dv reference per file line in the latest manifest
    val p = java.nio.file.Paths.get(root, "_snapshots", f"v${3}%07d.json")
    val dvRefs = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala.drop(1)
      .filterNot(_.startsWith("S{"))
      .map(_.split("\t", -1)).filter(_.length >= 13).map(a => (a(0), a(11)))
    assert(dvRefs.size == 1 && dvRefs.forall(_._2.startsWith("deletes/batch-")))
  }

  test("a fully-deleted file drops out of the manifest entirely") {
    val root = tmp()
    clustered400(root)
    val before = SnapshotTable.describeDetail(spark, root).nFiles
    SnapshotTable.deleteWhere(spark, root, col("id") < 100)
    val d = SnapshotTable.describeDetail(spark, root)
    assert(d.nFiles == before - 1, "the 0..99 range file is all-deleted — no empty-file scans")
    assert(d.dvFiles == 0, "dropping the file drops its dv reference with it")
    assert(SnapshotTable.read(spark, root).count() == 300)
  }

  test("copy-on-write merge after a dv delete: no resurrection, touched files materialize") {
    val root = tmp()
    clustered400(root)
    SnapshotTable.deleteWhere(spark, root, col("id") === 5L)
    // key 7 lives in the same (first) file: the merge rewrite reads
    // EFFECTIVE rows, so 5 must not come back, and the rewritten file
    // carries no dv reference any more
    SnapshotTable.merge(spark, root, Seq((7L, "updated")).toDF("id", "v"), key = "id")
    val now = SnapshotTable.read(spark, root)
    assert(now.filter(col("id") === 5L).count() == 0, "merge must not resurrect dv-deleted rows")
    assert(now.filter(col("id") === 7L).head().getString(1) == "updated")
    assert(now.count() == 399)
    assert(SnapshotTable.describeDetail(spark, root).dvFiles == 0,
      "the rewrite materialized the file's deletions")
  }

  test("mergeOnRead: delete-then-add semantics with zero touched-file rewrites") {
    val root = tmp()
    clustered400(root)
    val v1Files = manifestFiles(root, 1)
    SnapshotTable.mergeOnRead(spark, root,
      Seq((10L, "u10"), (20L, "u20")).toDF("id", "v"), key = "id")
    val v2Files = manifestFiles(root, 2)
    assert(v1Files.subsetOf(v2Files),
      "every original data file must carry forward by name — none rewritten")
    assert((v2Files -- v1Files).nonEmpty, "the update batch adds its own files")
    val now = SnapshotTable.read(spark, root)
    assert(now.count() == 400)
    assert(now.filter(col("id") === 10L).collect().map(_.getString(1)).toSeq == Seq("u10"))
    assert(now.filter(col("id") === 20L).collect().map(_.getString(1)).toSeq == Seq("u20"))
    val d = SnapshotTable.describeDetail(spark, root)
    assert(d.dvFiles == 1 && d.dvRows == 2,
      s"both keys land in the first range file, two marked positions: $d")
  }

  test("mergeOnRead deletes every old row of an updated key (no stale tails)") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      Seq((1L, 0L, "v1-c0"), (1L, 1L, "v1-c1"), (1L, 2L, "v1-c2"), (2L, 0L, "x"))
        .toDF("doc_id", "chunk_idx", "chunk"), statsKey = Some("doc_id"))
    SnapshotTable.mergeOnRead(spark, root,
      Seq((1L, 0L, "v2-c0")).toDF("doc_id", "chunk_idx", "chunk"), key = "doc_id")
    val now = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(now == Set((1L, 0L, "v2-c0"), (2L, 0L, "x")),
      "old tail chunks of doc 1 must be gone, doc 2 untouched")
  }

  test("compact materializes deletion vectors; expire+vacuum reclaims the sidecars") {
    val root = tmp()
    clustered400(root)
    SnapshotTable.deleteWhere(spark, root, col("id") % 4 === 1)
    assert(SnapshotTable.describeDetail(spark, root).dvRows == 100)
    SnapshotTable.compact(spark, root, targetFiles = 2, cluster = true)
    val d = SnapshotTable.describeDetail(spark, root)
    assert(d.dvFiles == 0 && d.dvRows == 0, "compaction purges the vectors")
    assert(SnapshotTable.read(spark, root).count() == 300)
    assert(SnapshotTable.read(spark, root).filter(col("id") % 4 === 1).count() == 0)
    // sidecars stay while the delete version is live, go when it expires
    val dvDir = new java.io.File(root, "deletes")
    assert(dvDir.isDirectory && dvDir.listFiles().nonEmpty)
    SnapshotTable.vacuum(spark, root, minAgeMs = 0L)
    assert(dvDir.listFiles().nonEmpty, "sidecar referenced by live v2 must survive vacuum")
    SnapshotTable.expireVersions(spark, root, keepLast = 1)
    SnapshotTable.vacuum(spark, root, minAgeMs = 0L)
    assert(!dvDir.exists() || dvDir.listFiles().isEmpty,
      "no live version references the sidecar — vacuum reclaims it")
    assert(SnapshotTable.read(spark, root).count() == 300, "the live table is untouched")
  }

  test("readIndexed applies vectors AND keeps planning-time file pruning") {
    val root = tmp()
    clustered400(root)
    SnapshotTable.deleteWhere(spark, root, col("id") === 125L)
    val probe = SnapshotTable.readIndexed(spark, root, "id").filter(col("id") === 125L)
    // collect() on the probe itself: the metrics below belong to THIS
    // df's execution (a count() would execute a different plan)
    assert(probe.collect().isEmpty, "the indexed read must apply the deletion")
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    // the table scan still prunes to the single file the pushed
    // predicate allows; its reader drops the deleted position
    val dataScans = graft.PlanWalk.keptFiles(probe)
    assert(dataScans.nonEmpty, "plan must contain the table's file scan")
    assert(dataScans.max == 1,
      "pushed point predicate must still prune to 1 of 4 files under the dv")
    // a neighbouring live key reads through the same path
    val live = SnapshotTable.readIndexed(spark, root, "id").filter(col("id") === 126L)
    assert(live.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((126L, "r126")))
  }

  test("deleteWhere prunes on SECONDARY stats (the TTL eviction shape)") {
    val root = tmp()
    // fp is md5-uniform (defeats primary range stats — the dedup-index
    // shape); seq is the TTL column, tight per batch file
    def batch(seq: Long) = (0 until 100)
      .map(i => (f"${i * 0x9E3779B97F4A7C15L + seq * 7919}%016x", seq))
      .toDF("fp", "seq").coalesce(1)
    SnapshotTable.create(spark, root, batch(0),
      statsKey = Some("fp"), statsKey2 = Some("seq"))
    (1L to 3L).foreach(s => SnapshotTable.append(spark, root, batch(s)))
    val rowsRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          rowsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the eviction predicate bounds only the SECONDARY column — the
      // horizon scan must skip the 3 fresh files it cannot evict from
      assert(SnapshotTable.deleteWhere(spark, root, col("seq") < 1L).contains(5))
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(rowsRead.get() <= 250,
      s"a horizon delete must scan ~1 of 4 files via seq stats, read ${rowsRead.get()} rows")
    assert(SnapshotTable.read(spark, root).count() == 300)
    assert(SnapshotTable.read(spark, root).filter(col("seq") < 1L).count() == 0)
  }

  test("maintain: materialize → pack → expire → vacuum, idempotent in one cycle") {
    val root = tmp()
    clustered400(root) // 4 clustered files of 100 rows
    SnapshotTable.deleteWhere(spark, root, col("id") < 40) // 40% debt in one file
    (0 until 3).foreach(i => SnapshotTable.append(spark, root,
      Seq((1000L + i, s"n$i")).toDF("id", "v").coalesce(1))) // small-file debt
    val committed = SnapshotTable.maintain(spark, root,
      smallBytes = 100L * 1024, keepVersions = 3, minAgeMs = 0L)
    assert(committed.size == 2,
      s"one materialize + one pack commit expected, got $committed")
    val d = SnapshotTable.describeDetail(spark, root, smallBytes = 100L * 1024)
    assert(d.dvRows == 0, s"over-bound debt must be materialized: $d")
    assert(d.liveVersions <= 3)
    val now = SnapshotTable.read(spark, root)
    assert(now.count() == 363 && now.filter(col("id") < 40).count() == 0)
    // a second cycle with no intervening writes commits NOTHING — the
    // materialize-before-pack order swept its own outputs already
    assert(SnapshotTable.maintain(spark, root,
      smallBytes = 100L * 1024, keepVersions = 3, minAgeMs = 0L).isEmpty,
      "maintain must reach its fixpoint in one cycle")
  }

  test("deleteWhere prunes its predicate scan via manifest stats") {
    val root = tmp()
    clustered400(root) // 4 clustered files, 100 rows each
    val rowsRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          rowsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(SnapshotTable.deleteWhere(spark, root, col("id") === 42L).contains(2))
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the point predicate bounds the recorded stats key, so the scan
    // plans 1 of 4 files (≈100 rows + the tiny sidecar re-read);
    // without planning-time pruning it reads all 400
    assert(rowsRead.get() <= 250,
      s"a point delete on a clustered table must scan ~1 of 4 files, read ${rowsRead.get()} rows")
    assert(SnapshotTable.read(spark, root).count() == 399)
    assert(SnapshotTable.read(spark, root).filter(col("id") === 42L).count() == 0)
  }

  test("materializeDv rewrites only over-bound files, CDC-silent, idempotent") {
    val root = tmp()
    clustered400(root) // 4 clustered files of 100 rows each
    // heavy debt in the 0..99 file (30%), light in the 100..199 file (1%)
    SnapshotTable.deleteWhere(spark, root, col("id") < 30)
    SnapshotTable.deleteWhere(spark, root, col("id") === 150L)
    val vBefore = SnapshotTable.versions(spark, root).last
    val before = manifestFiles(root, vBefore)
    val v = SnapshotTable.materializeDv(spark, root, maxDvFraction = 0.1)
    assert(v.isDefined)
    // only the over-bound file was rewritten; the other 3 (one still
    // carrying its tolerable 1% debt) carry BY NAME
    val after = manifestFiles(root, v.get)
    assert((before intersect after).size == 3,
      s"exactly the over-bound file must be rewritten: ${before diff after}")
    val d = SnapshotTable.describeDetail(spark, root)
    assert(d.dvFiles == 1 && d.dvRows == 1,
      s"the under-bound file keeps its dv; the rewritten one sheds it: $d")
    assert(d.nRows == 369)
    val now = SnapshotTable.read(spark, root)
    assert(now.count() == 369 && now.filter(col("id") < 30).count() == 0,
      "materialization must not change effective rows")
    // row-preserving "compact": CDC is silent over the materialize
    assert(SnapshotTable.readChanges(spark, root,
      fromVersion = vBefore + 1, toVersion = Some(v.get)).count() == 0)
    // idempotent between deletes: nothing above the bound → no commit
    assert(SnapshotTable.materializeDv(spark, root, 0.1).isEmpty)
    assert(SnapshotTable.versions(spark, root).last == v.get)
    // the rewritten slice stays clustered: a range probe over the
    // materialized ids still prunes to one file
    assert(SnapshotTable.readRange(spark, root, 30L, 60L, key = Some("id"))
      .inputFiles.length == 1)
  }

  test("overlapping deleteWhere generations never double-count sidecar positions") {
    val root = tmp()
    // two single-file batches: F holds ids 0-3, G holds ids 10-13
    SnapshotTable.create(spark, root,
      (0L to 3L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1),
      statsKey = Some("id"))
    SnapshotTable.append(spark, root,
      (10L to 13L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1))
    // D1 touches both files; D2 repoints F to a superset sidecar —
    // D1 still holds F's {0} alongside G's live positions
    SnapshotTable.deleteWhere(spark, root, col("id").isin(0L, 10L))
    SnapshotTable.deleteWhere(spark, root, col("id") === 1L)
    // third delete touches BOTH files again: F's old positions must
    // come only from its live sidecar (D2), not D1 ∪ D2 — the
    // duplicate {0} would inflate F's count to 4 == rows and drop the
    // file with id=3 still live
    SnapshotTable.deleteWhere(spark, root, col("id").isin(2L, 11L))
    val ids = SnapshotTable.read(spark, root)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(3L, 12L, 13L),
      s"live rows lost or resurrected after overlapping deletes: $ids")
    val d = SnapshotTable.describeDetail(spark, root)
    assert(d.nRows == 3 && d.dvRows == 5,
      s"sidecar positions double-counted across generations: $d")
  }

  test("dv entry without a recorded count reports UNKNOWN debt, not zero") {
    val root = tmp()
    clustered400(root)
    SnapshotTable.deleteWhere(spark, root, col("id") === 5L)
    // blank the dvRows field (13th) — a legal parse (empty field), as
    // a manifest written by a pre-dvRows writer would produce
    val p = java.nio.file.Paths.get(root, "_snapshots", f"v${2}%07d.json")
    import scala.jdk.CollectionConverters._
    val doctored = java.nio.file.Files.readAllLines(p).asScala.map { l =>
      val f = l.split("\t", -1)
      if (f.length == 13) (f.dropRight(1) :+ "").mkString("\t") else l
    }
    java.nio.file.Files.write(p, doctored.asJava)
    val d = SnapshotTable.describeDetail(spark, root)
    assert(d.nRows == -1L && d.dvRows == -1L,
      s"unknown dv debt must surface as -1, not as zero deletions: $d")
    assert(SnapshotTable.history(spark, root).last.nRows == -1L)
    // the read itself still applies the sidecar — only the COUNTS are
    // unknown, never the row set
    assert(SnapshotTable.read(spark, root).filter(col("id") === 5L).count() == 0)
  }

  test("CDC: deleteWhere emits its deleted rows; mergeOnRead emits the delete+insert pair") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      (1L to 4L).map(i => (i, s"p$i")).toDF("id", "v"), statsKey = Some("id"))
    SnapshotTable.deleteWhere(spark, root, col("id") === 2L)
    val del = SnapshotTable.readChanges(spark, root, fromVersion = 1).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(del == Set((2, "delete", 2L, "p2")),
      s"the dv delta must surface as a row-level delete with OLD content: $del")
    SnapshotTable.mergeOnRead(spark, root, Seq((3L, "p3-new")).toDF("id", "v"), key = "id")
    val upd = SnapshotTable.readChanges(spark, root, fromVersion = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(upd == Set((3, "delete", 3L, "p3"), (3, "insert", 3L, "p3-new")),
      s"a merge-on-read update is its delete+insert pair: $upd")
  }

}
