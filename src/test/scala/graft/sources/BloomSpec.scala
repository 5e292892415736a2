package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Per-file bloom filters (manifest format 7): the read-skip layer that
  * prunes POINT probes against fresh UNCLUSTERED files — whose min/max
  * range spans ~the whole key space, so range stats alone keep every
  * file until maintenance re-clusters. The contract under test, in
  * order of importance:
  *
  *  1. NO FALSE NEGATIVES — for every key a file actually holds, the
  *     probe keeps the file. This is the correctness-critical half:
  *     a false negative silently drops a file from a point read (lost
  *     rows → wrong dedup). It rests on write/probe hash parity — the
  *     write side hashes distributedly with the SQL `xxhash64` and the
  *     probe evaluates the same Catalyst expression driver-side — and
  *     on the bit packing agreeing between [[SnapshotTable.attachBlooms]]
  *     and [[ManifestPruning.bloomKeeps]]. Proven here by probing EVERY
  *     written key against its file's parsed manifest entry, for both
  *     key kinds (long and string).
  *  2. The manifest line (14 fields, base64 bitset) round-trips through
  *     render/parse byte-exactly, with and without a dv reference.
  *  3. The probe actually PRUNES: an absent-key probe over uniform-key
  *     files scans zero files where range stats would scan all.
  *  4. Degradation is toward the scan, never the skip: oversized files
  *     carry no bloom (kept), and a stats-key change strips the bloom
  *     with the ranges (its positions were hashed from the old key).
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-bloom").toString

  /** Fibonacci-constant scramble: injective over the longs, spreads
    * consecutive i across the whole key space — every batch's min/max
    * then spans ~everything, the exact shape that defeats range stats
    * (the md5-uniform fingerprints of the streaming dedup index). */
  private def scramble(i: Int): Long = i * 0x9E3779B97F4A7C15L

  private def entriesOf(root: String): Seq[SnapshotTable.FileEntry] = {
    // resolved entries (format-8 delta chains applied): blooms of
    // carried files live on entries the latest vN.json may not relist
    val v = SnapshotTable.versions(spark, root).last
    SnapshotTable.manifestFull(spark, root, v).entries
  }

  test("manifest line round-trip: bloom field (format 7), with and without dv") {
    val bloom = Array.tabulate(128)(i => (i * 37 % 256).toByte)
    val full = SnapshotTable.FileEntry("data/b/x.parquet", Some(1L), Some(9L),
      Some(100L), Some(4096L), None, None, Some(2L), Some(5L), None, None,
      Some("deletes/d1"), Some(3L), Some(bloom))
    val rt = SnapshotTable.parseEntry(full.render)
    assert(rt.path == full.path && rt.minKey.contains(1L) && rt.maxKey.contains(9L)
      && rt.rows.contains(100L) && rt.bytes.contains(4096L)
      && rt.min2.contains(2L) && rt.max2.contains(5L))
    assert(rt.dv.contains("deletes/d1") && rt.dvRows.contains(3L))
    assert(rt.bloom.exists(_.sameElements(bloom)), "bitset must survive byte-exactly")
    // bloom WITHOUT dv: the dv fields render empty but the 14-field
    // arity holds, and parse restores None (not empty-string)
    val noDv = full.copy(dv = None, dvRows = None)
    assert(noDv.render.split("\t", -1).length == 14)
    val rt2 = SnapshotTable.parseEntry(noDv.render)
    assert(rt2.dv.isEmpty && rt2.dvRows.isEmpty)
    assert(rt2.bloom.exists(_.sameElements(bloom)))
    // string-stats entry with a bloom (the dedup-index shape)
    val str = SnapshotTable.FileEntry("data/b/y.parquet", None, None,
      Some(7L), Some(512L), Some("aa".getBytes), Some("ff".getBytes),
      None, None, None, None, None, None, Some(bloom))
    val rt3 = SnapshotTable.parseEntry(str.render)
    assert(rt3.minStr.exists(_.sameElements("aa".getBytes))
      && rt3.maxStr.exists(_.sameElements("ff".getBytes))
      && rt3.bloom.exists(_.sameElements(bloom)))
  }

  test("no false negatives: every written LONG key keeps its file") {
    val root = tmp()
    val keys = (0 until 600).map(scramble)
    val batches = keys.grouped(200).toSeq
    SnapshotTable.create(spark, root,
      batches.head.map(k => (k, s"v$k")).toDF("id", "v").coalesce(1),
      statsKey = Some("id"), bloomKey = true)
    batches.tail.foreach(b => SnapshotTable.append(spark, root,
      b.map(k => (k, s"v$k")).toDF("id", "v").coalesce(1), bloomKey = true))
    val entries = entriesOf(root)
    assert(entries.size == 3 && entries.forall(_.bloom.isDefined),
      s"small files must carry blooms: $entries")
    // the property: write-side positions and probe-side positions agree
    // for every key each file ACTUALLY holds
    for (e <- entries) {
      val held = spark.read.parquet(s"$root/${e.path}").select("id").as[Long].collect()
      assert(held.length == 200)
      for (k <- held)
        assert(ManifestPruning.bloomKeeps(e.bloom, Array(SnapshotTable.bloomHashLong(k))),
          s"FALSE NEGATIVE: key $k is in ${e.path} but its bloom skips the file")
    }
    // end-to-end: a present-key point read returns the row
    for (k <- keys.take(25))
      assert(SnapshotTable.readKeys(spark, root, "id", Array(k))
        .filter(col("id") === k).count() == 1, s"point read lost key $k")
  }

  test("no false negatives: every written STRING key keeps its file") {
    val root = tmp()
    // hex fingerprints — exactly the streaming dedup index's key shape
    val keys = (0 until 400).map(i => f"${scramble(i)}%016x")
    val batches = keys.grouped(200).toSeq
    SnapshotTable.create(spark, root,
      batches.head.map(k => (k, 1)).toDF("fp", "n").coalesce(1),
      statsKey = Some("fp"), bloomKey = true)
    batches.tail.foreach(b => SnapshotTable.append(spark, root,
      b.map(k => (k, 1)).toDF("fp", "n").coalesce(1), bloomKey = true))
    val entries = entriesOf(root)
    assert(entries.size == 2 && entries.forall(_.bloom.isDefined))
    for (e <- entries) {
      val held = spark.read.parquet(s"$root/${e.path}").select("fp").as[String].collect()
      for (k <- held)
        assert(ManifestPruning.bloomKeeps(e.bloom,
          Array(SnapshotTable.bloomHashBytes(k.getBytes("UTF-8")))),
          s"FALSE NEGATIVE: key $k is in ${e.path} but its bloom skips the file")
    }
    for (k <- keys.take(25))
      assert(SnapshotTable.readKeysStr(spark, root, "fp", Array(k))
        .filter(col("fp") === k).count() == 1, s"point read lost key $k")
  }

  test("point probe prunes fresh unclustered files where range stats cannot") {
    val root = tmp()
    val keys = (0 until 600).map(scramble)
    val batches = keys.grouped(200).toSeq
    SnapshotTable.create(spark, root,
      batches.head.map(k => (k, s"v$k")).toDF("id", "v").coalesce(1),
      statsKey = Some("id"), bloomKey = true)
    batches.tail.foreach(b => SnapshotTable.append(spark, root,
      b.map(k => (k, s"v$k")).toDF("id", "v").coalesce(1), bloomKey = true))
    val entries = entriesOf(root)
    // setup check: an absent mid-range key passes every file's RANGE
    // stats — without blooms this probe would scan the whole table
    val absent = 424242L
    assert(!keys.contains(absent))
    assert(entries.forall(e => ManifestPruning.keeps(e,
      ManifestPruning.KeyBounds(Some((absent, absent)), None, None))),
      "setup must defeat range stats (uniform keys spanning the space)")
    val probe = SnapshotTable.readKeys(spark, root, "id", Array(absent))
    assert(probe.inputFiles.isEmpty,
      s"bloom must prune all ${entries.size} files for an absent key; " +
        s"scanned ${probe.inputFiles.length}")
    assert(probe.count() == 0)
    // a present key scans fewer files than the table holds and finds
    // its row (its own file always kept — the no-false-negative half)
    val k = keys(7)
    val hit = SnapshotTable.readKeys(spark, root, "id", Array(k))
    assert(hit.inputFiles.length < entries.size,
      s"present-key probe must still prune: scanned ${hit.inputFiles.length}/${entries.size}")
    assert(hit.filter(col("id") === k).count() == 1)
  }

  test("planning-time bloom pruning: an indexed point read skips fresh files") {
    val root = tmp()
    val keys = (0 until 600).map(scramble)
    val batches = keys.grouped(200).toSeq
    SnapshotTable.create(spark, root,
      batches.head.map(k => (k, s"v$k")).toDF("id", "v").coalesce(1),
      statsKey = Some("id"), bloomKey = true)
    batches.tail.foreach(b => SnapshotTable.append(spark, root,
      b.map(k => (k, s"v$k")).toDF("id", "v").coalesce(1), bloomKey = true))
    // the CATALYST path: the optimizer's own pushed equality reaches
    // the snapshot scan, whose point-set extraction probes the blooms — zero files planned for an absent in-range key
    val probe = SnapshotTable.readIndexed(spark, root, "id")
      .filter(col("id") === 424242L)
    assert(probe.count() == 0)
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    val dataScans = graft.PlanWalk.keptFiles(probe)
    assert(dataScans.nonEmpty, "plan must contain the table's file scan")
    assert(dataScans.sum == 0,
      "the absent-key equality must bloom-prune every fresh file at planning time")
    // a present key still reads through the same path
    val k = keys(11)
    val hit = SnapshotTable.readIndexed(spark, root, "id").filter(col("id") === k)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(k))
  }

  test("secondary-key blooms (format 11): a 2D identity's BOTH keys prune, no false negatives") {
    val root = tmp()
    // the reference's chunk identity shape: filename (string) ×
    // chunk_idx (long), BOTH hash-scattered so neither key's RANGE is
    // selective — blooms are the only skip either key has
    val rows = (0 until 400).map(i => (f"${scramble(i)}%016x", scramble(i * 7 + 1)))
    val batches = rows.grouped(200).toSeq
    SnapshotTable.create(spark, root, batches.head.toDF("fp", "idx").coalesce(1),
      statsKey = Some("fp"), statsKey2 = Some("idx"), bloomKey = true)
    batches.tail.foreach(b => SnapshotTable.append(spark, root,
      b.toDF("fp", "idx").coalesce(1), bloomKey = true))
    val entries = entriesOf(root)
    assert(entries.size == 2 &&
      entries.forall(e => e.bloom.isDefined && e.bloom2.isDefined),
      s"both keys' blooms must attach: $entries")
    // the 15-field manifest line round-trips byte-exactly
    val line = entries.head.render
    assert(line.split("\t", -1).length == 15, line)
    val rt = SnapshotTable.parseEntry(line)
    assert(rt.bloom.exists(_.sameElements(entries.head.bloom.get)))
    assert(rt.bloom2.exists(_.sameElements(entries.head.bloom2.get)))
    // NO FALSE NEGATIVES on either key: every held value keeps its file
    for (e <- entries) {
      val held = spark.read.parquet(s"$root/${e.path}")
        .select("fp", "idx").collect()
      for (r <- held) {
        assert(ManifestPruning.bloomKeeps(e.bloom,
          Array(SnapshotTable.bloomHashBytes(r.getString(0).getBytes("UTF-8")))),
          s"FALSE NEGATIVE (primary): ${r.getString(0)} in ${e.path}")
        assert(ManifestPruning.bloomKeeps(e.bloom2,
          Array(SnapshotTable.bloomHashLong(r.getLong(1)))),
          s"FALSE NEGATIVE (secondary): ${r.getLong(1)} in ${e.path}")
      }
    }
    // the probe PRUNES on the secondary alone: an absent in-range idx
    // passes every file's range stats but bloom-prunes to zero files,
    // via the Catalyst-indexed path's pushed equality
    val absent = 424242L
    assert(!rows.exists(_._2 == absent))
    val probe = SnapshotTable.readIndexed(spark, root)
      .filter(col("idx") === absent)
    assert(probe.count() == 0)
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    val dataScans = graft.PlanWalk.keptFiles(probe)
    assert(dataScans.nonEmpty)
    assert(dataScans.sum == 0,
      "an absent secondary key must bloom-prune every fresh file")
    // a present secondary key still finds its row (kept by its bloom)
    val (pfp, pidx) = rows(7)
    val hit = SnapshotTable.readIndexed(spark, root).filter(col("idx") === pidx)
    assert(hit.collect().map(_.getString(0)).toSeq == Seq(pfp))
    // a key-2 change strips the secondary bloom with the key-2 ranges
    val e2 = SnapshotTable.FileEntry("p", Some(1L), Some(2L), Some(10L), Some(64L),
      bloom = Some(Array[Byte](1, 2)), bloom2 = Some(Array[Byte](3, 4)))
    assert(e2.withoutKey2Stats.bloom2.isEmpty && e2.withoutKey2Stats.bloom.isDefined,
      "bloom2 must not survive a statsKey2 change; bloom must")
  }

  test("degradation is toward the scan: oversized files carry no bloom; key change strips it") {
    val root = tmp()
    // one file above BloomMaxRows: no bloom attached, always kept
    SnapshotTable.create(spark, root,
      (0L until SnapshotTable.BloomMaxRows + 1).map(i => (scramble(i.toInt), i))
        .toDF("id", "n").coalesce(1),
      statsKey = Some("id"), bloomKey = true)
    val big = entriesOf(root)
    assert(big.size == 1 && big.head.bloom.isEmpty,
      "a file above the row cap must not carry an under-sized bloom")
    assert(ManifestPruning.bloomKeeps(big.head.bloom,
      Array(SnapshotTable.bloomHashLong(424242L))), "absent bloom keeps the file")
    // a stats-key change strips the bloom with the ranges: positions
    // hashed from the OLD key's values would wrongly skip under the new
    val e = SnapshotTable.FileEntry("p", Some(1L), Some(2L), Some(10L), Some(64L),
      bloom = Some(Array[Byte](1, 2, 3, 4)))
    assert(e.withoutKeyStats.bloom.isEmpty,
      "bloom must not survive a stats-key change")
  }
}
