package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Minimal ACID table format — the transactional MERGE story the plain
  * parquet upsert lacks (reference J2 is delete-then-add inside one
  * process; concurrent writers at scale need a commit protocol):
  *
  *  - A table is a directory of immutable parquet data files plus a
  *    `_snapshots/` log of manifests, one per version; manifest N
  *    lists exactly the files visible at version N (copy-on-write),
  *    each with optional per-file min/max KEY STATS for data skipping,
  *    plus the version's SCHEMA (append/merge may add columns — see
  *    [[append]]; every version reads with its own recorded schema).
  *  - The manifest header NAMES the column(s) the stats were computed
  *    for (`statsKey`, optional secondary `statsKey2`): every pruning
  *    path verifies the requested key against the recorded name and
  *    degrades to no-pruning on mismatch — stats are only ever applied
  *    to the column they were measured on (the same stats-identity
  *    contract Delta/Iceberg carry in their metadata).
  *  - COMMIT is one atomic filesystem operation: manifest vN+1 appears
  *    under its final name exactly once or not at all (hard-link
  *    publish on local filesystems, create-with-overwrite=false on
  *    HDFS-like stores). Two writers racing to the same version cannot
  *    both succeed; the loser re-reads the latest snapshot and retries
  *    against it (optimistic concurrency, Delta/Iceberg-style).
  *  - READERS never lock: they list `_snapshots`, pick the highest
  *    version (or any historical one — time travel), and read only the
  *    files that manifest names. A crashed writer leaves at most
  *    orphaned data files, never a torn table.
  *
  * MERGE (delete-then-add by key) uses the stats to rewrite ONLY the
  * files whose key range contains an updated key; untouched files are
  * carried into the new manifest verbatim — at 100 TB an upsert of one
  * document rewrites a handful of files, not the table. Files without
  * stats (non-integral keys, pre-stats manifests) conservatively
  * rewrite. The whole operation is invisible until the single manifest
  * create lands.
  *
  * All file skipping — [[readRange]], [[readKeys]], [[readIndexed]]
  * and [[deleteWhere]]'s planning-time pruning, the DSv2 scan's
  * [[SqlSnapshot.keptFiles]], and the touched-file split of [[merge]]
  * and [[mergeOnRead]] — calls ONE function,
  * [[ManifestPruning.partition]]: bounds, blooms, buckets and
  * partition values are judged in one place, so the read path, the
  * write path, and the Catalyst integration can never drift apart.
  */
object SnapshotTable {
  import ManifestPruning.KeyBounds

  private val SnapshotDir = "_snapshots"
  private val MaxRetries = 20

  /** Highest manifest format this build reads and the format it writes.
    * The header carries `"format":N` so future revisions are
    * self-describing: a reader seeing a NEWER format fails loudly
    * instead of misparsing lines it does not understand. Format
    * history: 1 = headerless/op-header tables written before the field
    * existed (parsed leniently); 2 = header format field + optional
    * per-file row-count and byte-size columns; 3 = optional per-file
    * STRING key stats (base64 of the parquet binary min/max, compared
    * in unsigned byte order — the same order Spark sorts strings);
    * 4 = the header RECORDS the stats column names (`statsKey`,
    * optional `statsKey2`) and file lines may carry a SECOND integral
    * column's min/max — pruning paths verify the requested key against
    * the recorded name and fall back to no-pruning on mismatch, so
    * stats can never be applied to a column they weren't computed for.
    * Pre-format-4 manifests record no stats identity; their stats are
    * therefore IGNORED by this reader (conservative full scan) rather
    * than trusted blind;
    * 5 = the secondary column's min/max may be BINARY (base64, unsigned
    * byte order — same encoding the primary uses) so STRING secondaries
    * 2D-prune too: two more optional fields (11-field lines). A
    * format-4 reader would misparse an 11-field line as a path, which
    * is why the format guard makes newer formats a hard error;
    * 6 = file lines may carry a DELETION VECTOR reference (the relative
    * path of a sidecar directory of deleted row positions, plus the
    * file's deleted-row count): merge-on-read deletes — [[deleteWhere]]
    * and [[mergeOnRead]] commit by marking positions instead of
    * rewriting data files, readers drop the positions as they read, and
    * any rewrite of the file ([[compact]], copy-on-write [[merge]])
    * materializes the deletions and drops the reference;
    * 7 = file lines may carry a per-file BLOOM FILTER over the primary
    * stats key (base64 bitset, power-of-two size, xxhash64-derived
    * positions — see [[bloomPositions]]): point probes prune files
    * whose [min,max] range cannot — the md5-uniform keys of a
    * freshly-appended UNCLUSTERED dedup-index file span ~the whole key
    * space, so until maintenance re-clusters, range stats keep every
    * fresh file and the bloom is the only thing standing between a
    * point probe and a full scan. Small files only (the gap is fresh
    * micro-batches; big files are either clustered or worth scanning);
    * 8 = DELTA manifests: a commit whose blast radius is small relative
    * to the table may record only its CHANGES against a base version
    * (`"base":B,"depth":D` in the header) — added/changed entry lines
    * plus `R\t<path>` removal lines — instead of re-listing every live
    * file. Readers resolve the chain: entries(v) = entries(base) minus
    * removed/changed paths, plus the listed entries (carried entries
    * keep base order; listed ones append — exactly the order a full
    * append manifest would have written). This is what makes COMMIT
    * COST ∝ TOUCHED FILES: at 1M live files, a streaming micro-batch
    * append writes a 3-line manifest, not a 1M-line one (the same
    * economics as Delta's JSON log + checkpoints / Iceberg's manifest
    * lists). Every chain is bounded by [[MaxChainDepth]] — a commit
    * whose parent sits at the cap writes a FULL manifest (a
    * checkpoint), so read-side resolution is O(depth) small metadata
    * reads, never O(history). Header fields (op/schema/statsKey/
    * statsKey2/txnBatchId) are always the version's OWN — only the
    * entry list is inherited;
    * 9 = COLUMN MAPPING: the manifest may carry a logical→physical
    * column-name map (`M!` lines, base64 pairs — same line grammar as
    * constraints, full set in every manifest, never inherited through
    * a delta base). Data files always store PHYSICAL names; the
    * recorded schema, stats keys, and constraints are LOGICAL. This is
    * what makes [[renameColumn]] and [[dropColumn]] ZERO-COPY metadata
    * commits — schema identity changes while 100 TB of data stands
    * still (the same trick as Delta's column mapping / Iceberg's field
    * IDs; reference analog: the wholesale metadata-schema replacement
    * in chunking_manager.py:170-176). The map is absent (identity)
    * until the first rename/drop activates it; a column ADDED after
    * activation gets a MINTED physical name, so re-adding a dropped
    * column's logical name can never resurrect the dropped column's
    * bytes from old files. The format bump is load-bearing: a format-8
    * reader would read physical files under logical names and silently
    * null-fill every renamed column;
    * 10 = NESTED column mapping: map keys and tombstones may be
    * struct-field PATHS (segments joined with [[PathSep]]), so a
    * rename/drop/add of `metadata.filename` is the same zero-copy
    * metadata commit as a top-level one. Written only when a nested
    * path actually exists ([[writeFormat]]) — top-level-only tables
    * stay at 9, mapping-free tables at 8;
    * 11 = SECONDARY-KEY blooms: entry lines may carry a 15th field
    * (base64 bloom over statsKey2). Written only when some entry
    * actually does — a pre-11 reader's arity dispatch would mis-parse
    * a 15-field line as a bare path. */
  private val ManifestFormat = 11

  /** Reader-requirement discipline (Delta/Iceberg style): write the
    * LOWEST format that expresses the manifest — 8 for mapping-free
    * tables (older readers stay compatible), 9 once a top-level map
    * or tombstone exists, 10 when any NESTED path (a key or
    * tombstone carrying the path separator) appears, 11 only when an
    * entry carries a secondary-key bloom. */
  private def writeFormat(cm: Map[String, String], rt: Set[String],
      files: Seq[FileEntry]): Int = {
    val base =
      if (cm.isEmpty && rt.isEmpty) 8
      else if (cm.keysIterator.exists(_.indexOf(PathSep.toInt) >= 0) ||
               rt.exists(_.indexOf(PathSep.toInt) >= 0)) 10
      else 9
    if (files.exists(_.bloom2.isDefined)) ManifestFormat else base
  }

  /** Longest delta chain a reader may have to walk: a commit whose
    * parent already sits at this depth writes a full checkpoint
    * manifest. 15 bounds resolution at ≤16 small reads while keeping
    * >90% of steady-state streaming commits O(touched files). */
  private[sources] val MaxChainDepth = 15

  /** One manifest data-file line: relative path + optional min/max of
    * the table's primary stats key (long for integral keys, base64
    * binary for string keys) + optional row count (measured in the
    * write loop — powers DESCRIBE HISTORY with zero data I/O) +
    * optional file size in bytes (from the writer's commit — what lets
    * the snapshot scan build its FileStatuses from the manifest
    * alone, no per-file RPCs at planning time) + optional min/max of
    * the SECONDARY stats key (long for integral secondaries, base64
    * binary for string ones — format 5; the reference's chunk identity
    * `(filename, chunk_idx)` has the string FIRST, but the flipped
    * layout `(chunk_idx, filename)` is just as legal and must 2D-prune
    * too). The pruning
    * decision over these fields lives in [[ManifestPruning]]. */
  private[graft] final case class FileEntry(path: String, minKey: Option[Long],
      maxKey: Option[Long], rows: Option[Long] = None, bytes: Option[Long] = None,
      minStr: Option[Array[Byte]] = None, maxStr: Option[Array[Byte]] = None,
      min2: Option[Long] = None, max2: Option[Long] = None,
      min2Str: Option[Array[Byte]] = None, max2Str: Option[Array[Byte]] = None,
      dv: Option[String] = None, dvRows: Option[Long] = None,
      bloom: Option[Array[Byte]] = None,
      bloom2: Option[Array[Byte]] = None) {
    def render: String = {
      def s(o: Option[Long]): String = o.map(_.toString).getOrElse("")
      def b64(o: Option[Array[Byte]]): String =
        o.map(java.util.Base64.getEncoder.withoutPadding.encodeToString).getOrElse("")
      if (bloom2.isDefined) // format 11: secondary-key bloom rides field 15
        s"$path\t${s(minKey)}\t${s(maxKey)}\t${s(rows)}\t${s(bytes)}\t${b64(minStr)}\t${b64(maxStr)}\t${s(min2)}\t${s(max2)}\t${b64(min2Str)}\t${b64(max2Str)}\t${dv.getOrElse("")}\t${s(dvRows)}\t${b64(bloom)}\t${b64(bloom2)}"
      else if (bloom.isDefined)
        s"$path\t${s(minKey)}\t${s(maxKey)}\t${s(rows)}\t${s(bytes)}\t${b64(minStr)}\t${b64(maxStr)}\t${s(min2)}\t${s(max2)}\t${b64(min2Str)}\t${b64(max2Str)}\t${dv.getOrElse("")}\t${s(dvRows)}\t${b64(bloom)}"
      else if (dv.isDefined)
        s"$path\t${s(minKey)}\t${s(maxKey)}\t${s(rows)}\t${s(bytes)}\t${b64(minStr)}\t${b64(maxStr)}\t${s(min2)}\t${s(max2)}\t${b64(min2Str)}\t${b64(max2Str)}\t${dv.get}\t${s(dvRows)}"
      else if (min2Str.isDefined || max2Str.isDefined)
        s"$path\t${s(minKey)}\t${s(maxKey)}\t${s(rows)}\t${s(bytes)}\t${b64(minStr)}\t${b64(maxStr)}\t${s(min2)}\t${s(max2)}\t${b64(min2Str)}\t${b64(max2Str)}"
      else if (min2.isDefined || max2.isDefined)
        s"$path\t${s(minKey)}\t${s(maxKey)}\t${s(rows)}\t${s(bytes)}\t${b64(minStr)}\t${b64(maxStr)}\t${s(min2)}\t${s(max2)}"
      else if (minStr.isDefined || maxStr.isDefined)
        s"$path\t${s(minKey)}\t${s(maxKey)}\t${s(rows)}\t${s(bytes)}\t${b64(minStr)}\t${b64(maxStr)}"
      else if (rows.isEmpty && bytes.isEmpty)
        minKey.zip(maxKey).map { case (a, b) => s"$path\t$a\t$b" }.getOrElse(path)
      else if (bytes.isEmpty) s"$path\t${s(minKey)}\t${s(maxKey)}\t${s(rows)}"
      else s"$path\t${s(minKey)}\t${s(maxKey)}\t${s(rows)}\t${s(bytes)}"
    }
    /** Stats stripped — what a carried-forward entry becomes when a
      * commit changes the stats key: ranges measured on the OLD key
      * must not survive under a header naming the new one. The BLOOM
      * goes with them — its positions were hashed from the old key's
      * values, so under a new key name it would wrongly skip files.
      * Row count and size are key-independent and stay. */
    def withoutKeyStats: FileEntry =
      copy(minKey = None, maxKey = None, minStr = None, maxStr = None, bloom = None)
    def withoutKey2Stats: FileEntry =
      copy(min2 = None, max2 = None, min2Str = None, max2Str = None,
        bloom2 = None)
  }

  /** Unsigned lexicographic byte order — the order parquet records
    * BINARY min/max in AND the order Spark compares strings (UTF-8
    * bytes), so manifest string ranges and engine-side predicates
    * agree on every corner (supplementary characters included). */
  private[sources] val byteOrder: java.util.Comparator[Array[Byte]] =
    new java.util.Comparator[Array[Byte]] {
      override def compare(a: Array[Byte], b: Array[Byte]): Int =
        java.util.Arrays.compareUnsigned(a, b)
    }

  /** Bloom-filter geometry. K probe positions per key, derived from ONE
    * xxhash64 (seed 42 — the SQL function's default, so the write side
    * can hash distributedly with `functions.xxhash64` and the probe
    * side reproduces it exactly by evaluating the same Catalyst
    * expression driver-side) via Kirsch–Mitzenmacher double hashing:
    * pos_i = (h1 + i·h2) mod m, h1 = top 32 bits, h2 = low 32 bits
    * forced odd. m is per-file, power of two, ~10 bits/key
    * ([[bloomBitsFor]]); only files with ≤ [[BloomMaxRows]] rows carry
    * one — the gap blooms close is FRESH SMALL files (micro-batch
    * appends whose uniform keys defeat range stats until maintenance
    * re-clusters); a big file is either clustered (range-prunable) or
    * genuinely worth scanning, and an under-sized bloom on it would be
    * all-ones dead weight in every manifest line. */
  private[sources] val BloomK = 4
  private[sources] val BloomMaxRows = 8192L

  /** Bits for a `rows`-key bloom: next power of two ≥ 10·rows, clamped
    * to [1024, 65536] (128 B – 8 KiB of bitset per manifest line). */
  private def bloomBitsFor(rows: Long): Int = {
    val target = math.max(1024L, rows * 10L)
    val p = java.lang.Long.highestOneBit(target)
    math.min(if (p == target) p else p << 1, 65536L).toInt
  }

  private def bloomSplit(h: Long): (Long, Long) = (h >>> 32, (h & 0xFFFFFFFFL) | 1L)

  /** Driver-side hash of a probe key, IDENTICAL to the write side's
    * `xxhash64(col)` by construction: the same Catalyst expression the
    * SQL function plans, evaluated on a literal. */
  private[sources] def bloomHashLong(v: Long): (Long, Long) =
    bloomSplit(org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        v, org.apache.spark.sql.types.LongType)), 42L).eval(null).asInstanceOf[Long])

  private[sources] def bloomHashBytes(b: Array[Byte]): (Long, Long) =
    bloomSplit(org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(b),
        org.apache.spark.sql.types.StringType)), 42L).eval(null).asInstanceOf[Long])

  private[sources] def parseEntry(line: String): FileEntry = {
    def opt(s: String): Option[Long] = if (s.isEmpty) None else Some(s.toLong)
    def optB(s: String): Option[Array[Byte]] =
      if (s.isEmpty) None else Some(java.util.Base64.getDecoder.decode(s))
    // limit -1: string-stats lines may end in an empty field, which
    // the default split would silently drop (changing the arity)
    line.split("\t", -1) match {
      case Array(p, mn, mx, r, b, lo, hi, m2, x2, lo2, hi2, dv, dvr, bl, bl2) =>
        FileEntry(p, opt(mn), opt(mx), opt(r), opt(b), optB(lo), optB(hi), opt(m2), opt(x2),
          optB(lo2), optB(hi2), if (dv.isEmpty) None else Some(dv), opt(dvr), optB(bl),
          optB(bl2))
      case Array(p, mn, mx, r, b, lo, hi, m2, x2, lo2, hi2, dv, dvr, bl) =>
        FileEntry(p, opt(mn), opt(mx), opt(r), opt(b), optB(lo), optB(hi), opt(m2), opt(x2),
          optB(lo2), optB(hi2), if (dv.isEmpty) None else Some(dv), opt(dvr), optB(bl))
      case Array(p, mn, mx, r, b, lo, hi, m2, x2, lo2, hi2, dv, dvr) =>
        FileEntry(p, opt(mn), opt(mx), opt(r), opt(b), optB(lo), optB(hi), opt(m2), opt(x2),
          optB(lo2), optB(hi2), if (dv.isEmpty) None else Some(dv), opt(dvr))
      case Array(p, mn, mx, r, b, lo, hi, m2, x2, lo2, hi2) =>
        FileEntry(p, opt(mn), opt(mx), opt(r), opt(b), optB(lo), optB(hi), opt(m2), opt(x2),
          optB(lo2), optB(hi2))
      case Array(p, mn, mx, r, b, lo, hi, m2, x2) =>
        FileEntry(p, opt(mn), opt(mx), opt(r), opt(b), optB(lo), optB(hi), opt(m2), opt(x2))
      case Array(p, mn, mx, r, b, lo, hi) =>
        FileEntry(p, opt(mn), opt(mx), opt(r), opt(b), optB(lo), optB(hi))
      case Array(p, mn, mx, r, b) => FileEntry(p, opt(mn), opt(mx), opt(r), opt(b))
      case Array(p, mn, mx, r)    => FileEntry(p, opt(mn), opt(mx), opt(r))
      case Array(p, mn, mx)       => FileEntry(p, opt(mn), opt(mx), None)
      case _                      => FileEntry(line, None, None, None)
    }
  }

  /** One fully-parsed manifest: the committing op, the recorded schema
    * (if any), the file entries, and the NAMES of the columns the
    * entries' stats were computed for (format 4+; absent on older
    * manifests, whose stats are then unattributable and unused). */
  private[sources] final case class Manifest(
      op: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      entries: Seq[FileEntry],
      statsKey: Option[String],
      statsKey2: Option[String],
      txnBatchId: Option[Long] = None,
      base: Option[Int] = None,
      depth: Int = 0,
      constraints: Seq[(String, String)] = Seq.empty,
      colmap: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty,
      /** DECLARED bucket count (CREATE-time, `buckets` property):
        * every append/overwrite writes bucket-per-file on the stats
        * key, so the storage-partitioned layout never dissolves on
        * the write paths that honor it. Optional header field —
        * regex-parsed readers ignore unknown keys, so no manifest
        * format bump. Distinct from the OPPORTUNISTIC layout a bare
        * [[compactBucketed]] creates (which any plain append
        * dissolves). */
      buckets: Option[Int] = None,
      /** DECLARED Hive-style partition columns (CREATE-time,
        * `PARTITIONED BY (c, ...)`): appends/overwrites write one
        * directory level per column (`_graft_p_<col>=<value>`), and
        * every read path prunes files whose path values contradict
        * the predicate. PER-FILE and conservative: a file whose path
        * doesn't parse (e.g. a row-level rewrite's output) is always
        * kept — the column also lives IN the file, so correctness
        * never depends on the layout. Names are spelled PHYSICALLY
        * (create-time names; renames ride the column map, so the
        * physical name — and the directories — never move). Optional
        * header field, same no-format-bump contract as `buckets`. */
      partitionCols: Seq[String] = Seq.empty,
      /** DECLARED z-order clustering (CREATE-time, `zorder` property):
        * the key SET is the recorded statsKey + statsKey2 (both
        * required, each int/bigint/string — strings interleave on
        * their unsigned byte prefix). Unlike buckets/partitionCols the
        * declaration does NOT reshape every write — appends append and
        * the layout dissolves gradually (the Delta/Iceberg OPTIMIZE
        * ZORDER model) — it ROUTES MAINTENANCE: scheduled rewrites
        * restore the interleaved layout without the operator
        * remembering which keys to pass. Optional header field, same
        * no-format-bump contract as `buckets`. */
      zorder: Boolean = false)

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Int): Path =
    new Path(root, f"$SnapshotDir/v$v%07d.json")

  /** All committed versions, ascending (empty for a fresh directory). */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val dir = new Path(root, SnapshotDir)
    val f = fs(spark, root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir)
      // zero-length = claimed but not yet published (see commit)
      .filter(_.getLen > 0)
      .map(_.getPath.getName)
      // exact match: shadow checkpoints (vN.ckpt.json) are not versions
      .filter(_.matches("v\\d+\\.json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)
      .sorted.toSeq
  }

  /** One manifest read, fully parsed. Header line
    * {"version":N,"format":F,"op":...,"statsKey":...}, optional
    * S<schema-json> line, then one file entry per line. Callers
    * needing more than one field use THIS — a manifest read is a
    * filesystem round trip on the commit critical path, not something
    * to repeat per field. */
  /** Resolved-manifest MEMO, keyed by the chosen file's path and
    * validated by (mtime, length): manifests and shadow checkpoints
    * are immutable once published (create-if-absent; nothing in the
    * commit protocol ever replaces one), so a validated entry can
    * never be stale — the guard only defends against external
    * tampering. This kills the O(V·depth) small-read pattern in
    * [[history]]/CDC loops: each base of a delta chain parses ONCE
    * per process, so history() over V versions with depth-D chains
    * OPENS ≤ V + D manifest files, not V·D (each call still pays one
    * getFileStatus for validation — a namenode RPC, not a read).
    * Bounded by CONTENT, not entry count: a resolved Manifest's
    * weight is its file-entry list, so the budget sums cached entry
    * counts ([[ManifestCacheEntryBudget]]) and clears wholesale when
    * exceeded (re-warming is one open per live manifest) — 512 cached
    * manifests of a 100k-file table would otherwise dominate driver
    * memory while 512 tiny ones waste the cap. Same-path RE-CREATE
    * (drop + create at the same root, the rapid test/CI churn
    * pattern) is invalidated explicitly by [[create]]; cross-process
    * recreates start from an empty cache by construction. */
  private val ManifestCacheEntryBudget = 4L << 20
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Manifest)]()
  private val manifestCacheWeight = new java.util.concurrent.atomic.AtomicLong(0L)

  /** TEST instrument: physical manifest opens (memo misses). */
  private[graft] val manifestOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** TEST hook: forget everything memoized (cold-reader simulation). */
  private[graft] def clearManifestMemo(): Unit = {
    manifestCache.clear()
    manifestCacheWeight.set(0L)
  }

  /** [[invalidateManifestMemo]] for callers that REMOVE a table out
    * from under this JVM (the SQL catalog's DROP/RENAME): the memo
    * must not outlive the path. */
  private[graft] def forgetTable(root: String): Unit = invalidateManifestMemo(root)

  /** Drop every memoized manifest under `root` — called by [[create]]
    * so a same-JVM drop-and-recreate at the same path can never serve
    * the dead table's manifest through an (mtime,length) coincidence. */
  private def invalidateManifestMemo(root: String): Unit = {
    val prefix = manifestPath(root, 0).getParent.toString
    val it = manifestCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) {
        manifestCacheWeight.addAndGet(-(e.getValue._3.entries.size + 1).toLong)
        it.remove()
      }
    }
  }

  private[sources] def manifestFull(spark: SparkSession, root: String, v: Int): Manifest = {
    // prefer the shadow checkpoint when retention has published one —
    // after an expiry the delta chain may no longer exist (format 8)
    val fsys = fs(spark, root)
    val ck = checkpointPath(root, v)
    val p = if (fsys.exists(ck)) ck else manifestPath(root, v)
    val st = fsys.getFileStatus(p)
    val cached = manifestCache.get(p.toString)
    if (cached != null && cached._1 == st.getModificationTime && cached._2 == st.getLen)
      return cached._3
    manifestOpens.incrementAndGet()
    val in = fsys.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val allLines = text.linesIterator.toSeq
    val header = allLines.headOption.getOrElse("")
    // formats ≤ ManifestFormat parse leniently (older lines simply lack
    // optional fields); a NEWER format is a hard error — misparsing a
    // future manifest's lines as file paths would silently corrupt reads
    val fmt = """"format":(\d+)""".r.findFirstMatchIn(header)
      .map(_.group(1).toInt).getOrElse(1)
    require(fmt <= ManifestFormat,
      s"manifest v$v at $root uses format $fmt; this reader supports <= $ManifestFormat")
    val op = """"op":"([a-z]+)"""".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse("unknown")
    // `statsKey2` must not satisfy the `statsKey` pattern: the `":`
    // anchor after the field name keeps the two distinct
    val statsKey = """"statsKey":"([^"]+)"""".r.findFirstMatchIn(header).map(_.group(1))
    val statsKey2 = """"statsKey2":"([^"]+)"""".r.findFirstMatchIn(header).map(_.group(1))
    val txn = """"txnBatchId":(-?\d+)""".r.findFirstMatchIn(header).map(_.group(1).toLong)
    val buckets = """"buckets":(\d+)""".r.findFirstMatchIn(header).map(_.group(1).toInt)
    // partition-column names are path-safe by construction ([A-Za-z0-9_]),
    // so a comma-joined header field parses unambiguously
    val partitionCols = """"partitionCols":"([^"]+)"""".r.findFirstMatchIn(header)
      .map(_.group(1).split(',').toSeq).getOrElse(Seq.empty)
    val zorder = """"zorder":true""".r.findFirstIn(header).isDefined
    val base = """"base":(\d+)""".r.findFirstMatchIn(header).map(_.group(1).toInt)
    val depth = """"depth":(\d+)""".r.findFirstMatchIn(header).map(_.group(1).toInt).getOrElse(0)
    val lines = allLines.drop(1).filter(_.nonEmpty)
    val schema = lines.find(_.startsWith("S{"))
      .map(l => org.apache.spark.sql.types.DataType.fromJson(l.drop(1))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val body0 = lines.filterNot(_.startsWith("S{"))
    // C-lines: CHECK constraints, base64(name)\tbase64(exprSql) — the
    // encoding keeps arbitrary SQL out of the line grammar entirely
    val constraints = body0.filter(_.startsWith(ConstraintPrefix)).map { l =>
      val Array(n, e) = l.drop(ConstraintPrefix.length).split("\t", 2)
      (new String(java.util.Base64.getDecoder.decode(n), "UTF-8"),
        new String(java.util.Base64.getDecoder.decode(e), "UTF-8"))
    }
    // M-lines: column mapping, base64(logical)\tbase64(physical) —
    // full set per manifest, like constraints (header-like state)
    val colmap = body0.filter(_.startsWith(ColmapPrefix)).map { l =>
      val Array(lg, ph) = l.drop(ColmapPrefix.length).split("\t", 2)
      (new String(java.util.Base64.getDecoder.decode(lg), "UTF-8"),
        new String(java.util.Base64.getDecoder.decode(ph), "UTF-8"))
    }.toMap
    // X-lines: logical names retired by a rename (tombstones)
    val retired = body0.filter(_.startsWith(RetiredPrefix)).map { l =>
      new String(java.util.Base64.getDecoder.decode(
        l.drop(RetiredPrefix.length)), "UTF-8")
    }.toSet
    val body = body0.filterNot(l =>
      l.startsWith(ConstraintPrefix) || l.startsWith(ColmapPrefix) ||
        l.startsWith(RetiredPrefix))
    val listed = body.filterNot(_.startsWith(RemovalPrefix)).map(parseEntry)
    // DELTA resolution (format 8): the listed entries are this commit's
    // adds/changes; entries carried from the base keep the base's order
    // (what a full manifest would have preserved) and the listed ones
    // append. Chain depth is writer-bounded at [[MaxChainDepth]] — the
    // recursion here is O(depth) small metadata reads, never O(history).
    val entries = base match {
      case None => listed
      case Some(b) =>
        val removed = body.filter(_.startsWith(RemovalPrefix))
          .map(_.stripPrefix(RemovalPrefix)).toSet
        resolveDelta(manifestFull(spark, root, b).entries, listed, removed)
    }
    val m = Manifest(op, schema, entries, statsKey, statsKey2, txn, base, depth,
      constraints, colmap, retired, buckets, partitionCols, zorder)
    if (manifestCacheWeight.get > ManifestCacheEntryBudget) clearManifestMemo()
    if (manifestCache.put(p.toString, (st.getModificationTime, st.getLen, m)) == null)
      manifestCacheWeight.addAndGet((m.entries.size + 1).toLong)
    m
  }

  /** Line prefix naming a base entry a delta manifest REMOVES. The tab
    * keeps it unambiguous against data-file lines: entry paths are
    * writer-generated relative paths that never contain tabs, and the
    * first tab in an entry line always follows the full path. */
  private val RemovalPrefix = "R\t"

  /** Line prefix for a CHECK constraint: `C!` then base64(name), tab,
    * base64(exprSql). `!` cannot appear in a writer-generated relative
    * path, so the prefix never collides with an entry line. Every
    * manifest (delta included) carries the version's FULL constraint
    * set — constraints are header-like state, small and never
    * inherited through a base chain. */
  private val ConstraintPrefix = "C!"

  /** Line prefix for one COLUMN-MAPPING pair (format 9): `M!` then
    * base64(logical name), tab, base64(physical name). Same grammar
    * rationale as constraints (`!` never appears in writer-generated
    * paths); the FULL map rides every manifest — deltas and shadow
    * checkpoints included — because like constraints it is header-like
    * version state, small and never inherited through a base chain.
    * An absent map means identity (mapping not yet activated). */
  private val ColmapPrefix = "M!"

  /** Line prefix for one RETIRED logical name (format 9): `X!` then
    * base64(name). A rename RETIRES its old name — the realistic DDL
    * race is a stale producer still appending under it, which without
    * the tombstone would silently FORK the column (the batch's old
    * name reads as a brand-new column; data lands beside, not in, the
    * renamed one). Writers refuse batches that would implicitly
    * re-introduce a retired name; [[addColumn]] re-opens it
    * deliberately. Same carry-in-full policy as the map. */
  private val RetiredPrefix = "X!"

  /** PURE half of delta resolution: the base's entries minus everything
    * this commit removed or relisted, in base order, then the listed
    * entries — exactly the order a full append manifest would have
    * written. Pure so [[deltaAgainst]]∘resolveDelta is property-testable
    * without a filesystem (ManifestBoundsSpec). */
  private[sources] def resolveDelta(base: Seq[FileEntry],
      listed: Seq[FileEntry], removed: Set[String]): Seq[FileEntry] = {
    val shadowed = removed ++ listed.map(_.path)
    base.filterNot(e => shadowed.contains(e.path)) ++ listed
  }

  /** PURE half of the commit-side diff: the (changed-or-added entries,
    * removed paths) a delta manifest would record for `files` against
    * `parent`, or None when the delta would not be strictly smaller
    * than the full list (the caller then writes a full checkpoint).
    * Entries compare by rendered line — the canonical form (FileEntry
    * holds arrays, whose case-class equality is referential). */
  private[sources] def deltaAgainst(parent: Seq[FileEntry],
      files: Seq[FileEntry]): Option[(Seq[FileEntry], Seq[String])] = {
    val oldLines = parent.map(e => e.path -> e.render).toMap
    val newPaths = files.map(_.path).toSet
    val removed = parent.map(_.path).filterNot(newPaths.contains)
    val changed = files.filter(e => !oldLines.get(e.path).contains(e.render))
    if (removed.size + changed.size < files.size) Some((changed, removed)) else None
  }

  private def constraintLines(cs: Seq[(String, String)]): Seq[String] = {
    val b64 = java.util.Base64.getEncoder.withoutPadding
    cs.map { case (n, e) =>
      s"$ConstraintPrefix${b64.encodeToString(n.getBytes("UTF-8"))}\t${
        b64.encodeToString(e.getBytes("UTF-8"))}"
    }
  }

  private def retiredLines(rs: Set[String]): Seq[String] = {
    val b64 = java.util.Base64.getEncoder.withoutPadding
    rs.toSeq.sorted.map(n =>
      s"$RetiredPrefix${b64.encodeToString(n.getBytes("UTF-8"))}")
  }

  /** Sorted for a deterministic manifest body (maps have no order). */
  private def colmapLines(cm: Map[String, String]): Seq[String] = {
    val b64 = java.util.Base64.getEncoder.withoutPadding
    cm.toSeq.sortBy(_._1).map { case (l, p) =>
      s"$ColmapPrefix${b64.encodeToString(l.getBytes("UTF-8"))}\t${
        b64.encodeToString(p.getBytes("UTF-8"))}"
    }
  }

  /** PHYSICAL name of logical column `logical` under `cm` (identity
    * when unmapped — covers both an inactive map and pre-activation
    * columns, whose physical name IS their logical name). Lookup is
    * case-insensitive, matching Spark's resolution. TOP-LEVEL names
    * only — nested fields resolve through [[physLeaf]]. */
  private[sources] def physFor(cm: Map[String, String], logical: String): String =
    if (cm.isEmpty) logical
    else cm.collectFirst { case (l, p) if norm(l) == norm(logical) => p }
      .getOrElse(logical)

  /** Separator for NESTED map keys (format 10): a nested field's
    * logical PATH is its segments joined with NUL — a character no
    * real column name carries (DDL refuses it), so a nested key can
    * never collide with a literal top-level column whose name happens
    * to contain dots (legal in Spark, and such columns keep plain
    * whole-string keys exactly as format 9 wrote them). */
  private val PathSep = '\u0000'

  private def pathKey(segs: Seq[String]): String = segs.mkString(PathSep.toString)

  private def normKey(key: String): String =
    key.split(PathSep).map(norm).mkString(PathSep.toString)

  /** Physical LEAF name of the nested field at logical path `segs`
    * (identity fallback = the leaf segment, like [[physFor]]). The
    * physical PATH of a nested field is each ancestor's own physical
    * name followed by this leaf — parents translate independently. */
  private def physLeaf(cm: Map[String, String], segs: Seq[String]): String =
    if (cm.isEmpty || segs.length == 1) physFor(cm, segs.last)
    else {
      val k = normKey(pathKey(segs))
      cm.collectFirst { case (l, p) if normKey(l) == k => p }.getOrElse(segs.last)
    }

  /** The physical twin of field `f` at logical path `segs`: its own
    * name translated, and — through STRUCT children only — every
    * descendant's. Mappings below arrays/maps cannot exist (the DDL
    * refuses such paths), so other types pass through untouched. */
  private def physField(cm: Map[String, String], segs: Seq[String],
      f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.types.StructField = {
    val dt = f.dataType match {
      case s: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType(
          s.fields.map(c => physField(cm, segs :+ c.name, c)))
      case other => other
    }
    f.copy(name = physLeaf(cm, segs), dataType = dt)
  }

  /** The LOGICAL schema's physical twin: names translated through
    * `cm` at every struct level — the schema data files are actually
    * written and read with. Identity (same object) when the map is
    * inactive. Also correct for SUB-schemas (a pruned scan schema):
    * translation keys off field paths, which a pruned subtree
    * preserves. */
  private[sources] def physSchemaOf(cm: Map[String, String],
      sch: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    if (cm.isEmpty) sch
    else org.apache.spark.sql.types.StructType(
      sch.fields.map(f => physField(cm, Seq(f.name), f)))

  /** Backtick-quote a column name for resolution (names may contain
    * dots; `Dataset.apply` would otherwise walk them as paths). */
  private def q(n: String): String = "`" + n.replace("`", "``") + "`"

  /** Translate a logically-named batch to physical names for a write
    * (a column whose subtree carries nested renames converts via a
    * struct cast — positional, null-preserving). Identity (no
    * projection at all) when the map is inactive. Reads need no
    * inverse: the scan reads physical names under logical ones. */
  private def toPhysical(df: DataFrame, cm: Map[String, String]): DataFrame =
    if (cm.isEmpty) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      val pf = physField(cm, Seq(f.name), f)
      val c = df(q(f.name))
      (if (pf.dataType == f.dataType) c else c.cast(pf.dataType)).as(pf.name)
    }: _*)

  /** Mint a fresh physical column name, CHECKED against `avoid` (the
    * live physical namespace plus whatever the caller already minted
    * this batch) with a re-draw loop — collision with a live column,
    * or with a pre-activation user column literally named
    * `c_<hex>`, is refused by construction, not assumed away. The
    * draw is 16 hex chars of a random UUID, so collision with a
    * HISTORICAL physical name (a dropped column's bytes still present
    * in old files — not in any live map) is a birthday bound around
    * 2^32 mints: unreachable, and the only class the avoid-set cannot
    * see without walking all history. `draw` is injectable so the
    * spec can force the collision path. */
  private[graft] def mintPhysical(avoid: Set[String],
      draw: () => String = () =>
        java.util.UUID.randomUUID().toString.replace("-", "").take(16)): String = {
    var c = s"c_${draw()}"
    while (avoid.contains(c)) c = s"c_${draw()}"
    c
  }

  /** Extend an ACTIVE map with minted physical names for the logical
    * columns `evolved` adds ([[mintPhysical]] — checked against every
    * live logical and physical name and this batch's own mints) —
    * which is exactly how re-adding a dropped column's name yields a
    * new (null-filled-in-old-files) column instead of resurrecting the
    * dropped bytes. An inactive map stays inactive (identity): new
    * columns keep logical = physical, zero overhead. */
  private def evolveColmap(cm: Map[String, String],
      evolved: org.apache.spark.sql.types.StructType): Map[String, String] =
    if (cm.isEmpty) cm
    else {
      val have = cm.keySet.map(norm)
      var avoid = cm.values.toSet ++ cm.keySet
      cm ++ evolved.fields.filterNot(f => have.contains(norm(f.name)))
        .map { f =>
          // a NUL in a column name would later parse as a nested map
          // key (format 10's path separator) — refuse at the door
          require(!f.name.contains(PathSep),
            s"column name '${f.name}' contains U+0000 — unsupported")
          val p = mintPhysical(avoid)
          avoid += p
          f.name -> p
        }
    }

  private def readManifest(spark: SparkSession, root: String, v: Int): Seq[FileEntry] =
    manifestFull(spark, root, v).entries

  /** TEST/DIAGNOSTIC surface: the data-file paths version `v` resolves
    * to — delta chains and shadow checkpoints applied, i.e. the LOGICAL
    * file set, which under format 8 is no longer the set of lines
    * physically present in `vN.json`. */
  private[graft] def dataFilePaths(spark: SparkSession, root: String, v: Int): Seq[String] =
    manifestFull(spark, root, v).entries.map(_.path)

  /** The schema recorded in version `v`'s manifest, if any (manifests
    * written before schema tracking carry none — their reads fall back
    * to parquet inference). */
  def readSchema(spark: SparkSession, root: String, v: Int): Option[org.apache.spark.sql.types.StructType] =
    manifestFull(spark, root, v).schema

  /** Write `df0` as immutable data files under
    * root/data/<batchPrefix>-<uuid>/ and return their entries in task
    * order, each with its row count, size and min/max of `statsKey`
    * and optionally `statsKey2` (integral or string, top-level or
    * nested in structs — [[graft.catalog.StatsSpec.resolve]]).
    *
    * The executor tasks measure those facts as they write
    * ([[writeRolled]], one file per task), so an entry costs no footer
    * read, no listing and no extra job, and a task that saw no rows
    * writes no file: an empty batch returns no entries. Stats are taken
    * on the full values, so string bounds are never truncated.
    * `bloomKey` adds per-file blooms over the stats keys
    * ([[attachBlooms]]). */
  private def writeDataFiles(spark: SparkSession, root: String, df0: DataFrame,
      statsKey: Option[String] = None,
      statsKey2: Option[String] = None,
      bloomKey: Boolean = false,
      colmap: Map[String, String] = Map.empty,
      batchPrefix: String = "batch"): Seq[FileEntry] = {
    // column mapping (format 9): batches arrive LOGICAL, files store
    // PHYSICAL — one projection here keeps every caller logical-only.
    // Stats keys resolve on the logical schema; the ordinals are the
    // same in the physical one.
    val df = toPhysical(df0, colmap)
    val stats = graft.catalog.StatsSpec.resolve(df0.schema, statsKey, statsKey2)
    val batch = s"data/$batchPrefix-${java.util.UUID.randomUUID().toString.take(8)}"
    val entries = writeRolled(spark, root, batch, df, stats, None)
    // the bloom builder reads the written files, so it addresses the
    // key as the file spells it
    def kind(secondary: Boolean): Option[(String, Boolean)] =
      stats.find(_.secondary == secondary).map(s => (s.columnIn(df.schema), s.isString))
    if (bloomKey) attachBlooms(spark, root, entries, df.schema, kind(false), kind(true))
    else entries
  }

  /** The bucketed layout's file naming: files of a bucketed rewrite
    * live at `data/bkt<N>-<uuid>/_graft_bucket=<i>/part-*.parquet`, so
    * BOTH facts storage-partitioned planning needs — the bucket count
    * and each file's bucket id — ride in the PATH the manifest already
    * records: no manifest format change, old readers read the files as
    * plain entries. A snapshot "is bucketed" iff EVERY live entry
    * parses this shape with one consistent count ([[SqlSnapshot
    * .bucketLayout]]); any later plain append or partial rewrite
    * dissolves the claim (the scan just stops reporting partitioning —
    * conservative, never wrong), and the next [[compactBucketed]]
    * re-establishes it. */
  private[sources] val BucketPathRe =
    """^data/bkt(\d+)-[A-Za-z0-9]+/_graft_bucket=(\d+)/[^/]+\.parquet$""".r

  /** Write `df0` bucket-per-file on the hash of the (physical) stats
    * key: `pmod(murmur3_hash(key), buckets)` — the router
    * ([[graft.catalog.GraftBucketSplit]]) calls the same function the
    * catalog exposes as `bucket(n, key)`
    * ([[graft.catalog.GraftBucketOf]]), so the written layout and the
    * reported partitioning can never disagree. The batch is hash-
    * repartitioned on the key into `buckets × salts` tasks: since
    * `pmod(h, b·s) mod b = pmod(h, b)`, each task holds exactly one
    * bucket and the task itself is the salt, so every file is
    * single-bucket while one bucket may span SEVERAL files —
    * `targetFileBytes` + `inputBytes` derive the salt width, so file
    * size and write parallelism are not welded to the join-partitioning
    * count (Iceberg's bucketed writes split within buckets the same
    * way; the scan's layout rule already admits many files per bucket
    * id). Rows sort by key within each task, so every file is
    * key-sorted and row-group stats stay selective. */
  private def writeBucketedFiles(spark: SparkSession, root: String,
      df0: DataFrame, buckets: Int, key: String, key2: Option[String],
      colmap: Map[String, String], targetFileBytes: Option[Long] = None,
      inputBytes: Option[Long] = None): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.col
    val df = toPhysical(df0, colmap)
    val physKey = physFor(colmap, key)
    val split = graft.catalog.GraftSplitSpec.buckets(df.schema, physKey, buckets)
      .getOrElse(throw new IllegalArgumentException(
        s"bucketed write into $root: '$key' is no int/bigint/string column"))
    // salt width: enough tasks per bucket that each file lands near
    // the target size. A task holds whole key groups (bucket semantics
    // intact); a single pathological hot key stays one file —
    // acceptable, the cap bounds the blast radius either way.
    val saltN: Int = (targetFileBytes, inputBytes) match {
      case (Some(t), Some(b)) if t > 0 && b > 0 =>
        math.min(4096L, (b + t * buckets.toLong - 1) / (t * buckets.toLong)).toInt
      case _ => 1
    }
    writeRolled(spark, root, split.batchDirName,
      df.repartition(buckets * saltN, col(physKey)).sortWithinPartitions(col(physKey)),
      graft.catalog.StatsSpec.resolve(df0.schema, Some(key), key2), Some(split))
  }

  /** Executor-side parquet write — the job of every programmatic
    * snapshot data-file write: each task streams its rows through
    * [[graft.catalog.GraftTaskWriter]] (the same task writer every
    * DSv2 write uses), which routes rows by `split` into
    * subdirectories of `batch` (the caller arranged each task's input
    * clustered by directory and sorted by the stats key; no split =
    * one file per non-empty task, directly under `batch`) and measures
    * rows + stats-key min/max IN the write loop — per-file entries
    * return as the job result, so the manifest costs no post-write
    * footer read or listing. */
  private def writeRolled(spark: SparkSession, root: String, batch: String,
      df: DataFrame, stats: Seq[graft.catalog.StatsSpec],
      split: Option[graft.catalog.GraftSplitSpec]): Seq[FileEntry] = {
    val physSchema = df.schema
    val conf = new graft.catalog.SerializableHadoopConf(
      graft.catalog.GraftParquetWriter.confWithSessionKeys(
        spark.sparkContext.hadoopConfiguration))
    spark.sparkContext.runJob(df.queryExecution.toRdd,
      (ctx: org.apache.spark.TaskContext,
       it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val w = new graft.catalog.GraftTaskWriter(conf.value, root, batch,
          physSchema, stats, split, ctx.partitionId())
        try { it.foreach(w.write); w.commit().files }
        catch {
          case e: Throwable =>
            try w.abort() catch { case _: Exception => () }
            throw e
        }
      }).toSeq.flatten.sortBy(_.path)
  }

  /** Write `df0` under Hive-style partition directories — one
    * `_graft_p_<col>=<url-encoded value>` path level per DECLARED
    * partition column, nested in declaration order
    * ([[graft.catalog.GraftPartitionSplit]] routes each row). The
    * partition columns STAY in the data files (the directory is a
    * pruning fact, not the storage of record), so every reader —
    * including one that ignores the layout entirely — sees full rows;
    * pruning is pure upside and its absence is never wrong. Rows sort
    * by the partition columns, then the stats key, within each INPUT
    * partition (no shuffle — Spark's own dynamic-partition write does
    * the same), then roll into one file per (task, partition value),
    * stats measured in the write loop. NULL partition values refuse
    * loudly: the directory IS the value. */
  private def writePartitionedFiles(spark: SparkSession, root: String,
      df0: DataFrame, partCols: Seq[String], statsKey: Option[String],
      statsKey2: Option[String], colmap: Map[String, String]): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.col
    val df = toPhysical(df0, colmap)
    val split = graft.catalog.GraftSplitSpec.partitions(df.schema, partCols, identity)
      .getOrElse(throw new IllegalArgumentException(
        s"partitioned write into $root: partition columns ${partCols.mkString(", ")} " +
          "must all be int/bigint/string/date columns of the batch"))
    val sortCols = (partCols ++ statsKey.map(physFor(colmap, _))).map(col)
    writeRolled(spark, root, split.batchDirName, df.sortWithinPartitions(sortCols: _*),
      graft.catalog.StatsSpec.resolve(df0.schema, statsKey, statsKey2), Some(split))
  }

  /** The partition-directory key prefix: a reserved spelling keeps user
    * column names from colliding with layout facts in paths. */
  private[graft] val PartDirPrefix = "_graft_p_"

  private val PartDirRe = """_graft_p_([A-Za-z0-9_]+)=(.*)""".r

  /** The partition values a file's PATH spells, as normalized physical
    * name → raw (decoded) string — empty for a file not written by the
    * partitioned writer (always-kept by pruning). */
  private[graft] def partValuesOf(path: String): Map[String, String] =
    path.split('/').iterator.collect {
      case PartDirRe(n, v) => norm(n) -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap

  /** [[norm]] for the catalog package (partition-name matching). */
  private[graft] def normName(s: String): String = norm(s)

  /** Partition-level summary of a PARTITIONED BY table (the SHOW
    * PARTITIONS answer, Iceberg's `partitions` metadata relation): one
    * row per distinct partition tuple among the live files — typed
    * value columns (logical names), file/row/byte/dv counts — plus, if
    * any layout-agnostic file exists, one all-NULL row accounting for
    * it honestly (its rows belong to unknown partitions until a
    * [[compactPartitioned]]). Driver-side manifest facts, zero data
    * I/O, bounded by the file count. */
  def partitionsDf(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val m = manifestFull(spark, root, version.getOrElse(vs.last))
    require(m.partitionCols.nonEmpty,
      s"$root declares no partition columns (PARTITIONED BY at create)")
    val sch = schemaOf(spark, root, m)
    val types = partTypesOf(m, sch)
    // logical spelling for the output columns; physical for path lookup
    val cols: Seq[(String, String, DataType)] = m.partitionCols.map { pc =>
      val f = sch.fields.find(f => norm(physFor(m.colmap, f.name)) == norm(pc)).get
      (f.name, norm(pc), f.dataType)
    }
    def external(raw: String, dt: DataType): Any = dt match {
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case StringType => raw
      case DateType => java.sql.Date.valueOf(raw)
      case _ => null
    }
    val grouped = m.entries.groupBy(e => {
      val vals = partValuesOf(e.path)
      if (types.keySet.subsetOf(vals.keySet)) Some(cols.map(c => vals(c._2))) else None
    })
    val rows = grouped.toSeq.sortBy(_._1.map(_.mkString("/")).getOrElse("￿"))
      .map { case (key, es) =>
        val vals: Seq[Any] = key match {
          case Some(raws) => cols.zip(raws).map { case ((_, _, dt), r) =>
            try external(r, dt) catch { case _: Exception => null }
          }
          case None => cols.map(_ => null)
        }
        val rowsKnown = es.forall(e => e.rows.isDefined &&
          (e.dv.isEmpty || e.dvRows.isDefined))
        // same known-ness rule as n_rows: a legacy entry without byte
        // facts nulls the partition's bytes rather than silently
        // under-reporting a partial sum
        val bytesKnown = es.forall(_.bytes.isDefined)
        Row.fromSeq(vals ++ Seq(
          es.size,
          if (rowsKnown) Long.box(es.flatMap(_.rows).sum - es.flatMap(_.dvRows).sum)
          else null,
          if (bytesKnown) Long.box(es.flatMap(_.bytes).sum) else null,
          es.count(_.dv.isDefined)))
      }
    val schema = StructType(
      cols.map(c => StructField(c._1, c._3, nullable = true)) ++ Seq(
        StructField("n_files", IntegerType, nullable = false),
        StructField("n_rows", LongType, nullable = true),
        StructField("bytes", LongType, nullable = true),
        StructField("dv_files", IntegerType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** A path-spelled partition value as the CATALYST-internal value of
    * `dt` (what a runtime filter's literals compare as) — None when the
    * raw string doesn't parse (conservative keep at the caller). */
  private[graft] def partCatalystValue(raw: String,
      dt: org.apache.spark.sql.types.DataType): Option[Any] =
    try dt match {
      case org.apache.spark.sql.types.IntegerType => Some(raw.toInt)
      case org.apache.spark.sql.types.LongType => Some(raw.toLong)
      case org.apache.spark.sql.types.StringType =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(raw))
      case org.apache.spark.sql.types.DateType =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(
          java.sql.Date.valueOf(raw)))
      case _ => None
    } catch { case _: Exception => None }

  /** Partition-column types of the CURRENT declared spec, keyed by
    * normalized PHYSICAL name (paths spell physical names; renames
    * ride the column map). Spec-scoped semantics: the partitions
    * metadata table's grouping tuple and the overwrite-scope match. */
  private def partTypesOf(m: Manifest,
      sch: org.apache.spark.sql.types.StructType)
      : Map[String, org.apache.spark.sql.types.DataType] =
    m.partitionCols.flatMap { pc =>
      // reverse-translate: which logical field maps to this physical name
      sch.fields.find(f => norm(physFor(m.colmap, f.name)) == norm(pc))
        .map(f => norm(pc) -> f.dataType)
    }.toMap

  /** Partition-column types for PRUNING: every path-safe schema
    * column, not just the current spec. A partition directory is a
    * PER-FILE fact — the writer spelled the file's true value — so a
    * file prunes on whatever its own path says forever, whatever the
    * spec says NOW. This is what makes partition-spec EVOLUTION
    * ([[setPartitionSpec]]) free on the read side: old-era files keep
    * their old spec's full pruning power after an ADD/DROP PARTITION
    * FIELD, and files spelling nothing are simply kept
    * ([[partitionKeeps]]'s conservative rule). */
  private def prunePartTypesOf(m: Manifest,
      sch: org.apache.spark.sql.types.StructType)
      : Map[String, org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    sch.fields.iterator.filter(f => f.dataType == IntegerType ||
        f.dataType == LongType || f.dataType == StringType ||
        f.dataType == DateType)
      .map(f => norm(physFor(m.colmap, f.name)) -> f.dataType).toMap
  }

  /** Does `e` survive `filters` given the partition values its path
    * spells? Evaluates every conjunct whose references are ALL
    * partition columns by substituting the file's (typed) values;
    * false/null → pruned. Conservative everywhere else: unparseable
    * paths, non-partition references, unparseable values, and
    * evaluation errors all KEEP the file — the columns live in the
    * file, so a kept file only costs a scan, never a wrong row. */
  private[sources] def partitionKeeps(e: FileEntry,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      partTypes: Map[String, org.apache.spark.sql.types.DataType]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.types._
    if (partTypes.isEmpty || filters.isEmpty) return true
    val vals = partValuesOf(e.path)
    if (vals.isEmpty) return true
    def typed(raw: String, dt: DataType): Option[Any] =
      try dt match {
        case IntegerType => Some(raw.toInt)
        case LongType => Some(raw.toLong)
        case StringType => Some(raw)
        case DateType => Some(java.sql.Date.valueOf(raw))
        case _ => None
      } catch { case _: Exception => None }
    filters.forall { f =>
      val refs = f.references.toSeq.map(a => norm(a.name))
      if (refs.isEmpty || !refs.forall(r => partTypes.contains(r) && vals.contains(r)))
        true
      else {
        try {
          var ok = true
          val bound = f.transform {
            case a: AttributeReference =>
              val r = norm(a.name)
              typed(vals(r), partTypes(r)) match {
                case Some(v) if a.dataType == partTypes(r) =>
                  Literal.create(v, partTypes(r))
                case _ => ok = false; a
              }
          }
          !ok || java.lang.Boolean.TRUE.equals(bound.eval(null))
        } catch { case _: Exception => true }
      }
    }
  }

  /** BUCKETED whole-table re-layout (op "compact" — row-preserving,
    * dv debt materializes like any full compact): every data file
    * holds exactly one bucket of `pmod(murmur3_hash(statsKey),
    * buckets)`, encoded in its path ([[BucketPathRe]]). This is the
    * layout behind STORAGE-PARTITIONED JOINS: two tables bucketed on
    * same-typed keys with the same count join through plain
    * `spark.sql` with ZERO shuffle exchanges (the DSv2 scan reports
    * `KeyGroupedPartitioning(bucket(n, key))`, Spark's SPJ machinery
    * does the rest under `spark.sql.sources.v2.bucketing.enabled`).
    * The bucket key IS the recorded primary stats key — one clustering
    * identity per table, and renames already follow it. At 100 TB this
    * is the difference between re-shuffling both fact tables on every
    * join and never shuffling them at all; the reference's
    * filename-keyed upsert join (etl_processor.py:163-165) is the
    * shape that motivates it.
    *
    * Maintenance note: any op that writes non-bucket paths (append,
    * merge rewrite, compactSmall, materializeDv) DISSOLVES the claim
    * until the next bucketed compact — conservative, never wrong. For
    * a bucketed table, THIS op is the maintenance rewrite: it reads
    * effective rows (materializing dv debt like any full compact) and
    * re-packs every bucket, so schedule `compactBucketed` where a
    * range-clustered table would schedule `compact(cluster = true)`. */
  /** Declared-count twin: re-bucket at the table's CREATE-time
    * declaration (the maintenance call for a declared-bucket table
    * whose layout a row-level rewrite dissolved). */
  def compactBucketed(spark: SparkSession, root: String): Int = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val declared = manifestFull(spark, root, vs.last).buckets
    require(declared.isDefined,
      s"$root declares no bucket count (pass one explicitly, or declare " +
        "'buckets' at create)")
    compactBucketed(spark, root, declared.get)
  }

  /** Re-bucket splitting each bucket toward `targetFileBytes`-sized
    * files: file size and write parallelism decouple from the bucket
    * count (a 10 TB table at 64 buckets need not mean 160 GB files and
    * 64 write tasks — the scan's layout rule groups however many files
    * share a bucket id).
    *
    * TRADE, explicit: a salted (multi-file) bucket forfeits the scan's
    * sort-free SPJ claim — each file is key-sorted but the group's
    * concatenation is not, so `outputOrdering` refuses and a co-located
    * SMJ keeps its sorts (exchange-free either way). Compact with the
    * no-byte-cap overload to restore one-file-per-bucket and the
    * sort-free read. */
  def compactBucketed(spark: SparkSession, root: String, buckets: Int,
      targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be > 0, got $targetFileBytes")
    compactBucketedImpl(spark, root, buckets, Some(targetFileBytes))
  }

  def compactBucketed(spark: SparkSession, root: String, buckets: Int): Int =
    compactBucketedImpl(spark, root, buckets, None)

  private def compactBucketedImpl(spark: SparkSession, root: String,
      buckets: Int, targetFileBytes: Option[Long]): Int = {
    require(buckets > 0 && buckets <= 65536,
      s"buckets must be in [1, 65536], got $buckets")
    retrying(spark, root, op = "compact") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val schema = schemaOf(spark, root, m)
      require(m.statsKey.isDefined,
        "compactBucketed needs a recorded statsKey (the bucket key); " +
          "create/append with statsKey first")
      val key = m.statsKey.get
      val kt = schema.fields.find(f => norm(f.name) == norm(key)).map(_.dataType)
      require(kt.exists(t => t == org.apache.spark.sql.types.IntegerType ||
          t == org.apache.spark.sql.types.LongType ||
          t == org.apache.spark.sql.types.StringType),
        s"compactBucketed: stats key '$key' is ${kt.map(_.simpleString).getOrElse("?")} — " +
          "bucketing hashes int/bigint/string keys only")
      require(!schema.fields.exists(f => norm(f.name) == "_graft_bucket") &&
          !m.colmap.valuesIterator.contains("_graft_bucket"),
        "compactBucketed: the table already has a column named _graft_bucket")
      val current = scanEntries(spark, root, latest, m, schema, m.entries)
      // the live snapshot's recorded bytes approximate the rewrite's
      // input (dv debt shrinks it slightly — salt rounds up anyway)
      val inputBytes = Some(m.entries.flatMap(_.bytes).sum).filter(_ > 0L)
      Pending(writeBucketedFiles(spark, root, current, buckets, key,
        m.statsKey2, m.colmap, targetFileBytes, inputBytes),
        schema, m.statsKey, m.statsKey2)
    }
  }

  /** APPEND into a bucketed table WITHOUT dissolving its layout claim:
    * the batch's rows are written bucket-per-file under the SAME
    * bucket count the table already carries (read from the head's
    * layout — [[SqlSnapshot.bucketLayout]]'s consistency rule admits
    * multiple generations at one count: every bucket-i file holds only
    * bucket-i rows, whichever commit wrote it), so storage-partitioned
    * joins and key-grouped aggregations survive ingest instead of
    * falling back to shuffles until the next full re-bucket. Costs one
    * shuffle of the BATCH (never the table) on the bucket value.
    * Refused when the table has no live bucketed layout — a plain
    * [[append]] is strictly cheaper there, and silently bucketing into
    * a dissolved layout would imply a claim the other files can't
    * honor. Schema must match exactly (no evolution: a new column
    * would change what the bucket files spell mid-generation; evolve
    * via append + compactBucketed instead). */
  def appendBucketed(spark: SparkSession, root: String, df: DataFrame): Int =
    retrying(spark, root, op = "append") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val schema = schemaOf(spark, root, m)
      val layout = new SqlSnapshot(spark, root, latest, m).bucketLayout
        .map(_._1).orElse(m.buckets)
      require(layout.isDefined,
        s"appendBucketed: $root carries no live bucketed layout and no " +
          "bucket declaration (run compactBucketed first, or declare " +
          "buckets at create; plain append is cheaper otherwise)")
      val n = layout.get
      require(widened(df.schema) == widened(schema),
        s"appendBucketed: batch schema ${df.schema.simpleString} must match " +
          s"the table schema ${schema.simpleString} exactly (evolve via " +
          "append + compactBucketed)")
      requireNoRetired(m, schema, df.schema)
      Pending(m.entries ++ writeBucketedFiles(spark, root,
        constrained(alignTo(df, schema), m.constraints),
        n, m.statsKey.get, m.statsKey2, m.colmap),
        schema, m.statsKey, m.statsKey2)
    }

  /** Per-file bloom filters over the stats keys (primary: format 7;
    * secondary: format 11 — both opt-in via `bloomKey`): ONE extra job
    * reading ONLY the key column(s) of the just-written small files
    * (column-pruned scan of data still hot in the page cache), hashing
    * each key once (`xxhash64`, the codegen'd built-in) and folding
    * the K derived positions into per-file position sets. The driver
    * collect is bounded by construction: ≤ K · [[BloomMaxRows]]
    * positions per file per key, files per batch only. Files above
    * the row cap, statless files, and non-prunable key types are
    * skipped — absent blooms never skip, so degradation is always
    * toward the scan, never toward lost rows. The secondary bloom is
    * what lets a 2D point probe on the reference's chunk identity
    * `(filename, chunk_idx)` prune fresh unclustered files when
    * neither key's RANGE is selective yet. */
  private def attachBlooms(spark: SparkSession, root: String,
      entries: Seq[FileEntry], sch: org.apache.spark.sql.types.StructType,
      keyKind: Option[(String, Boolean)],
      key2Kind: Option[(String, Boolean)] = None): Seq[FileEntry] =
    if (keyKind.isEmpty && key2Kind.isEmpty) entries
    else {
      val targets = entries.filter(e => e.rows.exists(r => r > 0 && r <= BloomMaxRows))
      if (targets.isEmpty) entries
      else {
        import org.apache.spark.sql.functions._
        val mByPath = targets.map(e => e.path -> bloomBitsFor(e.rows.get))
        val mDf = broadcast(
          spark.createDataFrame(mByPath).toDF("__f", "__m"))
        def hashOf(k: String, isString: Boolean) =
          if (isString) xxhash64(col(k)) else xxhash64(col(k).cast("long"))
        def positions(h: Column): Column = {
          val h1 = shiftrightunsigned(h, 32)
          val h2 = h.bitwiseAND(lit(0xFFFFFFFFL)).bitwiseOR(lit(1L))
          array((0 until BloomK).map(i =>
            pmod(h1 + lit(i.toLong) * h2, col("__m").cast("long"))): _*)
        }
        val empty = typedLit(Seq.empty[Long])
        // the files as written: physical names, no column map
        val sets = scanFiles(spark, root, sch, targets, Map.empty)
          .select(col(graft.catalog.GraftFileColumn.Name).as("__f") +:
            keyKind.map { case (k, isS) => hashOf(k, isS).as("__h1") }.toSeq ++:
            key2Kind.map { case (k, isS) => hashOf(k, isS).as("__h2") }.toSeq: _*)
          .join(mDf, "__f")
          .select(col("__f"), col("__m"),
            keyKind.map(_ => positions(col("__h1"))).getOrElse(empty).as("__p1"),
            key2Kind.map(_ => positions(col("__h2"))).getOrElse(empty).as("__p2"))
          .groupBy("__f")
          .agg(first(col("__m")).as("m"),
            array_distinct(flatten(collect_list(col("__p1")))).as("ps1"),
            array_distinct(flatten(collect_list(col("__p2")))).as("ps2"))
          .collect()
        def bitsOf(m: Int, ps: Seq[Long]): Option[Array[Byte]] =
          if (ps.isEmpty) None
          else {
            val bits = new Array[Byte](m / 8)
            ps.foreach { p =>
              bits(p.toInt >> 3) = (bits(p.toInt >> 3) | (1 << (p.toInt & 7))).toByte
            }
            Some(bits)
          }
        val blooms = sets.map { r =>
          r.getString(0) -> (bitsOf(r.getInt(1), r.getSeq[Long](2)),
            bitsOf(r.getInt(1), r.getSeq[Long](3)))
        }.toMap
        entries.map(e => blooms.get(e.path)
          .map { case (b1, b2) => e.copy(bloom = b1, bloom2 = b2) }.getOrElse(e))
      }
    }

  /** Atomically commit `files` as the next version after `expected`.
    * The uniqueness primitive must be truly atomic per filesystem: on
    * HDFS-like stores `create(overwrite=false)` is an atomic namenode
    * op, but Hadoop's RawLocalFileSystem implements it as
    * check-then-create — two local writers can BOTH pass the check and
    * the second silently clobbers the first (lost update; caught by the
    * cross-process race spec). Local paths therefore publish with
    * `Files.createLink` (link(2), atomic EEXIST in POSIX): the full
    * manifest is written to a writer-unique tmp file and HARD-LINKED
    * into the version name in ONE atomic metadata op. Claim and publish
    * are the same operation, so there is no window in which a paused
    * writer can wake up and overwrite a version another writer
    * committed in the meantime — nothing in this protocol ever replaces
    * an existing manifest. Readers see either no manifest or the whole
    * manifest; a crashed writer leaves only a tmp file (never a blocked
    * version), which [[vacuum]] sweeps. The two real primitives (and
    * the doubles proving the object-store story) live behind
    * [[CommitPublisher]]. */
  private def commit(spark: SparkSession, root: String, files: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType, expected: Int,
      op: String, statsKey: Option[String], statsKey2: Option[String],
      txnBatchId: Option[Long] = None,
      constraintsOverride: Option[Seq[(String, String)]] = None,
      colmapOverride: Option[Map[String, String]] = None,
      retiredOverride: Option[Set[String]] = None,
      bucketsDeclared: Option[Option[Int]] = None,
      partitionColsDeclared: Option[Seq[String]] = None,
      zorderDeclared: Option[Boolean] = None): Int = {
    val v = expected + 1
    // header (format revision + version + operation + stats identity),
    // then the version's SCHEMA (S-prefixed json line): every version
    // records exactly the shape its readers must apply, so a table
    // whose files span schema evolutions still reads every version
    // deterministically (inference from an arbitrary file's footer
    // would drop or misorder evolved columns)
    def kf(name: String, v: Option[String]): String =
      v.map(k => s""","$name":"$k"""").getOrElse("")
    // DELTA-vs-FULL decision (format 8): diff the commit's file list
    // against the parent's RESOLVED entries and write only the changes
    // when that is strictly smaller — commit cost ∝ touched files, the
    // property that keeps a 1M-file table's streaming appends O(batch).
    // Entries compare by their rendered line (canonical: FileEntry
    // holds byte arrays, whose case-class equality is referential), so
    // "changed" means the line a full manifest would write differs.
    // A parent at the chain cap forces a full checkpoint, bounding
    // read-side resolution at MaxChainDepth+1 metadata reads. Ops that
    // rewrite most of the table (compact, retainWhere) fail the
    // strictly-smaller test and naturally checkpoint.
    val parent: Option[Manifest] =
      if (expected < 1) None else Some(manifestFull(spark, root, expected))
    // CHECK constraints are version state, carried forward verbatim
    // unless this commit is the one changing them (addConstraint/
    // dropConstraint pass an override)
    val effConstraints =
      constraintsOverride.orElse(parent.map(_.constraints)).getOrElse(Seq.empty)
    // column mapping is likewise version state: carried forward
    // verbatim unless this commit changes it (rename/drop/evolution)
    val effColmap =
      colmapOverride.orElse(parent.map(_.colmap)).getOrElse(Map.empty[String, String])
    val effRetired =
      retiredOverride.orElse(parent.map(_.retired)).getOrElse(Set.empty[String])
    // a bucket declaration is version state, carried forward verbatim
    // unless this commit is the one changing it (create / setBuckets
    // pass a tri-state override: Some(Some(n)) declares, Some(None)
    // un-declares, None carries)
    val effBuckets = bucketsDeclared.getOrElse(parent.flatMap(_.buckets))
    // ... and so is a CREATE-time partition-column declaration
    val effPartCols = partitionColsDeclared
      .orElse(parent.map(_.partitionCols)).getOrElse(Seq.empty)
    // ... and the CREATE-time z-order clustering declaration
    val effZorder = zorderDeclared.getOrElse(parent.exists(_.zorder))
    val delta: Option[(Int, Seq[String])] =
      parent.flatMap { pm =>
        if (pm.depth >= MaxChainDepth) None
        else deltaAgainst(pm.entries, files).map { case (changed, removed) =>
          (pm.depth + 1, changed.map(_.render) ++ removed.map(RemovalPrefix + _))
        }
      }
    // Reader-requirement discipline (Delta/Iceberg style): format 9
    // exists only for column mapping (M/X lines), so a commit carrying
    // neither stays at format 8 — a mapping-free table never locks out
    // a format-8 reader just because this writer is newer.
    val fmtOut = writeFormat(effColmap, effRetired, files)
    val header = s"""{"version":$v,"format":$fmtOut,"op":"$op"""" +
      kf("statsKey", statsKey) + kf("statsKey2", statsKey2) +
      txnBatchId.map(t => s""","txnBatchId":$t""").getOrElse("") +
      effBuckets.map(b => s""","buckets":$b""").getOrElse("") +
      (if (effPartCols.nonEmpty)
        s""","partitionCols":"${effPartCols.mkString(",")}"""" else "") +
      (if (effZorder) s""","zorder":true""" else "") +
      delta.map { case (d, _) => s""","base":$expected,"depth":$d""" }.getOrElse("") + "}"
    val entryLines = delta.map(_._2).getOrElse(files.map(_.render))
    val body = ((header +: s"S${schema.json}" +:
      (constraintLines(effConstraints) ++ colmapLines(effColmap) ++
        retiredLines(effRetired))) ++
      entryLines).mkString("\n")
    val p = manifestPath(root, v)
    val scheme = p.toUri.getScheme
    val publisher: CommitPublisher =
      if (scheme == null || scheme == "file") CommitPublisher.localLink
      else CommitPublisher.renameIfAbsent(fs(spark, root))
    publisher.publish(root, p, body.getBytes("UTF-8"))
    v
  }

  /** How long a zero-length manifest-name file may sit before a writer
    * may treat it as abandoned and reclaim the version name. The
    * current protocol never creates empty manifests (publish is one
    * atomic link of the full content), so this only defends against
    * external tampering and leftovers of older builds. */
  private[sources] val StaleClaimMs = 60000L

  /** Nullability widened at EVERY nesting level: parquet round-trips
    * don't preserve Spark's nullability flags faithfully (a constructed
    * frame's non-null struct field reads back nullable), and evolved
    * columns are null-filled in pre-evolution files — recording
    * everything nullable is the only honest contract a manifest schema
    * can make, and comparing types modulo nullability is the only
    * comparison that doesn't falsely reject a same-shaped batch. */
  private def deepNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f =>
          f.copy(dataType = deepNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(deepNullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(deepNullable(m.keyType), deepNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private def widened(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    deepNullable(s).asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Column-name normalization for schema comparison: Spark resolves
    * names case-INsensitively by default, so the manifest schema must
    * too — a case-sensitive compare would let a batch column 'ID'
    * slip past the type check against table column 'id' and commit a
    * case-duplicate schema that poisons every subsequent read. */
  private def norm(name: String): String = name.toLowerCase(java.util.Locale.ROOT)

  /** Do two stats-key names refer to the same column? (case-insensitive,
    * matching Spark's resolution; None never matches a name — an
    * unattributed range is not evidence about any column). */
  private def sameKey(recorded: Option[String], requested: String): Boolean =
    recorded.exists(r => norm(r) == norm(requested))

  /** The widened type of a table/batch column pair, or None when the
    * pair is irreconcilable. Equal types (modulo nullability) always
    * reconcile; with `allowWiden`, int→long and float→double reconcile
    * to the wider side — lossless upcasts only, applied recursively
    * through structs (same field names), arrays, and maps. Everything
    * else (string↔int, long→int, decimal changes) is irreconcilable at
    * any setting: silent lossy coercion on a 100 TB table is how data
    * dies. */
  private def widenType(t: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType,
      allowWiden: Boolean): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val (nt, nb) = (deepNullable(t), deepNullable(b))
    if (nt == nb) Some(nt)
    else if (!allowWiden) None
    else (nt, nb) match {
      case (IntegerType, LongType) | (LongType, IntegerType) => Some(LongType)
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case (s1: StructType, s2: StructType)
          if s1.fields.map(f => norm(f.name)).sameElements(s2.fields.map(f => norm(f.name))) =>
        val merged = s1.fields.zip(s2.fields).map { case (f1, f2) =>
          widenType(f1.dataType, f2.dataType, allowWiden)
            .map(dt => f1.copy(dataType = dt, nullable = true))
        }
        if (merged.forall(_.isDefined)) Some(StructType(merged.map(_.get))) else None
      case (ArrayType(e1, _), ArrayType(e2, _)) =>
        widenType(e1, e2, allowWiden).map(ArrayType(_, containsNull = true))
      case (MapType(k1, v1, _), MapType(k2, v2, _)) =>
        for {
          k <- widenType(k1, k2, allowWiden)
          v <- widenType(v1, v2, allowWiden)
        } yield MapType(k, v, valueContainsNull = true)
      case _ => None
    }
  }

  /** Refuse a batch that would IMPLICITLY re-introduce a name a
    * rename retired: the realistic race is a producer that hasn't
    * caught up with the DDL — without this, its data forks into a
    * brand-new column beside the renamed one (silent schema
    * pollution). Only genuinely-new batch columns count (a live
    * column's name is never retired); [[addColumn]] is the deliberate
    * re-introduction path. */
  /** Every struct path of `sch` as canonical segments — top-level
    * columns and every nested struct field (array/map interiors
    * excluded: mapping entries below those cannot exist). */
  private def structPathsOf(sch: org.apache.spark.sql.types.StructType): Seq[Seq[String]] = {
    def walk(st: org.apache.spark.sql.types.StructType): Seq[Seq[String]] =
      st.fields.toSeq.flatMap { f =>
        Seq(Seq(f.name)) ++ (f.dataType match {
          case s: org.apache.spark.sql.types.StructType => walk(s).map(f.name +: _)
          case _ => Seq.empty
        })
      }
    walk(sch)
  }

  private def requireNoRetired(m: Manifest,
      table: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType): Unit =
    if (m.retired.nonEmpty) {
      val live = structPathsOf(table).map(p => normKey(pathKey(p))).toSet
      val rt = m.retired.map(normKey)
      val hits = structPathsOf(batch)
        .filter { p =>
          val k = normKey(pathKey(p))
          !live.contains(k) && rt.contains(k)
        }
        .map(_.mkString("."))
      require(hits.isEmpty,
        s"batch column(s) ${hits.mkString(", ")} were retired by a rename — " +
          "update the producer to the renamed column(s), or re-introduce " +
          "the name deliberately with addColumn")
    }

  /** Union of table and batch schemas by top-level column name
    * (case-insensitive, matching Spark's resolution): table columns
    * keep their order and canonical name, genuinely new batch columns
    * append. Same-name columns must agree on dataType modulo
    * nullability, or — with `allowWiden` — reconcile via lossless
    * int→long / float→double widening (opt-in: rejection stays the
    * default, a widened table column commits to the new manifest and
    * older files upcast on read). */
  private def evolveSchema(table: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType,
      allowWiden: Boolean = false): org.apache.spark.sql.types.StructType = {
    val dup = batch.fieldNames.groupBy(norm).filter(_._2.length > 1)
    require(dup.isEmpty,
      s"schema evolution rejected: batch columns differ only by case: " +
        dup.values.map(_.mkString("/")).mkString(", "))
    val evolvedExisting = table.fields.map { tf =>
      batch.fields.find(bf => norm(bf.name) == norm(tf.name)) match {
        case Some(bf) =>
          val dt = widenType(tf.dataType, bf.dataType, allowWiden).getOrElse(
            throw new IllegalArgumentException(
              s"schema evolution rejected: column '${tf.name}' is ${tf.dataType} " +
                s"in the table but ${bf.dataType} in the batch" +
                (if (allowWiden) "" else " (lossless widening is opt-in via allowWiden)")))
          tf.copy(dataType = dt, nullable = true)
        case None => tf
      }
    }
    val tableNames = table.fieldNames.map(norm).toSet
    widened(org.apache.spark.sql.types.StructType(
      evolvedExisting ++ batch.fields.filterNot(bf => tableNames.contains(norm(bf.name)))))
  }

  /** Project `df` onto `schema`: present columns (matched
    * case-insensitively, renamed to the schema's canonical case) pass
    * through — cast when a widening evolved the column's type — missing
    * columns null-fill, order normalized to the schema's. */
  private def alignTo(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(schema.fields.map { f =>
      df.columns.find(c => norm(c) == norm(f.name)) match {
        case Some(c) =>
          val base = df(c)
          val sameType =
            deepNullable(df.schema(df.columns.indexOf(c)).dataType) == deepNullable(f.dataType)
          (if (sameType) base else base.cast(f.dataType)).as(f.name)
        case None =>
          org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)

  /** The schema readers of `v` must apply: recorded in the manifest, or
    * (pre-schema-tracking manifests) inferred from the files. */
  private def schemaOf(spark: SparkSession, root: String, m: Manifest): org.apache.spark.sql.types.StructType =
    m.schema.getOrElse {
      val files = m.entries.map(e => s"$root/${e.path}")
      widened(spark.read.parquet(files: _*).schema)
    }

  /** Stats keys a commit will record, and the carried-forward entries
    * reconciled against them: a caller-supplied key wins, an
    * unspecified one INHERITS the table's recorded key (so a plain
    * `append(df)` onto a stats-keyed table keeps the whole table
    * prunable instead of silently writing statless files), and any
    * carried entry whose stats were measured on a DIFFERENT column
    * than the one the new header names has those stats stripped —
    * a range attributed to the wrong column prunes wrongly, which on
    * the read path means lost rows. */
  private def resolveStatsKeys(m: Manifest, statsKey: Option[String],
      statsKey2: Option[String]): (Option[String], Option[String], Seq[FileEntry] => Seq[FileEntry]) = {
    val effKey = statsKey.orElse(m.statsKey)
    val effKey2 = statsKey2.orElse(m.statsKey2)
    def same(a: Option[String], b: Option[String]): Boolean =
      a.map(norm) == b.map(norm)
    val fix = (carried: Seq[FileEntry]) => {
      val k1ok = same(m.statsKey, effKey)
      val k2ok = same(m.statsKey2, effKey2)
      if (k1ok && k2ok) carried
      else carried.map { e =>
        val e1 = if (k1ok) e else e.withoutKeyStats
        if (k2ok) e1 else e1.withoutKey2Stats
      }
    }
    (effKey, effKey2, fix)
  }

  /** Secondary stats travel with the KEY they were measured on:
    * file entries measured under `measuredOn` may commit under a header
    * naming `committingAs` only when the two are the same column
    * (case-insensitive, Spark's resolution); otherwise the min2/max2
    * are stripped — ranges attributed to the wrong column over-prune
    * conjunctive reads and lose rows. This is [[merge]]'s retry-path
    * guard (update files are written once, before the commit loop, but
    * each attempt re-derives the table's statsKey2 from the fresh
    * manifest), kept as a named function so the decision is testable
    * without staging the cross-commit race. */
  private[sources] def reconcileUpdateStats(files: Seq[FileEntry],
      measuredOn: Option[String], committingAs: Option[String]): Seq[FileEntry] =
    if (committingAs.map(norm) == measuredOn.map(norm)) files
    else files.map(_.withoutKey2Stats)

  /** Create a new table (version 1) or fail if one exists. `statsKey`
    * (usually the future merge key) enables data skipping from birth;
    * `statsKey2` records a SECOND column's ranges (integral or
    * string) for conjunctive two-key pruning (the reference's chunk
    * identity is (filename, chunk_idx) — one key is not enough to
    * point-prune a chunk table). */
  def create(spark: SparkSession, root: String, df: DataFrame,
      statsKey: Option[String] = None, statsKey2: Option[String] = None,
      txnBatchId: Option[Long] = None, bloomKey: Boolean = false,
      buckets: Option[Int] = None,
      partitionCols: Seq[String] = Seq.empty,
      zorder: Boolean = false): Int = {
    require(versions(spark, root).isEmpty, s"table already exists at $root")
    if (zorder) {
      require(buckets.isEmpty && partitionCols.isEmpty,
        "a z-order declaration is exclusive with buckets / PARTITIONED BY " +
          "(one declared physical layout per table)")
      // both z keys must exist and be interleavable at DECLARATION
      // time — failing the first maintenance cycle instead would leave
      // a table whose declared layout can never be produced. Strings
      // qualify: they interleave on their unsigned byte prefix and
      // prune through the manifest's binary min/max (the reference's
      // chunk identity is (filename STRING, chunk_idx INT)).
      Seq("statsKey" -> statsKey, "statsKey2" -> statsKey2).foreach {
        case (what, k) =>
          val t = k.flatMap(n =>
            df.schema.fields.find(f => norm(f.name) == norm(n)).map(_.dataType))
          require(t.exists(dt => dt == org.apache.spark.sql.types.IntegerType ||
              dt == org.apache.spark.sql.types.LongType ||
              dt == org.apache.spark.sql.types.StringType),
            s"a z-order declaration needs an int/bigint/string $what; " +
              s"got ${k.getOrElse("<none>")}${t.map(d => s" : ${d.simpleString}").getOrElse("")}")
      }
    }
    buckets.foreach { n =>
      require(n > 0 && n <= 65536, s"buckets must be in [1, 65536], got $n")
      val kt = statsKey.flatMap(k =>
        df.schema.fields.find(f => norm(f.name) == norm(k)).map(_.dataType))
      require(kt.exists(t => t == org.apache.spark.sql.types.IntegerType ||
          t == org.apache.spark.sql.types.LongType ||
          t == org.apache.spark.sql.types.StringType),
        "a bucket declaration needs a statsKey of type int/bigint/string " +
          "(the bucket key IS the stats key)")
    }
    if (partitionCols.nonEmpty) {
      require(buckets.isEmpty,
        "PARTITIONED BY and a bucket declaration are mutually exclusive " +
          "(one physical layout per table; bucket within partitions is not supported)")
      partitionCols.foreach { pc =>
        require(pc.matches("[A-Za-z0-9_]+"),
          s"partition column '$pc' must be [A-Za-z0-9_]+ (it becomes a directory name)")
        val t = df.schema.fields.find(f => norm(f.name) == norm(pc)).map(_.dataType)
        require(t.isDefined, s"partition column '$pc' names no column of the schema")
        require(t.exists(dt => dt == org.apache.spark.sql.types.IntegerType ||
            dt == org.apache.spark.sql.types.LongType ||
            dt == org.apache.spark.sql.types.StringType ||
            dt == org.apache.spark.sql.types.DateType),
          s"partition column '$pc' is ${t.map(_.simpleString).getOrElse("?")} — " +
            "int/bigint/string/date only (the value must round-trip a path)")
      }
      require(partitionCols.map(norm).distinct.size == partitionCols.size,
        s"duplicate partition columns: ${partitionCols.mkString(", ")}")
    }
    invalidateManifestMemo(root) // a same-path recreate must never see the dead table
    commit(spark, root,
      buckets match {
        case Some(n) => writeBucketedFiles(spark, root, df, n, statsKey.get,
          statsKey2, Map.empty)
        case None if partitionCols.nonEmpty =>
          // canonicalize declared names to the schema's case (paths and
          // header spell exactly the create-time physical names)
          writePartitionedFiles(spark, root, df,
            partitionCols.map(pc => df.schema.fields
              .find(f => norm(f.name) == norm(pc)).get.name),
            statsKey, statsKey2, Map.empty)
        case None if zorder =>
          // the created table is BORN in its declared layout (like
          // buckets/partitions): interleave on the two keys, sized to
          // the input's own parallelism — estimated from scan metadata
          // (never a plan→RDD pass on the write path); the zo- batch
          // prefix is the dissolution marker maintenance reads
          writeDataFiles(spark, root,
            clusterLayout(df,
              math.max(8L, graft.Parallelism.estimate(spark, df)).toInt,
              statsKey, statsKey2,
              cluster = true, zorder = true),
            statsKey, statsKey2, bloomKey, batchPrefix = "zo")
        case None => writeDataFiles(spark, root, df, statsKey, statsKey2, bloomKey)
      },
      widened(df.schema), expected = 0, op = "create", statsKey, statsKey2,
      txnBatchId, bucketsDeclared = Some(buckets),
      partitionColsDeclared = if (partitionCols.isEmpty) None
        else Some(partitionCols.map(pc => df.schema.fields
          .find(f => norm(f.name) == norm(pc)).get.name)),
      zorderDeclared = if (zorder) Some(true) else None)
  }

  /** Append rows: new files + all files of the snapshot appended onto.
    * The batch may carry NEW columns (recorded in the new version's
    * schema; earlier files null-fill them on read) but never a type
    * conflict on an existing column — unless `allowWiden` opts into
    * lossless int→long / float→double widening. With no `statsKey`
    * given the append INHERITS the table's recorded stats key(s). */
  def append(spark: SparkSession, root: String, df: DataFrame,
      statsKey: Option[String] = None, allowWiden: Boolean = false,
      statsKey2: Option[String] = None, txnBatchId: Option[Long] = None,
      bloomKey: Boolean = false): Int =
    appendImpl(spark, root, df, statsKey, statsKey2, allowWiden,
      skipIfEmpty = false, txnBatchId, bloomKey).get

  /** [[append]] that skips the commit when the batch turns out to be
    * EMPTY: a task with no rows writes no file, so an empty batch
    * writes nothing at all (zero extra Spark jobs), and callers that
    * would otherwise run a count/isEmpty action just to avoid
    * committing no-op versions (a streaming ingest whose micro-batch
    * was all duplicates) get the check for free. Returns None instead
    * of committing. */
  def appendIfNonEmpty(spark: SparkSession, root: String, df: DataFrame,
      statsKey: Option[String] = None, allowWiden: Boolean = false,
      statsKey2: Option[String] = None, txnBatchId: Option[Long] = None,
      bloomKey: Boolean = false): Option[Int] =
    appendImpl(spark, root, df, statsKey, statsKey2, allowWiden,
      skipIfEmpty = true, txnBatchId, bloomKey)

  private object EmptyBatch extends Exception

  private def appendImpl(spark: SparkSession, root: String, df: DataFrame,
      statsKey: Option[String], statsKey2: Option[String], allowWiden: Boolean,
      skipIfEmpty: Boolean, txnBatchId: Option[Long] = None,
      bloomKey: Boolean = false): Option[Int] = {
    try Some(retrying(spark, root, op = "append") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val tableSch = schemaOf(spark, root, m)
      requireNoRetired(m, tableSch, df.schema)
      val evolved = evolveSchema(tableSch, df.schema, allowWiden)
      val (effKey, effKey2, fixCarried) = resolveStatsKeys(m, statsKey, statsKey2)
      // an ACTIVE column map extends with minted physical names for
      // any genuinely new batch columns (inactive stays inactive)
      val effCm = evolveColmap(m.colmap, evolved)
      // CHECK constraints ride the write itself (no extra job): the
      // first violating row fails the append before anything commits.
      // A DECLARED bucket count routes the batch to the bucketed
      // writer (bucket-per-file on the stats key — one shuffle of the
      // BATCH), so the storage-partitioned layout survives ingest.
      val newFiles = m.buckets match {
        case Some(n) =>
          val key = effKey.getOrElse(throw new IllegalStateException(
            s"bucket-declared table $root lost its stats key"))
          // the bucket key's TYPE is part of the hash: a widening
          // evolution (int batch key arriving as long) would re-type
          // every new file's bucket assignment against the old ones
          def keyType(s: org.apache.spark.sql.types.StructType) =
            s.fields.find(f => norm(f.name) == norm(key)).map(_.dataType)
          require(keyType(evolved) == keyType(tableSch),
            s"append to bucket-declared table $root would WIDEN the bucket " +
              s"key '$key' (${keyType(tableSch).map(_.simpleString).getOrElse("?")} -> " +
              s"${keyType(evolved).map(_.simpleString).getOrElse("?")}): old buckets " +
              "were hashed at the old type. Compact, widen, re-bucket instead.")
          writeBucketedFiles(spark, root,
            constrained(alignTo(df, evolved), m.constraints), n, key,
            effKey2, effCm)
        case None if m.partitionCols.nonEmpty =>
          // declared Hive-style partitioning: the batch lands under
          // partition directories so the layout's pruning facts follow
          // ingest (no shuffle — see writePartitionedFiles)
          writePartitionedFiles(spark, root,
            constrained(alignTo(df, evolved), m.constraints),
            m.partitionCols, effKey, effKey2, effCm)
        case None => writeDataFiles(spark, root,
          constrained(alignTo(df, evolved), m.constraints), effKey, effKey2,
          bloomKey, effCm)
      }
      if (skipIfEmpty && newFiles.isEmpty) throw EmptyBatch
      Pending(fixCarried(m.entries) ++ newFiles, evolved, effKey, effKey2, txnBatchId,
        colmap = if (effCm.isEmpty) None else Some(effCm))
    })
    catch {
      case EmptyBatch => None
    }
  }

  /** MERGE: delete every row whose `key` appears in `updates`, then add
    * `updates` (J2 delete-then-add, key-scoped). Data skipping: only
    * files whose [min,max] key range contains an updated key are read
    * and rewritten; everything else carries forward by name. Pruning
    * applies ONLY when the manifest's recorded stats key IS `key`
    * (case-insensitive) — stats measured on another column say nothing
    * about this key's whereabouts, so a mismatch conservatively
    * rewrites every file (and the new manifest records `key`,
    * re-keying the whole table's stats in the same pass).
    *
    * `maxPruneKeys` bounds the driver-side key collect that powers the
    * pruning: an update batch with more distinct keys than the cap is
    * table-sized, file skipping would save little, and materializing
    * its key set on the driver is exactly the OOM a 100 TB engine must
    * not risk — beyond the cap the merge falls back to rewriting every
    * file (correct, just unpruned). */
  def merge(spark: SparkSession, root: String, updates: DataFrame, key: String,
      maxPruneKeys: Int = 100000, allowWiden: Boolean = false,
      statsKey2: Option[String] = None, txnBatchId: Option[Long] = None): Int = {
    // updates' files are written once; survivors re-derive per attempt.
    // The secondary stats key inherits from the manifest at write time;
    // a lost race CAN change it (compact/append/retainWhere all accept
    // an explicit statsKey2), so each commit attempt re-checks the
    // fresh manifest's key against this one and strips the update
    // files' secondary stats on mismatch — see safeUpdates below.
    val mAtStart = versions(spark, root).lastOption.map(v =>
      manifestFull(spark, root, v))
    val key2AtStart = statsKey2.orElse(mAtStart.flatMap(_.statsKey2))
    // column mapping captured at start: the update batch is written
    // ONCE, before the commit loop, so its files must spell physical
    // names — including MINTED ones for any new batch columns (those
    // minted names are reconciled into each attempt's committed map,
    // see reconcileColmap). Concurrent schema DDL racing a merge is
    // outside the supported envelope (single-writer DDL), same as
    // every table format.
    val cmAtStart = evolveColmap(
      mAtStart.map(_.colmap).getOrElse(Map.empty), updates.schema)
    // `updates` is evaluated exactly once: its write. Everything else
    // the merge needs from the batch — the prune keys, the survivors
    // anti-join's key set, the constraint check — reads the files just
    // written (key column only where that is all it needs, the same
    // trick attachBlooms uses), so an expensive lazy batch (a whole
    // chunk → embed plan) runs once, and the delete set and the insert
    // set are the same rows by construction even when `updates` would
    // not evaluate the same way twice. Read back with the WIDENED
    // schema: a batch's NOT NULL nested fields do not survive the
    // parquet round-trip as such, and a cast to them would fail.
    //
    // Prune-key semantics unchanged: gated on the key TYPE (a lossy
    // cast would yield nulls and wrongly prune everything) — integral
    // keys prune on the long range, STRING keys on the binary range
    // (unsigned byte order — the order both parquet's stats and
    // Spark's string comparisons use); any other type disables
    // skipping, never correctness. limit(cap+1) inside: the driver
    // never holds more than cap+1 keys, and one extra row is how "too
    // many to prune with" is detected.
    val updateFiles = writeDataFiles(spark, root, updates, Some(key), key2AtStart,
      colmap = cmAtStart)
    val batch = scanFiles(spark, root, widened(updates.schema), updateFiles, cmAtStart)
    val (updateKeys, updateStrKeys) = pruneKeySets(batch, key, maxPruneKeys)
    retrying(spark, root, op = "merge") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val tableSchema = schemaOf(spark, root, m)
      requireNoRetired(m, tableSchema, updates.schema)
      val evolved = evolveSchema(tableSchema, updates.schema, allowWiden)
      val effCm = reconcileColmap(m.colmap, cmAtStart, evolved)
      // the update batch was written before this loop, so constraints
      // are enforced with one explicit validation job (aligned frame:
      // absent columns null-fill, and NULL passes — SQL CHECK)
      validateConstraints(alignTo(batch, evolved), m.constraints)
      val (_, effKey2, fixCarried) = resolveStatsKeys(m, Some(key), statsKey2)
      val (touched, untouched) = touchedSplit(m, key, updateKeys, updateStrKeys)
      val rewritten =
        if (touched.isEmpty) Seq.empty[FileEntry]
        else {
          // effective read (dv-aware, table schema applied explicitly:
          // touched files may predate an evolution and lack columns,
          // and previously dv-deleted rows must not resurrect in the
          // rewrite — which also MATERIALIZES their deletions: the
          // rewritten entries carry no dv reference)
          val current = scanEntries(spark, root, latest, m, tableSchema, touched)
          // alias, not rename: `key` may be a nested path (metadata.doc_id)
          val survivors = current.join(
            batch.select(batch(key).as("__mk")).distinct(),
            current(key) === col("__mk"), "left_anti")
          writeDataFiles(spark, root, alignTo(survivors, evolved), Some(key), effKey2,
            colmap = effCm)
        }
      // the update files were written ONCE, before the commit loop,
      // with min2/max2 measured on key2AtStart — but effKey2 re-derives
      // from the FRESH manifest each attempt. If a concurrent commit
      // changed the table's statsKey2 in between (compact/append/
      // retainWhere all accept an explicit one), committing those
      // ranges under the new header name would attribute them to a
      // column they were never measured on — wrong-column stats
      // over-prune and LOSE ROWS on conjunctive reads. Strip them
      // instead (the mirror of what fixCarried does for carried
      // entries); rewritten files are produced inside the attempt with
      // the fresh effKey2 and stay correct as-is.
      Pending(fixCarried(untouched) ++
        rewritten ++ reconcileUpdateStats(updateFiles, key2AtStart, effKey2),
        evolved, Some(key), effKey2, txnBatchId,
        colmap = if (effCm.isEmpty) None else Some(effCm))
    }
  }

  /** The column map a merge ATTEMPT commits: the fresh manifest's map
    * extended — for batch columns the evolution adds — with the
    * physical names the WRITE-AHEAD batch actually used (`preWrite`,
    * captured before the commit loop; falls back to identity when the
    * batch predates a concurrent activation, which matches how its
    * files were spelled). Mirrors [[reconcileUpdateStats]]'s role for
    * the same write-once-commit-many shape. An inactive current map
    * stays inactive. */
  private def reconcileColmap(current: Map[String, String],
      preWrite: Map[String, String],
      evolved: org.apache.spark.sql.types.StructType): Map[String, String] =
    if (current.isEmpty) Map.empty
    else {
      val have = current.keySet.map(norm)
      val taken = current.values.map(norm).toSet
      current ++ evolved.fields.filterNot(f => have.contains(norm(f.name)))
        .map { f =>
          val phys = physFor(preWrite, f.name)
          // a new column's physical spelling colliding with a LIVE
          // column's physical name would make two logical columns read
          // one physical column — refuse loudly; the batch's files are
          // already written under that spelling, so there is no safe
          // remap here (the realistic race: a merge written before a
          // concurrent rename/drop activated mapping, whose batch ALSO
          // adds a column named like an existing physical column)
          require(!taken.contains(norm(phys)),
            s"merge batch adds column '${f.name}' whose physical spelling " +
              s"'$phys' collides with a live column's physical name under " +
              "the concurrently-changed column mapping — re-run the merge")
          require(!f.name.contains(PathSep),
            s"column name '${f.name}' contains U+0000 — unsupported")
          f.name -> phys
        }
    }

  /** Compaction: rewrite the CURRENT snapshot into ~`targetFiles`
    * larger files and commit the result as a new version — the
    * small-file remedy every copy-on-write table needs once many
    * incremental merges have fragmented it. Commits through the same
    * optimistic loop as any writer, so it can run concurrently with
    * upserts; historical versions keep reading their original files.
    *
    * With `cluster = true` (and a `statsKey`) the rewrite
    * RANGE-partitions on the key instead of round-robin: the output
    * files carry DISJOINT key ranges, so the manifest stats become
    * maximally selective — a point-key merge rewrites exactly one file
    * and a [[readRange]] probe scans exactly the files its range
    * touches. With a `statsKey2` as well, the range partitioning is
    * HIERARCHICAL (primary, then secondary): within one primary key's
    * span the files are further ordered by the secondary, so
    * conjunctive two-key probes prune on both ranges — the
    * one-dimensional-first analog of a z-order layout, which is the
    * right trade when one key dominates selectivity (filename before
    * chunk_idx, document before page). Incremental merges interleave
    * key ranges over time; clustered compaction is how maintenance
    * RESTORES pruning power.
    *
    * With `zorder = true` (needs both keys recorded/passed, both
    * integral — enforced, not silently degraded) the rewrite orders by
    * the BIT-INTERLEAVED z-value of the two keys instead: each file
    * covers a z-range, i.e. a small rectangle in (key, key2) space, so
    * BOTH columns' per-file min/max ranges are selective — the right
    * trade when neither key dominates (a secondary-only predicate
    * prunes files, which the hierarchical layout cannot do at all; a
    * primary-only predicate prunes somewhat less than hierarchical).
    * Before interleaving, both keys are NORMALIZED to a common
    * effective bit width from their observed [min,max] domains (one
    * agg over data the compaction reads anyway): interleaving raw
    * values lets whichever key spans more bits own every significant
    * z-bit, collapsing the "z-order" into a plain sort by that key —
    * the narrower dimension then prunes nothing, the exact defect this
    * normalization exists to prevent. The manifest stats machinery is
    * unchanged — z-order is purely a LAYOUT choice the per-column
    * ranges get sharper under; a bad layout can never lose rows. */
  def compact(spark: SparkSession, root: String, targetFiles: Int = 8,
      statsKey: Option[String] = None, cluster: Boolean = false,
      statsKey2: Option[String] = None, zorder: Boolean = false): Int =
    retrying(spark, root, op = "compact") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val schema = schemaOf(spark, root, m)
      val (effKey, effKey2, _) = resolveStatsKeys(m, statsKey, statsKey2)
      // effective read: dv-deleted rows drop out of the rewrite, so a
      // full compaction is also the dv MATERIALIZATION op — the new
      // version's files carry no deletion vectors at all
      val current = scanEntries(spark, root, latest, m, schema, m.entries)
      // full-table rewrite: the z-normalization domains come from the
      // manifest's attained per-file bounds when exact for the live
      // rows (every entry bounded, zero dv debt, and the resolved keys
      // ARE the recorded ones — a caller-overridden key has no
      // manifest bounds to use) — skipping the whole-table bounds
      // aggregate, a full extra pass over data the rewrite is about to
      // read anyway (guide §1.2); identical layout by
      // [[zBoundsFromStats]]'s exactness argument
      Pending(writeDataFiles(spark, root,
        clusterLayout(current, targetFiles, effKey, effKey2, cluster, zorder,
          statsBounds =
            if (zorder && effKey.map(norm) == m.statsKey.map(norm) &&
                effKey2.map(norm) == m.statsKey2.map(norm))
              zBoundsFromStats(m)
            else None),
        effKey, effKey2, colmap = m.colmap,
        batchPrefix = if (zorder) "zo" else "batch"),
        schema, effKey, effKey2)
    }

  private object NothingToCompact extends Exception

  /** The layout-honoring rewrite the SCHEDULED maintenance ops
    * ([[compactSmall]], [[materializeDv]] — hence [[maintain]]) use on
    * declared tables: a bucket declaration re-buckets the rewritten
    * subset (the SPJ claim survives maintenance — previously the one
    * remaining dissolution path on a steady-state table), declared
    * partition columns re-land it under partition directories (the
    * pruning facts survive), and an undeclared table keeps the plain
    * clustered layout the caller built. The EXPLICIT re-layout tools
    * ([[compact]], [[compactRange]], z-order) stay layout-agnostic by
    * design — they ARE the "change the layout" ops, and
    * [[compactBucketed]]/[[compactPartitioned]] restore. */
  private def rewriteWithDeclaredLayout(spark: SparkSession, root: String,
      m: Manifest, df: DataFrame, effKey: Option[String],
      effKey2: Option[String], plain: => DataFrame,
      targetFiles: Int = 8): Seq[FileEntry] =
    m.buckets match {
      case Some(n) => writeBucketedFiles(spark, root, df, n,
        effKey.getOrElse(throw new IllegalStateException(
          s"bucket-declared table $root lost its stats key")), effKey2, m.colmap)
      case None if m.partitionCols.nonEmpty =>
        writePartitionedFiles(spark, root, df, m.partitionCols, effKey, effKey2,
          m.colmap)
      case None if m.zorder =>
        // declared z-order: the rewritten subset comes back interleaved
        // on the recorded key pair (zo- batch = the layout marker)
        writeDataFiles(spark, root,
          clusterLayout(df, targetFiles, effKey, effKey2,
            cluster = true, zorder = true),
          effKey, effKey2, colmap = m.colmap, batchPrefix = "zo")
      case None => writeDataFiles(spark, root, plain, effKey, effKey2,
        colmap = m.colmap)
    }

  /** INCREMENTAL compaction: rewrite ONLY the files smaller than
    * `smallBytes` (the small-file debt a streaming ingest accretes),
    * bin-packed into ~`smallBytes`-sized outputs; every larger file
    * carries forward BY NAME, stats and all. This is the maintenance
    * op a 100 TB table actually runs on a schedule: [[compact]]
    * rewrites the WHOLE table (full read + full write — the right tool
    * after a bulk load or for a global re-layout), while this one's
    * cost is proportional to the DEBT — a thousand-file table with ten
    * fresh streaming appends rewrites ten small files and touches
    * nothing else. File sizes come from the manifest (recorded at
    * write time), so selection is driver-side metadata — no listing,
    * no data I/O; entries without a recorded size (pre-size manifest
    * lines) count as small, because the conservative direction is
    * rewrite-once, never silently carry unknown debt forever.
    *
    * Commits as op "compact" — row-preserving by the same contract, so
    * [[readChanges]] and the streaming source stay silent over it.
    * Returns None (and commits NOTHING — no version churn, no orphan
    * files) when the debt is ≤1 file: packing one file into one file
    * buys nothing, and that fixpoint is what makes a scheduled
    * `compactSmall` idempotent between ingests. With `cluster = true`
    * the packed output is range-laid on the stats key — the rewritten
    * subset regains pruning power; untouched files keep the stats they
    * already had. For a global z-order or full re-cluster, use
    * [[compact]]. */
  def compactSmall(spark: SparkSession, root: String, smallBytes: Long,
      statsKey: Option[String] = None, cluster: Boolean = false,
      statsKey2: Option[String] = None): Option[Int] =
    try Some(retrying(spark, root, op = "compact") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val schema = schemaOf(spark, root, m)
      val (effKey, effKey2, fixCarried) = resolveStatsKeys(m, statsKey, statsKey2)
      val (small, large) = m.entries.partition(_.bytes.forall(_ < smallBytes))
      if (small.size <= 1) throw NothingToCompact
      // effective read: a small file's recorded deletions materialize
      // in the packed output (large dv-bearing files keep theirs —
      // their debt waits for a full compact or a merge that hits them)
      val current = scanEntries(spark, root, latest, m, schema, small)
      val outFiles = math.max(1, math.ceil(
        small.flatMap(_.bytes).sum.toDouble / smallBytes).toInt)
      Pending(fixCarried(large) ++ rewriteWithDeclaredLayout(spark, root, m,
        current, effKey, effKey2,
        plain = clusterLayout(current, outFiles, effKey, effKey2, cluster,
          zorder = false), targetFiles = outFiles), schema, effKey, effKey2)
    }) catch { case NothingToCompact => None }

  /** Targeted DV MATERIALIZATION: rewrite ONLY the files whose
    * recorded deletion fraction (dvRows / rows) exceeds
    * `maxDvFraction`, dropping their deletion vectors; every other
    * file — plain, or carrying tolerable debt — carries forward BY
    * NAME, stats and dv references intact. This is the missing third
    * leg of the maintenance triad: [[compact]] materializes by
    * rewriting the WHOLE table and [[compactSmall]] only touches
    * sub-threshold files — a 100 TB table whose dv debt concentrates
    * in BIG files (the natural end state of repeated `deleteWhere`
    * under a streaming TTL) had no rewrite whose cost tracks the
    * debt. Here selection is driver-side manifest metadata (zero I/O
    * to decide, exactly like compactSmall's size cut) and the rewrite
    * reads only the over-bound files' effective rows.
    *
    * Files with a dv but an UNKNOWN row or deletion count exceed any
    * bound (conservative: rewrite-once beats carrying unquantifiable
    * debt forever). With `cluster = true` (default) and a recorded
    * stats key the rewritten subset is range-laid — files of a
    * clustered table regain selective stats instead of degrading to
    * round-robin. Commits op "compact": effective rows are unchanged
    * (the deleted rows were already invisible), so CDC and the
    * streaming source stay silent, same contract as any compaction.
    * Returns None — committing nothing — when no file exceeds the
    * bound: a scheduled call is idempotent between deletes. */
  def materializeDv(spark: SparkSession, root: String,
      maxDvFraction: Double = 0.1, cluster: Boolean = true): Option[Int] = {
    require(maxDvFraction >= 0.0, "maxDvFraction must be non-negative")
    try Some(retrying(spark, root, op = "compact") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val schema = schemaOf(spark, root, m)
      val (effKey, effKey2, fixCarried) = resolveStatsKeys(m, None, None)
      val (debt, carry) = m.entries.partition { e =>
        e.dv.isDefined && ((e.rows, e.dvRows) match {
          case (Some(r), Some(d)) if r > 0 => d.toDouble / r > maxDvFraction
          case _ => true // unknown counts: conservative rewrite
        })
      }
      if (debt.isEmpty) throw NothingToCompact
      val current = scanEntries(spark, root, latest, m, schema, debt)
      // one output per rewritten input: materialization changes a
      // file's LIVE content, not the table's file granularity
      Pending(fixCarried(carry) ++ rewriteWithDeclaredLayout(spark, root, m,
        current, effKey, effKey2,
        plain = clusterLayout(current, debt.size, effKey, effKey2,
          cluster && effKey.isDefined, zorder = false),
        targetFiles = debt.size),
        schema, effKey, effKey2)
    }) catch { case NothingToCompact => None }
  }

  /** RANGE-scoped compaction: re-layout ONLY the files whose recorded
    * key range intersects `[lo, hi]`, carrying every other file
    * forward BY NAME — the surgical member of the maintenance family
    * (whole-table [[compact]], size-cut [[compactSmall]], debt-cut
    * [[materializeDv]]). The operational shape it exists for: a table
    * clustered long ago, with churn concentrated in one key region
    * (the streaming dedup index's recent-fingerprint span, a tenant's
    * id block) — re-clustering THAT region restores its pruning power
    * at cost proportional to the region, while a 100 TB cold remainder
    * is never read. Selection is driver-side manifest metadata (the
    * same recorded min/max the reader prunes with — zero I/O to
    * decide); entries without integral key stats conservatively HIT
    * (rewrite-once beats carrying unmeasured files outside every
    * future range forever, and the rewrite records fresh stats so it
    * happens once). Needs a recorded integral statsKey — refused
    * loudly otherwise, like z-order. Rewritten files' deletion vectors
    * materialize (effective read); commits op "compact", so CDC and
    * the streaming source stay silent. Returns None — committing
    * nothing — when ≤1 file intersects. */
  def compactRange(spark: SparkSession, root: String, lo: Long, hi: Long,
      targetFiles: Int = 4, cluster: Boolean = true): Option[Int] = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    try Some(retrying(spark, root, op = "compact") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      require(m.statsKey.isDefined,
        "compactRange needs a recorded statsKey (integral stats to select by)")
      val schema = schemaOf(spark, root, m)
      val (effKey, effKey2, fixCarried) = resolveStatsKeys(m, None, None)
      val (hit, carry) = m.entries.partition { e =>
        (e.minKey, e.maxKey) match {
          case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
          case _ => true // unmeasured: rewrite once, gain stats
        }
      }
      if (hit.size <= 1) throw NothingToCompact
      val current = scanEntries(spark, root, latest, m, schema, hit)
      Pending(fixCarried(carry) ++ writeDataFiles(spark, root,
        clusterLayout(current, targetFiles, effKey, effKey2, cluster,
          zorder = false),
        effKey, effKey2, colmap = m.colmap), schema, effKey, effKey2)
    }) catch { case NothingToCompact => None }
  }

  /** One scheduled MAINTENANCE cycle, composed from the incremental
    * primitives — the single call a table scheduler (or a streaming
    * loop) runs between writes: materialize over-bound deletion-vector
    * debt ([[materializeDv]]), pack small-file debt ([[compactSmall]]),
    * expire old versions, vacuum unreferenced data files and sidecars.
    * Every step's cost is proportional to ITS debt — never a
    * whole-table rewrite — and every step is a committed-nothing no-op
    * at its fixpoint. MATERIALIZE-BEFORE-PACK is what makes the cycle
    * converge in one call: a materialized output that lands under the
    * size threshold is swept into the same cycle's pack, so a second
    * `maintain` with no intervening writes commits nothing (the
    * reverse order ping-pongs sub-threshold materialized outputs into
    * the NEXT cycle's pack — an extra commit per cycle, forever, on a
    * table with steady delete traffic). [[describeDetail]] is the
    * matching decision surface (smallFiles / dvRows / liveVersions —
    * all manifest metadata) for schedulers that want to skip the call
    * entirely. Returns the versions committed (empty = already
    * maintained). `minAgeMs` is the vacuum's reader-protection
    * window — pass 0 ONLY under single-writer serialization (the
    * streaming loops' foreachBatch contract). */
  def maintain(spark: SparkSession, root: String, smallBytes: Long,
      maxDvFraction: Double = 0.25, keepVersions: Int = 3,
      statsKey: Option[String] = None, cluster: Boolean = true,
      minAgeMs: Long = 60L * 60 * 1000,
      relayout: Boolean = false): Seq[Int] = {
    // relayout = true: if the head's file set has drifted off the
    // table's DECLARED layout (an explicit compact/compactRange/
    // z-order one-shot or a dynamic overwrite dissolved it), one full
    // rewrite re-establishes the declaration — the scheduled cycle
    // restores ANY declared layout without the operator remembering
    // which tool matches which layout. The rewrite subsumes the two
    // incremental legs (it materializes every dv and packs every
    // small file), so they're skipped when it fires; when the layout
    // is intact (or nothing is declared) this is a no-op and the
    // incremental cycle runs as always.
    val relaid = if (relayout) restoreDeclaredLayout(spark, root) else None
    val materialized =
      if (relaid.isDefined) None else materializeDv(spark, root, maxDvFraction)
    val packed =
      if (relaid.isDefined) None
      else compactSmall(spark, root, smallBytes, statsKey = statsKey,
        cluster = cluster)
    expireVersions(spark, root, keepLast = keepVersions)
    vacuum(spark, root, minAgeMs = minAgeMs)
    Seq(relaid, materialized, packed).flatten
  }

  /** Is a file's batch directory a z-laid rewrite's output? The zo-
    * prefix is stamped by every z-interleaved write (declared create,
    * declared maintenance rewrite, explicit zorder compact), so "all
    * live files zo-laid" is the same cheap path fact bucket ids and
    * partition dirs provide for the other declared layouts. */
  private def zorderLaid(e: FileEntry): Boolean = e.path.startsWith("data/zo-")

  /** Has the head snapshot PHYSICALLY drifted off its declared layout?
    * Driver-side path facts only (bucket ids, partition dirs, zo-
    * batch marker) — zero data I/O, the cheap check a scheduled
    * `maintain(relayout = true)` runs every cycle. False when nothing
    * is declared. */
  private def layoutDissolved(spark: SparkSession, root: String,
      version: Int, m: Manifest): Boolean =
    if (m.entries.isEmpty) false
    else if (m.buckets.isDefined)
      // dissolved ALSO when the live layout's consistent count differs
      // from the declaration (a bucket-count evolution mid-table)
      !new SqlSnapshot(spark, root, version, m).bucketLayout
        .exists(_._1 == m.buckets.get)
    else if (m.partitionCols.nonEmpty) {
      val need = m.partitionCols.map(norm).toSet
      m.entries.exists(e => !need.subsetOf(partValuesOf(e.path).keySet))
    }
    else if (m.zorder) !m.entries.forall(zorderLaid)
    else false

  /** Restore the table's DECLARED layout with one full rewrite when it
    * has dissolved; no-op (None) when the head already honors its
    * declaration or declares nothing. The explicit re-layout tools
    * (compact, compactRange, one-shot z-order, dynamic overwrite) stay
    * layout-agnostic by design — they ARE the "change the layout"
    * ops; this is the scheduled inverse. */
  def restoreDeclaredLayout(spark: SparkSession, root: String): Option[Int] = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val m = manifestFull(spark, root, vs.last)
    if (!layoutDissolved(spark, root, vs.last, m)) None
    else if (m.buckets.isDefined)
      Some(compactBucketed(spark, root, m.buckets.get))
    else if (m.partitionCols.nonEmpty) Some(compactPartitioned(spark, root))
    else if (m.zorder)
      // one z-range file per current file — restoring the interleave
      // keeps the table's file granularity — FLOORED at 4: a z-layout
      // in fewer files cannot carry both keys' leading bits into
      // distinct file ranges (2 files split only the leading
      // dimension; 1 file prunes nothing), and two-key pruning is the
      // only reason the layout is declared. At scale entries.size is
      // far above the floor and this is exactly size-preserving.
      Some(compact(spark, root, targetFiles = math.max(4, m.entries.size),
        zorder = true))
    else None
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's `ALTER TABLE … ADD/DROP
    * PARTITION FIELD`; the catalog fronts it as `ALTER TABLE … SET
    * TBLPROPERTIES ('partitionCols'='a,b')`): change the table's
    * DECLARED partition columns without rewriting a byte — one
    * metadata commit (op "altpart") whose entries carry verbatim.
    * The spec is per-version manifest state, so time travel reads
    * each era under its own spec. Pruning stays PER-FILE and
    * conservative: a file prunes on exactly the partition values its
    * OWN path spells ([[partitionKeeps]] — since evolution, keyed by
    * every path-safe schema column, not just the current spec), so
    * old-era files keep their old spec's full pruning power, new
    * writes land under — and prune by — the new spec, and a file
    * spelling neither is simply scanned. At 100 TB this is the
    * re-partition the reference performs per embedding model
    * (/root/reference/src/etl_processor.py:123-124) done as ONE
    * manifest write instead of a table rewrite;
    * `maintain(relayout = true)` converges the files to the current
    * spec when (and only when) the operator wants to pay for it.
    * An empty `cols` un-partitions the table. `cols` are LOGICAL
    * names; the header records the physical spelling like create. */
  def setPartitionSpec(spark: SparkSession, root: String,
      cols: Seq[String]): Int =
    retrying(spark, root, op = "altpart") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val schema = schemaOf(spark, root, m)
      require(cols.isEmpty || (m.buckets.isEmpty && !m.zorder),
        "PARTITIONED BY is exclusive with a bucket / z-order declaration " +
          "(one physical layout per table)")
      val phys = cols.map { pc =>
        val f = schema.fields.find(f => norm(f.name) == norm(pc)).getOrElse(
          throw new IllegalArgumentException(
            s"partition column '$pc' names no column of the schema"))
        require(f.dataType == org.apache.spark.sql.types.IntegerType ||
            f.dataType == org.apache.spark.sql.types.LongType ||
            f.dataType == org.apache.spark.sql.types.StringType ||
            f.dataType == org.apache.spark.sql.types.DateType,
          s"partition column '$pc' is ${f.dataType.simpleString} — " +
            "int/bigint/string/date only (the value must round-trip a path)")
        val p = physFor(m.colmap, f.name)
        require(p.matches("[A-Za-z0-9_]+"),
          s"partition column '$pc' (physical '$p') must be [A-Za-z0-9_]+ " +
            "(it becomes a directory name)")
        p
      }
      require(phys.map(norm).distinct.size == phys.size,
        s"duplicate partition columns: ${cols.mkString(", ")}")
      Pending(m.entries, schema, m.statsKey, m.statsKey2,
        partitionCols = Some(phys))
    }

  /** BUCKET-COUNT EVOLUTION (catalog-fronted as `ALTER TABLE … SET
    * TBLPROPERTIES ('buckets'='N')`; `''` un-declares): change the
    * declared bucket count in ONE metadata commit (op "altlayout",
    * entries carried verbatim). Files keep the layout they were
    * written under; new writes bucket at the new count, so a
    * mixed-count era CONSERVATIVELY refuses the SPJ claim and bucket
    * pruning (the per-file layout rule already enforces one consistent
    * count) until `maintain(relayout = true)` — or any full
    * re-bucket — converges the table. Same safety story as partition
    * evolution: the declaration steers writes; correctness never
    * rests on it. */
  def setBuckets(spark: SparkSession, root: String, n: Option[Int]): Int =
    retrying(spark, root, op = "altlayout") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val schema = schemaOf(spark, root, m)
      n.foreach { b =>
        require(b > 0 && b <= 65536, s"buckets must be in [1, 65536], got $b")
        require(m.partitionCols.isEmpty && !m.zorder,
          "a bucket declaration is exclusive with PARTITIONED BY / zorder " +
            "(one declared physical layout per table)")
        val kt = m.statsKey.flatMap(k =>
          schema.fields.find(f => norm(f.name) == norm(k)).map(_.dataType))
        require(kt.exists(t => t == org.apache.spark.sql.types.IntegerType ||
            t == org.apache.spark.sql.types.LongType ||
            t == org.apache.spark.sql.types.StringType),
          "a bucket declaration needs a statsKey of type int/bigint/string " +
            "(the bucket key IS the stats key)")
      }
      Pending(m.entries, schema, m.statsKey, m.statsKey2, buckets = Some(n))
    }

  /** Z-ORDER DECLARATION EVOLUTION (catalog-fronted as `ALTER TABLE …
    * SET TBLPROPERTIES ('zorder'='true'|'false')`): toggle the
    * declared z-order clustering in one metadata commit — the same
    * create-time validation (both stats keys, both integral,
    * exclusive with buckets / PARTITIONED BY); maintenance restores
    * the interleave on the next `maintain(relayout = true)` cycle. */
  def setZorder(spark: SparkSession, root: String, on: Boolean): Int =
    retrying(spark, root, op = "altlayout") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val schema = schemaOf(spark, root, m)
      if (on) {
        require(m.buckets.isEmpty && m.partitionCols.isEmpty,
          "a z-order declaration is exclusive with buckets / PARTITIONED BY " +
            "(one declared physical layout per table)")
        Seq("statsKey" -> m.statsKey, "statsKey2" -> m.statsKey2).foreach {
          case (what, k) =>
            val t = k.flatMap(nm =>
              schema.fields.find(f => norm(f.name) == norm(nm)).map(_.dataType))
            require(t.exists(dt => dt == org.apache.spark.sql.types.IntegerType ||
                dt == org.apache.spark.sql.types.LongType ||
                dt == org.apache.spark.sql.types.StringType),
              s"a z-order declaration needs an int/bigint/string $what; " +
                s"got ${k.getOrElse("<none>")}")
        }
      }
      Pending(m.entries, schema, m.statsKey, m.statsKey2,
        zorderFlag = Some(on))
    }

  /** Bits per dimension of the z-value after normalization. 15 gives a
    * 30-bit curve (2^15 cells per axis — orders of magnitude finer than
    * any file count) while keeping every shift/interleave exact in a
    * signed long. */
  private val ZorderBits = 15

  /** The first 7 bytes of a string's UTF-8 encoding as a non-negative
    * big-endian long — the DRIVER-side twin of [[clusterLayout]]'s
    * string-key z-mapping expression (`conv(rpad(hex(substring(encode(
    * name, 'UTF-8'), 1, 7)), 14, '0'), 16, 10)`): zero-padded to 7
    * bytes, so the mapping is monotone in unsigned byte order and
    * min/max commute with it — prefix7(min s) = min prefix7(s). */
  private def prefix7(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) {
      v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
      i += 1
    }
    v
  }

  /** The z-normalization domains `(min1, max1, min2, max2)` — already
    * mapped through the string prefix-long where a key is a string —
    * derived from the MANIFEST's attained per-file bounds, for
    * full-table rewrites only. Exactness conditions (else None, and the
    * caller falls back to the bounds aggregate): every live entry
    * carries both keys' bounds, and zero dv debt — with deletion
    * vectors the file-level bounds may be wider than the live rows the
    * rewrite reads, which would shift the normalization and hence the
    * layout. Write-time stats are attained minima/maxima over the
    * file's actual rows, and min/max of a monotone mapping commute with
    * the mapping, so on the accepted path these domains equal the
    * aggregate's bit for bit. The write loop measures strings on their
    * full values, so truncation cannot touch them; only entries written
    * by the older footer-reading writer rest on parquet's chunk
    * statistics being untruncated (the default config). */
  private def zBoundsFromStats(m: Manifest): Option[(Long, Long, Long, Long)] =
    if (m.entries.isEmpty || m.entries.exists(_.dv.isDefined)) None
    else {
      def longs(lo: FileEntry => Option[Long],
          hi: FileEntry => Option[Long]): Option[(Long, Long)] = {
        val bs = m.entries.map(e => lo(e).zip(hi(e)))
        if (bs.exists(_.isEmpty)) None
        else Some((bs.flatten.map(_._1).min, bs.flatten.map(_._2).max))
      }
      def strs(lo: FileEntry => Option[Array[Byte]],
          hi: FileEntry => Option[Array[Byte]]): Option[(Long, Long)] = {
        val bs = m.entries.map(e => lo(e).zip(hi(e)))
        if (bs.exists(_.isEmpty)) None
        else Some((bs.flatten.map(p => prefix7(p._1)).min,
          bs.flatten.map(p => prefix7(p._2)).max))
      }
      for {
        (a, b) <- longs(_.minKey, _.maxKey).orElse(strs(_.minStr, _.maxStr))
        (c, d) <- longs(_.min2, _.max2).orElse(strs(_.min2Str, _.max2Str))
      } yield (a, b, c, d)
    }

  /** The rewrite layout [[compact]] and [[retainWhere]] share: plain
    * round-robin, range-clustered (hierarchical on two keys), or
    * z-ordered (interleaved two-key rectangles).
    *
    * The z branch LEFT-ALIGNS each key's significant bits to the same
    * width before interleaving: with observed domain [min, max], the
    * value becomes `(v - min) << (ZorderBits - width(max - min))` (or
    * `>>` when the span is wider than ZorderBits, keeping the TOP bits
    * — coarser cells, still balanced), so both dimensions' most
    * significant bits land at position ZorderBits-1 and the interleave
    * alternates fairly. Raw interleaving fails whenever the domains
    * differ in width: a 4-bit doc id against a 6-bit chunk idx puts
    * every top z-bit under the chunk key and the layout degenerates to
    * a chunk sort — zero primary pruning (the round-8 defect this
    * replaces). Exact integer bit-shifts, no floating point: the same
    * input always yields the same layout. Min subtraction also makes
    * negative keys well-defined. The single driver-side agg is 4 longs
    * over data the rewrite is about to read in full anyway. */
  private def clusterLayout(df: DataFrame, targetFiles: Int,
      key: Option[String], key2: Option[String],
      cluster: Boolean, zorder: Boolean,
      statsBounds: Option[(Long, Long, Long, Long)] = None): DataFrame =
    (key, key2) match {
      case (Some(k), Some(k2)) if zorder =>
        import org.apache.spark.sql.functions.{conv, encode, hex,
          lit, max, min, rpad, shiftleft, shiftright, substring}
        import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
        // int/long/string only — exactly the types the stats machinery
        // records per-file ranges for (long min/max for integrals,
        // binary min/max for strings — fmt 3/5); a layout no read path
        // can prune is a lie. A STRING key interleaves on its unsigned
        // 7-byte UTF-8 prefix, ZERO-PADDED to fixed width so the
        // prefix-long order matches lexicographic byte order even
        // across different string lengths ('src2' must sort after
        // 'src19', exactly as the manifest's binary min/max compare) —
        // the z-rectangles then line up with the ranges the string
        // pruning predicates consult, and 56 prefix bits dwarf the
        // ZorderBits normalization anyway. The reference's own 2D
        // chunk identity is (filename: STRING, chunk_idx: INT) —
        // chunking_manager.py:82-87.
        def dtOf(name: String) = df.select(col(name)).schema.head.dataType
        def zlong(name: String, dt: org.apache.spark.sql.types.DataType): Column =
          dt match {
            case IntegerType | LongType => col(name).cast("long")
            case StringType =>
              // 7 bytes = 56 bits keeps the value non-negative in a
              // signed long; '' maps to 0, NULL stays NULL (same null
              // behavior as the integral path)
              conv(rpad(hex(substring(encode(col(name), "UTF-8"), 1, 7)),
                14, "0"), 16, 10).cast("long")
            case other => throw new IllegalArgumentException(
              s"zorder=true needs int/bigint/string stats keys; '$name' is " +
                s"$other — use cluster=true (hierarchical) for other key types")
          }
        val kc = zlong(k, dtOf(k))
        val k2c = zlong(k2, dtOf(k2))
        // normalization domains: the caller's manifest-derived bounds
        // when exact ([[zBoundsFromStats]] — no job), else one
        // driver-side agg over data the rewrite reads in full anyway
        val domains: Option[(Long, Long, Long, Long)] =
          statsBounds.orElse {
            val bounds = df.agg(min(kc), max(kc), min(k2c), max(k2c)).head()
            if (bounds.isNullAt(0) || bounds.isNullAt(2)) None
            else Some((bounds.getLong(0), bounds.getLong(1),
              bounds.getLong(2), bounds.getLong(3)))
          }
        domains match {
          case None => df.repartition(targetFiles)
          case Some((lo1, hi1, lo2, hi2)) =>
            // effective width of a span (bits to represent max - min);
            // span 0 (constant column) → width 0 → the dim contributes
            // nothing, correctly
            def aligned(c: Column, lo: Long, hi: Long): Column = {
              val base = c - lit(lo)
              val sh = ZorderBits - (64 - java.lang.Long.numberOfLeadingZeros(hi - lo))
              if (sh >= 0) shiftleft(base, sh) else shiftright(base, -sh)
            }
            val z = graft.relational.Relational.zorderValue(
              aligned(kc, lo1, hi1), aligned(k2c, lo2, hi2), ZorderBits)
            df.withColumn("__graft_z", z)
              .repartitionByRange(targetFiles, col("__graft_z"))
              .sortWithinPartitions("__graft_z")
              .drop("__graft_z")
        }
      case (Some(k), Some(k2)) if cluster =>
        df.repartitionByRange(targetFiles, col(k), col(k2))
      case (Some(k), _) if cluster =>
        df.repartitionByRange(targetFiles, col(k))
      case _ if zorder =>
        // the caller asked for a layout this table cannot produce —
        // failing beats silently handing back a round-robin layout
        // with none of the pruning power the flag was set for
        throw new IllegalArgumentException(
          "zorder=true needs BOTH a statsKey and a statsKey2 (recorded in " +
            s"the manifest or passed explicitly); resolved ($key, $key2)")
      case _ => df.repartition(targetFiles)
    }

  /** Retention rewrite: commit a new version holding only the rows
    * matching `keep`, laid out like a compaction (targetFiles;
    * optionally range-clustered on the stats key). This is the
    * state-EXPIRY primitive — TTL eviction of a streaming dedup
    * index, predicate deletes — and unlike [[compact]] it deliberately
    * CHANGES the row set, so it commits with op "rewrite": history
    * never lets a row-dropping rewrite masquerade as a compaction.
    * Copy-on-write as everywhere — historical versions keep reading
    * their original rows until expired and vacuumed. */
  def retainWhere(spark: SparkSession, root: String,
      keep: org.apache.spark.sql.Column, targetFiles: Int = 8,
      statsKey: Option[String] = None, cluster: Boolean = false,
      statsKey2: Option[String] = None, zorder: Boolean = false): Int =
    retrying(spark, root, op = "rewrite") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val schema = schemaOf(spark, root, m)
      val (effKey, effKey2, _) = resolveStatsKeys(m, statsKey, statsKey2)
      // effective read: dv-deleted rows stay deleted whatever `keep`
      // says about them, and the rewrite materializes the vectors
      val kept = scanEntries(spark, root, latest, m, schema, m.entries).filter(keep)
      Pending(writeDataFiles(spark, root,
        clusterLayout(kept, targetFiles, effKey, effKey2, cluster, zorder),
        effKey, effKey2, colmap = m.colmap,
        batchPrefix = if (zorder) "zo" else "batch"),
        schema, effKey, effKey2)
    }

  /** Drop all snapshots except the last `keepLast` (their manifests are
    * deleted; time travel to them fails afterwards). Run [[vacuum]] to
    * reclaim the data files only they referenced.
    *
    * DELTA-CHAIN CONTRACT (format 8): a retained delta manifest is only
    * readable while its base chain is, so before deleting anything,
    * retention publishes a full SHADOW CHECKPOINT (`vN.ckpt.json`,
    * resolved entries, no base pointer) for every retained version
    * whose chain crosses the expiry boundary — [[manifestFull]] prefers
    * the checkpoint, so the retained version stays readable after its
    * bases vanish. Checkpoints are new immutable files published with
    * the same create-if-absent primitive as manifests (never a
    * rewrite-in-place a concurrent reader could see torn); the original
    * delta file stays, carrying the version's commit instant for
    * [[versionAsOf]]. */
  def expireVersions(spark: SparkSession, root: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val f = fs(spark, root)
    val all = versions(spark, root)
    val expired = all.dropRight(keepLast)
    protectRetained(spark, root, all.takeRight(keepLast), expired.toSet)
    expired.foreach { v =>
      f.delete(manifestPath(root, v), false)
      f.delete(checkpointPath(root, v), false)
    }
    expired
  }

  private def checkpointPath(root: String, v: Int): Path =
    new Path(root, f"$SnapshotDir/v$v%07d.ckpt.json")

  /** Publish full shadow checkpoints for every version in `retained`
    * whose resolution chain passes through a version in `dying` — the
    * pre-deletion step that keeps retained versions readable. Walks
    * exactly the chain [[manifestFull]] would read (a checkpointed
    * version terminates it), so cost is O(retained · depth) small
    * metadata reads, only when an expiry actually crosses a chain. */
  private def protectRetained(spark: SparkSession, root: String,
      retained: Seq[Int], dying: Set[Int]): Unit =
    if (dying.nonEmpty) retained.foreach { v =>
      val f = fs(spark, root)
      var cur = v
      var crosses = false
      var cont = !f.exists(checkpointPath(root, v))
      while (cont && !crosses) {
        if (dying.contains(cur)) crosses = true
        else manifestFull(spark, root, cur).base match {
          case Some(b) if !f.exists(checkpointPath(root, b)) => cur = b
          case Some(b) => crosses = dying.contains(b); cont = false
          case None => cont = false
        }
      }
      if (crosses) writeCheckpoint(spark, root, v)
    }

  /** Write `v`'s resolved state as a full checkpoint file. Content is
    * deterministic (resolution order is), so concurrent protectors race
    * benignly: create-if-absent, losers verify existence and move on. */
  private def writeCheckpoint(spark: SparkSession, root: String, v: Int): Unit = {
    val m = manifestFull(spark, root, v)
    def kf(name: String, value: Option[String]): String =
      value.map(k => s""","$name":"$k"""").getOrElse("")
    // same reader-requirement discipline as commit(): format 9 only
    // when the checkpointed state actually carries column mapping
    val fmtOut = writeFormat(m.colmap, m.retired, m.entries)
    // layout declarations are version state exactly like the stats
    // identity: a checkpoint that drops them would erase the declared
    // layout for every later commit that resolves through it (the
    // expiry-under-declared-layout hazard — maintain() checkpoints the
    // head via protectRetained, and the NEXT commit carries forward
    // whatever the checkpoint header says)
    val header = s"""{"version":$v,"format":$fmtOut,"op":"${m.op}"""" +
      kf("statsKey", m.statsKey) + kf("statsKey2", m.statsKey2) +
      m.txnBatchId.map(t => s""","txnBatchId":$t""").getOrElse("") +
      m.buckets.map(b => s""","buckets":$b""").getOrElse("") +
      (if (m.partitionCols.nonEmpty)
        s""","partitionCols":"${m.partitionCols.mkString(",")}"""" else "") +
      (if (m.zorder) s""","zorder":true""" else "") + "}"
    val schemaLine = m.schema.map(s => s"S${s.json}").toSeq
    val body = ((header +: schemaLine) ++ constraintLines(m.constraints) ++
      colmapLines(m.colmap) ++ retiredLines(m.retired) ++
      m.entries.map(_.render)).mkString("\n")
    val p = checkpointPath(root, v)
    val scheme = p.toUri.getScheme
    val publisher: CommitPublisher =
      if (scheme == null || scheme == "file") CommitPublisher.localLink
      else CommitPublisher.renameIfAbsent(fs(spark, root))
    try publisher.publish(root, p, body.getBytes("UTF-8"))
    catch {
      case e: java.io.IOException =>
        if (!fs(spark, root).exists(p)) throw e // lost race = already done
    }
  }

  /** TIME-based retention: drop every version whose manifest was
    * committed more than `maxAgeMs` ago (by the manifest file's own
    * modification time — the commit instant), always keeping the
    * newest `keepLast` regardless of age so the table never loses its
    * head. The calendar form of [[expireVersions]] — "keep 7 days"
    * instead of "keep 12 versions" — which is the retention policy
    * streams and CDC consumers actually reason about (their checkpoint
    * lag is measured in time, not commits). Run [[vacuum]] to reclaim
    * the data files only the dropped versions referenced. */
  def expireOlderThan(spark: SparkSession, root: String, maxAgeMs: Long,
      keepLast: Int = 1): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val f = fs(spark, root)
    val cutoff = System.currentTimeMillis() - maxAgeMs
    val all = versions(spark, root)
    val expired = all.dropRight(keepLast)
      .filter(v => f.getFileStatus(manifestPath(root, v)).getModificationTime < cutoff)
    // age-retained versions may chain through older-than-cutoff bases:
    // checkpoint any retained version whose chain the expiry would cut
    protectRetained(spark, root, all.filterNot(expired.contains), expired.toSet)
    expired.foreach { v =>
      f.delete(manifestPath(root, v), false)
      f.delete(checkpointPath(root, v), false)
    }
    expired
  }

  /** One zero-job maintenance snapshot of the LIVE table: what a
    * scheduler reads to decide whether to run [[compactSmall]] (the
    * small-file debt), [[expireVersions]]/[[expireOlderThan]] (live
    * version count), or nothing. Everything comes from the manifests
    * already on disk — file counts, total bytes, per-file sizes vs
    * `smallBytes`, recorded row counts (−1 when any file predates
    * row-count tracking: unknown ≠ zero), and the stats identity. */
  final case class TableDetail(version: Int, liveVersions: Int, nFiles: Int,
      totalBytes: Long, smallFiles: Int, nRows: Long,
      statsKey: Option[String], statsKey2: Option[String],
      dvFiles: Int = 0, dvRows: Long = 0L,
      chainDepth: Int = 0, nConstraints: Int = 0,
      mappedColumns: Int = 0,
      /** CREATE-time bucket declaration, if any. */
      declaredBuckets: Option[Int] = None,
      /** The LIVE storage-partitioned layout's count — None when any
        * file is off-layout (the scheduler's RE-BUCKET signal on a
        * declared table: declaredBuckets set but bucketedLayout
        * None means a row-level rewrite dissolved the claim and
        * `compactBucketed()` would restore zero-shuffle joins). */
      bucketedLayout: Option[Int] = None,
      /** CREATE-time z-order clustering declaration (keys =
        * statsKey + statsKey2). */
      declaredZorder: Boolean = false,
      /** Is the LIVE file set physically z-interleaved (every file from
        * a z-laid rewrite)? declaredZorder && !zorderedLayout is the
        * scheduler's RESTORE signal — `maintain(relayout = true)`
        * re-establishes whatever layout the table declares. */
      zorderedLayout: Boolean = false,
      /** Declared Hive-style partition columns (LOGICAL spelling). */
      partitionCols: Seq[String] = Seq.empty)

  def describeDetail(spark: SparkSession, root: String,
      smallBytes: Long = 0L): TableDetail = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val m = manifestFull(spark, root, vs.last)
    // dv debt is the scheduler's MATERIALIZE signal: files carrying
    // deletion vectors read row-based through a position filter until
    // a rewrite purges them, so "dvRows is a meaningful fraction of
    // nRows" is the compact trigger (the same role smallFiles plays for
    // compactSmall). nRows reports LIVE rows: recorded counts minus
    // recorded deletions — what a reader actually sees.
    TableDetail(
      version = vs.last,
      liveVersions = vs.size,
      nFiles = m.entries.size,
      totalBytes = m.entries.flatMap(_.bytes).sum,
      smallFiles = m.entries.count(_.bytes.forall(_ < smallBytes)),
      nRows = if (m.entries.forall(e => e.rows.isDefined && knownDv(e)))
                m.entries.flatMap(_.rows).sum - m.entries.flatMap(_.dvRows).sum
              else -1L,
      statsKey = m.statsKey,
      statsKey2 = m.statsKey2,
      dvFiles = m.entries.count(_.dv.isDefined),
      dvRows = if (m.entries.forall(knownDv)) m.entries.flatMap(_.dvRows).sum
               else -1L,
      // the head's delta-chain length = metadata reads every fresh
      // read pays (writer-bounded at MaxChainDepth; a compact or any
      // rewrite-most commit resets it to 0), and the live CHECK rule
      // count — both zero-cost here, both maintenance-relevant
      chainDepth = m.depth,
      nConstraints = m.constraints.size,
      // 0 = mapping inactive (logical names ARE the physical ones)
      mappedColumns = m.colmap.size,
      declaredBuckets = m.buckets,
      bucketedLayout =
        new SqlSnapshot(spark, root, vs.last, m).bucketLayout.map(_._1),
      declaredZorder = m.zorder,
      zorderedLayout = m.entries.nonEmpty && m.entries.forall(zorderLaid),
      partitionCols =
        new SqlSnapshot(spark, root, vs.last, m).partitionColsLogical)
  }

  /** Garbage-collect files referenced by NO live manifest — leftovers
    * of crashed writers and of expired versions, in BOTH the data
    * directory and the `_snapshots` log (crashed publishes leave
    * `.tmp-*` files; stale-claim recovery leaves `.abandoned-*`). Only
    * files older than `minAgeMs` are eligible: a concurrent writer's
    * just-written batch / in-flight tmp manifest is not yet visible to
    * any manifest, and the age floor is what keeps vacuum from eating
    * it (the same retention contract as Delta's VACUUM).
    *
    * READ-RETENTION CONTRACT: a reader resolves its file list from a
    * manifest at DataFrame-construction time, so `expireVersions` +
    * `vacuum` can delete files under a still-running (or lazily
    * not-yet-executed) reader of an expired version — the read then fails
    * with a missing-file error; it can never silently return partial
    * data, because the scan pins the exact file list. `minAgeMs` is
    * the protection window: keep it longer than the longest-running
    * query over the table (Delta's retention-vs-reader contract). The
    * zero-age vacuum in the streaming maintenance loops is safe only
    * under their single-writer, no-external-reader serialization —
    * both sites document it; SnapshotRaceSpec pins the failure mode.
    * Returns the deleted relative paths.
    *
    * `dryRun = true` returns what WOULD be deleted and touches
    * NOTHING — the pre-flight an operator runs before an irreversible
    * sweep (Delta's VACUUM DRY RUN): same liveness walk, same age
    * cut, zero filesystem mutations. */
  def vacuum(spark: SparkSession, root: String,
      minAgeMs: Long = 60L * 60 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    def reap(p: Path, recursive: Boolean, f: FileSystem): Boolean =
      dryRun || (try f.delete(p, recursive) catch { case _: Exception => false })
    val f = fs(spark, root)
    val liveVersions = versions(spark, root)
    val live = liveVersions.flatMap(v => readManifest(spark, root, v))
    val liveVs = liveVersions.toSet
    val referenced = live.map(_.path).toSet
    // deletion-vector sidecar DIRS any live version still points at
    val referencedDv = live.flatMap(_.dv).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val deleted = Seq.newBuilder[String]
    // log-dir garbage: anything that is not a committed v*.json
    // manifest or a LIVE version's shadow checkpoint. Zero-length
    // manifest-name files are left to the stale-claim reclaim path —
    // deleting one here would race it.
    val CkptName = "v(\\d+)\\.ckpt\\.json".r
    def liveCkpt(n: String): Boolean = n match {
      case CkptName(v) => liveVs.contains(v.toInt)
      case _ => false
    }
    val snapDir = new Path(root, SnapshotDir)
    if (f.exists(snapDir)) f.listStatus(snapDir).foreach { s =>
      val n = s.getPath.getName
      if (!n.matches("v\\d+\\.json") && !liveCkpt(n) &&
        s.getModificationTime < cutoff && reap(s.getPath, false, f))
        deleted += s"$SnapshotDir/$n"
    }
    // deletion-vector sidecars: referenced as whole batch DIRS, so the
    // sweep is dir-granular — an unreferenced sidecar (its last
    // pointing version expired, or a lost-race delete attempt) goes
    // recursively once every part of it has aged past the cutoff
    val dvDir = new Path(root, "deletes")
    if (f.exists(dvDir)) f.listStatus(dvDir).foreach { batch =>
      val rel = s"deletes/${batch.getPath.getName}"
      if (!referencedDv.contains(rel) &&
        batch.getModificationTime < cutoff &&
        f.listStatus(batch.getPath).forall(_.getModificationTime < cutoff) &&
        reap(batch.getPath, true, f))
        deleted += rel
    }
    val dataDir = new Path(root, "data")
    if (!f.exists(dataDir)) return deleted.result()
    f.listStatus(dataDir).foreach { batch =>
      // only parquet data files are manifest-addressable; write markers
      // (_SUCCESS etc.) go when their whole batch dir is reclaimed
      f.listStatus(batch.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach { file =>
          val rel = s"data/${batch.getPath.getName}/${file.getPath.getName}"
          // count as reclaimed only what the filesystem confirms gone
          // (dry run: report the candidate without touching it)
          if (!referenced.contains(rel) && file.getModificationTime < cutoff &&
            reap(file.getPath, false, f))
            deleted += rel
        }
      val remaining = f.listStatus(batch.getPath)
      if (!dryRun && !remaining.exists(_.getPath.getName.endsWith(".parquet")) &&
        remaining.forall(_.getModificationTime < cutoff))
        f.delete(batch.getPath, true)
    }
    deleted.result()
  }

  /** What one optimistic attempt resolves to: the full next-version
    * file list, its schema, and the stats identity the manifest header
    * will record. */
  private final case class Pending(files: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType,
      statsKey: Option[String], statsKey2: Option[String],
      txnBatchId: Option[Long] = None,
      constraints: Option[Seq[(String, String)]] = None,
      colmap: Option[Map[String, String]] = None,
      retired: Option[Set[String]] = None,
      partitionCols: Option[Seq[String]] = None,
      buckets: Option[Option[Int]] = None,
      zorderFlag: Option[Boolean] = None)

  /** Optimistic-concurrency loop: build the file list + schema against
    * the latest version, try to commit latest+1; on a lost race,
    * rebuild against the new latest (including re-evolving the schema —
    * the winner may have evolved it differently). */
  private def retrying(spark: SparkSession, root: String, op: String)(
      build: Int => Pending): Int = {
    var attempt = 0
    while (true) {
      val latest = versions(spark, root).lastOption.getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      val p = build(latest)
      try return commit(spark, root, p.files, p.schema, latest, op,
        p.statsKey, p.statsKey2, p.txnBatchId, p.constraints, p.colmap,
        p.retired, bucketsDeclared = p.buckets,
        partitionColsDeclared = p.partitionCols,
        zorderDeclared = p.zorderFlag)
      catch {
        case _: java.io.IOException if attempt < MaxRetries =>
          attempt += 1
          // tiny linear backoff: a lost race means another writer is
          // mid-publish; spinning full-speed against its in-flight
          // claim would burn the retry budget in microseconds
          Thread.sleep(math.min(200L, 10L * attempt))
      }
    }
    -1 // unreachable
  }

  /** One history row per live version. `nRows` is -1 when any of the
    * version's files predates row-count tracking (unknown ≠ zero). */
  final case class HistoryEntry(version: Int, op: String, nFiles: Int,
      nColumns: Int, withStats: Int, nRows: Long)

  /** Table history — the DESCRIBE HISTORY surface: for every live
    * version, the operation that committed it, its file count, its
    * recorded column count, how many files carry skipping stats, and
    * its ROW COUNT (summed from the per-file row counts the write
    * path recorded — the first thing users reach for in a history).
    * Driver-side metadata reads only (one manifest read per version),
    * no Spark jobs. Versions committed before op tracking report
    * "unknown"; expired versions are simply absent. */
  def history(spark: SparkSession, root: String): Seq[HistoryEntry] =
    versions(spark, root).map { v =>
      val m = manifestFull(spark, root, v)
      HistoryEntry(v, m.op, m.entries.size,
        m.schema.map(_.fields.length).getOrElse(-1),
        m.entries.count(e => e.minKey.isDefined || e.minStr.isDefined),
        // live rows: recorded counts minus dv-recorded deletions — the
        // count a reader of this version actually sees. An entry with
        // a dv but NO recorded count (legal: empty 13th field) makes
        // the live count unknown, not "zero deletions"
        if (m.entries.forall(e => e.rows.isDefined && knownDv(e)))
          m.entries.flatMap(_.rows).sum - m.entries.flatMap(_.dvRows).sum
        else -1L)
    }

  /** Is this entry's deletion debt KNOWN — either no dv, or a dv with
    * its deleted-row count recorded? A dv-bearing line whose count
    * field is empty parses legally ([[parseEntry]]); treating it as
    * zero deletions would overstate live rows, so the aggregate
    * surfaces ([[describeDetail]], [[history]]) fall back to the -1
    * unknown sentinel. */
  private def knownDv(e: FileEntry): Boolean = e.dv.isEmpty || e.dvRows.isDefined

  /** RESTORE the table to an earlier version's logical state as a NEW
    * commit (op "restore") — the rollback a bad batch needs. The
    * restored version's resolved entries (files, stats, deletion
    * vectors) are carried forward BY NAME under the target's own
    * schema and stats identity: zero data I/O, one manifest write,
    * whatever the table size. History is preserved — nothing is
    * deleted, the bad versions stay time-travelable until retention
    * drops them — and CDC sees the rollback as ordinary row-level
    * changes (op "restore" diffs like any data commit), so incremental
    * consumers converge on the restored state instead of silently
    * diverging. The target must still be live (not expired), which
    * also guarantees its data files survived every vacuum.
    *
    * METADATA RESTORES WITH THE DATA: the new commit carries the
    * TARGET version's CHECK constraints and column map, not the
    * head's (Delta's RESTORE semantics). Restoring the data under the
    * head's newer rule set would silently break addConstraint's
    * invariant — e.g. v1 holds rows a later cleanup removed, v3 adds
    * a constraint those rows violate: a restore to v1 that kept v3's
    * constraint would leave violating rows live under an "always
    * held" rule. Rolling the rules back WITH the rows keeps every
    * version's (entries, constraints) pair internally consistent;
    * re-adding a dropped-by-restore rule is one explicit
    * [[addConstraint]], which then validates as always. */
  def restore(spark: SparkSession, root: String, toVersion: Int): Int = {
    require(versions(spark, root).contains(toVersion),
      s"version $toVersion is not live at $root — restore needs its manifest")
    retrying(spark, root, op = "restore") { _ =>
      val target = manifestFull(spark, root, toVersion)
      Pending(target.entries, schemaOf(spark, root, target),
        target.statsKey, target.statsKey2,
        constraints = Some(target.constraints),
        colmap = Some(target.colmap),
        retired = Some(target.retired))
    }
  }

  /** [[restore]] to the newest version committed at or before `tsMs` —
    * the rollback as operators actually phrase it ("roll back to
    * before the bad deploy at 14:03"), resolved through
    * [[versionAsOf]] (the same commit-instant clock retention keys
    * on). Fails loudly when no version existed at that instant, or
    * when the resolved version has since been expired — a silent
    * nearest-live fallback would misrepresent history. Returns the
    * NEW head version. */
  def restoreAsOf(spark: SparkSession, root: String, tsMs: Long): Int =
    versionAsOf(spark, root, tsMs) match {
      case Some(v) => restore(spark, root, v)
      case None => throw new IllegalArgumentException(
        s"no version of $root was committed at or before $tsMs " +
          s"(live versions: ${versions(spark, root)})")
    }

  /** Resolve a DDL column reference to the canonical path segments of
    * an EXISTING field. A LITERAL top-level column wins over the path
    * interpretation of the same string (a column may legally be named
    * `a.b`; DDL on it keeps working exactly as before nested support),
    * otherwise a dotted name walks struct fields level by level.
    * Refuses unknown segments, paths through non-structs, and paths
    * through array/map elements (mapping entries below those cannot
    * be expressed — rewrite the column to reshape element types). */
  private def resolveDdlPath(sch: org.apache.spark.sql.types.StructType,
      name: String, what: String): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    sch.fields.find(f => norm(f.name) == norm(name)) match {
      case Some(f) => Seq(f.name)
      case None if !name.contains('.') =>
        throw new IllegalArgumentException(
          s"no column '$name' (have ${sch.fieldNames.mkString(", ")})")
      case None =>
        val segs = name.split('.').toSeq
        require(segs.nonEmpty && segs.forall(s => s.nonEmpty && s.trim == s),
          s"$what: invalid column path '$name'")
        val canon = scala.collection.mutable.ArrayBuffer.empty[String]
        var cur: org.apache.spark.sql.types.DataType = sch
        segs.foreach { s =>
          cur match {
            case st: StructType =>
              val f = st.fields.find(x => norm(x.name) == norm(s)).getOrElse(
                throw new IllegalArgumentException(
                  s"$what '$name': no field '$s' under " +
                    s"'${if (canon.isEmpty) "<root>" else canon.mkString(".")}' " +
                    s"(have ${st.fieldNames.mkString(", ")})"))
              canon += f.name; cur = f.dataType
            case _: ArrayType | _: MapType =>
              throw new UnsupportedOperationException(
                s"$what '$name': column-mapping paths through array/map " +
                  "elements are not supported — rewrite the column to " +
                  "reshape element types")
            case other =>
              throw new IllegalArgumentException(
                s"$what '$name': '${canon.mkString(".")}' is " +
                  s"${other.simpleString}, not a struct")
          }
        }
        canon.toSeq
    }
  }

  /** Rebuild `sch` with the struct at `parentSegs` transformed by
    * `f` (identity path = transform the root). */
  private def mapStructAt(sch: org.apache.spark.sql.types.StructType,
      parentSegs: Seq[String])(
      f: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    if (parentSegs.isEmpty) f(sch)
    else StructType(sch.fields.map { fld =>
      if (norm(fld.name) == norm(parentSegs.head))
        fld.copy(dataType = mapStructAt(
          fld.dataType.asInstanceOf[StructType], parentSegs.tail)(f))
      else fld
    })
  }

  /** Re-root every map key / retired path under logical path `from`
    * to live under `to` instead — what keeps DESCENDANT entries
    * correct when an ancestor renames (their physical leaves don't
    * move; their logical paths do). */
  private def rekeyUnder(keys: Iterable[String], from: Seq[String],
      to: Seq[String]): Map[String, String] = {
    val fn = from.map(norm)
    keys.flatMap { k =>
      val segs = k.split(PathSep).toSeq
      if (segs.length > fn.length && segs.take(fn.length).map(norm) == fn)
        Some(k -> pathKey(to ++ segs.drop(fn.length)))
      else None
    }.toMap
  }

  /** Does map/tombstone key `k` name exactly logical path `segs`? */
  private def keyIs(k: String, segs: Seq[String]): Boolean =
    normKey(k) == normKey(pathKey(segs))

  /** RENAME a column or nested struct field — a ZERO-COPY metadata
    * commit (op "rename"): no data file is touched, whatever the
    * table size. Activates column mapping on first use: the manifest
    * records a logical→physical name map (format 9 top-level, format
    * 10 once any NESTED path maps), the schema/stats-keys/constraints
    * stay LOGICAL, and files keep their immutable PHYSICAL names.
    * `from` may be a dotted path into structs (`metadata.filename`);
    * `to` is always the new LEAF name. The STATS KEYS FOLLOW THE
    * RENAME — that is the subtle case: the per-file min/max (and
    * blooms) were measured on the physical column, which the rename
    * does not touch, so under the renamed logical key every pruning
    * path keeps working (readIndexed translates the key to its
    * physical spelling before matching pushed filters). Renaming a
    * struct RE-ROOTS its descendants' map keys and tombstones (their
    * physical leaves don't move; their logical paths do). Time travel
    * shows each version's own names — the pre-rename versions'
    * manifests still carry the old schema. CDC sees nothing (entries
    * unchanged — values did not move). Refused when `to` already
    * exists among the field's siblings (case-insensitive, Spark's
    * resolution) or when a CHECK constraint still references `from`
    * (SQL text can't be rewritten safely; drop and re-add the rule
    * around the rename). Reference analog: metadata-schema
    * replacement while data stands still, chunking_manager.py:170-176
    * — whose ChunkMetadata is itself a struct (chunking_manager.py:82-87),
    * the reason nested paths are first-class here. */
  def renameColumn(spark: SparkSession, root: String, from: String, to: String): Int = {
    require(to.nonEmpty && to.trim == to && !to.contains(PathSep),
      s"invalid column name '$to'")
    require(!to.contains('.'),
      s"RENAME COLUMN target '$to' must be a plain LEAF name — the field " +
        "stays at its path; only its name changes")
    retrying(spark, root, op = "rename") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val sch = schemaOf(spark, root, m)
      val segs = resolveDdlPath(sch, from, "RENAME COLUMN")
      val parent = segs.init
      val siblings =
        if (parent.isEmpty) sch
        else segs.init.foldLeft(sch: org.apache.spark.sql.types.DataType) {
          case (st: org.apache.spark.sql.types.StructType, s) =>
            st.fields.find(f => norm(f.name) == norm(s)).get.dataType
          case (dt, _) => dt
        }.asInstanceOf[org.apache.spark.sql.types.StructType]
      val fld = siblings.fields.find(f => norm(f.name) == norm(segs.last)).get
      require(!siblings.fields.exists(f => norm(f.name) == norm(to)),
        s"column '${(parent :+ to).mkString(".")}' already exists at $root")
      val newSch = mapStructAt(sch, parent)(st =>
        org.apache.spark.sql.types.StructType(st.fields.map(f =>
          if (norm(f.name) == norm(segs.last)) f.copy(name = to) else f)))
      requireConstraintsResolve(spark, newSch, m.constraints,
        s"rename '$from' -> '$to'")
      // activate lazily: identity for every live top-level column
      // (nested fields default to identity by absence), then repoint
      val cm0 = if (m.colmap.isEmpty) sch.fieldNames.map(n => n -> n).toMap
                else m.colmap
      val newSegs = parent :+ to
      val phys = physLeaf(cm0, segs)
      val rk = rekeyUnder(cm0.keys, segs, newSegs)
      val cm = cm0.filterNot { case (l, _) => keyIs(l, segs) || rk.contains(l) } ++
        rk.map { case (old, nk) => nk -> cm0(old) } +
        (pathKey(newSegs) -> phys)
      val k1 = m.statsKey.map(k => if (norm(k) == norm(from)) to else k)
      val k2 = m.statsKey2.map(k => if (norm(k) == norm(from)) to else k)
      // the old PATH is RETIRED (stale producers refuse instead of
      // forking the column); taking a retired path makes it live
      // again, and tombstones under a renamed struct re-root with it
      val rtRk = rekeyUnder(m.retired, segs, newSegs)
      val rt = m.retired.filterNot(r => keyIs(r, newSegs) || rtRk.contains(r)) ++
        rtRk.values + pathKey(segs)
      Pending(m.entries, newSch, k1, k2, colmap = Some(cm), retired = Some(rt))
    }
  }

  /** DROP a column or nested struct field — likewise a ZERO-COPY
    * metadata commit (op "drop"): the physical column stays in
    * existing files (readers simply never select it; the bytes go as
    * rewrites naturally churn the files), and a later ADD of the same
    * logical path gets a MINTED physical name, so the dropped values
    * can never resurrect. `name` may be a dotted path; dropping a
    * struct drops its whole subtree (map entries and tombstones under
    * it go too). Refused for the recorded stats key(s) — re-key
    * explicitly (a compact/append with a new statsKey) before
    * dropping the column the table prunes on — for
    * constraint-referenced columns, for the last column, and for a
    * struct's last field (drop the struct itself instead). */
  def dropColumn(spark: SparkSession, root: String, name: String): Int =
    retrying(spark, root, op = "drop") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val sch = schemaOf(spark, root, m)
      val segs = resolveDdlPath(sch, name, "DROP COLUMN")
      val parent = segs.init
      if (parent.isEmpty)
        require(sch.fields.length > 1, s"cannot drop the last column of $root")
      require(!sameKey(m.statsKey, name) && !sameKey(m.statsKey2, name),
        s"'$name' is a recorded stats key of $root — re-key the table " +
          "(compact/append with a different statsKey) before dropping it")
      require(!m.partitionCols.exists(pc =>
          segs.length == 1 && norm(physFor(m.colmap, segs.head)) == norm(pc)),
        s"'$name' is a declared PARTITION column of $root — the layout " +
          "(directories and every future write) is keyed on it")
      val newSch = mapStructAt(sch, parent) { st =>
        require(st.fields.length > 1,
          s"cannot drop '$name' — the last field of its struct; drop the " +
            s"struct column '${parent.mkString(".")}' instead")
        org.apache.spark.sql.types.StructType(
          st.fields.filterNot(f => norm(f.name) == norm(segs.last)))
      }
      requireConstraintsResolve(spark, newSch, m.constraints, s"drop column '$name'")
      val cm0 = if (m.colmap.isEmpty) sch.fieldNames.map(n => n -> n).toMap
                else m.colmap
      val gone = rekeyUnder(cm0.keys, segs, segs).keySet // descendants
      val cm = cm0.filterNot { case (l, _) => keyIs(l, segs) || gone.contains(l) }
      val rtGone = rekeyUnder(m.retired, segs, segs).keySet
      val rt = m.retired.filterNot(r => keyIs(r, segs) || rtGone.contains(r))
      Pending(m.entries, newSch, m.statsKey, m.statsKey2, colmap = Some(cm),
        retired = Some(rt))
    }

  /** ADD a column or nested struct field — the declarative third of
    * the DDL triad (add/rename/drop), likewise a ZERO-COPY metadata
    * commit (op "addcol"): the new column null-fills in every
    * existing file and starts accepting data on the next write, which
    * is how a pipeline declares a column BEFORE its producer ships
    * (schema-first, instead of the first carrying batch evolving the
    * schema as a side effect). A dotted `name` whose parent resolves
    * to an existing STRUCT column adds a field to that struct (new
    * fields append at the end; old files null-fill them exactly like
    * a new top-level column); a dotted name with no such parent is
    * refused — a top-level column spelled `metadata.filename` would
    * be indistinguishable from a nested path in every later
    * statement. Under an active column mapping the new field gets a
    * MINTED physical name — identical to evolution-by-append, so a
    * previously DROPPED path's values can never resurrect.
    * Refused when the name already exists (case-insensitive). */
  def addColumn(spark: SparkSession, root: String,
      name: String, dataType: org.apache.spark.sql.types.DataType): Int = {
    require(name.nonEmpty && name.trim == name && !name.contains(PathSep),
      s"invalid column name '$name'")
    retrying(spark, root, op = "addcol") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val sch = schemaOf(spark, root, m)
      require(!sch.fields.exists(f => norm(f.name) == norm(name)),
        s"column '$name' already exists at $root")
      val (parent, leaf) =
        if (!name.contains('.')) (Seq.empty[String], name)
        else {
          val segs = name.split('.').toSeq
          val p = resolveDdlPath(sch, segs.init.mkString("."), "ADD COLUMN")
          val pt = p.foldLeft(sch: org.apache.spark.sql.types.DataType) {
            case (st: org.apache.spark.sql.types.StructType, s) =>
              st.fields.find(f => norm(f.name) == norm(s)).get.dataType
            case (dt, _) => dt
          }
          require(pt.isInstanceOf[org.apache.spark.sql.types.StructType],
            s"ADD COLUMN '$name': '${p.mkString(".")}' is " +
              s"${pt.simpleString}, not a struct")
          (p, segs.last)
        }
      require(leaf.nonEmpty && leaf.trim == leaf,
        s"ADD COLUMN: invalid field name '$leaf'")
      val newSch = widened(mapStructAt(sch, parent) { st =>
        require(!st.fields.exists(f => norm(f.name) == norm(leaf)),
          s"column '$name' already exists at $root")
        org.apache.spark.sql.types.StructType(st.fields :+
          org.apache.spark.sql.types.StructField(leaf, dataType, nullable = true))
      })
      val segs = parent :+ leaf
      // the EXPLICIT path re-opens a name a rename retired — that is
      // the deliberate-reintroduction escape hatch the tombstone's
      // writer refusal points at
      val cm =
        if (parent.isEmpty) evolveColmap(m.colmap, newSch)
        else if (m.colmap.isEmpty) m.colmap // inactive: identity, no drop ever happened
        else {
          val avoid = m.colmap.values.toSet ++ m.colmap.keySet ++
            allFieldNames(physSchemaOf(m.colmap, sch))
          m.colmap + (pathKey(segs) -> mintPhysical(avoid))
        }
      Pending(m.entries, newSch, m.statsKey, m.statsKey2,
        colmap = Some(cm),
        retired = Some(m.retired.filterNot(r => keyIs(r, segs))))
    }
  }

  /** WIDEN a column's (or nested field's) type — the fourth zero-copy
    * metadata DDL (op "widen", SQL surface: `ALTER TABLE t ALTER
    * COLUMN c TYPE <wider>`): the schema commit changes only the
    * recorded type, and every existing file upcasts on read exactly
    * like a widened-by-append evolution (parquet INT32 under a LONG
    * read schema). LOSSLESS upcasts only — int→long, float→double,
    * applied recursively through matching struct/array/map shapes —
    * anything lossy or shape-changing refuses loudly, because a silent
    * narrowing cast on a 100 TB table is how data dies. Row-preserving
    * by construction (entries carried verbatim), so CDC and the
    * streaming sources treat a "widen" commit like the rest of the DDL
    * triad: it delivers nothing. */
  def widenColumn(spark: SparkSession, root: String, name: String,
      to: org.apache.spark.sql.types.DataType): Int =
    retrying(spark, root, op = "widen") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val sch = schemaOf(spark, root, m)
      val segs = resolveDdlPath(sch, name, "ALTER COLUMN TYPE")
      val cur = segs.foldLeft(sch: org.apache.spark.sql.types.DataType) {
        case (st: org.apache.spark.sql.types.StructType, s) =>
          st.fields.find(f => norm(f.name) == norm(s)).get.dataType
        case (dt, _) => dt
      }
      val wide = widenType(cur, to, allowWiden = true).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER COLUMN TYPE '$name': ${cur.simpleString} cannot widen to " +
            s"${to.simpleString} — only lossless upcasts (int->bigint, " +
            "float->double, recursively through matching shapes) are allowed"))
      // widenType reconciles to the WIDER side; a request that resolves
      // back to the current type is a narrowing (long->int) in disguise
      require(wide == deepNullable(to),
        s"ALTER COLUMN TYPE '$name': ${to.simpleString} is narrower than the " +
          s"current ${cur.simpleString} — widening is one-way")
      require(wide != deepNullable(cur),
        s"ALTER COLUMN TYPE '$name': column is already ${cur.simpleString}")
      // widening the BUCKET KEY would silently re-type its hash:
      // murmur3(5: int) != murmur3(5L), so files bucketed under the
      // old type would disagree with every post-widen hash — a join
      // or bucket-prune would silently lose rows. Refuse while a
      // declaration or a live layout exists; re-bucket after.
      if (segs.length == 1 && sameKey(m.statsKey, segs.head)) {
        val bucketed = m.buckets.isDefined ||
          new SqlSnapshot(spark, root, latest, m).bucketLayout.isDefined
        require(!bucketed,
          s"ALTER COLUMN TYPE '$name': the column is the BUCKET key of a " +
            "bucketed layout, and widening re-types its hash (old files " +
            "would disagree with every new bucket assignment). Rewrite the " +
            "layout first (compact), widen, then compactBucketed.")
      }
      val newSch = widened(mapStructAt(sch, segs.init)(st =>
        org.apache.spark.sql.types.StructType(st.fields.map(f =>
          if (norm(f.name) == norm(segs.last))
            f.copy(dataType = wide, nullable = true)
          else f))))
      requireConstraintsResolve(spark, newSch, m.constraints,
        s"widen column '$name'")
      Pending(m.entries, newSch, m.statsKey, m.statsKey2)
    }

  /** Every field name at every struct level of `sch` — a mint-time
    * avoid set (global, deliberately over-conservative: physical leaf
    * names only need uniqueness within their parent struct). */
  private def allFieldNames(sch: org.apache.spark.sql.types.StructType): Set[String] = {
    def walk(dt: org.apache.spark.sql.types.DataType): Seq[String] = dt match {
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.toSeq.flatMap(f => f.name +: walk(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => walk(a.elementType)
      case m: org.apache.spark.sql.types.MapType => walk(m.keyType) ++ walk(m.valueType)
      case _ => Seq.empty
    }
    walk(sch).toSet
  }

  /** Every CHECK constraint must still ANALYZE against the schema a
    * rename/drop would leave behind — the safe alternative to
    * rewriting constraint SQL (refuse loudly; the caller drops and
    * re-adds the rule around the DDL). */
  private def requireConstraintsResolve(spark: SparkSession,
      sch: org.apache.spark.sql.types.StructType,
      cs: Seq[(String, String)], what: String): Unit =
    cs.foreach { case (n, sql) =>
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
      try empty.select(org.apache.spark.sql.functions.expr(sql).cast("boolean"))
        .queryExecution.analyzed
      catch { case e: Exception => throw new IllegalArgumentException(
        s"$what refused: CHECK constraint '$n' ($sql) would no longer " +
          s"resolve — drop it first (${e.getMessage})") }
    }

  /** The latest version's logical→physical column map (empty =
    * identity / mapping inactive) — what a locked-schema consumer
    * (the streaming table source) captures alongside the schema so
    * it can read data files, which always spell PHYSICAL names. */
  private[graft] def currentColmap(spark: SparkSession, root: String): Map[String, String] =
    versions(spark, root).lastOption
      .map(v => manifestFull(spark, root, v).colmap).getOrElse(Map.empty)

  /** Version `v`'s logical→physical map (empty = identity). */
  private[graft] def colmapAt(spark: SparkSession, root: String, v: Int): Map[String, String] =
    manifestFull(spark, root, v).colmap

  /** [[physFor]] for cross-package consumers (the streaming source). */
  private[graft] def physNameFor(cm: Map[String, String], logical: String): String =
    physFor(cm, logical)

  /** TOP-LEVEL reverse lookup: the logical column `cm` maps to
    * physical name `phys` — ignoring NESTED entries, whose physical
    * LEAF may legitimately coincide with a top-level physical name
    * (leaves are only unique within their parent struct). */
  private[graft] def logicalTopFor(cm: Map[String, String], phys: String): Option[String] =
    cm.collectFirst { case (l, p) if l.indexOf(PathSep.toInt) < 0 && p == phys => l }

  /** Read raw data `files` under logical `sch` through `colmap` — the
    * streaming source's file-level batch read ([[addedFiles]] feeds
    * it absolute paths; appended files hold exactly the commit's new
    * rows, so no dv handling is needed — appends never carry one). */
  private[graft] def readFilesAs(spark: SparkSession, root: String,
      sch: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String], files: Seq[String]): DataFrame =
    scanFiles(spark, root, sch,
      files.map(p => FileEntry(p.stripPrefix(s"$root/"), None, None)), colmap)

  /** The manifest as a QUERYABLE DataFrame — the `.files` metadata
    * table (Iceberg's `table.files` / Delta's detail at file
    * granularity): one row per live data file of `version` (default
    * latest) with its recorded row count, byte size, primary/secondary
    * key ranges, and deletion-vector state. Everything comes from the
    * manifest the driver already holds — zero data I/O, so operators
    * can answer "which files hold key range X", "where is the dv
    * debt", "what does compaction owe" with plain SQL over this frame
    * instead of bespoke APIs. Columns with no recorded value are null
    * (pre-stats manifests), never zero. */
  def filesDf(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val m = manifestFull(spark, root, version.getOrElse(vs.last))
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("bytes", LongType, nullable = true),
      StructField("min_key", LongType, nullable = true),
      StructField("max_key", LongType, nullable = true),
      StructField("min_key2", LongType, nullable = true),
      StructField("max_key2", LongType, nullable = true),
      StructField("has_string_stats", BooleanType, nullable = false),
      StructField("has_bloom", BooleanType, nullable = false),
      StructField("dv", StringType, nullable = true),
      StructField("dv_rows", LongType, nullable = true),
      // the stats IDENTITY (manifest header, LOGICAL names): which
      // column the min/max ranges were measured on — without it the
      // per-file ranges are numbers with no referent, and answering
      // "keyed on what?" needed a separate describeDetail call
      StructField("stats_key", StringType, nullable = true),
      StructField("stats_key2", StringType, nullable = true)))
    val data = m.entries.map { e =>
      Row(e.path, e.rows.map(Long.box).orNull, e.bytes.map(Long.box).orNull,
        e.minKey.map(Long.box).orNull, e.maxKey.map(Long.box).orNull,
        e.min2.map(Long.box).orNull, e.max2.map(Long.box).orNull,
        Boolean.box(e.minStr.isDefined || e.maxStr.isDefined),
        Boolean.box(e.bloom.isDefined),
        e.dv.orNull, e.dvRows.map(Long.box).orNull,
        m.statsKey.orNull, m.statsKey2.orNull)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(data).asJava), schema)
  }

  /** CHECK constraints — the ingest-time data-quality contract. A
    * constraint is a named boolean SQL expression every INCOMING row
    * must satisfy; a violating append/merge fails loudly and commits
    * nothing, which on a training-data table is the difference between
    * one rejected batch and a poisoned corpus. SQL CHECK semantics:
    * NULL (unknown) passes — reject nulls explicitly with IS NOT NULL.
    * The set is version state (C-lines in every manifest, deltas and
    * shadow checkpoints included), so it survives restarts, time
    * travel shows each version's own rules, and a concurrent writer
    * that loses a race re-reads the fresh set before retrying.
    *
    * [[addConstraint]] refuses if EXISTING live rows violate the new
    * rule (one validation scan) — a constraint is a fact about the
    * whole table from its commit on, never an aspiration. */
  def addConstraint(spark: SparkSession, root: String,
      name: String, exprSql: String): Int = {
    require(name.nonEmpty && exprSql.nonEmpty, "constraint needs a name and an expression")
    retrying(spark, root, op = "constraint") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      require(!m.constraints.exists(_._1 == name),
        s"constraint '$name' already exists at $root")
      val next = m.constraints :+ (name -> exprSql)
      // the new rule must already hold over the live table
      validateConstraints(
        scanEntries(spark, root, latest, m, schemaOf(spark, root, m), m.entries),
        Seq(name -> exprSql))
      Pending(m.entries, schemaOf(spark, root, m), m.statsKey, m.statsKey2,
        constraints = Some(next))
    }
  }

  /** Drop constraint `name` (no-op error if absent): a new commit
    * carrying the same entries under the reduced rule set. */
  def dropConstraint(spark: SparkSession, root: String, name: String): Int =
    retrying(spark, root, op = "constraint") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      require(m.constraints.exists(_._1 == name),
        s"no constraint '$name' at $root (have ${m.constraints.map(_._1).mkString(",")})")
      Pending(m.entries, schemaOf(spark, root, m), m.statsKey, m.statsKey2,
        constraints = Some(m.constraints.filterNot(_._1 == name)))
    }

  /** The latest version's CHECK constraints, in declaration order. */
  def constraints(spark: SparkSession, root: String): Seq[(String, String)] =
    versions(spark, root).lastOption
      .map(v => manifestFull(spark, root, v).constraints).getOrElse(Seq.empty)

  /** PRE-FLIGHT constraint check: per-rule violation counts of `df`
    * against the table's live constraint set, WITHOUT attempting a
    * commit — the dry run a pipeline runs on a candidate batch before
    * deciding to quarantine vs append (enforcement itself stays on
    * the write path). One aggregate job whose width is the rule
    * count; same alignment semantics as enforcement (absent columns
    * null-fill, NULL passes — SQL CHECK). Empty when the table has no
    * constraints. */
  def violations(spark: SparkSession, root: String,
      df: DataFrame): Seq[(String, Long)] = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val m = manifestFull(spark, root, vs.last)
    if (m.constraints.isEmpty) return Seq.empty
    import org.apache.spark.sql.functions.{coalesce => fnCoalesce, expr => fnExpr, lit => fnLit, sum => fnSum, when => fnWhen}
    val aligned = alignTo(df,
      evolveSchema(schemaOf(spark, root, m), df.schema, allowWiden = true))
    val checks = m.constraints.map { case (_, sql) =>
      fnSum(fnWhen(fnCoalesce(fnExpr(sql).cast("boolean"), fnLit(true)), 0L)
        .otherwise(1L))
    }
    val row = aligned.agg(checks.head.as("c0"),
      checks.tail.zipWithIndex.map { case (c, i) => c.as(s"c${i + 1}") }: _*).head()
    m.constraints.zipWithIndex.map { case ((n, _), i) =>
      n -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }
  }

  /** One-pass validation job: per-constraint violation counts over
    * `df`, all in a single aggregate; throws naming every violated
    * constraint. Used where the batch is written BEFORE the commit
    * loop (merge paths) and by [[addConstraint]]'s existing-data scan. */
  private def validateConstraints(df: DataFrame,
      cs: Seq[(String, String)]): Unit = if (cs.nonEmpty) {
    import org.apache.spark.sql.functions.{coalesce => fnCoalesce, expr => fnExpr, lit => fnLit, sum => fnSum, when => fnWhen}
    val checks = cs.flatMap { case (n, sql) =>
      // a constraint whose columns the batch doesn't carry resolves
      // against the ALIGNED frame; callers pass aligned frames, so an
      // analysis failure here is a genuinely broken expression
      Some((n, sql,
        fnSum(fnWhen(fnCoalesce(fnExpr(sql).cast("boolean"), fnLit(true)), 0L)
          .otherwise(1L))))
    }
    val row = df.agg(checks.head._3.as("c0"),
      checks.tail.zipWithIndex.map { case (c, i) => c._3.as(s"c${i + 1}") }: _*).head()
    val bad = checks.zipWithIndex.collect {
      case ((n, sql, _), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"'$n' ($sql): ${row.getLong(i)} row(s)"
    }
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"CHECK constraint violation(s) — nothing committed: ${bad.mkString("; ")}")
  }

  /** Wrap an aligned batch so the WRITE job itself fails on the first
    * violating row — constraint enforcement rides the append's own
    * pass over the data (zero extra jobs on the streaming hot path).
    * The error carries the row as JSON; a failed write's orphan files
    * are ordinary vacuum food, and nothing was committed. */
  private def constrained(df: DataFrame, cs: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce => fnCoalesce, col => fnCol, concat => fnConcat, expr => fnExpr, lit => fnLit, raise_error => fnRaise, struct => fnStruct, to_json => fnToJson, when => fnWhen}
    cs.foldLeft(df) { case (d, (name, sql)) =>
      d.where(fnWhen(fnCoalesce(fnExpr(sql).cast("boolean"), fnLit(true)), fnLit(true))
        .otherwise(fnRaise(fnConcat(
          fnLit(s"CHECK constraint '$name' ($sql) violated by row "),
          fnToJson(fnStruct(d.columns.toSeq.map(fnCol): _*))))))
    }
  }

  /** Read the table at `version` (default: latest). Time travel: any
    * committed version stays readable — its files are immutable, and
    * each version reads with ITS OWN recorded schema (a version
    * committed before a column was added never shows that column;
    * files older than an evolution null-fill the evolved columns). */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame =
    readPruned(spark, root, version, _.entries)

  /** The newest version committed AT OR BEFORE `tsMs` — by the
    * manifest file's own modification time, the same commit instant
    * [[expireOlderThan]] keys on, so retention and resolution agree on
    * what "committed at T" means. None when the table had no committed
    * version yet at that instant (or the versions that existed then
    * have since been expired — an expired manifest is gone, not
    * resolvable). Driver-side metadata only: one FileStatus per live
    * version, no Spark jobs. */
  def versionAsOf(spark: SparkSession, root: String, tsMs: Long): Option[Int] = {
    val f = fs(spark, root)
    versions(spark, root)
      .filter(v => f.getFileStatus(manifestPath(root, v)).getModificationTime <= tsMs)
      .lastOption
  }

  /** TIMESTAMP AS OF time travel: [[read]] at the newest version
    * committed at or before `tsMs` — what an auditor or a CDC consumer
    * actually asks ("the table as of last midnight"), resolved through
    * [[versionAsOf]] and served by the same per-version read path as
    * VERSION AS OF (each version reads with its own recorded schema
    * and dv state). Fails loudly when nothing was committed yet at
    * that instant — silently returning the oldest LIVE version would
    * misrepresent history after retention. */
  def readAsOf(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    versionAsOf(spark, root, tsMs) match {
      case Some(v) => read(spark, root, Some(v))
      case None => throw new IllegalArgumentException(
        s"no version of $root was committed at or before $tsMs " +
          s"(live versions: ${versions(spark, root)})")
    }

  /** [[read]] pruned to the files whose key-stats range intersects
    * `[lo, hi]` — file-level data skipping on the READ path, from the
    * same manifest stats the merge path prunes with (one shared
    * implementation: [[ManifestPruning]]). Pruning applies only when
    * the manifest RECORDS which column its stats were computed for AND
    * (when `key` is given) that column is `key` — otherwise every file
    * is kept: a range attributed to the wrong column would skip files
    * that hold in-range rows, i.e. lose data. Files without stats are
    * conservatively kept. The contract is the same as manifest pruning
    * everywhere: never affects which ROWS exist in the files kept
    * (callers filter rows themselves; this only bounds which files are
    * scanned), so a probe-side join against the pruned frame sees
    * every key in range. An inverted range (lo > hi) is judged file by
    * file like any other: files whose range spans [hi, lo], and files
    * without stats, are kept. */
  def readRange(spark: SparkSession, root: String, lo: Long, hi: Long,
      version: Option[Int] = None, key: Option[String] = None): DataFrame =
    readPruned(spark, root, version, { m =>
      val verified = m.statsKey.isDefined && key.forall(k => sameKey(m.statsKey, k))
      ManifestPruning.partition(m.entries,
        Option.when(verified)(KeyBounds(Some((lo, hi)), None, None)))._1
    })

  /** [[read]] pruned to the files that MAY contain one of `keys` — the
    * point-probe form of [[readRange]], and the right read for a
    * small-key-set lookup over a clustered table (the reference's
    * select/delete-by-filename path is exactly this probe): an IN over
    * two far-apart keys reads two files, not every file between them.
    * Same verification and same conservative contract as readRange;
    * the same point-set decision the merge path prunes with: range
    * stats prune clustered files, blooms the fresh unclustered ones.
    * An EMPTY key set reads nothing (an IN () is false everywhere) and
    * returns an empty frame with the version's schema. */
  def readKeys(spark: SparkSession, root: String, key: String, keys: Array[Long],
      version: Option[Int] = None): DataFrame = {
    val sorted = keys.clone(); java.util.Arrays.sort(sorted)
    readPoints(spark, root, key, version, keys.isEmpty,
      KeyBounds(None, None, None, longPoints = Some(sorted)))
  }

  /** [[readKeys]] for STRING keys (binary manifest stats, unsigned
    * byte order — Spark's own string order). */
  def readKeysStr(spark: SparkSession, root: String, key: String,
      keys: Array[String], version: Option[Int] = None): DataFrame = {
    val bs = keys.map(_.getBytes("UTF-8")); java.util.Arrays.sort(bs, byteOrder)
    readPoints(spark, root, key, version, keys.isEmpty,
      KeyBounds(None, None, None, strPoints = Some(bs)))
  }

  private def readPoints(spark: SparkSession, root: String, key: String,
      version: Option[Int], empty: Boolean, points: KeyBounds): DataFrame =
    readPruned(spark, root, version, { m =>
      if (empty) Seq.empty
      else ManifestPruning.partition(m.entries,
        Option.when(sameKey(m.statsKey, key))(points))._1
    })

  /** The highest `txnBatchId` any live version recorded — the
    * idempotence cursor a transactional streaming SINK reads before
    * writing (see [[graft.streaming.SnapshotTableSink]]): a commit
    * carrying a batch id at or below this one already landed, so a
    * replayed micro-batch is skipped instead of appended twice.
    * Walks versions NEWEST-first and stops at the first marker
    * (maintenance commits between sink appends carry none); bounded by
    * the live version count, driver-side metadata only. */
  def lastTxnBatchId(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).reverse.iterator
      .map(v => manifestFull(spark, root, v).txnBatchId)
      .collectFirst { case Some(t) => t }

  /** The table's CURRENT schema (the latest version's recorded one) —
    * the shape a streaming consumer locks in when it starts following
    * the table. */
  def tableSchema(spark: SparkSession, root: String): org.apache.spark.sql.types.StructType = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    schemaOf(spark, root, manifestFull(spark, root, vs.last))
  }

  /** The files each version in `(fromVersion, toVersion]` ADDED, with
    * its committed op — `(version, op, absolute paths)` — the
    * manifest-only feed a streaming consumer turns into micro-batches
    * (see [[graft.streaming.SnapshotTableSource]]): for `append`/
    * `create` the added files hold exactly the commit's new rows, for
    * `compact` they hold re-laid-out old rows (nothing new), and for
    * `merge`/`rewrite` new and carried rows are mixed — the CALLER
    * decides per op (emit / skip / fail); row-level truth for the
    * mixed ops is [[readChanges]]'s diff. Same retention contract as
    * readChanges: every manifest in the window must still be
    * committed, checked loudly. Driver-side metadata only — no Spark
    * jobs, no data I/O. */
  def addedFiles(spark: SparkSession, root: String, fromVersion: Int,
      toVersion: Int): Seq[(Int, String, Seq[String])] = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    require(vs.contains(toVersion), s"version $toVersion does not exist (have $vs)")
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"fromVersion $fromVersion out of range [0, $toVersion]")
    val needed = (math.max(fromVersion, 1) to toVersion)
    require(needed.forall(vs.contains),
      s"versions ${needed.filterNot(vs.contains).mkString(",")} expired — " +
        "incremental reads need every manifest in the window")
    var prevPaths: Set[String] =
      if (fromVersion == 0) Set.empty
      else manifestFull(spark, root, fromVersion).entries.map(_.path).toSet
    ((fromVersion + 1) to toVersion).map { v =>
      val m = manifestFull(spark, root, v)
      val cur = m.entries.map(_.path)
      val added = cur.filterNot(prevPaths.contains)
      prevPaths = cur.toSet
      (v, m.op, added.map(p => s"$root/$p"))
    }
  }

  /** Per-version DELIVERABLE byte totals in `(fromVersion, toVersion]`
    * — streaming admission control's input (`maxBytesPerTrigger`):
    * the sum of recorded sizes of the files each version ADDED, zero
    * for row-preserving commits (layout, metadata DDL — they deliver
    * nothing). Manifest bytes are EXACT and already on the driver, so
    * byte-based pacing costs no I/O beyond the manifest reads the
    * batch planning pays anyway; a (legacy) entry with no recorded
    * size counts 0 — admitting freely, conservative toward progress.
    * Same retention contract as [[addedFiles]]. */
  private[graft] def addedBytesByVersion(spark: SparkSession, root: String,
      fromVersion: Int, toVersion: Int): Seq[(Int, Long)] = {
    var prevPaths: Set[String] =
      if (fromVersion == 0) Set.empty
      else manifestFull(spark, root, fromVersion).entries.map(_.path).toSet
    ((fromVersion + 1) to toVersion).map { v =>
      val m = manifestFull(spark, root, v)
      val added = m.entries.filterNot(e => prevPaths.contains(e.path))
      prevPaths = m.entries.map(_.path).toSet
      val deliverable = m.op == "append" || m.op == "create"
      (v, if (deliverable) added.map(_.bytes.getOrElse(0L)).sum else 0L)
    }
  }

  /** INCREMENTAL change read (CDC): every row-level change committed
    * in versions `(fromVersion, toVersion]`, as the table's columns
    * plus `_commit_version` (which commit produced the change) and
    * `_change_type` (`insert` | `delete`; an update is its
    * delete+insert pair, the delete carrying the OLD row content).
    * This is what lets a downstream pipeline process only what
    * changed — re-chunk only merged documents, re-embed only new ones
    * — instead of re-reading a 100 TB table per run; `_commit_version`
    * is the resume cursor (reference analog: the skip-if-converted
    * incremental contract, document_processor.py:139-151, lifted from
    * file-modification-time to committed-version granularity).
    *
    * Cost is proportional to the files each commit TOUCHED, never to
    * table size, by classifying each version by its committed op:
    *  - `append`/`create`: the added files ARE the inserts — read
    *    file-level, no diff (appended files hold only new rows);
    *  - `compact`: row-preserving by contract (layout only) — emits
    *    nothing and READS nothing;
    *  - `merge`/`rewrite` (and any unrecognized op, conservatively):
    *    row-level multiset diff of added vs removed files —
    *    `exceptAll` both ways over only the touched files (merge
    *    rewrites only files its keys hit, so the diff is bounded by
    *    the merge's own blast radius). Carried-forward rows net out;
    *    a "rewrite" that re-ingested identical content emits nothing,
    *    which is the honest content-level answer.
    * Every version reads with the TO version's recorded schema:
    * evolution only adds or widens columns, so older files null-fill /
    * upcast exactly as [[read]] does, and both sides of each diff
    * align. Requires every manifest in `[fromVersion, toVersion]` to
    * still be committed — [[expireVersions]] can retire the window
    * (the caller's retention policy must outlive its consumers; same
    * contract as time travel). `fromVersion` 0 yields the create as
    * inserts. */
  def readChanges(spark: SparkSession, root: String, fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val to = toVersion.getOrElse(vs.last)
    require(vs.contains(to), s"version $to does not exist (have $vs)")
    require(fromVersion >= 0 && fromVersion <= to,
      s"fromVersion $fromVersion out of range [0, $to]")
    val needed = (math.max(fromVersion, 1) to to)
    require(needed.forall(vs.contains),
      s"versions ${needed.filterNot(vs.contains).mkString(",")} expired — " +
        "change reads need every manifest in the window (retention must " +
        "outlive consumers)")
    val mTo = manifestFull(spark, root, to)
    val sch = schemaOf(spark, root, mTo)
    def tag(df: DataFrame, v: Int, kind: String): DataFrame =
      df.select(
        org.apache.spark.sql.functions.lit(v).cast("int").as("_commit_version") +:
        org.apache.spark.sql.functions.lit(kind).as("_change_type") +:
        sch.fieldNames.toSeq.map(df(_)): _*)
    // one manifest read per version: thread the previous through
    val frames = Seq.newBuilder[DataFrame]
    var prev: Option[Manifest] =
      if (fromVersion == 0) None else Some(manifestFull(spark, root, fromVersion))
    ((fromVersion + 1) to to).foreach { v =>
      val m = manifestFull(spark, root, v)
      if (m.op != "compact") {
        val prevEntries = prev.map(_.entries).getOrElse(Seq.empty)
        val prevByPath = prevEntries.map(e => e.path -> e).toMap
        val curByPath = m.entries.map(e => e.path -> e).toMap
        // an entry participates in the diff when its FILE was added/
        // removed OR its DELETION VECTOR changed in place (deleteWhere
        // and mergeOnRead mutate dv without touching the file set) —
        // both sides read EFFECTIVE rows (each side under its own dv
        // state), so the dv delta surfaces as row-level deletes and
        // untouched carried rows still net out. Cost stays bounded by
        // the commit's own blast radius: only changed entries read.
        val changedNew = m.entries.filter(e =>
          prevByPath.get(e.path).forall(p => p.dv != e.dv))
        val changedOld = prevEntries.filter(e =>
          curByPath.get(e.path).forall(c => c.dv != e.dv))
        // files of every version read through the TO version's colmap:
        // physical names are immutable from mint to vacuum, so the
        // newest map addresses every older file correctly (columns
        // minted later null-fill in older files, like any evolution)
        val dvOnly = changedNew.nonEmpty &&
          m.entries.map(_.path).toSet == prevEntries.map(_.path).toSet
        if (m.op == "append" || m.op == "create")
          frames += tag(scanEntries(spark, root, to, mTo, sch, changedNew), v, "insert")
        else if (dvOnly) {
          // DV-ONLY commit (deleteWhere, streaming TTL eviction, dv
          // restore): the file SET is unchanged and files are
          // immutable, so the row-level diff is EXACTLY the position
          // delta between the two dv states — read the touched files
          // ONCE and inner-join the (deletion-sized) delta, instead of
          // reading both versions' effective rows and exceptAll-ing
          // full contents (two scans + two content-hash shuffles).
          // Grown positions are deletes; shrunk positions (a restore
          // re-opening rows) are inserts. Content-level netting can't
          // differ from the exceptAll form here: no rows were added,
          // so every position in the delta changes table content.
          val oldPos = dvPositions(spark, root, changedOld)
          val newPos = dvPositions(spark, root, changedNew)
          def posOrEmpty(p: Option[DataFrame]): DataFrame = p.getOrElse(
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), DvSchema))
          val o = posOrEmpty(oldPos).select(col(DvPathCol), col(DvPosCol))
          val n = posOrEmpty(newPos).select(col(DvPathCol), col(DvPosCol))
          val ctCol = "__graft_ct"
          val delta = n.exceptAll(o)
              .withColumn(ctCol, org.apache.spark.sql.functions.lit("delete"))
            .unionAll(o.exceptAll(n)
              .withColumn(ctCol, org.apache.spark.sql.functions.lit("insert")))
          // raw positions: the touched files read WITHOUT their dv —
          // the rows the delta names are exactly the ones one of the two
          // dv states hides
          val raw = withPositions(scanEntries(spark, root, to, mTo, sch,
            changedNew.map(undeleted)))
          val rows = raw.join(delta,
            raw(DvPathCol) === delta(DvPathCol) && raw(DvPosCol) === delta(DvPosCol))
          frames += rows.select(
            org.apache.spark.sql.functions.lit(v).cast("int").as("_commit_version") +:
            col(ctCol).as("_change_type") +:
            sch.fieldNames.toSeq.map(raw(_)): _*)
        } else {
          val a = scanEntries(spark, root, to, mTo, sch, changedNew)
          val r = scanEntries(spark, root, to, mTo, sch, changedOld)
          frames += tag(a.exceptAll(r), v, "insert")
          frames += tag(r.exceptAll(a), v, "delete")
        }
      }
      prev = Some(m)
    }
    val all = frames.result()
    if (all.isEmpty) {
      val outSch = org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false)) ++ sch.fields)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSch)
    } else all.reduce(_ unionAll _)
  }

  /** [[readChanges]] since an INSTANT: every change committed strictly
    * AFTER `tsMs` — the form a scheduled CDC consumer naturally keys on
    * ("what changed since my last run at T"), resolved through
    * [[versionAsOf]]. An instant predating the table yields the full
    * history from the create (version 0 base). The same retention
    * contract as readChanges: the resolved window's manifests must
    * still be live. */
  def readChangesSince(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    readChanges(spark, root, versionAsOf(spark, root, tsMs).getOrElse(0))

  /** Read the table with manifest-stats file skipping integrated into
    * CATALYST: the returned frame is the snapshot scan over every live
    * file, so any filter Catalyst pushes into it on `key`
    * (`.filter($"doc_id" === 5)`, `BETWEEN`, range predicates, and
    * IN-lists/equalities down to the exact POINT SET) prunes files at
    * PLANNING time from the manifest's stats ([[SqlSnapshot.keptFiles]])
    * — no explicit range API, no directory listing, no per-file RPCs
    * (sizes ride the manifest). This is the Spark-idiomatic form of
    * [[readRange]]/[[readKeys]]: the optimizer decides what reaches the
    * scan and the manifest turns those conjuncts into file skips, the
    * same integration point log-structured table formats use. Stats
    * identity is verified: `key` conjuncts prune only if the manifest
    * records `key` as its stats column; conjuncts over the recorded
    * SECONDARY stats column prune independently (two-key conjunctions
    * prune on both ranges). A mismatched `key` degrades to no primary
    * pruning — never to pruning by another column's ranges. Row-level
    * filtering stays with the engine — the scan only bounds which
    * FILES are read, so keeping a file never changes results. */
  def readIndexed(spark: SparkSession, root: String, key: String,
      version: Option[Int] = None): DataFrame =
    readIndexedBy(spark, root, Some(key), version)

  /** [[readIndexed]] without naming a key: format-4 manifests RECORD
    * their stats identity, so the natural read just prunes on whatever
    * the table's own recorded column(s) are — the reader shouldn't
    * have to know how the table was keyed. Pre-format-4 tables (no
    * recorded identity) read unpruned. */
  def readIndexed(spark: SparkSession, root: String): DataFrame =
    readIndexedBy(spark, root, None, None)

  private def readIndexedBy(spark: SparkSession, root: String, key: Option[String],
      version: Option[Int]): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v does not exist (have $vs)")
    val m = manifestFull(spark, root, v)
    // stats identity: the primary prunes only under its recorded name;
    // the secondary always prunes under its own recorded name (it is
    // self-attributed — independent of what the caller asked for)
    val primary = m.statsKey.filter(r => key.forall(k => sameKey(Some(r), k)))
    frameOf(spark, new SqlSnapshot(spark, root, v, m, primary))
  }

  /** Deleted-position sidecar schema: the target data file's
    * MANIFEST-relative path + the deleted row's position within it
    * (its parquet row ordinal — the scan's `_graft_row`, stable
    * because data files are immutable). One sidecar DIRECTORY per
    * committing delete/merge, holding the full effective position set
    * for every file that commit touched; untouched entries keep
    * pointing at their older sidecars. Positions for files later
    * REWRITTEN stay in the sidecar harmlessly: rewrites mint fresh
    * uuid paths, so a stale (path, pos) can never match a live row. */
  private[graft] val DvPathCol = "__graft_dv_path"
  private[graft] val DvPosCol = "__graft_dv_pos"

  /** The recorded deleted positions of `entries` (those carrying a dv
    * reference), as a (path, pos) frame — None when none carry one.
    * Each sidecar dir is read filtered to the files whose entry IN
    * `entries` actually points at it: a sidecar holds positions for
    * every file its commit touched, and a file later re-touched
    * repoints to a newer dir that SUPERSETS its old positions — so
    * reading dirs unfiltered would return those positions twice. For
    * a count that is corruption (dvRows inflated until "fully
    * deleted" fires on a file with live rows — silent data loss).
    * Filtering by the pointing entries makes the union duplicate-free
    * by construction. */
  private def dvPositions(spark: SparkSession, root: String,
      entries: Seq[FileEntry]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    // manifest order, deterministic — keeps read plans fingerprint-stable
    val dirs = entries.flatMap(_.dv).distinct
    if (dirs.isEmpty) None
    else Some(dirs.map { d =>
      val pointing = entries.collect { case e if e.dv.contains(d) => e.path }
      spark.read.schema(DvSchema).parquet(s"$root/$d")
        .filter(col(DvPathCol).isInCollection(pointing))
    }.reduce(_ unionAll _))
  }

  // sidecar shape is fixed by the writer — an explicit schema skips a
  // plan-time footer inference per dir
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(DvPathCol, org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(DvPosCol, org.apache.spark.sql.types.LongType)))

  /** THE read of table data files: a frame planned by the snapshot
    * scan ([[graft.catalog.GraftScan]]) over exactly `entries`, under
    * `sch` and `m`'s column map, stats keys and layout — every
    * programmatic read and every rewrite that reads the current
    * snapshot goes through it. File statuses come from the manifest
    * (no file-system calls); deletion vectors apply at the reader,
    * and an entry passed without its dv reference reads every row it
    * holds (the raw positions a dv rewrite needs). The scan's
    * `_graft_file`/`_graft_row` metadata columns name each row's
    * (file, ordinal). An empty list reads as an empty frame. */
  private def scanEntries(spark: SparkSession, root: String, version: Int, m: Manifest,
      sch: org.apache.spark.sql.types.StructType, entries: Seq[FileEntry]): DataFrame =
    frameOf(spark, new SqlSnapshot(spark, root, version,
      m.copy(schema = Some(sch), entries = entries)))

  /** [[scanEntries]] for files no manifest lists yet (a batch written
    * ahead of its commit): no stats identity, no layout. */
  private def scanFiles(spark: SparkSession, root: String,
      sch: org.apache.spark.sql.types.StructType, entries: Seq[FileEntry],
      colmap: Map[String, String]): DataFrame =
    scanEntries(spark, root, -1,
      Manifest("write", None, Seq.empty, None, None, colmap = colmap), sch, entries)

  private def frameOf(spark: SparkSession, snap: SqlSnapshot): DataFrame =
    if (snap.dataFiles.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), snap.schema)
    else graft.catalog.GraftReadTable.frame(spark, snap)

  /** `df` with each row's (file, ordinal) appended as [[DvPathCol]] and
    * [[DvPosCol]] — `df` must be a [[scanEntries]] frame. */
  private def withPositions(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(col("*"), col(graft.catalog.GraftFileColumn.Name).as(DvPathCol),
      col(graft.catalog.GraftRowColumn.Name).as(DvPosCol))
  }

  /** `e` without its deletion vector: read, it yields every row the
    * file holds, at its raw position. */
  private def undeleted(e: FileEntry): FileEntry = e.copy(dv = None, dvRows = None)

  private object NothingToDelete extends Exception

  /** Merge-on-read DELETE: commit a new version in which every row
    * matching `pred` is marked deleted — NO data file is rewritten.
    * The commit writes one position sidecar (the (file, row-ordinal)
    * pairs the predicate matched, unioned with each touched file's
    * previously-recorded positions so a file always has exactly ONE
    * live sidecar reference) and a manifest whose touched entries
    * point at it; every reader drops those positions as it reads the
    * file (the scan's dv reader). This is
    * the delete shape a 100 TB table needs for small-to-medium
    * predicates: [[retainWhere]] rewrites the WHOLE table to drop a
    * row; this writes bytes proportional to the rows DELETED. The
    * trade is read-side work (a row-based, position-filtered read of
    * each dv file) that accrues until a
    * rewrite materializes it — [[describeDetail]] reports the
    * accumulated dv debt so a maintenance scheduler knows when to
    * [[compact]] (which reads effective rows and emits dv-free files,
    * exactly like Delta's purge-on-rewrite).
    *
    * A file whose every row is deleted DROPS out of the manifest
    * entirely (no empty-file scans). Returns None — committing
    * nothing — when the predicate matches no live row: a scheduled
    * re-delete is a no-op, not version churn. The predicate is
    * evaluated over the CURRENT snapshot inside the optimistic-commit
    * loop, so a lost race re-evaluates against the winner's rows.
    * Historical versions keep their own dv references — time travel
    * shows pre-delete rows until the sidecars are vacuumed. Commits
    * op "delete": row-changing, so [[readChanges]] emits the deleted
    * rows and the streaming source refuses to silently skip it. */
  def deleteWhere(spark: SparkSession, root: String,
      pred: org.apache.spark.sql.Column): Option[Int] = {
    import org.apache.spark.sql.functions.col
    try Some(retrying(spark, root, op = "delete") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val sch = schemaOf(spark, root, m)
      if (m.entries.isEmpty) throw NothingToDelete // nothing lives here
      // ---- WHOLE-PARTITION fast path (the TTL-eviction shape) ----
      // When every column `pred` references is partition-path-spelled
      // by every live file, the files classify by their OWN tuples:
      // fully-matching files DROP from the manifest (a pure-metadata
      // "delete" commit — zero data I/O, zero dv debt; expiring a day
      // of a date-partitioned corpus is one manifest write), the rest
      // carry verbatim. Any unclassifiable file (layout-agnostic path,
      // unresolvable/mixed-column predicate, eval error) falls through
      // to the row-level dv scan below — conservative, never both.
      wholePartitionDelete(spark, m, sch, pred) match {
        case Some(kept) =>
          if (kept.size == m.entries.size) throw NothingToDelete
          Pending(kept, sch, m.statsKey, m.statsKey2)
        case None => rowLevelDelete(spark, root, latest, m, sch, pred)
      }
    })
    catch { case NothingToDelete => None }
  }

  /** The classified file list for a whole-partition DELETE: Some(kept
    * entries) when EVERY live file's own path tuple decides `pred`
    * (true → dropped, false → kept); None when any file — or the
    * predicate — is undecidable by partition values alone. */
  private def wholePartitionDelete(spark: SparkSession, m: Manifest,
      sch: org.apache.spark.sql.types.StructType,
      pred: org.apache.spark.sql.Column): Option[Seq[FileEntry]] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    // resolve the Column against the table's LOGICAL schema (a Column
    // is a ColumnNode tree, not catalyst — the analyzer is the one
    // sound resolver), then rewrite references to PHYSICAL names
    // (paths spell physical names); any shape that doesn't resolve
    // cleanly declines the fast path
    val resolved: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      try {
        val empty = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
        empty.filter(pred).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition.transform {
              case a: AttributeReference =>
                sch.fields.find(f => norm(f.name) == norm(a.name))
                  .map(f => AttributeReference(
                    physFor(m.colmap, f.name), f.dataType)())
                  .getOrElse(a)
            }
        }.filter(_.references.nonEmpty)
      } catch { case _: Exception => None }
    resolved.flatMap { pe =>
      val refs = pe.references.toSeq.map(a => norm(a.name))
      val types = prunePartTypesOf(m, sch).filter { case (k, _) => refs.contains(k) }
      if (!refs.forall(types.contains)) None
      else {
        val classes = m.entries.map(e => partitionMatches(e, Seq(pe), types))
        if (classes.contains(None)) None
        else Some(m.entries.zip(classes).collect { case (e, Some(false)) => e })
      }
    }
  }

  /** The row-level (deletion-vector) DELETE — [[deleteWhere]]'s body
    * when the whole-partition fast path declines. */
  private def rowLevelDelete(spark: SparkSession, root: String, version: Int, m: Manifest,
      sch: org.apache.spark.sql.types.StructType,
      pred: org.apache.spark.sql.Column): Pending = {
    import org.apache.spark.sql.functions.col
    {
      // scan positions ride the predicate scan; already-deleted rows
      // are dropped at the reader, so re-deleting is detectably a
      // no-op. Conjuncts of `pred` that bound the table's recorded
      // stats column(s) reach the scan and prune FILES at planning time
      // — a point delete on a clustered 100 TB table scans the one file
      // its key lands in, not the table, and a point DELETE on a
      // bucketed table scans one bucket (conservative exactly like
      // every read: unbounded predicates keep every file, kept files
      // still row-filter)
      val live = withPositions(scanEntries(spark, root, version, m, sch, m.entries))
      // persisted: the predicate scan runs ONCE — the per-file counts
      // and the sidecar write both reuse it (at 100 TB the scan is the
      // whole cost of a predicate delete; paying it twice is a bug)
      val newDel = live.filter(pred).select(col(DvPathCol), col(DvPosCol)).persist()
      try {
        // per-file deleted counts: bounded by the manifest's file
        // count, which is already driver-resident — not a data collect
        val newCounts = newDel.groupBy(DvPathCol).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        if (newCounts.isEmpty) throw NothingToDelete
        val touched = m.entries.filter(e => newCounts.contains(e.path))
        // one live sidecar per file: fold the touched files' previous
        // positions into the new sidecar so their entries can repoint.
        // dvPositions reads each dir filtered to its OWN pointing
        // entries (no cross-generation duplicates), and the delete
        // scan dropped already-deleted rows, so old ∪ new is disjoint
        // — no distinct needed
        val oldPos = dvPositions(spark, root, touched)
        val all = oldPos.map(_.unionAll(newDel)).getOrElse(newDel)
        val dvDir = s"deletes/batch-${java.util.UUID.randomUUID().toString.take(8)}"
        all.write.parquet(s"$root/$dvDir")
        // effective counts by ARITHMETIC, not by re-reading the sidecar
        // just written: old ∪ new is disjoint (the scan dropped
        // already-deleted rows) and every touched entry's old count
        // is already manifest-resident (dvRows), so eff = old + new —
        // two fewer Spark actions on every predicate delete. A legacy
        // entry carrying a dv reference without its count falls back to
        // the sidecar re-read (correct, one extra tiny read).
        val effCounts: Map[String, Long] =
          if (touched.forall(e => e.dv.isEmpty || e.dvRows.isDefined))
            touched.map(e =>
              e.path -> (newCounts(e.path) + e.dvRows.getOrElse(0L))).toMap
          else spark.read.parquet(s"$root/$dvDir")
            .groupBy(DvPathCol).count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        val files = m.entries.flatMap { e =>
          effCounts.get(e.path) match {
            case None => Seq(e) // untouched: keeps its old dv reference
            case Some(n) if e.rows.contains(n) => Seq.empty // fully deleted
            case Some(n) => Seq(e.copy(dv = Some(dvDir), dvRows = Some(n)))
          }
        }
        Pending(files, sch, m.statsKey, m.statsKey2)
      } finally newDel.unpersist()
    }
  }

  /** Merge-on-read MERGE: the same delete-then-add-by-key contract as
    * [[merge]], but the delete half is DELETION VECTORS instead of a
    * survivor rewrite — touched files stay in place with their
    * matching rows marked deleted, and only the update batch is
    * written. Copy-on-write [[merge]] writes (touched bytes + update
    * bytes); this writes (positions + update bytes) — at 100 TB, an
    * upsert of one document stops re-writing the multi-GB files it
    * lands in. Same stats-identity discipline, same key-pruned
    * touched-file selection through [[ManifestPruning]], same
    * optimistic-commit loop; the accumulated dv debt is later
    * materialized by any rewrite of the file (compact / copy-on-write
    * merge / retainWhere). Commits op "merge" — [[readChanges]]' diff
    * is dv-aware, so CDC sees exactly the delete+insert pairs. */
  def mergeOnRead(spark: SparkSession, root: String, updates: DataFrame, key: String,
      maxPruneKeys: Int = 100000, allowWiden: Boolean = false,
      statsKey2: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.col
    val mAtStart = versions(spark, root).lastOption.map(v =>
      manifestFull(spark, root, v))
    val key2AtStart = statsKey2.orElse(mAtStart.flatMap(_.statsKey2))
    // same write-ahead column-map capture as copy-on-write merge
    val cmAtStart = evolveColmap(
      mAtStart.map(_.colmap).getOrElse(Map.empty), updates.schema)
    // unlike copy-on-write merge, `updates` is evaluated twice here, by
    // two overlapped jobs: this path's traffic is small local-relation
    // upserts, where re-evaluation is free and reading the written
    // files back would serialize the two jobs (measured: serve's upsert
    // median 1006 → 1249 ms on a 4-vCPU box)
    val (updateFiles, (updateKeys, updateStrKeys)) =
      graft.Concurrency.overlap(
        writeDataFiles(spark, root, updates, Some(key), key2AtStart,
          colmap = cmAtStart),
        pruneKeySets(updates, key, maxPruneKeys))
    retrying(spark, root, op = "merge") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val tableSchema = schemaOf(spark, root, m)
      requireNoRetired(m, tableSchema, updates.schema)
      val evolved = evolveSchema(tableSchema, updates.schema, allowWiden)
      val effCm = reconcileColmap(m.colmap, cmAtStart, evolved)
      // same enforcement as copy-on-write merge: batch written before
      // the loop, so constraints pay one explicit validation job
      validateConstraints(alignTo(updates, evolved), m.constraints)
      val (_, effKey2, fixCarried) = resolveStatsKeys(m, Some(key), statsKey2)
      val (touched, untouched) = touchedSplit(m, key, updateKeys, updateStrKeys)
      val touchedOut =
        if (touched.isEmpty) Seq.empty[FileEntry]
        else {
          // raw positions: touched files read WITHOUT their dv, so a
          // key deleted earlier and matched again lands in both sides
          val raw = withPositions(scanEntries(spark, root, latest, m, tableSchema,
            touched.map(undeleted)))
          // rows whose key the update batch carries → newly deleted
          // positions; a bounded key set broadcasts (map-side semi)
          val keyFrame = updates.select(updates(key).as("__mk")).distinct()
          val bounded = updateKeys.isDefined || updateStrKeys.isDefined
          // distinct: a key both previously-deleted AND matched again
          // lands once; persisted so the touched-file scan runs once
          // for the emptiness check and the sidecar write alike
          val hit = raw.join(
              if (bounded) org.apache.spark.sql.functions.broadcast(keyFrame) else keyFrame,
              raw(key) === col("__mk"), "left_semi")
            .select(col(DvPathCol), col(DvPosCol))
          val oldPos = dvPositions(spark, root, touched)
          val all = oldPos.map(_.unionAll(hit)).getOrElse(hit).distinct().persist()
          try {
            val effCounts = all.groupBy(DvPathCol).count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            if (effCounts.isEmpty) touched // pruning kept them; no key hit
            else {
              val dvDir = s"deletes/batch-${java.util.UUID.randomUUID().toString.take(8)}"
              all.write.parquet(s"$root/$dvDir")
              touched.flatMap { e =>
                effCounts.get(e.path) match {
                  case None => Seq(e) // kept by pruning, no key actually hit
                  case Some(n) if e.rows.contains(n) => Seq.empty // fully deleted
                  case Some(n) => Seq(e.copy(dv = Some(dvDir), dvRows = Some(n)))
                }
              }
            }
          } finally all.unpersist()
        }
      Pending(fixCarried(untouched) ++ touchedOut ++
        reconcileUpdateStats(updateFiles, key2AtStart, effKey2),
        evolved, Some(key), effKey2,
        colmap = if (effCm.isEmpty) None else Some(effCm))
    }
  }

  /** Merge's `(touched, untouched)` split of `m`'s entries by the
    * update batch's sorted key set ([[pruneKeySets]]): pruned only
    * with stats measured on `key` (stats identity); no key set (too
    * many keys, or an unprunable key type) touches every file. */
  private[sources] def touchedSplit(m: Manifest, key: String, longs: Option[Array[Long]],
      strs: Option[Array[Array[Byte]]]): (Seq[FileEntry], Seq[FileEntry]) =
    ManifestPruning.partition(m.entries,
      if (!sameKey(m.statsKey, key)) None
      else longs.map(ks => KeyBounds(None, None, None, longPoints = Some(ks)))
        .orElse(strs.map(ks => KeyBounds(None, None, None, strPoints = Some(ks)))))

  /** The update batch's distinct keys for touched-file pruning —
    * integral or string, capped at `maxPruneKeys` (beyond the cap the
    * caller rewrites/marks every file rather than collecting a
    * table-sized key set onto the driver). Shared by [[merge]] and
    * [[mergeOnRead]]. */
  private def pruneKeySets(updates: DataFrame, key: String, maxPruneKeys: Int):
      (Option[Array[Long]], Option[Array[Array[Byte]]]) = {
    val keyDt =
      try Some(updates.select(updates(key)).schema.head.dataType)
      catch { case _: Exception => None }
    val longs: Option[Array[Long]] = keyDt match {
      case Some(org.apache.spark.sql.types.LongType) |
           Some(org.apache.spark.sql.types.IntegerType) =>
        val ks = updates.select(updates(key).cast("long").as("__k"))
          .na.drop().distinct()
          .limit(maxPruneKeys + 1)
          .collect().map(_.getLong(0))
        if (ks.length > maxPruneKeys) None
        else { java.util.Arrays.sort(ks); Some(ks) }
      case _ => None
    }
    val strs: Option[Array[Array[Byte]]] = keyDt match {
      case Some(org.apache.spark.sql.types.StringType) =>
        val ks = updates.select(updates(key).as("__k"))
          .na.drop().distinct()
          .limit(maxPruneKeys + 1)
          .collect().map(_.getString(0).getBytes("UTF-8"))
        if (ks.length > maxPruneKeys) None
        else { java.util.Arrays.sort(ks, byteOrder); Some(ks) }
      case _ => None
    }
    (longs, strs)
  }

  // ------------------------------------------------------------------
  // The snapshot scan's seams (graft.catalog) — the narrow, read-mostly
  // surface every read plans against. Everything here is metadata
  // already in the manifest.
  // ------------------------------------------------------------------

  /** A data file of one snapshot version as the scan sees it:
    * manifest-relative path, recorded size, recorded row count, and
    * the sidecar directory of its deletion vector, if any (the reader
    * must position-filter its rows). */
  private[graft] final case class SqlDataFile(relPath: String, bytes: Long,
      rows: Option[Long], dv: Option[String]) {
    def hasDv: Boolean = dv.isDefined
  }

  /** One resolved entry list for the scan: a committed version (the
    * catalog's tables) or any entry list read under a schema and
    * column map ([[scanEntries]]). Schema (its own recorded one — time
    * travel reads old shapes), column map, stats identity, and
    * manifest-pruned file listing. `pruneKey` is the primary stats
    * key pushed filters may prune on (the recorded one unless a read
    * named another column). Driver-side metadata only; no Spark jobs. */
  private[graft] final class SqlSnapshot(spark: SparkSession, val root: String,
      val version: Int, m: Manifest, pruneKey: Option[String]) {
    def this(spark: SparkSession, root: String, version: Int, m: Manifest) =
      this(spark, root, version, m, m.statsKey)
    val schema: org.apache.spark.sql.types.StructType = schemaOf(spark, root, m)
    /** Files spell PHYSICAL names; the scan reads physical, aliases
      * logical through the column map. */
    val physSchema: org.apache.spark.sql.types.StructType = physSchemaOf(m.colmap, schema)
    def physName(logical: String): String = physFor(m.colmap, logical)

    /** The physical twin of a (possibly nested-PRUNED) sub-schema —
      * translation keys off field paths, which pruning preserves. */
    def physSchemaFor(sub: org.apache.spark.sql.types.StructType):
        org.apache.spark.sql.types.StructType = physSchemaOf(m.colmap, sub)

    /** Physical spelling of a pushed-filter attribute reference: a
      * literal top-level column translates whole; a dotted reference
      * walks struct fields, translating every segment (an ancestor
      * struct may be renamed independently of its leaf). None when
      * the reference doesn't resolve — the caller DROPS the filter
      * from parquet pushdown rather than guessing: an untranslated
      * name could accidentally address a DROPPED column's buried
      * bytes in old files (e.g. drop struct `meta`, rename another
      * struct to `meta` — a pushed `meta.x` filter must follow the
      * RENAME, never the corpse). */
    def physNameOpt(ref: String): Option[String] = {
      if (ref.contains('`')) return None // quoted V1 shapes: decline
      schema.fields.find(f => norm(f.name) == norm(ref)) match {
        case Some(f) => Some(physFor(m.colmap, f.name))
        case None if !ref.contains('.') => None
        case None =>
          val segs = ref.split('.').toSeq
          var cur: org.apache.spark.sql.types.DataType = schema
          val canon = scala.collection.mutable.ArrayBuffer.empty[String]
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          segs.foreach { s =>
            cur match {
              case st: org.apache.spark.sql.types.StructType =>
                st.fields.find(x => norm(x.name) == norm(s)) match {
                  case Some(f) =>
                    canon += f.name
                    out += physLeaf(m.colmap, canon.toSeq)
                    cur = f.dataType
                  case None => return None
                }
              case _ => return None
            }
          }
          Some(out.mkString("."))
      }
    }
    def statsKey: Option[String] = m.statsKey
    def statsKey2: Option[String] = m.statsKey2
    def declaredBuckets: Option[Int] = m.buckets
    def declaredZorder: Boolean = m.zorder
    def constraints: Seq[(String, String)] = m.constraints
    def sizeInBytes: Long = m.entries.flatMap(_.bytes).sum
    def rowCount: Option[Long] = {
      val rs = m.entries.map(e => e.rows.map(r => r - e.dvRows.getOrElse(0L)))
      if (rs.forall(_.isDefined)) Some(rs.flatten.sum) else None
    }

    // ---- manifest-answered aggregates (SupportsPushDownAggregates) ----
    // All three return None whenever the manifest cannot answer
    // EXACTLY; the caller then falls through to a real scan — never a
    // wrong answer. The common refusal is dv debt: a deletion vector
    // hides rows the recorded per-file facts still count (and the
    // recorded bounds may no longer be ATTAINED by any live row), so
    // metadata answers require zero dv across the snapshot. Reference
    // analog: get_n_documents_in_vectorstore
    // (/root/reference/src/managers/index_manager.py:300-302) — a pure
    // metadata count, generalized to MIN/MAX over the stats keys.

    /** EXACT live row count: every entry records its rows, and every
      * dv-carrying entry records its deletion count (dvRows is
      * measured from the sidecar's effective position set at commit —
      * exact, and a fully-deleted file drops from the manifest
      * entirely), so COUNT(*) stays a metadata answer THROUGH
      * deleteWhere debt: Σ rows − Σ dvRows. Only a legacy pre-dvRows
      * line refuses. MIN/MAX are different — a deletion may have held
      * the attained extreme, so [[exactLongBounds]] refuses under any
      * dv. */
    def exactRows: Option[Long] =
      if (m.entries.exists(e =>
          e.rows.isEmpty || (e.dv.isDefined && e.dvRows.isEmpty))) None
      else Some(m.entries.flatMap(_.rows).sum - m.entries.flatMap(_.dvRows).sum)

    /** Which stats slot `logical` names: Some(false)=primary,
      * Some(true)=secondary, None=not a recorded stats key (its
      * entries carry no verified bounds for this column). */
    private def keySlot(logical: String): Option[Boolean] =
      if (m.statsKey.exists(k => norm(k) == norm(logical))) Some(false)
      else if (m.statsKey2.exists(k => norm(k) == norm(logical))) Some(true)
      else None

    /** EXACT attained (min, max) of an integral stats-key column:
      * every entry carries both bounds (measured at write over the
      * file's actual rows — attained, not estimated), zero dv debt. */
    def exactLongBounds(logical: String): Option[(Long, Long)] =
      keySlot(logical).flatMap { sec =>
        if (m.entries.isEmpty || m.entries.exists(_.dv.isDefined)) None
        else {
          val bs = m.entries.map(e =>
            if (sec) e.min2.zip(e.max2) else e.minKey.zip(e.maxKey))
          if (bs.exists(_.isEmpty)) None
          else Some((bs.flatten.map(_._1).min, bs.flatten.map(_._2).max))
        }
      }

    /** The snapshot's BUCKET layout, iff it has one: `Some((buckets,
      * relPath -> bucketId))` when a stats key is recorded and EVERY
      * live entry's path parses the bucketed naming ([[BucketPathRe]])
      * with one consistent count and in-range ids. Any plain append or
      * partial rewrite after a [[compactBucketed]] fails the
      * every-entry test and the claim dissolves — the scan stops
      * reporting `KeyGroupedPartitioning` (a join falls back to
      * shuffling; never wrong) until the next bucketed compact. */
    def bucketLayout: Option[(Int, Map[String, Int])] =
      bucketLayoutOf(m.entries, m.statsKey)

    /** String twin of [[exactLongBounds]] (bounds in unsigned byte
      * order — Spark's own string order). Values are the full strings:
      * the write loop measures them untruncated; only entries written
      * by the older footer-reading writer rest on parquet's chunk
      * statistics being untruncated (the default config). */
    def exactStringBounds(logical: String): Option[(Array[Byte], Array[Byte])] =
      keySlot(logical).flatMap { sec =>
        if (m.entries.isEmpty || m.entries.exists(_.dv.isDefined)) None
        else {
          val bs = m.entries.map(e =>
            if (sec) e.min2Str.zip(e.max2Str) else e.minStr.zip(e.maxStr))
          if (bs.exists(_.isEmpty)) None
          else {
            val cmp = (a: Array[Byte], b: Array[Byte]) =>
              java.util.Arrays.compareUnsigned(a, b)
            Some((bs.flatten.map(_._1).reduce((a, b) => if (cmp(a, b) <= 0) a else b),
              bs.flatten.map(_._2).reduce((a, b) => if (cmp(a, b) >= 0) a else b)))
          }
        }
      }

    /** Every file of the entry list. */
    lazy val dataFiles: Seq[SqlDataFile] = {
      lazy val f = fs(spark, root)
      m.entries.map { e =>
        val len = e.bytes.getOrElse(f.getFileStatus(new Path(root, e.path)).getLen)
        SqlDataFile(e.path, len, e.rows, e.dv)
      }
    }

    /** The files kept under `dataFilters` (catalyst conjuncts over
      * PHYSICAL attribute names), by [[ManifestPruning]]'s decision. */
    def keptFiles(dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
        Seq[SqlDataFile] = {
      val byPath = dataFiles.map(f => f.relPath -> f).toMap
      pruneScope(m, schema, pruneKey).kept(dataFilters).map(e => byPath(e.path))
    }

    /** What makes two reads the same read: the files and their dv
      * state, the schema, the column map and the prune key. */
    lazy val readKey: (String, Int, Seq[(String, Option[String])],
        org.apache.spark.sql.types.StructType, Map[String, String], Option[String]) =
      (root, version, m.entries.map(e => (e.path, e.dv)), schema, m.colmap, pruneKey)

    /** Declared partition columns (physical names; empty = none). */
    def partitionCols: Seq[String] = m.partitionCols

    /** Logical spelling of the declared partition columns (what the
      * catalog reports and runtime filters resolve against). */
    def partitionColsLogical: Seq[String] =
      m.partitionCols.flatMap(pc => schema.fields.find(f =>
        norm(physFor(m.colmap, f.name)) == norm(pc)).map(_.name))

    /** Partition-column types keyed by normalized physical name. */
    def partitionTypes: Map[String, org.apache.spark.sql.types.DataType] =
      partTypesOf(m, schema)
  }

  /** [[SqlSnapshot.bucketLayout]]'s static form — shared with
    * [[pruneScope]]. */
  private[sources] def bucketLayoutOf(entries: Seq[FileEntry],
      statsKey: Option[String]): Option[(Int, Map[String, Int])] =
    if (entries.isEmpty || statsKey.isEmpty) None
    else {
      val parsed = entries.map(e => e.path match {
        case BucketPathRe(n, b) => Some((e.path, n.toInt, b.toInt))
        case _ => None
      })
      if (parsed.exists(_.isEmpty)) None
      else {
        val ps = parsed.flatten
        val ns = ps.map(_._2).distinct
        if (ns.length != 1 || ps.exists(_._3 >= ns.head)) None
        else Some((ns.head, ps.map(p => p._1 -> p._3).toMap))
      }
    }

  /** `m`'s filter-driven pruning scope, read with `sch`: the verified
    * stats keys as pushed filters spell them (physical), the bucket
    * context and the prunable partition types. `primary` is the
    * recorded stats key when the read may prune on it. Buckets are
    * keyed on that key, so they need it, a live layout
    * ([[bucketLayoutOf]]) and a hashable LOGICAL key type (renames
    * never change it). */
  private def pruneScope(m: Manifest, sch: org.apache.spark.sql.types.StructType,
      primary: Option[String]): ManifestPruning.Scope = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val buckets = primary.flatMap(k => bucketLayoutOf(m.entries, m.statsKey).flatMap {
      case (n, byPath) =>
        sch.fields.find(f => norm(f.name) == norm(k)).map(_.dataType).collect {
          case dt @ (IntegerType | LongType | StringType) => (n, byPath, dt)
        }
    })
    ManifestPruning.Scope(m.entries, primary.map(physFor(m.colmap, _)),
      m.statsKey2.map(physFor(m.colmap, _)), buckets, prunePartTypesOf(m, sch))
  }

  /** The writer's bucket assignment for one literal (catalyst value),
    * hashed TYPED like the column ([[graft.catalog.GraftBucketOf]]).
    * Driver-side, used by bucket pruning. */
  private[sources] def bucketOfValue(value: Any,
    dt: org.apache.spark.sql.types.DataType, n: Int): Int =
    new graft.catalog.GraftBucketOf(0, dt)(
      org.apache.spark.sql.catalyst.InternalRow(value), n)

  /** Resolve `version` (default latest) for the DSv2 planner. */
  private[graft] def sqlSnapshot(spark: SparkSession, root: String,
      version: Option[Int] = None): SqlSnapshot = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v does not exist (have $vs)")
    new SqlSnapshot(spark, root, v, manifestFull(spark, root, v))
  }

  /** INSERT OVERWRITE: one commit whose entries are exactly the new
    * batch's files — the whole previous snapshot is dropped (still
    * time-travelable until expiry). Op "rewrite": data-changing, so CDC
    * and the streaming source treat it honestly. */
  private[graft] def sqlOverwrite(spark: SparkSession, root: String,
      df: DataFrame): Int =
    retrying(spark, root, op = "rewrite") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      val tableSch = schemaOf(spark, root, m)
      requireNoRetired(m, tableSch, df.schema)
      val evolved = evolveSchema(tableSch, df.schema, allowWiden = false)
      val effCm = evolveColmap(m.colmap, evolved)
      // a declared layout re-establishes on the replacement snapshot —
      // INSERT OVERWRITE keeps bucketing / partition directories
      val files = m.buckets match {
        case Some(n) => writeBucketedFiles(spark, root,
          constrained(alignTo(df, evolved), m.constraints), n,
          m.statsKey.get, m.statsKey2, effCm)
        case None if m.partitionCols.nonEmpty => writePartitionedFiles(spark, root,
          constrained(alignTo(df, evolved), m.constraints),
          m.partitionCols, m.statsKey, m.statsKey2, effCm)
        case None => writeDataFiles(spark, root,
          constrained(alignTo(df, evolved), m.constraints),
          m.statsKey, m.statsKey2, bloomKey = false, effCm)
      }
      Pending(files, evolved, m.statsKey, m.statsKey2,
        colmap = if (effCm.isEmpty) None else Some(effCm))
    }

  /** The DSv2 row-level (group-based, copy-on-write) commit: replace
    * exactly the files the operation's scan read with the files its
    * write produced — MERGE INTO / UPDATE land here. Pinned to the
    * scanned version: a concurrent commit in between REFUSES (the
    * replacement rows were computed against a snapshot that no longer
    * heads the table — retrying optimistically would need the whole
    * read-rewrite to rerun, which is the engine caller's decision, not
    * a silent loop here). Carried files keep their entries (and dv
    * references) verbatim; replaced files' dv debt dies with them —
    * the rewrite materialized it. */
  private[graft] def sqlReplaceFiles(spark: SparkSession, root: String,
      expectedVersion: Int, scannedRel: Set[String],
      written: Seq[FileEntry]): Int =
    retrying(spark, root, op = "merge") { (latest: Int) =>
      require(latest == expectedVersion,
        s"concurrent write detected on $root: the row-level operation scanned " +
          s"version $expectedVersion but the table is now at $latest; re-run the " +
          "statement against the new snapshot.")
      val m = manifestFull(spark, root, latest)
      val carried = m.entries.filterNot(e => scannedRel(e.path))
      Pending(carried ++ written, schemaOf(spark, root, m), m.statsKey, m.statsKey2,
        colmap = if (m.colmap.isEmpty) None else Some(m.colmap))
    }

  /** Does `e`'s path-spelled partition tuple satisfy ALL of `preds`
    * (catalyst conjuncts over PHYSICAL partition-column names)?
    * Some(true/false) when decidable, None when the path spells no
    * complete tuple or a value/eval doesn't parse — the EXACT-scope
    * twin of [[partitionKeeps]] (which keeps on None; overwrite
    * scoping must refuse instead: an undecidable file may hold rows
    * on both sides of the scope). */
  private[sources] def partitionMatches(e: FileEntry,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      partTypes: Map[String, org.apache.spark.sql.types.DataType]): Option[Boolean] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    val vals = partValuesOf(e.path)
    if (partTypes.isEmpty || !partTypes.keySet.subsetOf(vals.keySet)) return None
    def typed(r: String): Option[Any] =
      partCatalystValue(vals(r), partTypes(r)).map {
        // Literal.create below takes EXTERNAL values; partCatalystValue
        // returns catalyst-internal (UTF8String/days) for the scan's
        // runtime-filter compare — unwrap the two that differ
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case days: Integer if partTypes(r) == org.apache.spark.sql.types.DateType =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaDate(days)
        case v => v
      }
    try {
      var ok = true
      val results = preds.map { p =>
        val refs = p.references.toSeq.map(a => norm(a.name))
        if (!refs.forall(partTypes.contains)) { ok = false; false }
        else {
          val bound = p.transform {
            case a: AttributeReference =>
              typed(norm(a.name)) match {
                case Some(v) => Literal.create(v, partTypes(norm(a.name)))
                case None => ok = false; a
              }
          }
          if (!ok) false
          else java.lang.Boolean.TRUE.equals(bound.eval(null))
        }
      }
      if (ok) Some(results.forall(identity)) else None
    } catch { case _: Exception => None }
  }

  /** PARTITION-scoped INSERT OVERWRITE (`INSERT OVERWRITE t PARTITION
    * (lang='en') SELECT …`): replace exactly the files whose partition
    * tuple satisfies the scope, carry everything else — one atomic op
    * "rewrite" commit. Refuses loudly on any live file that spells no
    * partition tuple (it may hold rows on both sides of the scope;
    * recovery: [[compactPartitioned]] or a whole-table overwrite), and
    * on any written row landing OUTSIDE the scope (the statement named
    * partitions it isn't replacing). */
  private[graft] def sqlOverwriteWhere(spark: SparkSession, root: String,
      df: DataFrame,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Int =
    retrying(spark, root, op = "rewrite") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      require(m.partitionCols.nonEmpty,
        s"$root declares no partition columns; scoped overwrite needs PARTITIONED BY")
      val sch = schemaOf(spark, root, m)
      val partTypes = partTypesOf(m, sch)
      val carried = m.entries.filter { e =>
        !partitionMatches(e, preds, partTypes).getOrElse(throw
          new IllegalArgumentException(
            s"partition-scoped overwrite of $root: file ${e.path} spells no " +
              "partition tuple (written by a layout-agnostic op), so its rows " +
              "cannot be scoped; run compactPartitioned first, or overwrite " +
              "the whole table"))
      }
      val fresh = writePartitionedFiles(spark, root,
        constrained(alignTo(df, sch), m.constraints),
        m.partitionCols, m.statsKey, m.statsKey2, m.colmap)
      fresh.foreach { e =>
        require(partitionMatches(e, preds, partTypes).contains(true),
          s"INSERT OVERWRITE PARTITION scope violation on $root: written file " +
            s"${e.path} holds rows outside the overwritten partitions")
      }
      Pending(carried ++ fresh, sch, m.statsKey, m.statsKey2,
        colmap = if (m.colmap.isEmpty) None else Some(m.colmap))
    }

  /** DYNAMIC partition overwrite (Hive semantics, `INSERT OVERWRITE`
    * under `partitionOverwriteMode=dynamic`): the executor tasks wrote
    * the batch under partition directories; the commit replaces
    * exactly the partition VALUES present among the written files and
    * carries every other partition — op "rewrite". Refuses loudly on a
    * live file that spells no partition tuple (same contract as
    * [[sqlOverwriteWhere]]). */
  private[graft] def sqlOverwriteDynamic(spark: SparkSession, root: String,
      written: Seq[FileEntry]): Int =
    retrying(spark, root, op = "rewrite") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      require(m.partitionCols.nonEmpty,
        s"$root declares no partition columns; use sqlOverwriteFiles")
      val n = m.partitionCols.size
      val replaced: Set[Map[String, String]] =
        written.map(w => partValuesOf(w.path)).toSet
      require(replaced.forall(_.size == n),
        s"internal: dynamic overwrite of $root wrote a non-partition path")
      val carried = m.entries.filter { e =>
        val vals = partValuesOf(e.path)
        require(vals.size == n,
          s"dynamic partition overwrite of $root: file ${e.path} spells no " +
            "partition tuple (written by a layout-agnostic op), so its rows " +
            "cannot be scoped; run compactPartitioned first, or overwrite " +
            "the whole table")
        !replaced.contains(vals)
      }
      Pending(carried ++ written, schemaOf(spark, root, m), m.statsKey, m.statsKey2,
        colmap = if (m.colmap.isEmpty) None else Some(m.colmap))
    }

  /** `ALTER TABLE … DROP PARTITION`: remove the named partition
    * tuple's FILES from the manifest — PURE METADATA, zero data I/O
    * (the cheapest possible bulk delete: at 100 TB, dropping a day or
    * a language is one manifest write). Commits op "delete"
    * (data-changing — CDC and the streaming source see the removed
    * rows honestly). Returns false — committing nothing — when no
    * file carries the tuple; refuses loudly on a layout-agnostic file
    * (its rows can't be scoped; compactPartitioned first). `values`
    * are normalized-physical-name → raw path-spelled value. */
  private[graft] def dropPartition(spark: SparkSession, root: String,
      values: Map[String, String]): Boolean =
    try {
      retrying(spark, root, op = "delete") { (latest: Int) =>
        val m = manifestFull(spark, root, latest)
        require(m.partitionCols.nonEmpty,
          s"$root declares no partition columns (PARTITIONED BY at create)")
        val n = m.partitionCols.size
        require(values.size == n,
          s"DROP PARTITION needs all $n partition column(s), got ${values.size}")
        val (hit, carried) = m.entries.partition { e =>
          val vals = partValuesOf(e.path)
          require(vals.size == n,
            s"DROP PARTITION on $root: file ${e.path} spells no partition " +
              "tuple (written by a layout-agnostic op); run compactPartitioned " +
              "first")
          vals == values
        }
        if (hit.isEmpty) throw NothingToDelete
        Pending(carried, schemaOf(spark, root, m), m.statsKey, m.statsKey2,
          colmap = if (m.colmap.isEmpty) None else Some(m.colmap))
      }
      true
    } catch { case NothingToDelete => false }

  /** Whole-table re-layout into partition directories (op "compact" —
    * row-preserving, dv debt materializes like any full compact): the
    * maintenance op that restores a PARTITIONED BY table's fully
    * partition-shaped layout after layout-agnostic rewrites
    * (compactSmall, materializeDv) left plain-path files — the
    * precondition partition-SCOPED overwrites refuse without. */
  def compactPartitioned(spark: SparkSession, root: String): Int =
    retrying(spark, root, op = "compact") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      require(m.partitionCols.nonEmpty,
        s"$root declares no partition columns (PARTITIONED BY at create)")
      val schema = schemaOf(spark, root, m)
      val current = scanEntries(spark, root, latest, m, schema, m.entries)
      Pending(writePartitionedFiles(spark, root, current, m.partitionCols,
        m.statsKey, m.statsKey2, m.colmap), schema, m.statsKey, m.statsKey2,
        colmap = if (m.colmap.isEmpty) None else Some(m.colmap))
    }

  /** [[sqlOverwrite]]'s file-level twin for the DSv2 BATCH write path
    * (dynamic overwrite: the rows were already written by executor
    * tasks, so the commit just publishes the file list as the whole
    * new snapshot — op "rewrite"). Schema unchanged by contract
    * (Spark aligned the query to the table before writing). */
  private[graft] def sqlOverwriteFiles(spark: SparkSession, root: String,
      written: Seq[FileEntry], txnBatchId: Option[Long] = None): Int =
    retrying(spark, root, op = "rewrite") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      Pending(written, schemaOf(spark, root, m), m.statsKey, m.statsKey2,
        txnBatchId = txnBatchId,
        colmap = if (m.colmap.isEmpty) None else Some(m.colmap))
    }

  /** [[sqlOverwriteFiles]]'s APPEND twin — the DSv2 STREAMING sink's
    * commit: the epoch's executor-written files join the snapshot as
    * one atomic append carrying the epoch id as `txnBatchId` (the same
    * replay cursor the V1 streaming sink uses — the caller checks
    * [[lastTxnBatchId]] before calling). */
  private[graft] def sqlAppendFiles(spark: SparkSession, root: String,
      written: Seq[FileEntry], txnBatchId: Long): Int =
    retrying(spark, root, op = "append") { (latest: Int) =>
      val m = manifestFull(spark, root, latest)
      Pending(m.entries ++ written, schemaOf(spark, root, m), m.statsKey,
        m.statsKey2, txnBatchId = Some(txnBatchId),
        colmap = if (m.colmap.isEmpty) None else Some(m.colmap))
    }

  /** Post-write CHECK-constraint validation for the DSv2 row-level
    * path (whose rows were written by executor-side writers, not
    * [[writeDataFiles]]): one validation job over just the written
    * files. Called BEFORE [[sqlReplaceFiles]] commits — a violation
    * aborts with nothing published. */
  private[graft] def sqlValidateWritten(spark: SparkSession, root: String,
      written: Seq[FileEntry]): Unit = {
    val m = manifestFull(spark, root, versions(spark, root).last)
    if (m.constraints.nonEmpty && written.nonEmpty)
      validateConstraints(scanFiles(spark, root, schemaOf(spark, root, m), written, m.colmap),
        m.constraints)
  }

  private def readPruned(spark: SparkSession, root: String, version: Option[Int],
      prune: Manifest => Seq[FileEntry]): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v does not exist (have $vs)")
    val m = manifestFull(spark, root, v)
    scanEntries(spark, root, v, m, schemaOf(spark, root, m), prune(m))
  }
}

/** THE file-skipping decision: every path that turns manifest stats
  * into "scan this file or not" calls [[ManifestPruning.partition]] —
  * the snapshot scan's [[SnapshotTable.SqlSnapshot.keptFiles]] (behind
  * SQL, [[SnapshotTable.readIndexed]] and [[SnapshotTable.deleteWhere]],
  * which push filters into it), [[SnapshotTable.readRange]]/
  * [[SnapshotTable.readKeys]]/[[SnapshotTable.readKeysStr]] (which
  * pre-prune the entry list the scan reads), and the touched-file
  * split of [[SnapshotTable.merge]] and [[SnapshotTable.mergeOnRead]].
  * Callers differ only in what they pass (bounds extracted from pushed
  * filters by [[ManifestPruning.bounds]], or a requested range / key
  * set; the bucket context; the partition types) and in how they wrap
  * the kept entries. Range semantics, point-probe semantics,
  * bloom probing, bucket and partition pruning, and the
  * no-stats-keeps-the-file convention are defined here once. Every
  * check is CONSERVATIVE: absent stats keep the file, and keeping a
  * file never changes results (row filtering is the engine's job). */
private[sources] object ManifestPruning {
  import SnapshotTable.FileEntry
  import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}

  private val ord = SnapshotTable.byteOrder

  /** Above this many probe keys, bloom checks are skipped (range/point
    * stats still apply — conservative, never wrong). The bloom probe
    * is O(keys · K) bit-tests PER FILE on the driver: at the streaming
    * probe's 100k-key cap over a thousand fresh files that is ~10^8
    * driver-side operations for a check whose value collapses anyway —
    * with that many uniform keys, virtually every file's bloom reports
    * a plausible hit. Range pruning stays O(log keys) per file. Point
    * sets extracted from filters carry at most 1000 keys
    * ([[MaxBoundPoints]]), under this cap, so on the
    * filter path every point set probes the blooms. */
  private[sources] val MaxBloomProbeKeys = 4096

  /** Live bucket layout (count, relPath → bucket id, the bucket key's
    * LOGICAL type): point sets on the primary key prune by the
    * writer's typed murmur3, where hash-scattered stats ranges keep
    * every file. */
  type Buckets = (Int, Map[String, Int], DataType)

  /** Which manifest entries `primary`/`secondary` (bounds on the
    * verified stats slots), `buckets` and `filters`' partition-only
    * conjuncts (over `partTypes`) may skip: `(kept, skipped)`, each in
    * manifest order. Reads use `_1`; merge's touched-file split uses
    * both. Bounds the extractor proved [[KeyBounds.contradictory]]
    * keep nothing, stat-less files included. */
  def partition(entries: Seq[FileEntry], primary: Option[KeyBounds],
      secondary: Option[KeyBounds] = None, buckets: Option[Buckets] = None,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil,
      partTypes: Map[String, DataType] = Map.empty): (Seq[FileEntry], Seq[FileEntry]) =
    if (primary.exists(_.contradictory) || secondary.exists(_.contradictory))
      (Seq.empty, entries)
    else {
      val inBuckets = bucketFilter(buckets, primary)
      entries.partition(e =>
        primary.forall(keeps(e, _)) && secondary.forall(keeps(e, _, secondary = true)) &&
          inBuckets.forall(_(e.path)) &&
          SnapshotTable.partitionKeeps(e, filters, partTypes))
    }

  /** Do bounds `b` keep `e`, judged on one stats slot (the primary's
    * min/max, string min/max and bloom, or the secondary's)? Ranges,
    * point sets (O(log k) binary search against the file's range) and
    * the bloom compose conjunctively; a slot without stats keeps. */
  def keeps(e: FileEntry, b: KeyBounds, secondary: Boolean = false): Boolean = {
    val (long, str, bloom) =
      if (secondary) (e.min2.zip(e.max2), e.min2Str.zip(e.max2Str), e.bloom2)
      else (e.minKey.zip(e.maxKey), e.minStr.zip(e.maxStr), e.bloom)
    long.forall { case (mn, mx) =>
      b.longBounds.forall { case (lo, hi) => mx >= lo && mn <= hi } &&
        b.longPoints.forall { ps =>
          val i = java.util.Arrays.binarySearch(ps, mn)
          val from = if (i >= 0) i else -i - 1
          from < ps.length && ps(from) <= mx
        }
    } && str.forall { case (mn, mx) =>
      b.strLo.forall(lo => ord.compare(mx, lo) >= 0) &&
        b.strHi.forall(hi => ord.compare(mn, hi) <= 0) &&
        b.strPoints.forall { ps =>
          val i = java.util.Arrays.binarySearch(ps, mn, ord)
          val from = if (i >= 0) i else -i - 1
          from < ps.length && ord.compare(ps(from), mx) <= 0
        }
    } && b.bloomHashes.forall(bloomKeeps(bloom, _))
  }

  /** Could any of the hashed probe keys be in this BLOOM? No bloom →
    * maybe (blooms only ever tighten range/point verdicts). `hashes`
    * are the keys' (h1, h2) xxhash64 splits
    * ([[SnapshotTable.bloomHashLong]]/[[SnapshotTable.bloomHashBytes]]
    * — computed ONCE per probe, not per file); positions derive per
    * file because m is per-file. A false positive keeps a file (scan,
    * correct); a false negative is impossible for keys the file
    * actually holds (every held key set its positions at write time).
    * This is what prunes a point probe against fresh UNCLUSTERED files
    * whose [min,max] range spans ~everything. */
  def bloomKeeps(bloom: Option[Array[Byte]], hashes: Array[(Long, Long)]): Boolean =
    bloom match {
      case None => true
      case Some(b) =>
        val m = b.length.toLong * 8 // power of two by construction
        hashes.exists { case (h1, h2) =>
          var i = 0
          var all = true
          while (all && i < SnapshotTable.BloomK) {
            val p = ((h1 + i * h2) % m).toInt
            all = (b(p >> 3) & (1 << (p & 7))) != 0
            i += 1
          }
          all
        }
    }

  /** BUCKET PRUNING: a bucketed file's key RANGE is hash-scattered
    * (nearly table-wide), so stats can't skip it — but a point set on
    * the bucket key maps each literal to exactly one bucket id (the
    * writer's hash), and every file of every OTHER bucket drops. The
    * point read a clustered table answers with ranges, a bucketed
    * table answers with arithmetic. None = no bucket constraint;
    * otherwise, which file paths lie in an allowed bucket. */
  private def bucketFilter(buckets: Option[Buckets],
      primary: Option[KeyBounds]): Option[String => Boolean] =
    for {
      (n, byPath, dt) <- buckets
      b <- primary
      ids <- dt match {
        case IntegerType =>
          // points arrive widened to Long; an int column's literal
          // always fits (analysis casts), but guard anyway
          b.longPoints.filter(_.forall(v => v >= Int.MinValue && v <= Int.MaxValue))
            .map(_.map(v => SnapshotTable.bucketOfValue(v.toInt, dt, n)).toSet)
        case LongType => b.longPoints.map(_.map(v => SnapshotTable.bucketOfValue(v, dt, n)).toSet)
        case StringType => b.strPoints.map(_.map(bs => SnapshotTable.bucketOfValue(
          org.apache.spark.unsafe.types.UTF8String.fromBytes(bs), dt, n)).toSet)
        case _ => None
      }
    } yield (path: String) => ids.contains(byPath(path))

  /** What a filter-driven prune needs besides the filters: the
    * entries, the VERIFIED stats columns as pushed filters spell them
    * (physical names), the bucket context and the prunable partition
    * types. */
  final case class Scope(entries: Seq[FileEntry], key: Option[String], key2: Option[String],
      buckets: Option[Buckets], partTypes: Map[String, DataType]) {
    /** The entries `filters` (catalyst conjuncts) may not skip. */
    def kept(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[FileEntry] =
      partition(entries, key.map(bounds(filters, _)),
        key2.map(bounds(filters, _)), buckets, filters, partTypes)._1
  }

  /** Beyond this many IN-list points the extractor records only the
    * [min,max] envelope: a point set is checked per file (O(log k)
    * binary search), and a degenerate thousands-of-literals IN would
    * spend more planning time on point checks than the skips save —
    * the same reason engines compile huge IN lists to range scans. */
  private val MaxBoundPoints = 1000

  /** What the filter conjuncts provably impose on `key`: a long range
    * for integral comparisons, independent lower/upper byte bounds
    * (unsigned order) for string comparisons, and — for equalities and
    * IN-lists — the exact POINT SET (sorted; the intersection when
    * several conjuncts each impose one). Absent members impose
    * nothing; an EMPTY point set keeps nothing (contradiction). Points
    * are what make a clustered table's point lookups minimal: an
    * `IN (k1, k2)` over far-apart keys touches two files, where the
    * [min,max] envelope alone would scan every file between them. */
  final case class KeyBounds(
      longBounds: Option[(Long, Long)],
      strLo: Option[Array[Byte]],
      strHi: Option[Array[Byte]],
      longPoints: Option[Array[Long]] = None,
      strPoints: Option[Array[Array[Byte]]] = None,
      /** The conjuncts hold for no row (an inverted range, an IN (),
        * two different equalities), so every file may be skipped —
        * stat-less ones too. Set only by [[bounds]]: a range or key
        * set a caller builds directly is judged file by file. */
      contradictory: Boolean = false) {
    /** The point set's bloom hashes, computed once per probe — None
      * without points or beyond [[ManifestPruning.MaxBloomProbeKeys]]. */
    lazy val bloomHashes: Option[Array[(Long, Long)]] = (longPoints, strPoints) match {
      case (Some(ps), _) => Option.when(ps.length <= ManifestPruning.MaxBloomProbeKeys)(
        ps.map(SnapshotTable.bloomHashLong))
      case (_, Some(ps)) => Option.when(ps.length <= ManifestPruning.MaxBloomProbeKeys)(
        ps.map(SnapshotTable.bloomHashBytes))
      case _ => None
    }
  }

  /** The tightest bounds the conjuncts impose on `key`. Strictly
    * conservative: unrecognized shapes (disjunctions, expressions over
    * the key, unsupported literal types) contribute no bound, and
    * STRICT string inequalities use their non-strict bound (the
    * byte-successor games a strict byte bound needs aren't worth one
    * extra boundary file). */
  def bounds(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      key: String): KeyBounds = {
    import org.apache.spark.sql.catalyst.expressions._
    val ord = SnapshotTable.byteOrder
    def isKey(e: Expression): Boolean = e match {
      case a: AttributeReference =>
        a.name.toLowerCase(java.util.Locale.ROOT) == key.toLowerCase(java.util.Locale.ROOT)
      case _ => false
    }
    // catalyst values: a Literal's payload, or an InSet member
    def longOf(v: Any): Option[Long] = v match {
      case v: Int => Some(v.toLong)
      case v: Long => Some(v)
      case v: Short => Some(v.toLong)
      case v: Byte => Some(v.toLong)
      case _ => None
    }
    def strOf(v: Any): Option[Array[Byte]] = v match {
      case v: org.apache.spark.unsafe.types.UTF8String => Some(v.getBytes)
      case _ => None
    }
    def litVal(e: Expression): Option[Long] = e match {
      case Literal(v, _) => longOf(v)
      case _ => None
    }
    def litStr(e: Expression): Option[Array[Byte]] = e match {
      case Literal(v, _) => strOf(v)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var any = false
    var loB: Array[Byte] = null
    var hiB: Array[Byte] = null
    // point sets: None = unconstrained; several point-imposing
    // conjuncts intersect (id IN (1,2,3) AND id IN (2,3,4) → {2,3});
    // byte arrays wrap in ArraySeq for value equality inside the Set
    var ptsL: Option[Set[Long]] = None
    var ptsS: Option[Set[scala.collection.immutable.ArraySeq[Byte]]] = None
    def raiseLo(v: Long): Unit = { lo = lo max v; any = true }
    def lowerHi(v: Long): Unit = { hi = hi min v; any = true }
    def raiseLoB(v: Array[Byte]): Unit =
      if (loB == null || ord.compare(v, loB) > 0) loB = v
    def lowerHiB(v: Array[Byte]): Unit =
      if (hiB == null || ord.compare(v, hiB) < 0) hiB = v
    def intersectL(vs: Set[Long]): Unit =
      ptsL = Some(ptsL.fold(vs)(_ intersect vs))
    def intersectS(vs: Set[scala.collection.immutable.ArraySeq[Byte]]): Unit =
      ptsS = Some(ptsS.fold(vs)(_ intersect vs))
    def eq(l: Expression): Unit = {
      litVal(l).foreach { v => raiseLo(v); lowerHi(v); intersectL(Set(v)) }
      litStr(l).foreach { v =>
        raiseLoB(v); lowerHiB(v)
        intersectS(Set(scala.collection.immutable.ArraySeq.unsafeWrapArray(v)))
      }
    }
    // the key is on one side, literal `l` on the other; strict long
    // bounds tighten by one, strict string bounds stay non-strict
    def keyGreater(l: Expression, strict: Boolean): Unit = {
      litVal(l).foreach { v => raiseLo(if (strict && v != Long.MaxValue) v + 1 else v) }
      litStr(l).foreach(raiseLoB)
    }
    def keyLess(l: Expression, strict: Boolean): Unit = {
      litVal(l).foreach { v => lowerHi(if (strict && v != Long.MinValue) v - 1 else v) }
      litStr(l).foreach(lowerHiB)
    }
    // an IN list's values: a range envelope plus the point set, when
    // every value is a non-null integral or every one a non-null string
    def inList(vs: Seq[Any]): Unit =
      if (vs.nonEmpty && vs.forall(longOf(_).isDefined)) {
        val longs = vs.flatMap(longOf)
        raiseLo(longs.min); lowerHi(longs.max)
        if (longs.length <= MaxBoundPoints) intersectL(longs.toSet)
      } else if (vs.nonEmpty && vs.forall(strOf(_).isDefined)) {
        val bs = vs.flatMap(strOf)
        raiseLoB(bs.reduce((x, y) => if (ord.compare(x, y) <= 0) x else y))
        lowerHiB(bs.reduce((x, y) => if (ord.compare(x, y) >= 0) x else y))
        if (bs.length <= MaxBoundPoints)
          intersectS(bs.map(scala.collection.immutable.ArraySeq.unsafeWrapArray).toSet)
      }
    filters.flatMap(conjuncts).foreach {
      case EqualTo(a, l) if isKey(a) => eq(l)
      case EqualTo(l, a) if isKey(a) => eq(l)
      case EqualNullSafe(a, l) if isKey(a) => eq(l)
      case EqualNullSafe(l, a) if isKey(a) => eq(l)
      case GreaterThan(a, l) if isKey(a) => keyGreater(l, strict = true)
      case GreaterThanOrEqual(a, l) if isKey(a) => keyGreater(l, strict = false)
      case LessThan(a, l) if isKey(a) => keyLess(l, strict = true)
      case LessThanOrEqual(a, l) if isKey(a) => keyLess(l, strict = false)
      // literal-on-the-left comparisons, mirrored
      case GreaterThan(l, a) if isKey(a) => keyLess(l, strict = true)
      case GreaterThanOrEqual(l, a) if isKey(a) => keyLess(l, strict = false)
      case LessThan(l, a) if isKey(a) => keyGreater(l, strict = true)
      case LessThanOrEqual(l, a) if isKey(a) => keyGreater(l, strict = false)
      case In(a, vs) if isKey(a) && vs.forall(_.isInstanceOf[Literal]) =>
        inList(vs.map(_.asInstanceOf[Literal].value))
      // OptimizeIn's form of an IN list beyond its conversion threshold
      // (10 literals by default): same values, held as a hash set
      case InSet(a, vs) if isKey(a) => inList(vs.toSeq)
      case _ => ()
    }
    KeyBounds(
      if (any) Some((lo, hi)) else None,
      Option(loB),
      Option(hiB),
      ptsL.map { s => val a = s.toArray; java.util.Arrays.sort(a); a },
      ptsS.map { s =>
        val a = s.map(_.unsafeArray.asInstanceOf[Array[Byte]]).toArray
        java.util.Arrays.sort(a, ord); a
      },
      contradictory = (any && lo > hi) ||
        (loB != null && hiB != null && ord.compare(loB, hiB) > 0) ||
        ptsL.exists(_.isEmpty) || ptsS.exists(_.isEmpty))
  }
}
