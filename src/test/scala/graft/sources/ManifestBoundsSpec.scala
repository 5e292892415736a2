package graft.sources

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage of the planning-time pruning machinery the integration
  * specs exercise end to end: [[ManifestPruning.bounds]] (pushed-
  * filter → key-range extraction, the part whose SOUNDNESS every file
  * skip rests on) and [[SnapshotTable.FileEntry]] manifest-line
  * round-trips across every format arity a reader can meet. */
class ManifestBoundsSpec extends AnyFunSuite {

  private def check(p: org.scalacheck.Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("PROPERTY: delta diff∘resolve reproduces the committed file list exactly") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.propBoolean
    // distinct-path entries (the writer's invariant: one line per file)
    def entry(i: Int, rows: Long, dv: Option[String]): SnapshotTable.FileEntry =
      SnapshotTable.FileEntry(s"data/b$i/part-0.parquet", Some(i.toLong),
        Some(i.toLong + 10), Some(rows), Some(rows * 100),
        dv = dv, dvRows = dv.map(_ => 1L))
    val genParent: Gen[Seq[SnapshotTable.FileEntry]] = for {
      n <- Gen.chooseNum(0, 12)
      rows <- Gen.listOfN(n, Gen.chooseNum(1L, 999L))
    } yield rows.zipWithIndex.map { case (r, i) => entry(i, r, None) }
    // a random edit of the parent: drop a subset, mutate a subset
    // (dv repoint — the deleteWhere shape), add fresh files
    val genCase: Gen[(Seq[SnapshotTable.FileEntry], Seq[SnapshotTable.FileEntry])] = for {
      parent <- genParent
      keepMask <- Gen.listOfN(parent.size, Gen.prob(0.8))
      dvMask <- Gen.listOfN(parent.size, Gen.prob(0.2))
      nAdd <- Gen.chooseNum(0, 5)
      addRows <- Gen.listOfN(nAdd, Gen.chooseNum(1L, 999L))
    } yield {
      val kept = parent.zip(keepMask).collect { case (e, true) => e }
      val mutated = kept.zip(dvMask).map { case (e, flip) =>
        if (flip) e.copy(dv = Some("deletes/d1"), dvRows = Some(1L)) else e }
      val added = addRows.zipWithIndex.map { case (r, i) =>
        entry(1000 + i, r, None) }
      (parent, mutated ++ added)
    }
    def renders(es: Seq[SnapshotTable.FileEntry]): Set[String] = es.map(_.render).toSet
    check(Prop.forAll(genCase) { case (parent, files) =>
      SnapshotTable.deltaAgainst(parent, files) match {
        case Some((changed, removed)) =>
          // strictly smaller, removed really gone, changed really new/different
          val resolved = SnapshotTable.resolveDelta(parent, changed, removed.toSet)
          (changed.size + removed.size < files.size) :| "strictly smaller" &&
          (renders(resolved) == renders(files)) :| "diff∘resolve = identity (lines)" &&
          (resolved.map(_.path) == resolved.map(_.path).distinct) :| "no duplicate paths" &&
          removed.forall(p => !files.exists(_.path == p)) :| "removed ∉ files"
        case None =>
          // the delta really would not have been smaller
          val oldLines = parent.map(e => e.path -> e.render).toMap
          val removedN = parent.count(e => !files.exists(_.path == e.path))
          val changedN = files.count(e => !oldLines.get(e.path).contains(e.render))
          (removedN + changedN >= files.size) :| "full write only when delta ≥ full"
      }
    })
    // the append shape preserves EXACT order, not just the set
    check(Prop.forAll(genParent, Gen.chooseNum(1, 4)) { (parent, nAdd) =>
      val added = (0 until nAdd).map(i => entry(2000 + i, 7L, None))
      val files = parent ++ added
      SnapshotTable.deltaAgainst(parent, files) match {
        case Some((changed, removed)) =>
          (removed.isEmpty :| "append removes nothing") &&
          (changed.map(_.render) == added.map(_.render)) :| "delta = the batch" &&
          (SnapshotTable.resolveDelta(parent, changed, removed.toSet)
            .map(_.render) == files.map(_.render)) :| "append order exact"
        case None => (parent.isEmpty :| "only an empty parent forces full")
      }
    })
  }

  test("PROPERTY: every legal FileEntry round-trips render→parse exactly") {
    import org.scalacheck.{Gen, Prop}
    // manifest-legal path/dir shapes: the writers mint uuid-derived
    // names, never whitespace/tabs (the line format's separators)
    val genPath = Gen.listOfN(10, Gen.alphaNumChar)
      .map(cs => s"data/batch-${cs.mkString}/part-0.parquet")
    val genOptLong = Gen.option(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    val genBytes = Gen.chooseNum(1, 24)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))
      .map(_.toArray)
    // writer-reachable states only: long ranges come from footers as
    // BOTH-or-neither pairs, and a deleted-row count exists only with
    // its dv reference (parseEntry accepts more — wider inputs than
    // outputs — but render is only ever fed these shapes)
    val genLongPair: Gen[(Option[Long], Option[Long])] = Gen.oneOf(
      Gen.const((None, None)),
      Gen.zip(Gen.chooseNum(Long.MinValue, Long.MaxValue),
        Gen.chooseNum(Long.MinValue, Long.MaxValue))
        .map { case (a, b) => (Some(a), Some(b)) })
    val genEntry: Gen[SnapshotTable.FileEntry] = for {
      p <- genPath
      mnmx <- genLongPair; r <- genOptLong; b <- genOptLong
      lo <- Gen.option(genBytes); hi <- Gen.option(genBytes)
      m2x2 <- genLongPair
      lo2 <- Gen.option(genBytes); hi2 <- Gen.option(genBytes)
      dv <- Gen.option(Gen.listOfN(8, Gen.alphaNumChar).map(cs => s"deletes/batch-${cs.mkString}"))
      dvr <- if (dv.isDefined) genOptLong else Gen.const(None: Option[Long])
      bloom <- Gen.option(Gen.chooseNum(16, 128).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))).map(_.toArray))
    } yield SnapshotTable.FileEntry(p, mnmx._1, mnmx._2, r, b, lo, hi,
      m2x2._1, m2x2._2, lo2, hi2, dv, dvr, bloom)
    def eqB(a: Option[Array[Byte]], b: Option[Array[Byte]]): Boolean =
      (a, b) match {
        case (Some(x), Some(y)) => x.sameElements(y)
        case (None, None) => true
        case _ => false
      }
    check(Prop.forAll(genEntry) { e =>
      val rt = SnapshotTable.parseEntry(e.render)
      // the format serializes SHAPES, not arbitrary combinations: a
      // lower-arity line drops fields that were None anyway, so
      // compare semantically field by field
      rt.path == e.path && rt.minKey == e.minKey && rt.maxKey == e.maxKey &&
        rt.rows == e.rows && rt.bytes == e.bytes &&
        eqB(rt.minStr, e.minStr) && eqB(rt.maxStr, e.maxStr) &&
        rt.min2 == e.min2 && rt.max2 == e.max2 &&
        eqB(rt.min2Str, e.min2Str) && eqB(rt.max2Str, e.max2Str) &&
        rt.dv == e.dv && rt.dvRows == e.dvRows && eqB(rt.bloom, e.bloom)
    })
  }

  private val id = AttributeReference("id", LongType)()
  private val name = AttributeReference("name", StringType)()
  private def lit(v: Long): Literal = Literal(v)
  private def lit(s: String): Literal = Literal(UTF8String.fromString(s), StringType)

  test("long conjuncts tighten to the intersection; strict bounds shift by one") {
    val b = ManifestPruning.bounds(Seq(
      GreaterThan(id, lit(10L)),           // id > 10  → lo 11
      LessThanOrEqual(id, lit(99L)),       // id <= 99 → hi 99
      GreaterThanOrEqual(id, lit(5L))),    // weaker lower bound: no effect
      "id")
    assert(b.longBounds.contains((11L, 99L)))
    assert(b.strLo.isEmpty && b.strHi.isEmpty)
  }

  test("literal-on-the-left comparisons mirror correctly") {
    // 50 >= id → id <= 50; 7 < id → id > 7 → lo 8
    val b = ManifestPruning.bounds(Seq(
      GreaterThanOrEqual(lit(50L), id),
      LessThan(lit(7L), id)), "id")
    assert(b.longBounds.contains((8L, 50L)))
  }

  test("equality pins both ends; an And tree splits into conjuncts") {
    val b = ManifestPruning.bounds(Seq(
      And(EqualTo(id, lit(42L)), EqualTo(name, lit("x")))), "id")
    assert(b.longBounds.contains((42L, 42L)))
  }

  test("contradictory conjuncts surface as an inverted range (caller prunes everything)") {
    val b = ManifestPruning.bounds(Seq(
      GreaterThan(id, lit(100L)), LessThan(id, lit(50L))), "id")
    assert(b.longBounds.exists { case (lo, hi) => lo > hi })
  }

  test("IN lists bound by min/max; long and string forms") {
    val bl = ManifestPruning.bounds(Seq(
      In(id, Seq(lit(30L), lit(7L), lit(19L)))), "id")
    assert(bl.longBounds.contains((7L, 30L)))
    val bs = ManifestPruning.bounds(Seq(
      In(name, Seq(lit("m"), lit("c"), lit("k")))), "name")
    assert(bs.strLo.map(new String(_, "UTF-8")).contains("c"))
    assert(bs.strHi.map(new String(_, "UTF-8")).contains("m"))
  }

  test("IN lists keep the exact POINT SET, not just the envelope") {
    val b = ManifestPruning.bounds(Seq(
      In(id, Seq(lit(30L), lit(7L), lit(19L)))), "id")
    assert(b.longPoints.map(_.toSeq).contains(Seq(7L, 19L, 30L)))
    val bs = ManifestPruning.bounds(Seq(
      In(name, Seq(lit("m"), lit("c")))), "name")
    assert(bs.strPoints.map(_.map(new String(_, "UTF-8")).toSeq).contains(Seq("c", "m")))
  }

  test("two point-imposing conjuncts intersect; a disjoint intersection is a contradiction") {
    val b = ManifestPruning.bounds(Seq(
      In(id, Seq(lit(1L), lit(2L), lit(3L))),
      In(id, Seq(lit(2L), lit(3L), lit(4L)))), "id")
    assert(b.longPoints.map(_.toSeq).contains(Seq(2L, 3L)))
    val c = ManifestPruning.bounds(Seq(
      EqualTo(id, lit(5L)), EqualTo(id, lit(6L))), "id")
    assert(c.contradictory,
      "two different equalities on the same key can match no row")
  }

  test("point sets drive file keeps: a 2-point IN skips the file between the points") {
    import SnapshotTable.FileEntry
    val files = Seq(
      FileEntry("a", Some(0L), Some(9L)),
      FileEntry("b", Some(10L), Some(19L)),
      FileEntry("c", Some(20L), Some(29L)))
    val b = ManifestPruning.bounds(Seq(In(id, Seq(lit(5L), lit(25L)))), "id")
    val kept = files.filter(ManifestPruning.keeps(_, b))
    assert(kept.map(_.path) == Seq("a", "c"),
      "the [5,25] envelope alone would keep 'b'; the point set must not")
  }

  test("an equality pins a single point; a statless file is always kept") {
    import SnapshotTable.FileEntry
    val b = ManifestPruning.bounds(Seq(EqualTo(id, lit(42L))), "id")
    assert(b.longPoints.map(_.toSeq).contains(Seq(42L)))
    assert(ManifestPruning.keeps(FileEntry("nostats", None, None), b))
    assert(!ManifestPruning.keeps(FileEntry("far", Some(100L), Some(200L)), b))
  }

  test("oversized IN lists fall back to the envelope (no point set recorded)") {
    val big = (0L until 1500L).map(lit)
    val b = ManifestPruning.bounds(Seq(In(id, big)), "id")
    assert(b.longPoints.isEmpty, "beyond MaxBoundPoints only the range survives")
    assert(b.longBounds.contains((0L, 1499L)))
  }

  test("string bounds: strict inequalities conservatively keep the non-strict endpoint") {
    val b = ManifestPruning.bounds(Seq(
      GreaterThan(name, lit("doc-0100")),
      LessThan(name, lit("doc-0200"))), "name")
    assert(b.strLo.map(new String(_, "UTF-8")).contains("doc-0100"))
    assert(b.strHi.map(new String(_, "UTF-8")).contains("doc-0200"))
    assert(b.longBounds.isEmpty)
  }

  test("one-sided string bounds survive alone") {
    val b = ManifestPruning.bounds(Seq(
      GreaterThanOrEqual(name, lit("doc-0390"))), "name")
    assert(b.strLo.map(new String(_, "UTF-8")).contains("doc-0390"))
    assert(b.strHi.isEmpty)
  }

  test("unrecognized shapes impose nothing: disjunctions, expressions over the key, other columns") {
    val b = ManifestPruning.bounds(Seq(
      Or(EqualTo(id, lit(1L)), EqualTo(id, lit(2L))), // disjunction
      EqualTo(Add(id, lit(1L)), lit(5L)),             // expression over key
      EqualTo(name, lit("x"))),                       // different column
      "id")
    assert(b.longBounds.isEmpty && b.strLo.isEmpty && b.strHi.isEmpty)
  }

  test("key matching is case-insensitive, like Spark's resolution") {
    val upper = AttributeReference("ID", LongType)()
    val b = ManifestPruning.bounds(Seq(EqualTo(upper, lit(9L))), "id")
    assert(b.longBounds.contains((9L, 9L)))
  }

  test("FileEntry manifest lines round-trip at every arity a reader can meet") {
    def rt(e: SnapshotTable.FileEntry): SnapshotTable.FileEntry = {
      val p = SnapshotTable.parseEntry(e.render)
      // byte arrays need value comparison
      assert(p.minStr.map(_.toSeq) == e.minStr.map(_.toSeq))
      assert(p.maxStr.map(_.toSeq) == e.maxStr.map(_.toSeq))
      assert(p.min2Str.map(_.toSeq) == e.min2Str.map(_.toSeq))
      assert(p.max2Str.map(_.toSeq) == e.max2Str.map(_.toSeq))
      p
    }
    import SnapshotTable.FileEntry
    // bare path (format-1 line)
    assert(rt(FileEntry("data/b/f.parquet", None, None)).path == "data/b/f.parquet")
    // long stats only (format-1/2)
    val ls = rt(FileEntry("p", Some(3L), Some(9L)))
    assert(ls.minKey.contains(3L) && ls.maxKey.contains(9L) && ls.rows.isEmpty)
    // stats + rows (format 2)
    val wr = rt(FileEntry("p", Some(3L), Some(9L), Some(100L)))
    assert(wr.rows.contains(100L) && wr.bytes.isEmpty)
    // stats + rows + bytes (format 2)
    val wb = rt(FileEntry("p", None, None, Some(0L), Some(812L)))
    assert(wb.rows.contains(0L) && wb.bytes.contains(812L) && wb.minKey.isEmpty)
    // string stats (format 3) — binary-safe through base64
    val bytes = Array[Byte](0, 9, -1, 127) // tab and high bytes included
    val ss = rt(FileEntry("p", None, None, Some(5L), Some(1L),
      Some(bytes), Some("doc-0199".getBytes("UTF-8"))))
    assert(ss.rows.contains(5L))
    // secondary-key stats (format 4) — with and without string stats
    val two = rt(FileEntry("p", Some(3L), Some(9L), Some(10L), Some(99L),
      None, None, Some(0L), Some(7L)))
    assert(two.min2.contains(0L) && two.max2.contains(7L))
    val both = rt(FileEntry("p", None, None, Some(10L), Some(99L),
      Some(bytes), Some(bytes), Some(2L), Some(4L)))
    assert(both.min2.contains(2L) && both.max2.contains(4L) && both.minStr.isDefined)
    // STRING secondary stats (format 5, 11-field line) — a string
    // primary + string secondary, no long stats anywhere
    val s2 = rt(FileEntry("p", None, None, Some(10L), Some(99L),
      Some(bytes), Some(bytes), None, None,
      Some("c-0010".getBytes("UTF-8")), Some(bytes)))
    assert(s2.min2Str.isDefined && s2.max2Str.isDefined && s2.min2.isEmpty)
    // (integral primary, string secondary) — the flipped reference shape
    val is2 = rt(FileEntry("p", Some(1L), Some(2L), Some(10L), Some(99L),
      None, None, None, None,
      Some("a".getBytes("UTF-8")), Some("m".getBytes("UTF-8"))))
    assert(is2.minKey.contains(1L) && is2.min2Str.isDefined)
    // DELETION-VECTOR reference (format 6, 13-field line) — with and
    // without the full two-key stats payload in front of it
    val dv = rt(FileEntry("data/b/f.parquet", Some(3L), Some(9L), Some(100L), Some(812L),
      dv = Some("deletes/batch-ab12cd34"), dvRows = Some(17L)))
    assert(dv.dv.contains("deletes/batch-ab12cd34") && dv.dvRows.contains(17L))
    assert(dv.minKey.contains(3L) && dv.rows.contains(100L) && dv.bytes.contains(812L))
    val dvFull = rt(FileEntry("p", None, None, Some(10L), Some(99L),
      Some(bytes), Some(bytes), Some(2L), Some(4L), Some(bytes), Some(bytes),
      Some("deletes/batch-x"), Some(1L)))
    assert(dvFull.dv.contains("deletes/batch-x") && dvFull.dvRows.contains(1L) &&
      dvFull.min2.contains(2L) && dvFull.min2Str.map(_.toSeq).contains(bytes.toSeq))
  }

  test("secondary-key pruning is independent of the primary and conservative without stats") {
    import SnapshotTable.FileEntry
    val e = FileEntry("p", Some(0L), Some(100L), None, None, None, None,
      Some(10L), Some(19L))
    val idx = AttributeReference("chunk_idx", LongType)()
    val b = ManifestPruning.bounds(Seq(EqualTo(idx, lit(25L))), "chunk_idx")
    assert(!ManifestPruning.keeps(e, b, secondary = true),
      "secondary range [10,19] excludes chunk_idx = 25")
    assert(ManifestPruning.keeps(e.withoutKey2Stats, b, secondary = true),
      "no secondary stats → always kept")
  }

  test("STRING secondary stats prune string conjuncts (format 5)") {
    import SnapshotTable.FileEntry
    def b(s: String): Array[Byte] = s.getBytes("UTF-8")
    val e = FileEntry("p", Some(0L), Some(100L), None, None, None, None,
      None, None, Some(b("c-0010")), Some(b("c-0019")))
    def nb(filters: Seq[Expression]) = ManifestPruning.bounds(filters, "name")
    // equality outside the binary range → pruned; inside → kept
    assert(!ManifestPruning.keeps(e, nb(Seq(EqualTo(name, lit("c-0025")))), secondary = true))
    assert(ManifestPruning.keeps(e, nb(Seq(EqualTo(name, lit("c-0015")))), secondary = true))
    // range bounds compose: name >= "c-0019" touches the upper edge,
    // name > "c-0019" (strict → non-strict conservative) still keeps
    assert(ManifestPruning.keeps(e,
      nb(Seq(GreaterThanOrEqual(name, lit("c-0019")))), secondary = true))
    assert(!ManifestPruning.keeps(e,
      nb(Seq(GreaterThanOrEqual(name, lit("c-0020")))), secondary = true))
    assert(!ManifestPruning.keeps(e,
      nb(Seq(LessThanOrEqual(name, lit("c-0009")))), secondary = true))
    // IN-list point set: far-apart points that STRADDLE the range but
    // miss it — the envelope alone would keep, the point set prunes
    assert(!ManifestPruning.keeps(e,
      nb(Seq(In(name, Seq(lit("c-0005"), lit("c-0025"))))), secondary = true))
    assert(ManifestPruning.keeps(e,
      nb(Seq(In(name, Seq(lit("c-0005"), lit("c-0012"))))), secondary = true))
    // no string secondary stats → conservative keep
    assert(ManifestPruning.keeps(e.withoutKey2Stats,
      nb(Seq(EqualTo(name, lit("c-0025")))), secondary = true))
    // long bounds on a string-statted secondary impose nothing
    val idb = ManifestPruning.bounds(Seq(EqualTo(id, lit(5L))), "id")
    assert(ManifestPruning.keeps(e, idb, secondary = true))
  }

  test("stats stripping: a stats-key change drops key ranges but keeps rows/bytes") {
    import SnapshotTable.FileEntry
    val e = FileEntry("p", Some(3L), Some(9L), Some(100L), Some(4096L),
      Some("a".getBytes), Some("z".getBytes), Some(1L), Some(2L))
    val s = e.withoutKeyStats
    assert(s.minKey.isEmpty && s.minStr.isEmpty && s.rows.contains(100L) &&
      s.bytes.contains(4096L) && s.min2.contains(1L),
      "primary-stats strip keeps the key-independent fields and the secondary")
  }

  test("merge retry strips update-file secondary stats when the table's statsKey2 moved") {
    import SnapshotTable.FileEntry
    // the race this guards: merge writes its update files ONCE (min2/
    // max2 measured on the statsKey2 observed at write time), then a
    // concurrent compact/append with an explicit statsKey2 commits
    // first; merge's retry re-derives effKey2 from the fresh manifest.
    // Committing the stale ranges under the new header name would let
    // conjunctive reads prune on a column the ranges never measured —
    // lost rows. The decision is a named function so the exact race
    // needn't be staged.
    val files = Seq(FileEntry("u", Some(0L), Some(9L), rows = Some(10L),
      bytes = Some(1024L), min2 = Some(3L), max2 = Some(7L)))
    // same key (any case): stats survive
    assert(SnapshotTable.reconcileUpdateStats(files, Some("chunk_idx"),
      Some("CHUNK_IDX")).head.min2.contains(3L))
    // key changed under us: secondary stats stripped, everything
    // key-independent (rows/bytes) and the PRIMARY stats stay — the
    // primary key is pinned by the merge itself and cannot drift
    val moved = SnapshotTable.reconcileUpdateStats(files, Some("chunk_idx"),
      Some("page_no")).head
    assert(moved.min2.isEmpty && moved.max2.isEmpty &&
      moved.minKey.contains(0L) && moved.rows.contains(10L))
    // None on either side only matches None: stats measured on SOME
    // key never commit under a header naming no key, and vice versa
    assert(SnapshotTable.reconcileUpdateStats(files, Some("chunk_idx"), None)
      .head.min2.isEmpty)
    assert(SnapshotTable.reconcileUpdateStats(files, None, Some("chunk_idx"))
      .head.min2.isEmpty)
    assert(SnapshotTable.reconcileUpdateStats(files, None, None)
      .head.min2.contains(3L), "no key anywhere — nothing to misattribute")
  }

  test("overlap predicates agree with unsigned byte order on high-bit content") {
    import SnapshotTable.FileEntry
    // 0xC3 0xA9 is UTF-8 'é' — signed byte comparison would order it
    // BELOW ascii; unsigned (the parquet/Spark order) puts it above
    val e = FileEntry("p", None, None, None, None,
      Some("café".getBytes("UTF-8")), Some("café".getBytes("UTF-8")))
    // the precise claim: é sorts AFTER 'z' in unsigned order
    assert(SnapshotTable.byteOrder.compare(
      "café".getBytes("UTF-8"), "cafz".getBytes("UTF-8")) > 0,
      "unsigned byte order must place multi-byte UTF-8 above ascii")
    assert(!ManifestPruning.keeps(e, ManifestPruning.KeyBounds(None,
      Some("cafa".getBytes("UTF-8")), Some("cafz".getBytes("UTF-8")))),
      "a file holding only 'café' must be prunable for an all-ascii range")
  }
}
