package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PROPERTY: partition pruning never loses a live row — for ANY
  * predicate from a generated grammar over partition columns, data
  * columns, and mixes of both, the pruned read's result equals the
  * full scan filtered. This is the soundness claim every file skip
  * rests on, and it covers the round-15 generalization
  * (`prunePartTypesOf`: pruning keyed by every path-safe column, not
  * the current spec) across a partition-spec EVOLUTION — era-1 files
  * spell only `lang`, era-2 files spell `lang,day`, and the property
  * must hold on both eras under both keys plus the stats key.
  *
  * PARITY: every entry point reaches the same file-skipping decision
  * ([[ManifestPruning.partition]], called directly as the reference)
  * — `readIndexed` and the catalog read return the same rows and keep
  * the same files for every generated predicate, and the key/range
  * APIs (`readKeys`, `readKeysStr`, `readRange`) and merge's
  * touched-file split keep exactly the files the filter-driven
  * decision keeps for the equivalent conjuncts. */
class PartitionPruningPropertySpec extends SparkSpec {
  import spark.implicits._

  // one fixture for every sample (table builds are the expensive part):
  // a two-era evolved table — the adversarial layout shape
  // the table lives inside a catalog warehouse (`pprop.main.t`) so the
  // catalog read and the programmatic read scan the same files
  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pprop").toString
    spark.conf.set("spark.sql.catalog.pprop", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pprop.warehouse", dir)
    dir
  }
  private lazy val root: String = {
    val r = s"$wh/main/t"
    val era1 = (0L until 120L).map(i => (i, s"l${i % 3}", s"d${i % 4}"))
      .toDF("id", "lang", "day").repartition(3)
    SnapshotTable.create(spark, r, era1,
      statsKey = Some("id"), partitionCols = Seq("lang"))
    SnapshotTable.setPartitionSpec(spark, r, Seq("lang", "day"))
    val era2 = (120L until 240L).map(i => (i, s"l${i % 3}", s"d${i % 4}"))
      .toDF("id", "lang", "day").repartition(3)
    SnapshotTable.append(spark, r, era2)
    // a dv inside one era: pruning must stay exact under deletion debt
    SnapshotTable.deleteWhere(spark, r, col("id") === 7L)
    r
  }

  // the predicate grammar: equality/IN/range/null-test atoms over all
  // three columns, composed with AND/OR/NOT to depth 2. IN lists run to
  // 30 literals: past 10 distinct ones the optimizer turns them into
  // InSet, so both forms reach the file index
  private def atom(rnd: scala.util.Random): Column = rnd.nextInt(8) match {
    case 0 => col("lang") === s"l${rnd.nextInt(4)}" // sometimes absent value
    case 1 => col("day") === s"d${rnd.nextInt(5)}"
    case 2 => col("lang").isin(Seq.fill(rnd.nextInt(30) + 1)(s"l${rnd.nextInt(4)}"): _*)
    case 3 => col("id") >= rnd.nextInt(260).toLong
    case 4 => col("id") < rnd.nextInt(260).toLong
    case 5 => col("day") =!= s"d${rnd.nextInt(5)}"
    case 6 => col("lang").isNotNull
    case 7 => col("id").isin(Seq.fill(rnd.nextInt(30) + 1)(rnd.nextInt(260).toLong): _*)
  }
  private def pred(rnd: scala.util.Random, depth: Int): Column =
    if (depth == 0) atom(rnd)
    else rnd.nextInt(4) match {
      case 0 => pred(rnd, depth - 1) && pred(rnd, depth - 1)
      case 1 => pred(rnd, depth - 1) || pred(rnd, depth - 1)
      case 2 => !pred(rnd, depth - 1)
      case _ => atom(rnd)
    }

  test("PROPERTY: pruned read ≡ full-scan filter, across an evolved layout with dv debt") {
    val rnd = new scala.util.Random(42)
    // the ground truth, computed ONCE without any pruning machinery:
    // every live row as a local set
    val all = SnapshotTable.read(spark, root)
      .select("id", "lang", "day").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(all.size == 239) // 240 minus the dv'd row
    (1 to 40).foreach { i =>
      val p = pred(rnd, 2)
      // pruned path: the Catalyst-indexed read pushes the filter into
      // the snapshot scan (ranges, blooms, partitionKeeps)
      val got = SnapshotTable.readIndexed(spark, root).filter(p)
        .select("id", "lang", "day").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      // oracle: filter the ground truth with Spark's own evaluation
      // over a local frame (no files, no pruning)
      val want = spark.createDataFrame(
        java.util.Arrays.asList(all.toSeq.map(t =>
          org.apache.spark.sql.Row(t._1, t._2, t._3)): _*),
        SnapshotTable.read(spark, root).select("id", "lang", "day").schema)
        .filter(p).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == want,
        s"sample $i: pruning changed the answer for $p\n" +
          s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  // a STRING-keyed table: range-clustered files plus one unclustered
  // append whose key range spans the space (only its bloom can skip it)
  private lazy val sroot: String = {
    val r = s"${java.nio.file.Files.createTempDirectory("graft-pprop-s")}/t"
    SnapshotTable.create(spark, r, (0 until 200).map(i => (f"k$i%03d", i.toLong))
      .toDF("name", "v").repartitionByRange(4, col("name")), statsKey = Some("name"))
    SnapshotTable.append(spark, r, (0 until 60).map(i => (f"k${(i * 37 + 5) % 300}%03d", i.toLong))
      .toDF("name", "v").coalesce(1))
    r
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String)] =
    df.select("id", "lang", "day").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  // manifest-relative path of an absolute file path under `under`
  private def rel(under: String)(p: String): String =
    p.substring(p.indexOf(under) + under.length + 1)

  private def head(r: String) =
    SnapshotTable.manifestFull(spark, r, SnapshotTable.versions(spark, r).last)

  /** THE reference: [[ManifestPruning.partition]] called directly on
    * the head manifest with catalyst conjuncts over stats key `key`
    * (these tables carry no column map, so logical names are the
    * physical ones the manifest prunes on; every path-safe column may
    * prune through partition directories). */
  private def reference(r: String, key: String,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Set[String] = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val partTypes = head(r).schema.get.fields.collect {
      case f if f.dataType == LongType || f.dataType == StringType => f.name -> f.dataType
    }.toMap
    ManifestPruning.partition(head(r).entries, Some(ManifestPruning.bounds(filters, key)),
      None, None, filters, partTypes)._1.map(_.path).toSet
  }

  /** The files the snapshot scans of `df`'s plan keep. */
  private def scanKept(df: org.apache.spark.sql.DataFrame): Set[String] =
    graft.PlanWalk.batchScans(df).map(_.scan)
      .collect { case g: graft.catalog.GraftScan => g.keptRelPaths }.flatten.toSet

  /** The conjuncts of the filter Catalyst plans above the scan. */
  private def conjuncts(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => split(f.condition)
    }.flatten
  }

  // (name kept from when readIndexed planned through a V1 index: both
  // sides are now the one snapshot scan, checked against the reference)
  test("PARITY: readIndexed (V1) and the catalog scan (DSv2) keep the same files and rows") {
    val rnd = new scala.util.Random(7)
    (1 to 30).foreach { i =>
      val p = pred(rnd, 2)
      val v1 = SnapshotTable.readIndexed(spark, root).filter(p)
      val v2 = spark.table("pprop.main.t").filter(p)
      assert(rows(v1) == rows(v2), s"sample $i: rows differ for $p")
      assert(graft.PlanWalk.batchScans(v1).size == 1, s"sample $i: one table scan for $p")
      // the catalog's filter translation (graft.catalog.FilterBridge)
      // carries OR, NOT and null-test conjuncts too: the same decision
      // on the full predicate
      val want = reference(root, "id", conjuncts(v1))
      assert(scanKept(v1) == want, s"sample $i: readIndexed kept files differ for $p")
      assert(scanKept(v2) == want, s"sample $i: catalog kept files differ for $p")
    }
  }

  test("PARITY: readKeys / readKeysStr / readRange and merge's split keep the filter decision") {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
      GreaterThanOrEqual, In, InSet, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // data files only: a read lists exactly the entries it reads
    def readKept(r: String, df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.map(rel(r)).toSet.intersect(head(r).entries.map(_.path).toSet)
    val id = AttributeReference("id", LongType)()
    val name = AttributeReference("name", StringType)()
    val (m, ms) = (head(root), head(sroot))
    val rnd = new scala.util.Random(11)
    var pruned = 0
    (1 to 25).foreach { i =>
      // long points (some absent), sorted as merge's key collect sorts them
      val ks = Array.fill(rnd.nextInt(30) + 1)(rnd.nextInt(280).toLong).distinct.sorted
      val want = reference(root, "id", Seq(In(id, ks.toSeq.map(Literal(_)))))
      // the optimizer's InSet form of the same list decides the same
      assert(reference(root, "id", Seq(InSet(id, ks.toSet[Any]))) == want, s"InSet ${ks.toSeq}")
      pruned += m.entries.size - want.size
      assert(readKept(root, SnapshotTable.readKeys(spark, root, "id", ks)) == want,
        s"readKeys ${ks.toSeq}")
      assert(SnapshotTable.touchedSplit(m, "id", Some(ks), None)._1.map(_.path).toSet == want,
        s"merge split ${ks.toSeq}")
      // string points, through the string stats and blooms
      val ss = Array.fill(rnd.nextInt(30) + 1)(f"k${rnd.nextInt(300)}%03d").distinct.sorted
      val sb = ss.map(_.getBytes("UTF-8"))
      val wantS = reference(sroot, "name", Seq(In(name,
        ss.toSeq.map(s => Literal(UTF8String.fromString(s), StringType)))))
      assert(reference(sroot, "name",
        Seq(InSet(name, ss.toSet[String].map(UTF8String.fromString(_): Any)))) == wantS,
        s"InSet ${ss.toSeq}")
      pruned += ms.entries.size - wantS.size
      assert(readKept(sroot, SnapshotTable.readKeysStr(spark, sroot, "name", ss)) == wantS,
        s"readKeysStr ${ss.toSeq}")
      assert(SnapshotTable.touchedSplit(ms, "name", None, Some(sb))._1.map(_.path).toSet == wantS,
        s"merge split ${ss.toSeq}")
      // a range [lo, hi], lo <= hi
      val lo = rnd.nextInt(260).toLong
      val hi = lo + rnd.nextInt(80)
      val wantR = reference(root, "id",
        Seq(And(GreaterThanOrEqual(id, Literal(lo)), LessThanOrEqual(id, Literal(hi)))))
      assert(readKept(root, SnapshotTable.readRange(spark, root, lo, hi)) == wantR,
        s"readRange [$lo, $hi]")
    }
    assert(pruned > 0, "the generated probes must exercise skipping, not only keeps")
  }

  // eight range-clustered files of 100 keys each, inside the catalog
  // warehouse so the DSv2 scan reads the same table
  private lazy val root8: String = {
    val r = s"$wh/main/t8"
    SnapshotTable.create(spark, r, spark.range(0, 800).select(col("id"), lit("v").as("v"))
      .repartitionByRange(8, col("id")), statsKey = Some("id"))
    r
  }

  test("PARITY: an IN list past the InSet threshold prunes on every path (readIndexed, deleteWhere, DSv2, readKeys)") {
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val keys = (20L until 40L).toArray // 20 keys, all in the first file
    assert(SnapshotTable.manifestFull(spark, root8, 1).entries.size == 8)
    val pred = col("id").isin(keys.toSeq: _*)
    // the optimizer hands the scan an InSet
    val v1 = SnapshotTable.readIndexed(spark, root8).filter(pred)
    assert(conjuncts(v1).exists(_.isInstanceOf[InSet]), conjuncts(v1).toString)
    val want = reference(root8, "id", conjuncts(v1))
    val v1Kept = scanKept(v1)
    val v2Kept = scanKept(spark.table("pprop.main.t8").filter(pred))
    val keysKept = SnapshotTable.readKeys(spark, root8, "id", keys).inputFiles.map(rel(root8)).toSet
    assert(want.size == 1 && v1Kept == want && v2Kept == want && keysKept == want,
      s"reference $want, readIndexed $v1Kept, catalog $v2Kept, readKeys $keysKept")
    assert(v1.count() == 20)
    // deleteWhere's row-level scan: the same decision, seen on the scan
    // its predicate job executed
    def nodes(p: SparkPlan): Seq[SparkPlan] = graft.PlanWalk.executedNodes(p).flatMap {
      case i: InMemoryTableScanExec => i +: nodes(i.relation.cachedPlan)
      case other => Seq(other)
    }
    val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = done.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def tableScans(): Seq[graft.catalog.GraftScan] = done.toArray(Array.empty[QueryExecution]).toSeq
      .flatMap(qe => nodes(qe.executedPlan)).collect {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.catalog.GraftScan] =>
          b.scan.asInstanceOf[graft.catalog.GraftScan]
      }
    spark.listenerManager.register(listener)
    try {
      assert(SnapshotTable.deleteWhere(spark, root8, pred).isDefined)
      val deadline = System.currentTimeMillis() + 20000
      while (tableScans().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val delScans = tableScans()
    assert(delScans.nonEmpty, "deleteWhere ran no snapshot scan")
    assert(delScans.forall(_.keptFileCount == 1),
      s"deleteWhere scanned ${delScans.map(_.keptFileCount)} files")
    assert(SnapshotTable.read(spark, root8).count() == 780)
  }
}
