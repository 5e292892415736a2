package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionSpec, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.paths.SparkPath
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotTable

/** The `_graft_file` metadata column: each row's manifest-relative
  * data-file path. Selectable by users (`SELECT _graft_file, * FROM
  * t` — Delta's `_metadata.file_path` shape) and, more importantly,
  * the GROUP identity the row-level runtime filter collects: Spark's
  * `RowLevelOperationRuntimeGroupFiltering` runs the MERGE/UPDATE
  * condition once, gathers the DISTINCT matching `_graft_file`
  * values, and hands them back to the scan — so a join-keyed MERGE
  * over a 100 TB table rewrites only the files that actually hold
  * matches, with a runtime collect bounded by the FILE count, never
  * the key count. */
private[graft] object GraftFileColumn {
  val Name = "_graft_file"
}

/** The `_graft_row` metadata column: each row's ordinal in its data
  * file (parquet's row index; stable, because data files are
  * immutable). With [[GraftFileColumn]] it names one row of the table
  * exactly: deletion vectors record these (file, ordinal) pairs, and
  * the row-level rewrites that write them read them here. */
private[graft] object GraftRowColumn {
  val Name = "_graft_row"
}

/** The metadata columns every snapshot relation exposes. */
private[catalog] object GraftMetadataColumns {
  private def column(n: String, dt: org.apache.spark.sql.types.DataType, doc: String) =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = n
      override def dataType(): org.apache.spark.sql.types.DataType = dt
      override def isNullable: Boolean = false
      override def comment(): String = doc
    }
  val all: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = Array(
    column(GraftFileColumn.Name, StringType,
      "manifest-relative path of the data file this row came from"),
    column(GraftRowColumn.Name, LongType,
      "ordinal of this row in its data file"))
}

/** The snapshot table's DSv2 scan: manifest-pruned file planning in
  * front of Spark's own vectorized parquet batch machinery.
  *
  * Architecture (Iceberg's shape, this table's manifest):
  *  - `pushFilters` receives the query's V1 filters; every one is
  *    returned as residual (Spark keeps the row-level Filter — file
  *    stats only bound which FILES are scanned, the same conservative
  *    contract as every other read path here);
  *  - `build()` converts the pushed filters to catalyst conjuncts over
  *    physical names and asks the manifest which files survive
  *    ([[SnapshotTable.SqlSnapshot.keptFiles]] — the one shared pruning
  *    decision: verified stats, point-set blooms, absent stats keep);
  *  - kept files plan through a stock
  *    [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]]
  *    over a pre-pruned static index — splitting, vectorization,
  *    row-group skipping and codegen are all Spark's own;
  *  - column mapping costs a NAME, not a copy: files are read under
  *    their physical schema, and [[GraftScan.readSchema]] reports the
  *    logical twin — rows are positional, so no projection exists at
  *    runtime at all;
  *  - files carrying a deletion vector plan as their own (whole-file)
  *    partitions read row-based with parquet's generated row-index
  *    column; the reader loads the file's sorted deleted positions
  *    from its sidecar ON THE EXECUTOR ([[GraftDvPositions]], memoized
  *    per JVM) and drops those ordinals — position-filter-at-the-
  *    reader like Delta's and Iceberg's DV readers: no driver collect,
  *    no broadcast, no size bound, zero cost when the table carries no
  *    dv debt;
  *  - when [[GraftFileColumn]] or [[GraftRowColumn]] is requested (a
  *    user projection, a row-level operation's required metadata, or
  *    a programmatic rewrite that records positions), every file plans
  *    as a whole-file row partition and the reader appends the file's
  *    path and/or each row's ordinal — the file column also arms
  *    RUNTIME GROUP FILTERING ([[GraftScan.filter]]).
  *
  * `groupScan = true` is the row-level-operation mode (MERGE/UPDATE
  * copy-on-write): filters still prune FILES (file = replacement
  * group), but are never pushed into parquet — a group-based rewrite
  * must see every row of every kept file, carried rows included. */
private[catalog] final class GraftScanBuilder(spark: SparkSession,
    snap: SnapshotTable.SqlSnapshot, groupScan: Boolean,
    onPlan: (Int, Set[String]) => Unit = (_, _) => (),
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    manifestAggregates: Boolean = true)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = snap.schema
  private var withFileCol: Boolean = false
  private var withRowCol: Boolean = false
  private var pushed: Array[Filter] = Array.empty
  private var aggScan: Option[GraftManifestAggScan] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep the engine's pruned SUBTREE (nested schema pruning reaches
    // the parquet reader), canonicalizing only the top-level name's
    // case; the metadata column is ours, not the files'
    withFileCol = requiredSchema.fields.exists(
      _.name.equalsIgnoreCase(GraftFileColumn.Name))
    withRowCol = requiredSchema.fields.exists(
      _.name.equalsIgnoreCase(GraftRowColumn.Name))
    required = StructType(requiredSchema.fields.flatMap(f =>
      FilterBridge.fieldOf(snap.schema, f.name).map(tf => f.copy(name = tf.name))))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // ALL residual: the engine re-evaluates rows; stats only skip files
  }

  override def pushedFilters(): Array[Filter] = pushed

  // ---- aggregate pushdown: answered from the MANIFEST, zero data I/O ----
  // `SELECT COUNT(*) / MIN(k) / MAX(k) FROM t` over a dv-free snapshot
  // is a metadata question: every entry records its row count, and the
  // stats keys carry per-file attained bounds measured in the write
  // loop. At 100 TB that is the difference between a driver-side
  // manifest fold and a full-table scan. Refused (→ real scan, never a
  // wrong answer) on: group-bys, any dv debt (a deletion vector hides
  // uncounted deletions and possibly the attained extreme), residual
  // filters (Spark itself only pushes aggregates when no post-scan
  // filter remains — belt and braces here), non-stats-key MIN/MAX, or
  // any entry missing the fact — and on programmatic reads: their frame
  // pins a file list, and an aggregate over it reads those files (a
  // frame held across expire+vacuum then fails loudly instead of
  // answering from a manifest whose files are gone).

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translateAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translateAgg(agg) match {
      case Some((sch, row)) =>
        aggScan = Some(new GraftManifestAggScan(sch, Array(row),
          agg.aggregateExpressions.mkString(", "), snap))
        true
      case None => false
    }

  private def translateAgg(agg: Aggregation)
      : Option[(StructType, InternalRow)] = {
    if (!manifestAggregates || groupScan || pushed.nonEmpty ||
        agg.groupByExpressions.nonEmpty)
      return None
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case n: NamedReference if n.fieldNames().length == 1 =>
        Some(n.fieldNames().head)
      case _ => None
    }
    // (output type, value, nullable) per aggregate — int stats are
    // recorded widened to long, so an int column's extreme casts back
    // losslessly; strings come back as the full recorded value
    def bound(name: String, wantMax: Boolean)
        : Option[(org.apache.spark.sql.types.DataType, Any)] =
      FilterBridge.fieldOf(snap.schema, name).map(_.dataType).flatMap {
        case org.apache.spark.sql.types.IntegerType =>
          snap.exactLongBounds(name).map(b =>
            (org.apache.spark.sql.types.IntegerType,
              (if (wantMax) b._2 else b._1).toInt: Any))
        case LongType =>
          snap.exactLongBounds(name).map(b =>
            (LongType, (if (wantMax) b._2 else b._1): Any))
        case StringType =>
          snap.exactStringBounds(name).map(b =>
            (StringType, UTF8String.fromBytes(if (wantMax) b._2 else b._1): Any))
        case _ => None
      }
    val vals = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        snap.exactRows.map(n => (LongType: org.apache.spark.sql.types.DataType,
          n: Any, false))
      case mn: Min =>
        colName(mn.column).flatMap(bound(_, wantMax = false))
          .map { case (dt, v) => (dt, v, true) }
      case mx: Max =>
        colName(mx.column).flatMap(bound(_, wantMax = true))
          .map { case (dt, v) => (dt, v, true) }
      case _ => None
    }
    if (vals.isEmpty || vals.exists(_.isEmpty)) None
    else {
      val fs = vals.flatten
      val sch = StructType(fs.zipWithIndex.map { case ((dt, _, nullable), i) =>
        StructField(s"agg_$i", dt, nullable) })
      Some((sch, new GenericInternalRow(fs.map(_._2).toArray)))
    }
  }

  override def build(): Scan = {
    aggScan match {
      case Some(s) => return s
      case None => ()
    }
    // a pushed name resolves like a stats key (top-level, else a dotted
    // path through structs), so a filter on a nested key prunes too
    val fieldType = (n: String) => StatsSpec.locate(snap.schema, n).map(_._3)
    val bounds = pushed.flatMap(
      FilterBridge.toCatalystBound(_, fieldType, snap.physName)).toSeq
    val kept = snap.keptFiles(bounds)
    onPlan(snap.version, kept.map(_.relPath).toSet)
    // physical-named V1 filters for parquet row-group skipping — plain
    // files only, and never in group-scan mode (a group rewrite must
    // keep carried rows; a dv read derives positions from the parquet
    // row index, but row-group skips are skipped conservatively too)
    val parquetFilters =
      if (groupScan) Array.empty[Filter]
      else pushed.flatMap(FilterBridge.rename(_, snap.physNameOpt))
    new GraftScan(spark, snap, required, kept, parquetFilters, withFileCol,
      withRowCol, onPlan, options)
  }
}

/** See [[GraftScanBuilder]]. One instance = one planned version of one
  * table. The kept-file list starts at the manifest-pruned set and may
  * NARROW once more at execution via [[filter]] (runtime group
  * filtering); every `planInputPartitions`/`createReaderFactory` call
  * derives from the CURRENT set, so a post-filter re-plan sees the
  * narrowed files. */
private[graft] final class GraftScan(spark: SparkSession,
    snap: SnapshotTable.SqlSnapshot, required: StructType,
    initialKept: Seq[SnapshotTable.SqlDataFile], parquetFilters: Array[Filter],
    withFileCol: Boolean, withRowCol: Boolean, onPlan: (Int, Set[String]) => Unit,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
  extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  @volatile private var kept: Seq[SnapshotTable.SqlDataFile] = initialKept

  /** Rows carry metadata columns: every file is its own partition. */
  private def tagged: Boolean = withFileCol || withRowCol

  // ---- storage-partitioned planning (bucketed layout) ----

  /** The kept files with their bucket ids, iff this scan can plan
    * KEY-GROUPED: the snapshot carries the bucketed layout
    * ([[SnapshotTable.SqlSnapshot.bucketLayout]] — bucket count and
    * per-file ids ride in the file paths), the bucket key survives in
    * the read schema (the reported transform must resolve against the
    * relation output), and the scan is not [[tagged]]. Partitions
    * stay ONE PER FILE, each declaring its bucket via
    * [[HasPartitionKey]]: a standalone scan keeps full file-level
    * parallelism, and when `spark.sql.sources.v2.bucketing.enabled`
    * arms SPJ, Spark's own exec GROUPS same-key partitions — a join of
    * two tables bucketed on same-typed keys with the same count plans
    * ZERO shuffle exchanges.
    *
    * DELETION-VECTOR debt does NOT refuse: a dv hides rows, it never
    * moves one to another bucket, so a dv-bearing file still honors
    * its path's bucket id — it just plans as a row-based partition
    * whose reader filters deleted ordinals (the whole scan drops to
    * row-based, the mixed-partition rule). Before this, one point
    * DELETE anywhere downgraded every co-located join to a full
    * shuffle until `materializeDv`. */
  private def bucketedFiles: Option[(Int, String, Seq[(Int, SnapshotTable.SqlDataFile)])] =
    if (tagged) None
    else snap.bucketLayout.flatMap { case (n, byPath) =>
      val keyName = snap.statsKey.flatMap(k =>
        FilterBridge.fieldOf(required, k).map(_.name))
      keyName.map { k =>
        (n, k, kept.map(f => byPath(f.relPath) -> f).sortBy(_._1))
      }
    }

  /** The kept files with their IDENTITY partition tuples, iff this
    * scan can plan key-grouped over a PARTITIONED BY layout: every
    * kept file spells a complete typed partition tuple in its path and
    * every partition column survives in the read schema. Any
    * layout-agnostic file (a maintenance rewrite's output) refuses —
    * conservative, never a wrong co-location claim. The SPJ twin of
    * the bucketed report: two tables partitioned on same-typed columns
    * join on them with ZERO shuffle exchanges, and a GROUP BY the
    * partition columns plans no exchange. dv debt rides through
    * exactly like the bucketed case (a dv hides rows, it never moves
    * one across partitions). */
  private def identityPartitionedFiles
      : Option[(Seq[String], Seq[(Array[Any], SnapshotTable.SqlDataFile)])] = {
    if (tagged || snap.partitionCols.isEmpty) return None
    val logical = snap.partitionColsLogical
    if (logical.size != snap.partitionCols.size) return None
    // the reported references must resolve against the relation output
    val readNames = logical.map(l => FilterBridge.fieldOf(required, l).map(_.name))
    if (readNames.exists(_.isEmpty)) return None
    val types = snap.partitionTypes
    val rows = Seq.newBuilder[(Array[Any], SnapshotTable.SqlDataFile)]
    kept.foreach { f =>
      val vals = SnapshotTable.partValuesOf(f.relPath)
      val key = snap.partitionCols.map { phys =>
        val n = SnapshotTable.normName(phys)
        vals.get(n).flatMap(raw =>
          types.get(n).flatMap(SnapshotTable.partCatalystValue(raw, _)))
      }
      if (key.exists(_.isEmpty)) return None
      rows += ((key.map(_.get).toArray[Any], f))
    }
    Some((readNames.map(_.get), rows.result()))
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketedFiles match {
      case Some((n, key, files)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(Expressions.bucket(n, key)), files.size)
      case None => identityPartitionedFiles match {
        case Some((names, rows)) =>
          new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
            names.map(Expressions.identity(_)
              : org.apache.spark.sql.connector.expressions.Expression).toArray,
            rows.size)
        case None =>
          new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
            kept.size)
      }
    }

  /** Per-partition ordering ([[org.apache.spark.sql.connector.read.SupportsReportOrdering]]):
    * INVARIANT — every bucket file and every identity-partition file
    * is KEY-SORTED, because every layout-aware write hands the one
    * task writer ([[GraftTaskWriter]]) input clustered by directory and
    * sorted by the stats key: programmatic bucketed writes hash-
    * repartition on the key and sort within tasks, programmatic
    * partitioned writes sort by (partition columns, key) within
    * tasks, and the DSv2 row-level, dynamic-overwrite and streaming-
    * epoch writes require the same via [[GraftLayoutInput]]. So when
    * the scan plans key-grouped AND each group holds exactly ONE kept
    * file, the rows a task drains are sorted by the stats key.
    * Reporting that lets EnsureRequirements drop BOTH sides' SortExec
    * under a co-located
    * sort-merge join: the storage-partitioned join becomes shuffle-free
    * AND sort-free — at 100 TB the sort of two fact tables is the
    * join's remaining dominant cost once the exchange is gone.
    *
    * The one-file-per-group condition is load-bearing: under SPJ the
    * exec CONCATENATES same-key partitions into one task, and a
    * concatenation of two sorted files is not sorted — a wrong claim
    * here is silent wrong join output, so multi-file groups (salted
    * buckets, un-compacted appends, multi-generation partitions)
    * refuse. Deletion vectors ride through: the dv reader drops
    * ordinals, which preserves order. Runtime group filtering only
    * REMOVES files, so a plan-time claim stays valid at execution. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    def claim(keyName: String) = Array(
      Expressions.sort(Expressions.column(keyName), SortDirection.ASCENDING))
    bucketedFiles match {
      case Some((_, key, files)) if files.map(_._1).distinct.size == files.size =>
        claim(key)
      case Some(_) => Array.empty
      case None => identityPartitionedFiles match {
        case Some((_, rows)) if rows.map(_._1.toSeq).distinct.size == rows.size =>
          snap.statsKey.flatMap(k => FilterBridge.fieldOf(required, k).map(_.name))
            .map(claim).getOrElse(Array.empty)
        case _ => Array.empty
      }
    }
  }

  /** Exposed for the pruning specs: how many files this scan plans NOW
    * (manifest pruning, then any runtime group filter). */
  def keptFileCount: Int = kept.size
  def keptRelPaths: Seq[String] = kept.map(_.relPath)

  // the physical twin of the (possibly nested-pruned) read schema:
  // same tree SHAPE, physical names at every struct level — readers
  // emit positional rows, so the logical names above cost nothing
  private val physRequired = snap.physSchemaFor(required)
  private val dataTypes = physRequired.fields.map(_.dataType)

  override def readSchema(): StructType = StructType(required.fields ++
    Option.when(withFileCol)(StructField(GraftFileColumn.Name, StringType, nullable = false)) ++
    Option.when(withRowCol)(StructField(GraftRowColumn.Name, LongType, nullable = false)))

  override def description(): String =
    s"GraftScan ${snap.root} v${snap.version} files=${kept.size}"

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, kept.map(_.bytes).sum))
    override def numRows(): java.util.OptionalLong = {
      val rs = kept.map(_.rows)
      if (rs.nonEmpty && rs.forall(_.isDefined) && !kept.exists(_.hasDv))
        java.util.OptionalLong.of(rs.flatten.sum)
      else java.util.OptionalLong.empty()
    }
  }

  // ---- runtime group filtering ----

  override def filterAttributes(): Array[NamedReference] = {
    // partition columns arm DYNAMIC PARTITION PRUNING: Spark's
    // PartitionPruning rule plants a runtime IN-subquery on a join
    // whose key is a reported filter attribute, and hands the built
    // values back through [[filter]] — file counts then narrow to the
    // partitions the dim side actually kept. The STATS KEYS arm the
    // same machinery for clustered/bucketed/bloom-indexed tables: a
    // dim-filtered join on the key skips FILES at runtime through the
    // manifest's full pruning stack (ranges, blooms, bucket
    // arithmetic) — values the planner could never know statically.
    //
    // Two hard constraints: a FILE-TAGGED scan reports ONLY the group
    // identity (row-level operations narrow by `_graft_file`, and the
    // replace-set accounting rides that narrowing), and every reported
    // attribute must survive in the READ SCHEMA — the engine resolves
    // them against the scan output, and a projected-away column throws
    // at analysis (found by `SELECT lang FROM partitioned` under DPP).
    if (withFileCol) Array(Expressions.column(GraftFileColumn.Name))
    else {
      def inRead(n: String): Option[String] =
        FilterBridge.fieldOf(required, n).map(_.name)
      (snap.partitionColsLogical.flatMap(inRead) ++
        Seq(snap.statsKey, snap.statsKey2).flatten.flatMap(inRead))
        .distinct.map(Expressions.column).toArray
    }
  }

  /** Narrow the kept set to the files the runtime subquery proved can
    * hold matching rows — `IN (col, v1..vk)` / `= v` shapes over
    * `_graft_file` (row-level group filtering) or a declared PARTITION
    * column (DPP), conjunctive. Unrecognized predicates narrow nothing
    * (keeping a file is always correct); the recorded scanned set
    * follows the narrowing so a row-level WRITE replaces exactly what
    * was read. */
  override def filter(predicates: Array[Predicate]): Unit = {
    def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case n: NamedReference => Some(n.fieldNames().mkString("."))
        case _ => None
      }
    def litVal(e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
      e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] => Option(l.value)
        case _ => None
      }
    // logical partition column -> (normalized physical name, type)
    val partByLogical: Map[String, (String, org.apache.spark.sql.types.DataType)] = {
      val types = snap.partitionTypes
      snap.partitionColsLogical.flatMap { lg =>
        val phys = SnapshotTable.normName(snap.physName(lg))
        types.get(phys).map(dt => SnapshotTable.normName(lg) -> (phys, dt))
      }.toMap
    }
    // each recognized predicate contributes one conjunctive constraint
    val constraintsIn: Seq[(String, Set[Any])] = predicates.toSeq.flatMap { p =>
      val ch = p.children()
      val (ref, vals) = p.name() match {
        case "IN" if ch.nonEmpty => (refName(ch.head), ch.tail.toSeq.map(litVal))
        case "=" if ch.length == 2 && refName(ch.head).isDefined =>
          (refName(ch.head), Seq(litVal(ch(1))))
        case "=" if ch.length == 2 => (refName(ch(1)), Seq(litVal(ch.head)))
        case _ => (None, Seq.empty)
      }
      ref match {
        case Some(r) if vals.nonEmpty && vals.forall(_.isDefined) =>
          Some(r -> vals.flatten.toSet)
        case _ => None
      }
    }
    // stats keys (logical name -> physical attr + type): a runtime
    // IN-set on a clustered key re-prunes through the ONE shared
    // manifest decision — ranges, blooms, bucket arithmetic
    val statsKeyRefs: Map[String, (String, org.apache.spark.sql.types.DataType)] =
      Seq(snap.statsKey, snap.statsKey2).flatten.flatMap { k =>
        FilterBridge.fieldOf(snap.schema, k).map(f =>
          SnapshotTable.normName(f.name) -> (snap.physName(f.name), f.dataType))
      }.toMap
    var narrowed = false
    constraintsIn.foreach { case (ref, values) =>
      if (ref.equalsIgnoreCase(GraftFileColumn.Name)) {
        val allow = values.map(String.valueOf)
        kept = kept.filter(f => allow.contains(f.relPath))
        narrowed = true
      } else partByLogical.get(SnapshotTable.normName(ref)) match {
        case Some((phys, dt)) =>
          kept = kept.filter { f =>
            SnapshotTable.partValuesOf(f.relPath).get(phys) match {
              case None => true // unparseable layout: conservative keep
              case Some(raw) =>
                SnapshotTable.partCatalystValue(raw, dt) match {
                  // drop a file only when the comparison is PROVABLY
                  // type-exact: the parsed catalyst value's class must
                  // match a predicate literal's boxing — any drift
                  // (mirroring the stats-key branch's try/keep-all)
                  // keeps the file rather than silently dropping live
                  // rows on a representation mismatch
                  case Some(v) if values.exists(x =>
                      x != null && x.getClass == v.getClass) =>
                    values.contains(v)
                  case _ => true
                }
            }
          }
          narrowed = true
        case None => statsKeyRefs.get(SnapshotTable.normName(ref)).foreach {
          case (phys, dt) =>
            // values are catalyst-internal (the predicate's literals) —
            // exactly what In/Literal carry
            val in = org.apache.spark.sql.catalyst.expressions.In(
              org.apache.spark.sql.catalyst.expressions.AttributeReference(
                phys, dt)(),
              values.toSeq.map(v =>
                org.apache.spark.sql.catalyst.expressions.Literal(v, dt)))
            val allowed =
              try Some(snap.keptFiles(Seq(in)).map(_.relPath).toSet)
              catch { case _: Exception => None } // undecidable: keep all
            allowed.foreach { a =>
              kept = kept.filter(f => a.contains(f.relPath))
              narrowed = true
            }
        }
      }
    }
    if (narrowed) onPlan(snap.version, kept.map(_.relPath).toSet)
  }

  override def toBatch: Batch = this

  /** `spark.readStream.table(name)` — versions become micro-batches
    * (see [[GraftMicroBatchStream]]); the schema and column map lock
    * here, at stream start, from the snapshot this scan resolved. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(spark, snap, physRequired, options)

  // ---- physical planning (recomputed from the CURRENT kept set) ----

  private def parquetScanOver(files: Seq[SnapshotTable.SqlDataFile],
      readSchema: StructType, filters: Array[Filter]): ParquetScan =
    // a PRIVATE conf copy per scan: ParquetScan.createReaderFactory
    // WRITES its requested-schema keys into the conf it was given and
    // broadcasts it lazily — two scans sharing the session conf would
    // clobber each other's read schema (a one-column batch under a
    // two-column converter; found the hard way on MERGE, whose plan
    // holds the target scan AND the runtime-filter subquery scan)
    new ParquetScan(spark,
      new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration),
      StaticFileIndex.over(spark, new Path(snap.root), files),
      snap.physSchema, readSchema, new StructType(), filters,
      CaseInsensitiveStringMap.empty(), None, Seq.empty, Seq.empty,
      Array.empty)

  /** Positional reads (dv files, and every file of a [[tagged]] scan)
    * append parquet's generated row-index column
    * (correct ordinals under splits and row-group structure alike) and
    * push NO filters — the reader must see the true ordinal stream,
    * and the residual Filter above re-applies predicates anyway. The
    * field is nullable: absent from the file by construction, the
    * reader null-fills it as "missing", then its row-index generator
    * overwrites the vector with true ordinals. */
  private def rowIndexSchema: StructType =
    StructType(physRequired.fields :+ StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true))

  private def wholeFile(f: SnapshotTable.SqlDataFile, idx: Int): FilePartition =
    FilePartition(idx, Array(PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(new Path(snap.root, f.relPath).toString),
      0L, f.bytes, Array.empty, 0L, f.bytes, Map.empty)))

  override def planInputPartitions(): Array[InputPartition] = {
    val files = kept
    bucketedFiles match {
      case Some((_, _, bucketed)) =>
        // one whole-file partition per file, bucket id attached; the
        // exec groups same-key partitions when SPJ is armed. A dv
        // file rides under the same key — its reader drops deleted
        // ordinals, so grouping stays sound (a dv never re-buckets a
        // surviving row).
        return bucketed.zipWithIndex.map { case ((b, f), i) =>
          GraftBucketPartition(wholeFile(f, i), b, f.relPath, f.dv): InputPartition
        }.toArray
      case None => identityPartitionedFiles match {
        case Some((_, rows)) =>
          // identity-partitioned twin: one whole-file partition per
          // file declaring its partition TUPLE; same dv discipline
          return rows.zipWithIndex.map { case ((key, f), i) =>
            GraftValuePartition(wholeFile(f, i), key, f.relPath, f.dv): InputPartition
          }.toArray
        case None => ()
      }
    }
    if (tagged) {
      // tagged mode: one whole-file row partition per file — the
      // reader must know which file it drains (path column, ordinals,
      // dv set)
      files.zipWithIndex.map { case (f, i) =>
        GraftTaggedPartition(wholeFile(f, i), f.relPath, f.dv): InputPartition
      }.toArray
    } else {
      val (dvFiles, plainFiles) = files.partition(_.hasDv)
      val plain =
        if (plainFiles.isEmpty) Array.empty[InputPartition]
        else parquetScanOver(plainFiles, physRequired, parquetFilters)
          .toBatch.planInputPartitions()
      val dv = dvFiles.zipWithIndex.map { case (f, i) =>
        GraftDvPartition(wholeFile(f, plain.length + i), f.relPath, f.dv.get): InputPartition
      }.toArray
      plain ++ dv
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val files = kept
    val (dvFiles, plainFiles) = files.partition(_.hasDv)
    val plainFactory =
      if (tagged || plainFiles.isEmpty) None
      else Some(parquetScanOver(plainFiles, physRequired, parquetFilters)
        .toBatch.createReaderFactory())
    val positional =
      if (dvFiles.isEmpty && !tagged) None
      else Some(parquetScanOver(if (tagged) files else dvFiles, rowIndexSchema,
        Array.empty).toBatch.createReaderFactory())
    GraftReaderFactory(snap.root, plainFactory, positional, dataTypes,
      withFileCol, withRowCol,
      // BatchScanExec refuses mixed row/columnar partitions: any dv
      // file (or any metadata column) forces the whole scan row-based
      forceRow = dvFiles.nonEmpty || tagged)
  }
}

/** A fully-pushed aggregate answered from the manifest: the one result
  * row was computed on the DRIVER from recorded per-file facts, so the
  * engine plans a [[org.apache.spark.sql.execution.LocalTableScanExec]]
  * — zero input partitions, zero parquet files opened, zero Spark
  * jobs. The executed-plan proof in GraftCatalogSpec asserts exactly
  * that (no BatchScan anywhere in the plan). */
private[graft] final class GraftManifestAggScan(schema: StructType,
    data: Array[InternalRow], pushedAggs: String,
    snap: SnapshotTable.SqlSnapshot) extends LocalScan {
  override def rows(): Array[InternalRow] = data
  override def readSchema(): StructType = schema
  override def description(): String =
    s"GraftManifestAggScan ${snap.root} v${snap.version} pushed=[$pushedAggs]"
}

/** A dv-carrying file's scan unit: the stock [[FilePartition]] the
  * parquet reader consumes, the manifest-relative path whose deleted
  * positions apply, and the sidecar directory that holds them. */
private[graft] final case class GraftDvPartition(inner: FilePartition,
    relPath: String, dvDir: String) extends InputPartition

/** One BUCKET of a bucketed snapshot as a single scan unit: the stock
  * [[FilePartition]] over the bucket's (whole) files, declaring its
  * bucket id through [[org.apache.spark.sql.connector.read
  * .HasPartitionKey]] so the engine's key-grouped machinery can line
  * it up against the other join side's same-id partition. Reads stay
  * columnar unless the file carries a deletion vector — then its
  * reader filters deleted ordinals row-based under the SAME partition
  * key (dv debt hides rows, it never re-buckets one). */
private[graft] final case class GraftBucketPartition(inner: FilePartition,
    bucketId: Int, relPath: String = null, dv: Option[String] = None)
  extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  def hasDv: Boolean = dv.isDefined
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/** One file of an IDENTITY-partitioned snapshot as a key-grouped scan
  * unit: its partition TUPLE (catalyst values, path-derived) is the
  * partition key the SPJ machinery groups and aligns on. */
private[graft] final case class GraftValuePartition(inner: FilePartition,
    keyVals: Array[Any], relPath: String, dv: Option[String])
  extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(keyVals)
}

/** A whole-file partition in tagged mode (a metadata column
  * requested): rows get the file's path and/or their ordinal
  * appended, and the dv position filter applies when the file carries
  * one. */
private[graft] final case class GraftTaggedPartition(inner: FilePartition,
    relPath: String, dv: Option[String]) extends InputPartition

/** Routes plain partitions to the stock parquet reader factory
  * (columnar included) and dv/tagged partitions to row-based readers
  * over the row-index read ([[GraftPositionReader]]). Deleted
  * positions load on the executor, from the
  * sidecar under `root` that the partition names, with the conf the
  * positional parquet reader already ships. */
private[catalog] final case class GraftReaderFactory(root: String,
    plain: Option[PartitionReaderFactory], positional: Option[PartitionReaderFactory],
    dataTypes: Array[org.apache.spark.sql.types.DataType],
    withFile: Boolean, withRow: Boolean, forceRow: Boolean) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    !forceRow && (partition match {
      case _: GraftDvPartition | _: GraftTaggedPartition => false
      case GraftBucketPartition(inner, _, _, _) =>
        plain.exists(_.supportColumnarReads(inner))
      case GraftValuePartition(inner, _, _, _) =>
        plain.exists(_.supportColumnarReads(inner))
      case other => plain.exists(_.supportColumnarReads(other))
    })

  private def positions(inner: FilePartition, rel: String, dv: Option[String])
      : PartitionReader[InternalRow] =
    new GraftPositionReader(positional.get.createReader(inner), dataTypes,
      dv.map(GraftDvPositions.of(
        org.apache.spark.sql.graftbridge.Bridge.hadoopConfOf(positional.get).get, root, _, rel))
        .getOrElse(Array.emptyLongArray),
      Option.when(withFile)(rel), withRow)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftDvPartition(inner, rel, dv) => positions(inner, rel, Some(dv))
      case GraftTaggedPartition(inner, rel, dv) => positions(inner, rel, dv)
      case GraftBucketPartition(inner, _, rel, dv) =>
        if (dv.isDefined) positions(inner, rel, dv) else plain.get.createReader(inner)
      case GraftValuePartition(inner, _, rel, dv) =>
        if (dv.isDefined) positions(inner, rel, dv) else plain.get.createReader(inner)
      case other => plain.get.createReader(other)
    }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match { // only reachable for plain/dv-free keyed parts
      case GraftBucketPartition(inner, _, _, _) => plain.get.createColumnarReader(inner)
      case GraftValuePartition(inner, _, _, _) => plain.get.createColumnarReader(inner)
      case other => plain.get.createColumnarReader(other)
    }
}

/** Reads one file positionally: drops rows whose parquet row ordinal
  * (the generated row-index column, LAST in the delegate's schema)
  * appears in `deleted` (sorted), and emits the data columns followed
  * by the file's path (`relPath`, the [[GraftFileColumn]] slot) and
  * the ordinal itself ([[GraftRowColumn]]) when asked — exactly the
  * scan's declared schema. The projection's row is reused per call,
  * like every scan reader's. */
private[catalog] final class GraftPositionReader(
    delegate: PartitionReader[InternalRow], dataTypes: Array[org.apache.spark.sql.types.DataType],
    deleted: Array[Long], relPath: Option[String], withRow: Boolean)
  extends PartitionReader[InternalRow] {

  private val idxOrdinal = dataTypes.length
  private lazy val proj = UnsafeProjection.create(
    dataTypes.zipWithIndex.map { case (dt, i) =>
      BoundReference(i, dt, nullable = true): org.apache.spark.sql.catalyst.expressions.Expression
    }.toIndexedSeq ++
      relPath.map(p => Literal(UTF8String.fromString(p), StringType)) ++
      Option.when(withRow)(BoundReference(idxOrdinal, LongType, nullable = false)))
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (delegate.next()) {
      val r = delegate.get()
      if (deleted.isEmpty ||
          java.util.Arrays.binarySearch(deleted, r.getLong(idxOrdinal)) < 0) {
        current = proj(r)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = delegate.close()
}

/** Deleted row positions, loaded where the data file is read. A dv
  * commit writes a NEW sidecar directory (`deletes/batch-*`) holding
  * the full effective position set of every file it touched, as
  * (manifest-relative path, ordinal) rows, and never rewrites one — so
  * the positions behind (root, sidecar dir, file) are immutable. The
  * first reader of a sidecar in a JVM reads the whole directory once
  * and memoizes its per-file sorted sets; every later file of that
  * sidecar, and every later scan, is a map hit. Retention is bounded
  * by [[MaxRetained]] positions (LRU by directory); a sidecar larger
  * than that is served but not kept. No driver collect, no broadcast,
  * no size bound on what a scan may read. */
private[graft] object GraftDvPositions {
  private val MaxRetained = 4L * 1000 * 1000

  private val memo =
    new java.util.LinkedHashMap[(String, String), Map[String, Array[Long]]](16, 0.75f, true)
  private var retained = 0L

  private def size(m: Map[String, Array[Long]]): Long = m.valuesIterator.map(_.length.toLong).sum

  /** The sorted deleted ordinals of `relPath` recorded in sidecar
    * `dvDir` of the table at `root`. */
  def of(conf: org.apache.hadoop.conf.Configuration, root: String, dvDir: String,
      relPath: String): Array[Long] = {
    val key = (root, dvDir)
    val byFile = memo.synchronized(Option(memo.get(key))).getOrElse {
      val loaded = load(conf, new Path(root, dvDir))
      val n = size(loaded)
      memo.synchronized {
        if (n <= MaxRetained && !memo.containsKey(key)) {
          memo.put(key, loaded)
          retained += n
          val it = memo.entrySet().iterator()
          while (retained > MaxRetained && it.hasNext) {
            retained -= size(it.next().getValue)
            it.remove()
          }
        }
      }
      loaded
    }
    byFile.getOrElse(relPath, Array.emptyLongArray)
  }

  private def load(conf: org.apache.hadoop.conf.Configuration, dir: Path)
      : Map[String, Array[Long]] = {
    val fs = dir.getFileSystem(conf)
    val byFile = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
    fs.listStatus(dir).iterator
      .filter { st => val n = st.getPath.getName; !n.startsWith("_") && !n.startsWith(".") }
      .foreach { st =>
        val reader = org.apache.parquet.hadoop.ParquetReader.builder(
          new org.apache.parquet.hadoop.example.GroupReadSupport(), st.getPath)
          .withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) {
            byFile.getOrElseUpdate(g.getString(SnapshotTable.DvPathCol, 0),
              new scala.collection.mutable.ArrayBuilder.ofLong) += g.getLong(SnapshotTable.DvPosCol, 0)
            g = reader.read()
          }
        } finally reader.close()
      }
    byFile.iterator.map { case (f, b) =>
      val a = b.result(); java.util.Arrays.sort(a); f -> a
    }.toMap
  }
}

/** A [[PartitioningAwareFileIndex]] over a FIXED file list — the
  * manifest already decided what to scan (sizes included: zero
  * filesystem calls), so the index just carries statuses into Spark's
  * split planning. Unpartitioned by construction (the table's layout
  * lives in the manifest, not in directory names). */
private[catalog] final class StaticFileIndex(spark: SparkSession,
    root: Path, statuses: Seq[FileStatus])
  extends PartitioningAwareFileIndex(
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
    Map.empty, None) {

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override def leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray }
  override def rootPaths: Seq[Path] = Seq(root)
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_.getLen).sum
  // the base class resolves files by walking rootPaths through the
  // leaf-dir map (this list's parents are data/batch-* dirs, not the
  // root) — the list IS the answer, pruning already happened upstream
  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
    Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
      InternalRow.empty, statuses.toArray))
  override def allFiles(): Seq[FileStatus] = statuses
  override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray
}

private[catalog] object StaticFileIndex {
  /** The index over manifest files under `root`, statuses built from
    * their recorded sizes. */
  def over(spark: SparkSession, root: Path,
      files: Seq[SnapshotTable.SqlDataFile]): StaticFileIndex =
    new StaticFileIndex(spark, root, files.map(f =>
      new FileStatus(f.bytes, false, 1, math.max(f.bytes, 1L), 0L, new Path(root, f.relPath))))
}
