package graft.catalog

import java.util.{Collections, Set => JSet}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.SnapshotTable

/** The snapshot table as a DSv2 [[Table]] — the object the catalog
  * hands the engine for `SELECT`/`INSERT`/`DELETE`/`MERGE`/`UPDATE`,
  * optionally pinned to a historical version (`VERSION AS OF` /
  * `TIMESTAMP AS OF` resolve in [[GraftCatalog.loadTable]]).
  *
  * Read: [[GraftScanBuilder]] (manifest-pruned stock parquet batches).
  * Write: [[GraftWriteBuilder]] (V1 insert through the table's own
  * commit machinery). DELETE: filter-translatable predicates take the
  * metadata-only deletion-vector path ([[SnapshotTable.deleteWhere]] —
  * no data file rewritten); everything else falls to the row-level
  * copy-on-write plan, exactly Spark's own
  * `OptimizeMetadataOnlyDeleteFromTable` / `RewriteDeleteFromTable`
  * split. MERGE/UPDATE: group-based [[RowLevelOperation]] (files are
  * the groups; the scan records what it read, the write replaces
  * exactly those files).
  *
  * A time-travel pin makes the table read-only, loudly. */
private[catalog] final class GraftTable(spark: SparkSession, val root: String,
    ident: String, pinnedVersion: Option[Int])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with SupportsPartitionManagement {

  /** Resolved fresh per Table instance (the catalog loads a new Table
    * per statement, so DDL between statements is always visible). */
  private[catalog] lazy val snap: SnapshotTable.SqlSnapshot =
    SnapshotTable.sqlSnapshot(spark, root, pinnedVersion)

  override def name(): String = ident

  override def schema(): StructType = snap.schema

  /** Declared Hive-style partition columns as identity transforms —
    * what `SHOW CREATE TABLE` / DESCRIBE report. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    snap.partitionColsLogical.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray

  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("location", root)
    m.put("format", "graft-snapshot")
    snap.statsKey.foreach(m.put("statsKey", _))
    snap.statsKey2.foreach(m.put("statsKey2", _))
    snap.declaredBuckets.foreach(b => m.put("buckets", b.toString))
    if (snap.declaredZorder) m.put("zorder", "true")
    if (snap.partitionCols.nonEmpty)
      m.put("partitionCols", snap.partitionColsLogical.mkString(","))
    pinnedVersion.foreach(v => m.put("versionAsOf", v.toString))
    m
  }

  override def capabilities(): JSet[TableCapability] = {
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      // appends/overwrite-by-filter ride the V1 write (the table's own
      // commit machinery); BATCH_WRITE is additionally declared because
      // dynamic overwrite has no V1 exec — its Write exposes a real
      // BatchWrite (executor parquet writers), and the capability check
      // requires BATCH_WRITE specifically for that plan
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // name-addressed Structured Streaming: versions as micro-batches
      // in, one atomic txn-marked append per epoch out
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
    Collections.unmodifiableSet(caps)
  }

  /** `_graft_file`: each row's manifest-relative data-file path —
    * user-selectable (Delta's `_metadata.file_path` shape) and the
    * group identity runtime group filtering collects for row-level
    * operations; `_graft_row`: the row's ordinal in that file. */
  override def metadataColumns(): Array[MetadataColumn] = GraftMetadataColumns.all

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, snap, groupScan = false, options = options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable()
    new GraftWriteBuilder(spark, root)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinnedVersion.isEmpty &&
      filters.forall(f => FilterBridge.toColumn(f, snap.schema).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable()
    val pred = filters.flatMap(FilterBridge.toColumn(_, snap.schema))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    SnapshotTable.deleteWhere(spark, root, pred)
    ()
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireWritable()
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GraftRowLevelOperation(spark, snap, info.command)
    }
  }

  private def requireWritable(): Unit =
    require(pinnedVersion.isEmpty,
      s"table $ident is pinned to version ${pinnedVersion.get} (time travel) " +
        "and cannot be written; address the table without VERSION AS OF")

  // ---- SupportsPartitionManagement: SHOW PARTITIONS / DROP PARTITION ----
  // Partitions on a graft table are FACTS of written files, not catalog
  // objects: they come into existence by writing rows and leave by
  // dropping files — so ADD/metadata mutations refuse, listing reads
  // the manifest (zero data I/O), and DROP PARTITION is a pure-metadata
  // file removal ([[SnapshotTable.dropPartition]]).

  override def partitionSchema(): StructType = {
    val logical = snap.partitionColsLogical
    org.apache.spark.sql.types.StructType(logical.flatMap(l =>
      snap.schema.fields.find(_.name == l)))
  }

  /** The raw (path-spelled) value of `ident`'s field `i` — the exact
    * string the partitioned writer derives from `cast(col as string)`,
    * so tuple matching is byte-exact with the layout. */
  private def rawValue(identRow: org.apache.spark.sql.catalyst.InternalRow,
      i: Int, dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.IntegerType => identRow.getInt(i).toString
    case org.apache.spark.sql.types.LongType => identRow.getLong(i).toString
    case org.apache.spark.sql.types.StringType => identRow.getUTF8String(i).toString
    case org.apache.spark.sql.types.DateType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaDate(identRow.getInt(i)).toString
    case other => throw new UnsupportedOperationException(
      s"unsupported partition type ${other.simpleString}")
  }

  override def listPartitionIdentifiers(names: Array[String],
      identRow: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    require(names.length == identRow.numFields,
      s"${names.length} names but ${identRow.numFields} values")
    val pSchema = partitionSchema()
    val phys = snap.partitionCols.map(SnapshotTable.normName)
    // the (possibly partial) filter: field name -> required raw value
    val want: Map[String, String] = names.zipWithIndex.map { case (nm, i) =>
      val fi = pSchema.fieldIndex(nm)
      SnapshotTable.normName(snap.physName(pSchema(fi).name)) ->
        rawValue(identRow, i, pSchema(fi).dataType)
    }.toMap
    val tuples = snap.keptFiles(Seq.empty).iterator
      .map(f => SnapshotTable.partValuesOf(f.relPath))
      .filter(v => v.size == phys.size)
      .map(v => phys.map(v))
      .toSeq.distinct
      .filter(raws => want.forall { case (p, r) => raws(phys.indexOf(p)) == r })
    tuples.sortBy(_.mkString("/")).map { raws =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        raws.zip(pSchema.fields).map { case (raw, f) =>
          SnapshotTable.partCatalystValue(raw, f.dataType).orNull
        }.toArray[Any]): org.apache.spark.sql.catalyst.InternalRow
    }.toArray
  }

  override def dropPartition(
      identRow: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    requireWritable()
    val pSchema = partitionSchema()
    val values = snap.partitionCols.zipWithIndex.map { case (phys, i) =>
      SnapshotTable.normName(phys) -> rawValue(identRow, i, pSchema(i).dataType)
    }.toMap
    SnapshotTable.dropPartition(spark, root, values)
  }

  override def createPartition(
      identRow: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions materialize by WRITING rows (INSERT/MERGE); " +
        "ADD PARTITION has nothing to create")

  override def replacePartitionMetadata(
      identRow: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions carry no mutable metadata")

  override def loadPartitionMetadata(
      identRow: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] =
    java.util.Collections.emptyMap()
}

/** Group-based copy-on-write row-level operation: the scan is a
  * [[GraftScanBuilder]] in group mode (filters prune FILES — the
  * replacement groups — but never rows: a rewrite must carry unmatched
  * rows of touched files through), and it RECORDS the (version, files)
  * it planned; the write ([[GraftReplaceWrite]]) publishes new files
  * replacing exactly that set, refusing if the table moved in between.
  * This is the engine behind SQL `MERGE INTO` and `UPDATE` (and
  * `DELETE` whose predicate can't translate to filters). */
private[catalog] final class GraftRowLevelOperation(spark: SparkSession,
    snap: SnapshotTable.SqlSnapshot,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  @volatile private var scannedFiles: Set[String] = Set.empty

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, snap, groupScan = true,
      onPlan = (_, files) => scannedFiles = files)

  /** Requiring the file column arms RUNTIME GROUP FILTERING: Spark
    * evaluates the operation's condition once, collects the DISTINCT
    * matching `_graft_file` values (bounded by the file count, never
    * the key count), and the scan narrows to exactly those files —
    * which [[scannedFiles]] tracks, so the replacing write stays
    * aligned with what was actually read. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftFileColumn.Name))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceWrite(spark, snap, () => scannedFiles, info.schema())
    }

  override def description(): String = s"GraftRowLevel($cmd, ${snap.root})"
}

/** The table behind every PROGRAMMATIC read ([[SnapshotTable.read]],
  * `readKeys`, `readIndexed`, and the rewrites that read the current
  * snapshot): one resolved entry list, scanned by [[GraftScanBuilder]]
  * exactly like a catalog read, so SQL and programmatic reads share
  * one scan — pruning, deletion vectors at the reader, metadata
  * columns, statistics.
  *
  * It is a read-only [[org.apache.spark.sql.execution.datasources.v2.FileTable]]
  * shell for one reason: `Dataset.inputFiles` reports a DSv2
  * relation's files only when its table is a FileTable (through its
  * `fileIndex`, here the entry list's static index, built from the
  * manifest — no file-system listing). It declares BATCH_READ only:
  * `FallBackFileSourceV2` turns an INSERT into a FileTable into a V1
  * file insert that would bypass the commit, which is why the
  * catalog's writable [[GraftTable]] is not one. Two reads of the same
  * entry list under the same schema are equal tables, so a cached
  * frame serves a later identical read. */
private[graft] final class GraftReadTable(spark: SparkSession,
    val snap: SnapshotTable.SqlSnapshot)
  extends org.apache.spark.sql.execution.datasources.v2.FileTable(spark,
    CaseInsensitiveStringMap.empty(), Seq(snap.root), Some(snap.schema))
  with SupportsMetadataColumns {

  override lazy val fileIndex: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex = {
    // qualified paths, as a listed relation reports them
    val root = new org.apache.hadoop.fs.Path(snap.root)
    StaticFileIndex.over(spark,
      root.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(root),
      snap.dataFiles)
  }
  override lazy val dataSchema: StructType = snap.schema
  override lazy val schema: StructType = snap.schema

  override def name(): String = s"graft ${snap.root} v${snap.version}"
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def metadataColumns(): Array[MetadataColumn] = GraftMetadataColumns.all

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, snap, groupScan = false, options = options,
      manifestAggregates = false)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    throw new UnsupportedOperationException(s"${name()} is a read of a snapshot, not a table to write")

  override def inferSchema(files: Seq[org.apache.hadoop.fs.FileStatus]): Option[StructType] =
    Some(snap.schema)
  override def formatName(): String = "graft"
  override def fallbackFileFormat()
      : Class[_ <: org.apache.spark.sql.execution.datasources.FileFormat] =
    classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]

  override def equals(o: Any): Boolean = o match {
    case t: GraftReadTable => t.snap.readKey == snap.readKey
    case _ => false
  }
  override def hashCode(): Int = snap.readKey.hashCode()
}

private[graft] object GraftReadTable {
  /** A frame planned by the snapshot scan over exactly `snap`'s
    * entries. */
  def frame(spark: SparkSession, snap: SnapshotTable.SqlSnapshot): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new GraftReadTable(spark, snap), None, None, CaseInsensitiveStringMap.empty()))
}
