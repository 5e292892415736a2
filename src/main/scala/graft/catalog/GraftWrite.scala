package graft.catalog

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.sources.{AlwaysTrue, And, EqualNullSafe, EqualTo, Filter, In, InsertableRelation}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, StructType}

import graft.sources.SnapshotTable

/** INSERT INTO / INSERT OVERWRITE / CTAS-append for the snapshot
  * table, as a [[V1Write]]: the engine hands the fully-planned batch
  * frame to [[InsertableRelation.insert]], and the table's own commit
  * machinery does what it always does — write-loop stats, CHECK
  * constraints riding the write, column-map translation, schema
  * alignment, optimistic retry. One write path, two front doors.
  * Overwrite commits op "rewrite" (whole-snapshot replace — CDC and
  * the streaming source see it honestly); append commits "append". */
private[catalog] final class GraftWriteBuilder(spark: SparkSession, root: String)
  extends WriteBuilder with SupportsTruncate with SupportsOverwrite
    with SupportsDynamicOverwrite {

  private var overwriteAll = false
  private var dynamicPartitions = false
  private var overwriteScope: Array[Filter] = Array.empty

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  /** "Overwrite the partitions present in the data"
    * (`partitionOverwriteMode=dynamic`): on a PARTITIONED BY table the
    * commit replaces exactly the partition VALUES the batch wrote and
    * carries everything else ([[SnapshotTable.sqlOverwriteDynamic]] —
    * Hive's dynamic overwrite); an unpartitioned table degenerates to
    * the one partition there is: the whole table. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicPartitions = true
    this
  }

  /** Whole-table (`AlwaysTrue`), or PARTITION-scoped on a PARTITIONED
    * BY table: `INSERT OVERWRITE t PARTITION (lang='en')` arrives as
    * exact-scope filters over partition columns (EqualTo / IN / AND of
    * those only — the scope must translate EXACTLY, a widened scope
    * would silently replace partitions the statement never named). */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue])) {
      overwriteAll = true
      return this
    }
    val snap = SnapshotTable.sqlSnapshot(spark, root)
    val partCols = snap.partitionColsLogical.map(SnapshotTable.normName).toSet
    def scoped(f: Filter): Boolean = f match {
      case EqualTo(a, v) => v != null && partCols.contains(SnapshotTable.normName(a))
      case EqualNullSafe(a, v) => v != null && partCols.contains(SnapshotTable.normName(a))
      case In(a, vs) => vs.nonEmpty && vs.forall(_ != null) &&
        partCols.contains(SnapshotTable.normName(a))
      case And(l, r) => scoped(l) && scoped(r)
      case _ => false
    }
    require(partCols.nonEmpty && filters.forall(scoped),
      "INSERT OVERWRITE of a graft table is whole-table or PARTITION-scoped " +
        "(equality/IN over declared partition columns); " +
        s"got ${filters.mkString(", ")} — use MERGE INTO or DELETE + INSERT " +
        "for a general predicate-scoped rewrite")
    overwriteScope = filters
    this
  }

  override def build(): Write = new V1Write with GraftLayoutInput {
    private lazy val snap = SnapshotTable.sqlSnapshot(spark, root)
    @volatile private var streaming = false
    override protected def writeSchema: StructType = snap.schema
    override protected def statsKey: Option[String] = snap.statsKey
    // dynamic overwrite and streaming epochs write through the task
    // writer, so they ask Spark for input clustered by directory and
    // sorted by the stats key; the other modes hand the frame to the
    // table's own writer, which arranges its input itself. Spark calls
    // `toStreaming` before it reads these requirements (V2Writes).
    override protected def layout: Option[GraftSplitSpec] =
      if (dynamicPartitions || streaming) GraftSplitSpec.forSnap(snap, snap.schema)
      else None

    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          if (overwriteScope.nonEmpty) {
            val snap = SnapshotTable.sqlSnapshot(spark, root)
            def fieldType(n: String) =
              snap.schema.fields.find(_.name.equalsIgnoreCase(n)).map(_.dataType)
            // STRICT translation: a replacement's scope must never
            // widen — a conjunct lost inside a nested And (e.g. a
            // future partition type whose Literal conversion fails)
            // must fail the whole filter, not silently broaden the
            // overwrite to more partitions than the statement named
            val preds = overwriteScope.flatMap(
              FilterBridge.toCatalystBound(_, fieldType, snap.physName,
                strict = true)).toSeq
            require(preds.length == overwriteScope.length,
              s"internal: overwrite scope lost a conjunct in translation")
            SnapshotTable.sqlOverwriteWhere(spark, root, data, preds)
          }
          else if (overwriteAll || overwrite) SnapshotTable.sqlOverwrite(spark, root, data)
          else SnapshotTable.append(spark, root, data)
          ()
        }
      }
    // dynamic overwrite has no V1 exec in Spark: it plans through
    // OverwritePartitionsDynamicExec, which drives a real BatchWrite —
    // executor task writers (layout-aware) + either a dynamic
    // partition-replace or a whole-snapshot "rewrite" commit
    override def toBatch: BatchWrite =
      new GraftFileBatchWrite(spark, snap, snap.schema, { files =>
        SnapshotTable.sqlValidateWritten(spark, snap.root, files)
        if (dynamicPartitions && snap.partitionCols.nonEmpty)
          SnapshotTable.sqlOverwriteDynamic(spark, snap.root, files)
        else SnapshotTable.sqlOverwriteFiles(spark, snap.root, files)
        ()
      }, layout)

    /** `writeStream.toTable(name)` — each epoch is one atomic commit
      * carrying the epoch id as the manifest's `txnBatchId`: the same
      * replay cursor as the V1 streaming sink, so a crash between the
      * table commit and the checkpoint commit replays into a
      * recognized-and-dropped epoch. Append/Update output modes APPEND
      * the epoch's rows; Complete output mode (the engine called
      * [[SupportsTruncate.truncate]] on this builder) REPLACES the
      * whole snapshot each epoch — every epoch carries the full result
      * by Spark's contract, so re-appending it would silently
      * duplicate rows. Executor task writers measure the stats-key
      * ranges in the write loop and honor the declared layout (bucket
      * files keep SPJ through streaming ingest, partition directories
      * keep the epochs prunable); CHECK constraints validate over just
      * the epoch's files before anything publishes. Contract: one
      * streaming query (one checkpoint) writes a table. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      streaming = true
      new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
        private val batch = new GraftFileBatchWrite(spark, snap, snap.schema,
          _ => throw new IllegalStateException("streaming commits go through commit(epoch, ...)"),
          layout)

        override def createStreamingWriterFactory(
            info: PhysicalWriteInfo)
            : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
          batch.createBatchWriterFactory(info)
            .asInstanceOf[GraftWriterFactory]

        override def commit(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit = {
          val files = GraftCommitMessage.files(messages)
          // replay (crash between table commit and checkpoint commit):
          // recognized by the cursor, dropped; this attempt's files are
          // unreferenced and die in the next vacuum
          if (SnapshotTable.lastTxnBatchId(spark, root).exists(_ >= epochId)) {
            deleteFiles(files)
            return
          }
          if (files.nonEmpty)
            SnapshotTable.sqlValidateWritten(spark, root, files)
          if (overwriteAll) {
            // Complete output mode: this epoch IS the full result —
            // replace the snapshot (op "rewrite"; an empty result
            // honestly empties the table). Appending here would
            // re-deliver every prior epoch's rows.
            SnapshotTable.sqlOverwriteFiles(spark, root, files,
              txnBatchId = Some(epochId))
            ()
          } else if (files.nonEmpty) {
            SnapshotTable.sqlAppendFiles(spark, root, files,
              txnBatchId = epochId)
            ()
          }
        }

        override def abort(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit =
          deleteFiles(GraftCommitMessage.files(messages))

        private def deleteFiles(files: Seq[SnapshotTable.FileEntry]): Unit =
          files.foreach { e =>
            val p = new Path(root, e.path)
            try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(p, false)
            catch { case _: Exception => () }
          }
      }
    }
  }
}

/** One write task's output: the manifest entry of every file it wrote
  * — path, rows, bytes and the stats-key min/max measured in the write
  * loop, so a commit needs no post-write footer read. */
private[graft] final case class GraftCommitMessage(files: Seq[SnapshotTable.FileEntry])
  extends WriterCommitMessage

private[graft] object GraftCommitMessage {
  /** Every file a write's tasks reported, in path order (the
    * manifest's entry order for one batch). */
  def files(messages: Iterable[WriterCommitMessage]): Seq[SnapshotTable.FileEntry] =
    messages.toSeq.flatMap {
      case m: GraftCommitMessage => m.files
      case _ => Seq.empty
    }.sortBy(_.path)
}

/** Which write-schema field feeds which stats slot, and how: `path`
  * walks struct ordinals from the top level down to the key field,
  * `widths` holds the field count of each struct on the way. */
private[graft] final case class StatsSpec(path: IndexedSeq[Int],
    widths: IndexedSeq[Int], keyType: DataType, secondary: Boolean) {
  def isString: Boolean = keyType == StringType

  /** The struct that holds the key in `row` (the row itself for a
    * top-level key), or null when a struct on the way is null. */
  def holder(row: InternalRow): InternalRow = {
    var r = row
    var i = 0
    while (r != null && i < widths.length) {
      r = if (r.isNullAt(path(i))) null else r.getStruct(path(i), widths(i))
      i += 1
    }
    r
  }

  /** The key as a column reference into `schema` (the same shape the
    * spec was resolved on): each name on the path backtick-quoted. */
  def columnIn(schema: StructType): String = {
    var st = schema
    path.map { i =>
      val f = st.fields(i)
      f.dataType match { case s: StructType => st = s; case _ => }
      "`" + f.name.replace("`", "``") + "`"
    }.mkString(".")
  }
}

private[graft] object StatsSpec {
  /** The field `name` addresses in `schema` — a top-level field, else a
    * dotted path through structs (`metadata.doc_id`), matched
    * case-insensitively — as (struct ordinals from the top level down
    * to the field, the width of each struct on the way, its type). */
  def locate(schema: StructType, name: String)
      : Option[(Vector[Int], Vector[Int], DataType)] = {
    def walk(st: StructType, segs: List[String], path: Vector[Int],
        widths: Vector[Int]): Option[(Vector[Int], Vector[Int], DataType)] = segs match {
      case seg :: rest =>
        val i = st.fields.indexWhere(_.name.equalsIgnoreCase(seg))
        if (i < 0) None
        else (st.fields(i).dataType, rest) match {
          case (t, Nil) => Some((path :+ i, widths, t))
          case (s: StructType, _) => walk(s, rest, path :+ i, widths :+ s.length)
          case _ => None
        }
      case Nil => None
    }
    walk(schema, List(name), Vector.empty, Vector.empty).orElse(
      walk(schema, name.split('.').toList, Vector.empty, Vector.empty))
  }

  /** The stats specs of `key` (primary slot) and `key2` (secondary) over
    * `schema`, for every writer: each key [[locate]]s a field, and gets
    * a spec only when that field is integral or a string, the types the
    * manifest prunes on. */
  def resolve(schema: StructType, key: Option[String],
      key2: Option[String]): Seq[StatsSpec] = {
    def spec(k: String, secondary: Boolean): Option[StatsSpec] =
      locate(schema, k).collect {
        case (path, widths, t @ (LongType | IntegerType | StringType)) =>
          StatsSpec(path, widths, t, secondary)
      }
    Seq(key.flatMap(spec(_, secondary = false)),
      key2.flatMap(spec(_, secondary = true))).flatten
  }
}

/** The input a layout-aware DSv2 write asks Spark for, so every task
  * hands the [[GraftTaskWriter]] each directory's rows contiguous and
  * sorted by the stats key: a bucket write clusters on the bucket key
  * into exactly `buckets` tasks (Spark's hash partitioning is
  * `pmod(murmur3(key), n)`, the bucket function itself, so each task
  * holds one bucket), a partitioned write clusters on the partition
  * columns; each task sorts by its directory columns, then the stats
  * key. No layout, no requirement. */
private[catalog] trait GraftLayoutInput
  extends org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}

  protected def layout: Option[GraftSplitSpec]
  protected def writeSchema: StructType
  protected def statsKey: Option[String]

  private def columns(ordinals: Seq[Int]): Seq[NamedReference] =
    ordinals.map(i => Expressions.column(
      "`" + writeSchema.fields(i).name.replace("`", "``") + "`"))

  override def requiredDistribution(): Distribution = layout match {
    case Some(s) => Distributions.clustered(columns(s.clusterBy).toArray)
    case None => Distributions.unspecified()
  }

  override def requiredNumPartitions(): Int = layout match {
    case Some(b: GraftBucketSplit) => b.buckets
    case _ => 0
  }

  override def requiredOrdering(): Array[SortOrder] = layout match {
    case Some(s) =>
      val dirs = s match {
        case _: GraftBucketSplit => Nil // one bucket per task
        case p => columns(p.clusterBy)
      }
      val key = StatsSpec.resolve(writeSchema, statsKey, None)
        .map(k => Expressions.column(k.columnIn(writeSchema)))
      (dirs ++ key).map(Expressions.sort(_, SortDirection.ASCENDING)).toArray
    case None => Array.empty
  }
}

/** The row-level (group-based copy-on-write) write: MERGE INTO /
  * UPDATE / non-filter DELETE land here. Executor tasks write parquet
  * files ([[GraftTaskWriter]]) and report per-file stats in their
  * commit messages; the driver-side commit validates CHECK constraints
  * over the written files and publishes ONE manifest version replacing
  * exactly the files the operation's scan read
  * ([[SnapshotTable.sqlReplaceFiles]] — carried files, dv references
  * included, ride verbatim). A concurrent commit between scan and
  * write REFUSES loudly; the task-commit coordinator deduplicates
  * speculative attempts before any file reaches the manifest.
  *
  * DECLARED layouts survive row-level rewrites: on a bucket-declared
  * table the replacement files are written bucket-per-file at the
  * declared count (same path shape as [[SnapshotTable
  * .compactBucketed]]), so a steady-state MERGE/CDC workload never
  * pays the one remaining O(table) maintenance op a dissolved layout
  * used to demand; on a PARTITIONED BY table they land under
  * partition directories, so pruning facts follow the rewrite. Armed
  * only when the declaration and the write schema line up — the
  * plain write stays the conservative fallback. */
private[catalog] final class GraftReplaceWrite(spark: SparkSession,
    snap: SnapshotTable.SqlSnapshot, scanned: () => Set[String],
    override protected val writeSchema: StructType) extends Write
    with GraftLayoutInput {

  override protected val layout: Option[GraftSplitSpec] =
    GraftSplitSpec.forSnap(snap, writeSchema)
  override protected def statsKey: Option[String] = snap.statsKey

  override def toBatch: BatchWrite =
    new GraftFileBatchWrite(spark, snap, writeSchema, { files =>
      // CHECK constraints: the rows were written by executor tasks, so
      // validation is one explicit job over just the new files —
      // a violation aborts with nothing published
      SnapshotTable.sqlValidateWritten(spark, snap.root, files)
      SnapshotTable.sqlReplaceFiles(spark, snap.root, snap.version, scanned(), files)
      ()
    }, layout)
}

/** The shared file-producing half of every DSv2 batch write: executor
  * tasks stream rows into parquet ([[GraftTaskWriter]]) and report
  * per-file facts; `commitFiles` decides what manifest commit those
  * files become (replace-scanned for row-level operations, whole
  * snapshot for dynamic overwrite). */
private[catalog] final class GraftFileBatchWrite(spark: SparkSession,
    snap: SnapshotTable.SqlSnapshot, writeSchema: StructType,
    commitFiles: Seq[SnapshotTable.FileEntry] => Unit,
    split: Option[GraftSplitSpec]) extends BatchWrite {

  // a layout-aware write spells its layout in the batch path (bucket
  // count for SPJ's BucketPathRe, partition dirs for pruning), so the
  // claim/facts survive the write with no manifest format change
  private val batchDir = split.map(_.batchDirName).getOrElse(
    s"data/sql-${java.util.UUID.randomUUID().toString.take(8)}")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // files spell physical names (at every struct level); the batch
    // arrives logical, with the same ordinals at every level
    GraftWriterFactory(
      new SerializableHadoopConf(GraftParquetWriter.confWithSessionKeys(
        spark.sparkContext.hadoopConfiguration)),
      snap.root, batchDir, snap.physSchemaFor(writeSchema),
      StatsSpec.resolve(writeSchema, snap.statsKey, snap.statsKey2), split)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitFiles(GraftCommitMessage.files(messages))

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val f = new Path(snap.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try f.delete(new Path(snap.root, batchDir), true)
    catch { case _: Exception => () }
    ()
  }
}

/** Serializable Hadoop conf (the stock helper is private[spark]):
  * ships the driver's configuration to writer tasks via Hadoop's own
  * Writable form. */
private[graft] final class SerializableHadoopConf(@transient var value: Configuration)
  extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** THE routing definition of the snapshot table's layouts: which
  * subdirectory of its batch a row's file lives in — by bucket hash
  * (declared-bucket tables; the path carries the SPJ claim) or by
  * partition value (PARTITIONED BY tables; the path carries the pruning
  * facts). Every layout-aware write routes through it, programmatic and
  * SQL alike. `dirOf` runs on the TRIMMED row (physical write-schema
  * ordinals); `clusterBy` names the ordinals whose values decide the
  * directory. */
private[graft] sealed trait GraftSplitSpec extends Serializable {
  def dirOf(row: InternalRow): String
  def clusterBy: Seq[Int]
  /** A fresh batch directory spelling this layout. */
  def batchDirName: String
}

private[graft] object GraftSplitSpec {
  /** Bucket-per-file on `key`, a top-level int/bigint/string field of
    * `schema`. */
  def buckets(schema: StructType, key: String, n: Int): Option[GraftBucketSplit] =
    schema.fields.zipWithIndex.find(_._1.name.equalsIgnoreCase(key)).collect {
      case (f, i) if Seq(IntegerType, LongType, StringType).contains(f.dataType) =>
        GraftBucketSplit(n, i, f.dataType)
    }

  /** One directory level per declared partition column `physCols`
    * (physical names), matched against `schema`'s fields through
    * `phys`; None unless every column resolves to an int, bigint,
    * string or date field. */
  def partitions(schema: StructType, physCols: Seq[String],
      phys: String => String): Option[GraftPartitionSplit] = {
    val cols = physCols.flatMap { pc =>
      schema.fields.zipWithIndex.collectFirst {
        case (f, i) if SnapshotTable.normName(phys(f.name)) ==
          SnapshotTable.normName(pc) => (pc, i, f.dataType)
      }
    }
    if (cols.nonEmpty && cols.size == physCols.size &&
        cols.forall(c => Seq(IntegerType, LongType, StringType, DateType).contains(c._3)))
      Some(GraftPartitionSplit(cols))
    else None
  }

  /** The layout a DSv2 executor write over `writeSchema` should honor
    * for this table: buckets when declared (the SPJ layout survives
    * the write), else partition directories when declared (the pruning
    * facts follow the rows), else None (plain write). */
  def forSnap(snap: SnapshotTable.SqlSnapshot,
      writeSchema: StructType): Option[GraftSplitSpec] =
    (for { n <- snap.declaredBuckets; key <- snap.statsKey; b <- buckets(writeSchema, key, n) }
      yield b).orElse(
      if (snap.partitionCols.isEmpty) None
      else partitions(writeSchema, snap.partitionCols, snap.physName))
}

/** `_graft_bucket=<pmod(murmur3(key), n)>` ([[GraftBucketOf]]). */
private[graft] final case class GraftBucketSplit(buckets: Int,
    keyOrdinal: Int, keyType: DataType) extends GraftSplitSpec {
  private val bucketOf = new GraftBucketOf(keyOrdinal, keyType)
  override def dirOf(row: InternalRow): String =
    s"_graft_bucket=${bucketOf(row, buckets)}"
  override def clusterBy: Seq[Int] = Seq(keyOrdinal)
  override def batchDirName: String =
    s"data/bkt$buckets-${java.util.UUID.randomUUID().toString.take(8).filter(_ != '-')}"
}

/** One `_graft_p_<col>=<url-encoded value>` level per declared
  * partition column, nested in declaration order ([[SnapshotTable
  * .partValuesOf]] and [[SnapshotTable.partCatalystValue]] read it
  * back). NULL partition values refuse loudly: the directory is the
  * value, and a null token would collide with a legal string. */
private[graft] final case class GraftPartitionSplit(
    cols: Seq[(String, Int, DataType)]) extends GraftSplitSpec {
  override def dirOf(row: InternalRow): String =
    cols.map { case (name, i, dt) =>
      if (row.isNullAt(i))
        throw new IllegalArgumentException(
          s"partitioned write: NULL in partition column '$name' " +
            "(the directory is the value; default nulls before writing)")
      val raw = dt match {
        case IntegerType => row.getInt(i).toString
        case LongType => row.getLong(i).toString
        case StringType => row.getUTF8String(i).toString
        case DateType =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .toJavaDate(row.getInt(i)).toString
        case other => throw new IllegalStateException(
          s"unsupported partition type ${other.simpleString}")
      }
      s"${SnapshotTable.PartDirPrefix}$name=" + java.net.URLEncoder.encode(raw, "UTF-8")
    }.mkString("/")
  override def clusterBy: Seq[Int] = cols.map(_._2)
  override def batchDirName: String =
    s"data/pt-${java.util.UUID.randomUUID().toString.take(8).filter(_ != '-')}"
}

private[catalog] final case class GraftWriterFactory(conf: SerializableHadoopConf,
    root: String, batchDir: String, physSchema: StructType, stats: Seq[StatsSpec],
    split: Option[GraftSplitSpec])
  extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftTaskWriter(conf.value, root, batchDir, physSchema, stats, split, partitionId)
  // streaming twin: every file name carries its attempt's UUID, so
  // epochs sharing a batch directory never collide
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** THE task-side writer of every snapshot data file — programmatic
  * writes ([[SnapshotTable]]'s `writeRolled` job) and every DSv2 batch
  * and streaming write alike. Input arrives clustered by directory
  * (one file per task when there is no layout): the writer keeps ONE
  * parquet file open and rolls to a new one whenever `split` routes a
  * row to another directory, measuring rows and stats-key min/max in
  * the write loop ([[GraftParquetWriter]]). Files are named the way
  * `df.write` names them — `part-<task ordinal>-<attempt uuid>-c<file
  * counter><codec>.parquet`, so path order is task order and a retried
  * or speculative attempt never collides with another's files (only
  * the winning attempt's facts reach the manifest; losers' files die
  * in the next vacuum). A task that sees no rows writes no file. */
private[graft] final class GraftTaskWriter(conf: Configuration, root: String,
    batchDir: String, physSchema: StructType, stats: Seq[StatsSpec],
    split: Option[GraftSplitSpec], partitionId: Int)
  extends DataWriter[InternalRow] {

  private val router = split.orNull
  private val codecExt = ParquetOutputFormat.getCompression(conf).getExtension
  private val attempt = java.util.UUID.randomUUID()
  private val done = scala.collection.mutable.ArrayBuffer.empty[SnapshotTable.FileEntry]
  private var cur: GraftParquetWriter = _
  private var curDir: String = _

  /** Rows arrive either exactly as the write schema, or (group-based
    * ReplaceData with no metadata projection — Spark hands the raw
    * MergeRows output) prefixed with one int operation-marker column.
    * Detected once from the first row's arity; the marker is projected
    * away before routing and parquet see the row. */
  private var fieldOffset = -1
  private var trim: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _

  override def write(row0: InternalRow): Unit = {
    if (fieldOffset < 0) {
      fieldOffset = row0.numFields - physSchema.length
      require(fieldOffset == 0 || fieldOffset == 1,
        s"writer expected ${physSchema.length} (or +1 marker) fields, " +
          s"got ${row0.numFields}")
      if (fieldOffset == 1)
        trim = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          physSchema.fields.zipWithIndex.map { case (f, i) =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i + 1, f.dataType, nullable = true) }.toIndexedSeq)
    }
    val row = if (trim == null) row0 else trim(row0)
    val dir = if (router == null) "" else router.dirOf(row)
    if (cur == null || dir != curDir) {
      if (cur != null) done += cur.commit()
      cur = null
      val sub = if (dir.isEmpty) "" else s"$dir/"
      cur = new GraftParquetWriter(conf, root,
        f"$batchDir/${sub}part-$partitionId%05d-$attempt-c${done.size}%03d$codecExt.parquet",
        physSchema, stats)
      curDir = dir
    }
    cur.write(row)
  }

  override def commit(): GraftCommitMessage = {
    if (cur != null) done += cur.commit()
    cur = null
    GraftCommitMessage(done.toSeq)
  }

  override def abort(): Unit = {
    if (cur != null) cur.abort()
    cur = null
    val f = new Path(root).getFileSystem(conf)
    done.foreach(e =>
      try f.delete(new Path(root, e.path), false)
      catch { case _: IOException => () })
  }

  override def close(): Unit = ()
}

/** One parquet data file: rows stream straight into Spark's
  * [[ParquetWriteSupport]] (no Row conversion, no buffering), stats
  * accumulate in the loop (min/max per configured key — long widened
  * from int, strings as UTF-8 bytes in unsigned order, exactly the
  * manifest's stats semantics). The committed file counts in the
  * task's output metrics (bytes, records), as `df.write`'s do, and
  * comes back as its manifest entry. */
private[graft] final class GraftParquetWriter(conf: Configuration, root: String,
    relPath: String, physSchema: StructType, stats: Seq[StatsSpec]) {

  private val writer: org.apache.hadoop.mapreduce.RecordWriter[Void, InternalRow] = {
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(physSchema, c)
    c.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS, classOf[ParquetWriteSupport].getName)
    new ParquetOutputFormat[InternalRow]().getRecordWriter(
      c, new Path(root, relPath), ParquetOutputFormat.getCompression(c))
  }
  private var rows = 0L
  private var minL, maxL, min2L, max2L = null: java.lang.Long
  private var minB, maxB, min2B, max2B = null: Array[Byte]
  private val ord = java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])

  def write(row: InternalRow): Unit = {
    stats.foreach { s =>
      val r = s.holder(row)
      val o = s.path.last
      if (r != null && !r.isNullAt(o)) {
        if (s.isString) {
          val v = r.getUTF8String(o).getBytes.clone()
          if (s.secondary) {
            if (min2B == null || ord(v, min2B) < 0) min2B = v
            if (max2B == null || ord(v, max2B) > 0) max2B = v
          } else {
            if (minB == null || ord(v, minB) < 0) minB = v
            if (maxB == null || ord(v, maxB) > 0) maxB = v
          }
        } else {
          val v = if (s.keyType == IntegerType) r.getInt(o).toLong else r.getLong(o)
          if (s.secondary) {
            if (min2L == null || v < min2L) min2L = v
            if (max2L == null || v > max2L) max2L = v
          } else {
            if (minL == null || v < minL) minL = v
            if (maxL == null || v > maxL) maxL = v
          }
        }
      }
    }
    rows += 1
    writer.write(null, row)
  }

  def commit(): SnapshotTable.FileEntry = {
    writer.close(null)
    val p = new Path(root, relPath)
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    org.apache.spark.sql.graftbridge.Bridge.addTaskOutput(len, rows)
    SnapshotTable.FileEntry(relPath, Option(minL).map(_.longValue),
      Option(maxL).map(_.longValue), Some(rows), Some(len),
      Option(minB), Option(maxB),
      Option(min2L).map(_.longValue), Option(max2L).map(_.longValue),
      Option(min2B), Option(max2B))
  }

  def abort(): Unit = {
    try writer.close(null) catch { case _: Exception => () }
    val p = new Path(root, relPath)
    try p.getFileSystem(conf).delete(p, false)
    catch { case _: IOException => () }
  }
}

private[graft] object GraftParquetWriter {
  /** [[ParquetWriteSupport]] and its schema converter ASSERT a set of
    * session keys are present in the hadoop conf (the V1 write path
    * plants them in `prepareWrite`); bake the DRIVER session's values
    * in before the conf ships to writer tasks, with the session's
    * compression codec (`spark.sql.parquet.compression.codec`), which
    * `prepareWrite` also sets. */
  def confWithSessionKeys(base: Configuration): Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val c = new Configuration(base)
    val sql = SQLConf.get
    c.set(ParquetOutputFormat.COMPRESSION,
      new ParquetOptions(Map.empty[String, String], sql).compressionCodecClassName)
    Seq(
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG
    ).foreach { e =>
      if (c.get(e.key) == null)
        c.set(e.key, sql.getConfString(e.key, e.defaultValueString))
    }
    c
  }
}
