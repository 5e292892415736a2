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
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

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

  override def build(): Write = new V1Write {
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
    // executor parquet writers (layout-aware) + either a dynamic
    // partition-replace or a whole-snapshot "rewrite" commit
    override def toBatch: BatchWrite = {
      val snap = SnapshotTable.sqlSnapshot(spark, root)
      new GraftFileBatchWrite(spark, snap, snap.schema, { files =>
        SnapshotTable.sqlValidateWritten(spark, snap.root, files.map(_.relPath))
        if (dynamicPartitions && snap.partitionCols.nonEmpty)
          SnapshotTable.sqlOverwriteDynamic(spark, snap.root, files)
        else SnapshotTable.sqlOverwriteFiles(spark, snap.root, files)
        ()
      }, GraftSplitSpec.forSnap(snap, snap.schema))
    }

    /** `writeStream.toTable(name)` — each epoch is one atomic commit
      * carrying the epoch id as the manifest's `txnBatchId`: the same
      * replay cursor as the V1 streaming sink, so a crash between the
      * table commit and the checkpoint commit replays into a
      * recognized-and-dropped epoch. Append/Update output modes APPEND
      * the epoch's rows; Complete output mode (the engine called
      * [[SupportsTruncate.truncate]] on this builder) REPLACES the
      * whole snapshot each epoch — every epoch carries the full result
      * by Spark's contract, so re-appending it would silently
      * duplicate rows. Executor parquet writers measure the stats-key
      * ranges in the write loop; CHECK constraints validate over just
      * the epoch's files before anything publishes. Contract: one
      * streaming query (one checkpoint) writes a table. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
        private val snap = SnapshotTable.sqlSnapshot(spark, root)
        private val batch = new GraftFileBatchWrite(spark, snap, snap.schema,
          _ => throw new IllegalStateException("streaming commits go through commit(epoch, ...)"),
          // epoch appends honor declared layouts: bucket-per-file keeps
          // SPJ live through streaming ingest, partition dirs keep the
          // epochs prunable
          GraftSplitSpec.forSnap(snap, snap.schema))

        override def createStreamingWriterFactory(
            info: PhysicalWriteInfo)
            : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
          batch.createBatchWriterFactory(info)
            .asInstanceOf[GraftWriterFactory]

        override def commit(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit = {
          val files = GraftCommitMessage.flatten(messages)
            .filter(_.rows > 0).sortBy(_.relPath).toIndexedSeq
          // replay (crash between table commit and checkpoint commit):
          // recognized by the cursor, dropped; this attempt's files are
          // unreferenced and die in the next vacuum
          if (SnapshotTable.lastTxnBatchId(spark, root).exists(_ >= epochId)) {
            files.foreach { m =>
              val p = new Path(root, m.relPath)
              try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .delete(p, false)
              catch { case _: Exception => () }
            }
            return
          }
          if (files.nonEmpty)
            SnapshotTable.sqlValidateWritten(spark, root, files.map(_.relPath))
          val written = files.map(m => SnapshotTable.SqlWrittenFile(m.relPath,
            m.rows, m.bytes, m.minL, m.maxL, m.minB, m.maxB, m.min2L, m.max2L,
            m.min2B, m.max2B))
          if (overwriteAll) {
            // Complete output mode: this epoch IS the full result —
            // replace the snapshot (op "rewrite"; an empty result
            // honestly empties the table). Appending here would
            // re-deliver every prior epoch's rows.
            SnapshotTable.sqlOverwriteFiles(spark, root, written,
              txnBatchId = Some(epochId))
            ()
          } else if (files.nonEmpty) {
            SnapshotTable.sqlAppendFiles(spark, root, written,
              txnBatchId = epochId)
            ()
          }
        }

        override def abort(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit =
          GraftCommitMessage.flatten(messages).foreach { m =>
            if (m.relPath != null) {
              val p = new Path(root, m.relPath)
              try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .delete(p, false)
              catch { case _: Exception => () }
            }
          }
      }
  }
}

/** One written data file, as the executor reported it: path, row
  * count, byte size, and the min/max it measured over the table's
  * stats key(s) while writing — a manifest entry's worth of facts with
  * zero post-write footer reads. */
private[graft] final case class GraftCommitMessage(relPath: String,
    rows: Long, bytes: Long,
    minL: Option[Long], maxL: Option[Long],
    minB: Option[Array[Byte]], maxB: Option[Array[Byte]],
    min2L: Option[Long], max2L: Option[Long],
    min2B: Option[Array[Byte]], max2B: Option[Array[Byte]])
  extends WriterCommitMessage

private[graft] object GraftCommitMessage {
  /** Per-file facts from a mixed message array: plain writers report
    * one file each, bucketed writers report one message carrying
    * several files. */
  def flatten(messages: Iterable[WriterCommitMessage]): Seq[GraftCommitMessage] =
    messages.toSeq.flatMap {
      case m: GraftCommitMessage => Seq(m)
      case GraftMultiCommitMessage(ms) => ms
      case _ => Seq.empty
    }
}

/** A bucketed task's commit message: one fact row per file it wrote
  * (a task usually writes exactly one bucket's file — the write's
  * required distribution clusters by the bucket key — but correctness
  * never assumes it). */
private[graft] final case class GraftMultiCommitMessage(
    files: Seq[GraftCommitMessage]) extends WriterCommitMessage

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
  /** The stats specs of `key` (primary slot) and `key2` (secondary) over
    * `schema`, for every writer. A key names a top-level field, else a
    * dotted path through structs (`metadata.doc_id`), matched
    * case-insensitively; it gets a spec only when that field is
    * integral or a string, the types the manifest prunes on. */
  def resolve(schema: StructType, key: Option[String],
      key2: Option[String]): Seq[StatsSpec] = {
    def walk(st: StructType, segs: List[String], path: Vector[Int],
        widths: Vector[Int], secondary: Boolean): Option[StatsSpec] = segs match {
      case seg :: rest =>
        val i = st.fields.indexWhere(_.name.equalsIgnoreCase(seg))
        if (i < 0) None
        else (st.fields(i).dataType, rest) match {
          case (t @ (LongType | IntegerType | StringType), Nil) =>
            Some(StatsSpec(path :+ i, widths, t, secondary))
          case (s: StructType, _ :: _) =>
            walk(s, rest, path :+ i, widths :+ s.length, secondary)
          case _ => None
        }
      case Nil => None
    }
    def spec(k: String, secondary: Boolean): Option[StatsSpec] =
      walk(schema, List(k), Vector.empty, Vector.empty, secondary).orElse(
        walk(schema, k.split('.').toList, Vector.empty, Vector.empty, secondary))
    Seq(key.flatMap(spec(_, secondary = false)),
      key2.flatMap(spec(_, secondary = true))).flatten
  }
}

/** The row-level (group-based copy-on-write) write: MERGE INTO /
  * UPDATE / non-filter DELETE land here. Executor tasks write parquet
  * files (Spark's own [[ParquetWriteSupport]] under parquet-hadoop's
  * writer — the same bytes `df.write.parquet` produces) and report
  * per-file stats in their commit messages; the driver-side commit
  * validates CHECK constraints over the written files and publishes
  * ONE manifest version replacing exactly the files the operation's
  * scan read ([[SnapshotTable.sqlReplaceFiles]] — carried files, dv
  * references included, ride verbatim). A concurrent commit between
  * scan and write REFUSES loudly; the task-commit coordinator
  * deduplicates speculative attempts before any file reaches the
  * manifest. */
private[catalog] final class GraftReplaceWrite(spark: SparkSession,
    snap: SnapshotTable.SqlSnapshot, scanned: () => Set[String],
    writeSchema: StructType) extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  /** DECLARED layouts survive row-level rewrites: on a bucket-declared
    * table the replacement files are written bucket-per-file at the
    * declared count (same path shape as [[SnapshotTable
    * .compactBucketed]]), so a steady-state MERGE/CDC workload never
    * pays the one remaining O(table) maintenance op a dissolved layout
    * used to demand; on a PARTITIONED BY table they land under
    * partition directories, so pruning facts follow the rewrite. Armed
    * only when the declaration and the write schema line up — the
    * plain write stays the conservative fallback. */
  private val split: Option[GraftSplitSpec] =
    GraftSplitSpec.forSnap(snap, writeSchema)

  // cluster the replacement rows so each writer task holds few groups:
  // for buckets, clustered-by-key into exactly `n` partitions IS the
  // bucket function (pmod(murmur3(key, seed 42), n)) — one bucket per
  // task; for partitions, clustered by the partition columns — one
  // value set per task. The writer still derives each row's directory
  // itself: the distribution only bounds file count, never correctness.
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.distributions.Distributions
    import org.apache.spark.sql.connector.expressions.Expressions
    split match {
      case Some(_: GraftBucketSplit) =>
        Distributions.clustered(Array(Expressions.column(
          writeSchema.fields.find(f =>
            snap.statsKey.exists(f.name.equalsIgnoreCase)).get.name)))
      case Some(_: GraftPartitionSplit) =>
        Distributions.clustered(
          snap.partitionColsLogical.map(Expressions.column).toArray)
      case None => Distributions.unspecified()
    }
  }

  override def requiredNumPartitions(): Int = split match {
    case Some(b: GraftBucketSplit) => b.buckets
    case _ => 0
  }

  // sort within tasks: by key for bucket files (row-group stats stay
  // selective), by partition columns for partitioned files (groups
  // stay contiguous, so the writer rolls instead of interleaving)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    split match {
      case Some(_: GraftBucketSplit) =>
        Array(Expressions.sort(Expressions.column(
          writeSchema.fields.find(f =>
            snap.statsKey.exists(f.name.equalsIgnoreCase)).get.name),
          SortDirection.ASCENDING))
      case Some(_: GraftPartitionSplit) =>
        snap.partitionColsLogical.map(c => Expressions.sort(
          Expressions.column(c), SortDirection.ASCENDING)).toArray
      case None => Array.empty
    }
  }

  override def toBatch: BatchWrite =
    new GraftFileBatchWrite(spark, snap, writeSchema, { files =>
      // CHECK constraints: the rows were written by executor tasks, so
      // validation is one explicit job over just the new files —
      // a violation aborts with nothing published
      SnapshotTable.sqlValidateWritten(spark, snap.root, files.map(_.relPath))
      SnapshotTable.sqlReplaceFiles(spark, snap.root, snap.version, scanned(), files)
      ()
    }, split)
}

/** The shared file-producing half of every DSv2 batch write: executor
  * tasks stream rows into parquet ([[GraftParquetWriter]]) and report
  * per-file facts; `commitFiles` decides what manifest commit those
  * files become (replace-scanned for row-level operations, whole
  * snapshot for dynamic overwrite). */
private[catalog] final class GraftFileBatchWrite(spark: SparkSession,
    snap: SnapshotTable.SqlSnapshot, writeSchema: StructType,
    commitFiles: Seq[SnapshotTable.SqlWrittenFile] => Unit,
    split: Option[GraftSplitSpec] = None) extends BatchWrite {

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

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = GraftCommitMessage.flatten(messages)
      .filter(_.rows > 0).sortBy(_.relPath).toIndexedSeq
    commitFiles(files.map(m => SnapshotTable.SqlWrittenFile(m.relPath, m.rows,
      m.bytes, m.minL, m.maxL, m.minB, m.maxB, m.min2L, m.max2L, m.min2B, m.max2B)))
    // zero-row attempts may have left nothing; empty dirs are inert
  }

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

/** HOW a layout-aware executor write routes each row to a
  * subdirectory of its batch: by bucket hash (declared-bucket tables —
  * the layout claim survives the write) or by partition value
  * (PARTITIONED BY tables — the pruning facts follow the rows).
  * Shipped to writer tasks inside the factory; `dirOf` runs on the
  * TRIMMED row (physical write-schema ordinals). */
private[graft] sealed trait GraftSplitSpec extends Serializable {
  def dirOf(row: InternalRow): String
  /** The batch directory prefix this layout spells in paths. */
  def batchDirName: String
}

private[catalog] object GraftSplitSpec {
  /** The layout split a DSv2 executor write over `writeSchema` should
    * honor for this table: buckets when declared (the SPJ layout
    * survives the write), else partition directories when declared
    * (the pruning facts follow the rows), else None (plain write). */
  def forSnap(snap: SnapshotTable.SqlSnapshot,
      writeSchema: StructType): Option[GraftSplitSpec] = {
    val bucket: Option[GraftSplitSpec] = for {
      n <- snap.declaredBuckets
      key <- snap.statsKey
      (f, i) <- writeSchema.fields.zipWithIndex
        .find(_._1.name.equalsIgnoreCase(key))
      if (f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == StringType) &&
        !writeSchema.fields.exists(_.name.equalsIgnoreCase("_graft_bucket"))
    } yield GraftBucketSplit(n, i, f.dataType)
    def partition: Option[GraftSplitSpec] = {
      val cols = snap.partitionCols.flatMap { phys =>
        writeSchema.fields.zipWithIndex.collectFirst {
          case (f, i) if SnapshotTable.normName(snap.physName(f.name)) ==
            SnapshotTable.normName(phys) => (phys, i, f.dataType)
        }
      }
      if (cols.nonEmpty && cols.size == snap.partitionCols.size &&
          cols.forall(c => c._3 == IntegerType || c._3 == LongType ||
            c._3 == StringType || c._3 == org.apache.spark.sql.types.DateType))
        Some(GraftPartitionSplit(cols))
      else None
    }
    bucket.orElse(partition)
  }
}

/** `pmod(murmur3_hash(key), n)` — the writer's exact typed hash
  * ([[GraftBucketFunction]]'s twin). */
private[graft] final case class GraftBucketSplit(buckets: Int,
    keyOrdinal: Int, keyType: DataType) extends GraftSplitSpec {
  @transient private lazy val hasher =
    org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.BoundReference(
        keyOrdinal, keyType, nullable = true)), 42)
  override def dirOf(row: InternalRow): String = {
    val h = hasher.eval(row).asInstanceOf[Int]
    s"_graft_bucket=${((h % buckets) + buckets) % buckets}"
  }
  override def batchDirName: String =
    s"data/bkt$buckets-${java.util.UUID.randomUUID().toString.take(8).filter(_ != '-')}"
}

/** One `_graft_p_<col>=<url-encoded value>` level per declared
  * partition column — byte-identical to the V1 partitioned writer's
  * Spark-side `url_encode(cast(col as string))` fragments (URLEncoder
  * IS Spark's url_encode). NULL partition values refuse loudly: the
  * directory is the value. */
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
        case org.apache.spark.sql.types.DateType =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .toJavaDate(row.getInt(i)).toString
        case other => throw new IllegalStateException(
          s"unsupported partition type ${other.simpleString}")
      }
      s"_graft_p_$name=" + java.net.URLEncoder.encode(raw, "UTF-8")
    }.mkString("/")
  override def batchDirName: String =
    s"data/pt-${java.util.UUID.randomUUID().toString.take(8).filter(_ != '-')}"
}

private[catalog] final case class GraftWriterFactory(conf: SerializableHadoopConf,
    root: String, batchDir: String, physSchema: StructType, stats: Seq[StatsSpec],
    split: Option[GraftSplitSpec] = None)
  extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    split match {
      case Some(sp) =>
        new GraftSplitDataWriter(conf.value, root, batchDir, physSchema,
          stats, sp, partitionId, taskId, nameSuffix = "")
      case None =>
        new GraftParquetWriter(conf.value, root,
          s"$batchDir/part-$partitionId-$taskId.parquet", physSchema, stats)
    }
  // streaming twin: the task id is globally unique per attempt, so the
  // same naming scheme keeps every epoch's files distinct. Epoch
  // appends are layout-aware too: a declared-bucket table keeps SPJ
  // through streaming ingest, a partitioned table's epochs land under
  // pruned directories.
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    split match {
      case Some(sp) =>
        new GraftSplitDataWriter(conf.value, root, batchDir, physSchema,
          stats, sp, partitionId, taskId, nameSuffix = s"-e$epochId")
      case None =>
        new GraftParquetWriter(conf.value, root,
          s"$batchDir/part-$partitionId-$taskId-e$epochId.parquet", physSchema, stats)
    }
}

/** A layout-aware write task: routes each row to its
  * [[GraftSplitSpec]] subdirectory, measuring stats in the write loop
  * like the plain writer. Row-level writes on bucketed tables arrive
  * clustered (one bucket per task — the write's required
  * distribution), partitioned writes clustered by partition value; if
  * the engine hands a task more groups anyway, open writers are
  * capped — the overflow closes them all and reappearing groups start
  * new files (multiple files per directory are a legal layout). */
private[catalog] final class GraftSplitDataWriter(conf: Configuration,
    root: String, batchDir: String, physSchema: StructType,
    stats: Seq[StatsSpec], split: GraftSplitSpec,
    partitionId: Int, taskId: Long, nameSuffix: String)
  extends DataWriter[InternalRow] {

  /** Each open parquet writer buffers up to a row group; 16 bounds a
    * pathological distribution at well under executor memory. */
  private val MaxOpenWriters = 16

  private val open = new java.util.HashMap[String, GraftParquetWriter]()
  private val done = scala.collection.mutable.ArrayBuffer.empty[GraftCommitMessage]
  private var fileSeq = 0

  // rows arrive either exactly as the write schema or with one
  // operation-marker int prefixed (same contract as GraftParquetWriter)
  private var fieldOffset = -1
  private var trim: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _

  override def write(row0: InternalRow): Unit = {
    if (fieldOffset < 0) {
      fieldOffset = row0.numFields - physSchema.length
      require(fieldOffset == 0 || fieldOffset == 1,
        s"split writer expected ${physSchema.length} (or +1 marker) fields, " +
          s"got ${row0.numFields}")
      if (fieldOffset == 1)
        trim = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          physSchema.fields.zipWithIndex.map { case (f, i) =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i + 1, f.dataType, nullable = true) }.toIndexedSeq)
    }
    val row = if (fieldOffset == 0) row0 else trim(row0)
    val dir = split.dirOf(row)
    var w = open.get(dir)
    if (w == null) {
      if (open.size >= MaxOpenWriters) {
        open.values.forEach(ww =>
          done += ww.commit().asInstanceOf[GraftCommitMessage])
        open.clear()
      }
      w = new GraftParquetWriter(conf, root,
        s"$batchDir/$dir/part-$partitionId-$taskId$nameSuffix-$fileSeq.parquet",
        physSchema, stats)
      fileSeq += 1
      open.put(dir, w)
    }
    w.write(row)
  }

  override def commit(): WriterCommitMessage = {
    open.values.forEach(w => done += w.commit().asInstanceOf[GraftCommitMessage])
    open.clear()
    GraftMultiCommitMessage(done.filter(_.rows > 0).toSeq)
  }

  override def abort(): Unit = {
    open.values.forEach(w => try w.abort() catch { case _: Exception => () })
    open.clear()
    // files already rolled out of the open set die with the batch dir
    // (the BatchWrite-level abort removes it)
    val f = new Path(root).getFileSystem(conf)
    done.foreach(m =>
      try f.delete(new Path(root, m.relPath), false)
      catch { case _: IOException => () })
  }

  override def close(): Unit = ()
}

/** One task's parquet writer: rows stream straight into Spark's
  * [[ParquetWriteSupport]] (no Row conversion, no buffering), stats
  * accumulate in the loop (min/max per configured key — long widened
  * from int, strings as UTF-8 bytes in unsigned order, exactly the
  * manifest's stats semantics). A task that saw no rows writes no file
  * at all; a committed file counts in the task's output metrics (bytes,
  * records), as `df.write`'s do. Speculative duplicates are excluded
  * by Spark's commit coordinator; the losers' files die in
  * [[DataWriter.abort]]. */
private[graft] final class GraftParquetWriter(conf: Configuration, root: String,
    relPath: String, physSchema: StructType, stats: Seq[StatsSpec])
  extends DataWriter[InternalRow] {

  import org.apache.hadoop.mapreduce.RecordWriter

  private var writer: RecordWriter[Void, InternalRow] = _
  private var rows = 0L
  private var minL, maxL, min2L, max2L = null: java.lang.Long
  private var minB, maxB, min2B, max2B = null: Array[Byte]
  private val ord = java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])

  private def open(): RecordWriter[Void, InternalRow] = {
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(physSchema, c)
    c.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS, classOf[ParquetWriteSupport].getName)
    new ParquetOutputFormat[InternalRow]().getRecordWriter(
      c, new Path(root, relPath), ParquetOutputFormat.getCompression(c))
  }

  /** Rows arrive either exactly as the write schema, or (group-based
    * ReplaceData with no metadata projection — Spark hands the raw
    * MergeRows output) prefixed with one int operation-marker column.
    * Detected once from the first row's arity; the marker is projected
    * away before parquet sees the row. */
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
    val row = if (fieldOffset == 0) row0 else trim(row0)
    if (writer == null) writer = open()
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

  override def commit(): WriterCommitMessage = {
    if (writer == null)
      return GraftCommitMessage(relPath, 0L, 0L, None, None, None, None,
        None, None, None, None)
    writer.close(null)
    val p = new Path(root, relPath)
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    org.apache.spark.sql.graftbridge.Bridge.addTaskOutput(len, rows)
    GraftCommitMessage(relPath, rows, len,
      Option(minL).map(_.longValue), Option(maxL).map(_.longValue),
      Option(minB), Option(maxB),
      Option(min2L).map(_.longValue), Option(max2L).map(_.longValue),
      Option(min2B), Option(max2B))
  }

  override def abort(): Unit = {
    if (writer != null) try writer.close(null) catch { case _: Exception => () }
    val p = new Path(root, relPath)
    try p.getFileSystem(conf).delete(p, false)
    catch { case _: IOException => () }
  }

  override def close(): Unit = ()
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
