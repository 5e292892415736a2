package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.sources.SnapshotTable

/** The snapshot table as a STRUCTURED STREAMING SOURCE — the read half
  * of the incremental loop whose write half is the foreachBatch upsert
  * ([[StreamingRunner]]): one pipeline's committed versions become the
  * next pipeline's micro-batches, so a downstream stage (re-chunk,
  * re-embed, re-index) follows the table continuously instead of
  * rescanning it (reference analog: the skip-if-converted incremental
  * contract, document_processor.py:139-151, made PUSH-shaped).
  *
  * `spark.readStream.format("graft-table").option("path", root).load()`
  *
  * Offsets ARE version numbers: the checkpoint stores a committed
  * version, `getOffset` advances to the table's latest, and each batch
  * is exactly the files versions `(start, end]` ADDED (driver-side
  * manifest metadata — no listing, no data I/O at planning time).
  * Because manifests and data files are immutable, `getBatch` is
  * deterministic under replay: a restart recomputes the same batch
  * from the same offsets — exactly-once delivery into any idempotent
  * sink, proven across a restart in StreamingSpec. Retention must
  * outlive the checkpoint lag ([[SnapshotTable.expireVersions]]'s
  * time-travel contract, same as [[SnapshotTable.readChanges]]).
  *
  * Per-op semantics (the append-only consumption contract):
  *  - `append`/`create` — the added files hold exactly the commit's
  *    new rows: emitted.
  *  - `compact` — layout only, no new rows: silently skipped.
  *  - `merge`/`rewrite` (and any unknown op, conservatively) — added
  *    files MIX new and carried rows, so emitting them would
  *    re-deliver old rows: the stream FAILS by default, telling the
  *    user to either skip data-changing commits
  *    (`.option("ignoreChanges", true)`) or consume the row-level
  *    truth in batch via [[SnapshotTable.readChanges]].
  *
  * `.option("changeFeed", true)` streams the CDC rows instead
  * ([[SnapshotTable.readChanges]] per window): every op including
  * merge/rewrite delivers, as `_commit_version`/`_change_type` + the
  * row — the streaming form of the change-read API, for consumers that
  * apply deletes (index maintenance) rather than append-only ones.
  * Batch cost is the window's readChanges cost: bounded by the files
  * each commit touched.
  *
  * The schema is locked at stream start (the latest version's recorded
  * schema); files from later schema evolutions read through it, so a
  * mid-stream evolution never changes the consumer's shape — restart
  * the stream to pick up new columns. Scale: a micro-batch plans from
  * ONE manifest read and scans only the appended files, so steady-state
  * cost tracks the append rate, never table size. */
final class SnapshotTableSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** The WRITE half: `writeStream.format("graft-table")` — every
    * micro-batch is one atomic snapshot APPEND carrying its batch id
    * as the manifest's `txnBatchId` marker, and [[SnapshotTableSink]]
    * skips any batch at or below [[SnapshotTable.lastTxnBatchId]]:
    * after a crash between the table commit and the checkpoint commit,
    * the replayed batch is recognized and dropped — EXACTLY-ONCE
    * without a keyed merge (the foreachBatch upsert remains the tool
    * when updates, not appends, are the semantics). Options:
    * `statsKey`/`statsKey2` key the manifest stats of the files each
    * batch writes. Contract: ONE streaming query (one checkpoint)
    * writes a given table — batch ids are monotone only within a
    * checkpoint, so a second writer's cursor would alias the first's. */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append,
      s"graft-table sink is append-only (one atomic snapshot append per batch); got $outputMode")
    require(partitionColumns.isEmpty,
      "graft-table sink does not support partitionBy; cluster via table maintenance instead")
    new SnapshotTableSink(sqlContext.sparkSession, root(parameters),
      parameters.get("statsKey"), parameters.get("statsKey2"))
  }

  private def root(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' (the table root) is required"))

  private def changeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("changeFeed").exists(_.toBoolean)

  private def lockedSchema(spark: SparkSession, parameters: Map[String, String]): StructType = {
    val table = SnapshotTable.tableSchema(spark, root(parameters))
    if (!changeFeed(parameters)) table
    else StructType(
      Seq(org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false)) ++ table.fields)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(lockedSchema(sqlContext.sparkSession, parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val r = root(parameters)
    val startingVersion = parameters.get("startingVersion") match {
      case Some("latest") => SnapshotTable.versions(spark, r).lastOption.getOrElse(0)
      case Some(v) => v.toInt
      case None => 0
    }
    new SnapshotTableSource(spark, r,
      schema, lockedSchema(spark, parameters),
      startingVersion,
      parameters.get("ignoreChanges").exists(_.toBoolean),
      changeFeed(parameters),
      parameters.get("maxVersionsPerTrigger").map(_.toInt).getOrElse(0),
      maxBytesPerTrigger =
        parameters.get("maxBytesPerTrigger").map(_.toLong).getOrElse(0L),
      metadataPath = Some(metadataPath))
  }
}

/** See [[SnapshotTableSourceProvider]]. `maxVersionsPerTrigger` > 0
  * bounds how many table versions one micro-batch may span — the
  * catch-up throttle: a stream restarted after downtime (or started
  * against a long history) otherwise plans ONE batch over every
  * pending version, which at 100 TB is an unbounded unit of work and
  * an unbounded retry. Pacing state (the highest offset already
  * OFFERED to the engine) survives restarts in an append-only marker
  * log under the source's own checkpoint directory — create-if-absent
  * markers, never overwritten, so there is no torn-write window; a
  * restart resumes pacing at max(marker, startingVersion) and the
  * offered offset therefore never falls below anything the engine
  * already committed (offsets never regress, batches never overlap). */
final class SnapshotTableSource(spark: SparkSession, root: String,
    userSchema: Option[StructType], headSchema: => StructType,
    startingVersion: Int,
    ignoreChanges: Boolean, changeFeed: Boolean = false,
    maxVersionsPerTrigger: Int = 0,
    maxBytesPerTrigger: Long = 0L,
    metadataPath: Option[String] = None) extends Source {

  override val schema: StructType = userSchema.getOrElse(headSchema)

  private def version(o: Offset): Int = o match {
    case l: LongOffset => l.offset.toInt
    case s: SerializedOffset => LongOffset(s).offset.toInt
    case other => other.json.trim.toInt
  }

  // The map MUST pair with whoever chose the schema — mixing a
  // head-derived schema with a first-start map silently null-fills
  // any column renamed between the two (DSv1 checkpoints do not
  // persist source schemas, so a schema-less restart re-derives the
  // schema from the table HEAD and gets the NEW logical names).
  //
  //  * schema from the HEAD (no .schema() given): pair it with the
  //    head's CURRENT map. Physical names are immutable from mint to
  //    vacuum, so the head pairing addresses every live file — old
  //    and new era alike — and a restart after a rename delivers the
  //    renamed column's values under its new name (arity changes,
  //    e.g. a dropped column, fail loudly in the engine's positional
  //    check rather than null-filling).
  //  * schema from the USER: the user's logical names are frozen, so
  //    the map that resolves them must be frozen WITH them — the
  //    first start persists the map next to the checkpoint
  //    (create-if-absent, like the pacing markers) and every restart
  //    reads it back; re-deriving from the head would orphan any name
  //    renamed since the first start. Only checkpoint-less direct
  //    constructions fall back to the head's map.
  private val colmap: Map[String, String] = userSchema match {
    case None => SnapshotTable.currentColmap(spark, root)
    case Some(locked) =>
      val persisted = metadataPath.flatMap { mp =>
        val file = new org.apache.hadoop.fs.Path(mp, "graft-colmap")
        val f = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def parse(): Map[String, String] = {
          val in = f.open(file)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          text.linesIterator.filter(_.nonEmpty).map { l =>
            val Array(lg, ph) = l.split("\t", 2)
            (new String(java.util.Base64.getDecoder.decode(lg), "UTF-8"),
              new String(java.util.Base64.getDecoder.decode(ph), "UTF-8"))
          }.toMap
        }
        if (f.exists(file)) Some(parse())
        else {
          val cm = SnapshotTable.currentColmap(spark, root)
          val b64 = java.util.Base64.getEncoder.withoutPadding
          val body = cm.toSeq.sortBy(_._1).map { case (l, p) =>
            s"${b64.encodeToString(l.getBytes("UTF-8"))}\t${
              b64.encodeToString(p.getBytes("UTF-8"))}"
          }.mkString("\n")
          try {
            f.mkdirs(new org.apache.hadoop.fs.Path(mp))
            val out = f.create(file, false) // atomic claim; losers re-read
            try out.write(body.getBytes("UTF-8")) finally out.close()
            Some(cm)
          } catch { case _: java.io.IOException =>
            if (f.exists(file)) Some(parse()) else Some(cm)
          }
        }
      }
      val cm = persisted.getOrElse(SnapshotTable.currentColmap(spark, root))
      // Loud guard: every locked field must resolve to a physical name
      // some era of the table can actually spell — either through the
      // lock itself or through the head (identity names included). A
      // field outside both (a typo, or a schema swapped between
      // restarts) would otherwise null-fill every row forever.
      val headCm = SnapshotTable.currentColmap(spark, root)
      val headPhys = SnapshotTable.tableSchema(spark, root)
        .fieldNames.map(n => SnapshotTable.physNameFor(headCm, n)).toSet
      val cdc = Set("_commit_version", "_change_type")
      val orphans = locked.fieldNames.filterNot(cdc).filterNot { n =>
        cm.contains(n) || headPhys.contains(SnapshotTable.physNameFor(cm, n))
      }
      require(orphans.isEmpty,
        s"locked schema field(s) ${orphans.mkString(", ")} resolve to no physical " +
          s"column of $root under either the checkpoint's column map or the table " +
          "head — the schema does not match the one this checkpoint was started " +
          "with; restart from a fresh checkpoint or supply the original schema.")
      cm
  }

  // ---- pacing state (used only when a trigger cap is configured) ----
  private def pacingOn: Boolean = maxVersionsPerTrigger > 0 || maxBytesPerTrigger > 0
  private lazy val paceDir: Option[org.apache.hadoop.fs.Path] =
    if (!pacingOn) None
    else metadataPath.map(p => new org.apache.hadoop.fs.Path(p, "graft-pace"))
  private def paceFs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  /** Highest offset already offered/delivered; marker-log-seeded. */
  private var paceFloor: Int = {
    val persisted = paceDir.flatMap { d =>
      val f = paceFs(d)
      if (!f.exists(d)) None
      else f.listStatus(d).toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") => n.drop(1).toInt }
        .maxOption
    }
    math.max(startingVersion, persisted.getOrElse(startingVersion))
  }
  private def recordPace(v: Int): Unit = if (v > paceFloor) {
    paceFloor = v
    paceDir.foreach { d =>
      val f = paceFs(d)
      // atomic create-if-absent marker; stale markers pruned lazily
      try {
        f.mkdirs(d)
        f.create(new org.apache.hadoop.fs.Path(d, s"v$v"), false).close()
        f.listStatus(d).foreach { s =>
          val n = s.getPath.getName
          if (n.startsWith("v") && n.drop(1).toInt < v - 64)
            f.delete(s.getPath, false)
        }
      } catch { case _: Exception => () } // pacing is best-effort; offsets stay safe
    }
  }

  /** Latest committed version, as the available offset — None until
    * something newer than the start exists (no empty first batch).
    * With pacing on, the offer is capped `maxVersionsPerTrigger` past
    * the floor and never below it (monotonic within and across runs). */
  override def getOffset: Option[Offset] =
    SnapshotTable.versions(spark, root).lastOption
      .filter(_ > startingVersion).map { latest =>
        var capped =
          if (maxVersionsPerTrigger > 0)
            math.min(latest, paceFloor + maxVersionsPerTrigger)
          else latest
        // byte-based admission (the DSv2 source's contract verbatim):
        // greedy version prefix whose ADDED manifest bytes fit the
        // budget; soft cap — the first version past the floor always
        // admits, so one oversized append can't stall the stream
        if (maxBytesPerTrigger > 0 && capped > paceFloor) {
          var admitted = paceFloor
          var acc = 0L
          var stop = false
          SnapshotTable.addedBytesByVersion(spark, root, paceFloor, capped)
            .foreach { case (v, b) =>
              if (!stop) {
                if (admitted == paceFloor || acc + b <= maxBytesPerTrigger) {
                  admitted = v; acc += b
                } else stop = true
              }
            }
          capped = admitted
        }
        LongOffset(math.max(capped, paceFloor).toLong)
      }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    recordPace(version(end))
    val from = start.map(version).getOrElse(startingVersion)
    if (changeFeed) {
      // the CDC form: every op delivers its row-level diff, with the
      // locked column set (a mid-stream evolution widens readChanges'
      // frame; selecting the locked fields keeps the consumer's shape).
      // A mid-stream RENAME is survived through the PHYSICAL names:
      // readChanges emits the window-end version's logical names, so
      // each locked field resolves locked-logical → physical (locked
      // map) → end-version logical (end map) and aliases back — the
      // consumer keeps its locked shape across the rename. A column
      // genuinely DROPPED in the window still fails loudly (it has no
      // end-version name), never silently null-fills.
      val endV = version(end)
      val cs = SnapshotTable.readChanges(spark, root, from, Some(endV))
      val endCm = SnapshotTable.colmapAt(spark, root, endV)
      val cols = schema.fields.toSeq.map { f =>
        val n = f.name
        if (n == "_commit_version" || n == "_change_type")
          org.apache.spark.sql.functions.col(n)
        else {
          // TOP-LEVEL reverse lookup only: a nested entry's physical
          // LEAF may coincide with a top-level physical name
          val phys = SnapshotTable.physNameFor(colmap, n)
          val endLogical = SnapshotTable.logicalTopFor(endCm, phys).getOrElse(n)
          val c = org.apache.spark.sql.functions.col(endLogical)
          // a mid-stream NESTED rename moves field names INSIDE a
          // struct: cast back to the locked shape (positional, null-
          // preserving — legal exactly when the shape is unchanged,
          // which is what a rename guarantees; a nested drop/add
          // changes the shape and fails the cast LOUDLY, matching the
          // dropped-column contract above)
          val endType = cs.schema.find(_.name.equalsIgnoreCase(endLogical)).map(_.dataType)
          (if (endType.exists(_ != f.dataType)) c.cast(f.dataType) else c).as(n)
        }
      }
      return org.apache.spark.sql.graftbridge.Bridge.asStreaming(spark, cs.select(cols: _*))
    }
    val files = SnapshotTable.addedFiles(spark, root, from, version(end)).flatMap {
      case (_, "append" | "create", added) => added
      // row-preserving commits deliver nothing: layout ("compact") and
      // metadata-only DDL ("rename"/"drop"/"addcol"/"widen"/
      // "constraint" — entries carried verbatim; this stream keeps its
      // LOCKED names. Files appended AFTER a widen carry the wider
      // physical type, which the locked narrower read schema cannot
      // decode — that read fails loudly at the parquet reader, the
      // restart-the-stream contract every shape-changing DDL has.)
      case (_, "compact" | "rename" | "drop" | "addcol" | "widen" | "constraint", _) => Seq.empty
      case _ if ignoreChanges => Nil
      case (v, op, _) =>
        throw new IllegalStateException(
          s"version $v of $root is a data-changing '$op' commit; its files mix " +
            "new and carried rows, so streaming them would re-deliver old rows. " +
            "Set .option(\"ignoreChanges\", true) to skip such commits, or " +
            "consume row-level changes in batch via SnapshotTable.readChanges.")
    }
    val batch =
      if (files.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else SnapshotTable.readFilesAs(spark, root, schema, colmap, files)
    org.apache.spark.sql.graftbridge.Bridge.asStreaming(spark, batch)
  }

  override def stop(): Unit = ()
}

/** See [[SnapshotTableSourceProvider.createSink]]. */
final class SnapshotTableSink(spark: SparkSession, root: String,
    statsKey: Option[String], statsKey2: Option[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val fresh = SnapshotTable.versions(spark, root).isEmpty
    // idempotence gate: a replayed batch (crash between table commit
    // and checkpoint commit) is recognized by its id and dropped
    if (!fresh && SnapshotTable.lastTxnBatchId(spark, root).exists(_ >= batchId)) return
    // the frame handed to a V1 Sink is streaming-flagged and cannot be
    // written directly; re-wrap its physical rows as a batch frame
    val batch = org.apache.spark.sql.graftbridge.Bridge.asBatch(spark, data)
    if (fresh)
      SnapshotTable.create(spark, root, batch, statsKey, statsKey2,
        txnBatchId = Some(batchId))
    else
      SnapshotTable.append(spark, root, batch, statsKey,
        statsKey2 = statsKey2, txnBatchId = Some(batchId))
    ()
  }
}
