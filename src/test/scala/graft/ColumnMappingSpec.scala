package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** COLUMN MAPPING (manifest format 9): rename/drop as ZERO-COPY
  * metadata commits — schema identity changes while the data files
  * stand still. The matrix pins the load-bearing claims: no data file
  * is written by either DDL; stats (and therefore pruning, proven by
  * executed-plan scan metrics) SURVIVE a rename of the stats-keyed
  * column; a column re-added after a drop can never resurrect the
  * dropped bytes (minted physical names); every version time-travels
  * under its own names; writers after the DDL interoperate (append /
  * merge / compact / CDC / streaming source); and the refusal edges
  * (constraint-referenced columns, stats-key drops, collisions) fail
  * loudly instead of corrupting.
  *
  * Reference analog: metadata-schema replacement while stored data is
  * untouched (chunking_manager.py:170-176); design analog: Delta
  * column mapping / Iceberg field IDs. */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-colmap").toString

  private def dataFiles(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root, "data")
    if (!java.nio.file.Files.exists(p)) Set.empty
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
  }

  /** 400 rows range-clustered on `id` into 4 disjoint-range files. */
  private def clustered400(root: String): Unit =
    SnapshotTable.create(spark, root,
      spark.range(400).select(col("id"), concat(lit("r"), col("id")).as("v"))
        .repartitionByRange(4, col("id")),
      statsKey = Some("id"))

  /** Files each snapshot scan of `df`'s executed plan kept. */
  private def keptFiles(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    graft.PlanWalk.keptFiles(df)

  test("rename is zero-copy and every version time-travels under its own names") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "payload"))
    val before = dataFiles(root)
    val v2 = SnapshotTable.renameColumn(spark, root, "payload", "body")
    assert(v2 == 2)
    assert(dataFiles(root) == before, "rename must write no data file")
    // head reads under the new name, values untouched
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("id", "body"))
    assert(SnapshotTable.read(spark, root).orderBy("id").select("body")
      .as[String].collect().toSeq == Seq("a", "b"))
    // v1 still reads under ITS OWN recorded name
    assert(SnapshotTable.read(spark, root, Some(1)).columns.toSeq == Seq("id", "payload"))
    assert(SnapshotTable.history(spark, root).last.op == "rename")
  }

  test("stats survive a rename of the stats-keyed column: pruning proven by scan metrics") {
    val root = tmp()
    clustered400(root)
    SnapshotTable.renameColumn(spark, root, "id", "doc_id")
    // the indexed read resolves the RENAMED key against the manifest
    val probe = SnapshotTable.readIndexed(spark, root, "doc_id")
      .filter(col("doc_id") === 125L)
    assert(probe.collect().map(_.getString(1)).toSeq == Seq("r125"))
    val dataScans = keptFiles(probe)
    assert(dataScans.nonEmpty, "plan must contain the table's file scan")
    assert(dataScans.max == 1,
      "point predicate on the RENAMED key must still prune to 1 of 4 files " +
        "(per-file stats were measured on the physical column the rename never touched)")
    // the explicit point-probe API prunes identically (readKeys bounds
    // FILES; the caller row-filters — the probe contract)
    val keyed = SnapshotTable.readKeys(spark, root, "doc_id", Array(125L))
    assert(keyed.inputFiles.length == 1, "readKeys must keep exactly 1 of 4 files")
    assert(keyed.filter(col("doc_id") === 125L).count() == 1)
  }

  test("append and merge after a rename interoperate (key-addressed by the new name)") {
    val root = tmp()
    clustered400(root)
    SnapshotTable.renameColumn(spark, root, "id", "doc_id")
    SnapshotTable.append(spark, root,
      Seq((400L, "r400"), (401L, "r401")).toDF("doc_id", "v"))
    SnapshotTable.merge(spark, root,
      Seq((125L, "UPDATED")).toDF("doc_id", "v"), key = "doc_id")
    val now = SnapshotTable.read(spark, root)
    assert(now.count() == 402)
    assert(now.filter(col("doc_id") === 125L).select("v")
      .as[String].collect().toSeq == Seq("UPDATED"))
    assert(now.filter(col("doc_id") === 400L).count() == 1)
    // old files (physical name "id") and new files (same physical
    // name — appends translate) read as ONE coherent column
    assert(now.agg(countDistinct(col("doc_id"))).as[Long].head() == 402L)
  }

  test("drop is zero-copy; re-adding the name can NEVER resurrect the dropped bytes") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      Seq((1L, "keep1", 111L), (2L, "keep2", 222L)).toDF("id", "payload", "n"))
    val before = dataFiles(root)
    SnapshotTable.dropColumn(spark, root, "n")
    assert(dataFiles(root) == before, "drop must write no data file")
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("id", "payload"))
    // v1 time-travels WITH the column
    assert(SnapshotTable.read(spark, root, Some(1)).columns.toSeq ==
      Seq("id", "payload", "n"))
    assert(SnapshotTable.read(spark, root, Some(1))
      .filter(col("id") === 1L).select("n").as[Long].head() == 111L)
    // re-ADD a column of the same logical name: minted physical name,
    // so rows written before the re-add are NULL — never 111/222
    SnapshotTable.append(spark, root, Seq((3L, "new3", 999L)).toDF("id", "payload", "n"))
    val n = SnapshotTable.read(spark, root).orderBy("id")
      .select(col("n")).collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    assert(n.toSeq == Seq(-1L, -1L, 999L),
      s"dropped bytes must not resurrect under the re-added name (got ${n.toSeq})")
  }

  test("refusal edges: collision, stats-key drop, constraint-referenced DDL, last column") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      Seq((1L, "a", 10L)).toDF("id", "payload", "n"), statsKey = Some("id"))
    SnapshotTable.addConstraint(spark, root, "n_pos", "n >= 0")
    // rename onto an existing name (case-insensitive)
    assert(scala.util.Try(
      SnapshotTable.renameColumn(spark, root, "payload", "N")).isFailure)
    // drop the recorded stats key
    assert(scala.util.Try(SnapshotTable.dropColumn(spark, root, "id")).isFailure)
    // rename/drop a constraint-referenced column: refused loudly
    assert(scala.util.Try(
      SnapshotTable.renameColumn(spark, root, "n", "count")).isFailure)
    assert(scala.util.Try(SnapshotTable.dropColumn(spark, root, "n")).isFailure)
    // after dropping the rule, the DDL goes through
    SnapshotTable.dropConstraint(spark, root, "n_pos")
    SnapshotTable.renameColumn(spark, root, "n", "count")
    assert(SnapshotTable.read(spark, root).columns.toSeq ==
      Seq("id", "payload", "count"))
    // a missing source column
    assert(scala.util.Try(
      SnapshotTable.renameColumn(spark, root, "ghost", "x")).isFailure)
  }

  test("compact after rename/drop materializes cleanly and keeps pruning") {
    val root = tmp()
    clustered400(root)
    SnapshotTable.append(spark, root,
      spark.range(400, 420).select(col("id"), concat(lit("r"), col("id")).as("v")))
    SnapshotTable.renameColumn(spark, root, "id", "doc_id")
    SnapshotTable.compact(spark, root, targetFiles = 4, cluster = true)
    val now = SnapshotTable.read(spark, root)
    assert(now.columns.toSeq == Seq("doc_id", "v") && now.count() == 420)
    val probe = SnapshotTable.readIndexed(spark, root, "doc_id")
      .filter(col("doc_id") === 7L)
    assert(probe.collect().map(_.getString(1)).toSeq == Seq("r7"))
    assert(keptFiles(probe).max == 1,
      "re-clustered post-rename files must point-prune again")
  }

  test("deleteWhere and CDC across a rename stay coherent") {
    val root = tmp()
    clustered400(root)                                     // v1
    SnapshotTable.renameColumn(spark, root, "id", "doc_id") // v2
    SnapshotTable.deleteWhere(spark, root, col("doc_id") === 5L) // v3
    assert(SnapshotTable.read(spark, root).count() == 399)
    val cs = SnapshotTable.readChanges(spark, root, 1)
    // the rename version emits NOTHING (no row moved); the delete
    // emits exactly its row, under the TO version's names
    assert(cs.filter(col("_commit_version") === 2).count() == 0)
    val deleted = cs.filter(col("_commit_version") === 3)
    assert(deleted.columns.contains("doc_id"))
    assert(deleted.select("_change_type", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("delete", 5L)))
  }

  test("streaming table source reads a renamed table (locked colmap, mixed-era files)") {
    val root = tmp()
    val out = tmp()
    SnapshotTable.create(spark, root,
      Seq((1L, "a")).toDF("id", "v"), statsKey = Some("id"))    // v1: physical "v"
    SnapshotTable.renameColumn(spark, root, "v", "body")        // v2: metadata-only
    SnapshotTable.append(spark, root,
      Seq((2L, "b")).toDF("id", "body"))                        // v3: ALSO physical "v"
    // one query spanning all three versions: the locked schema is the
    // renamed one (id, body), the locked colmap maps body→v, and the
    // rename version must deliver NOTHING (entry-preserving DDL) —
    // both data files, either side of the rename, read coherently
    val q = spark.readStream.format("graft-table").option("path", root).load()
      .writeStream.format("parquet").option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$out/sink").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")),
      s"locked-colmap stream must deliver both eras' rows under 'body' (got $got)")
  }

  test("stream restart after a FURTHER rename: the locked colmap survives via the checkpoint") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tmp(); val out = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))   // v1
    SnapshotTable.renameColumn(spark, root, "v", "body")                 // v2: map {body→v}
    // the consumer locks (id, body) — a POST-activation name
    val locked = StructType(Seq(StructField("id", LongType),
      StructField("body", StringType)))
    def drain(): Unit = {
      val q = spark.readStream.format("graft-table").schema(locked)
        .option("path", root).load()
        .writeStream.format("parquet").option("path", s"$out/sink")
        .option("checkpointLocation", s"$out/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // first start: persists the {body→v} lock next to the checkpoint
    // a FURTHER rename removes 'body' from the table head's map — a
    // restarted source re-deriving the map from the head would read a
    // nonexistent physical column and silently null-fill the data
    SnapshotTable.renameColumn(spark, root, "body", "w")                 // v3
    SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("id", "w"))    // v4
    drain() // restart: the persisted lock must still address physical 'v'
    val got = spark.read.parquet(s"$out/sink").orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(got.toSeq == Seq((1L, "a"), (2L, "b")),
      s"the restarted stream must read both eras' values, never nulls (got ${got.toSeq})")
  }

  test("SCHEMA-LESS stream restart after a rename: head schema pairs with head map") {
    val root = tmp(); val out = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))      // v1
    def drain(): Unit = {
      val q = spark.readStream.format("graft-table").option("path", root).load()
        .writeStream.format("parquet").option("path", s"$out/sink")
        .option("checkpointLocation", s"$out/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // first start: head schema (id, v), identity map
    // A rename between runs: a schema-less RESTART re-derives its
    // schema from the head (DSv1 checkpoints persist no source
    // schema), so it sees the NEW name 'body' — and must pair it with
    // the HEAD's map {body→v}, not the first start's identity map,
    // which knows no 'body' and would null-fill every row (the bug
    // this test pins closed).
    SnapshotTable.renameColumn(spark, root, "v", "body")                    // v2
    SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("id", "body"))    // v3
    drain() // restart: delivers row 2's value, never a null
    val got = spark.read.option("mergeSchema", "true").parquet(s"$out/sink")
      .withColumn("text", coalesce(col("v"), col("body")))
      .orderBy("id").collect()
      .map(r => (r.getLong(r.fieldIndex("id")),
        if (r.isNullAt(r.fieldIndex("text"))) null else r.getString(r.fieldIndex("text"))))
    assert(got.toSeq == Seq((1L, "a"), (2L, "b")),
      s"the schema-less restart must deliver real values under the head pairing (got ${got.toSeq})")
  }

  test("a locked schema that matches no era of the table refuses loudly") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tmp(); val out = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val bogus = StructType(Seq(StructField("id", LongType),
      StructField("no_such_column", StringType)))
    val q = spark.readStream.format("graft-table").schema(bogus)
      .option("path", root).load()
      .writeStream.format("parquet").option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(err).exists(c => Option(c.getMessage).exists(
        _.contains("no_such_column"))),
      s"the orphan field must be named in the refusal (got ${err.getMessage})")
  }

  test("changeFeed stream with a pre-rename locked shape spans the rename") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val root = tmp(); val out = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))      // v1
    SnapshotTable.renameColumn(spark, root, "v", "body")                    // v2
    SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("id", "body"))    // v3
    // the consumer LOCKS the pre-rename shape explicitly (a CDC
    // subscriber whose schema was fixed before the DDL): each locked
    // field resolves through physical identity to the window-end name
    // and aliases back, so the stream delivers — not crashes — across
    // the rename; both eras' inserts arrive under the locked name 'v'
    val locked = StructType(Seq(
      StructField("_commit_version", IntegerType, nullable = false),
      StructField("_change_type", StringType, nullable = false),
      StructField("id", LongType), StructField("v", StringType)))
    val q = spark.readStream.format("graft-table").schema(locked)
      .option("path", root).option("changeFeed", "true").load()
      .writeStream.format("parquet").option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$out/sink")
    assert(got.columns.toSeq == locked.fieldNames.toSeq,
      "the consumer keeps its LOCKED shape across the rename")
    val rows = got.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.toSeq == Seq((1, "insert", 1L, "a"), (3, "insert", 2L, "b")),
      s"both eras' inserts deliver under the locked name 'v' (got ${rows.toSeq})")
  }

  test("schema evolution after activation mints physical names (manifest-level)") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.renameColumn(spark, root, "v", "body") // activates mapping
    SnapshotTable.append(spark, root, Seq((2L, "b", 7L)).toDF("id", "body", "extra"))
    val cm = SnapshotTable.currentColmap(spark, root)
    assert(cm("body") == "v", "renamed column keeps its original physical name")
    assert(cm("id") == "id", "untouched columns map to themselves")
    assert(cm.contains("extra") && cm("extra") != "extra" &&
      cm("extra").startsWith("c_"),
      s"post-activation columns get minted physical names (got ${cm.get("extra")})")
    val now = SnapshotTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(now.toSeq == Seq((1L, "a", -1L), (2L, "b", 7L)))
  }

  test("M-line grammar round-trips hostile names (unicode, spaces, tabs, quotes)") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    // names the line grammar must survive: the base64 encoding keeps
    // arbitrary content out of the manifest's tab/newline structure
    val hostile = "döc \"id\"\t✓"
    SnapshotTable.renameColumn(spark, root, "v", hostile)
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("id", hostile))
    assert(SnapshotTable.currentColmap(spark, root)(hostile) == "v")
    assert(SnapshotTable.read(spark, root)
      .select(col("`" + hostile + "`")).as[String].head() == "a")
    // and back to a sane name
    SnapshotTable.renameColumn(spark, root, hostile, "w")
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("id", "w"))
    assert(SnapshotTable.currentColmap(spark, root)("w") == "v")
    // the operator surface reports the active mapping's size
    assert(SnapshotTable.describeDetail(spark, root).mappedColumns == 2)
  }

  test("addColumn: schema-first declaration, zero-copy, minted under mapping") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val before = dataFiles(root)
    SnapshotTable.addColumn(spark, root, "score",
      org.apache.spark.sql.types.LongType)
    assert(dataFiles(root) == before, "addColumn must write no data file")
    // existing rows null-fill; the next batch may carry it
    val r1 = SnapshotTable.read(spark, root).head()
    assert(r1.isNullAt(2))
    SnapshotTable.append(spark, root, Seq((2L, "b", 9L)).toDF("id", "v", "score"))
    assert(SnapshotTable.read(spark, root).filter(col("score") === 9L).count() == 1)
    // duplicate declaration refused
    assert(scala.util.Try(SnapshotTable.addColumn(spark, root, "SCORE",
      org.apache.spark.sql.types.LongType)).isFailure)
    // under an ACTIVE mapping (after a drop), add of the dropped name
    // mints — the declarative path has the same resurrection defense
    SnapshotTable.dropColumn(spark, root, "score")
    SnapshotTable.addColumn(spark, root, "score",
      org.apache.spark.sql.types.LongType)
    val cm = SnapshotTable.currentColmap(spark, root)
    assert(cm("score").startsWith("c_"),
      s"re-declared dropped column must mint a fresh physical name (got $cm)")
    assert(SnapshotTable.read(spark, root).filter(col("score").isNotNull).count() == 0,
      "the dropped column's bytes must not resurrect through addColumn")
  }

  test("rename tombstones: a stale producer's old-name batch refuses; addColumn re-opens") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.renameColumn(spark, root, "v", "body")
    // the realistic race: a producer that hasn't caught up with the
    // DDL still ships the OLD name — without the tombstone its data
    // would silently fork into a brand-new column beside the renamed
    // one; with it, both write paths refuse loudly, nothing commits
    assert(scala.util.Try(SnapshotTable.append(spark, root,
      Seq((2L, "stale")).toDF("id", "v"))).isFailure)
    assert(scala.util.Try(SnapshotTable.merge(spark, root,
      Seq((1L, "stale")).toDF("id", "v"), key = "id")).isFailure)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    assert(SnapshotTable.read(spark, root).count() == 1)
    // the DELIBERATE path re-opens the name as a fresh column
    SnapshotTable.addColumn(spark, root, "v",
      org.apache.spark.sql.types.StringType)
    SnapshotTable.append(spark, root,
      Seq((2L, "b2", "v2")).toDF("id", "body", "v"))
    val rows = SnapshotTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    assert(rows.toSeq == Seq((1L, "a", null), (2L, "b2", "v2")),
      s"re-opened 'v' is a FRESH column — old rows null-fill (got ${rows.toSeq})")
  }

  test("rename chains: a logical name may take over another column's OLD name") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, 10L, 20L)).toDF("id", "a", "b"))
    SnapshotTable.renameColumn(spark, root, "a", "x")  // x → physical a
    SnapshotTable.renameColumn(spark, root, "b", "a")  // a → physical b (!)
    val cm = SnapshotTable.currentColmap(spark, root)
    assert(cm("x") == "a" && cm("a") == "b",
      s"logical and physical namespaces are independent (got $cm)")
    val row = SnapshotTable.read(spark, root).select("id", "x", "a").head()
    assert((row.getLong(1), row.getLong(2)) == (10L, 20L),
      "logical 'a' must now carry the OLD b's values, 'x' the old a's")
    // writers under the twisted names land correctly
    SnapshotTable.append(spark, root, Seq((2L, 11L, 21L)).toDF("id", "x", "a"))
    val rows = SnapshotTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 10L, 20L), (2L, 11L, 21L)))
  }

  test("blooms after a rename: built on the physical column, probed by the logical key") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      spark.range(100).select(col("id"), concat(lit("r"), col("id")).as("v"))
        .repartitionByRange(4, col("id")),
      statsKey = Some("id"), bloomKey = true)
    SnapshotTable.renameColumn(spark, root, "id", "doc_id")
    // fresh UNCLUSTERED append post-rename: ids span ~the whole key
    // space, so range stats keep the file — only the bloom (built on
    // the physical column through the colmap) can prune it
    SnapshotTable.append(spark, root,
      Seq(3L, 500003L, 1000003L).toDF("doc_id")
        .select(col("doc_id") * 2L + 1L, lit("odd").as("v"))
        .toDF("doc_id", "v").coalesce(1), bloomKey = true)
    // an ABSENT even key: range stats of the fresh file span it, the
    // bloom says no — the probe must prune the fresh file
    val probe = SnapshotTable.readKeys(spark, root, "doc_id", Array(999998L))
    assert(probe.inputFiles.isEmpty || probe.inputFiles.forall(!_.contains("odd")),
      "absent-key probe must not keep the fresh bloom-carrying file")
    assert(probe.count() == 0)
    // a PRESENT fresh key keeps its file and returns its row
    val hit = SnapshotTable.readKeys(spark, root, "doc_id", Array(1000007L))
    assert(hit.filter(col("doc_id") === 1000007L).count() == 1)
  }

  test("incremental view over a mapped base: untracked rename harmless, tracked rename loud") {
    val root = tmp(); val view = tmp() + "/view"
    SnapshotTable.create(spark, root,
      Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("g", "n", "note"),
      statsKey = Some("g"))
    graft.meta.IncrementalView.create(spark, root, view, "g", "n")
    // renaming an UNTRACKED column doesn't disturb the view's refresh
    SnapshotTable.renameColumn(spark, root, "note", "comment")
    SnapshotTable.append(spark, root, Seq((1L, 5L, "z")).toDF("g", "n", "comment"))
    graft.meta.IncrementalView.refresh(spark, root, view)
    val state = graft.meta.IncrementalView.read(spark, view)
      .orderBy("g").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(state.toSeq == Seq((1L, 2L, 15L), (2L, 1L, 20L)))
    // renaming a TRACKED column fails the next refresh LOUDLY (the
    // spec's column no longer resolves) — never silent drift
    SnapshotTable.renameColumn(spark, root, "n", "amount")
    SnapshotTable.append(spark, root, Seq((2L, 7L, "w")).toDF("g", "amount", "comment"))
    assert(scala.util.Try(
      graft.meta.IncrementalView.refresh(spark, root, view)).isFailure)
  }

  test("randomized DDL lifecycle equals the in-memory model at every version") {
    // the model-equivalence harness the delta-manifest table already
    // has, applied to COLUMN MAPPING: a seeded random interleaving of
    // renames, drops, adds, appends, merges, compactions, and stale
    // old-name appends, checked against a trivial in-memory model
    // after EVERY op and time-travel-checked against recorded
    // snapshots at the end. Any translation bug — wrong physical
    // column under a mapped name, resurrection after drop, a lost
    // rename on a write path, tombstone leak — diverges from the
    // model and names the op index that broke it.
    val root = tmp()
    val rnd = new scala.util.Random(4242)
    // model: live value-columns in order; rows: id -> (colName -> value)
    var cols = Vector("c0", "c1")
    var rows = Map[Long, Map[String, Long]](
      1L -> Map("c0" -> 10L, "c1" -> 100L), 2L -> Map("c0" -> 20L, "c1" -> 200L))
    var retired = Set[String]()
    var nextCol = 2
    var nextId = 3L
    def frame(ids: Seq[Long], vals: Map[Long, Map[String, Long]]) = {
      val sch = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false) +:
        cols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.LongType, nullable = true)))
      val data = ids.map(i => org.apache.spark.sql.Row.fromSeq(
        i +: cols.map(c => vals(i).get(c).map(Long.box).orNull)))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava), sch)
    }
    SnapshotTable.create(spark, root, frame(rows.keys.toSeq.sorted, rows),
      statsKey = Some("id"))
    def check(opIdx: Int, op: String): Unit = {
      val df = SnapshotTable.read(spark, root)
      assert(df.columns.toSeq == ("id" +: cols),
        s"op #$opIdx ($op): schema ${df.columns.toSeq} != model ${"id" +: cols}")
      val got = df.collect().map { r =>
        r.getLong(0) -> cols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(i + 1)) None else Some(c -> r.getLong(i + 1))
        }.toMap
      }.toMap
      assert(got == rows, s"op #$opIdx ($op): table $got != model $rows")
    }
    val snapshots = scala.collection.mutable.ArrayBuffer[(Int, Vector[String], Map[Long, Map[String, Long]])]()
    (1 to 40).foreach { i =>
      val op = rnd.nextInt(8) match {
        case 0 | 1 => // append fresh rows (current names)
          val ids = (0 until 1 + rnd.nextInt(3)).map(_ => { val x = nextId; nextId += 1; x })
          val add = ids.map(id => id -> cols.map(c => c -> (id * 7 + c.length)).toMap).toMap
          rows ++= add
          SnapshotTable.append(spark, root, frame(ids, add)); "append"
        case 2 => // rename a random column
          val from = cols(rnd.nextInt(cols.size))
          val to = s"c$nextCol"; nextCol += 1
          cols = cols.map(c => if (c == from) to else c)
          rows = rows.view.mapValues(m =>
            m.map { case (k, v) => (if (k == from) to else k) -> v }).toMap
          retired = retired - to + from
          SnapshotTable.renameColumn(spark, root, from, to); s"rename $from->$to"
        case 3 if cols.size > 1 => // drop a random column
          val victim = cols(rnd.nextInt(cols.size))
          cols = cols.filterNot(_ == victim)
          rows = rows.view.mapValues(_ - victim).toMap
          SnapshotTable.dropColumn(spark, root, victim); s"drop $victim"
        case 4 => // add a column — half the time a RETIRED name (un-retire)
          val name = if (retired.nonEmpty && rnd.nextBoolean()) retired.head
                     else { val n = s"c$nextCol"; nextCol += 1; n }
          retired -= name
          cols = cols :+ name
          SnapshotTable.addColumn(spark, root, name,
            org.apache.spark.sql.types.LongType); s"add $name"
        case 5 => // merge: rewrite a random live id under current names
          val id = rows.keys.toSeq.sorted.apply(rnd.nextInt(rows.size))
          val upd = Map(id -> cols.map(c => c -> (id * 13 + c.length)).toMap)
          rows ++= upd
          SnapshotTable.merge(spark, root, frame(Seq(id), upd), key = "id"); s"merge $id"
        case 6 => // compact (row-preserving; model unchanged)
          SnapshotTable.compact(spark, root, targetFiles = 2,
            cluster = true); "compact"
        case _ => // stale producer: a retired-name batch must REFUSE
          if (retired.nonEmpty) {
            val stale = retired.head
            val before = SnapshotTable.versions(spark, root).size
            val sch = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField(stale,
                org.apache.spark.sql.types.LongType, nullable = true)))
            val bad = spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](
                scala.jdk.CollectionConverters.SeqHasAsJava(
                  Seq(org.apache.spark.sql.Row(999999L, Long.box(1L)))).asJava), sch)
            assert(scala.util.Try(SnapshotTable.append(spark, root, bad)).isFailure,
              s"op #$i: stale append under retired '$stale' must refuse")
            assert(SnapshotTable.versions(spark, root).size == before)
            s"stale-refused $stale"
          } else "noop"
      }
      check(i, op)
      if (i % 10 == 0)
        snapshots += ((SnapshotTable.versions(spark, root).last, cols, rows))
    }
    // time travel: each recorded snapshot reads under ITS OWN names
    snapshots.foreach { case (v, snapCols, snapRows) =>
      val df = SnapshotTable.read(spark, root, Some(v))
      assert(df.columns.toSeq == ("id" +: snapCols), s"v$v names drifted")
      val got = df.collect().map { r =>
        r.getLong(0) -> snapCols.zipWithIndex.flatMap { case (c, ix) =>
          if (r.isNullAt(ix + 1)) None else Some(c -> r.getLong(ix + 1))
        }.toMap
      }.toMap
      assert(got == snapRows, s"v$v state drifted from its model snapshot")
    }
  }

  test("restore rolls metadata back WITH the data (schema, names, constraints)") {
    val root = tmp()
    SnapshotTable.create(spark, root, Seq((1L, "a", 5L)).toDF("id", "v", "n")) // v1
    SnapshotTable.renameColumn(spark, root, "v", "body")                        // v2
    SnapshotTable.dropColumn(spark, root, "n")                                  // v3
    SnapshotTable.restore(spark, root, 1)                                       // v4
    val now = SnapshotTable.read(spark, root)
    assert(now.columns.toSeq == Seq("id", "v", "n"),
      "restore must bring back the target version's own names and columns")
    assert(now.filter(col("id") === 1L).select("n").as[Long].head() == 5L)
  }

  test("path refusal edges that REMAIN with nested mapping (format 10)") {
    // nested struct paths are first-class now (NestedMappingSpec);
    // what still refuses, refuses loudly with the real reason
    val root = tmp()
    SnapshotTable.create(spark, root,
      Seq((1L, ("f.md", 7L), "x", Seq(("a", 1L)))).toDF("id", "metadata", "v", "tags"))
    // a path through an ARRAY's element structs has no mapping story
    val ar = intercept[UnsupportedOperationException](
      SnapshotTable.renameColumn(spark, root, "tags._1", "name"))
    assert(ar.getMessage.contains("array/map"), ar.getMessage)
    // renaming TO a dotted name is refused (the new name is a LEAF;
    // the field stays at its path)
    val to = intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, root, "v", "metadata.v"))
    assert(to.getMessage.contains("LEAF"), to.getMessage)
    // a dotted name whose head is NOT a struct reports the real shape
    val nc = intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, root, "id.sub", "x"))
    assert(nc.getMessage.contains("not a struct"), nc.getMessage)
    // the struct column itself renames fine — whole-column DDL
    SnapshotTable.renameColumn(spark, root, "metadata", "meta")
    assert(SnapshotTable.read(spark, root).columns.toSeq ==
      Seq("id", "meta", "v", "tags"))
  }

  test("mintPhysical re-draws until the name clears the avoid set") {
    // forced collision path: the first two draws are names the live
    // namespace already holds; the loop must skip both
    val scripted = Iterator("aaaa", "bbbb", "cccc")
    assert(SnapshotTable.mintPhysical(Set("c_aaaa", "c_bbbb"),
      () => scripted.next()) == "c_cccc")
    // property: over a deliberately tiny draw space (collisions
    // guaranteed), the mint is NEVER a member of the avoid set
    val r = new scala.util.Random(7)
    (1 to 100).foreach { _ =>
      val avoid = (1 to 6).map(_ => s"c_${r.nextInt(8).toHexString}").toSet
      val m = SnapshotTable.mintPhysical(avoid, () => r.nextInt(8).toHexString)
      assert(m.startsWith("c_") && !avoid.contains(m),
        s"minted '$m' collides with $avoid")
    }
  }
}
