package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.sources.SnapshotTable

/** NESTED COLUMN MAPPING (manifest format 10): rename/drop/add of
  * STRUCT-FIELD PATHS as zero-copy metadata commits — the same
  * discipline ColumnMappingSpec pins for top-level columns, applied
  * to `metadata.filename`-shaped paths. The matrix: no data file is
  * written by nested DDL; every era's files read back correctly under
  * the head's names (old files spell the old physical leaf); NULL
  * struct values stay null through the translation (the cast path —
  * a named_struct rebuild would turn them into structs of nulls); a
  * nested field re-added after a drop can never resurrect the dropped
  * bytes (minted physical leaves); renaming an ANCESTOR struct
  * re-roots its descendants' map keys and tombstones; stale producers
  * shipping a retired nested name refuse loudly; stats-key pruning is
  * untouched by an active nested map; and the format ladder is
  * honest: 8 (no map) → 9 (top-level entries only) → 10 (nested
  * paths).
  *
  * Reference analog: the chunk metadata the reference renames via
  * wholesale metadata replacement IS a struct
  * (chunking_manager.py:82-87); design analog: Delta's column-mapping
  * coverage of nested fields. */
class NestedMappingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-nested").toString

  private def dataFiles(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root, "data")
    if (!java.nio.file.Files.exists(p)) Set.empty
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
  }

  /** The `"format":N` recorded in version `v`'s manifest header. */
  private def manifestFormat(root: String, v: Int): Int = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_snapshots", f"v$v%07d.json")), "UTF-8")
    """"format":(\d+)""".r.findFirstMatchIn(txt).get.group(1).toInt
  }

  /** id + struct meta(filename, page) + payload; one row's meta NULL. */
  private def seed(root: String): Unit =
    SnapshotTable.create(spark, root,
      spark.range(4).selectExpr(
        "id",
        "CASE WHEN id = 3 THEN CAST(NULL AS struct<filename:string,page:bigint>) " +
          "ELSE named_struct('filename', concat('f', id, '.md'), 'page', id * 10) END AS meta",
        "concat('p', id) AS payload"),
      statsKey = Some("id"))

  test("nested rename: zero-copy, all eras read back, null structs stay null") {
    val root = tmp()
    seed(root)
    val before = dataFiles(root)
    val v2 = SnapshotTable.renameColumn(spark, root, "meta.filename", "fname")
    assert(v2 == 2)
    assert(dataFiles(root) == before, "nested rename must write no data file")
    val head = SnapshotTable.read(spark, root)
    assert(head.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("fname", "page"))
    // values untouched; OLD files (physical leaf 'filename') serve the new name
    assert(head.orderBy("id").selectExpr("meta.fname").as[String].collect().toSeq ==
      Seq("f0.md", "f1.md", "f2.md", null))
    // the NULL struct row is STILL a null struct, not a struct of nulls
    assert(head.filter(col("id") === 3L).select(col("meta").isNull)
      .as[Boolean].head(), "null struct must survive the logical translation")
    // v1 time-travels under its OWN nested names
    val v1 = SnapshotTable.read(spark, root, Some(1))
    assert(v1.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("filename", "page"))
    // a post-rename append arrives LOGICAL and lands physical: both
    // eras of files agree under the head schema
    SnapshotTable.append(spark, root,
      spark.range(4, 6).selectExpr("id",
        "named_struct('fname', concat('f', id, '.md'), 'page', id * 10) AS meta",
        "concat('p', id) AS payload"))
    assert(SnapshotTable.read(spark, root).orderBy("id")
      .selectExpr("meta.fname").as[String].collect().toSeq ==
      Seq("f0.md", "f1.md", "f2.md", null, "f4.md", "f5.md"))
    // format ladder: nested entry present => 10
    assert(manifestFormat(root, 2) == 10)
  }

  test("ancestor struct rename re-roots descendant map keys and tombstones") {
    val root = tmp()
    seed(root)
    SnapshotTable.renameColumn(spark, root, "meta.filename", "fname") // v2
    SnapshotTable.renameColumn(spark, root, "meta", "chunk_meta")     // v3
    val head = SnapshotTable.read(spark, root)
    assert(head.columns.toSeq == Seq("id", "chunk_meta", "payload"))
    // the nested entry survived the re-root: chunk_meta.fname still
    // reads the ORIGINAL physical leaf in v1-era files
    assert(head.orderBy("id").selectExpr("chunk_meta.fname").as[String]
      .collect().toSeq == Seq("f0.md", "f1.md", "f2.md", null))
    // and a FURTHER nested rename under the new root composes
    SnapshotTable.renameColumn(spark, root, "chunk_meta.fname", "file") // v4
    assert(SnapshotTable.read(spark, root).orderBy("id")
      .selectExpr("chunk_meta.file").as[String].collect().toSeq ==
      Seq("f0.md", "f1.md", "f2.md", null))
    // the re-rooted TOMBSTONE still guards: a producer shipping the
    // pre-v2 name under the new struct root refuses
    val e = intercept[IllegalArgumentException](SnapshotTable.append(spark, root,
      spark.range(6, 7).selectExpr("id",
        "named_struct('filename', 'x.md', 'page', 0L) AS chunk_meta",
        "'p' AS payload")))
    assert(e.getMessage.contains("retired"), e.getMessage)
  }

  test("nested drop + re-add: dropped bytes can NEVER resurrect") {
    val root = tmp()
    seed(root)
    val before = dataFiles(root)
    SnapshotTable.dropColumn(spark, root, "meta.page") // v2 — activates mapping
    assert(dataFiles(root) == before, "nested drop must write no data file")
    val afterDrop = SnapshotTable.read(spark, root)
    assert(afterDrop.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("filename"))
    // re-add the SAME path: minted physical leaf — the v1 files'
    // 'page' bytes (0,10,20) must stay buried
    SnapshotTable.addColumn(spark, root, "meta.page", LongType) // v3
    val readded = SnapshotTable.read(spark, root)
    assert(readded.orderBy("id").selectExpr("meta.page").as[Option[Long]]
      .collect().toSeq == Seq(None, None, None, None),
      "re-added nested field must null-fill, never resurrect dropped bytes")
    // and it accepts data going forward
    SnapshotTable.append(spark, root,
      spark.range(4, 5).selectExpr("id",
        "named_struct('filename', 'f4.md', 'page', 40L) AS meta",
        "'p4' AS payload"))
    assert(SnapshotTable.read(spark, root).filter(col("id") === 4L)
      .selectExpr("meta.page").as[Long].head() == 40L)
    // v1 time-travel still shows the original page values
    assert(SnapshotTable.read(spark, root, Some(1)).orderBy("id")
      .selectExpr("meta.page").as[Option[Long]].collect().toSeq.flatten ==
      Seq(0L, 10L, 20L))
  }

  test("nested add on a VIRGIN table stays identity and null-fills old files") {
    val root = tmp()
    seed(root)
    // no prior DDL: the map is inactive; a nested add keeps
    // logical = physical (zero translation overhead forever)
    SnapshotTable.addColumn(spark, root, "meta.score", DoubleType) // v2
    val head = SnapshotTable.read(spark, root)
    assert(head.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("filename", "page", "score"))
    assert(head.orderBy("id").selectExpr("meta.score").as[Option[Double]]
      .collect().toSeq == Seq(None, None, None, None),
      "old files must null-fill a schema-first nested field")
    assert(manifestFormat(root, 2) == 8,
      "an inactive map must not pay the mapping format bump")
    SnapshotTable.append(spark, root,
      spark.range(4, 5).selectExpr("id",
        "named_struct('filename', 'f4.md', 'page', 40L, 'score', 0.5D) AS meta",
        "'p4' AS payload"))
    assert(SnapshotTable.read(spark, root).filter(col("id") === 4L)
      .selectExpr("meta.score").as[Double].head() == 0.5)
  }

  test("nested refusal edges: sibling collision, last field, struct add on non-struct") {
    val root = tmp()
    seed(root)
    val col1 = intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, root, "meta.filename", "page"))
    assert(col1.getMessage.contains("already exists"), col1.getMessage)
    SnapshotTable.dropColumn(spark, root, "meta.page")
    val last = intercept[IllegalArgumentException](
      SnapshotTable.dropColumn(spark, root, "meta.filename"))
    assert(last.getMessage.contains("last field"), last.getMessage)
    val ns = intercept[IllegalArgumentException](
      SnapshotTable.addColumn(spark, root, "payload.x", LongType))
    assert(ns.getMessage.contains("not a struct"), ns.getMessage)
    val dup = intercept[IllegalArgumentException](
      SnapshotTable.addColumn(spark, root, "meta.filename", LongType))
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
  }

  test("stats-key pruning is untouched by an active NESTED map") {
    val root = tmp()
    SnapshotTable.create(spark, root,
      spark.range(400).selectExpr("id",
        "named_struct('filename', concat('f', id), 'page', id) AS meta")
        .repartitionByRange(4, col("id")),
      statsKey = Some("id"))
    SnapshotTable.renameColumn(spark, root, "meta.filename", "fname")
    val probe = SnapshotTable.readIndexed(spark, root, "id")
      .filter(col("id") === 250L).selectExpr("id", "meta.fname")
    val got = probe.collect()
    assert(got.length == 1 && got.head.getString(1) == "f250")
    val scans = graft.PlanWalk.keptFiles(probe)
    assert(scans.nonEmpty)
    val files = scans.sum.toLong
    assert(files == 1L,
      s"point probe under a nested map must keep 1 of 4 files, kept $files")
  }

  test("deleteWhere on a RENAMED nested field: dv delete stays correct") {
    val root = tmp()
    seed(root)
    SnapshotTable.renameColumn(spark, root, "meta.filename", "fname") // v2
    val before = dataFiles(root)
    val v = SnapshotTable.deleteWhere(spark, root,
      col("meta.fname") === "f1.md")
    assert(v.nonEmpty)
    assert(SnapshotTable.read(spark, root).orderBy("id").select("id")
      .as[Long].collect().toSeq == Seq(0L, 2L, 3L),
      "the delete must match rows through the nested translation")
    assert(dataFiles(root) == before,
      "dv delete writes no replacement data files")
  }

  test("merge and compact after a nested rename interoperate") {
    val root = tmp()
    seed(root)
    SnapshotTable.renameColumn(spark, root, "meta.filename", "fname") // v2
    // key-addressed merge arrives LOGICAL (new nested name)
    SnapshotTable.merge(spark, root,
      spark.range(2, 4).selectExpr("id",
        "named_struct('fname', concat('F', id, '.MD'), 'page', id * 100) AS meta",
        "concat('P', id) AS payload"),
      key = "id") // v3
    val merged = SnapshotTable.read(spark, root).orderBy("id")
    assert(merged.selectExpr("meta.fname").as[String].collect().toSeq ==
      Seq("f0.md", "f1.md", "F2.MD", "F3.MD"))
    assert(merged.selectExpr("meta.page").as[Long].collect().toSeq ==
      Seq(0L, 10L, 200L, 300L))
    // compact rewrites through the same translation; result unchanged
    SnapshotTable.compact(spark, root, targetFiles = 1) // v4
    assert(SnapshotTable.read(spark, root).orderBy("id")
      .selectExpr("meta.fname").as[String].collect().toSeq ==
      Seq("f0.md", "f1.md", "F2.MD", "F3.MD"))
    // v1 still time-travels with its own names and pre-merge values
    assert(SnapshotTable.read(spark, root, Some(1)).orderBy("id")
      .selectExpr("meta.filename").as[String].collect().toSeq ==
      Seq("f0.md", "f1.md", "f2.md", null))
  }

  test("format ladder: 8 (no map) -> 9 (top-level) -> 10 (nested), monotone per content") {
    val root = tmp()
    seed(root)
    assert(manifestFormat(root, 1) == 8)
    SnapshotTable.renameColumn(spark, root, "payload", "body") // v2: top-level
    assert(manifestFormat(root, 2) == 9)
    SnapshotTable.renameColumn(spark, root, "meta.page", "pg") // v3: nested
    assert(manifestFormat(root, 3) == 10)
    // appends carry the map forward — format stays 10
    SnapshotTable.append(spark, root,
      spark.range(4, 5).selectExpr("id",
        "named_struct('filename', 'f4.md', 'pg', 40L) AS meta",
        "'p4' AS body"))
    assert(manifestFormat(root, 4) == 10)
  }

  test("streaming table source spans a NESTED rename (locked shape, mixed eras)") {
    val root = tmp(); val out = tmp()
    seed(root)                                                          // v1
    SnapshotTable.renameColumn(spark, root, "meta.filename", "fname")   // v2
    SnapshotTable.append(spark, root,
      spark.range(4, 6).selectExpr("id",
        "named_struct('fname', concat('f', id, '.md'), 'page', id * 10) AS meta",
        "concat('p', id) AS payload"))                                  // v3
    // default (head-derived) schema: the stream locks the POST-rename
    // shape and must read BOTH physical eras' files under it
    val q = spark.readStream.format("graft-table")
      .option("path", root).load()
      .writeStream.format("parquet").option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$out/sink")
    assert(got.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("fname", "page"))
    assert(got.orderBy("id").selectExpr("meta.fname").as[String].collect().toSeq ==
      Seq("f0.md", "f1.md", "f2.md", null, "f4.md", "f5.md"),
      "both physical eras must deliver under the locked nested name")
    // the null struct row stays a NULL struct through the stream read
    assert(got.filter(col("id") === 3L).select(col("meta").isNull).as[Boolean].head())
  }

  test("changeFeed stream spans a MID-STREAM nested rename (locked nested shape)") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val root = tmp(); val out = tmp()
    seed(root)                                                          // v1
    SnapshotTable.renameColumn(spark, root, "meta.filename", "fname")   // v2
    SnapshotTable.append(spark, root,
      spark.range(4, 5).selectExpr("id",
        "named_struct('fname', 'f4.md', 'page', 40L) AS meta",
        "'p4' AS payload"))                                             // v3
    // consumer locked the PRE-rename nested shape: the window-end CDC
    // frame spells the NEW nested name; the source casts back to the
    // locked shape (positional — legal exactly because a rename never
    // changes the shape)
    val locked = StructType(Seq(
      StructField("_commit_version", IntegerType, nullable = false),
      StructField("_change_type", StringType, nullable = false),
      StructField("id", LongType),
      StructField("meta", StructType(Seq(
        StructField("filename", StringType), StructField("page", LongType))))))
    val q = spark.readStream.format("graft-table").schema(locked)
      .option("path", root).option("changeFeed", "true").load()
      .writeStream.format("parquet").option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$out/sink")
    assert(got.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("filename", "page"),
      "the consumer keeps its LOCKED nested shape across the rename")
    assert(got.orderBy("id").selectExpr("meta.filename").as[String]
      .collect().toSeq == Seq("f0.md", "f1.md", "f2.md", null, "f4.md"))
  }

  test("CDC across a nested rename stays coherent") {
    val root = tmp()
    seed(root)
    SnapshotTable.renameColumn(spark, root, "meta.filename", "fname") // v2
    SnapshotTable.append(spark, root,
      spark.range(4, 5).selectExpr("id",
        "named_struct('fname', 'f4.md', 'page', 40L) AS meta",
        "'p4' AS payload")) // v3
    val changes = SnapshotTable.readChanges(spark, root, 2, Some(3))
    assert(changes.count() == 1)
    assert(changes.selectExpr("meta.fname").as[String].head() == "f4.md")
  }
}
