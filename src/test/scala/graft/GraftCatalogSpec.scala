package graft

import org.apache.spark.sql.execution.datasources.FilePartition

import graft.catalog.{GraftBucketPartition, GraftCatalog, GraftDvPartition, GraftScan}

/** The DSv2 catalog end to end on a STOCK session (no extensions, one
  * conf pair): name-addressed CREATE/INSERT/SELECT, time travel,
  * metadata-only DELETE, group-based MERGE/UPDATE, column-mapping
  * ALTERs, and the executed-plan proof that the DSv2 scan prunes
  * through the manifest (the same kept-file discipline as
  * ColumnMappingSpec on programmatic reads). */
class GraftCatalogSpec extends SparkSpec {

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlwh").toString
    spark.conf.set("spark.sql.catalog.gsql", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.warehouse", dir)
    dir
  }

  private def sql(q: String) = spark.sql(q)

  private def freshTable(name: String, statsKey: String = "id"): String = {
    wh // force catalog registration
    sql(s"DROP TABLE IF EXISTS gsql.main.$name")
    sql(s"CREATE TABLE gsql.main.$name (id BIGINT, v STRING) " +
      s"TBLPROPERTIES ('statsKey'='$statsKey')")
    s"gsql.main.$name"
  }

  /** Data files currently on disk under the table's root. */
  private def dataFiles(name: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(wh, "main", name, "data")
    if (!java.nio.file.Files.exists(p)) Set.empty
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
  }

  /** The LIVE file set (manifest-relative paths) — what the head
    * version actually references; replaced files stay on DISK until
    * vacuum, so carried-vs-rewritten questions must ask the manifest,
    * not the directory. */
  private def liveFiles(name: String): Set[String] =
    graft.sources.SnapshotTable.filesDf(spark, s"$wh/main/$name")
      .select("path").collect().map(_.getString(0)).toSet

  test("create, insert, select, insert-overwrite by name") {
    val t = freshTable("t_basic")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    sql(s"INSERT INTO $t VALUES (3, 'c')")
    assert(sql(s"SELECT * FROM $t ORDER BY id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // aggregation + filter through the DSv2 scan
    assert(sql(s"SELECT count(*) FROM $t WHERE id >= 2").head().getLong(0) == 2L)
    sql(s"INSERT OVERWRITE $t VALUES (9, 'z')")
    assert(sql(s"SELECT id, v FROM $t").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "z")))
  }

  test("INSERT OVERWRITE under partitionOverwriteMode=dynamic (batch write path)") {
    val t = freshTable("t_dynow")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // unpartitioned table: the one dynamic "partition" is the whole
      // table — plans through OverwritePartitionsDynamicExec and the
      // executor parquet batch write, not the V1 fallback
      sql(s"INSERT OVERWRITE $t VALUES (7, 'x'), (8, 'y')")
      assert(sql(s"SELECT id, v FROM $t ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "x"), (8L, "y")))
      // stats still recorded: a point probe prunes through the manifest
      sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(100, 200)")
      val probe = sql(s"SELECT * FROM $t WHERE id = 150")
      assert(probe.collect().length == 1)
      val gs = PlanWalk.batchScans(probe).map(_.scan).collect { case g: GraftScan => g }
      assert(gs.nonEmpty && gs.map(_.keptFileCount).max == 1,
        s"dynamic-overwrite files must carry stats; kept ${gs.map(_.keptFileCount)}")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  test("time travel: VERSION AS OF and TIMESTAMP AS OF") {
    val t = freshTable("t_tt")
    sql(s"INSERT INTO $t VALUES (1, 'a')") // v2 (create was v1)
    sql(s"INSERT INTO $t VALUES (2, 'b')") // v3
    assert(sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) == 0L)
    assert(sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head().getLong(0) == 1L)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2L)
    // TIMESTAMP AS OF now = the head version
    assert(sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF current_timestamp()")
      .head().getLong(0) == 2L)
    // a pinned table refuses writes
    val e = intercept[Exception](sql(s"INSERT INTO $t VERSION AS OF 2 VALUES (9,'x')"))
    assert(e.getMessage != null)
  }

  test("DSv2 scan prunes files through the manifest (executed-plan proof)") {
    val t = freshTable("t_prune")
    // four single-file commits over disjoint key ranges
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    assert(dataFiles("t_prune").size == 4)
    val probe = sql(s"SELECT * FROM $t WHERE id = 250")
    val rows = probe.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 250L)
    val scans = PlanWalk.batchScans(probe)
    assert(scans.nonEmpty)
    val gs = scans.map(_.scan).collect { case g: GraftScan => g }
    assert(gs.nonEmpty, s"expected a GraftScan, got ${scans.map(_.scan.getClass)}")
    assert(gs.map(_.keptFileCount).max == 1,
      s"point probe over 4 range-disjoint files kept ${gs.map(_.keptFileCount)}")
    // and the physical partitions agree (what actually ran)
    val files = scans.flatMap(_.inputRDD.partitions).map(_ => ()).size
    assert(files >= 1)
  }

  test("DELETE with a translatable predicate is metadata-only (dv)") {
    val t = freshTable("t_del")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(0, 100)")
    val before = dataFiles("t_del")
    // a filter-translatable predicate takes the metadata-only dv path
    // (an expression like `id % 10 = 3` has no V1 Filter form and
    // correctly falls to the copy-on-write row-level plan instead)
    sql(s"DELETE FROM $t WHERE id >= 30 AND id < 40")
    assert(dataFiles("t_del") == before, "filter DELETE must not rewrite data files")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 90L)
    assert(sql(s"SELECT count(*) FROM $t WHERE id >= 30 AND id < 40").head().getLong(0) == 0L)
    // the commit is the dv path's op
    val root = s"$wh/main/t_del"
    val ops = graft.sources.SnapshotTable.history(spark, root).map(_.op)
    assert(ops.last == "delete", s"ops: $ops")
    // deleted rows stay visible to time travel
    val v = graft.sources.SnapshotTable.versions(spark, root)
    assert(sql(s"SELECT count(*) FROM $t VERSION AS OF ${v.init.last}")
      .head().getLong(0) == 100L)
  }

  test("MERGE INTO: upsert through the group-based row-level plan") {
    val t = freshTable("t_merge")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(0, 50)")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(50, 100)")
    sql(s"""MERGE INTO $t tgt
           |USING (SELECT id, CONCAT('u', CAST(id AS STRING)) AS v
           |       FROM range(40, 60)) src
           |ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = sql(s"SELECT v FROM $t WHERE id IN (39, 40, 59, 60) ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("39", "u40", "u59", "60"), s"got $got")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 100L)
    // not-matched insert beyond the existing key range
    sql(s"""MERGE INTO $t tgt
           |USING (SELECT id, 'new' AS v FROM range(100, 105)) src
           |ON tgt.id = src.id
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 105L)
  }

  test("MERGE prunes untouched files (group scan uses the manifest)") {
    val t = freshTable("t_mprune")
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val before = liveFiles("t_mprune")
    assert(before.size == 4)
    // literal-bounded merge condition → static file pruning
    sql(s"""MERGE INTO $t tgt
           |USING (SELECT id, 'u' AS v FROM range(150, 160)) src
           |ON tgt.id = src.id AND tgt.id >= 150 AND tgt.id < 160
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val after = liveFiles("t_mprune")
    // the three untouched range files must CARRY by name in the new
    // manifest; a full rewrite would replace all four
    assert(before.intersect(after).size == 3,
      s"carried ${before.intersect(after).size} of ${before.size} files")
    assert(sql(s"SELECT count(*) FROM $t WHERE v = 'u'").head().getLong(0) == 10L)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 400L)
  }

  test("join-keyed MERGE prunes via RUNTIME group filtering (_graft_file)") {
    val t = freshTable("t_rtprune")
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val before = liveFiles("t_rtprune")
    assert(before.size == 4)
    // NO static target bound: only the runtime subquery (collecting
    // the matching rows' _graft_file values) can prune the groups —
    // the update keys all live in ONE of the four range-disjoint files
    sql(s"""MERGE INTO $t tgt
           |USING (SELECT id, 'rt' AS v FROM range(250, 260)) src
           |ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val after = liveFiles("t_rtprune")
    assert(before.intersect(after).size == 3,
      s"runtime group filter must carry the 3 untouched files; " +
        s"carried ${before.intersect(after).size} of ${before.size}")
    assert(sql(s"SELECT count(*) FROM $t WHERE v = 'rt'").head().getLong(0) == 10L)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 400L)
  }

  test("_graft_file metadata column is user-selectable") {
    val t = freshTable("t_filecol")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(0, 10)")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(10, 20)")
    val rows = sql(s"SELECT _graft_file, id FROM $t").collect()
    assert(rows.length == 20)
    val byFile = rows.groupBy(_.getString(0))
    assert(byFile.size == 2, s"expected 2 distinct file tags, got ${byFile.keySet}")
    assert(byFile.values.forall(_.length == 10))
    assert(byFile.keys.forall(_.startsWith("data/")), s"${byFile.keySet}")
    // and it composes with dv: deleted rows vanish, tags stay right
    sql(s"DELETE FROM $t WHERE id = 5")
    assert(sql(s"SELECT _graft_file FROM $t").collect().length == 19)
  }

  test("UPDATE rewrites through the same row-level plan") {
    val t = freshTable("t_upd")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(0, 100)")
    sql(s"UPDATE $t SET v = 'upd' WHERE id < 10")
    assert(sql(s"SELECT count(*) FROM $t WHERE v = 'upd'").head().getLong(0) == 10L)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 100L)
  }

  test("DELETE after dv: SQL reads apply deletion vectors") {
    val t = freshTable("t_dvread")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(0, 100)")
    sql(s"DELETE FROM $t WHERE id = 7")
    sql(s"DELETE FROM $t WHERE id = 13")
    // both a full scan and a filtered one must hide the dv'd rows
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 98L)
    assert(sql(s"SELECT sum(id) FROM $t WHERE id < 20").head().getLong(0) ==
      (0 until 20).map(_.toLong).sum - 7 - 13)
    // dv partitions plan as their own units
    val probe = sql(s"SELECT id FROM $t")
    probe.collect()
    val parts = PlanWalk.batchScans(probe).flatMap(_.inputRDD.partitions)
    assert(parts.nonEmpty)
  }

  test("ALTER TABLE: rename/add/drop column = zero-copy DDL, SQL-visible") {
    val t = freshTable("t_ddl")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(0, 10)")
    val before = dataFiles("t_ddl")
    sql(s"ALTER TABLE $t RENAME COLUMN v TO body")
    sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    assert(dataFiles("t_ddl") == before, "DDL must move no bytes")
    assert(sql(s"SELECT body FROM $t WHERE id = 3").head().getString(0) == "3")
    assert(sql(s"SELECT score FROM $t WHERE id = 3").head().isNullAt(0))
    // writers address the new names
    sql(s"INSERT INTO $t VALUES (100, 'x', 0.5)")
    assert(sql(s"SELECT body, score FROM $t WHERE id = 100").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("x", 0.5)))
    sql(s"ALTER TABLE $t DROP COLUMN score")
    assert(!sql(s"SELECT * FROM $t").columns.contains("score"))
    // old versions still read under their own names (time travel)
    assert(sql(s"SELECT v FROM $t VERSION AS OF 2 WHERE id = 3")
      .head().getString(0) == "3")
  }

  test("pruning survives a rename of the stats key (SQL end to end)") {
    val t = freshTable("t_renprune")
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    sql(s"ALTER TABLE $t RENAME COLUMN id TO doc_id")
    val probe = sql(s"SELECT * FROM $t WHERE doc_id = 250")
    assert(probe.collect().length == 1)
    val gs = PlanWalk.batchScans(probe).map(_.scan).collect { case g: GraftScan => g }
    assert(gs.nonEmpty && gs.map(_.keptFileCount).max == 1,
      s"rename broke pruning: kept ${gs.map(_.keptFileCount)}")
  }

  test("DDL refusals: path into a non-struct, time-travel write, set property") {
    val t = freshTable("t_refuse")
    // nested paths are first-class (see the nested DDL test) — but a
    // path INTO a scalar column still reports the real shape
    intercept[Exception](sql(s"ALTER TABLE $t RENAME COLUMN v.inner TO x"))
    intercept[Exception](sql(s"ALTER TABLE $t SET TBLPROPERTIES ('statsKey'='v')"))
    intercept[Exception](sql(s"DELETE FROM $t VERSION AS OF 1 WHERE id = 1"))
  }

  test("nested DDL through SQL: rename/add/drop struct fields, zero-copy") {
    wh
    sql("DROP TABLE IF EXISTS gsql.main.t_nested")
    sql("CREATE TABLE gsql.main.t_nested " +
      "(id BIGINT, meta STRUCT<filename: STRING, page: BIGINT>) " +
      "TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.t_nested " +
      "SELECT id, named_struct('filename', concat('f', id), 'page', id * 10) " +
      "FROM range(0, 8)")
    sql("ALTER TABLE gsql.main.t_nested RENAME COLUMN meta.filename TO fname")
    // old files (physical leaf 'filename') serve the renamed name
    assert(sql("SELECT meta.fname FROM gsql.main.t_nested WHERE id = 3")
      .head().getString(0) == "f3")
    // filters on the renamed nested field keep matching
    assert(sql("SELECT id FROM gsql.main.t_nested WHERE meta.fname = 'f5'")
      .head().getLong(0) == 5L)
    sql("ALTER TABLE gsql.main.t_nested ADD COLUMN meta.score DOUBLE")
    assert(sql("SELECT meta.score FROM gsql.main.t_nested WHERE id = 3")
      .head().isNullAt(0), "schema-first nested add must null-fill old files")
    sql("ALTER TABLE gsql.main.t_nested DROP COLUMN meta.page")
    assert(sql("SELECT meta FROM gsql.main.t_nested").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("fname", "score"))
    // post-DDL inserts land physical; both eras agree
    sql("INSERT INTO gsql.main.t_nested " +
      "SELECT id, named_struct('fname', concat('f', id), 'score', 0.5D) " +
      "FROM range(8, 10)")
    assert(sql("SELECT count(*) FROM gsql.main.t_nested WHERE meta.fname IS NOT NULL")
      .head().getLong(0) == 10L)
    // time travel shows v1's own nested names
    assert(sql("SELECT meta FROM gsql.main.t_nested VERSION AS OF 2")
      .schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("filename", "page"))
    sql("DROP TABLE gsql.main.t_nested")
  }

  test("catalog surface: SHOW TABLES / DROP / namespace lifecycle") {
    wh
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.aux")
    sql("DROP TABLE IF EXISTS gsql.aux.n1")
    sql("CREATE TABLE gsql.aux.n1 (k BIGINT) TBLPROPERTIES ('statsKey'='k')")
    val listed = sql("SHOW TABLES IN gsql.aux").collect().map(_.getString(1)).toSet
    assert(listed.contains("n1"))
    sql("INSERT INTO gsql.aux.n1 VALUES (1)")
    sql("DROP TABLE gsql.aux.n1")
    assert(!sql("SHOW TABLES IN gsql.aux").collect().map(_.getString(1)).contains("n1"))
    // recreate at the same path: must not see the dead table (memo)
    sql("CREATE TABLE gsql.aux.n1 (k BIGINT, w STRING) TBLPROPERTIES ('statsKey'='k')")
    sql("INSERT INTO gsql.aux.n1 VALUES (5, 'x')")
    assert(sql("SELECT w FROM gsql.aux.n1").head().getString(0) == "x")
    sql("DROP TABLE gsql.aux.n1")
  }

  test("SQL and API interop: one table, both front doors") {
    val t = freshTable("t_interop")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(0, 20)")
    val root = s"$wh/main/t_interop"
    // API merge lands; SQL sees it
    import spark.implicits._
    graft.sources.SnapshotTable.merge(spark, root,
      Seq((5L, "api")).toDF("id", "v"), key = "id")
    assert(sql(s"SELECT v FROM $t WHERE id = 5").head().getString(0) == "api")
    // SQL delete lands; API read sees it
    sql(s"DELETE FROM $t WHERE id = 6")
    assert(graft.sources.SnapshotTable.read(spark, root)
      .filter("id = 6").count() == 0L)
  }

  test("batch-write stats survive an ACTIVE column mapping (post-rename MERGE)") {
    val t = freshTable("t_cmwrite")
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    sql(s"ALTER TABLE $t RENAME COLUMN id TO doc_id") // colmap active, stats key follows
    // the MERGE's replacement files are written by the DSv2 batch
    // writer under PHYSICAL names, measuring stats on the RENAMED
    // logical key — the rewritten file must still point-prune
    sql(s"""MERGE INTO $t tgt
           |USING (SELECT id AS doc_id, 'cm' AS v FROM range(250, 260)) src
           |ON tgt.doc_id = src.doc_id
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(sql(s"SELECT count(*) FROM $t WHERE v = 'cm'").head().getLong(0) == 10L)
    // probe INSIDE the rewritten range: the new sql-written file must
    // carry usable stats under the mapping (kept files == 1)
    val probe = sql(s"SELECT * FROM $t WHERE doc_id = 255")
    val rows = probe.collect()
    assert(rows.length == 1 && rows.head.getString(1) == "cm")
    val gs = PlanWalk.batchScans(probe).map(_.scan).collect { case g: GraftScan => g }
    assert(gs.nonEmpty && gs.map(_.keptFileCount).max == 1,
      s"post-rename batch-written file must prune; kept ${gs.map(_.keptFileCount)}")
    // and the manifest attributes the stats to the renamed key
    assert(sql(s"SELECT count(*) FROM $t.files WHERE stats_key <> 'doc_id' OR min_key IS NULL")
      .head().getLong(0) == 0L)
  }

  test("metadata tables: SELECT from tbl.files and tbl.history by name") {
    val t = freshTable("t_meta")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(0, 50)")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(50, 100)")
    sql(s"DELETE FROM $t WHERE id = 7")
    // files: per-file manifest facts, stats identity included
    val files = sql(s"SELECT path, rows, stats_key, dv_rows FROM $t.files ORDER BY path")
      .collect()
    assert(files.length == 2)
    assert(files.forall(_.getString(2) == "id"))
    assert(files.map(r => Option(r.get(3)).map(_.asInstanceOf[Long]).getOrElse(0L)).sum == 1L)
    // aggregates over metadata are ordinary Spark
    assert(sql(s"SELECT sum(rows) FROM $t.files").head().getLong(0) == 100L)
    // history: one row per live version with the committing op
    val ops = sql(s"SELECT op FROM $t.history ORDER BY version")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("create", "append", "append", "delete"), s"ops: $ops")
    // VERSION AS OF composes: the old manifest had one file, no dv
    assert(sql(s"SELECT count(*) FROM $t.files VERSION AS OF 2").head().getLong(0) == 1L)
    assert(sql(s"SELECT count(*) FROM $t.files VERSION AS OF 2 WHERE dv IS NOT NULL")
      .head().getLong(0) == 0L)
    // a REAL table named like a metadata relation wins over the suffix
    sql("CREATE TABLE IF NOT EXISTS gsql.main.history (k BIGINT)")
    sql("INSERT INTO gsql.main.history VALUES (1)")
    assert(sql("SELECT k FROM gsql.main.history").head().getLong(0) == 1L)
    sql("DROP TABLE gsql.main.history")
  }

  test("name-addressed streaming: readStream.table follows, toTable exactly-once") {
    wh
    Seq("s_src", "s_out").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.s_src (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("CREATE TABLE gsql.main.s_out (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.s_src SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(0, 10)")
    sql("INSERT INTO gsql.main.s_src SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(10, 20)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sqlstream").toString
    def drain(): Unit =
      spark.readStream.table("gsql.main.s_src")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("gsql.main.s_out").awaitTermination()
    drain()
    assert(sql("SELECT count(*) FROM gsql.main.s_out").head().getLong(0) == 20L)
    // incremental follow: only the new slice delivers
    sql("INSERT INTO gsql.main.s_src SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(20, 25)")
    drain()
    assert(sql("SELECT count(*), sum(id) FROM gsql.main.s_out").head() match {
      case r => r.getLong(0) == 25L && r.getLong(1) == (0 until 25).map(_.toLong).sum
    })
    // caught-up restart delivers nothing — no new out version
    val outRoot = s"$wh/main/s_out"
    val versBefore = graft.sources.SnapshotTable.versions(spark, outRoot)
    drain()
    assert(graft.sources.SnapshotTable.versions(spark, outRoot) == versBefore,
      "a caught-up restart must commit nothing")
    // epoch appends carry stats: a point probe over the streamed table
    // prunes to the one file holding the key
    val probe = sql("SELECT * FROM gsql.main.s_out WHERE id = 22")
    assert(probe.collect().length == 1)
    val gs = PlanWalk.batchScans(probe).map(_.scan).collect { case g: GraftScan => g }
    assert(gs.nonEmpty && gs.map(_.keptFileCount).max == 1,
      s"streamed appends must carry usable stats; kept ${gs.map(_.keptFileCount)}")
  }

  test("streaming epochs honor declared layouts: SPJ and partition dirs survive ingest") {
    wh
    Seq("sl_src", "sl_bkt", "sl_part", "sl_dim").foreach(t =>
      sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.sl_src (id BIGINT, lang STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("CREATE TABLE gsql.main.sl_bkt (id BIGINT, lang STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='4')")
    sql("CREATE TABLE gsql.main.sl_dim (id BIGINT, w STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='4')")
    sql("CREATE TABLE gsql.main.sl_part (id BIGINT, lang STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.sl_dim SELECT id, concat('w', id) FROM range(0, 200)")
    sql("INSERT INTO gsql.main.sl_src SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END FROM range(0, 200)")
    def drainTo(out: String): Unit = {
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft-sl-$out").toString
      spark.readStream.table("gsql.main.sl_src")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"gsql.main.$out").awaitTermination()
    }
    drainTo("sl_bkt")
    drainTo("sl_part")
    // streamed epochs kept the BUCKET layout: SPJ against the dim
    assert(graft.sources.SnapshotTable.describeDetail(spark, s"$wh/main/sl_bkt")
      .bucketedLayout.contains(4), "epoch appends must write bucket-per-file")
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "-1")
      val j = sql("SELECT a.id, b.w FROM gsql.main.sl_bkt a " +
        "JOIN gsql.main.sl_dim b ON a.id = b.id")
      assert(j.count() == 200L)
      val shuffles = PlanWalk.executedNodes(j.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      assert(shuffles == 0,
        s"SPJ must survive streaming ingest:\n${j.queryExecution.executedPlan}")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // streamed epochs landed under partition dirs: static pruning works
    val files = graft.sources.SnapshotTable.filesDf(spark, s"$wh/main/sl_part")
      .collect().map(_.getString(0))
    assert(files.forall(_.contains("_graft_p_lang=")), files.take(3).mkString(","))
    val probe = sql("SELECT id FROM gsql.main.sl_part WHERE lang = 'en'")
    assert(probe.collect().length == 100)
    val kept = PlanWalk.batchScans(probe).map(_.scan)
      .collect { case g: GraftScan => g.keptFileCount }.max
    assert(kept == files.count(_.contains("_graft_p_lang=en")) && kept < files.length,
      s"streamed partitions must prune: kept $kept of ${files.length}")
  }

  test("streaming source: AvailableNow pacing and data-changing refusal") {
    wh
    Seq("p_src", "p_out").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.p_src (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("CREATE TABLE gsql.main.p_out (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    (0 until 3).foreach { i =>
      sql(s"INSERT INTO gsql.main.p_src SELECT /*+ REPARTITION(1) */ id, " +
        s"CAST(id AS STRING) FROM range(${i * 10}, ${i * 10 + 10})")
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sqlpace").toString
    def drain(ignoreChanges: Boolean = false): Unit = {
      val r = spark.readStream.option("maxVersionsPerTrigger", "1")
      (if (ignoreChanges) r.option("ignoreChanges", "true") else r)
        .table("gsql.main.p_src")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("gsql.main.p_out").awaitTermination()
    }
    drain()
    assert(sql("SELECT count(*) FROM gsql.main.p_out").head().getLong(0) == 30L)
    // pacing: one source version per epoch → the three carrying
    // versions committed as three separate out appends
    val outRoot = s"$wh/main/p_out"
    val dataOps = graft.sources.SnapshotTable.history(spark, outRoot)
      .map(_.op).count(_ == "append")
    assert(dataOps == 3, s"expected 3 paced epoch appends, got $dataOps")
    // a data-changing commit refuses loudly...
    sql("UPDATE gsql.main.p_src SET v = 'x' WHERE id = 5")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    def hasDataChanging(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("data-changing")) ||
        hasDataChanging(t.getCause))
    assert(hasDataChanging(e), s"got $e")
    // ...and ignoreChanges skips it without delivering stale rows
    drain(ignoreChanges = true)
    assert(sql("SELECT count(*) FROM gsql.main.p_out").head().getLong(0) == 30L)
  }

  test("Complete output mode REPLACES the snapshot per epoch (no duplication)") {
    wh
    Seq("c_src", "c_agg").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.c_src (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    (0 until 3).foreach { i =>
      sql(s"INSERT INTO gsql.main.c_src SELECT /*+ REPARTITION(1) */ id, " +
        s"CAST(id % 4 AS STRING) FROM range(${i * 10}, ${i * 10 + 10})")
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sqlcomplete").toString
    // maxVersionsPerTrigger=1 forces MULTIPLE epochs in one drain; each
    // Complete epoch carries the FULL aggregate — before the fix every
    // epoch re-APPENDED it, tripling the counts
    spark.readStream.option("maxVersionsPerTrigger", "1").table("gsql.main.c_src")
      .groupBy("v").count()
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gsql.main.c_agg").awaitTermination()
    val rows = sql("SELECT v, count FROM gsql.main.c_agg ORDER BY v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // ids 0..29 by id%4: 8,8,7,7 — an epoch-duplicating sink triples these
    assert(rows == Seq("0" -> 8L, "1" -> 8L, "2" -> 7L, "3" -> 7L),
      s"Complete epochs duplicated rows: $rows")
    // each epoch committed as a REWRITE, not an append
    val ops = graft.sources.SnapshotTable.history(spark, s"$wh/main/c_agg")
      .map(_.op).filterNot(_ == "create")
    assert(ops.nonEmpty && ops.forall(_ == "rewrite"), s"ops=$ops")
  }

  test("DELETE on a nested struct field routes to the row-level plan") {
    wh
    sql("DROP TABLE IF EXISTS gsql.main.t_nestdel")
    sql("CREATE TABLE gsql.main.t_nestdel (id BIGINT, " +
      "info STRUCT<n_chars: BIGINT, lang: STRING>)")
    sql("INSERT INTO gsql.main.t_nestdel VALUES " +
      "(1, named_struct('n_chars', 3L, 'lang', 'en')), " +
      "(2, named_struct('n_chars', 9L, 'lang', 'de')), " +
      "(3, named_struct('n_chars', 12L, 'lang', 'en'))")
    // before the FilterBridge fix: canDeleteWhere said yes, then
    // deleteWhere exploded on the backtick-quoted dotted name — a
    // legitimate statement failing instead of falling back
    sql("DELETE FROM gsql.main.t_nestdel WHERE info.n_chars > 5")
    assert(sql("SELECT id FROM gsql.main.t_nestdel").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // and it went through the group-based rewrite (op "merge"), not dv
    val ops = graft.sources.SnapshotTable.history(spark, s"$wh/main/t_nestdel").map(_.op)
    assert(ops.contains("merge") && !ops.contains("delete"), s"ops=$ops")
    // a TOP-LEVEL filter still takes the metadata-only dv path
    sql("DELETE FROM gsql.main.t_nestdel WHERE id = 1")
    val ops2 = graft.sources.SnapshotTable.history(spark, s"$wh/main/t_nestdel").map(_.op)
    assert(ops2.contains("delete"), s"ops=$ops2")
    assert(sql("SELECT count(*) FROM gsql.main.t_nestdel").head().getLong(0) == 0L)
  }

  test("ALTER COLUMN TYPE: zero-copy lossless widening; lossy refuses") {
    wh
    sql("DROP TABLE IF EXISTS gsql.main.t_widen")
    sql("CREATE TABLE gsql.main.t_widen (id BIGINT, n INT, " +
      "m STRUCT<a: INT, b: STRING>) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.t_widen VALUES (1, 7, named_struct('a', 1, 'b', 'x'))")
    val filesBefore = dataFiles("t_widen")
    sql("ALTER TABLE gsql.main.t_widen ALTER COLUMN n TYPE BIGINT")
    sql("ALTER TABLE gsql.main.t_widen ALTER COLUMN m.a TYPE BIGINT") // nested
    assert(dataFiles("t_widen") == filesBefore, "widen must be zero-copy")
    // old INT32 files upcast on read; new appends land as INT64
    sql("INSERT INTO gsql.main.t_widen VALUES (2, 7000000000, named_struct('a', 8000000000, 'b', 'y'))")
    val r = sql("SELECT sum(n), sum(m.a) FROM gsql.main.t_widen").head()
    assert(r.getLong(0) == 7000000007L && r.getLong(1) == 8000000001L)
    val ops = graft.sources.SnapshotTable.history(spark, s"$wh/main/t_widen").map(_.op)
    assert(ops.count(_ == "widen") == 2, s"ops=$ops")
    // refusals: narrowing and non-numeric casts
    val e1 = intercept[Exception](
      sql("ALTER TABLE gsql.main.t_widen ALTER COLUMN n TYPE INT"))
    assert(e1.getMessage.contains("narrower") || e1.getMessage.contains("widen"))
    val e2 = intercept[Exception](
      sql("ALTER TABLE gsql.main.t_widen ALTER COLUMN m.b TYPE BIGINT"))
    assert(e2.getMessage.contains("widen") || e2.getMessage.contains("lossless"))
  }

  test("multi-change ALTER validates kinds up front (no partial commit)") {
    wh
    sql("DROP TABLE IF EXISTS gsql.main.t_multi")
    sql("CREATE TABLE gsql.main.t_multi (id BIGINT, n INT)")
    // TYPE + COMMENT in one statement = UpdateColumnType (supported) +
    // UpdateColumnComment (unsupported): the statement must refuse
    // BEFORE the widen commits
    intercept[Exception](sql(
      "ALTER TABLE gsql.main.t_multi ALTER COLUMN n TYPE BIGINT COMMENT 'nope'"))
    val t = sql("SELECT * FROM gsql.main.t_multi")
    assert(t.schema("n").dataType == org.apache.spark.sql.types.IntegerType,
      s"partial ALTER leaked: ${t.schema}")
  }

  test("storage-partitioned join: co-bucketed catalog tables, ZERO exchanges") {
    wh
    Seq("t_spj_a", "t_spj_b").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.t_spj_a (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("CREATE TABLE gsql.main.t_spj_b (id BIGINT, w STRING) TBLPROPERTIES ('statsKey'='id')")
    (0 until 3).foreach { i =>
      sql(s"INSERT INTO gsql.main.t_spj_a SELECT id, CAST(id AS STRING) " +
        s"FROM range(${i * 400}, ${i * 400 + 400})")
    }
    sql("INSERT INTO gsql.main.t_spj_b SELECT id, concat('w', id) FROM range(500, 1500)")
    graft.sources.SnapshotTable.compactBucketed(spark, s"$wh/main/t_spj_a", 8)
    graft.sources.SnapshotTable.compactBucketed(spark, s"$wh/main/t_spj_b", 8)
    val prev = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = sql("SELECT a.id, a.v, b.w FROM gsql.main.t_spj_a a " +
        "JOIN gsql.main.t_spj_b b ON a.id = b.id")
      assert(j.count() == 700L) // ids 500..1199 overlap
      val nodes = PlanWalk.executedNodes(j.queryExecution.executedPlan)
      val shuffles = nodes.count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      assert(shuffles == 0,
        s"co-bucketed SPJ must plan zero exchanges, found $shuffles:\n" +
          j.queryExecution.executedPlan)
      // and it really ran key-grouped: every scan partition is a bucket
      val parts = PlanWalk.batchScans(j).flatMap(_.inputRDD.partitions.map(
        _.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition]
          .inputPartitions)).flatten
      assert(parts.nonEmpty && parts.forall(_.isInstanceOf[GraftBucketPartition]),
        s"got ${parts.map(_.getClass.getSimpleName).distinct}")
      // rows land where the bucket function says: spot-check via SQL
      val ids = sql("SELECT id FROM gsql.main.t_spj_a WHERE id < 10").collect()
        .map(_.getLong(0)).toSet
      assert(ids == (0L until 10L).toSet)
      // a plain append DISSOLVES the claim (conservative fallback)
      sql("INSERT INTO gsql.main.t_spj_a VALUES (5000, 'x')")
      val j2 = sql("SELECT a.id, b.w FROM gsql.main.t_spj_a a " +
        "JOIN gsql.main.t_spj_b b ON a.id = b.id")
      assert(j2.count() == 700L)
      val scans2 = PlanWalk.batchScans(j2)
      def bucketParts(b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec) =
        b.inputRDD.partitions.map(
          _.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition]
            .inputPartitions).flatten.count(_.isInstanceOf[GraftBucketPartition])
      val aScan = scans2.find(_.scan.description().contains("t_spj_a")).get
      val bScan = scans2.find(_.scan.description().contains("t_spj_b")).get
      assert(bucketParts(aScan) == 0,
        "side A's mixed layout must not report key-grouped partitioning")
      assert(bucketParts(bScan) > 0, "side B's intact claim should persist")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("SPJ is SORT-FREE with one file per bucket; multi-file buckets refuse the claim") {
    wh
    Seq("t_ord_a", "t_ord_b").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.t_ord_a (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("CREATE TABLE gsql.main.t_ord_b (id BIGINT, w STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.t_ord_a SELECT id, CAST(id AS STRING) FROM range(0, 1200)")
    sql("INSERT INTO gsql.main.t_ord_b SELECT id, concat('w', id) FROM range(500, 1500)")
    graft.sources.SnapshotTable.compactBucketed(spark, s"$wh/main/t_ord_a", 8)
    graft.sources.SnapshotTable.compactBucketed(spark, s"$wh/main/t_ord_b", 8)
    val prev = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> spark.conf.getOption(k))
    def sorts(df: org.apache.spark.sql.DataFrame): Int =
      PlanWalk.executedNodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec])
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      PlanWalk.executedNodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // every bucket file is written key-sorted and compactBucketed
      // left ONE file per bucket, so the reported per-partition
      // ordering lets the sort-merge join drop BOTH sides' sorts —
      // shuffle-free AND sort-free, with the values proving the claim
      // was honest (a wrong ordering claim silently corrupts SMJ)
      val j = sql("SELECT a.id AS id, a.v, b.w FROM gsql.main.t_ord_a a " +
        "JOIN gsql.main.t_ord_b b ON a.id = b.id")
      val rows = j.collect()
      assert(rows.length == 700, s"got ${rows.length}")
      assert(rows.map(_.getLong(0)).toSet == (500L until 1200L).toSet)
      assert(rows.forall(r => r.getString(2) == s"w${r.getLong(0)}"))
      assert(shuffles(j) == 0, s"expected zero exchanges:\n${j.queryExecution.executedPlan}")
      assert(sorts(j) == 0,
        s"one-file-per-bucket SPJ must drop both sorts:\n${j.queryExecution.executedPlan}")
      // a second generation in ANY bucket refuses the ordering claim
      // (concatenated sorted files are not sorted): the join keeps the
      // co-located zero-exchange plan but sorts again — and the rows
      // must still be exactly right
      graft.sources.SnapshotTable.appendBucketed(spark, s"$wh/main/t_ord_a",
        spark.range(5000, 5010).selectExpr("id", "CAST(id AS STRING) AS v"))
      val j2 = sql("SELECT a.id AS id, b.w FROM gsql.main.t_ord_a a " +
        "JOIN gsql.main.t_ord_b b ON a.id = b.id")
      assert(j2.count() == 700)
      assert(shuffles(j2) == 0,
        s"multi-file buckets still join co-located:\n${j2.queryExecution.executedPlan}")
      assert(sorts(j2) > 0,
        s"multi-file buckets must refuse the ordering claim (sorts return):\n" +
          s"${j2.queryExecution.executedPlan}")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("bucket pruning: a point probe on a bucketed table keeps ONE bucket") {
    wh
    sql("DROP TABLE IF EXISTS gsql.main.t_bprune")
    sql("CREATE TABLE gsql.main.t_bprune (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='8')")
    sql("INSERT INTO gsql.main.t_bprune SELECT id, CAST(id AS STRING) FROM range(0, 4000)")
    def keptOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.batchScans(q).map(_.scan).collect { case g: GraftScan => g }
        .map(_.keptFileCount).max
    }
    // a bucketed file's key range is table-wide (hash scatter), so this
    // is pure bucket arithmetic: 8 files, exactly 1 survives
    val total = graft.sources.SnapshotTable
      .filesDf(spark, s"$wh/main/t_bprune").count()
    assert(total >= 8, s"expected >=8 bucket files, got $total")
    val probe = sql("SELECT * FROM gsql.main.t_bprune WHERE id = 1234")
    assert(probe.collect().map(_.getLong(0)).toSeq == Seq(1234L))
    assert(keptOf(probe) == 1, s"point probe kept ${keptOf(probe)} of $total files")
    // IN-lists prune to the union of their buckets
    val in = sql("SELECT count(*) FROM gsql.main.t_bprune WHERE id IN (7, 99, 3001)")
    assert(in.head().getLong(0) == 3L)
    // range predicates can't bucket-prune (hash scatter) — still correct
    assert(sql("SELECT count(*) FROM gsql.main.t_bprune WHERE id < 100")
      .head().getLong(0) == 100L)
    // widening the bucket key is REFUSED while the layout lives:
    // murmur3 is typed, old files would disagree with every new hash
    sql("DROP TABLE IF EXISTS gsql.main.t_bprune_i")
    sql("CREATE TABLE gsql.main.t_bprune_i (id INT, v STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='4')")
    sql("INSERT INTO gsql.main.t_bprune_i VALUES (1, 'a'), (2, 'b')")
    val e2 = intercept[Exception](
      sql("ALTER TABLE gsql.main.t_bprune_i ALTER COLUMN id TYPE BIGINT"))
    assert(e2.getMessage.contains("BUCKET key"), e2.getMessage)
    // int-keyed point probe prunes with the INT hash
    val p2 = sql("SELECT v FROM gsql.main.t_bprune_i WHERE id = 2")
    assert(p2.collect().map(_.getString(0)).toSeq == Seq("b"))
    // the path API prunes with the same arithmetic: point reads and
    // point DELETEs through it scan one bucket
    val root = s"$wh/main/t_bprune"
    val v1 = graft.sources.SnapshotTable.readIndexed(spark, root)
      .filter(org.apache.spark.sql.functions.col("id") === 1234L)
    assert(v1.collect().length == 1)
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    val v1Files = PlanWalk.keptFiles(v1).headOption.map(_.toLong).getOrElse(-1L)
    assert(v1Files == 1, s"V1 point probe scanned $v1Files files")
  }

  test("DECLARED bucketing: TBLPROPERTIES('buckets') makes SPJ pure SQL") {
    wh
    Seq("t_decl_a", "t_decl_b").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.t_decl_a (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='8')")
    sql("CREATE TABLE gsql.main.t_decl_b (id BIGINT, w STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='8')")
    // every INSERT buckets — no maintenance call anywhere in this test
    (0 until 2).foreach { i =>
      sql(s"INSERT INTO gsql.main.t_decl_a SELECT id, CAST(id AS STRING) " +
        s"FROM range(${i * 500}, ${i * 500 + 500})")
    }
    sql("INSERT INTO gsql.main.t_decl_b SELECT id, concat('w', id) FROM range(0, 1000)")
    val prev = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      // static pins INSERT OVERWRITE to the V1 write (which honors the
      // declaration); DYNAMIC mode plans the executor batch writer,
      // which — like any row-level rewrite — dissolves the layout
      // until maintenance
      "spark.sql.sources.partitionOverwriteMode").map(k =>
      k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
        df.count()
        PlanWalk.executedNodes(df.queryExecution.executedPlan).count(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      }
      val j = sql("SELECT a.id, b.w FROM gsql.main.t_decl_a a " +
        "JOIN gsql.main.t_decl_b b ON a.id = b.id")
      assert(j.count() == 1000L && shuffles(j) == 0,
        s"declared-bucket SQL join must plan zero exchanges:\n" +
          j.queryExecution.executedPlan)
      // INSERT OVERWRITE re-buckets the replacement snapshot
      sql("INSERT OVERWRITE gsql.main.t_decl_a SELECT id, CAST(id AS STRING) FROM range(0, 600)")
      val j2 = sql("SELECT a.id, b.w FROM gsql.main.t_decl_a a " +
        "JOIN gsql.main.t_decl_b b ON a.id = b.id")
      assert(j2.count() == 600L && shuffles(j2) == 0,
        "INSERT OVERWRITE must keep the declared layout")
      // a row-level rewrite (MERGE) writes its replacement files
      // bucket-per-file at the DECLARED count — the layout claim (and
      // SPJ) survives CDC with NO maintenance call anywhere
      sql("MERGE INTO gsql.main.t_decl_a t USING (SELECT 5L AS id, 'x' AS v) s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET *")
      val j3 = sql("SELECT a.id, b.w FROM gsql.main.t_decl_a a " +
        "JOIN gsql.main.t_decl_b b ON a.id = b.id")
      assert(j3.count() == 600L)
      assert(shuffles(j3) == 0,
        s"a merge on a DECLARED table must keep the layout:\n" +
          j3.queryExecution.executedPlan)
      val det = graft.sources.SnapshotTable.describeDetail(spark, s"$wh/main/t_decl_a")
      assert(det.declaredBuckets.contains(8) && det.bucketedLayout.contains(8),
        s"got declared=${det.declaredBuckets} layout=${det.bucketedLayout}")
      // ... and the merge really landed (the rewritten row reads back)
      assert(sql("SELECT v FROM gsql.main.t_decl_a WHERE id = 5")
        .head().getString(0) == "x")
      // a merge that INSERTS new keys keeps the claim too
      sql("MERGE INTO gsql.main.t_decl_a t USING (SELECT 9999L AS id, 'n' AS v) s " +
        "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *")
      val j4 = sql("SELECT a.id, b.w FROM gsql.main.t_decl_a a " +
        "JOIN gsql.main.t_decl_b b ON a.id = b.id")
      assert(j4.count() == 600L && shuffles(j4) == 0,
        "an inserting merge must keep the declared layout")
      assert(sql("SELECT count(*) FROM gsql.main.t_decl_a").head().getLong(0) == 601L)
      // the DYNAMIC-overwrite executor write honors the declaration too
      // (split writer): the claim survives even that path
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      sql("INSERT OVERWRITE gsql.main.t_decl_a SELECT id, CAST(id AS STRING) FROM range(0, 600)")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      val j5 = sql("SELECT a.id, b.w FROM gsql.main.t_decl_a a " +
        "JOIN gsql.main.t_decl_b b ON a.id = b.id")
      assert(j5.count() == 600L && shuffles(j5) == 0,
        "dynamic overwrite must keep the declared layout")
      // SCHEDULED maintenance honors the declaration too: dv
      // materialization re-buckets the rewritten file, so the claim
      // (and SPJ) survives the maintain loop
      sql("DELETE FROM gsql.main.t_decl_a WHERE id = 5")
      graft.sources.SnapshotTable.materializeDv(spark, s"$wh/main/t_decl_a",
        maxDvFraction = 0.0)
      val det3 = graft.sources.SnapshotTable.describeDetail(spark, s"$wh/main/t_decl_a")
      assert(det3.declaredBuckets.contains(8) && det3.bucketedLayout.contains(8) &&
        det3.dvFiles == 0,
        s"materializeDv must re-bucket; got layout=${det3.bucketedLayout} dv=${det3.dvFiles}")
      val j6 = sql("SELECT a.id, b.w FROM gsql.main.t_decl_a a " +
        "JOIN gsql.main.t_decl_b b ON a.id = b.id")
      assert(j6.count() == 599L && shuffles(j6) == 0,
        "SPJ must survive dv materialization on a declared table")
      // the EXPLICIT re-layout (compact) stays layout-agnostic by
      // design — it dissolves; the declared-default compactBucketed()
      // restores
      graft.sources.SnapshotTable.compact(spark, s"$wh/main/t_decl_a")
      val det4 = graft.sources.SnapshotTable.describeDetail(spark, s"$wh/main/t_decl_a")
      assert(det4.declaredBuckets.contains(8) && det4.bucketedLayout.isEmpty,
        s"compact is the explicit re-layout; got layout=${det4.bucketedLayout}")
      graft.sources.SnapshotTable.compactBucketed(spark, s"$wh/main/t_decl_a")
      val j7 = sql("SELECT a.id, b.w FROM gsql.main.t_decl_a a " +
        "JOIN gsql.main.t_decl_b b ON a.id = b.id")
      assert(j7.count() == 599L && shuffles(j7) == 0,
        "declared-default compactBucketed must restore the layout")
      // the declaration is visible table metadata
      val props = spark.sessionState.catalogManager.catalog("gsql")
        .asInstanceOf[GraftCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("main"), "t_decl_a")).properties()
      assert(props.get("buckets") == "8")
      // refusal: buckets without a hashable stats key
      val e = intercept[Exception](sql(
        "CREATE TABLE gsql.main.t_decl_bad (id BIGINT, v STRING) " +
          "TBLPROPERTIES ('buckets'='8')"))
      assert(e.getMessage.contains("statsKey") || e.getMessage.contains("stats key"))
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("appendBucketed keeps the layout claim: SPJ and GROUP BY survive ingest") {
    wh
    Seq("t_spji_a", "t_spji_b").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.t_spji_a (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("CREATE TABLE gsql.main.t_spji_b (id BIGINT, w STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.t_spji_a SELECT id, CAST(id AS STRING) FROM range(0, 500)")
    sql("INSERT INTO gsql.main.t_spji_b SELECT id, concat('w', id) FROM range(0, 1000)")
    val rootA = s"$wh/main/t_spji_a"
    graft.sources.SnapshotTable.compactBucketed(spark, rootA, 8)
    graft.sources.SnapshotTable.compactBucketed(spark, s"$wh/main/t_spji_b", 8)
    // ingest AFTER bucketing — bucket-per-file under the same count,
    // so the claim holds across generations
    import spark.implicits._
    graft.sources.SnapshotTable.appendBucketed(spark, rootA,
      spark.range(500, 1000).select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("id").cast("string").as("v")))
    val prev = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
        df.count()
        PlanWalk.executedNodes(df.queryExecution.executedPlan).count(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      }
      val j = sql("SELECT a.id, b.w FROM gsql.main.t_spji_a a " +
        "JOIN gsql.main.t_spji_b b ON a.id = b.id")
      assert(j.count() == 1000L, "both generations' rows must join")
      assert(shuffles(j) == 0,
        s"SPJ must survive appendBucketed:\n${j.queryExecution.executedPlan}")
      // key-grouped aggregation rides the same report: no exchange
      val g = sql("SELECT id, count(*) AS n FROM gsql.main.t_spji_a GROUP BY id")
      assert(g.count() == 1000L && shuffles(g) == 0,
        s"bucketed GROUP BY must not shuffle:\n${g.queryExecution.executedPlan}")
      // refusals: no live layout (a never-bucketed table), schema drift
      sql("DROP TABLE IF EXISTS gsql.main.t_spji_plain")
      sql("CREATE TABLE gsql.main.t_spji_plain (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('statsKey'='id')")
      sql("INSERT INTO gsql.main.t_spji_plain VALUES (1, 'a')")
      val e1 = intercept[Exception](graft.sources.SnapshotTable.appendBucketed(
        spark, s"$wh/main/t_spji_plain", Seq((1L, "x")).toDF("id", "v")))
      assert(e1.getMessage.contains("bucketed layout"))
      val e2 = intercept[Exception](graft.sources.SnapshotTable.appendBucketed(
        spark, rootA, Seq((1L, "x", 2L)).toDF("id", "v", "extra")))
      assert(e2.getMessage.contains("match"))
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("PARTITIONED BY: directory layout, static pruning, DPP, and refusals") {
    wh
    import org.apache.spark.sql.functions.{broadcast, col, lit, when}
    sql("DROP TABLE IF EXISTS gsql.main.t_part")
    sql("CREATE TABLE gsql.main.t_part (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='doc_id')")
    // declaration is visible metadata
    val tbl = spark.sessionState.catalogManager.catalog("gsql")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("main"), "t_part"))
    assert(tbl.partitioning().map(_.describe).toSeq == Seq("lang"),
      tbl.partitioning().map(_.describe).mkString(","))
    Tables.documents(spark, sf).select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("t_part_src")
    sql("INSERT INTO gsql.main.t_part SELECT doc_id, lang, n_chars FROM t_part_src")
    val langs = spark.table("t_part_src").select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    assert(langs.length > 1, "fixture needs several languages")
    // the layout is directory-valued; files still CARRY the column
    val files = graft.sources.SnapshotTable.filesDf(spark, s"$wh/main/t_part")
      .select("path").collect().map(_.getString(0))
    assert(files.forall(_.contains("_graft_p_lang=")), files.take(3).mkString(","))
    def keptOf(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      PlanWalk.batchScans(q).map(_.scan).collect { case g: GraftScan => g }
        .map(_.keptFileCount).max
    }
    val total = files.length
    // STATIC pruning: a literal partition predicate keeps only that
    // value's files — and the rows are right
    val en = sql("SELECT count(*) FROM gsql.main.t_part WHERE lang = 'en'")
    val enExpected = spark.table("t_part_src").filter(col("lang") === "en").count()
    assert(en.head().getLong(0) == enExpected)
    val enFiles = files.count(_.contains("_graft_p_lang=en"))
    val probe = sql("SELECT doc_id FROM gsql.main.t_part WHERE lang = 'en'")
    assert(keptOf(probe) == enFiles && enFiles < total,
      s"static prune kept ${keptOf(probe)} of $total (en holds $enFiles)")
    // non-partition predicates don't prune on the layout (stats still may)
    assert(sql("SELECT count(*) FROM gsql.main.t_part WHERE n_chars >= 0")
      .head().getLong(0) == spark.table("t_part_src").count())
    // DYNAMIC partition pruning: the surviving langs are only knowable
    // at runtime (a dim attribute filter) — the dim goes through
    // parquet so the optimizer can't constant-fold the tier predicate
    // into a static lang filter
    spark.table("t_part_src").select(col("lang")).distinct()
      .withColumn("tier", when(col("lang") === "en", lit("keep")).otherwise(lit("drop")))
      .write.mode("overwrite").parquet(s"$wh/main_scratch_dim")
    graft.Scratch.registerForCleanup(s"$wh/main_scratch_dim")
    spark.read.parquet(s"$wh/main_scratch_dim").createOrReplaceTempView("t_part_dim")
    val dpp = sql("SELECT t.lang, count(*) AS n FROM gsql.main.t_part t " +
      "JOIN t_part_dim d ON t.lang = d.lang WHERE d.tier = 'keep' GROUP BY t.lang")
    assert(dpp.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("en", enExpected)))
    assert(keptOf(dpp) == enFiles,
      s"DPP kept ${keptOf(dpp)} files; only en's $enFiles may survive")
    // the programmatic read prunes through the same per-file decision
    val v1 = graft.sources.SnapshotTable.readIndexed(spark, s"$wh/main/t_part")
      .filter(col("lang") === "en")
    assert(v1.collect().length == enExpected) // executes THIS plan (metrics live here)
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    val v1Files = PlanWalk.keptFiles(v1).headOption.map(_.toLong).getOrElse(-1L)
    assert(v1Files == enFiles, s"V1 scanned $v1Files of $total files")
    // a row-level rewrite (MERGE) is layout-agnostic: its files carry
    // no partition dirs, pruning keeps them conservatively, rows stay
    // right under partition predicates
    sql("MERGE INTO gsql.main.t_part t USING " +
      "(SELECT doc_id, lang, n_chars + 1 AS n_chars FROM t_part_src LIMIT 1) s " +
      "ON t.doc_id = s.doc_id AND t.lang = s.lang " +
      "WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars")
    assert(sql("SELECT count(*) FROM gsql.main.t_part WHERE lang = 'en'")
      .head().getLong(0) == enExpected)
    // refusals: NULL partition value, functional transform, buckets combo,
    // dropping the partition column
    val eNull = intercept[Exception](
      sql("INSERT INTO gsql.main.t_part VALUES (999999, NULL, 1)"))
    assert(eNull.getMessage != null)
    val eTr = intercept[Exception](sql(
      "CREATE TABLE gsql.main.t_part_bad (id BIGINT, v STRING) PARTITIONED BY (bucket(8, id))"))
    assert(eTr.getMessage.contains("identity") || eTr.getMessage.contains("transform"))
    val eCombo = intercept[Exception](sql(
      "CREATE TABLE gsql.main.t_part_bad2 (id BIGINT, lang STRING) PARTITIONED BY (lang) " +
        "TBLPROPERTIES ('statsKey'='id', 'buckets'='4')"))
    assert(eCombo.getMessage.contains("mutually exclusive"))
    val eDrop = intercept[Exception](
      sql("ALTER TABLE gsql.main.t_part DROP COLUMN lang"))
    assert(eDrop.getMessage.contains("PARTITION"))
  }

  test("runtime key filtering: a dim-filtered join skips FILES on the stats key") {
    wh
    import org.apache.spark.sql.functions.{col, lit, when}
    sql("DROP TABLE IF EXISTS gsql.main.t_rtk")
    sql("CREATE TABLE gsql.main.t_rtk (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='8')")
    sql("INSERT INTO gsql.main.t_rtk SELECT id, CAST(id AS STRING) FROM range(0, 4000)")
    // opaque dim: the surviving ids are unknowable statically
    spark.range(0, 4000).select(col("id"),
      when(col("id").isin(7L, 1234L, 2999L), lit("y")).otherwise(lit("n")).as("keep"))
      .write.mode("overwrite").parquet(s"$wh/main_scratch_rtk")
    graft.Scratch.registerForCleanup(s"$wh/main_scratch_rtk")
    spark.read.parquet(s"$wh/main_scratch_rtk").createOrReplaceTempView("t_rtk_dim")
    val total = graft.sources.SnapshotTable
      .filesDf(spark, s"$wh/main/t_rtk").count().toInt
    assert(total >= 8)
    val j = sql("SELECT t.id, t.v FROM gsql.main.t_rtk t " +
      "JOIN t_rtk_dim d ON t.id = d.id WHERE d.keep = 'y'")
    assert(j.collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 1234L, 2999L))
    val kept = PlanWalk.batchScans(j).map(_.scan)
      .collect { case g: GraftScan => g.keptFileCount }
    assert(kept.nonEmpty && kept.min <= 3,
      s"3 runtime ids map to <=3 buckets; scan kept ${kept.mkString(",")} of $total")
  }

  test("SHOW PARTITIONS and ALTER TABLE DROP PARTITION through plain SQL") {
    wh
    sql("DROP TABLE IF EXISTS gsql.main.t_showp")
    sql("CREATE TABLE gsql.main.t_showp (id BIGINT, lang STRING, v STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.t_showp SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' ELSE 'fr' END, " +
      "concat('v', id) FROM range(0, 90)")
    assert(sql("SHOW PARTITIONS gsql.main.t_showp").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("lang=de", "lang=en", "lang=fr"))
    // partial spec filters the listing
    assert(sql("SHOW PARTITIONS gsql.main.t_showp PARTITION (lang='en')")
      .collect().map(_.getString(0)).toSeq == Seq("lang=en"))
    // DROP PARTITION: pure metadata — no data file moves, rows gone
    val before = dataFiles("t_showp")
    sql("ALTER TABLE gsql.main.t_showp DROP PARTITION (lang='de')")
    assert(dataFiles("t_showp") == before,
      "dropping a partition is a manifest edit, not a rewrite")
    assert(sql("SELECT count(*) FROM gsql.main.t_showp").head().getLong(0) == 60L)
    assert(sql("SHOW PARTITIONS gsql.main.t_showp").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("lang=en", "lang=fr"))
    // time travel still sees the dropped slice
    val vs = graft.sources.SnapshotTable.versions(spark, s"$wh/main/t_showp")
    assert(sql(s"SELECT count(*) FROM gsql.main.t_showp VERSION AS OF ${vs.init.last}")
      .head().getLong(0) == 90L)
    // refusals: ADD PARTITION (nothing to create), absent tuple (IF EXISTS passes)
    val eAdd = intercept[Exception](
      sql("ALTER TABLE gsql.main.t_showp ADD PARTITION (lang='xx')"))
    assert(eAdd.getMessage.contains("WRITING rows") || eAdd.getMessage.contains("ADD PARTITION"))
    sql("ALTER TABLE gsql.main.t_showp DROP IF EXISTS PARTITION (lang='zz')")
    assert(sql("SELECT count(*) FROM gsql.main.t_showp").head().getLong(0) == 60L)
  }

  test("concurrent scoped overwrites of DIFFERENT partitions both land") {
    wh
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    sql("DROP TABLE IF EXISTS gsql.main.t_powc")
    sql("CREATE TABLE gsql.main.t_powc (id BIGINT, lang STRING, v STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.t_powc SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, concat('v', id) FROM range(0, 200)")
    val root = s"$wh/main/t_powc"
    // two writers replacing DIFFERENT partitions race on the manifest:
    // the optimistic retry recomputes carried entries per attempt, so
    // both effects must land — neither lost, neither doubled
    def scoped(lang: String, n: Int): Unit = {
      graft.sources.SnapshotTable.sqlOverwriteWhere(spark, root,
        spark.sql(s"SELECT id, '$lang' AS lang, concat('$lang', id) AS v " +
          s"FROM range(0, $n)"),
        Seq(EqualTo(AttributeReference("lang",
          org.apache.spark.sql.types.StringType)(), Literal(lang))))
      ()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(("en", 5), ("de", 9)).map { case (l, n) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = scoped(l, n)
        })
      }
      fs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val counts = sql("SELECT lang, count(*) AS n FROM gsql.main.t_powc GROUP BY lang")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("en" -> 5L, "de" -> 9L),
      s"both scoped overwrites must land: $counts")
    assert(sql("SELECT v FROM gsql.main.t_powc WHERE lang = 'de' AND id = 3")
      .head().getString(0) == "de3")
  }

  test("partitions metadata table: typed SHOW PARTITIONS with stats, by name") {
    wh
    sql("DROP TABLE IF EXISTS gsql.main.t_pmeta")
    sql("CREATE TABLE gsql.main.t_pmeta (id BIGINT, lang STRING, v STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.t_pmeta SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, concat('v', id) FROM range(0, 100)")
    sql("DELETE FROM gsql.main.t_pmeta WHERE id = 2") // dv in en
    val rows = sql("SELECT lang, n_files, n_rows, dv_files " +
      "FROM gsql.main.t_pmeta.partitions ORDER BY lang").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("de", "en"))
    assert(rows.map(_.getLong(2)).toSeq == Seq(50L, 49L),
      "n_rows must be dv-exact per partition")
    assert(rows.map(_.getInt(3)).sum == 1, "the dv file attributes to en")
    // the scan is a LocalScan (no data files opened) and aggregates run
    assert(sql("SELECT sum(n_rows) FROM gsql.main.t_pmeta.partitions")
      .head().getLong(0) == 99L)
    // a layout-agnostic file accounts as the all-NULL row, honestly
    graft.sources.SnapshotTable.compact(spark, s"$wh/main/t_pmeta")
    val post = sql("SELECT lang, n_files FROM gsql.main.t_pmeta.partitions").collect()
    assert(post.length == 1 && post.head.isNullAt(0),
      s"plain-path files group under NULL: ${post.mkString(",")}")
    // an unpartitioned table refuses the relation loudly
    val e = intercept[Exception](
      sql("SELECT * FROM gsql.main.t_basic.partitions").collect())
    assert(e.getMessage.contains("partition"), e.getMessage)
  }

  test("SPJ over identity partitions: co-partitioned join and GROUP BY, zero exchanges") {
    wh
    Seq("t_ispj_a", "t_ispj_b").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.t_ispj_a (id BIGINT, lang STRING, v STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='id')")
    sql("CREATE TABLE gsql.main.t_ispj_b (lang STRING, w STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='w')")
    sql("INSERT INTO gsql.main.t_ispj_a SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' ELSE 'fr' END, " +
      "concat('v', id) FROM range(0, 300)")
    sql("INSERT INTO gsql.main.t_ispj_b VALUES ('en', 'english'), ('de', 'german'), ('fr', 'french')")
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.take(2).foreach(spark.conf.set(_, "true"))
      spark.conf.set(keys(2), "-1")
      def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
        df.count()
        PlanWalk.executedNodes(df.queryExecution.executedPlan).count(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      }
      val j = sql("SELECT a.id, b.w FROM gsql.main.t_ispj_a a " +
        "JOIN gsql.main.t_ispj_b b ON a.lang = b.lang")
      assert(j.count() == 300L)
      assert(shuffles(j) == 0,
        s"co-partitioned identity SPJ must plan zero exchanges:\n" +
          j.queryExecution.executedPlan)
      val parts = PlanWalk.batchScans(j).flatMap(_.inputRDD.partitions.map(
        _.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition]
          .inputPartitions)).flatten
      assert(parts.nonEmpty && parts.forall(
        _.isInstanceOf[graft.catalog.GraftValuePartition]),
        s"got ${parts.map(_.getClass.getSimpleName).distinct}")
      // GROUP BY the partition column rides the same report
      val g = sql("SELECT lang, count(*) AS n FROM gsql.main.t_ispj_a GROUP BY lang")
      assert(g.count() == 3L && shuffles(g) == 0,
        s"partitioned GROUP BY must not shuffle:\n${g.queryExecution.executedPlan}")
      // dv debt rides through (a dv never moves a row across partitions)
      sql("DELETE FROM gsql.main.t_ispj_a WHERE id = 3")
      val j2 = sql("SELECT a.id, b.w FROM gsql.main.t_ispj_a a " +
        "JOIN gsql.main.t_ispj_b b ON a.lang = b.lang")
      assert(j2.count() == 299L && shuffles(j2) == 0,
        "identity SPJ must survive dv debt")
      // scheduled maintenance honors the declaration: compactSmall
      // re-lands the packed rows under partition dirs — the claim holds
      graft.sources.SnapshotTable.compactSmall(spark, s"$wh/main/t_ispj_a",
        smallBytes = Long.MaxValue)
      val jm = sql("SELECT a.id, b.w FROM gsql.main.t_ispj_a a " +
        "JOIN gsql.main.t_ispj_b b ON a.lang = b.lang")
      assert(jm.count() == 299L && shuffles(jm) == 0,
        "compactSmall must keep the partition layout on a declared table")
      // the EXPLICIT re-layout dissolves (conservative); the join still
      // answers, shuffled
      graft.sources.SnapshotTable.compact(spark, s"$wh/main/t_ispj_a")
      val j3 = sql("SELECT a.id, b.w FROM gsql.main.t_ispj_a a " +
        "JOIN gsql.main.t_ispj_b b ON a.lang = b.lang")
      assert(j3.count() == 299L && shuffles(j3) > 0,
        "a plain-path rewrite must dissolve the identity claim")
      graft.sources.SnapshotTable.compactPartitioned(spark, s"$wh/main/t_ispj_a")
      val j4 = sql("SELECT a.id, b.w FROM gsql.main.t_ispj_a a " +
        "JOIN gsql.main.t_ispj_b b ON a.lang = b.lang")
      assert(j4.count() == 299L && shuffles(j4) == 0,
        "compactPartitioned must restore the identity claim")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("partition overwrite: PARTITION-scoped static, dynamic, refusals") {
    wh
    import org.apache.spark.sql.functions.col
    sql("DROP TABLE IF EXISTS gsql.main.t_pow")
    sql("CREATE TABLE gsql.main.t_pow (id BIGINT, lang STRING, v STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.t_pow SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' ELSE 'fr' END, " +
      "concat('v', id) FROM range(0, 300)")
    def rows(lang: String): Long =
      sql(s"SELECT count(*) FROM gsql.main.t_pow WHERE lang = '$lang'").head().getLong(0)
    def pathsOf(lang: String): Set[String] =
      graft.sources.SnapshotTable.filesDf(spark, s"$wh/main/t_pow")
        .collect().map(_.getString(0)).filter(_.contains(s"_graft_p_lang=$lang")).toSet
    assert(rows("en") == 100 && rows("de") == 100 && rows("fr") == 100)
    val dePathsBefore = pathsOf("de")
    // STATIC partition-scoped overwrite: only en's files move
    sql("INSERT OVERWRITE gsql.main.t_pow PARTITION (lang = 'en') " +
      "SELECT id, concat('EN', id) FROM range(0, 10)")
    assert(rows("en") == 10 && rows("de") == 100 && rows("fr") == 100)
    assert(sql("SELECT v FROM gsql.main.t_pow WHERE lang = 'en' AND id = 3")
      .head().getString(0) == "EN3")
    assert(pathsOf("de") == dePathsBefore,
      "untouched partitions must carry their files verbatim")
    // DYNAMIC overwrite: only the partitions PRESENT in the batch move
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.range(0, 7)
        .select(col("id"), org.apache.spark.sql.functions.lit("de").as("lang"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("DE"), col("id")).as("v"))
        .createOrReplaceTempView("t_pow_de_src")
      sql("INSERT OVERWRITE gsql.main.t_pow SELECT id, lang, v FROM t_pow_de_src")
      assert(rows("de") == 7 && rows("en") == 10 && rows("fr") == 100,
        "dynamic overwrite must replace only the batch's partitions")
    } finally prevMode.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
    // (PARTITION (lang) with no value under static mode is Spark's
    // whole-table overwrite by definition — not probed here)
    // scope-violation defense: SQL can't produce out-of-scope rows (the
    // engine injects the PARTITION literal), so probe the commit
    // directly — rows outside the named partition must publish NOTHING
    val ePred = intercept[Exception] {
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
      graft.sources.SnapshotTable.sqlOverwriteWhere(spark, s"$wh/main/t_pow",
        spark.sql("SELECT id, 'de' AS lang, concat('y', id) AS v FROM range(0, 5)"),
        Seq(EqualTo(AttributeReference("lang",
          org.apache.spark.sql.types.StringType)(), Literal("en"))))
    }
    assert(ePred.getMessage.contains("scope violation"), ePred.getMessage)
    assert(rows("de") == 7, "a scope violation must publish nothing")
    // refusal + recovery: a layout-agnostic file blocks scoping until
    // compactPartitioned restores the shape
    sql("MERGE INTO gsql.main.t_pow t USING (SELECT 3L AS id, 'fr' AS lang, 'M' AS v) s " +
      "ON t.id = s.id AND t.lang = s.lang WHEN MATCHED THEN UPDATE SET v = s.v")
    // row-level writes are partition-aware now, so the merge output
    // still spells partition dirs and scoping KEEPS working:
    sql("INSERT OVERWRITE gsql.main.t_pow PARTITION (lang = 'fr') " +
      "SELECT id, concat('FR', id) FROM range(0, 4)")
    assert(rows("fr") == 4 && rows("de") == 7 && rows("en") == 10)
    // a genuinely layout-agnostic rewrite (the explicit full compact)
    // dissolves the shape; scoped overwrite then refuses loudly and
    // compactPartitioned restores it
    graft.sources.SnapshotTable.compact(spark, s"$wh/main/t_pow")
    val eShape = intercept[Exception](
      sql("INSERT OVERWRITE gsql.main.t_pow PARTITION (lang = 'en') " +
        "SELECT id, concat('zz', id) FROM range(0, 2)"))
    assert(eShape.getMessage.contains("compactPartitioned"), eShape.getMessage)
    graft.sources.SnapshotTable.compactPartitioned(spark, s"$wh/main/t_pow")
    sql("INSERT OVERWRITE gsql.main.t_pow PARTITION (lang = 'en') " +
      "SELECT id, concat('zz', id) FROM range(0, 2)")
    assert(rows("en") == 2 && rows("de") == 7 && rows("fr") == 4)
  }

  test("catalog scalars: cosine_sim and l2_dist rank arrays through plain SQL") {
    wh
    sql("DROP TABLE IF EXISTS gsql.main.t_vec")
    sql("CREATE TABLE gsql.main.t_vec (vid BIGINT, emb ARRAY<FLOAT>) " +
      "TBLPROPERTIES ('statsKey'='vid')")
    sql("INSERT INTO gsql.main.t_vec VALUES " +
      "(1, array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))), " +
      "(2, array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT))), " +
      "(3, array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))")
    // cosine of (3,4) with itself = 1; with (1,0) = 0.6
    val cos = sql("SELECT vid, round(gsql.main.cosine_sim(emb, " +
      "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))), 6) AS s " +
      "FROM gsql.main.t_vec ORDER BY s DESC, vid").collect()
    assert(cos.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((3L, 1.0), (2L, 0.8), (1L, 0.6)))
    // l2_dist of (3,4) to (0,0)-ish probes: dist((1,0),(3,4)) = sqrt(4+16)
    val l2 = sql("SELECT round(gsql.main.l2_dist(emb, " +
      "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))), 6) AS d " +
      "FROM gsql.main.t_vec WHERE vid = 1").head().getDouble(0)
    assert(math.abs(l2 - math.sqrt(20.0)) < 1e-6)
    // double arrays bind too (mixed widths are typed per side)
    val dd = sql("SELECT gsql.main.cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS s")
      .head().getDouble(0)
    assert(math.abs(dd - 1.0) < 1e-12)
    // visible in the listing; unknown names refuse loudly
    val fns = sql("SHOW FUNCTIONS IN gsql.main").collect().map(_.getString(0))
    assert(fns.exists(_.endsWith("cosine_sim")) && fns.exists(_.endsWith("l2_dist")),
      s"got ${fns.mkString(",")}")
    val e = intercept[Exception](sql("SELECT gsql.main.cosine_sim(1, 2)"))
    assert(e.getMessage.contains("array") || e.getMessage.contains("cosine_sim"))
  }

  test("SPJ survives deletion-vector debt: point DELETE, join still zero-exchange") {
    wh
    Seq("t_spjd_a", "t_spjd_b").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.t_spjd_a (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='8')")
    sql("CREATE TABLE gsql.main.t_spjd_b (id BIGINT, w STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='8')")
    sql("INSERT INTO gsql.main.t_spjd_a SELECT id, CAST(id AS STRING) FROM range(0, 1000)")
    sql("INSERT INTO gsql.main.t_spjd_b SELECT id, concat('w', id) FROM range(0, 1000)")
    // dv debt on BOTH sides: a point delete writes a deletion vector,
    // no data file moves — before, this downgraded every co-located
    // join to a full shuffle until materializeDv
    sql("DELETE FROM gsql.main.t_spjd_a WHERE id = 7")
    sql("DELETE FROM gsql.main.t_spjd_b WHERE id = 500")
    assert(graft.sources.SnapshotTable.describeDetail(spark, s"$wh/main/t_spjd_a").dvFiles == 1)
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.take(2).foreach(spark.conf.set(_, "true"))
      spark.conf.set(keys(2), "-1")
      val j = sql("SELECT a.id, b.w FROM gsql.main.t_spjd_a a " +
        "JOIN gsql.main.t_spjd_b b ON a.id = b.id")
      // dv-correct rows: 1000 minus the two deleted keys
      assert(j.count() == 998L)
      assert(sql("SELECT count(*) FROM gsql.main.t_spjd_a WHERE id = 7")
        .head().getLong(0) == 0L)
      val shuffles = PlanWalk.executedNodes(j.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      assert(shuffles == 0,
        s"SPJ must survive dv debt:\n${j.queryExecution.executedPlan}")
      // the partitions really are key-grouped bucket units, dv included
      val parts = PlanWalk.batchScans(j).flatMap(_.inputRDD.partitions.map(
        _.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition]
          .inputPartitions)).flatten
      assert(parts.nonEmpty && parts.forall(_.isInstanceOf[GraftBucketPartition]))
      assert(parts.collect { case p: GraftBucketPartition if p.hasDv => p }.size == 2,
        "both dv-bearing files must plan as bucket partitions")
      // the programmatic read applies the dv too: bucketed files live
      // one level deeper than plain batches, and the sidecar's paths
      // must still line up with the manifest entry (a fixed 3-segment
      // path slice once silently resurrected deleted rows here)
      val v1 = graft.sources.SnapshotTable.readIndexed(spark, s"$wh/main/t_spjd_a")
      assert(v1.count() == 999L, "V1 read must apply the deletion vector")
      assert(v1.filter(org.apache.spark.sql.functions.col("id") === 7L).count() == 0L)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("targetFileBytes: several files per bucket in ONE generation keep SPJ") {
    wh
    Seq("t_split_a", "t_split_b").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.t_split_a (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("CREATE TABLE gsql.main.t_split_b (id BIGINT, w STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.t_split_a SELECT id, repeat(CAST(id AS STRING), 20) FROM range(0, 4000)")
    sql("INSERT INTO gsql.main.t_split_b SELECT id, concat('w', id) FROM range(0, 4000)")
    val rootA = s"$wh/main/t_split_a"
    // a tiny target forces the salt wide: every bucket must split
    graft.sources.SnapshotTable.compactBucketed(spark, rootA, 4, targetFileBytes = 8 * 1024L)
    graft.sources.SnapshotTable.compactBucketed(spark, s"$wh/main/t_split_b", 4)
    val files = graft.sources.SnapshotTable.filesDf(spark, rootA).collect()
    val bucketRe = """_graft_bucket=(\d+)/""".r
    val byBucket = files.groupBy(r =>
      bucketRe.findFirstMatchIn(r.getString(0)).get.group(1).toInt)
    assert(byBucket.keySet == (0 until 4).toSet)
    assert(byBucket.values.exists(_.length > 1),
      s"the tiny target must split at least one bucket; got " +
        byBucket.view.mapValues(_.length).toMap)
    // write-loop facts: every entry carries rows/bytes/min/max with no
    // post-write footer read — totals and global bounds must be exact
    assert(files.forall(r => !r.isNullAt(1) && !r.isNullAt(2) &&
      !r.isNullAt(3) && !r.isNullAt(4)), "every entry needs in-loop stats")
    assert(files.map(_.getLong(1)).sum == 4000L)
    assert(files.map(_.getLong(3)).min == 0L && files.map(_.getLong(4)).max == 3999L)
    // the layout claim survives the split: key-grouped planning + SPJ
    assert(graft.sources.SnapshotTable.describeDetail(spark, rootA)
      .bucketedLayout.contains(4))
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.take(2).foreach(spark.conf.set(_, "true"))
      spark.conf.set(keys(2), "-1")
      val j = sql("SELECT a.id, b.w FROM gsql.main.t_split_a a " +
        "JOIN gsql.main.t_split_b b ON a.id = b.id")
      assert(j.count() == 4000L)
      val shuffles = PlanWalk.executedNodes(j.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      assert(shuffles == 0,
        s"split buckets must still join zero-exchange:\n${j.queryExecution.executedPlan}")
      // a point probe still prunes to ONE bucket's files (all its salts)
      val p = sql("SELECT id, v FROM gsql.main.t_split_a WHERE id = 1234")
      assert(p.count() == 1L)
      val scanned = PlanWalk.batchScans(p).map(_.scan)
        .collectFirst { case g: GraftScan => g.keptFileCount }.get
      val oneBucket = byBucket.values.map(_.length).max
      assert(scanned <= oneBucket,
        s"point probe kept $scanned files; one bucket holds at most $oneBucket")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("SPJ with MISSING buckets on one side stays correct (and shuffle-free)") {
    wh
    Seq("t_spjm_a", "t_spjm_b").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.t_spjm_a (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("CREATE TABLE gsql.main.t_spjm_b (id BIGINT, w STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.t_spjm_a SELECT id, CAST(id AS STRING) FROM range(0, 800)")
    // four distinct keys: side B occupies at most 4 of 8 buckets —
    // the sides' partition VALUES differ, the case
    // pushPartValues.enabled exists for
    sql("INSERT INTO gsql.main.t_spjm_b VALUES (3, 'w3'), (97, 'w97'), (211, 'w211'), (512, 'w512')")
    graft.sources.SnapshotTable.compactBucketed(spark, s"$wh/main/t_spjm_a", 8)
    graft.sources.SnapshotTable.compactBucketed(spark, s"$wh/main/t_spjm_b", 8)
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.take(2).foreach(spark.conf.set(_, "true"))
      spark.conf.set(keys(2), "-1")
      val j = sql("SELECT a.id, b.w FROM gsql.main.t_spjm_a a " +
        "JOIN gsql.main.t_spjm_b b ON a.id = b.id ORDER BY a.id")
      assert(j.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq(3L -> "w3", 97L -> "w97", 211L -> "w211", 512L -> "w512"))
      val shuffles = PlanWalk.executedNodes(j.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      // ORDER BY adds its own range exchange; the JOIN itself must not
      // shuffle its inputs — so at most the one sort exchange survives
      assert(shuffles <= 1,
        s"mismatched-bucket SPJ shuffled its inputs:\n${j.queryExecution.executedPlan}")
      // an outer join over the mismatch keeps unmatched rows
      val oj = sql("SELECT a.id, b.w FROM gsql.main.t_spjm_a a " +
        "LEFT JOIN gsql.main.t_spjm_b b ON a.id = b.id")
      assert(oj.count() == 800L)
      assert(oj.filter("w IS NOT NULL").count() == 4L)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("byte-based admission: maxBytesPerTrigger packs versions by manifest bytes") {
    wh
    Seq("b_src", "b_out1", "b_out2").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    sql("CREATE TABLE gsql.main.b_src (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO gsql.main.b_src SELECT /*+ REPARTITION(1) */ id, " +
        s"CAST(id AS STRING) FROM range(${i * 1000}, ${i * 1000 + 1000})")
    }
    val srcRoot = s"$wh/main/b_src"
    val last = graft.sources.SnapshotTable.versions(spark, srcRoot).last
    val sizes = graft.sources.SnapshotTable
      .addedBytesByVersion(spark, srcRoot, 0, last).map(_._2)
    assert(sizes.head == 0L && sizes.tail.forall(_ > 0L), s"sizes=$sizes") // create, 4 appends
    def drain(out: String, budget: Long): Int = {
      sql(s"CREATE TABLE gsql.main.$out (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft-bytepace-$out").toString
      spark.readStream.option("maxBytesPerTrigger", budget.toString)
        .table("gsql.main.b_src")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"gsql.main.$out").awaitTermination()
      assert(sql(s"SELECT count(*) FROM gsql.main.$out").head().getLong(0) == 4000L)
      graft.sources.SnapshotTable.history(spark, s"$wh/main/$out")
        .map(_.op).count(_ == "append")
    }
    // budget below any single append: every version drains alone
    // (soft cap — the first version past the cursor always admits)
    assert(drain("b_out1", 1L) == 4)
    // budget = two appends (+slack for parquet size jitter): the four
    // near-equal appends pack pairwise → exactly 2 epochs
    assert(drain("b_out2", sizes(1) + sizes(2) + 64L) == 2)
  }

  test("COUNT/MIN/MAX pushed to the manifest: zero data files read") {
    val t = freshTable("t_aggpush")
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    def isLocalOnly(df: org.apache.spark.sql.DataFrame): Boolean =
      PlanWalk.batchScans(df).isEmpty &&
        df.queryExecution.executedPlan.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec])
    val q = sql(s"SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM $t")
    val r = q.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((400L, 0L, 399L)))
    assert(isLocalOnly(q), s"expected manifest-answered LocalTableScan:\n" +
      q.queryExecution.executedPlan)
    // a WHERE keeps residual filters → Spark does not push the
    // aggregate; the real scan still answers correctly
    val f = sql(s"SELECT count(*) FROM $t WHERE id >= 200")
    assert(f.head().getLong(0) == 200L && PlanWalk.batchScans(f).nonEmpty)
    // GROUP BY refuses the metadata answer
    val g = sql(s"SELECT v, count(*) FROM $t GROUP BY v")
    assert(g.collect().length == 400 && PlanWalk.batchScans(g).nonEmpty)
    // MIN/MAX on a non-stats column scans (no recorded bounds)
    val nv = sql(s"SELECT max(v) FROM $t")
    assert(nv.head().getString(0) == "99" && PlanWalk.batchScans(nv).nonEmpty)
    // dv debt: COUNT(*) stays a metadata answer (dvRows are recorded
    // exactly), but MIN/MAX refuse — the deleted row may HOLD the
    // recorded extreme
    sql(s"DELETE FROM $t WHERE id = 0")
    val dc = sql(s"SELECT count(*) AS n FROM $t")
    assert(dc.head().getLong(0) == 399L)
    assert(isLocalOnly(dc),
      s"count under recorded dv debt should stay metadata:\n" +
        dc.queryExecution.executedPlan)
    val d = sql(s"SELECT count(*) AS n, min(id) AS lo FROM $t")
    val dr = d.head()
    assert((dr.getLong(0), dr.getLong(1)) == ((399L, 1L)), s"got $dr")
    assert(PlanWalk.batchScans(d).nonEmpty,
      "MIN under dv debt must fall back to a real scan")
    // time travel composes: the PRE-delete version answers from ITS manifest
    val vs = graft.sources.SnapshotTable.versions(spark, s"$wh/main/t_aggpush")
    val tt = sql(s"SELECT count(*) AS n, min(id) AS lo FROM $t VERSION AS OF ${vs.init.last}")
    val tr = tt.head()
    assert((tr.getLong(0), tr.getLong(1)) == ((400L, 0L)))
    assert(isLocalOnly(tt))
  }

  test("dv partitions and plain partitions mix in one scan") {
    val t = freshTable("t_mix")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(0, 100)")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) FROM range(100, 200)")
    sql(s"DELETE FROM $t WHERE id = 50") // dv on file 1 only
    val probe = sql(s"SELECT id FROM $t")
    assert(probe.collect().length == 199)
    val parts = PlanWalk.batchScans(probe).flatMap(_.inputRDD.partitions.map(_.asInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition].inputPartitions))
      .flatten
    val dvParts = parts.collect { case d: GraftDvPartition => d }
    val plainParts = parts.collect { case f: FilePartition => f }
    assert(dvParts.size == 1 && plainParts.nonEmpty,
      s"dv=${dvParts.size} plain=${plainParts.size}")
  }

  test("maintain(relayout=true) restores a dissolved bucket layout — SPJ zero-exchange again") {
    wh
    val snap = graft.sources.SnapshotTable
    sql("DROP TABLE IF EXISTS gsql.main.rl_a")
    sql("DROP TABLE IF EXISTS gsql.main.rl_b")
    sql("CREATE TABLE gsql.main.rl_a (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='4')")
    sql("CREATE TABLE gsql.main.rl_b (id BIGINT, w STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='4')")
    sql("INSERT INTO gsql.main.rl_a SELECT id, id * 2 FROM range(0, 400)")
    sql("INSERT INTO gsql.main.rl_b SELECT id, concat('w', id) FROM range(0, 400)")
    val rootA = s"$wh/main/rl_a"
    // an EXPLICIT layout-agnostic compact dissolves the declared layout
    snap.compact(spark, rootA, targetFiles = 3)
    assert(snap.describeDetail(spark, rootA).bucketedLayout.isEmpty,
      "compact() is layout-agnostic by design")
    // ONE scheduled call restores it — no operator-chosen tool
    val committed = snap.maintain(spark, rootA, smallBytes = 1L, relayout = true)
    assert(committed.nonEmpty, "relayout must commit a restoring rewrite")
    assert(snap.describeDetail(spark, rootA).bucketedLayout.contains(4))
    // ...and the co-located join plans ZERO shuffle exchanges again
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "-1")
      val j = sql("SELECT a.id, a.v, b.w FROM gsql.main.rl_a a " +
        "JOIN gsql.main.rl_b b ON a.id = b.id")
      assert(j.count() == 400L)
      val shuffles = PlanWalk.executedNodes(j.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      assert(shuffles == 0,
        s"relayout must restore SPJ:\n${j.queryExecution.executedPlan}")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // idempotent: the layout is intact, a second relayout cycle
    // commits NOTHING (scheduled calls converge)
    assert(snap.maintain(spark, rootA, smallBytes = 1L, relayout = true).isEmpty)
  }

  test("maintain(relayout=true) restores a dissolved PARTITIONED BY layout") {
    wh
    val snap = graft.sources.SnapshotTable
    sql("DROP TABLE IF EXISTS gsql.main.rl_p")
    sql("CREATE TABLE gsql.main.rl_p (id BIGINT, lang STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.rl_p SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END FROM range(0, 200)")
    val root = s"$wh/main/rl_p"
    snap.compact(spark, root, targetFiles = 2) // dissolves the directories
    assert(!liveFiles("rl_p").forall(_.contains("_graft_p_lang=")))
    assert(snap.maintain(spark, root, smallBytes = 1L, relayout = true).nonEmpty)
    assert(liveFiles("rl_p").forall(_.contains("_graft_p_lang=")))
    // static pruning works again through the restored directories
    val probe = sql("SELECT id FROM gsql.main.rl_p WHERE lang = 'en'")
    assert(probe.collect().length == 100)
    val total = liveFiles("rl_p").size
    val kept = PlanWalk.batchScans(probe).map(_.scan)
      .collect { case g: GraftScan => g.keptFileCount }.max
    assert(kept < total, s"kept=$kept total=$total")
    assert(snap.maintain(spark, root, smallBytes = 1L, relayout = true).isEmpty)
  }

  test("partition-spec evolution: metadata-only ALTER, every era prunes by its own path") {
    wh
    val snap = graft.sources.SnapshotTable
    sql("DROP TABLE IF EXISTS gsql.main.pe")
    sql("CREATE TABLE gsql.main.pe (id BIGINT, lang STRING, src STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='id')")
    // era 1: lang directories only
    sql("INSERT INTO gsql.main.pe SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, concat('s', id % 3) " +
      "FROM range(0, 120)")
    val era1 = liveFiles("pe")
    assert(era1.forall(f => f.contains("_graft_p_lang=") && !f.contains("_graft_p_src=")))
    // EVOLVE: add src to the spec — one metadata commit, zero data I/O
    sql("ALTER TABLE gsql.main.pe SET TBLPROPERTIES ('partitionCols'='lang,src')")
    assert(liveFiles("pe") == era1, "spec evolution must move no file")
    // era 2: two-level directories
    sql("INSERT INTO gsql.main.pe SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, concat('s', id % 3) " +
      "FROM range(120, 240)")
    val all = liveFiles("pe")
    val era2 = all -- era1
    assert(era2.nonEmpty && era2.forall(f =>
      f.contains("_graft_p_lang=") && f.contains("_graft_p_src=")))
    def keptOf(q: String): Int = {
      val df = sql(q)
      df.collect()
      PlanWalk.batchScans(df).map(_.scan)
        .collect { case g: GraftScan => g.keptFileCount }.max
    }
    // a lang probe prunes BOTH eras (both spell lang)
    assert(sql("SELECT count(*) FROM gsql.main.pe WHERE lang = 'en'")
      .head().getLong(0) == 120L)
    val keptLang = keptOf("SELECT id FROM gsql.main.pe WHERE lang = 'en'")
    assert(keptLang < all.size, s"kept=$keptLang of ${all.size}")
    // a src probe prunes era 2 and conservatively keeps era 1
    val keptSrc = keptOf("SELECT id FROM gsql.main.pe WHERE src = 's0'")
    assert(keptSrc < all.size && keptSrc >= era1.size,
      s"kept=$keptSrc era1=${era1.size} total=${all.size}")
    // DROP FIELD: spec shrinks to src — old files STILL prune on lang
    // (pruning is a per-file path fact, not a current-spec fact)
    sql("ALTER TABLE gsql.main.pe SET TBLPROPERTIES ('partitionCols'='src')")
    val keptLang2 = keptOf("SELECT id FROM gsql.main.pe WHERE lang = 'de'")
    assert(keptLang2 < all.size, s"kept=$keptLang2 of ${all.size}")
    // values stay exact across both evolutions
    assert(sql("SELECT count(*) FROM gsql.main.pe").head().getLong(0) == 240L)
    // time travel reads each ERA under its own spec: the pre-evolution
    // version still answers (its manifest pins its own spec + files)
    val vEra1 = graft.sources.SnapshotTable.versions(spark, s"$wh/main/pe")
      .find(v => graft.sources.SnapshotTable
        .history(spark, s"$wh/main/pe").find(_.version == v).exists(_.op == "altpart"))
      .map(_ - 1).get
    assert(sql(s"SELECT count(*) FROM gsql.main.pe VERSION AS OF $vEra1")
      .head().getLong(0) == 120L)
    // the evolved spec is visible to SHOW TBLPROPERTIES
    val props = sql("SHOW TBLPROPERTIES gsql.main.pe").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("partitionCols").contains("src"), props.toString)
    // relayout converges the files to the CURRENT spec when asked
    assert(snap.maintain(spark, s"$wh/main/pe", smallBytes = 1L,
      relayout = true).nonEmpty)
    assert(liveFiles("pe").forall(f =>
      f.contains("_graft_p_src=") && !f.contains("_graft_p_lang=")))
  }

  test("detail metadata relation: one-row DESCRIBE DETAIL with layout facts, zero data I/O") {
    wh
    sql("DROP TABLE IF EXISTS gsql.main.dt")
    sql("CREATE TABLE gsql.main.dt (id BIGINT, lang STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.dt SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END FROM range(0, 100)")
    sql("DELETE FROM gsql.main.dt WHERE id = 7") // dv debt visible in detail
    val d = sql("SELECT * FROM gsql.main.dt.detail")
    val r = d.head()
    assert(d.count() == 1)
    assert(r.getAs[Long]("n_rows") == 99L)
    assert(r.getAs[Int]("dv_files") == 1 && r.getAs[Long]("dv_rows") == 1L)
    assert(r.getAs[String]("stats_key") == "id")
    assert(r.getAs[String]("partition_cols") == "lang")
    assert(r.isNullAt(r.fieldIndex("declared_buckets")))
    assert(!r.getAs[Boolean]("declared_zorder"))
    // the relation is a LocalScan — the maintenance question opens no
    // data file
    assert(PlanWalk.executedNodes(d.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]))
    assert(PlanWalk.batchScans(d).isEmpty && PlanWalk.fileScans(d).isEmpty)
    // layout facts follow evolution: declare z on a fresh unpartitioned
    // table and read it back through SQL
    sql("DROP TABLE IF EXISTS gsql.main.dtz")
    sql("CREATE TABLE gsql.main.dtz (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('statsKey'='a', 'statsKey2'='b', 'zorder'='true')")
    sql("INSERT INTO gsql.main.dtz SELECT id, id * 2 FROM range(0, 10)")
    val rz = sql("SELECT declared_zorder, zordered_layout, partition_cols " +
      "FROM gsql.main.dtz.detail").head()
    assert(rz.getBoolean(0) && !rz.getBoolean(1) && rz.isNullAt(2))
  }

  test("bucket-count and z-order evolution: metadata-only ALTER, relayout converges") {
    wh
    val snap = graft.sources.SnapshotTable
    sql("DROP TABLE IF EXISTS gsql.main.be")
    // born UNDECLARED: plain files
    sql("CREATE TABLE gsql.main.be (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.be SELECT id, id * 3 FROM range(0, 200)")
    val root = s"$wh/main/be"
    val beforeAlter = liveFiles("be")
    // DECLARE buckets post-hoc: one metadata commit, zero data I/O
    sql("ALTER TABLE gsql.main.be SET TBLPROPERTIES ('buckets'='4')")
    assert(liveFiles("be") == beforeAlter, "declaration must move no file")
    val d0 = snap.describeDetail(spark, root)
    assert(d0.declaredBuckets.contains(4) && d0.bucketedLayout.isEmpty,
      "declared but old-era files keep the claim conservatively OFF")
    // new writes bucket at the declared count; the era mix still
    // refuses the claim until maintenance converges
    sql("INSERT INTO gsql.main.be SELECT id, id * 3 FROM range(200, 400)")
    assert(snap.describeDetail(spark, root).bucketedLayout.isEmpty)
    assert(snap.maintain(spark, root, smallBytes = 1L, relayout = true).nonEmpty)
    assert(snap.describeDetail(spark, root).bucketedLayout.contains(4))
    assert(sql("SELECT count(*) FROM gsql.main.be").head().getLong(0) == 400L)
    // CHANGE the count: same cycle at the new width
    sql("ALTER TABLE gsql.main.be SET TBLPROPERTIES ('buckets'='8')")
    assert(snap.maintain(spark, root, smallBytes = 1L, relayout = true).nonEmpty)
    assert(snap.describeDetail(spark, root).bucketedLayout.contains(8))
    // UN-DECLARE: relayout becomes a no-op (nothing declared)
    sql("ALTER TABLE gsql.main.be SET TBLPROPERTIES ('buckets'='')")
    assert(snap.describeDetail(spark, root).declaredBuckets.isEmpty)
    assert(snap.maintain(spark, root, smallBytes = 1L, relayout = true).isEmpty)
    // z-order toggles the same way (buckets now un-declared)
    sql("DROP TABLE IF EXISTS gsql.main.ze")
    sql("CREATE TABLE gsql.main.ze (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('statsKey'='a', 'statsKey2'='b')")
    sql("INSERT INTO gsql.main.ze SELECT /*+ REPARTITION(8) */ id % 32, id DIV 32 " +
      "FROM range(0, 1024)")
    val zroot = s"$wh/main/ze"
    sql("ALTER TABLE gsql.main.ze SET TBLPROPERTIES ('zorder'='true')")
    val zd = snap.describeDetail(spark, zroot)
    assert(zd.declaredZorder && !zd.zorderedLayout)
    assert(snap.maintain(spark, zroot, smallBytes = 1L, relayout = true).nonEmpty)
    assert(snap.describeDetail(spark, zroot).zorderedLayout)
    sql("ALTER TABLE gsql.main.ze SET TBLPROPERTIES ('zorder'='false')")
    assert(!snap.describeDetail(spark, zroot).declaredZorder)
    // refusals: bucket declaration on a z-declared table and vice versa
    sql("ALTER TABLE gsql.main.ze SET TBLPROPERTIES ('zorder'='true')")
    intercept[Exception] {
      sql("ALTER TABLE gsql.main.ze SET TBLPROPERTIES ('buckets'='4')")
    }
  }

  test("declared z-order: maintenance restores the interleave, both keys prune") {
    wh
    val snap = graft.sources.SnapshotTable
    sql("DROP TABLE IF EXISTS gsql.main.rl_z")
    sql("CREATE TABLE gsql.main.rl_z (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('statsKey'='a', 'statsKey2'='b', 'zorder'='true')")
    // a 64×64 grid, landed as PLAIN appends (appends never pay the
    // interleave — the OPTIMIZE ZORDER model), 16 files
    sql("INSERT INTO gsql.main.rl_z SELECT /*+ REPARTITION(16) */ " +
      "id % 64 AS a, id DIV 64 AS b FROM range(0, 4096)")
    val root = s"$wh/main/rl_z"
    val d0 = snap.describeDetail(spark, root)
    assert(d0.declaredZorder && !d0.zorderedLayout,
      "plain appends leave the declared z layout dissolved")
    // one scheduled cycle restores the declared interleave
    assert(snap.maintain(spark, root, smallBytes = 1L, relayout = true).nonEmpty)
    val d1 = snap.describeDetail(spark, root)
    assert(d1.zorderedLayout, "relayout must re-interleave")
    def keptOf(q: String): Int = {
      val df = sql(q)
      df.collect()
      PlanWalk.batchScans(df).map(_.scan)
        .collect { case g: GraftScan => g.keptFileCount }.max
    }
    val total = d1.nFiles
    assert(total >= 8, s"grid should land as many files, got $total")
    // point probes on EITHER key prune to at most half the files — the
    // property a hierarchical (primary-first) layout cannot give the
    // secondary key at all
    val keptA = keptOf("SELECT count(*) FROM gsql.main.rl_z WHERE a = 10")
    val keptB = keptOf("SELECT count(*) FROM gsql.main.rl_z WHERE b = 50")
    assert(keptA <= total / 2, s"primary probe kept $keptA of $total")
    assert(keptB <= total / 2, s"secondary probe kept $keptB of $total")
    // converged: nothing left to do
    assert(snap.maintain(spark, root, smallBytes = 1L, relayout = true).isEmpty)
  }

  test("declared layouts survive expireVersions-published checkpoints") {
    wh
    val snap = graft.sources.SnapshotTable
    // z-order: expiry publishes a shadow checkpoint for the retained
    // head; the checkpoint header must carry the declaration exactly
    // as commit() wrote it — the next commit resolves THROUGH the
    // checkpoint and would otherwise silently un-declare the layout
    sql("DROP TABLE IF EXISTS gsql.main.ck_z")
    sql("CREATE TABLE gsql.main.ck_z (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('statsKey'='a', 'statsKey2'='b', 'zorder'='true')")
    sql("INSERT INTO gsql.main.ck_z SELECT id % 32, id DIV 32 FROM range(0, 256)")
    sql("INSERT INTO gsql.main.ck_z SELECT id % 32, id DIV 32 FROM range(256, 512)")
    val zroot = s"$wh/main/ck_z"
    assert(snap.expireVersions(spark, zroot, keepLast = 1).nonEmpty)
    assert(snap.describeDetail(spark, zroot).declaredZorder,
      "the retention checkpoint must carry the z-order declaration")
    sql("INSERT INTO gsql.main.ck_z SELECT id % 32, id DIV 32 FROM range(512, 768)")
    assert(snap.describeDetail(spark, zroot).declaredZorder,
      "a commit resolving through the checkpoint must carry the declaration")
    assert(snap.maintain(spark, zroot, smallBytes = 1L, relayout = true).nonEmpty)
    assert(snap.describeDetail(spark, zroot).zorderedLayout)
    // PARTITIONED BY: same hazard — post-expiry inserts must keep
    // landing under partition directories and partitionsDf must work
    sql("DROP TABLE IF EXISTS gsql.main.ck_p")
    sql("CREATE TABLE gsql.main.ck_p (id BIGINT, lang STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.ck_p SELECT id, CASE WHEN id % 2 = 0 THEN 'en' " +
      "ELSE 'de' END FROM range(0, 100)")
    sql("INSERT INTO gsql.main.ck_p SELECT id, CASE WHEN id % 2 = 0 THEN 'en' " +
      "ELSE 'de' END FROM range(100, 200)")
    val proot = s"$wh/main/ck_p"
    assert(snap.expireVersions(spark, proot, keepLast = 1).nonEmpty)
    assert(snap.describeDetail(spark, proot).partitionCols == Seq("lang"),
      "the retention checkpoint must carry the partition declaration")
    sql("INSERT INTO gsql.main.ck_p SELECT id, 'fr' FROM range(200, 210)")
    assert(liveFiles("ck_p").filter(_.contains("_graft_p_lang=fr")).nonEmpty,
      "post-expiry inserts must still land under partition directories")
    assert(sql("SELECT count(*) FROM gsql.main.ck_p.partitions").head()
      .getLong(0) == 3L)
    // buckets: the declaration must survive the same cycle
    sql("DROP TABLE IF EXISTS gsql.main.ck_b")
    sql("CREATE TABLE gsql.main.ck_b (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='4')")
    sql("INSERT INTO gsql.main.ck_b SELECT id, id * 2 FROM range(0, 100)")
    sql("INSERT INTO gsql.main.ck_b SELECT id, id * 2 FROM range(100, 200)")
    val broot = s"$wh/main/ck_b"
    assert(snap.expireVersions(spark, broot, keepLast = 1).nonEmpty)
    assert(snap.describeDetail(spark, broot).declaredBuckets.contains(4),
      "the retention checkpoint must carry the bucket declaration")
    sql("INSERT INTO gsql.main.ck_b SELECT id, id * 2 FROM range(200, 300)")
    assert(snap.describeDetail(spark, broot).declaredBuckets.contains(4))
  }

  test("zorder restore: booleans independent of input parallelism (1/4/32)") {
    wh
    val snap = graft.sources.SnapshotTable
    for (parts <- Seq(1, 4, 32)) {
      val name = s"zp_$parts"
      sql(s"DROP TABLE IF EXISTS gsql.main.$name")
      sql(s"CREATE TABLE gsql.main.$name (a BIGINT, b BIGINT) " +
        "TBLPROPERTIES ('statsKey'='a', 'statsKey2'='b', 'zorder'='true')")
      // the append's own parallelism must be irrelevant to the restored
      // layout's pruning booleans: land the rows in exactly `parts`
      // files (1 = the degenerate single-file append the restore floor
      // exists for)
      sql(s"INSERT INTO gsql.main.$name SELECT /*+ REPARTITION($parts) */ " +
        "id % 64 AS a, id DIV 64 AS b FROM range(0, 2048)")
      val root = s"$wh/main/$name"
      assert(!snap.describeDetail(spark, root).zorderedLayout)
      assert(snap.maintain(spark, root, smallBytes = 1L, relayout = true).nonEmpty)
      val d = snap.describeDetail(spark, root)
      assert(d.zorderedLayout, s"parts=$parts: relayout must re-interleave")
      assert(d.nFiles > 1,
        s"parts=$parts: the restore must emit >1 file (got ${d.nFiles}) — " +
          "a one-file z-layout prunes nothing")
      def keptOf(q: String): Int = {
        val df = sql(q)
        df.collect()
        PlanWalk.batchScans(df).map(_.scan)
          .collect { case g: GraftScan => g.keptFileCount }.max
      }
      val keptA = keptOf(s"SELECT count(*) FROM gsql.main.$name WHERE a = 0")
      val keptB = keptOf(s"SELECT count(*) FROM gsql.main.$name WHERE b = 0")
      assert(keptA < d.nFiles, s"parts=$parts: primary kept $keptA of ${d.nFiles}")
      assert(keptB < d.nFiles, s"parts=$parts: secondary kept $keptB of ${d.nFiles}")
    }
  }

  test("string z-order: declared on a string primary, restored, both keys prune") {
    wh
    val snap = graft.sources.SnapshotTable
    sql("DROP TABLE IF EXISTS gsql.main.zs")
    sql("CREATE TABLE gsql.main.zs (fname STRING, idx BIGINT) " +
      "TBLPROPERTIES ('statsKey'='fname', 'statsKey2'='idx', 'zorder'='true')")
    // VARIABLE-LENGTH keys on purpose ('k0'…'k19' mix 2 and 3 chars):
    // the interleave's zero-padded byte prefix must order exactly like
    // the manifest's lexicographic binary min/max, or 'k2' would sort
    // before 'k19' in one order and after it in the other and the
    // z-rectangles would not line up with the pruning ranges
    sql("INSERT INTO gsql.main.zs SELECT /*+ REPARTITION(8) */ " +
      "concat('k', CAST(id % 20 AS STRING)) AS fname, id DIV 20 AS idx " +
      "FROM range(0, 2000)")
    val root = s"$wh/main/zs"
    assert(!snap.describeDetail(spark, root).zorderedLayout)
    assert(snap.maintain(spark, root, smallBytes = 1L, relayout = true).nonEmpty)
    val d = snap.describeDetail(spark, root)
    assert(d.zorderedLayout && d.nFiles > 1)
    def keptOf(q: String): Int = {
      val df = sql(q)
      df.collect()
      PlanWalk.batchScans(df).map(_.scan)
        .collect { case g: GraftScan => g.keptFileCount }.max
    }
    val keptS = keptOf("SELECT count(*) FROM gsql.main.zs WHERE fname = 'k7'")
    val keptI = keptOf("SELECT count(*) FROM gsql.main.zs WHERE idx = 0")
    assert(keptS < d.nFiles, s"string probe kept $keptS of ${d.nFiles}")
    assert(keptI < d.nFiles, s"int probe kept $keptI of ${d.nFiles}")
    // values round-trip exactly through the interleaved rewrite
    assert(sql("SELECT count(*), sum(idx) FROM gsql.main.zs").head()
      .getLong(0) == 2000L)
  }

  test("dv-position memo: repeated reads reuse positions, a new delete invalidates") {
    // the reader's position memo (GraftDvPositions) keys on the
    // sidecar dir a file's entry points at. The failure this pins: a STALE HIT —
    // a second delete repoints files to a NEW sidecar dir; if the
    // memo served the old positions, the first read after the second
    // delete would resurrect the newly-deleted rows (silent data
    // loss in reverse). Values, not mechanism: every read must be
    // exact before AND after each commit, twice in a row (the second
    // read of each state is the memo-hit path).
    val t = freshTable("t_dvmemo")
    sql(s"INSERT INTO $t SELECT id, concat('r', id) FROM range(400)")
    val root = s"$wh/main/t_dvmemo"
    import org.apache.spark.sql.functions.col
    // deleteWhere is ALWAYS a dv commit (SQL DELETE only dv-routes
    // filter-translatable predicates); the % shapes guarantee both
    // commits touch the same files, so #2 REPOINTS them
    graft.sources.SnapshotTable.deleteWhere(spark, root, col("id") % 10 === 0)
    def surviving(): Seq[Long] =
      sql(s"SELECT id FROM $t ORDER BY id").collect().map(_.getLong(0)).toSeq
    val after1 = (0L until 400L).filterNot(_ % 10 == 0)
    assert(surviving() == after1, "first read after delete #1")
    assert(surviving() == after1, "memo-hit read of the same state")
    graft.sources.SnapshotTable.deleteWhere(spark, root, col("id") % 7 === 3)
    val after2 = after1.filterNot(_ % 7 == 3)
    assert(surviving() == after2,
      "a stale memo hit would resurrect the second delete's rows")
    assert(surviving() == after2, "memo-hit read of the post-#2 state")
    // time travel back to the #1 state must still see #1's positions
    val v = graft.sources.SnapshotTable.versions(spark, s"$wh/main/t_dvmemo")
    val atV3 = sql(s"SELECT id FROM $t VERSION AS OF ${v(v.length - 2)} ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(atV3 == after1, "time travel reads its own version's dv set")
  }

  test("dynamic overwrite and streamed epochs into buckets write key-sorted files: SPJ is exact") {
    wh
    val tables = Seq("spj_ow", "spj_st", "spj_dim")
    (tables :+ "spj_src").foreach(t => sql(s"DROP TABLE IF EXISTS gsql.main.$t"))
    tables.foreach(t => sql(s"CREATE TABLE gsql.main.$t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsKey'='id', 'buckets'='4')"))
    sql("CREATE TABLE gsql.main.spj_src (id BIGINT, v STRING) TBLPROPERTIES ('statsKey'='id')")
    sql("INSERT INTO gsql.main.spj_dim SELECT id, concat('d', id) FROM range(0, 1000)")
    // ONE task holding every bucket, keys DESCENDING: only the write's
    // own clustering and sort can make each bucket file key-sorted
    val descending = "SELECT /*+ REPARTITION(1) */ id, CAST(id AS STRING) " +
      "FROM range(0, 1000) ORDER BY id DESC"
    sql(s"INSERT INTO gsql.main.spj_src $descending")
    assert(liveFiles("spj_src").size == 1)
    val keys = Seq("spark.sql.sources.partitionOverwriteMode",
      "spark.sql.sources.v2.bucketing.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "dynamic")
      sql(s"INSERT OVERWRITE gsql.main.spj_ow $descending")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-spj-st").toString
      spark.readStream.table("gsql.main.spj_src")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("gsql.main.spj_st").awaitTermination()
      spark.conf.set(keys(1), "true")
      spark.conf.set(keys(2), "-1")
      Seq("spj_ow", "spj_st").foreach { t =>
        assert(graft.sources.SnapshotTable.describeDetail(spark, s"$wh/main/$t")
          .bucketedLayout.contains(4), s"$t must keep the bucket layout")
        assert(liveFiles(t).size == 4, s"$t: one file per bucket, got ${liveFiles(t)}")
        val j = sql(s"SELECT a.id, a.v, b.v FROM gsql.main.$t a " +
          "JOIN gsql.main.spj_dim b ON a.id = b.id")
        val rows = j.collect()
        assert(rows.length == 1000,
          s"$t: join returned ${rows.length} rows\n${j.queryExecution.executedPlan}")
        assert(rows.forall(r => r.getString(1) == r.getLong(0).toString &&
          r.getString(2) == s"d${r.getLong(0)}"))
      }
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
