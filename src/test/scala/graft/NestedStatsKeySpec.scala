package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct}

import graft.catalog.GraftCatalog
import graft.sources.SnapshotTable

/** A table keyed on a NESTED field (`metadata.doc_id`, the shape of the
  * pipeline's index table) gets per-file key ranges from every writer:
  * the plain create, the partitioned create, and the SQL row-level and
  * dynamic-overwrite writes. After each, every live entry carries
  * min/max, and a point read of one key keeps 1 file — through
  * `readKeys` and through the catalog's SQL scan alike. */
class NestedStatsKeySpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-nestedkey").toString
    spark.conf.set("spark.sql.catalog.gnk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gnk.warehouse", dir)
    dir
  }

  /** 40 documents, 10 per lang; lang follows the id range, so a file
    * that holds one lang holds one id range. */
  private def docs: DataFrame =
    (0L until 40L).map(i => (i, s"l${i / 10}", s"text $i")).toDF("id", "lang", "text")
      .select(struct(col("id").as("doc_id"), col("lang").as("src")).as("metadata"),
        col("lang"), col("text"))

  private def everyEntryHasStats(root: String, step: String): Unit = {
    val files = SnapshotTable.filesDf(spark, root).collect()
    assert(files.nonEmpty, step)
    files.foreach { r =>
      assert(!r.isNullAt(3) && !r.isNullAt(4),
        s"$step: ${r.getString(0)} rows=${r.get(1)} min=${r.get(3)} max=${r.get(4)}")
    }
  }

  /** The files a key point read keeps, after checking it reads the
    * document back exactly once. */
  private def keptFor(root: String, id: Long): Int = {
    val q = SnapshotTable.readKeys(spark, root, "metadata.doc_id", Array(id))
    assert(q.filter(col("metadata.doc_id") === id).count() == 1,
      s"doc $id must read back exactly once")
    q.inputFiles.length
  }

  /** The files the catalog's scan keeps for `WHERE metadata.doc_id =
    * id`, after checking the query returns the document exactly once
    * (the row filter stays above the scan). */
  private def sqlKeptFor(t: String, id: Long): Int = {
    val q = spark.sql(s"SELECT text FROM $t WHERE metadata.doc_id = $id")
    assert(q.collect().length == 1, s"doc $id must read back exactly once through $t")
    val kept = PlanWalk.batchScans(q).map(_.scan)
      .collect { case g: graft.catalog.GraftScan => g.keptFileCount }
    assert(kept.nonEmpty, s"expected a GraftScan:\n${q.queryExecution.executedPlan}")
    kept.max
  }

  private def check(root: String, t: String, step: String, probes: Long*): Unit = {
    everyEntryHasStats(root, step)
    probes.foreach { id =>
      assert(keptFor(root, id) == 1, s"$step: point probe on doc $id")
      assert(sqlKeptFor(t, id) == 1, s"$step: SQL point probe on doc $id")
    }
  }

  test("plain create, SQL UPDATE and MERGE INTO record nested-key stats") {
    val root = s"$wh/main/t_plain"
    val t = "gnk.main.t_plain"
    SnapshotTable.create(spark, root,
      docs.repartitionByRange(4, col("metadata.doc_id")),
      statsKey = Some("metadata.doc_id"))
    assert(SnapshotTable.filesDf(spark, root).count() == 4)
    check(root, t, "create", 3L, 25L)
    spark.sql(s"UPDATE $t SET text = 'updated' WHERE metadata.doc_id = 3")
    check(root, t, "UPDATE", 3L, 25L)
    spark.sql(s"""MERGE INTO $t tgt
      USING (SELECT named_struct('doc_id', 27L, 'src', 'l2') AS metadata,
                    'l2' AS lang, 'merged' AS text) src
      ON tgt.metadata.doc_id = src.metadata.doc_id
      WHEN MATCHED THEN UPDATE SET text = src.text""")
    check(root, t, "MERGE INTO", 3L, 27L, 12L)
    assert(spark.sql(s"SELECT text FROM $t WHERE metadata.doc_id IN (3, 27) " +
      "ORDER BY metadata.doc_id").as[String].collect().toSeq == Seq("updated", "merged"))
  }

  test("partitioned create and dynamic INSERT OVERWRITE record nested-key stats") {
    val root = s"$wh/main/t_part"
    val t = "gnk.main.t_part"
    SnapshotTable.create(spark, root, docs.coalesce(1),
      statsKey = Some("metadata.doc_id"), partitionCols = Seq("lang"))
    assert(SnapshotTable.filesDf(spark, root).count() == 4)
    check(root, t, "partitioned create", 3L, 25L)
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql(s"INSERT OVERWRITE $t SELECT metadata, lang, " +
      s"concat(text, ' v2') FROM $t WHERE lang = 'l1'")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    check(root, t, "dynamic INSERT OVERWRITE", 3L, 15L, 25L)
    assert(spark.sql(s"SELECT text FROM $t WHERE metadata.doc_id = 15")
      .as[String].head() == "text 15 v2")
    assert(spark.sql(s"SELECT count(*) FROM $t").as[Long].head() == 40L)
  }
}
