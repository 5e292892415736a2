package etlbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Pipeline
import graft.sources.SnapshotTable
import graft.vector.{Bm25, SnapshotRetrieval, VectorOps}

/** `serve`: the index is built in set-up; then a fixed seeded sequence
  * of cycles runs against it. Each cycle is a `maintain`, a small
  * upsert and a delete, then short reads (dense top-k through the
  * catalog's SQL, point lookups by the table API and by catalog SQL)
  * with one sparse BM25 and one hybrid search among them. Every read of
  * a cycle runs over what its two writes left behind.
  */
object Serve {
  val Key = "metadata.doc_id"
  val SetupReps = 3
  val HybridPool = 50
  val Table = "graft.bench.idx"
  /** Maintenance packs files below 8 MB; versions are expired and
    * vacuumed at once (one writer, no concurrent readers). */
  val SmallBytes: Long = 8L << 20

  private val VecSchema = new StructType()
    .add("vec_id", LongType).add("embedding", ArrayType(FloatType)).add("label", IntegerType)
    .add("batch", IntegerType)

  def run(h: Harness): Unit = {
    val spark = h.spark
    val work = h.args.work
    val input = h.args.input
    // parsed once: the upsert pool and every set-up repetition read them
    val docs = spark.read.schema(Ingest.DocSchema).json(s"$input/docs.jsonl").cache()
    val vecs = spark.read.schema(VecSchema).json(s"$input/vectors.jsonl").cache()
    val opsFile = Harness.readJson(s"$input/ops.json")
    val ops = opsFile.get("ops").elements().asScala.toIndexedSeq
    val warmup = opsFile.get("warmup").asInt()
    val k = opsFile.get("top_k").asInt()

    // the upsert pool's index rows, chunked and embedded once up front
    // so an upsert times only its commit
    docs.filter(col("batch") > 0).drop("batch").repartition(h.cores)
      .write.parquet(s"$work/pool/documents.parquet")
    vecs.filter(col("batch") > 0).drop("batch")
      .write.parquet(s"$work/pool/embeddings.parquet")
    val poolBatch = docs.filter(col("batch") > 0).select("doc_id", "batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val poolIdx = Pipeline.buildIndex(spark, s"$work/pool")
    val indexSchema = poolIdx.schema
    val poolRows = poolIdx.collect().groupBy(r => poolBatch(r.getStruct(3).getLong(0)))

    // set-up: load the corpus and create the index in the catalog's warehouse
    val root = s"$work/catalog/bench/idx"
    (0 until SetupReps).foreach { rep =>
      val dir = s"$work/base$rep"
      val tableRoot = if (rep == SetupReps - 1) root else s"$dir/idx"
      h.setup {
        docs.filter(col("batch") === 0).drop("batch").repartition(h.cores)
          .write.parquet(s"$dir/documents.parquet")
        vecs.filter(col("batch") === 0).drop("batch").write.parquet(s"$dir/embeddings.parquet")
        SnapshotTable.create(spark, tableRoot, Pipeline.buildIndex(spark, dir),
          statsKey = Some(Key))
      }
    }
    val model = new ServeModel
    model.upsert(Pipeline.buildIndex(spark, s"$work/base${SetupReps - 1}").collect().toSeq.map(toRow))
    h.info("base_rows") = model.size

    var version = SnapshotTable.versions(spark, root).last
    def advanced(v: Int): Boolean = { val ok = v > version; version = math.max(version, v); ok }
    val counts = mutable.LinkedHashMap.empty[String, Int]

    def corpus(withVec: Boolean): DataFrame = {
      val t = SnapshotTable.read(spark, root)
      val cols = Seq((col(Key) * 1000 + col("metadata.chunk_idx")).as("doc_id"), col("text")) ++
        (if (withVec) Seq(VectorOps.asDouble(col("dense")).as("v")) else Nil)
      t.select(cols: _*)
    }
    def ranked(rows: Array[Row]): Seq[(Long, Double)] =
      rows.toSeq.map(r => r.getLong(0) -> r.getDouble(1))

    def execute(o: JsonNode, phase: String): Unit = {
      val kind = o.get("kind").asText()
      counts(kind) = counts.getOrElse(kind, 0) + 1
      kind match {
        case "dense" =>
          val q = doubles(o.get("vec"))
          val qv = q.map(x => java.lang.Double.toString(x) + "D").mkString("array(", ",", ")")
          h.op(kind, phase) {
            val df = h.layer("catalog") {
              spark.sql(s"SELECT id, graft.bench.cosine_sim(dense, $qv) AS score " +
                s"FROM $Table ORDER BY score DESC, id LIMIT $k")
            }
            h.layer("vector.search") { df.collect() }
          } { rows =>
            h.count("vector.search.results", rows.length)
            ServeModel.sameRanking(rows.toSeq.map(r => r.getString(0) -> r.getDouble(1)),
              model.dense(q, k), 1e-9)
          }
        case "sparse" =>
          val terms = strings(o.get("terms"))
          h.op(kind, phase) {
            val c = h.layer("sources.read") { corpus(withVec = false) }
            h.layer("vector.search") { Bm25.bm25Over(c, terms, k).select("doc_id", "score").collect() }
          } { rows =>
            h.count("vector.search.results", rows.length)
            ServeModel.sameRanking(ranked(rows), model.bm25(terms, k), 2e-6)
          }
        case "hybrid" =>
          val q = doubles(o.get("vec"))
          val terms = strings(o.get("terms"))
          h.op(kind, phase) {
            val c = h.layer("sources.read") { corpus(withVec = true) }
            h.layer("vector.search") {
              SnapshotRetrieval.hybridOver(c, q, terms, k, HybridPool).select("doc_id", "rrf").collect()
            }
          } { rows =>
            h.count("vector.search.results", rows.length)
            ServeModel.sameRanking(ranked(rows), model.hybrid(q, terms, k, HybridPool), 2e-6)
          }
        case "lookup" =>
          val keys = longs(o.get("keys"))
          h.op(kind, phase) {
            h.layer("sources.read") {
              SnapshotTable.readKeys(spark, root, Key, keys.toArray)
                .filter(col(Key).isin(keys: _*)).select("id").collect()
            }
          } { rows => rows.map(_.getString(0)).sorted.toSeq == model.idsOf(keys) }
          if (h.tracing) h.harness {
            h.count("sources.read.files_kept",
              SnapshotTable.readKeys(spark, root, Key, keys.toArray).inputFiles.length)
            h.count("sources.read.files_total", SnapshotTable.describeDetail(spark, root).nFiles)
          }
        case "lookup_sql" =>
          val keys = longs(o.get("keys"))
          h.op(kind, phase) {
            val df = h.layer("catalog") {
              spark.sql(s"SELECT id FROM $Table WHERE $Key IN (${keys.mkString(",")})")
            }
            h.layer("sources.read") { df.collect() }
          } { rows => rows.map(_.getString(0)).sorted.toSeq == model.idsOf(keys) }
        case "upsert" =>
          val batch = poolRows(o.get("batch").asInt()).toSeq
          val df = spark.createDataFrame(batch.asJava, indexSchema)
          val before = if (h.tracing) h.harness(Harness.tableFiles(spark, root)) else Set.empty[String]
          h.op(kind, phase) {
            h.layer("sources.commit") { SnapshotTable.mergeOnRead(spark, root, df, Key) }
          }(advanced)
          model.upsert(batch.map(toRow))
          if (h.tracing) h.harness {
            h.count("sources.commit.files_rewritten", before.diff(Harness.tableFiles(spark, root)).size)
            h.count("sources.commit.payload_bytes", batch.map(toRow).map(r =>
              r.text.getBytes("UTF-8").length + 4.0 * r.vec.length).sum)
          }
        case "delete" =>
          val doc = o.get("doc").asLong()
          val before = if (h.tracing) h.harness(Harness.tableFiles(spark, root)) else Set.empty[String]
          h.op(kind, phase) {
            h.layer("sources.commit") { SnapshotTable.deleteWhere(spark, root, col(Key) === doc) }
          }(_.exists(advanced))
          model.delete(doc)
          if (h.tracing) h.harness {
            h.count("sources.commit.files_rewritten", before.diff(Harness.tableFiles(spark, root)).size)
          }
        case "maintain" =>
          h.op(kind, phase) {
            h.layer("sources.maintain") {
              SnapshotTable.maintain(spark, root, SmallBytes, minAgeMs = 0L)
            }
          }(_.forall(advanced))
          if (h.tracing) h.harness {
            val d = SnapshotTable.describeDetail(spark, root)
            h.gauge("sources.maintain.space_amp", Harness.dirBytes(root).toDouble / d.totalBytes)
            h.gauge("sources.maintain.live_files", d.nFiles)
          }
      }
    }

    h.warmupStarts()
    ops.take(warmup).foreach(execute(_, "warmup"))
    var next = warmup
    var tracing = false
    h.timed { phase =>
      // the traced phase starts at a cycle's first operation (maintain),
      // so its window holds the cycle's writes as well as its reads
      if (phase == "traced" && !tracing) {
        tracing = true
        while (next < ops.size && ops(next).get("kind").asText() != "maintain") next += 1
      }
      if (next >= ops.size) false
      else { execute(ops(next), phase); next += 1; true }
    }
    h.info("ops_by_kind") = counts.toMap
    h.info("live_rows") = model.size

    // versions only ever increase, and the head still equals the model
    h.harness {
      val hist = SnapshotTable.history(spark, root).map(_.version)
      if (hist.zip(hist.drop(1)).exists { case (a, b) => b <= a })
        h.fail(1, s"history versions do not increase: $hist")
      val live = SnapshotTable.read(spark, root).select("id").collect().map(_.getString(0)).sorted.toSeq
      if (live != model.idsOf(model.docs)) h.fail(1, s"head has ${live.size} rows, model ${model.size}")
    }
  }

  private def toRow(r: Row): ServeModel.IndexRow = {
    val md = r.getStruct(3)
    ServeModel.IndexRow(r.getString(0), md.getLong(0), md.getLong(1), r.getString(1),
      r.getSeq[Float](2).toArray)
  }

  private def doubles(n: JsonNode): Array[Double] = n.elements().asScala.map(_.asDouble()).toArray
  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
}
