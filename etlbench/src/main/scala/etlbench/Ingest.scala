package etlbench

import scala.collection.mutable

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Pipeline, Tables}
import graft.sources.SnapshotTable
import graft.text.TextFunctions
import graft.vector.HashingEmbedder

/** `ingest`: batches of new and re-processed documents land one after
  * another. Each batch is chunked, embedded with the hashing embedder
  * and merged on `metadata.doc_id` into a growing index table; its
  * latency runs from the batch landing until the merge commit makes it
  * searchable. No search and no dedup run here.
  */
object Ingest {
  val Dims = 64
  val Key = "metadata.doc_id"
  /** The engine's default splitter: fixed 200-char windows, overlap 50. */
  val Stride = 150
  val WarmupBatches = 2
  val SetupReps = 3
  private val cfg = Pipeline.EtlConfig(embedder = "hashing")

  val DocSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("batch", IntegerType)
    .add("lang", StringType).add("source", StringType).add("n_chars", LongType)

  /** Chunks the default splitter emits for a document already in normal
    * form (the generator writes only such text). */
  def expectedChunks(text: String): Int =
    if (text.isEmpty) 0 else (text.length - 1) / Stride + 1

  def run(h: Harness): Unit = {
    val spark = h.spark
    val work = h.args.work
    // parsed once: the batch layout and every set-up repetition read it
    val docs = spark.read.schema(DocSchema).json(s"${h.args.input}/docs.jsonl").cache()
    val all = docs.select("doc_id", "text", "batch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val batches = all.groupBy(_._3).map { case (b, rs) => b -> rs.map(r => (r._1, r._2)) }
    val nBatches = batches.keys.max
    // every landing batch's input directory, from one partitioned write
    docs.filter(col("batch") > 0).drop("lang", "source").repartition(h.cores)
      .write.partitionBy("batch").parquet(s"$work/staged")
    Harness.splitPartitions(s"$work/staged", s"$work/batches", "documents")

    // set-up: load the seed batch and create the index from it
    h.info("docs_per_batch") = batches(1).length
    val root = (0 until SetupReps).map { rep =>
      h.setup {
        val dir = s"$work/setup$rep"
        docs.filter(col("batch") === 0).drop("batch").repartition(h.cores)
          .write.parquet(s"$dir/b0/documents.parquet")
        SnapshotTable.create(spark, s"$dir/index",
          Pipeline.buildIndex(spark, s"$dir/b0", cfg), statsKey = Some(Key))
        s"$dir/index"
      }
    }.last

    // model: each document's latest text and the batch that wrote it
    val latest = mutable.HashMap.empty[Long, (String, Int)]
    batches(0).foreach { case (id, t) => latest(id) = (t, 0) }
    var version = SnapshotTable.versions(spark, root).last
    var next = 1

    def land(phase: String): Boolean =
      if (next > nBatches) false
      else {
        val b = next
        val dir = s"$work/batches/$b"
        val before = if (h.tracing) h.harness(Harness.tableFiles(spark, root)) else Set.empty[String]
        h.op("batch", phase) {
          if (h.tracing) materializeLayers(h, dir, batches(b).length)
          val idx = h.layer("vector.embed") { Pipeline.buildIndex(spark, dir, cfg) }
          h.layer("sources.commit") { SnapshotTable.merge(spark, root, idx, Key) }
        } { v =>
          val ok = v > version
          version = v
          ok
        }
        if (h.tracing) h.harness {
          h.count("sources.commit.files_rewritten", before.diff(Harness.tableFiles(spark, root)).size)
        }
        batches(b).foreach { case (id, t) => latest(id) = (t, b) }
        next += 1
        true
      }

    h.warmupStarts()
    (0 until WarmupBatches).foreach(_ => land("warmup"))
    h.timed(land)
    h.info("batches_landed") = next - 1
    h.harness(check(h, root, latest.toMap))
  }

  /** Traced runs only: the lazy text, chunk and embed stages of one
    * batch, each forced on its own to a noop sink so their work is
    * attributed to their layer. */
  private def materializeLayers(h: Harness, dir: String, nDocs: Int): Unit = {
    val spark = h.spark
    val docs = h.layer("text") {
      val d = Tables.documents(spark, dir)
      d.select(TextFunctions.normalize(col("text")), TextFunctions.fingerprint(col("text")))
        .write.format("noop").mode("overwrite").save()
      d
    }
    h.layer("chunk") {
      val obs = Observation("chunks")
      Pipeline.buildChunks(spark, dir, cfg)
        .observe(obs, count(lit(1)).as("n"), sum(length(col("chunk"))).as("chars"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      val n = m("n").asInstanceOf[Long].toDouble
      h.count("chunk.chunks", n)
      h.count("chunk.docs", nDocs)
      // the merge's payload: chunk text plus one float vector per chunk
      h.count("sources.commit.payload_bytes",
        Option(m("chars")).fold(0.0)(_.asInstanceOf[Long].toDouble) + n * Dims * 4)
    }
    h.layer("vector.embed") {
      HashingEmbedder.embed(spark, docs, HashingEmbedder.train(spark, docs))
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** The final index against the model: every live document has exactly
    * its latest text's closed-form chunk count with distinct ids (so no
    * stale or duplicated chunk of a re-processed document remains), and
    * every row carries a 64-dim vector. Ids embed the document id, so
    * per-document distinctness is global distinctness. A mismatch fails
    * the batch that last wrote the document. */
  private def check(h: Harness, root: String, latest: Map[Long, (String, Int)]): Unit = {
    val perDoc = SnapshotTable.read(h.spark, root).groupBy(col(Key).as("d"))
      .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("ids"),
        max(col("metadata.chunk_idx")).as("mx"),
        sum(when(col("dense").isNull || size(col("dense")) =!= Dims, 1).otherwise(0)).as("bad"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val badBatches = mutable.Set.empty[Int]
    latest.foreach { case (id, (text, b)) =>
      val n = expectedChunks(text).toLong
      perDoc.get(id) match {
        case Some((`n`, `n`, mx, 0L)) if mx == n - 1 => ()
        case got =>
          badBatches += b
          if (badBatches.size <= 3) Console.err.println(
            s"[etlbench] doc $id (batch $b): expected $n chunks, got $got")
      }
    }
    val stray = perDoc.keySet.diff(latest.keySet)
    if (badBatches.nonEmpty) h.fail(badBatches.size, s"${badBatches.size} batches left wrong chunks")
    if (stray.nonEmpty) h.fail(1, s"${stray.size} documents in the index that never landed")
    h.info("index_rows") = perDoc.values.map(_._1).sum
  }
}
