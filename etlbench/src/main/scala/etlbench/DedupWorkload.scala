package etlbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.{Pipeline, Tables}
import graft.text.TextFunctions
import graft.vector.Dedup

/** `dedup`: repeated whole-corpus cleanup passes,
  * `Pipeline.droppedDocIds` (exact groups + MinHash/LSH candidates +
  * Jaccard-verified cluster representatives), over a corpus with
  * planted exact and near duplicates. No index is built and nothing is
  * committed.
  */
object DedupWorkload {
  val WarmupPasses = 3
  val SetupReps = 3
  /** A pass that catches fewer planted near duplicates than this fails.
    * A planted copy differs in 1% of its words (at least one), so it
    * shares about 94% of its shingles with its original (85% for the
    * shortest documents); the engine's 4 bands of 2 MinHashes catch
    * such a pair with probability above 0.99. */
  val RecallFloor = 0.9

  def run(h: Harness): Unit = {
    val spark = h.spark
    val truth = Harness.readJson(s"${h.args.input}/truth.json")
    def pairs(f: String): Seq[(Long, Long)] =
      truth.get(f).elements().asScala.map(p => (p.get(0).asLong(), p.get(1).asLong())).toSeq
    val exact = pairs("exact")
    val near = pairs("near")
    val nDocs = truth.get("docs").asLong()
    val originals = (exact ++ near).map(_._2).toSet
    val copies = (exact ++ near).map(_._1).toSet
    h.info("corpus_docs") = nDocs

    // parsed once, outside set-up: reading the generator's files is
    // harness work
    val raw = spark.read.schema(Ingest.DocSchema)
      .json(s"${h.args.input}/docs.jsonl").drop("batch").cache()
    raw.count()
    // set-up: the engine's text layer normalizes the raw corpus into the
    // documents table the cleanup pass reads (one file per core, as
    // ingest lands its batches); the pass's input is then the normalized
    // text, which the generator already wrote in normal form
    val dir = (0 until SetupReps).map { rep =>
      h.setup {
        val d = s"${h.args.work}/corpus$rep"
        raw.withColumn("text", TextFunctions.normalize(col("text"))).repartition(h.cores)
          .write.parquet(s"$d/documents.parquet")
        Tables.documents(spark, d)
        d
      }
    }.last
    raw.unpersist()

    var recall = 0.0
    def check(dropped: Set[Long]): Boolean = {
      val missedExact = exact.count(p => !dropped(p._1))
      val droppedReps = originals.count(dropped)
      val strays = dropped.count(id => !copies(id))
      recall = near.count(p => dropped(p._1)).toDouble / near.size
      val ok = missedExact == 0 && droppedReps == 0 && strays == 0 && recall >= RecallFloor
      if (!ok) Console.err.println(s"[etlbench] dedup pass: $missedExact exact copies kept, " +
        s"$droppedReps representatives dropped, $strays unplanted docs dropped, recall $recall")
      ok
    }

    def pass(phase: String): Boolean = {
      h.op("pass", phase) {
        if (h.tracing) traceLayers(h, dir)
        h.layer("vector.dedup") {
          Pipeline.droppedDocIds(spark, dir).collect().map(_.getLong(0)).toSet
        }
      }(check)
      true
    }

    h.warmupStarts()
    (0 until WarmupPasses).foreach(_ => pass("warmup"))
    h.timed(pass)
    h.info("dedup_recall") = recall
  }

  /** Traced runs only: the pass's dedup operators, each forced on its
    * own, plus the candidate and verified pair counts. */
  private def traceLayers(h: Harness, dir: String): Unit = {
    val spark = h.spark
    h.layer("vector.dedup") {
      Dedup.exactDupGroups(spark, dir).write.format("noop").mode("overwrite").save()
    }
    h.count("vector.dedup.candidates", h.layer("vector.dedup") {
      Dedup.minhashCandidatePairs(spark, dir).select("id_a", "id_b").distinct().count()
    })
    h.count("vector.dedup.verified", h.layer("vector.dedup") {
      Dedup.jaccardOnCandidates(spark, dir).count()
    })
    h.layer("vector.dedup") {
      Dedup.clusterReps(spark, dir).write.format("noop").mode("overwrite").save()
    }
  }
}
