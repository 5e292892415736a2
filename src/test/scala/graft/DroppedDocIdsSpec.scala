package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.text.TextFunctions
import graft.vector.Dedup

/** Id-set pin for [[Pipeline.droppedDocIds]], which reads the corpus
  * once into a per-document (doc_id, fp, sig) frame, against the
  * composition it replaced (the exact-group join plus
  * [[Dedup.clusterReps]]' non-representatives), kept below as the
  * reference model. Corpora: the sf corpus, a generated one with
  * planted exact and near copies, null and empty texts, an exact copy
  * inside a near-dup cluster, and band buckets past the bucket cap. */
class DroppedDocIdsSpec extends SparkSpec {

  private def reference(dir: String): DataFrame =
    exactReference(dir).unionByName(Dedup.clusterReps(spark, dir)
      .filter(!col("keep"))
      .select(col("doc_id"))).distinct()

  private def exactReference(dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .join(Dedup.exactDupGroups(spark, dir), Seq("fp"))
      .filter(col("doc_id") =!= col("keep_doc_id"))
      .select(col("doc_id"))

  /** [[reference]] at another banding: the cluster reps' composition
    * (candidate pairs at that banding, verified, label-propagated)
    * with its non-representatives read off the labels. */
  private def referenceAt(dir: String, numHashes: Int, bandSize: Int): DataFrame = {
    val edges = Dedup.verifiedPairs(spark, dir,
      Dedup.minhashCandidatePairs(spark, dir, numHashes, bandSize), 0.5)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    exactReference(dir).unionByName(graft.geom.ConnectedComponents
      .labelPropagation(spark, edges)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))).distinct()
  }

  /** The ids of `df`, computed under a scope of its own that is drained
    * afterwards, so no pass reuses another pass's cached frames. */
  private def ids(df: => DataFrame): Set[Long] = {
    val scope = new CacheScope
    try CacheScope.withScope(scope)(df.collect().map(_.getLong(0)).toSet)
    finally scope.drain()
  }

  private def corpus(docs: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dropped").toString
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map { case (id, t) => Row(id, t) }: _*),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType))))
      .repartition(3)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private val vocab = (0 until 400).map(i => s"w$i")

  private def text(rnd: scala.util.Random, words: Int): String =
    Seq.fill(words)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  /** `t` with its `k`-th word replaced by a word outside the vocab. */
  private def variant(t: String, k: Int): String = {
    val ws = t.split(" ")
    ws(k % ws.length) = s"x$k"
    ws.mkString(" ")
  }

  private def assertSame(dir: String): Set[Long] = {
    val want = ids(reference(dir))
    val got = ids(Pipeline.droppedDocIds(spark, dir))
    assert(got == want, s"missing=${(want -- got).toSeq.sorted.take(10)} " +
      s"extra=${(got -- want).toSeq.sorted.take(10)}")
    got
  }

  test("sf corpus: same ids as the exact-group join plus the cluster reps") {
    assert(assertSame(sf).nonEmpty)
  }

  // 300 generated documents plus 20 exact copies, which differ only in
  // case and punctuation (the fingerprint folds both away), and 20 near
  // copies, which change one word of 30 or more
  private val base = {
    val rnd = new scala.util.Random(7)
    (0L until 300L).map(i => i -> text(rnd, 15 + rnd.nextInt(45)))
  }
  private val exactCopies =
    base.take(20).map { case (i, t) => (1000L + i) -> (t.toUpperCase + "!") }
  private val nearCopies = base.drop(20).filter(_._2.split(" ").length >= 30).take(20)
    .map { case (i, t) => (2000L + i) -> variant(t, i.toInt) }
  private lazy val planted = corpus(base ++ exactCopies ++ nearCopies)

  test("generated corpus with planted exact and near copies") {
    val got = assertSame(planted)
    assert(exactCopies.map(_._1).toSet.subsetOf(got))
    assert(nearCopies.count(p => got(p._1)) >= nearCopies.size / 2,
      "the near copies must be found")
  }

  test("null-text and empty-text documents") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 60L).map(i => i -> text(rnd, 20 + rnd.nextInt(20)))
    val odd = Seq(100L -> null, 101L -> null, 102L -> "", 103L -> "", 104L -> " ",
      105L -> "!!", 106L -> null, 107L -> base.head._2)
    val got = assertSame(corpus(base ++ odd))
    // a null fingerprint never groups; the empty fingerprints do
    assert(!got(100L) && !got(101L) && !got(106L))
    assert(got(103L) && got(107L))
  }

  test("an exact copy that is also inside a near-dup cluster is dropped once") {
    val rnd = new scala.util.Random(13)
    val base = (0L until 40L).map(i => i -> text(rnd, 40))
    val (id, t) = base(5)
    val docs = base ++ Seq(500L -> t, 501L -> variant(t, 3), 502L -> variant(t, 30))
    val dir = corpus(docs)
    val clustered = ids(Dedup.clusterReps(spark, dir).select(col("doc_id")))
    val got = assertSame(dir)
    assert(Set(500L, 501L, 502L).subsetOf(got) && !got(id))
    assert(Set(id, 500L, 501L, 502L).subsetOf(clustered),
      "the exact copy must sit in the near-dup cluster for this case to bite")
  }

  test("band buckets past maxBucket") {
    val rnd = new scala.util.Random(17)
    val base = (0L until 50L).map(i => i -> text(rnd, 40))
    // 70 exact copies of one text and 70 one-word variants of another:
    // both fill band buckets beyond the 64-document cap
    val copies = (0 until 70).map(k => (3000L + k) -> base(1)._2)
    val variants = (0 until 70).map(k => (4000L + k) -> variant(base(2)._2, k))
    val dir = corpus(base ++ copies ++ variants)
    assert(Dedup.droppedBuckets(spark, dir).count() > 0, "no bucket went past the cap")
    val got = assertSame(dir)
    assert(copies.map(_._1).toSet.subsetOf(got))
  }

  test("a non-default banding drops the ids of that banding") {
    // bands of 4 find fewer near copies than the default bands of 2
    // on this corpus, so a pass that ignored the config would differ
    val cfg = Pipeline.EtlConfig(minhashHashes = 8, minhashBandSize = 4)
    val want = ids(referenceAt(planted, 8, 4))
    assert(want != ids(reference(planted)), "the banding must matter on this corpus")
    val got = ids(Pipeline.droppedDocIds(spark, planted, cfg))
    assert(got == want, s"missing=${(want -- got).toSeq.sorted.take(10)} " +
      s"extra=${(got -- want).toSeq.sorted.take(10)}")
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = PlanWalk.executedNodes(p).flatMap {
    case i: InMemoryTableScanExec => i +: nodes(i.relation.cachedPlan)
    case other => Seq(other)
  }

  /** Every executed-plan node of every query `body` runs, cached
    * frames' plans included. */
  private def executedNodesOf(body: => Unit): Seq[SparkPlan] = {
    val done = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = done.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    done.toArray(Array.empty[QueryExecution]).toSeq.flatMap(qe => nodes(qe.executedPlan))
  }

  test("cluster reps range-partition only for their doc_id order") {
    val ranges = executedNodesOf(ids(Dedup.clusterReps(spark, planted)
      .select(col("doc_id")))).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case r: RangePartitioning => r.ordering.map(_.child.sql).mkString(",") }
    assert(ranges.nonEmpty && ranges.forall(_ == "doc_id"), ranges.mkString("; "))
  }

  test("the pass scans the documents table at most twice") {
    // distinct scan nodes over the documents table in every plan the
    // body executes; a cached frame's scan is one node however many
    // plans read the cache
    def documentScans(body: => Set[Long]): Int =
      executedNodesOf(body).collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.getName == "documents.parquet") => f
      }.map(System.identityHashCode).distinct.size
    // a corpus with exact copies: on one without, AQE drops the empty
    // exact-group join and its scans from the reference's final plan
    val old = documentScans(ids(reference(planted)))
    val now = documentScans(ids(Pipeline.droppedDocIds(spark, planted)))
    assert(old > 2, s"the reference composition scans $old times; the count must see them")
    assert(now <= 2, s"the pass scanned the documents table $now times")
  }
}
