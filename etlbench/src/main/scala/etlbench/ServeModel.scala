package etlbench

import scala.collection.mutable

/** An in-harness brute-force model of the serve index's live rows. It
  * scores every live row with the engine's formulas and tie rules
  * (score descending, then key ascending), independently of the
  * engine's table read path, and is the reference every serve result
  * is checked against.
  */
final class ServeModel {
  import ServeModel._

  private val rows = mutable.HashMap.empty[String, IndexRow]
  private val byDoc = mutable.HashMap.empty[Long, Set[String]]

  def size: Int = rows.size
  def docs: Seq[Long] = byDoc.keys.toSeq

  /** Delete-then-add by document, the index's merge contract. */
  def upsert(batch: Seq[IndexRow]): Unit = {
    batch.map(_.doc).distinct.foreach(delete)
    batch.foreach { r =>
      rows(r.id) = r
      byDoc(r.doc) = byDoc.getOrElse(r.doc, Set.empty) + r.id
    }
  }

  def delete(doc: Long): Unit =
    byDoc.remove(doc).foreach(_.foreach(rows.remove))

  def idsOf(docs: Seq[Long]): Seq[String] =
    docs.flatMap(d => byDoc.getOrElse(d, Set.empty)).sorted

  /** `cosine_sim` (catalog scalar): float components widened to double,
    * one sequential loop, no rounding. Key: the row id. */
  def dense(q: Array[Double], k: Int): Ranked[String] = {
    val all = rows.values.toSeq.map(r => r.id -> cosineSim(r.vec, q))
    Ranked(top(all, k), all.toMap)
  }

  /** `Bm25.bm25Over` over the live rows keyed by [[IndexRow.key]]. */
  def bm25(terms: Seq[String], k: Int): Ranked[Long] = {
    val all = bm25All(terms)
    Ranked(top(all, k), all.toMap)
  }

  /** `SnapshotRetrieval.hybridOver`: a BM25 pool and a rounded-cosine
    * pool, each ranked, fused by reciprocal rank (60 + rank). */
  def hybrid(q: Array[Double], terms: Seq[String], k: Int, pool: Int): Ranked[Long] = {
    val sparse = top(bm25All(terms), pool).map(_._1).zipWithIndex.toMap
    val qn = l2(q)
    val denseScored = rows.values.toSeq.map(r => r.key -> round6(dot(r.vec, q) / (l2f(r.vec) * qn)))
    val densePool = top(denseScored, pool).map(_._1).zipWithIndex.toMap
    val fused = (sparse.keySet ++ densePool.keySet).toSeq.map { key =>
      key -> round6(sparse.get(key).fold(0.0)(r => 1.0 / (60 + r + 1)) +
        densePool.get(key).fold(0.0)(r => 1.0 / (60 + r + 1)))
    }
    Ranked(top(fused, k), fused.toMap)
  }

  private def bm25All(terms: Seq[String]): Seq[(Long, Double)] = {
    val qt = terms.distinct
    val live = rows.values.toSeq
    val toks = live.map(r => r -> tokens(r.text))
    val nDocs = live.size.toLong
    val totalDl = live.map(r => tokenCount(r.text)).sum
    val avgdl = totalDl.toDouble / nDocs
    val tfs = toks.map { case (r, t) => (r, t.length.toLong, qt.map(term => term -> t.count(_ == term).toLong)) }
    val df = qt.map(term => term -> tfs.count(_._3.exists { case (x, n) => x == term && n > 0 }).toLong).toMap
    tfs.flatMap { case (r, dl, tf) =>
      val hits = tf.filter(_._2 > 0)
      if (hits.isEmpty) None
      else Some(r.key -> round6(hits.map { case (term, n) =>
        val d = df(term)
        val idf = math.log(1.0 + (nDocs - d + 0.5) / (d + 0.5))
        idf * (n * (K1 + 1)) / (n + K1 * (1 - B + B * dl / avgdl))
      }.sum))
    }
  }
}

object ServeModel {
  val K1 = 1.2
  val B = 0.75

  /** One index row: chunk id, its document, chunk ordinal, text, vector.
    * `key` is the numeric corpus key the sparse and hybrid searches rank
    * by (documents stay below 1000 chunks). */
  final case class IndexRow(id: String, doc: Long, chunk: Long, text: String, vec: Array[Float]) {
    def key: Long = doc * 1000 + chunk
  }

  /** A model ranking plus every candidate's model score. */
  final case class Ranked[K](top: Seq[(K, Double)], score: Map[K, Double])

  def top[K: Ordering](all: Seq[(K, Double)], k: Int): Seq[(K, Double)] =
    all.sortBy { case (key, s) => (-s, key) }.take(k)

  /** Does an engine ranking equal the model's? Position by position the
    * scores must agree within `eps`; the keys must agree unless the
    * engine's key ties the model's score there (a tie the two sides may
    * order differently only through rounding in the last bit). */
  def sameRanking[K](engine: Seq[(K, Double)], model: Ranked[K], eps: Double): Boolean =
    engine.size == model.top.size && engine.zip(model.top).forall {
      case ((ke, se), (km, sm)) =>
        math.abs(se - sm) <= eps &&
          (ke == km || model.score.get(ke).exists(s => math.abs(s - se) <= eps))
    }

  def cosineSim(a: Array[Float], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: Array[Float], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }
  def l2f(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(s)
  }
  def l2(a: Array[Double]): Double = math.sqrt(a.map(x => x * x).sum)

  /** Spark's `round(x, 6)` on a double. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Spark's `trim`: spaces only, not other whitespace. */
  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** `TextFunctions.tokens(lower(text))`: Spark's split keeps trailing
    * empty strings (limit -1). */
  def tokens(text: String): Array[String] = trimSpaces(text.toLowerCase).split("\\s+", -1)

  /** `TextFunctions.tokenCount(lower(text))`. */
  def tokenCount(text: String): Long =
    if (trimSpaces(text.toLowerCase).isEmpty) 0L else tokens(text).length.toLong
}
