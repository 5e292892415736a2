package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.chunk.Chunking
import graft.text.TextFunctions

/** Row-identity pin for [[Chunking.chunkTable]], which normalizes each
  * document once behind a Generate barrier, against the per-slot form
  * it replaced (normalize inlined into the chunk lambda), kept below as
  * the reference model. Texts cover what normalizes to "", normalized
  * lengths of exactly k·150 and k·150+1, multi-byte UTF-8, CRLF,
  * soft-hyphen and `[...]` lines, and null text, on both the
  * generated-code and the interpreted path. */
class ChunkTableSpec extends SparkSpec {

  private def refChunkTable(docs: DataFrame, size: Int, overlap: Int): DataFrame = {
    val norm = TextFunctions.normalize(col("text"))
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(Chunking.fixedStrideChunks(norm, size, overlap)).as(Seq("chunk_idx", "chunk")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk"),
        length(col("chunk")).cast("long").as("chunk_len"))
  }

  private val alphabet = Seq("a", "b", "z", "é", "ß", "日", "本", "😀", "Ω", "ü")

  /** Text of exactly `n` code points that normalization leaves as is:
    * single spaces between words, no edge whitespace. */
  private def plain(rnd: scala.util.Random, n: Int): String = {
    val sb = new StringBuilder
    var cps = 0
    while (cps < n) {
      val space = cps > 0 && cps < n - 1 && rnd.nextInt(6) == 0 &&
        !sb.endsWith(" ")
      sb ++= (if (space) " " else alphabet(rnd.nextInt(alphabet.size)))
      cps += 1
    }
    sb.toString
  }

  private def texts(): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(13)
    val exact = Seq(1, 2, 149, 150, 151, 199, 200, 201, 299, 300, 301, 450, 451, 600, 601, 1500, 1501)
      .map(plain(rnd, _))
    val toEmpty = Seq("", " ", "\t \t", "­", "­ ­", "[...]", "x [...] y\n", "[...]\n[..]\n  ")
    val messy = Seq.fill(40) {
      val parts = Seq.fill(rnd.nextInt(12) + 1)(rnd.nextInt(7) match {
        case 0 => "\r\n"
        case 1 => "­"
        case 2 => "line with [...] inside\n"
        case 3 => "hyphen-\nated"
        case 4 => "\n\n\n\n"
        case 5 => "  \t "
        case _ => plain(rnd, rnd.nextInt(220))
      })
      parts.mkString
    }
    (exact ++ toEmpty ++ messy :+ null).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  // RDD-backed so the projection really runs on the executor path
  private def docs(): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(texts().map { case (i, t) => Row(i, t) }, 3),
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def bothPaths(body: => Unit): Unit =
    for ((wholeStage, factory) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
      val confs = Seq("spark.sql.codegen.wholeStage" -> wholeStage,
        "spark.sql.codegen.factoryMode" -> factory, "spark.sql.codegen.fallback" -> "false")
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }

  private def rowsOf(df: DataFrame): Seq[(Long, Long, String, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))

  test("chunkTable rows equal the per-slot normalize formula") {
    bothPaths {
      for ((size, overlap) <- Seq((200, 50), (7, 3), (150, 0))) {
        val got = rowsOf(Chunking.chunkTable(docs(), size, overlap))
        val want = rowsOf(refChunkTable(docs(), size, overlap))
        assert(got == want, s"size=$size overlap=$overlap")
      }
    }
  }

  test("chunkTable edge texts: empty after normalize, k·150 boundaries, null") {
    val got = rowsOf(Chunking.chunkTable(docs()))
    val byDoc = got.groupBy(_._1)
    val normLen = docs().filter(col("text").isNotNull)
      .select(col("doc_id"), length(TextFunctions.normalize(col("text"))))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    // a non-empty text normalizing to "" yields one empty chunk, as before
    val toEmpty = texts().collect { case (i, t) if t != null && t.nonEmpty && normLen(i) == 0 => i }
    assert(toEmpty.size >= 5)
    toEmpty.foreach(id => assert(byDoc(id).map(r => (r._3, r._4)) == Seq(("", 0L)), s"doc $id"))
    // normalized length L: (L - 1) / 150 + 1 chunks of min(200, L - 150 i)
    for ((id, l) <- normLen if l > 0) {
      assert(byDoc(id).size == (l - 1) / 150 + 1, s"doc $id of normalized length $l")
      assert(byDoc(id).map(_._4) == byDoc(id).indices.map(i => math.min(200L, l - 150L * i)))
    }
    for (k <- 1 to 4; l <- Seq(150L * k, 150L * k + 1))
      assert(normLen.values.exists(_ == l), s"no text of normalized length $l")
    // null and "" text are dropped before normalization
    val ts = texts()
    for (id <- ts.collect { case (i, t) if t == null || t.isEmpty => i })
      assert(!byDoc.contains(id), s"doc $id")
  }

  test("the optimized plan holds exactly one normalize chain") {
    val ellipsis = "(?m)^.*\\[\\.+\\].*$\\n?"
    def chains(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case r: RegExpReplace if r.regexp == Literal(ellipsis) => r
      })).size
    assert(chains(Chunking.chunkTable(docs())) == 1)
    // the check sees the per-slot shape: normalize in the lambda and in its length
    assert(chains(refChunkTable(docs(), 200, 50)) == 2)
  }
}
