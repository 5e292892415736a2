package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Shingling
import graft.text.TextFunctions
import graft.vector.Dedup

/** Bit-identity pin for the native shingle and MinHash expressions
  * ([[graft.functions.Shingling]]) against the higher-order Column
  * formulas they replaced in `Dedup.shingles` / `Dedup.minhashSig`,
  * kept below as the reference model. Seeded random token arrays cover
  * 0/1/2/500 tokens, an empty token, multi-byte UTF-8, null tokens and
  * null text, on both the generated-code and the interpreted path. */
class MinHashKernelSpec extends SparkSpec {

  private def refShingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  private def refSignatures(toks: Column, numHashes: Int): Column = {
    val hs = transform(refShingles(toks, 3), s => md5(s))
    array((0 until numHashes).map(i =>
      array_min(transform(hs, h => substring(h, i * 4 + 1, 4)))): _*)
  }

  private val vocab = Seq("the", "a", "fox", "dog", "jumps", "café", "naïve",
    "straße", "日本語", "データ", "😀", "x😀y", "Ωμέγα", "0", "42", "")

  /** (id, text) rows: fixed edge lengths plus seeded random docs; texts
    * joined by mixed whitespace, some led by `\n` (trim strips only
    * spaces, so split yields a leading empty token). */
  private def texts(): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val seps = Seq(" ", "  ", "\t", "\n")
    def doc(len: Int): String = (0 until len)
      .map(_ => vocab(rnd.nextInt(vocab.size - 1)))
      .foldLeft("")((acc, t) => if (acc.isEmpty) t else acc + seps(rnd.nextInt(seps.size)) + t)
    val lens = Seq(0, 1, 2, 3, 4, 8, 9, 500, 500) ++ Seq.fill(120)(rnd.nextInt(40))
    val plain = lens.map(doc)
    val led = Seq(1, 2, 3, 7, 12).map(l => "\n" + doc(l))
    (plain ++ led ++ Seq(null, "", " ", "\n", "\n\n a b c"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  /** (id, toks) rows of raw token arrays: the empty array and null
    * elements, which text tokenization never yields. */
  private def tokenArrays(): Seq[(Long, Seq[String])] = {
    val rnd = new scala.util.Random(11)
    val arrays = Seq(Seq.empty[String], Seq(null), Seq(null, null, null),
      Seq("a", null, "b"), Seq(null, "a", "b", "c", null), Seq("", "", ""), null) ++
      Seq.fill(60)(Seq.fill(rnd.nextInt(12))(
        if (rnd.nextInt(5) == 0) null else vocab(rnd.nextInt(vocab.size))))
    arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
  }

  // RDD-backed so the projection really runs on the executor path
  // (a projection over a local relation is folded on the driver)
  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def textFrame(): DataFrame = frame(
    texts().map { case (i, t) => Row(i, t) },
    StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    .select(col("id"), TextFunctions.tokens(lower(col("text"))).as("toks"))

  private def tokenFrame(): DataFrame = frame(
    tokenArrays().map { case (i, a) => Row(i, a) },
    StructType(Seq(StructField("id", LongType), StructField("toks", ArrayType(StringType)))))

  // generated code with every silent fallback off, then the interpreted path
  private def bothPaths(body: => Unit): Unit =
    for ((wholeStage, factory) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
      val confs = Seq("spark.sql.codegen.wholeStage" -> wholeStage,
        "spark.sql.codegen.factoryMode" -> factory, "spark.sql.codegen.fallback" -> "false")
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }

  /** The reference builds its signature array element by element, so
    * a null input gives an array of nulls where the kernel gives null;
    * both mean "no signature" to the band keys (concat_ws skips nulls). */
  private def sigs(r: Row, i: Int): Option[Seq[String]] =
    Option(r.getSeq[String](i)).filterNot(_.forall(_ == null))

  private def checkShingles(df: DataFrame): Unit = {
    val rows = df.select(col("id"),
      Shingling.shingles(col("toks"), 3), refShingles(col("toks"), 3),
      Shingling.shingles(col("toks"), 8), refShingles(col("toks"), 8)).collect()
    for (r <- rows; (k, ref) <- Seq((1, 2), (3, 4)))
      assert(r.getSeq[String](k) == r.getSeq[String](ref), s"shingles differ at id ${r.getLong(0)}")
  }

  private def checkSignatures(df: DataFrame): Unit = {
    val cols = (1 to Shingling.MaxHashes).flatMap(m =>
      Seq(Shingling.minhashSignatures(col("toks"), m), refSignatures(col("toks"), m)))
    val rows = df.select(col("id") +: col("toks").isNull +: cols: _*).collect()
    for (r <- rows) {
      if (r.getBoolean(1)) assert(r.isNullAt(2), "null tokens must give a null signature")
      for (m <- 1 to Shingling.MaxHashes) {
        val k = 2 * m
        assert(sigs(r, k) == sigs(r, k + 1), s"numHashes=$m differs at id ${r.getLong(0)}")
        if (!r.isNullAt(k)) assert(r.getSeq[String](k).size == m)
      }
    }
  }

  test("Shingles equals the higher-order shingle formula at n = 3 and n = 8") {
    bothPaths { checkShingles(textFrame()); checkShingles(tokenFrame()) }
  }

  test("MinhashSignatures equals min over md5 hex slices for numHashes 1..8") {
    bothPaths { checkSignatures(textFrame()); checkSignatures(tokenFrame()) }
  }

  test("null text gives null shingles and null signatures") {
    val r = textFrame().filter(col("toks").isNull)
      .select(Shingling.shingles(col("toks"), 3), Shingling.minhashSignatures(col("toks"), 8))
      .collect()
    assert(r.length == 1 && r.head.isNullAt(0) && r.head.isNullAt(1))
  }

  test("banding refuses numHashes outside 1..8 or a band size that does not divide it") {
    for ((numHashes, bandSize) <- Seq((9, 3), (16, 2), (0, 1), (8, 3), (6, 4), (8, 0))) {
      intercept[IllegalArgumentException](
        Dedup.minhashCandidatePairs(spark, sf, numHashes, bandSize))
      intercept[IllegalArgumentException](
        Dedup.droppedBuckets(spark, sf, numHashes, bandSize))
      intercept[IllegalArgumentException](
        Dedup.minhashCandidatePairsSql(numHashes, bandSize))
    }
    intercept[IllegalArgumentException](Shingling.minhashSignatures(col("toks"), 9))
    // a legal non-default banding: 6 signatures in 2 bands of 3
    val bands = Dedup.bandedOf(Tables.documents(spark, sf).limit(5), 6, 3)
    assert(bands.select(col("band")).distinct().count() == 2)
  }

  test("a non-string token array is refused at analysis time") {
    val ints = frame(Seq(Row(Seq(1, 2, 3))),
      StructType(Seq(StructField("toks", ArrayType(IntegerType)))))
    intercept[AnalysisException](ints.select(Shingling.shingles(col("toks"), 3)).collect())
    intercept[AnalysisException](ints.select(Shingling.minhashSignatures(col("toks"), 8)).collect())
  }
}
