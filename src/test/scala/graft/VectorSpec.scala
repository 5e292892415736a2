package graft

import org.apache.spark.sql.functions._
import graft.vector.{Bm25, Dedup, VectorOps}

class VectorSpec extends SparkSpec {
  import spark.implicits._

  private def score(a: Seq[Double], b: Seq[Double]): Double =
    Seq((a, b)).toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b"))).as[Double].head()

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    assert(math.abs(score(Seq(1, 2, 3), Seq(1, 2, 3)) - 1.0) < 1e-12)
    assert(math.abs(score(Seq(1, 0), Seq(0, 1))) < 1e-12)
    assert(math.abs(score(Seq(1, 0), Seq(-1, 0)) + 1.0) < 1e-12)
  }

  test("rangeSearch: the cosine neighborhood, map-side (no exchange in the plan)") {
    val hits = VectorOps.rangeSearch(spark, sf, queryId = 0, minScore = 0.2)
    val all = VectorOps.cosineTopK(spark, sf, queryId = 0, k = Int.MaxValue)
    val expected = all.filter(col("score") >= 0.2).select("vec_id")
      .as[Long].collect().toSet
    assert(hits.select("vec_id").as[Long].collect().toSet == expected)
    assert(hits.filter(col("score") < 0.2).count() == 0)
    // the query itself is included (cosine with itself = 1.0)
    assert(hits.filter(col("vec_id") === 0L).count() == 1)
    // scale shape: a filter over the scan — no shuffle exchange
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case o => o +: o.children.flatMap(nodes)
    }
    val noSort = VectorOps.rangeSearch(spark, sf).queryExecution.executedPlan
    assert(!nodes(noSort).exists(n => n.isInstanceOf[ShuffleExchangeExec] &&
      n.toString.contains("hashpartitioning")),
      "range search must not hash-shuffle the corpus")
  }

  test("l2Squared matches manual computation") {
    val d = Seq((Seq(1.0, 2.0), Seq(4.0, 6.0))).toDF("a", "b")
      .select(VectorOps.l2Squared(col("a"), col("b"))).as[Double].head()
    assert(d == 9.0 + 16.0)
  }

  test("sign-LSH bucket: bit i set iff component i+1 positive") {
    val b = Seq(Seq(1.0f, -1.0f, 2.0f, -0.5f)).toDF("v")
      .select(VectorOps.signLshBucket(col("v"), 4)).as[Long].head()
    assert(b == (1L | 4L)) // components 1 and 3 positive
  }

  test("identical docs share every minhash band (guaranteed candidates)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words entirely unrelated content here now"),
    ).toDF("doc_id", "text")
    val bands = Dedup.bandedOf(docs).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getLong(1), r.getString(2))).toSet }
    assert(bands(1L).size == 4)
    assert(bands(1L) == bands(2L))
    assert((bands(1L) & bands(3L)).isEmpty)
  }

  test("bm25: term in fewer docs scores higher (idf ordering)") {
    // doc 1 has rare term; common term appears everywhere
    val docs = Seq(
      (1L, "rare common alpha beta"),
      (2L, "common gamma delta epsilon"),
      (3L, "common zeta eta theta"),
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bm25t").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val top = Bm25.bm25TopK(spark, tmp, Seq("rare", "common"), 3)
      .select("doc_id", "score").as[(Long, Double)].collect().toSeq
    assert(top.head._1 == 1L) // rare+common beats common-only
    assert(top.head._2 > top(1)._2)
  }

  test("bm25 literal-stats path is bit-identical to the inline-stats path") {
    // the retrieval gates pass memoized (n_docs, total_dl) as literals
    // (r18); the contract is exact score identity with the inline
    // aggregate+broadcast form when the literals ARE those aggregates
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val terms = SparkEntry.queryTerms
    val stats = docs.agg(
      count(lit(1)),
      sum(graft.text.TextFunctions.tokenCount(lower(col("text"))))).head()
    val known = (stats.getLong(0), stats.getLong(1))
    val inline = Bm25.bm25Over(docs, terms, 25)
      .collect().map(_.toString).toSeq
    val literal = Bm25.bm25Over(docs, terms, 25, Some(known))
      .collect().map(_.toString).toSeq
    assert(inline == literal)
  }

  test("jaccard of identical token sets is 1.0 on candidate pairs") {
    val tmp = java.nio.file.Files.createTempDirectory("jac").toString
    Seq(
      (1L, "one two three four five six seven"),
      (2L, "one two three four five six seven"),
      (3L, "unrelated tokens that differ wholly everywhere always"),
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.jaccardOnCandidates(spark, tmp)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
  }

  test("duplicateSpans finds the shared passage and merges overlapping grams") {
    val tmp = java.nio.file.Files.createTempDirectory("spans").toString
    // docs 1 and 2 share a 10-token prefix (= three overlapping 8-grams
    // in each → one merged span 0..9); doc 3 shares nothing.
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (1L, s"$shared unique1a unique1b unique1c unique1d unique1e unique1f unique1g unique1h"),
      (2L, s"$shared unique2a unique2b unique2c unique2d unique2e unique2f unique2g unique2h"),
      (3L, "wholly different words that never repeat anywhere in this corpus at all today"),
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val spans = Dedup.duplicateSpans(spark, tmp)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(spans == Seq((1L, 0L, 9L, 10L), (2L, 0L, 9L, 10L)))
  }

  test("duplicateSpans flags a passage repeated WITHIN one document") {
    val tmp = java.nio.file.Files.createTempDirectory("spansw").toString
    val block = "one two three four five six seven eight"
    Seq((1L, s"$block filler1 filler2 filler3 filler4 filler5 filler6 filler7 filler8 $block"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val spans = Dedup.duplicateSpans(spark, tmp)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // the 8-token block occurs at positions 0 and 16; both instances flagged
    assert(spans == Seq((1L, 0L, 7L, 8L), (1L, 16L, 23L, 8L)))
  }

  test("spanStripSummary counts covered tokens and hashes the stripped text") {
    val tmp = java.nio.file.Files.createTempDirectory("strip").toString
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (1L, s"$shared tail1a tail1b tail1c tail1d tail1e tail1f tail1g tail1h"),
      (2L, s"$shared tail2a tail2b tail2c tail2d tail2e tail2f tail2g tail2h"),
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Dedup.spanStripSummary(spark, tmp)
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    assert(rows.map(r => (r._1, r._2, r._3)) == Seq((1L, 16L, 8L), (2L, 16L, 8L)))
    // kept text is the 8 unique tail tokens; hash must match a direct md5
    val expect1 = java.security.MessageDigest.getInstance("MD5")
      .digest("tail1a tail1b tail1c tail1d tail1e tail1f tail1g tail1h".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows.head._5 == expect1)
    assert(rows.head._4 == 0.5)
  }

  test("span operators agree: per-doc span lengths sum to dup_tokens; stripSpans matches kept_md5") {
    // cross-operator invariants on the real corpus: duplicateSpans and
    // spanStripSummary compute coverage through different plans (island
    // merge vs position join) — they must agree exactly
    val spans = Dedup.duplicateSpans(spark, sf)
      .groupBy("doc_id").agg(sum("span_tokens").as("covered"))
      .as[(Long, Long)].collect().toMap
    val strip = Dedup.spanStripSummary(spark, sf)
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    strip.foreach { case (id, _, dup, _, _) =>
      assert(spans.getOrElse(id, 0L) == dup, s"doc $id: spans=${spans.get(id)} dup=$dup")
    }
    // stripSpans IS the text whose md5 spanStripSummary reports
    val keptMd5 = strip.map(r => r._1 -> r._5).toMap
    val stripped = Dedup.stripSpans(spark, sf)
      .select(col("doc_id"), md5(to_binary(col("text"), lit("utf-8"))).as("m"))
      .as[(Long, String)].collect()
    assert(stripped.nonEmpty)
    stripped.foreach { case (id, m) => assert(keptMd5(id) == m) }
    // dropped docs are exactly those stripped to nothing
    val droppedIds = strip.filter(r => r._2 == r._3).map(_._1).toSet
    assert(stripped.map(_._1).toSet == keptMd5.keySet -- droppedIds)
  }

  test("spanStripSummary: fully-duplicated doc strips to the empty-string hash") {
    val tmp = java.nio.file.Files.createTempDirectory("stripall").toString
    val t = "one two three four five six seven eight"
    Seq((1L, t), (2L, t)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Dedup.spanStripSummary(spark, tmp)
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    val md5empty = "d41d8cd98f00b204e9800998ecf8427e"
    assert(rows.forall(r => r._3 == 8L && r._4 == 1.0 && r._5 == md5empty))
  }

  test("minhash bucket cap drops degenerate bands instead of exploding pairs") {
    // 200 identical docs: every band collapses to one bucket of 200 —
    // an uncapped pair expansion would emit ~19.9k pairs per band;
    // with the cap the degenerate buckets are dropped entirely
    val tmp = java.nio.file.Files.createTempDirectory("mhcap").toString
    (1L to 200L).map(i => (i, "same tokens in every single document here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(Dedup.minhashCandidatePairs(spark, tmp, maxBucket = 64).count() == 0)
    // monitoring surface reports exactly the dropped buckets
    val dropped = Dedup.droppedBuckets(spark, tmp, maxBucket = 64)
      .as[(Long, String, Long)].collect()
    assert(dropped.nonEmpty && dropped.forall(_._3 == 200L))
    // a corpus under the cap still produces its pairs
    assert(Dedup.minhashCandidatePairs(spark, tmp, maxBucket = 200).count() > 0)
  }

  test("bounded BPE train learns the same merges when the bound is slack") {
    val docs = Tables.documents(spark, sf).limit(100)
    val unbounded = graft.text.BpeTokenizer.train(spark, docs, 30)
    val bounded = graft.text.BpeTokenizer.train(spark, docs, 30, minFreq = 1L, maxVocab = 100000)
    assert(bounded == unbounded)
    // a tight vocab cap still yields merges drawn from frequent words
    val tight = graft.text.BpeTokenizer.train(spark, docs, 10, minFreq = 2L, maxVocab = 50)
    assert(tight.nonEmpty && tight.size <= 10)
  }

  test("semantic dedup: planted duplicate groups keep exactly the min ids") {
    val tmp = java.nio.file.Files.createTempDirectory("sd").toString
    def v(x: Double*): Seq[Float] = x.map(_.toFloat)
    // groups: {0,1,2} exact copies, {3,4} exact copies — every other
    // vector pairwise-dissimilar at τ=0.98. Only EXACT copies are
    // planted: a sub-identical near-dup can seed its own centroid and
    // land cross-cluster (observed with (0.999, 0.001, 0, 0) here) —
    // the documented within-cluster contract miss, pinned by the
    // augmented driver gate's identical-copy argument instead
    Seq(
      (0L, v(1, 0, 0, 0)), (1L, v(1, 0, 0, 0)), (2L, v(1, 0, 0, 0)),
      (3L, v(0, 1, 0, 0)), (4L, v(0, 1, 0, 0)),
      (5L, v(0, 0, 1, 0)), (6L, v(0, 0, 0, 1)), (7L, v(1, 1, 1, 1)),
    ).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val kept = Dedup.semanticKept(spark, tmp, k = 3, iters = 2, threshold = 0.98)
      .as[Long].collect().toSet
    // identical/near-identical vectors co-cluster (equal distances,
    // ordered tie-break), so the greedy rule keeps each group's min id
    assert(kept == Set(0L, 3L, 5L, 6L, 7L))
  }

  test("semantic dedup gate: exact planted-copy drop count, invariants recomputed") {
    val inv = Dedup.semanticDedup(spark, sf)
      .as[(Long, Long, Boolean, Boolean, Boolean)].head()
    // sf0.001: 500 vectors + 10 planted copies (vec_id % 50 == 0); each
    // copy is the sole dropped member of its pair
    assert(inv == ((510L, 10L, true, true, true)))
  }

  test("fuzzy verify: edit distance over candidate prefixes, order-sensitive") {
    val tmp = java.nio.file.Files.createTempDirectory("fz").toString
    // 40 distinct tokens: a one-char edit early in the text stays a
    // near-dup (bands together, tiny distance); a half-rotation keeps
    // ~90% of shingles (still a CANDIDATE) but wrecks the prefix —
    // the order-blind failure mode Jaccard can't reject and
    // Levenshtein must
    val words = (0 until 40).map(i => f"tok$i%02d")
    val base = words.mkString(" ")
    val nearDup = base.replace("tok03", "tok03x")
    val rotated = (words.drop(20) ++ words.take(20)).mkString(" ")
    Seq((1L, base), (2L, nearDup), (3L, rotated))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cands = Dedup.minhashCandidatePairs(spark, tmp)
      .select(col("id_a"), col("id_b")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)) && cands.exists(_._2 == 3L),
      s"banding must propose both the near-dup and the rotation: $cands")
    val rows = Dedup.fuzzyVerify(spark, tmp, prefix = 120, maxDist = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.exists { case (a, b, d) => a == 1L && b == 2L && d > 0 && d <= 4 },
      s"near-dup pair missing or misdistanced: $rows")
    assert(!rows.exists { case (a, b, _) => b == 3L || a == 3L },
      s"rotated copy must fail the edit-distance verify: $rows")
  }

  test("leakage-safe split: no verified near-dup pair straddles splits; all docs assigned") {
    val split = Dedup.leakageSafeSplit(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    assert(split.count() == nDocs, "every document must receive a split")
    // the leakage property: both ends of every verified near-dup edge
    // land in the same split (the whole point over a doc-id-hash split)
    val edges = Dedup.jaccardOnCandidates(spark, sf)
      .select(col("id_a"), col("id_b"))
    val straddling = edges
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), Seq("id_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(straddling == 0L, s"$straddling near-dup pairs straddle splits")
    // same representative => same split, and the hash binning yields a
    // train-majority assignment (loose band: the binning is md5-driven)
    val multiSplitReps = split.groupBy(col("rep_id"))
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).count()
    assert(multiSplitReps == 0L, "one cluster mapped to multiple splits")
    val train = split.filter(col("split") === "train").count().toDouble / nDocs
    assert(train > 0.6 && train < 0.95, s"train fraction $train outside sanity band")
  }

  test("leakage-safe split is deterministic across reruns") {
    val a = Dedup.leakageSafeSplit(spark, sf).collect().toSeq.map(_.toString)
    val b = Dedup.leakageSafeSplit(spark.newSession(), sf).collect().toSeq.map(_.toString)
    assert(a == b)
  }

  test("upsert is idempotent and last-writer-wins (J2 semantics)") {
    val existing = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver")
    val updates = Seq((2L, "b2", 2L), (3L, "c", 2L)).toDF("k", "v", "ver")
    val once = graft.meta.Upsert.upsert(existing, updates, "k")
    val twice = graft.meta.Upsert.upsert(once, updates, "k")
    val got = twice.orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 2L)))
  }
}
