package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Shingling
import graft.text.TextFunctions

/** Document deduplication operators — the north-star training-data
  * pipeline surface: exact, MinHash+LSH banding, SimHash, and n-gram
  * Jaccard. All hashes are md5-derived so the DuckDB oracle reproduces
  * them bit-for-bit (Spark's murmur `hash()` is engine-private; md5 is
  * portable).
  *
  * Scale design: every variant reduces to groupBy/equi-join on a hash or
  * band key — never an unbucketed O(n²) comparison. MinHash banding is
  * the canonical web-scale near-dup pipeline (shingle → minhash → band →
  * bucket-join); at 100 TB each stage is a map + one shuffle on the band
  * key, and candidate verification touches only same-band pairs.
  */
object Dedup {

  /** Exact dedup via canonical fingerprint (lower/strip/collapse + md5):
    * groups of identical documents, keeping the minimum doc_id as the
    * canonical representative. */
  def exactDupGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("fp"))

  def exactDupGroupsSql: String = """
    SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
           COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY fp"""

  /** Word n-gram shingles of a token array (native kernel, see
    * [[graft.functions.Shingling]]). */
  def shingles(toks: Column, n: Int = 3): Column = Shingling.shingles(toks, n)

  /** MinHash + LSH banding: `numHashes` signatures in bands of
    * `bandSize`; docs sharing any band key are near-dup candidates.
    * Emits candidate pairs (id_a < id_b, band).
    *
    * Single-pass plan: signatures are computed ONCE per document
    * (one projection), bands come from one explode (not N union
    * branches), and pairs are generated inside each band bucket via
    * groupBy + collect_list instead of a self-join — so the expensive
    * md5 stage is never re-evaluated. One shuffle on the band key.
    *
    * Buckets larger than `maxBucket` are DROPPED: a giant bucket means
    * the band is degenerate (e.g. a corpus of identical or near-empty
    * docs all sharing one signature) and its quadratic pair expansion
    * would dominate the job while adding no near-dup signal — exact
    * duplicates are [[exactDupGroups]]' job, not LSH's. The cap bounds
    * both the collect_list group state and the emitted pairs per
    * bucket, which is what makes the plan safe on adversarial corpora
    * at 100 TB ([[droppedBuckets]] reports what was skipped). */
  def minhashCandidatePairs(spark: SparkSession, dir: String,
      numHashes: Int = 8, bandSize: Int = 2, maxBucket: Int = 64): DataFrame =
    bandedDocs(spark, dir, numHashes, bandSize)
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(col("band"), explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("band"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"), col("band"))

  private def bandedDocs(spark: SparkSession, dir: String,
      numHashes: Int, bandSize: Int): DataFrame =
    bandedOf(graft.Tables.documents(spark, dir)
      .transform(graft.Parallelism.ensure(spark)), numHashes, bandSize)

  /** (doc_id, band, band_key) rows of any (doc_id, text) frame, also an
    * INCREMENTAL batch. ONE md5 digest per word 3-gram shingle
    * ([[graft.functions.MinhashSignatures]]): signature i is the minimum of
    * digest bytes 2i, 2i+1 as an unsigned 16-bit value, ordered exactly as
    * the oracle's 4-hex `substr(md5(s), 4i+1, 4)` (fixed-width lowercase
    * hex sorts in numeric order). md5 stays: it is the only shingle hash
    * both engines compute identically. 16 digest bytes hold 8 slots, so
    * numHashes ≤ 8, and bandSize must divide numHashes. */
  private[graft] def bandedOf(docs: DataFrame,
      numHashes: Int = 8, bandSize: Int = 2): DataFrame = {
    checkBanding(numHashes, bandSize)
    val bandStructs = (0 until numHashes / bandSize).map { b =>
      val parts = (0 until bandSize).map(j => col(s"h${b * bandSize + j}"))
      struct(lit(b.toLong).as("band"), concat_ws("|", parts: _*).as("band_key"))
    }
    // one column per signature: the cost model sizes the banded rows (and
    // so the verify joins' broadcast side) from this projection's width
    val sigs = (0 until numHashes).map(i => col("sig").getItem(i).as(s"h$i"))
    docs
      .select(col("doc_id"), Shingling.minhashSignatures(
        TextFunctions.tokens(lower(col("text"))), numHashes).as("sig"))
      .select(col("doc_id") +: sigs: _*)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  // slot ≥ 8 would read "" for every doc (one giant band the cap drops
  // silently); an indivisible bandSize would drop trailing signatures
  private def checkBanding(numHashes: Int, bandSize: Int): Unit =
    require(numHashes >= 1 && numHashes <= Shingling.MaxHashes &&
      bandSize >= 1 && numHashes % bandSize == 0,
      s"need numHashes in 1..${Shingling.MaxHashes} divisible by bandSize, got $numHashes/$bandSize")

  /** Monitoring companion to the bucket cap: (band, band_key, n_docs)
    * of every bucket the cap dropped — run it when a dedup pass reports
    * suspiciously few candidates. */
  def droppedBuckets(spark: SparkSession, dir: String,
      numHashes: Int = 8, bandSize: Int = 2, maxBucket: Int = 64): DataFrame =
    bandedDocs(spark, dir, numHashes, bandSize)
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  /** All ordered pairs (ids(i), ids(j)), i<j, of a sorted array —
    * flatten of a nested transform; pure codegen, no UDF. */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        b => struct(a.as("id_a"), b.as("id_b")))))

  /** WITH-body fragment shared by every banding oracle
    * ([[minhashCandidatePairsSql]], [[incrementalProbeSql]]):
    * toks → sh (3-gram shingles) → hashed → sigs → bands. ONE
    * definition so the tokenization/signature-slicing rules cannot
    * drift between the batch and incremental gates' oracles. */
  private def bandingCtes(numHashes: Int, bandSize: Int): String = {
    checkBanding(numHashes, bandSize)
    val numBands = numHashes / bandSize
    val sigExprs = (0 until numHashes).map(i =>
      s"list_min(list_transform(hs, h -> substr(h, ${i * 4 + 1}, 4))) AS h$i").mkString(", ")
    val bandSelects = (0 until numBands).map { b =>
      val key = (0 until bandSize).map(j => s"h${b * bandSize + j}").mkString(" || '|' || ")
      s"SELECT doc_id, CAST($b AS BIGINT) AS band, $key AS band_key FROM sigs"
    }.mkString(" UNION ALL ")
    s"""toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
    sh AS (
      SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_transform(generate_series(1, len(t) - 2),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' ')) END AS sh
      FROM toks),
    hashed AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS hs FROM sh),
    sigs AS (SELECT doc_id, $sigExprs FROM hashed),
    bands AS ($bandSelects)"""
  }

  def minhashCandidatePairsSql(numHashes: Int = 8, bandSize: Int = 2,
      maxBucket: Int = 64): String = {
    s"""
    WITH ${bandingCtes(numHashes, bandSize)},
    bsize AS (SELECT band, band_key, COUNT(*) AS c FROM bands GROUP BY band, band_key)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.band
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    JOIN bsize s ON s.band = a.band AND s.band_key = a.band_key
    WHERE s.c BETWEEN 2 AND $maxBucket
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
  }

  /** Near-duplicate cluster representatives — the final stage of the
    * web-scale dedup pipeline: verified near-dup pairs become edges of
    * an undirected graph, connected components group mutually-similar
    * docs into clusters, and the minimum doc_id of each cluster is kept
    * as the canonical representative (everything else is dropped from
    * the training set). One row per clustered doc:
    * (doc_id, rep_id, cluster_size, keep).
    *
    * Scale shape: edges come from the banded MinHash pipeline (never
    * all-pairs), components via
    * [[graft.geom.ConnectedComponents.labelPropagation]] — iterative
    * min-label joins on the node key, rounds = cluster diameter (near-dup
    * clusters are shallow; web-dedup runs converge in a handful of
    * rounds), driver holds only a changed-count. The DuckDB oracle
    * computes the same components by recursive-CTE transitive closure,
    * so the component labels are hash-gated end to end. */
  def clusterReps(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val edges = jaccardOnCandidates(spark, dir, threshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val labels = graft.geom.ConnectedComponents.labelPropagation(spark, edges)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("component"))
      .select(col("node").as("doc_id"), col("component").as("rep_id"),
        col("cluster_size"), (col("node") === col("component")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** WITH-body fragment: recursive-CTE connected components over the
    * verified near-dup edges — jacc/sym/reach/comps/sizes. ONE
    * definition shared by [[clusterRepsSql]] and
    * [[leakageSafeSplitSql]] so the component/representative rule
    * cannot drift between the cluster and split oracles. */
  private def componentCtes(threshold: Double): String = s"""jacc AS (
      SELECT id_a, id_b FROM (${jaccardOnCandidatesSql(threshold).replace("ORDER BY id_a, id_b", "")}) j),
    sym AS (SELECT id_a AS src, id_b AS dst FROM jacc
            UNION SELECT id_b, id_a FROM jacc),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
    comps AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS rep_id
      FROM reach GROUP BY src),
    sizes AS (SELECT rep_id, COUNT(*) AS cluster_size FROM comps GROUP BY rep_id)"""

  def clusterRepsSql(threshold: Double = 0.5): String = s"""
    WITH RECURSIVE ${componentCtes(threshold)}
    SELECT c.doc_id, c.rep_id, s.cluster_size, c.doc_id = c.rep_id AS keep
    FROM comps c JOIN sizes s USING (rep_id)
    ORDER BY c.doc_id"""

  /** Leakage-safe train/val/test split: assign every document to a
    * split by the HASH OF ITS NEAR-DUP CLUSTER representative, not its
    * own id — near-duplicate pairs land in the SAME split by
    * construction, so a model can never be evaluated on a near-copy of
    * a training document (the split-contamination failure mode a
    * doc-id-hash split silently has). Unclustered docs are their own
    * representative. Bins: md5("seed|rep_id") first byte → 0‥255,
    * <205 train (~80%), <230 val (~10%), else test (~10%).
    *
    * Scale shape: the cluster labels come from [[clusterReps]] (banded
    * candidates → verified edges → label propagation); only CLUSTERED
    * docs carry a label row, so the left join's right side is
    * dup-cluster-sized (broadcastable at web scale — near-dup clusters
    * are a small fraction of a deduped corpus); the split assignment
    * itself is a map-side hash with no RNG state, reproducible across
    * reruns and engines. The DuckDB oracle recomputes components by
    * recursive-CTE closure and the same md5 binning. */
  def leakageSafeSplit(spark: SparkSession, dir: String,
      threshold: Double = 0.5, seed: String = "split42"): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val reps = clusterReps(spark, dir, threshold)
      .select(col("doc_id"), col("rep_id"), col("cluster_size"))
    val bin = conv(substring(
      md5(concat(lit(seed + "|"), col("rep_id").cast("string"))), 1, 2), 16, 10)
      .cast("long")
    docs.join(reps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("bin", bin)
      .select(col("doc_id"), col("rep_id"), col("cluster_size"),
        when(col("bin") < 205, "train")
          .when(col("bin") < 230, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  def leakageSafeSplitSql(threshold: Double = 0.5, seed: String = "split42"): String = s"""
    WITH RECURSIVE ${componentCtes(threshold)},
    assigned AS (
      SELECT d.doc_id,
             COALESCE(c.rep_id, d.doc_id) AS rep_id,
             CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size
      FROM documents d
      LEFT JOIN comps c ON d.doc_id = c.doc_id
      LEFT JOIN sizes s ON s.rep_id = COALESCE(c.rep_id, d.doc_id)),
    binned AS (
      SELECT doc_id, rep_id, cluster_size,
             CAST('0x' || substr(md5('$seed|' || CAST(rep_id AS VARCHAR)), 1, 2) AS BIGINT) AS bin
      FROM assigned)
    SELECT doc_id, rep_id, cluster_size,
           CASE WHEN bin < 205 THEN 'train'
                WHEN bin < 230 THEN 'val'
                ELSE 'test' END AS split
    FROM binned ORDER BY doc_id"""

  /** The band rows an incremental index stores, keyed for pruning:
    * (doc_id, band, band_key, bh) with `bh` = portable md5-derived
    * int64 of the (band, band_key) pair — the manifest stats key the
    * snapshot table clusters on, so a batch probe prunes index FILES
    * by its band hashes. */
  private[graft] def indexBands(docs: DataFrame,
      numHashes: Int = 8, bandSize: Int = 2): DataFrame =
    bandedOf(docs, numHashes, bandSize)
      .withColumn("bh",
        TextFunctions.md5Long(concat_ws("|", col("band"), col("band_key"))))

  /** Incremental near-dup screening: verify a NEW batch of documents
    * against a STORED band index of the existing corpus — the daily
    * -crawl production shape, where re-banding the whole corpus per
    * batch (what [[minhashCandidatePairs]] does) is the cost you
    * amortize away. The index is a snapshot table of
    * [[indexBands]] rows clustered by the band hash `bh`; the probe
    *   1. bands ONLY the batch (the corpus is never re-tokenized —
    *      its banding cost was paid once at index build),
    *   2. reads the index through
    *      [[graft.sources.SnapshotTable.readKeys]] on the batch's
    *      band hashes (manifest file skipping: a small batch touches
    *      the few index files its hashes land in),
    *   3. equi-joins bucket keys, capping on the INDEX-side bucket
    *      size (same degenerate-band discipline as the batch pipeline;
    *      counts from the kept frame are EXACT because `bh` is a
    *      function of the bucket, so pruning keeps whole buckets),
    *   4. verifies candidates with full shingle-set Jaccard — the
    *      batch side tokenizes batch docs, the corpus side tokenizes
    *      ONLY candidate-matched docs (semi-join pushdown).
    * One row per verified (batch doc, corpus doc) pair:
    * (doc_id, dup_of, jaccard). The blind oracle re-derives the same
    * pairs from the raw corpus with the index recomputed inline. */
  def incrementalProbe(spark: SparkSession, dir: String, indexRoot: String,
      batchMod: Int = 5, threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    import graft.sources.SnapshotTable
    val batch = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % batchMod === 0)
      .transform(graft.Parallelism.ensure(spark))
    val newBands = indexBands(batch.select(col("doc_id"), col("text")))
      .cache()
      .transform(graft.CacheScope.register)
    // the batch's band-hash set: |batch|×numBands longs on the driver —
    // batch-sized, the same probe-key shape the streaming point-probe
    // path already bounds (readKeys range-prunes above its bloom cap)
    val keys = newBands.select(col("bh")).distinct()
      .collect().map(_.getLong(0))
    val kept = SnapshotTable.readKeys(spark, indexRoot, "bh", keys)
    val bsize = kept.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("c"))
    val cand = kept
      .select(col("doc_id").as("dup_of"), col("band"), col("band_key"))
      .join(bsize.filter(col("c") <= maxBucket), Seq("band", "band_key"))
      .join(newBands.select(col("doc_id"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .select(col("doc_id"), col("dup_of")).distinct()
      .cache()
      .transform(graft.CacheScope.register)
    // left_semi has set semantics — no distinct needed on the build side
    val newSh = batch
      .join(cand.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(shingles(TextFunctions.tokens(lower(col("text"))))).as("sh"))
    val oldSh = graft.Tables.documents(spark, dir)
      .join(cand.select(col("dup_of").as("doc_id")), Seq("doc_id"), "left_semi")
      .transform(graft.Parallelism.ensure(spark))
      .select(col("doc_id"),
        array_distinct(shingles(TextFunctions.tokens(lower(col("text"))))).as("sh"))
    cand
      .join(newSh.select(col("doc_id"), col("sh").as("sh_a")), Seq("doc_id"))
      .join(oldSh.select(col("doc_id").as("dup_of"), col("sh").as("sh_b")), Seq("dup_of"))
      .select(col("doc_id"), col("dup_of"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          .divide(size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_id"), col("dup_of"))
  }

  def incrementalProbeSql(batchMod: Int = 5, threshold: Double = 0.5,
      numHashes: Int = 8, bandSize: Int = 2, maxBucket: Int = 64): String = {
    s"""
    WITH ${bandingCtes(numHashes, bandSize)},
    oldb AS (SELECT * FROM bands WHERE doc_id % $batchMod <> 0),
    newb AS (SELECT * FROM bands WHERE doc_id % $batchMod = 0),
    bsize AS (SELECT band, band_key, COUNT(*) AS c FROM oldb GROUP BY band, band_key),
    cand AS (
      SELECT DISTINCT n.doc_id, o.doc_id AS dup_of
      FROM newb n
      JOIN oldb o ON n.band = o.band AND n.band_key = o.band_key
      JOIN bsize s ON s.band = o.band AND s.band_key = o.band_key
      WHERE s.c <= $maxBucket),
    shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM sh)
    SELECT c.doc_id, c.dup_of,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM cand c JOIN shd a ON c.doc_id = a.doc_id JOIN shd b ON c.dup_of = b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $threshold
    ORDER BY c.doc_id, c.dup_of"""
  }

  /** Benchmark decontamination: flag training documents that share any
    * word n-gram with a held-out evaluation split (here the deterministic
    * 1-in-`benchMod` slice of doc ids — in production the benchmark
    * table is a separate input). This is the standard "n-gram overlap"
    * test-set-leakage check run before LLM training.
    *
    * Scale shape: an inverted-index equi-join on the n-gram HASH (one
    * md5-derived int64 per distinct gram — longs shuffle, never gram
    * strings), grouped per training doc. The benchmark side is tiny
    * relative to the corpus, so AQE broadcasts it and the train-side
    * gram stream never shuffles; worst case it is one co-partitioned
    * join on the gram key. No O(n²) comparison anywhere. */
  def decontaminate(spark: SparkSession, dir: String,
      n: Int = 8, benchMod: Int = 20): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .transform(graft.Parallelism.ensure(spark))
      .select(col("doc_id"),
        array_distinct(shingles(TextFunctions.tokens(lower(col("text"))), n)).as("gs"))
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
        explode(col("gs")).as("g0"))
      .select(col("doc_id"), col("n_grams"), TextFunctions.md5Long(col("g0")).as("g"))
      // The gram stream feeds BOTH the bench index and the train probe;
      // without a materialization point the corpus is tokenized+shingled+
      // hashed twice (predicate pushdown splits the two consumers' plans
      // below any shared exchange, so ReuseExchange cannot dedup them).
      // Persist the hashed longs once — MEMORY_AND_DISK because the gram
      // stream is corpus-sized; at true scale this checkpoint would be a
      // written intermediate table, same plan shape.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val bench = grams.filter(col("doc_id") % benchMod === 0)
      .groupBy(col("g")).agg(min(col("doc_id")).as("bench_id"))
    grams.filter(col("doc_id") % benchMod =!= 0)
      .join(bench, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("n_grams")).as("n_grams"),
        min(col("bench_id")).as("min_bench_id"))
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        (col("n_shared").cast("double") / col("n_grams")).as("contamination"),
        col("min_bench_id"))
      .orderBy(col("doc_id"))
  }

  def decontaminateSql(n: Int = 8, benchMod: Int = 20): String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
    gsets AS (
      SELECT doc_id, list_distinct(CASE WHEN len(t) < $n THEN [array_to_string(t, ' ')]
             ELSE list_transform(generate_series(1, len(t) - ${n - 1}),
                                 i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' ')) END) AS gs
      FROM toks),
    grams AS (
      SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
             CAST('0x' || substr(md5(unnest(gs)), 1, 15) AS BIGINT) AS g
      FROM gsets),
    bench AS (
      SELECT g, MIN(doc_id) AS bench_id FROM grams WHERE doc_id % $benchMod = 0 GROUP BY g)
    SELECT t.doc_id, COUNT(*) AS n_shared, MIN(t.n_grams) AS n_grams,
           CAST(COUNT(*) AS DOUBLE) / MIN(t.n_grams) AS contamination,
           MIN(b.bench_id) AS min_bench_id
    FROM grams t JOIN bench b USING (g)
    WHERE t.doc_id % $benchMod <> 0
    GROUP BY t.doc_id ORDER BY t.doc_id"""

  /** SimHash (16-bit) per document: bit j is the sign of the sum over
    * tokens of ±1 according to bit j of the token's portable md5 hash.
    * Near-dup docs land on nearby/equal simhashes. */
  def simhash(spark: SparkSession, dir: String, bits: Int = 16): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .transform(graft.Parallelism.ensure(spark))
      .select(col("doc_id"), explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
      .select(col("doc_id"), TextFunctions.md5Long(col("tok")).as("h"))
    val bitSums = (0 until bits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j"))
    toks.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
      .orderBy(col("doc_id"))
  }

  def simhashSql(bits: Int = 16): String = {
    val bitSums = (0 until bits).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val assemble = (0 until bits).map(j =>
      s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END").mkString(" + ")
    s"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok FROM documents),
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
    bitsums AS (SELECT doc_id, $bitSums FROM hashed GROUP BY doc_id)
    SELECT doc_id, ($assemble) AS simhash FROM bitsums ORDER BY doc_id"""
  }

  /** n-gram Jaccard similarity for MinHash candidate pairs only (the
    * verify stage of the dedup pipeline): |A∩B| / |A∪B| over distinct
    * 3-gram shingles. Exact integer ratio → deterministic double.
    *
    * Scale shape: documents are SEMI-FILTERED to the candidate id set
    * before shingling, so the verify stage tokenizes only the (few)
    * docs that appear in some candidate pair; the candidate-pair frame
    * and the candidate shingle frame are cached (both bounded — see
    * inline comment) so the banding pipeline runs once per job, not
    * once per reference. The candidate id set is tiny, so AQE turns
    * the semi-join into a broadcast and the filter is applied map-side
    * on the scan. */
  def jaccardOnCandidates(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    // The candidate frame fans out three ways (pair spine, a-side id set,
    // b-side id set): without a materialization point each reference
    // re-runs the whole minhash→banding pipeline — several extra corpus
    // tokenization passes at scale. Both cached frames are BOUNDED: pairs
    // by the per-bucket cap (≤ numBands · C(maxBucket,2) rows per bucket),
    // shingle rows by the candidate id set. cache() is safe in a long
    // session for the same reason.
    val cand = minhashCandidatePairs(spark, dir)
      .select(col("id_a"), col("id_b")).distinct()
      .cache()
      .transform(graft.CacheScope.register)
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val docs = Tables.documents(spark, dir)
      .join(candIds, Seq("doc_id"), "left_semi")
      .transform(graft.Parallelism.ensure(spark))
      .select(col("doc_id"),
        array_distinct(shingles(TextFunctions.tokens(lower(col("text"))))).as("sh"))
      .cache()
      .transform(graft.CacheScope.register)
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          .divide(size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** EDIT-DISTANCE verify stage over the MinHash candidates — the
    * other classic verifier next to [[jaccardOnCandidates]]: token-set
    * Jaccard is blind to order (a shuffled boilerplate block scores
    * 1.0), Levenshtein is not. Distance is computed over a bounded
    * PREFIX of the normalized text: per-pair cost O(prefix²) instead
    * of O(len²) — the standard production bound that makes
    * quadratic-per-pair verification affordable when candidates are
    * already LSH-pruned (never all-pairs; same scale argument as the
    * Jaccard verifier, whose semi-filtered candidate-doc caching this
    * reuses). Both engines implement character-level unit-cost
    * Levenshtein, so the distances hash-compare exactly. */
  def fuzzyVerify(spark: SparkSession, dir: String, prefix: Int = 120,
      maxDist: Int = 30): DataFrame = {
    val cand = minhashCandidatePairs(spark, dir)
      .select(col("id_a"), col("id_b")).distinct()
      .cache()
      .transform(graft.CacheScope.register)
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val docs = Tables.documents(spark, dir)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        substring(trim(lower(col("text"))), 1, prefix).as("p"))
      .cache()
      .transform(graft.CacheScope.register)
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("p").as("pa")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("p").as("pb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
      .orderBy(col("id_a"), col("id_b"))
  }

  def fuzzyVerifySql(prefix: Int = 120, maxDist: Int = 30): String = s"""
    WITH cand AS (SELECT DISTINCT id_a, id_b
                  FROM (${minhashCandidatePairsSql().replace("ORDER BY 1, 2, 3", "")}) c),
    p AS (SELECT doc_id, substr(trim(lower(text)), 1, $prefix) AS p FROM documents)
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
    FROM cand c JOIN p a ON c.id_a = a.doc_id JOIN p b ON c.id_b = b.doc_id
    WHERE levenshtein(a.p, b.p) <= $maxDist
    ORDER BY id_a, id_b"""

  // --- span-level (substring) dedup ---------------------------------
  //
  // The one dedup granularity the doc-level family above cannot express:
  // duplicated PASSAGES inside otherwise-distinct documents (boilerplate
  // headers, license blocks, templated intros). The canonical treatment
  // is Lee et al. 2021, "Deduplicating Training Data Makes Language
  // Models Better": find every token span of length ≥ k that occurs more
  // than once in the corpus and remove it. Their suffix-array build is
  // single-node; the distributed re-expression below is the standard
  // MapReduce shape — k-token shingle positions, a global count on the
  // shingle hash, and an interval merge per document:
  //
  //   tokens → (doc, pos, hash(gram))   map-side, one md5 per gram
  //   duplicated grams                  groupBy(hash), partial aggs
  //   positions of duplicated grams     equi-join on hash (co-partitioned)
  //   merged spans                      per-doc window (docs are bounded)
  //
  // Two shuffles total (count + join), both on the 8-byte gram hash —
  // gram STRINGS never shuffle. At 100 TB the gram frame is corpus-sized
  // but the duplicated-hash set is the only thing joined back, and the
  // per-doc interval merge partitions by doc_id (bounded groups).

  /** (doc_id, p, g): the md5-derived int64 hash of the k-token gram
    * starting at 0-based token position p. Shared spine of
    * [[duplicateSpans]] / [[spanStripSummary]]; persisted by callers
    * because it feeds both the global count and the position probe. */
  private def gramPositions(spark: SparkSession, dir: String, k: Int): DataFrame =
    Tables.documents(spark, dir)
      .transform(graft.Parallelism.ensure(spark))
      .select(col("doc_id"), TextFunctions.tokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("t")) - k),
          i => TextFunctions.md5Long(concat_ws(" ", slice(col("t"), i + 1, lit(k)))))))
      .toDF("doc_id", "p", "g")

  /** Gram hashes that occur more than once anywhere in the corpus
    * (cross-document or repeated within one document — both are
    * duplication per Lee et al.). */
  private def duplicatedGrams(grams: DataFrame): DataFrame =
    grams.groupBy(col("g"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("g"))

  /** Maximal duplicated spans per document: every token interval covered
    * by duplicated k-grams, with overlapping/adjacent intervals merged
    * (classic gaps-and-islands over a per-doc window). One row per span:
    * (doc_id, span_start, span_end, span_tokens), positions 0-based
    * inclusive. */
  def duplicateSpans(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = gramPositions(spark, dir, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val hits = grams.join(duplicatedGrams(grams), Seq("g"))
      .select(col("doc_id"), col("p").cast("long").as("s"),
        (col("p") + (k - 1)).cast("long").as("e"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    hits
      .withColumn("brk",
        when(col("s") > coalesce(
          max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(-2L)) + 1, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  def duplicateSpansSql(k: Int = 8): String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
    pos AS (
      SELECT doc_id, unnest(generate_series(1, len(t) - ${k - 1})) - 1 AS p, t
      FROM toks WHERE len(t) >= $k),
    grams AS (
      SELECT doc_id, p,
             CAST('0x' || substr(md5(array_to_string(
               list_slice(t, CAST(p + 1 AS INT), CAST(p + $k AS INT)), ' ')), 1, 15) AS BIGINT) AS g
      FROM pos),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1),
    hits AS (SELECT gr.doc_id, CAST(gr.p AS BIGINT) AS s, CAST(gr.p + ${k - 1} AS BIGINT) AS e
             FROM grams gr JOIN dup USING (g)),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM hits),
    islands AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked)
    SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end,
           MAX(e) - MIN(s) + 1 AS span_tokens
    FROM islands GROUP BY doc_id, island
    ORDER BY doc_id, span_start"""

  /** Per-doc (doc_id, total_tokens, dup_tokens, kept) where `kept` is
    * the lowercased text with duplicated spans stripped — the shared
    * spine of [[spanStripSummary]] and [[stripSpans]]. Covered
    * positions come from exploding each duplicated gram hit into its k
    * positions — a bounded k× expansion — then an equi-join against
    * token positions; the ordered re-concat groups per doc (bounded). */
  private def strippedDocs(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val grams = gramPositions(spark, dir, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val cov = grams.join(duplicatedGrams(grams), Seq("g"))
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (k - 1))).as("q"))
      .distinct()
      .withColumn("covered", lit(true))
    val tokpos = Tables.documents(spark, dir)
      .transform(graft.Parallelism.ensure(spark))
      .select(col("doc_id"), posexplode(TextFunctions.tokens(lower(col("text")))))
      .toDF("doc_id", "q", "tok")
    tokpos.join(cov, Seq("doc_id", "q"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("total_tokens"),
        count(col("covered")).as("dup_tokens"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("covered").isNull,
            struct(col("q"), col("tok"))))),
          kv => kv.getField("tok"))).as("kept"))
  }

  /** The removal half of span dedup: per document, how many tokens sit
    * inside duplicated spans and the md5 of the text with those tokens
    * stripped (the cleaned training document). */
  def spanStripSummary(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    strippedDocs(spark, dir, k)
      .select(col("doc_id"), col("total_tokens"), col("dup_tokens"),
        (col("dup_tokens").cast("double") / col("total_tokens")).as("dup_ratio"),
        md5(to_binary(col("kept"), lit("utf-8"))).as("kept_md5"))
      .orderBy(col("doc_id"))

  /** The cleaned corpus itself: (doc_id, text) with every duplicated
    * span removed (lowercased, single-space re-joined) — the frame a
    * training pipeline feeds to chunking/packing after span dedup.
    * Documents stripped to nothing are DROPPED (an all-boilerplate doc
    * contributes no training text). Same plan as [[spanStripSummary]];
    * md5(text) here equals that query's kept_md5 row for row
    * (cross-checked in VectorSpec). */
  def stripSpans(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    strippedDocs(spark, dir, k)
      .filter(length(col("kept")) > 0)
      .select(col("doc_id"), col("kept").as("text"))

  def spanStripSummarySql(k: Int = 8): String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
    pos AS (
      SELECT doc_id, unnest(generate_series(1, len(t) - ${k - 1})) - 1 AS p, t
      FROM toks WHERE len(t) >= $k),
    grams AS (
      SELECT doc_id, p,
             CAST('0x' || substr(md5(array_to_string(
               list_slice(t, CAST(p + 1 AS INT), CAST(p + $k AS INT)), ' ')), 1, 15) AS BIGINT) AS g
      FROM pos),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1),
    cov AS (SELECT DISTINCT gr.doc_id, gr.p + u.i AS q
            FROM grams gr JOIN dup USING (g),
                 LATERAL (SELECT unnest(generate_series(0, ${k - 1})) AS i) u),
    tokpos AS (
      SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS q FROM toks),
    kept AS (
      SELECT tp.doc_id,
             CAST(COUNT(*) AS BIGINT) AS total_tokens,
             CAST(COUNT(*) FILTER (WHERE c.q IS NOT NULL) AS BIGINT) AS dup_tokens,
             md5(COALESCE(string_agg(CASE WHEN c.q IS NULL THEN tp.tok END,
                                     ' ' ORDER BY tp.q), '')) AS kept_md5
      FROM tokpos tp LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.q = c.q
      GROUP BY tp.doc_id)
    SELECT doc_id, total_tokens, dup_tokens,
           CAST(dup_tokens AS DOUBLE) / total_tokens AS dup_ratio, kept_md5
    FROM kept ORDER BY doc_id"""

  /** SemDeDup (Abbas et al. 2023) re-expressed distributed: semantic
    * near-duplicate removal in EMBEDDING space, bounded by a learned
    * k-means clustering — the scale path the brute/LSH pair search
    * (`vec_dup_pairs`) can't take to 100 TB. Pipeline: Lloyd k-means
    * ([[KMeans.fit]] — broadcast centroids, O(k·dim) model), map-side
    * assignment, WITHIN-CLUSTER pairwise cosine ≥ threshold (pair cost
    * Σ sᵢ² over cluster sizes, never n²), then the greedy min-id keep
    * rule: a vector is dropped iff some same-cluster near-duplicate has
    * a smaller id. Clustering and scores are deterministic (KMeans
    * rounds centroids to 9 dp; cosine rounded to 6 dp).
    *
    * The kept/dropped partition depends on the learned clustering, so
    * it is engine-private; the driver gate reduces the run to its
    * CONTRACT invariants (each computed from the data, not asserted):
    *   - `part_ok`: cluster sizes sum to n_vectors with ≤ k non-empty
    *     clusters (assignment is a partition);
    *   - `greedy_ok`: no surviving pair — for u<v with cos ≥ τ in one
    *     cluster, v is by definition dropped, so a kept-kept pair is
    *     impossible; the query RECOMPUTES the check (count = 0) rather
    *     than asserting it;
    *   - `scores_ok`: every emitted pair clears the threshold (min
    *     over the pair frame, vacuously true when no pairs).
    * The quality pin (recovered fraction of brute-force pairs, exact
    * kept set on a planted-duplicates corpus) lives in VectorSpec /
    * AnnQualitySpec — observed behavior belongs in specs, contract
    * invariants in the gate. */
  private def rawEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))

  /** Shared spine: k-means assignment + within-cluster duplicate pairs
    * over an (vec_id, v) frame. Both frames persist once for their
    * multiple consumers (pair sides, counts, keep anti-join). */
  private def semanticSpine(spark: SparkSession, emb: DataFrame, k: Int,
      iters: Int, threshold: Double): (DataFrame, DataFrame) = {
    val centroids = KMeans.fit(spark, emb, k, iters)
    // the vector NORM is precomputed once per vector into the persisted
    // frame: the pairwise stage's cosine(va, vb) used to evaluate THREE
    // dot products per candidate pair (dot(va,vb), dot(va,va),
    // dot(vb,vb) — the norms recomputed for every partner); carrying
    // sqrt(dot(v,v)) costs one dot per VECTOR and one extra double per
    // joined row, and the pair stage drops to one dot product — ~3× less
    // work in the O(Σ sᵢ²) term that dominates this operator (guide
    // §1.2: don't recompute what you can carry). Bit-identical scores:
    // nrm IS sqrt(dot(v,v)) — the same double the inline form produced —
    // and the division/multiplication tree is unchanged.
    val assigned = KMeans.assign(emb, centroids)
      .withColumn("nrm", VectorOps.l2Norm(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val a = assigned.select(col("list_id"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("list_id"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("list_id"), col("id_a"), col("id_b"),
        round(VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("score"))
      .filter(col("score") >= threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    (assigned, pairs)
  }

  /** The kept-vector frame (vec_id) of semantic dedup over the RAW
    * embeddings table — the actual output a pipeline consumes
    * downstream (same reusable-output discipline as `stripSpans`). */
  def semanticKept(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2, threshold: Double = 0.85): DataFrame = {
    val (assigned, pairs) = semanticSpine(spark, rawEmbeddings(spark, dir), k, iters, threshold)
    assigned.select(col("vec_id"))
      .join(pairs.select(col("id_b").as("vec_id")).distinct(), Seq("vec_id"), "left_anti")
  }

  /** Driver gate for [[semanticKept]]'s spine, over the embeddings
    * table AUGMENTED with deterministic exact copies (vec_id % 50 == 0
    * re-added as vec_id + 1,000,000) so the dedup has planted truth to
    * find — the pii-scrub probe-injection discipline applied to
    * vectors. `n_dropped` is an EXACT cross-engine column, not just an
    * invariant: identical vectors are assigned to the same cluster
    * deterministically (equal distances, ordered tie-break), so every
    * planted pair is found regardless of what k-means learned, and the
    * corpus carries no other pairs at this threshold (max inter-vector
    * cosine ≈ 0.60 across all SFs, verified; the oracle recomputes the
    * brute pair set blind, so a generator change that ever introduced
    * sub-identical near-dups would surface as a loud hash diff to
    * adjudicate, not a silent pass). Booleans are contract invariants
    * RECOMPUTED from the run: partition totals, no surviving kept-kept
    * pair, every pair clears the threshold. */
  def semanticDedup(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2, threshold: Double = 0.85): DataFrame = {
    val base = rawEmbeddings(spark, dir)
    val emb = base.unionByName(
      base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("v")))
    val (assigned, pairs) = semanticSpine(spark, emb, k, iters, threshold)
    val dropped = pairs.select(col("id_b").as("vec_id")).distinct()
    val kept = assigned.select(col("vec_id")).join(dropped, Seq("vec_id"), "left_anti")
    // the five contract aggregates UNION into one collected plan —
    // the crossJoin(broadcast(oneRow)) form dispatched a broadcast
    // subquery per aggregate (r18 census: this gate was the board's
    // top job count). All frames below ride the spine's two persisted
    // frames, so the union evaluates each branch once. sz_sum IS
    // n_vectors (both count the assigned frame); the partition checks
    // with content are n_nonempty <= k and kept + dropped = total.
    val nullL = lit(null).cast("long")
    val nullD = lit(null).cast("double")
    val tagged = Seq(
      assigned.groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("a"), sum(col("sz")).as("b"))
        .select(lit("part").as("t"), col("a"), col("b"), nullD.as("s")),
      kept.agg(count(lit(1)).as("a"))
        .select(lit("kept").as("t"), col("a"), nullL.as("b"), nullD.as("s")),
      dropped.agg(count(lit(1)).as("a"))
        .select(lit("drop").as("t"), col("a"), nullL.as("b"), nullD.as("s")),
      pairs.join(kept.withColumnRenamed("vec_id", "id_b"), Seq("id_b"), "left_semi")
        .agg(count(lit(1)).as("a"))
        .select(lit("viol").as("t"), col("a"), nullL.as("b"), nullD.as("s")),
      pairs.agg(min(col("score")).as("s"))
        .select(lit("score").as("t"), nullL.as("a"), nullL.as("b"), col("s"))
    ).reduce(_ unionAll _).collect().map(r => r.getString(0) -> r).toMap
    // sum over zero groups is NULL — an empty embeddings input must
    // surface as the named invariant failure below, not an NPE here
    def longAt(tag: String, i: Int): Long =
      if (tagged(tag).isNullAt(i)) 0L else tagged(tag).getLong(i)
    val nNonempty = longAt("part", 1)
    val nVectors = longAt("part", 2)
    val nKept = longAt("kept", 1)
    val nDropped = longAt("drop", 1)
    val nViol = longAt("viol", 1)
    val minScore = if (tagged("score").isNullAt(3)) None
      else Some(tagged("score").getDouble(3))
    val partOk = nNonempty <= k && nKept + nDropped == nVectors
    val greedyOk = nViol == 0L
    val scoresOk = minScore.forall(_ >= threshold)
    // throw-on-false discipline: a violated contract names itself in
    // the correctness artifact's err field instead of hash-mismatching
    if (!partOk || !greedyOk || !scoresOk) throw new IllegalStateException(
      s"dedup_semantic invariants failed: part_ok=$partOk ($nNonempty clusters, " +
        s"$nKept+$nDropped of $nVectors), greedy_ok=$greedyOk ($nViol kept-kept " +
        s"pairs), scores_ok=$scoresOk (min=$minScore, threshold=$threshold)")
    import spark.implicits._
    Seq((nVectors, nDropped, partOk, greedyOk, scoresOk))
      .toDF("n_vectors", "n_dropped", "part_ok", "greedy_ok", "scores_ok")
  }

  def semanticDedupSql(threshold: Double = 0.85): String = s"""
    WITH aug AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings
      WHERE vec_id % 50 = 0),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM aug a JOIN aug b ON a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
            >= $threshold)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM aug) AS n_vectors,
           (SELECT CAST(COUNT(DISTINCT id_b) AS BIGINT) FROM pairs) AS n_dropped,
           TRUE AS part_ok, TRUE AS greedy_ok, TRUE AS scores_ok"""

  def jaccardOnCandidatesSql(threshold: Double = 0.5): String = s"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
    sh AS (
      SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_transform(generate_series(1, len(t) - 2),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' ')) END) AS sh
      FROM toks),
    cand AS (SELECT DISTINCT id_a, id_b FROM (${minhashCandidatePairsSql().replace("ORDER BY 1, 2, 3", "")}) c)
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $threshold
    ORDER BY id_a, id_b"""
}
