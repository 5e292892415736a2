package graft.chunk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextFunctions

/** Chunking operators — the reference's table-generating surface
  * (SURVEY.md §2.9; /root/reference/src/managers/chunking_manager.py).
  *
  * Two tiers:
  *   - SQL-expressible chunkers (fixed-stride C2 surrogate, markdown
  *     header split C1) built from `sequence`/`transform`/`substring` /
  *     `posexplode` so they stay declarative, distribute trivially
  *     (one row in, N rows out, no shuffle), and can be DuckDB-verified.
  *   - the faithful boundary-aware recursive splitter, implemented as a
  *     pure Scala function applied via Dataset.flatMap
  *     (see [[RecursiveSplitter]]), property-tested instead of
  *     oracle-checked.
  */
object Chunking {

  /** C2 surrogate: fixed-stride chunking with overlap
    * (chunking_manager.py:67-70; size/overlap from config.json:36-37 —
    * scaled down so the testdata's short docs produce multiple chunks).
    * Emits (chunk_idx, chunk_text) pairs per input row via a single
    * generator expression — no shuffle, no driver involvement.
    */
  def fixedStrideChunks(text: Column, size: Int, overlap: Int): Column = {
    require(overlap < size, "overlap must be < size")
    val stride = size - overlap
    transform(
      sequence(lit(0), greatest(length(text) - 1, lit(0)), lit(stride)),
      start => substring(text, (start + 1).cast("int"), lit(size))
    )
  }

  /** Chunk-level frame: doc_id, chunk_idx, chunk text, chunk length.
    *
    * Each document is normalized once: the normalized text is
    * materialized behind the same Generate barrier [[chunkStats]] uses,
    * and every chunk slices that one string. Passing the normalize
    * chain straight into [[fixedStrideChunks]]' `transform` lambda
    * would re-run its seven regex passes once per chunk slot plus once
    * for the length — lambdas get no common-subexpression elimination. */
  def chunkTable(docs: DataFrame, size: Int = 200, overlap: Int = 50): DataFrame =
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(array(TextFunctions.normalize(col("text")))).as("norm"))
      .select(col("doc_id"),
        posexplode(fixedStrideChunks(col("norm"), size, overlap)).as(Seq("chunk_idx", "chunk")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk"),
        length(col("chunk")).cast("long").as("chunk_len"),
      )

  /** §7.2 flagship slice: normalize → chunk → per-doc stats.
    *
    * Chunk TEXT never exists in this plan: fixed-stride chunk lengths
    * are closed-form in the normalized document length
    * (len_i = min(size, L − i·stride)), so the stats come from integer
    * arithmetic over the start sequence — no substring materialization,
    * no per-chunk explode, no aggregation shuffle. The one expensive
    * expression (normalize → L) is materialized behind a Generate
    * barrier so it runs once per document, not once per chunk slot.
    * Values are identical to aggregating [[chunkTable]]. */
  def chunkStats(docs: DataFrame, size: Int = 200, overlap: Int = 50): DataFrame = {
    require(overlap < size, "overlap must be < size")
    val stride = (size - overlap).toLong
    val lens = transform(
      sequence(lit(0L), greatest(col("L") - 1L, lit(0L)), lit(stride)),
      start => least(lit(size.toLong), col("L") - start))
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(array(length(TextFunctions.normalize(col("text"))).cast("long"))).as("L"))
      .select(col("doc_id"), lens.as("lens"))
      .select(
        col("doc_id"),
        org.apache.spark.sql.functions.size(col("lens")).cast("long").as("n_chunks"),
        aggregate(col("lens"), lit(0L), _ + _).as("sum_chars"),
        array_max(col("lens")).as("max_chunk"),
      )
      .orderBy(col("doc_id"))
  }

  /** C1: markdown header split. RE2 (the oracle's regex engine) has no
    * lookahead, so instead of split-on-`(?=^#)` both engines mark header
    * starts with a  sentinel and split on it — identical arrays on
    * both sides (chunking_manager.py:63-66).
    */
  def headerChunks(text: Column, maxLevel: Int = 4): Column = {
    val marked = regexp_replace(text, s"(?m)^(#{1,$maxLevel} )", "\u0001$1")
    filter(split(marked, "\u0001"), c => length(c) > 0)
  }

  /** Header level (0 = preamble chunk without a heading). */
  def headerLevel(chunk: Column): Column =
    length(regexp_extract(chunk, "^(#{1,6}) ", 1)).cast("long")

  /** Heading text of a chunk ("" for preamble). */
  def headerTitle(chunk: Column): Column =
    regexp_extract(chunk, "^#{1,6} ([^\n]*)", 1)

  /** Content-defined chunking (CDC): boundaries where the k-gram
    * rolling hash ≡ 0 (mod divisor) — the shift-resistant chunking used
    * for dedup-friendly storage (an insertion only remints the chunks
    * it touches, unlike fixed-stride). Boundary positions come from the
    * same Rabin-Karp window hash as text_rolling_hash; chunks are the
    * substrings between consecutive boundaries. Pure higher-order
    * expressions, oracle-expressible. */
  def cdcChunks(text: Column, k: Int = 8, divisor: Int = 64): Column = {
    val n = length(text)
    val hashAt = (i: Column) => aggregate(
      transform(sequence(lit(0), lit(k - 1)),
        j => ascii(text.substr((i + j).cast("int"), lit(1))).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31 + x) % 2147483647L)
    // candidate boundary AFTER position i+k-1 when window hash divides
    val bounds = filter(
      sequence(lit(1), greatest(n - (k - 1), lit(1))),
      i => hashAt(i) % divisor === 0)
    // chunk spans: [prev_end+1, boundary+k-1], final chunk to n
    val ends = array_sort(array_distinct(
      concat(transform(bounds, b => b + (k - 1)), array(n.cast("long")))))
    val starts = concat(array(lit(0L)),
      slice(ends, lit(1), greatest(size(ends) - 1, lit(0))))
    zip_with(starts, ends,
      (start, end) => text.substr((start + 1).cast("int"), (end - start).cast("int")))
  }

  /** True rolling-recurrence form of [[cdcChunks]] — O(n) per document
    * instead of O(n·k): the window hash advances by
    * `h' = ((h - cp_out·31^(k-1))·31 + cp_in) mod 2^31-1` per position.
    * Exactly replicates the expression form's semantics, including its
    * quirks: positions are code points (Spark substr/DuckDB substr
    * agree), a position past the end contributes 0 (Spark `ascii('')`),
    * and short-document boundary ends may exceed n (clamped at
    * extraction, which can emit an empty trailing chunk — both engines
    * agree). The driver gate + CdcSpec equivalence test prove
    * rolling == expression == oracle. */
  def cdcChunksRolling(text: String, k: Int = 8, divisor: Int = 64): Vector[String] = {
    val M = 2147483647L
    val cps = text.codePoints().toArray
    val n = cps.length
    def cp(idx0: Int): Long = if (idx0 >= 0 && idx0 < n) cps(idx0).toLong else 0L
    var pow = 1L
    var j = 1
    while (j < k) { pow = (pow * 31) % M; j += 1 }
    var h = 0L
    j = 0
    while (j < k) { h = (h * 31 + cp(j)) % M; j += 1 }
    val maxI = math.max(n - (k - 1), 1)
    val ends = scala.collection.mutable.SortedSet.empty[Long]
    var i = 1
    while (i <= maxI) {
      if (h % divisor == 0) ends += (i + k - 1).toLong
      // slide: drop cp(i-1), take cp(i-1+k)
      val sub = (h - (cp(i - 1) * pow) % M + M) % M
      h = (sub * 31 + cp(i - 1 + k)) % M
      i += 1
    }
    ends += n.toLong
    val out = Vector.newBuilder[String]
    var start = 0L
    ends.foreach { end =>
      val s = math.min(start, n.toLong).toInt
      val e = math.min(end, n.toLong).toInt
      out += new String(cps, s, math.max(e - s, 0))
      start = end
    }
    out.result()
  }

  /** C1 hierarchical header-path metadata (the reference's
    * headers-as-metadata semantic, chunking_manager.py:160-164): for
    * every chunk, the ACTIVE heading at each level 1..maxLevel — a
    * heading is active if no lower-numbered heading appeared after it.
    * Pure window algebra: per level, the latest (chunk_idx, title) is
    * tracked as a max over a zero-padded sortable encoding (portable to
    * the DuckDB oracle, where struct-max isn't), and invalidation
    * compares positions. */
  def headerPaths(chunks: DataFrame, maxLevel: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("chunk_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withPaths = (1 to maxLevel).foldLeft(chunks) { (df, l) =>
      val enc = max(when(col("header_level") === l,
        concat(format_string("%012d|", col("chunk_idx")), col("header_title")))).over(w)
      val lowerPos = max(when(col("header_level") < l && col("header_level") > 0,
        col("chunk_idx"))).over(w)
      val pos = substring(enc, 1, 12).cast("long")
      df.withColumn(s"h$l",
        when(enc.isNotNull && (lowerPos.isNull || pos > lowerPos),
          substring(enc, 14, 1000000)).otherwise(lit("")))
    }
    withPaths.select(
      (Seq(col("doc_id"), col("chunk_idx")) ++ (1 to maxLevel).map(l => col(s"h$l"))): _*)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** C5-style annotation on the chunk table: per-doc chunk index and
    * token count (chunking_manager.py:159-176). Uses posexplode's
    * position — no window shuffle needed. */
  def annotatedHeaderChunks(docs: DataFrame, maxLevel: Int = 4): DataFrame =
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), posexplode(headerChunks(TextFunctions.normalize(col("text")), maxLevel)).as(Seq("chunk_idx", "chunk")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        headerLevel(col("chunk")).as("header_level"),
        headerTitle(col("chunk")).as("header_title"),
        TextFunctions.tokenCount(col("chunk")).as("n_tokens"),
        length(col("chunk")).cast("long").as("chunk_len"),
      )
}
