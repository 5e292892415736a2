package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.chunk.Chunking
import graft.geom.ConnectedComponents
import graft.text.TextFunctions
import graft.vector.{Dedup, VectorOps}

/** High-level ETL pipeline API — the user-facing equivalent of the
  * reference's `ETLProcessor.perform_etl` (etl_processor.py:171-207):
  * scan → normalize → chunk → annotate → fingerprint → index build, as
  * one lazy DataFrame DAG instead of a per-file Python loop
  * (SURVEY.md §3.1 "Spark engine equivalent").
  *
  * Config mirrors the reference's config tree (config/manager.py +
  * config.json): chunk size/overlap, header levels, dedup, distance.
  */
object Pipeline {

  /** Mirrors config.json:33-41 (scaled to the testdata's short docs).
    * `splitter` is the reference's TextSplitterName switch
    * (chunking_manager.py:63-76): markdown | recursive | semantic |
    * sentence. */
  final case class EtlConfig(
      splitter: String = "recursive",
      chunkSize: Int = 200,
      chunkOverlap: Int = 50,
      headerLevels: Int = 4,
      minhashHashes: Int = 8,
      minhashBandSize: Int = 2,
      distance: String = "cosine", // | "euclid" (index_manager.py:111)
      // the reference's retrieval_mode switch (index_manager.py:317-319,
      // threaded from etl_processor.py:55-56): dense (vector top-k) |
      // sparse (BM25 over the text) | hybrid (reciprocal-rank fusion
      // of both). `queryTerms` is the sparse/hybrid query's term set
      // (dense addresses the query by its embedding row instead).
      retrievalMode: String = "dense",
      queryTerms: Seq[String] = Seq.empty,
      // dense-vector source: "table" joins the precomputed embeddings
      // table; "hashing" runs real batched inference (HashingEmbedder)
      // over each document — the injected-model seam the reference has
      // at config/manager.py:179-182
      embedder: String = "table",
      // drop exact-dup and near-dup non-representatives before indexing
      // (the training-data cleanup pass; J2 delete-then-add extended to
      // whole near-dup clusters)
      dropDups: Boolean = false,
      nearDupThreshold: Double = 0.5,
  )

  /** Doc ids the dedup pass REMOVES from the corpus: members of exact
    * duplicate groups other than the group's minimum doc_id, plus
    * non-representative members of near-dup clusters (the ids
    * [[Dedup.clusterReps]] marks keep=false). One column `doc_id`.
    *
    * One corpus pass: the documents are read once into a cached
    * per-document frame (doc_id, fp = fingerprint, sig = MinHash
    * signatures), and both halves read that frame.
    *  - Exact: `doc_id ≠ min(doc_id)` over each `fp`; a null `fp` (null
    *    text) never groups.
    *  - Near: the frame's bands (`cfg.minhashHashes` signatures in
    *    bands of `cfg.minhashBandSize`) feed the same bucket pairs as
    *    [[Dedup.minhashCandidatePairs]], the [[Dedup.jaccardOnCandidates]]
    *    verify stage (the only other read of the documents, semi-filtered
    *    to candidate docs) gives the edges, and a node whose label
    *    propagation component is not itself is dropped. */
  def droppedDocIds(spark: SparkSession, dir: String,
      cfg: EtlConfig = EtlConfig()): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .transform(Parallelism.ensure(spark))
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"),
        Dedup.signatures(col("text"), cfg.minhashHashes).as("sig"))
      .cache()
      .transform(CacheScope.register)
    val exactDrops = perDoc
      .filter(col("fp").isNotNull)
      .select(col("doc_id"),
        min(col("doc_id")).over(Window.partitionBy(col("fp"))).as("keep_doc_id"))
      .filter(col("doc_id") =!= col("keep_doc_id"))
      .select(col("doc_id"))
    val candidates = Dedup.bucketPairs(Dedup.bandsOf(perDoc.select(col("doc_id"), col("sig")),
      cfg.minhashHashes, cfg.minhashBandSize))
    val edges = Dedup.verifiedPairs(spark, dir, candidates, cfg.nearDupThreshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val nearDrops = ConnectedComponents.labelPropagation(spark, edges)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    exactDrops.unionByName(nearDrops).distinct()
  }

  /** Chunks table: (doc_id, chunk_idx, chunk, n_tokens, fingerprint) —
    * the reference's per-document chunk list with ChunkMetadata
    * (chunking_manager.py:159-176), fully columnar. The splitter
    * dispatch mirrors ChunkingManager.build_splitter: every branch
    * yields the same schema so downstream stages are
    * splitter-agnostic. */
  def buildChunks(spark: SparkSession, dir: String, cfg: EtlConfig = EtlConfig()): DataFrame = {
    val chunks = cfg.splitter match {
      case "markdown" =>
        Tables.documents(spark, dir)
          .filter(length(col("text")) > 0)
          .select(col("doc_id"),
            posexplode(Chunking.headerChunks(
              TextFunctions.normalize(col("text")), cfg.headerLevels))
              .as(Seq("chunk_idx", "chunk")))
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk"))
      case "semantic" =>
        graft.chunk.SemanticChunker
          .semanticChunkTable(spark, dir, minChunk = cfg.chunkSize / 3)
          .select(col("doc_id"), col("chunk_idx"), col("chunk"))
      case "sentence" =>
        // tokens_per_chunk = chunk_size (chunking_manager.py:73-76)
        graft.chunk.TokenWindows
          .tokenWindowTable(spark, dir, cfg.chunkSize, cfg.chunkOverlap)
          .select(col("doc_id"), col("chunk_idx"), concat_ws(" ", col("w")).as("chunk"))
      case _ =>
        Chunking.chunkTable(Tables.documents(spark, dir), cfg.chunkSize, cfg.chunkOverlap)
          .select(col("doc_id"), col("chunk_idx"), col("chunk"))
    }
    chunks.select(col("doc_id"), col("chunk_idx"), col("chunk"),
      TextFunctions.tokenCount(col("chunk")).as("n_tokens"),
      TextFunctions.fingerprint(col("chunk")).as("fingerprint"))
  }

  /** Index-point table (FIXTURES.md index_point shape): chunk text +
    * dense vector (joined from embeddings on doc_id) + metadata —
    * what the reference pushes into Qdrant/FAISS
    * (index_manager.py:110-127), as a partitionable parquet-ready
    * DataFrame. */
  def buildIndex(spark: SparkSession, dir: String, cfg: EtlConfig = EtlConfig()): DataFrame = {
    // With dropDups, dedup non-representatives are dropped from the
    // chunk stream before anything downstream (embedding join, index
    // rows). The drop set is tiny relative to the corpus (bounded by
    // the near-dup candidate set), so the anti-join broadcasts.
    val chunks =
      if (cfg.dropDups)
        buildChunks(spark, dir, cfg)
          .join(droppedDocIds(spark, dir, cfg), Seq("doc_id"), "left_anti")
      else buildChunks(spark, dir, cfg)
    val emb = cfg.embedder match {
      case "hashing" =>
        val docs = Tables.documents(spark, dir)
        graft.vector.HashingEmbedder.embed(spark, docs,
          graft.vector.HashingEmbedder.train(spark, docs))
      case _ => Tables.embeddings(spark, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
    }
    chunks
      .join(emb, Seq("doc_id"), "left")
      .select(
        concat_ws("_", col("doc_id"), col("chunk_idx")).as("id"),
        col("chunk").as("text"),
        col("embedding").as("dense"),
        struct(col("doc_id"), col("chunk_idx"), col("n_tokens"), col("fingerprint")).as("metadata"))
  }

  /** Upsert a batch of re-processed documents into an existing index —
    * the reference's delete-then-add (J2, index_manager.py:347-368).
    * Keyed by DOCUMENT, not chunk id: reprocessing a document deletes
    * ALL of its existing points first (so a doc that now yields fewer
    * chunks leaves no stale tail chunks), then inserts the new ones. */
  def upsertIndex(existing: DataFrame, updates: DataFrame): DataFrame = {
    val docs = updates.select(col("metadata.doc_id").as("upd_doc_id")).distinct()
    existing
      .join(docs, col("metadata.doc_id") === col("upd_doc_id"), "left_anti")
      .unionByName(updates)
  }

  /** [[upsertIndex]] against a persistent, versioned index: the same
    * delete-then-add lands as ONE atomic [[graft.sources.SnapshotTable]]
    * commit, so concurrent reprocessing jobs serialize instead of
    * clobbering each other's parquet, and any historical index version
    * stays queryable (time travel). Returns the committed version. */
  def upsertIndexSnapshot(spark: SparkSession, indexRoot: String,
      updates: DataFrame): Int =
    graft.sources.SnapshotTable.merge(spark, indexRoot, updates, "metadata.doc_id")

  /** Dedup report over the corpus: exact groups + near-dup candidates,
    * the cleanup pass a training-data pipeline runs before indexing. */
  def dedupReport(spark: SparkSession, dir: String, cfg: EtlConfig = EtlConfig()): DataFrame = {
    val exact = Dedup.exactDupGroups(spark, dir)
      .select(lit("exact").as("kind"), col("keep_doc_id").as("id_a"),
        col("n_docs").cast("long").as("weight"))
    val near = Dedup.minhashCandidatePairs(spark, dir, cfg.minhashHashes, cfg.minhashBandSize)
      .groupBy(col("id_a")).agg(countDistinct(col("id_b")).as("weight"))
      .select(lit("near").as("kind"), col("id_a"), col("weight"))
    exact.unionByName(near).orderBy(col("kind"), col("id_a"))
  }

  /** Retrieval over the built index, dispatched on the config's
    * `retrievalMode` — the reference's per-app retrieval switch
    * (index_manager.py:317-319, threaded from etl_processor.py:55-56):
    *  - dense: vector top-k (distance per `distance` —
    *    index_manager.py:111);
    *  - sparse: BM25 over the corpus text (`queryTerms`);
    *  - hybrid: reciprocal-rank fusion of both rankings.
    * Each mode returns exactly its standalone operator's ranking
    * (PipelineSpec pins the equivalence), so the seam adds dispatch,
    * never a second implementation. */
  def search(spark: SparkSession, dir: String, queryId: Long, k: Int,
      cfg: EtlConfig = EtlConfig()): DataFrame =
    cfg.retrievalMode match {
      case "sparse" =>
        require(cfg.queryTerms.nonEmpty, "sparse retrieval needs cfg.queryTerms")
        graft.vector.Bm25.bm25TopK(spark, dir, cfg.queryTerms, k)
      case "hybrid" =>
        require(cfg.queryTerms.nonEmpty, "hybrid retrieval needs cfg.queryTerms")
        graft.vector.Bm25.hybridRrf(spark, dir, cfg.queryTerms, queryId, k)
      case "dense" => cfg.distance match {
        case "euclid" => VectorOps.l2TopK(spark, dir, queryId, k)
        case _ => VectorOps.cosineTopK(spark, dir, queryId, k)
      }
      case other => throw new IllegalArgumentException(
        s"unknown retrieval_mode '$other' (dense | sparse | hybrid)")
    }
}
