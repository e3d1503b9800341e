package graft.operators

import org.apache.spark.sql.DataFrame

import graft.index.{IndexConfig, VectorIndex}

/** Workflow composition — the engine face of txtai's workflow configs
  * (reference README.md:30-43: an index workflow `[nop, transform]` →
  * batched Weaviate sink, and a search workflow `transform` → search
  * action).
  *
  * In a DataFrame engine a "workflow" is just function composition over
  * lazy plans: stages are `DataFrame => DataFrame`, the sink is a write.
  * Micro-batching (`batch: 2500` in the reference) maps to partition
  * sizing, which `Ids.withDenseId` / the writer control.
  */
object Workflows {

  type Stage = DataFrame => DataFrame

  /** `nop` — the reference's identity task. */
  val nop: Stage = identity

  /** Compose stages left-to-right (the workflow's task list). */
  def pipeline(stages: Stage*): Stage =
    stages.foldLeft(nop)(_ andThen _)

  /** Index workflow: run the (already-encoded) docs through `stages`,
    * then sink into a vector index at `path`. Returns the index. */
  def indexWorkflow(
      docs: DataFrame,
      path: String,
      stages: Seq[Stage] = Seq(nop),
      config: IndexConfig = IndexConfig()): VectorIndex = {
    val prepared = pipeline(stages: _*)(docs)
    VectorIndex.create(docs.sparkSession, path, config = config)
      .index(prepared)
  }

  /** Index workflow over RAW TEXT: batch-encodes `textCol` into the
    * index's `vector` column with the supplied encoder (the S6 seam —
    * [[graft.TextEncoder.encodeColumn]] runs it as a distributed
    * mapPartitions stage; [[graft.HashingEncoder]] is the in-repo
    * model-free implementation, a real model drops in as any
    * serializable `String => Array[Float]`), then runs the standard
    * index workflow. This is the reference's `[nop, transform] → index`
    * pipeline with the transform step inside the engine. */
  def indexTextWorkflow(
      docs: DataFrame,
      textCol: String,
      path: String,
      encoder: String => Array[Float] = graft.HashingEncoder(64),
      stages: Seq[Stage] = Seq(nop),
      config: IndexConfig = IndexConfig()): VectorIndex = {
    val encoded = graft.TextEncoder.encodeColumn(docs, textCol, "vector", encoder)
    indexWorkflow(encoded, path, stages, config)
  }

  /** Search workflow: encode the query (caller-supplied encoder — the
    * engine consumes vectors, SURVEY S6), then run top-k search. */
  def searchWorkflow(
      index: VectorIndex,
      encode: String => Array[Float],
      query: String,
      limit: Int): DataFrame =
    index.search(encode(query), limit)

  /** Hybrid search over raw query TEXT — the engine face of txtai's
    * `hybrid: true` config (one `search(text)` entry scoring both
    * lexically and semantically; the reference family delegates the
    * keyword half to its server): [[hybridSearchBatch]] at qid 0.
    * Returns the top-k (docid, hybrid_micros), ties on ascending docid. */
  def hybridSearch(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      embeddings: DataFrame,
      embIdCol: String,
      embVecCol: String,
      queryText: String,
      k: Int,
      alpha: Double = 0.5,
      encode: String => Array[Float] = graft.TextEncoder.registered)
      : DataFrame =
    Bm25.oneQuery(hybridSearchBatch(docs, textCol, idCol, embeddings,
      embIdCol, embVecCol, Seq(queryText), k, alpha, encode), "hybrid_micros")

  /** Hybrid search over a LIST of query texts, served by ONE
    * [[Bm25.hybridBatch]] plan (qid = position in `queryTexts`). Each
    * text is used twice, both driver-side: tokenized with the engine's
    * BM25 tokenizer ([[Bm25.termsOf]]) for the lexical half, and
    * encoded with the registered [[graft.TextEncoder]] (pluggable;
    * hashing encoder by default) for the semantic half. Output (qid,
    * rank, docid, hybrid_micros), at one corpus tokenization for the
    * whole list. */
  def hybridSearchBatch(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      embeddings: DataFrame,
      embIdCol: String,
      embVecCol: String,
      queryTexts: Seq[String],
      k: Int,
      alpha: Double = 0.5,
      encode: String => Array[Float] = graft.TextEncoder.registered)
      : DataFrame = {
    require(queryTexts.nonEmpty, "hybrid: empty query batch")
    val queries = queryTexts.zipWithIndex.map { case (q, i) =>
      (i.toLong, Bm25.termsOf(q, "hybrid:"), encode(q))
    }
    Bm25.hybridBatch(docs, textCol, idCol, embeddings, embIdCol,
      embVecCol, queries, k, alpha)
  }
}
