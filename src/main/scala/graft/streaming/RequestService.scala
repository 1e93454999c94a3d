package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftTopology
import graft.operators.RequestResponse

/**
 * Streaming request/response service — the *long-running* DRPC plane.
 * The batch operators in [[graft.operators.RequestResponse]] transpose
 * one DRPC call; the reference's DRPC is a continuously-running service
 * (`drpc/RequestBolt.java:41-57` keeps consuming requests,
 * `E8_DRPCTopology.java:78-84` loops submitting them), and this is that
 * shape: requests arrive as a stream, each micro-batch runs the batch
 * operator's plan, and the per-request responses are committed to an
 * exactly-once response table keyed by epoch.
 *
 * Why `foreachBatch` and not a stream-static join + streaming agg: the
 * per-request top-k is a *complete* answer per request (BatchBolt's
 * barrier semantics, `drpc/BatchBolt.java:63-99`) — in append-mode
 * streaming the aggregation could only emit when the watermark closes,
 * adding latency for nothing, because a request's answer depends only on
 * its own micro-batch and the static corpus/index. Inside foreachBatch
 * the request batch is a small batch DataFrame, so the plan is the SAME
 * broadcast + scan + bounded-heap top-k the batch operator produces
 * (identical results, spec-asserted), and the sink's epoch manifest
 * makes re-delivered batches idempotent — a response is published
 * exactly once even across kill/resume.
 *
 * 100 TB shape: corpus/index/codebook DataFrames should be cached or
 * persisted tables (they are re-used every trigger); the request batch
 * is broadcast, so nothing corpus-scale is ever shuffled per trigger;
 * response volume is requests × k, tiny. The `startIndexed*` variants
 * are the serving tier: they touch ONLY the persisted index structures
 * (`PartialMatcher.java:110-145`'s prepare-once shape), never the raw
 * corpus.
 */
object RequestService {

  /** Every service's micro-batch trigger. */
  private val trigger = Trigger.ProcessingTime("1 second")

  /** The one service harness: request stream → per-micro-batch transform
    * → exactly-once response table, started through
    * [[graft.GraftTopology.startSink]]. Each service below is its
    * transform. */
  private def startService(requests: DataFrame, responseTable: String,
      checkpoint: String)(batchFn: DataFrame => DataFrame): StreamingQuery =
    GraftTopology.from(requests).startSink(responseTable, checkpoint,
      trigger = trigger, perBatch = batchFn)

  /**
   * Start the text-match service: per micro-batch of requests
   * (`reqId`, `reqText` columns), word-shingle containment top-k
   * against `corpus`, committed to `responseTable`.
   */
  def startTextMatch(spark: SparkSession, requests: DataFrame, corpus: DataFrame,
      reqId: String, reqText: String, docId: String, docText: String,
      responseTable: String, checkpoint: String,
      k: Int = 5, n: Int = 2): StreamingQuery =
    startService(requests, responseTable, checkpoint)(batch =>
      RequestResponse.matchText(spark, batch, corpus,
        reqId, reqText, docId, docText, k, n))

  /**
   * Start the text-match service off a PRE-BUILT inverted shingle index
   * `(doc_id, shingle)` — built once by
   * `RequestResponse.textIndexIncrement` and appended as new corpus
   * epochs commit. Value-identical to [[startTextMatch]] (spec-asserted)
   * but the corpus text is never re-shingled: each trigger shingles only
   * its (tiny) request batch and equi-joins the index. Cache/persist
   * `shingleIndex` — it is re-used every trigger.
   */
  def startIndexedTextMatch(spark: SparkSession, requests: DataFrame,
      shingleIndex: DataFrame, reqId: String, reqText: String,
      responseTable: String, checkpoint: String,
      k: Int = 5, n: Int = 2): StreamingQuery =
    startService(requests, responseTable, checkpoint)(batch =>
      RequestResponse.matchTextFromIndex(batch, shingleIndex, reqId, reqText, k, n))

  /**
   * Start the near-dup probe service off the persisted minhash band
   * index (`Dedup.incrementalNearDupKeepers`' structure): per request
   * micro-batch, rowwise band signatures → index equi-join → exact
   * Jaccard verification on the candidate set only (see
   * `RequestResponse.nearDupProbe`). The corpus is touched only at the
   * candidate point-lookup; the band index is re-used every trigger.
   */
  def startNearDupProbe(spark: SparkSession, requests: DataFrame,
      bandIndex: DataFrame, corpus: DataFrame,
      reqId: String, reqText: String, docId: String, docText: String,
      responseTable: String, checkpoint: String,
      n: Int = 3, bands: Int = 8, minJaccQ: Long = 500L): StreamingQuery =
    startService(requests, responseTable, checkpoint)(batch =>
      RequestResponse.nearDupProbe(batch, bandIndex, corpus,
        reqId, reqText, docId, docText, n, bands, minJaccQ))

  /**
   * Start the span-duplication probe service off the persisted
   * `(span_hash, n_docs)` table (`Dedup.spanStatsIncrement` maintains it
   * as corpus epochs commit) — the streaming form of the span-level
   * ingest gate: each candidate document in the request stream gets its
   * verbatim-overlap permille against the corpus without the corpus ever
   * being read. Cache/persist `spanDf`; it is re-used every trigger.
   */
  def startSpanProbe(spark: SparkSession, requests: DataFrame,
      spanDf: DataFrame, reqId: String, reqText: String,
      responseTable: String, checkpoint: String, n: Int = 8): StreamingQuery =
    startService(requests, responseTable, checkpoint)(batch =>
      RequestResponse.spanDupProbe(batch, spanDf, reqId, reqText, n))

  /**
   * Start the rare-token (OOV) gate service off the persisted
   * `(term, tf)` lexicon (`TextAnalysis.lexiconIncrement` maintains it
   * as corpus epochs commit) — the streaming form of the vocabulary
   * quality gate: each candidate document gets its rare-token permille
   * against the corpus vocabulary without the corpus ever being read.
   * Cache/persist `lexicon`; it is re-used every trigger.
   */
  def startRareTokenGate(spark: SparkSession, requests: DataFrame,
      lexicon: DataFrame, reqId: String, reqText: String,
      responseTable: String, checkpoint: String, minTf: Long = 2L): StreamingQuery =
    startService(requests, responseTable, checkpoint)(batch =>
      RequestResponse.rareTokenProbe(batch, lexicon, reqId, reqText, minTf))

  /**
   * Start the LM quality gate: per micro-batch of requests, CCNet-style
   * bigram-likelihood scoring + tiering against the PERSISTED model
   * artifacts (`LanguageModel.enrichModel` / `c1Of`, derived once per
   * maintenance epoch; `vocabPlus1` frozen at start via
   * `LanguageModel.vocabPlusOne`). Every trigger broadcasts only its
   * request batch — the model is never shuffled or rebuilt
   * (`RequestResponse.lmScoreProbe`). Cache/persist both model
   * DataFrames; they are re-used every trigger.
   */
  def startLmGate(spark: SparkSession, requests: DataFrame,
      enrichedModel: DataFrame, c1: DataFrame, vocabPlus1: Long,
      reqId: String, reqText: String,
      responseTable: String, checkpoint: String,
      headMin: Long, midMin: Long): StreamingQuery =
    startService(requests, responseTable, checkpoint)(batch =>
      RequestResponse.lmScoreProbe(batch, enrichedModel, c1, vocabPlus1,
        reqId, reqText, headMin, midMin))

  /**
   * Start the DSIR importance gate: per micro-batch of requests, score
   * against BOTH persisted model artifact sets (target and raw — each
   * `LanguageModel.enrichModel` / `c1Of` / frozen `vocabPlusOne`) and
   * respond with the importance signal `dsir_q = w_target − w_raw`
   * (`RequestResponse.dsirProbe`). One tokenization per batch, two
   * broadcast-decomposed probes — neither model is ever shuffled per
   * trigger. Cache/persist all four model DataFrames.
   */
  def startDsirGate(spark: SparkSession, requests: DataFrame,
      targetEnriched: DataFrame, targetC1: DataFrame, targetVocabPlus1: Long,
      rawEnriched: DataFrame, rawC1: DataFrame, rawVocabPlus1: Long,
      reqId: String, reqText: String,
      responseTable: String, checkpoint: String): StreamingQuery =
    startService(requests, responseTable, checkpoint)(batch =>
      RequestResponse.dsirProbe(batch,
        targetEnriched, targetC1, targetVocabPlus1,
        rawEnriched, rawC1, rawVocabPlus1, reqId, reqText))

  /**
   * Start the SemDeDup admission gate: per micro-batch of candidate
   * embeddings, "does a KEPT semantic near-twin already exist?" against
   * the persisted kept-vector history (`Similarity.semDedupAssigned`'s
   * kept rows, appended per maintenance epoch by
   * `Similarity.semDedupIncrement`) under the frozen centroid table
   * (`RequestResponse.semDedupProbe`). Every trigger assigns its
   * requests row-locally against the broadcast seeds and probes the
   * history scan in place — history is never shuffled per trigger.
   * Cache/persist `history` and `seeds`; both are re-used every trigger.
   *
   * `pruneHistory = true` is the serving shape for a history table
   * PARTITIONED by `centroid` (e.g. `PrepareSemGate`'s layout): each
   * trigger first collects the request batch's distinct cells (≤
   * |seeds| longs — `RequestResponse.requestCells`) and probes
   * `history` behind a LITERAL `centroid IN (...)` filter, which lands
   * in the scan's PartitionFilters (static pruning, plan-asserted) —
   * Spark's dynamic partition pruning declines this join, so without
   * the literal every trigger reads the full corpus-scale listing. Skip
   * it for an unpartitioned or cached history, or full-rate batches
   * whose cells cover the table.
   *
   * Cost accounting for `pruneHistory`: the row-local request
   * assignment runs twice per trigger — once (with a collect) to learn
   * the cells, once inside the probe — because reusing one assignment
   * across the collect and the probe would need a per-trigger persist
   * inside foreachBatch. That doubles only the tiny broadcast side
   * (|batch| × |seeds| dot products); the thing being bought is the
   * pruning of the corpus-scale history READ. For gate-sized request
   * batches the trade is strongly favorable; for full-rate batches it
   * is one more reason to skip the flag (above).
   */
  def startSemDedupGate(spark: SparkSession, requests: DataFrame,
      history: DataFrame, seeds: DataFrame,
      reqId: String, reqVec: String,
      responseTable: String, checkpoint: String, minCosQ: Long,
      pruneHistory: Boolean = false): StreamingQuery = {
    // once at start: empty seeds would silently answer ZERO rows per
    // trigger (nothing assignable) — a gate that blackholes its stream
    require(!seeds.isEmpty,
      "semDedup gate started with an EMPTY seeds table — nothing can be " +
      "assigned; rebuild the centroid table (see PrepareSemGate)")
    startService(requests, responseTable, checkpoint) { batch =>
      import org.apache.spark.sql.functions.col
      val h = if (!pruneHistory) history
        else {
          val cells = RequestResponse.requestCells(batch, seeds, reqId, reqVec)
          history.where(col("centroid").isin(cells: _*))
        }
      RequestResponse.semDedupProbe(batch, h, seeds, reqId, reqVec, minCosQ)
    }
  }

  /**
   * Start the embedding-match service against a PRE-BUILT IVF index —
   * the 100 TB serving shape: the index `(corpus_id, cv, cn, centroid)`
   * (built once via `Similarity.assignIncrement` and appended as new
   * corpus epochs commit) and the centroid table are long-lived; each
   * request micro-batch only broadcasts its probes against them
   * (`Similarity.ivfSearchIndex`), never scanning or shuffling the full
   * corpus. Cache/persist the index DataFrame — it is re-used every
   * trigger.
   */
  def startIndexedEmbeddingMatch(spark: SparkSession, requests: DataFrame,
      index: DataFrame, seeds: DataFrame,
      reqId: String, reqVec: String,
      responseTable: String, checkpoint: String,
      k: Int = 5, nProbe: Int = 4): StreamingQuery =
    startService(requests, responseTable, checkpoint) { batch =>
      import org.apache.spark.sql.functions.col
      val q = batch.select(col(reqId).as("query_id"), col(reqVec).as("qv"),
        graft.operators.VectorOps.norm_q(col(reqVec)).as("qn"))
      graft.operators.Similarity.ivfSearchIndex(q, index, seeds, k, nProbe)
        .withColumnRenamed("query_id", "request_id")
    }

  /**
   * Start the PQ-compressed embedding-match service off a persisted
   * IVF-PQ index `(corpus_id, centroid, codes)` — built once by
   * `ProductQuant.indexIncrement` and appended as new corpus epochs
   * commit. This is the memory-side 100 TB serving shape: each trigger
   * broadcasts its probe and LUT tables, the index scan reads `m` codes
   * per candidate row, and the raw corpus vectors are never touched at
   * query time. Cache/persist `index`, `seeds`, and `books` — all three
   * are re-used every trigger.
   */
  def startIndexedPqMatch(spark: SparkSession, requests: DataFrame,
      index: DataFrame, seeds: DataFrame, books: DataFrame,
      reqId: String, reqVec: String, dim: Int, m: Int,
      responseTable: String, checkpoint: String,
      k: Int = 5, nProbe: Int = 4): StreamingQuery =
    startService(requests, responseTable, checkpoint)(batch =>
      graft.operators.ProductQuant.ivfAdcSearchIndex(batch, index, seeds, books,
        reqId, reqVec, dim, m, k, nProbe)
        .withColumnRenamed("query_id", "request_id"))

  /**
   * Start the BM25 keyword-search service off the persisted inverted
   * postings index — built by `TextSearch.postingsIncrement` per corpus
   * epoch, with `dfT`/`stats` the maintenance-time artifacts
   * (`TextSearch.termDf`/`statsOf`, refreshed per index append). Each
   * trigger extracts the request batch's query terms (row-local, tiny,
   * broadcast) and runs one postings equi-join — raw corpus text is
   * never touched at query time. Cache/persist all three index
   * DataFrames; they are re-used every trigger.
   */
  def startBm25Search(spark: SparkSession, requests: DataFrame,
      postings: DataFrame, dfT: DataFrame, stats: DataFrame,
      reqId: String, reqText: String,
      responseTable: String, checkpoint: String,
      k: Int = 5, maxTerms: Int = 8): StreamingQuery =
    startService(requests, responseTable, checkpoint) { batch =>
      val qt = graft.operators.TextSearch.queryTerms(batch, reqId, reqText, maxTerms)
      graft.operators.TextSearch.bm25TopK(qt, postings, dfT, stats, k)
    }

  /**
   * Start the exact-phrase-search service off the persisted POSITIONAL
   * index — either layout: the row form (`TextSearch.positionsIncrement`
   * per corpus epoch, `(doc_id, pos, term)`) or the compact form
   * (`TextSearch.positionsCompactIncrement`, `(doc_id, term, positions)`
   * — the one to prefer at scale), dispatched on the table's schema.
   * Each trigger decomposes the request batch's phrases (row-local,
   * tiny, broadcast) and runs one positions equi-join on `term`; raw
   * corpus text is never touched. Persist `positions`; it is re-used
   * every trigger.
   */
  def startPhraseSearch(spark: SparkSession, requests: DataFrame,
      positions: DataFrame, reqId: String, reqPhrase: String,
      responseTable: String, checkpoint: String): StreamingQuery = {
    val compact = positions.schema.fieldNames.contains("positions")
    startService(requests, responseTable, checkpoint) { batch =>
      val qt = graft.operators.TextSearch.phraseQueryTerms(batch, reqId, reqPhrase)
      if (compact) graft.operators.TextSearch.phraseMatchesCompact(qt, positions)
      else graft.operators.TextSearch.phraseMatches(qt, positions)
    }
  }

  /**
   * Start the embedding-match service: per micro-batch of requests
   * (`reqId`, `reqVec` columns), quantized-cosine top-k against the
   * corpus embeddings, committed to `responseTable`.
   */
  def startEmbeddingMatch(spark: SparkSession, requests: DataFrame, corpus: DataFrame,
      reqId: String, reqVec: String, docId: String, docVec: String,
      responseTable: String, checkpoint: String,
      k: Int = 5): StreamingQuery =
    startService(requests, responseTable, checkpoint)(batch =>
      RequestResponse.matchEmbedding(batch, corpus,
        reqId, reqVec, docId, docVec, k))
}
