package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Index-maintenance loop: keep a derived INDEX table (inverted shingle
 * index, minhash band index, IVF assignment, IVF-PQ codes, ...) caught
 * up with a CORPUS table, epoch by epoch, exactly once — the running-job
 * form of the `*Increment` operators. The reference builds its match
 * index once at `prepare` (`PartialMatcher.java:110-145`); at 100 TB the
 * corpus keeps growing, so "prepare" becomes this: a loop that indexes
 * ONLY what committed since the last run, never re-reading history.
 *
 * The trick is that there is NO side-channel state: the index table's
 * own commit manifest IS the maintenance bookkeeping. Each corpus epoch
 * `e` is indexed under the SAME epoch id `e` in the index table, so
 *  - "what is left to do" = corpus epochs minus `index.committed`;
 *  - a crash between increments loses nothing (already-written epochs
 *    are skipped by the sink's exactly-once `write`);
 *  - a re-run after completion is a no-op;
 *  - concurrent duplicate maintainers are harmless (both race to the
 *    same atomic manifest rename; one wins, the other skips).
 *
 * `incrementFn` must be ROW-LOCAL per corpus row (true of
 * `RequestResponse.textIndexIncrement`, `Dedup.minhashBandsRowwise`,
 * `Similarity.assignIncrement`, `ProductQuant.indexIncrement` — each
 * consults only the row plus broadcast frozen seed/codebook tables), so
 * per-epoch increments equal the single-batch build exactly.
 *
 * Compaction interplay, both sides loud:
 *  - corpus compacted past an unindexed epoch → `readBetween` throws
 *    (per-epoch rows no longer recoverable; rebuild the index from the
 *    snapshot and restart maintenance from there);
 *  - index compacted → `committed` still covers all epochs ≤ the
 *    snapshot horizon, so catch-up resumes correctly after the fold.
 */
object IndexMaintenance {

  /**
   * Catch `index` up to `corpus`'s committed horizon. Returns the epoch
   * ids indexed by THIS call (empty when already caught up). Epochs are
   * processed in ascending order so a mid-loop kill leaves a contiguous
   * prefix — `readBetween(lastIndexed, ...)` style consumers of the
   * index table see a consistent frontier. Each epoch is written before
   * the next epoch's increment is built, so an increment may read
   * `index` itself ([[semDedupCatchUp]]'s history-dependent fold does).
   */
  def catchUp(spark: SparkSession, corpus: ExactlyOnceSink,
      index: ExactlyOnceSink)(incrementFn: DataFrame => DataFrame): Seq[Long] = {
    // compaction folded corpus epochs whose increments were never taken:
    // their per-epoch manifests are gone, so they would silently vanish
    // from the todo list below — refuse instead (the guard readBetween
    // can no longer raise for us once the epochs stop being listed)
    corpus.compactHi().filterNot(index.committed).foreach { h =>
      throw new IllegalStateException(
        s"corpus epochs <= $h were compacted into a snapshot before being " +
        "indexed; rebuild the index from corpus.read() (one single-batch " +
        s"increment committed as epoch $h) and resume maintenance from there")
    }
    val todo = corpus.committedEpochs().filterNot(index.committed).sorted
    todo.foreach { e =>
      // (e-1, e] over integral epoch ids selects exactly epoch e; throws
      // loudly if corpus compaction folded it away (see class doc)
      index.write(incrementFn(corpus.readBetween(spark, e - 1, e)), e)
    }
    todo
  }

  /**
   * The whole BM25 maintenance loop in one call — index catch-up AND the
   * scoring-artifact refresh that [[graft.operators.TextSearch.bm25TopK]]
   * depends on. Before this existed the stats refresh was the caller's
   * job, which is exactly the kind of job that gets forgotten: a service
   * that caught the postings up but kept serving last week's
   * `(n, avgdl_q)` silently mis-scores every query (df and avgdl shift
   * with the corpus). This ties the three artifacts to one call: after
   * it returns, `dfT`/`stats` are consistent with the postings to the
   * same epoch horizon.
   *
   * Returns `(epochs indexed by this call, dfT, stats)` — the latter two
   * as plans over the index table for the caller to persist/broadcast
   * (they are one aggregation pass over the compact postings rows, no
   * raw text; both are associative sums, so a deployment that wants to
   * avoid even that pass can maintain them as their own epoch-aligned
   * sink tables with the same [[catchUp]] mechanics).
   *
   * When nothing new committed, the refresh plans are still returned —
   * computing them is the caller's existing cost model, and skipping
   * "no-op" refreshes is how stale stats shipped in the first place.
   */
  def bm25CatchUp(spark: SparkSession, corpus: ExactlyOnceSink,
      index: ExactlyOnceSink, docId: String, textCol: String)
      : (Seq[Long], DataFrame, DataFrame) = {
    import graft.operators.TextSearch
    val done = catchUp(spark, corpus, index)(
      TextSearch.postingsIncrement(_, docId, textCol))
    val postings = index.read(spark)
    (done, TextSearch.termDf(postings), TextSearch.statsOf(postings))
  }

  /**
   * [[bm25CatchUp]]'s shape for the rare-token gate's lexicon: catch the
   * persisted term-frequency table up with the corpus (each epoch's
   * PARTIAL counts committed as that epoch's index rows — counts are
   * associative, so the table is union-composable) and hand back the
   * SERVING lexicon, re-summed per term across epochs. Serving off a
   * stale or un-resummed table is the failure mode this closes: a term
   * split across epochs would join twice into
   * [[graft.operators.TextAnalysis.rareTokenStats]] and double-count.
   */
  def lexiconCatchUp(spark: SparkSession, corpus: ExactlyOnceSink,
      index: ExactlyOnceSink, textCol: String): (Seq[Long], DataFrame) = {
    import org.apache.spark.sql.functions.{col, sum}
    import graft.operators.TextAnalysis
    val done = catchUp(spark, corpus, index)(
      TextAnalysis.termFrequencies(_, textCol))
    val lexicon = index.read(spark)
      .groupBy(col("term")).agg(sum(col("tf")).as("tf"))
    (done, lexicon)
  }

  /**
   * [[lexiconCatchUp]]'s shape for the Bloom seen-set gate's filter:
   * catch the persisted `(shard, word_idx, bits)` table up with the
   * corpus (each epoch's PARTIAL bloom words committed as that epoch's
   * index rows) and hand back the SERVING filter, re-folded per word
   * across epochs — the table the `--seen-gate` app mode loads. Unlike
   * every other increment in this file, bit_or is IDEMPOTENT as well as
   * union-composable, so here the per-epoch exactly-once bookkeeping is
   * belt-and-braces rather than load-bearing: a re-delivered epoch
   * would re-OR already-set bits into a no-op. The catchUp plumbing
   * still buys the contiguous frontier and the O(1) "what's left" — and
   * keeps the filter's maintenance uniform with the indexes whose folds
   * are NOT replay-safe.
   */
  def seenCatchUp(spark: SparkSession, corpus: ExactlyOnceSink,
      index: ExactlyOnceSink, keyCol: String, mBits: Long, kHashes: Int,
      shards: Int = 1): (Seq[Long], DataFrame) = {
    import org.apache.spark.sql.functions.{bit_or, col}
    import graft.operators.BloomSet
    val done = catchUp(spark, corpus, index)(
      BloomSet.bloomOf(_, keyCol, mBits, kHashes, shards))
    val bloom = index.read(spark)
      .groupBy(col("shard"), col("word_idx"))
      .agg(bit_or(col("bits")).as("bits"))
    (done, bloom)
  }

  /**
   * [[lexiconCatchUp]]'s shape for the LM gate's bigram model: catch the
   * persisted count table up with the corpus (each epoch's PARTIAL
   * bigram counts committed as that epoch's index rows — associative, so
   * union-composable) and hand back the three SERVING artifacts
   * [[graft.operators.RequestResponse.lmScoreProbe]] consumes — the
   * enriched model `(bg, c2, c1)`, the left-context table, and the
   * frozen `vocabPlus1` scalar — all derived from the re-summed counts
   * in ONE call so they can never drift apart across a refresh (serving
   * a new model with last epoch's V mis-smooths every score; the same
   * stale-stats failure mode [[bm25CatchUp]] closes for avgdl).
   */
  def lmModelCatchUp(spark: SparkSession, corpus: ExactlyOnceSink,
      index: ExactlyOnceSink, textCol: String)
      : (Seq[Long], DataFrame, DataFrame, Long) = {
    import org.apache.spark.sql.functions.{col, sum}
    import graft.operators.LanguageModel
    val done = catchUp(spark, corpus, index)(
      LanguageModel.bigramIncrement(_, textCol))
    val counts = index.read(spark)
      .groupBy(col("bg")).agg(sum(col("c2")).as("c2"))
    (done, LanguageModel.enrichModel(counts), LanguageModel.c1Of(counts),
      LanguageModel.vocabPlusOne(counts))
  }

  /**
   * SemDeDup maintenance loop: keep the KEPT-VECTOR history table caught
   * up with the corpus, epoch by epoch, exactly once, on [[catchUp]]'s
   * loop and compaction guard. Unlike its row-local contract, the
   * increment here is HISTORY-DEPENDENT — each epoch's verdicts consult
   * every vector kept so far
   * ([[graft.operators.Similarity.semDedupIncrement]]'s greedy claim
   * rule) — so the fold order is part of the semantics: epochs are
   * processed ascending, which makes any run over the same epoch
   * sequence (including a kill/resume) produce the identical history
   * table. A replayed epoch is absorbed twice over: the sink's manifest
   * skips the write, and even a forced recompute would drop every row
   * (each vector finds itself in history at cos 1e6).
   *
   * The history table this maintains is exactly what the serving tier
   * probes ([[RequestService.startSemDedupGate]]) and rows are
   * `(corpus_id, cv, cn, centroid)` — partition/bucket it by `centroid`
   * so the per-trigger probe prunes to the request cells. `seeds` is the
   * FROZEN centroid table (same table the gate broadcasts); changing it
   * invalidates the history (cells shift) — rebuild, don't mix. After
   * the guard refuses a compacted corpus, the rebuild is one
   * `semDedupAssigned` batch over `corpus.read()`, committed as the
   * compaction horizon's epoch.
   *
   * Returns the epoch ids folded by this call.
   */
  def semDedupCatchUp(spark: SparkSession, corpus: ExactlyOnceSink,
      history: ExactlyOnceSink, idCol: String, vecCol: String,
      seeds: DataFrame, minCosQ: Long): Seq[Long] = {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.{Similarity, VectorOps}
    catchUp(spark, corpus, history) { raw =>
      val chunk = raw.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        VectorOps.norm_q(col(vecCol)).as("cn"))
      val hist =
        if (history.committedEpochs().isEmpty && history.compactHi().isEmpty)
          chunk.select(col("corpus_id"), col("cv"), col("cn"),
            lit(0L).as("centroid")).where(lit(false))
        else history.read(spark)
          .select(col("corpus_id"), col("cv"), col("cn"), col("centroid"))
      Similarity.semDedupIncrement(hist, chunk, seeds, minCosQ)
        .where(col("kept")).select(col("corpus_id"), col("centroid"))
        .join(chunk, Seq("corpus_id"))
        .select(col("corpus_id"), col("cv"), col("cn"), col("centroid"))
    }
  }
}
