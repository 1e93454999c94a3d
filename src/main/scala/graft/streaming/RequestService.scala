package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftTopology
import graft.operators.RequestResponse

/**
 * Streaming request/response service — the *long-running* DRPC plane.
 * The batch operators in [[graft.operators.RequestResponse]] (and the
 * index searches of `Similarity`, `ProductQuant` and `TextSearch`)
 * transpose one DRPC call; the reference's DRPC is a continuously-running
 * service (`drpc/RequestBolt.java:41-57` keeps consuming requests,
 * `E8_DRPCTopology.java:78-84` loops submitting them), and this is that
 * shape: requests arrive as a stream, each micro-batch runs the batch
 * operator's plan, and the per-request responses are committed to an
 * exactly-once response table keyed by epoch.
 *
 * As in the reference, where any operation plugs in between `RequestBolt`
 * and `BatchBolt` (`E8_DRPCTopology.java:60-70`), there is one harness,
 * [[start]], and the caller passes the batch operator itself:
 * {{{
 * RequestService.start(requests, responseTable, checkpoint)(batch =>
 *   RequestResponse.matchTextFromIndex(batch, shingleIndex, "request_id", "qtext", k = 5, n = 2))
 * }}}
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
 * response volume is requests × k, tiny. The serving tier passes the
 * operators that touch ONLY the persisted index structures
 * (`PartialMatcher.java:110-145`'s prepare-once shape), never the raw
 * corpus.
 */
object RequestService {

  /** Every service's micro-batch trigger. */
  private val trigger = Trigger.ProcessingTime("1 second")

  /** The service harness: request stream → `serve` per micro-batch →
    * exactly-once response table, started through
    * [[graft.GraftTopology.startSink]]. */
  def start(requests: DataFrame, responseTable: String,
      checkpoint: String)(serve: DataFrame => DataFrame): StreamingQuery =
    GraftTopology.from(requests).startSink(responseTable, checkpoint,
      trigger = trigger, perBatch = serve)

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
    start(requests, responseTable, checkpoint) { batch =>
      import org.apache.spark.sql.functions.col
      val h = if (!pruneHistory) history
        else {
          val cells = RequestResponse.requestCells(batch, seeds, reqId, reqVec)
          history.where(col("centroid").isin(cells: _*))
        }
      RequestResponse.semDedupProbe(batch, h, seeds, reqId, reqVec, minCosQ)
    }
  }
}
