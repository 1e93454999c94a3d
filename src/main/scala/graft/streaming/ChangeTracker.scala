package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.TsUtil

/**
 * LIVE per-URL change tracking — the streaming twin of
 * [[graft.operators.UrlOps.changeFrequency]]: as re-crawls of a URL
 * arrive, maintain `(n_crawls, n_changes)` over the event-time-ordered
 * arrival sequence and emit a refreshed cumulative row whenever
 * arrivals FINALIZE. The recrawl scheduler reads the newest row per URL
 * (highest `n_crawls` — the [[Trending]] serving-read shape) instead of
 * recomputing the batch rollup per decision.
 *
 * Finality rule (the ORDER analog of [[Trending]]'s epoch-end rule): an
 * arrival at event time `t` folds exactly when the watermark passes `t`
 * — every future arrival is guaranteed `ts >= wm > t`, so position of
 * `t` in the per-URL order can never change; below-watermark arrivals
 * are dropped explicitly (deterministic given (input, watermark), as in
 * [[SessionizeTwoPhase]]). Pending arrivals are buffered at most the watermark
 * horizon; ties inside one timestamp break on `tie` then `fp`, matching
 * the batch operator's total order.
 *
 * Change rule ≡ batch: null-safe — a NULL fingerprint differs from
 * content and from the start-of-history sentinel exactly as
 * `IS DISTINCT FROM` reads it; `change_pm` is over gaps
 * (`n_crawls − 1`), 0 for a single crawl.
 *
 * State per URL: `(hasPrev, lastFp, n_crawls, n_changes, pending)` —
 * O(watermark-horizon arrivals) transient + O(1) folded. URL states are
 * long-lived by design (a crawl ledger, like the sink manifest, not a
 * window); the wake timeout only drives pending finalization.
 *
 * COUNTING precondition: replays inflate `n_crawls`. Feed exactly-once
 * input (`dropDuplicatesWithinWatermark` on the arrival id, or the
 * sink-manifest epochs), the same contract as every count-shaped
 * operator here.
 */
object ChangeTracker {

  /** Input row: one fetch of `url` observed at event time `ts` with
    * content fingerprint `fp` (nullable) and a per-arrival tiebreak. */
  final case class Arrival(url: String, ts: Timestamp, tie: Long, fp: String)
  /** Per-URL state; `lastFp = null` with `hasPrev = true` means the
    * previous crawl genuinely fingerprinted NULL. */
  final case class CState(hasPrev: Boolean, lastFp: String,
      crawls: Long, changes: Long, pending: Seq[(Long, Long, String)])
  /** Cumulative output row (newest per URL = current truth). */
  final case class UrlChanges(url: String, n_crawls: Long, n_changes: Long,
      change_pm: Long)

  /** Pure fold shared with the spec: finalize every pending arrival
    * strictly below `wmUs`, in (ts, tie, fp) order. */
  def advance(url: String, st: CState, wmUs: Long)
      : (Option[UrlChanges], CState) = {
    val (ripe, rest) = st.pending.partition(_._1 < wmUs)
    if (ripe.isEmpty) (None, st)
    else {
      var (hasPrev, lastFp, crawls, changes) =
        (st.hasPrev, st.lastFp, st.crawls, st.changes)
      ripe.sortBy(a => (a._1, a._2)).foreach {
        case (_, _, fp) =>
          if (hasPrev && lastFp != fp) changes += 1
          hasPrev = true; lastFp = fp; crawls += 1
      }
      val pm = if (crawls > 1) 1000L * changes / (crawls - 1) else 0L
      (Some(UrlChanges(url, crawls, changes, pm)),
        CState(hasPrev, lastFp, crawls, changes, rest))
    }
  }

  /** The streaming operator. `arrivals` must already carry
    * `withWatermark("ts", ...)`. */
  def track(arrivals: Dataset[Arrival]): Dataset[UrlChanges] = {
    import arrivals.sparkSession.implicits._
    arrivals.groupByKey(_.url)
      .flatMapGroupsWithState[CState, UrlChanges](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (url: String, rows: Iterator[Arrival], state: GroupState[CState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val incoming = rows
            .map(a => (TsUtil.toUs(a.ts), a.tie, a.fp))
            .filter(_._1 >= wmUs).toSeq
          val st0 = state.getOption
            .getOrElse(CState(hasPrev = false, null, 0L, 0L, Nil))
          val (out, st1) =
            advance(url, st0.copy(pending = st0.pending ++ incoming), wmUs)
          state.update(st1)
          if (st1.pending.nonEmpty) {
            // wake just past the earliest pending arrival's finality
            state.setTimeoutTimestamp(math.max(
              st1.pending.map(_._1).min / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }
}
