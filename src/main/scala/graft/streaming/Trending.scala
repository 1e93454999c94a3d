package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.TsUtil

/**
 * LIVE epoch-decayed counters — the streaming twin of
 * [[graft.operators.DecayedCounts]]: per-key trending scores emitted
 * watermark-final, one row per (key, ACTIVE epoch), where an epoch's
 * score is the integer fold `S(e) = floor(S(prev) / 2^(e-prev)) +
 * count(e)`. This is the scheduler/dashboard feed ("what is hot right
 * now") kept warm by the stream instead of recomputed per batch —
 * reference analog: the TTL'd `History` buffer
 * (`bolt/BatchInputBolt.java:241`) whose wall-clock expiry this
 * replaces with event-time watermark finality, the same trade made by
 * [[SessionizeTwoPhase]].
 *
 * Emission rule: epoch `e` is emitted exactly when the watermark passes
 * its END (`(e+1)·epochUs <= wm`) — at that point no event of `e` can
 * still arrive (it would be below-watermark and is dropped explicitly),
 * so each (key, epoch) row is emitted exactly once and the fold can
 * never be re-opened. Idle epochs emit nothing (they fold into the
 * next active epoch's one shift), so output volume tracks ACTIVITY,
 * not keys × epochs.
 *
 * State per key: `(lastEpoch, score, pending epoch→count map)` — the
 * pending map spans at most the watermark horizon in epochs, and the
 * O(1) folded tail self-expires: once a key has been idle ≥ 63 epochs
 * any future fold reads a hard zero, so the state is REMOVED (timeout
 * set to that moment); a key that never returns costs nothing forever.
 *
 * COUNTING precondition: replays inflate counts. Feed exactly-once
 * input — upstream `dropDuplicatesWithinWatermark` on the event id or
 * [[StreamDedup.byFingerprint]], the same composition every count-
 * shaped increment in this engine requires (the spec pipeline does
 * exactly that).
 */
object Trending {

  /** Input row: (key, event time). */
  final case class Hit(key: String, ts: Timestamp)
  /** Per-key state: folded tail + not-yet-final epoch counts. */
  final case class TState(lastEpoch: Long, score: Long,
      pending: Map[Long, Long])
  /** One watermark-final output row. */
  final case class EpochScore(key: String, epoch: Long, score: Long)

  /** Sentinel for "no folded epoch yet". */
  private val NoEpoch = Long.MinValue

  /** floor(s / 2^gap), hard zero from 63 (no Java %64 shift wrap). */
  def decay(s: Long, gap: Long): Long =
    if (gap >= 63L) 0L else s >> gap.toInt

  /**
   * Pure fold shared by the operator and its tests: fold every pending
   * epoch ≤ `lastComplete` in order. Returns (emitted rows, new state).
   */
  def advance(key: String, st: TState, lastComplete: Long)
      : (Seq[EpochScore], TState) = {
    val (ripe, rest) = st.pending.partition(_._1 <= lastComplete)
    var pe = st.lastEpoch
    var s = st.score
    val out = ripe.toSeq.sortBy(_._1).map { case (e, c) =>
      s = (if (pe == NoEpoch) 0L else decay(s, e - pe)) + c
      pe = e
      EpochScore(key, e, s)
    }
    (out, TState(pe, s, rest))
  }

  /**
   * The streaming operator. `hits` must already carry
   * `withWatermark(ts, ...)`; `epochUs` is the epoch length in µs.
   */
  def scores(hits: Dataset[Hit], epochUs: Long): Dataset[EpochScore] = {
    require(epochUs > 0, "epochUs must be positive")
    import hits.sparkSession.implicits._
    hits.groupByKey(_.key)
      .flatMapGroupsWithState[TState, EpochScore](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[Hit], state: GroupState[TState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // explicit late drop, as in SessionizeTwoPhase: deterministic given
          // (input, watermark), and the finalize-once guarantee follows —
          // an event of a finalized epoch is necessarily below-watermark
          val incoming = rows.map(h => TsUtil.toUs(h.ts))
            .filter(_ >= wmUs)
            .map(us => Math.floorDiv(us, epochUs))
          val st0 = state.getOption.getOrElse(TState(NoEpoch, 0L, Map.empty))
          val pending = incoming.foldLeft(st0.pending)((m, e) =>
            m.updated(e, m.getOrElse(e, 0L) + 1L))
          // epoch e is complete iff (e+1)·epochUs <= wm
          val lastComplete = Math.floorDiv(wmUs, epochUs) - 1L
          val (out, st1) =
            advance(key, st0.copy(pending = pending), lastComplete)
          val expired = st1.pending.isEmpty &&
            (st1.lastEpoch == NoEpoch || lastComplete - st1.lastEpoch >= 62L)
          if (expired) state.remove()
          else {
            state.update(st1)
            // wake when the earliest pending epoch finalizes, or (idle
            // tail) when the state becomes removable
            val wakeUs =
              if (st1.pending.nonEmpty) (st1.pending.keys.min + 1L) * epochUs
              else (st1.lastEpoch + 63L) * epochUs
            state.setTimeoutTimestamp(
              math.max(wakeUs / 1000L, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** Column-level adapter: any (key, ts) DataFrame → watermarked hits. */
  def fromEvents(spark: SparkSession, df: Dataset[_], keyCol: String,
      tsCol: String, epochUs: Long, watermark: String = "1 hour")
      : Dataset[EpochScore] = {
    import spark.implicits._
    val hits = df.toDF()
      .select(col(keyCol).cast("string").as("key"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[Hit]
    scores(hits, epochUs)
  }
}
