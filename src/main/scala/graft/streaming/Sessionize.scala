package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{HostSession, TsUtil}

/**
 * Stateful per-host sessionizer over the streaming page stream —
 * the engine's custom stateful operator.
 *
 * Reference analog: `BatchInputBolt` (`bolt/BatchInputBolt.java:65-326`):
 * it buffered tuples per group in a Guava cache ordered by sequenceNr
 * (sorted insert, `:266-283`) and *failed* tuples on wall-clock TTL
 * expiry (`:221-232`) — lossy and nondeterministic. This operator keeps
 * the same shape (per-key ordered buffer + eviction) but replaces the
 * wall-clock TTL with the **event-time watermark**: a session is emitted
 * exactly when the watermark passes `session_end = last_ts + gap`, so the
 * same input + same watermark ⇒ the same output rows, at any parallelism.
 *
 * State (per host, RocksDB-backed): the buffer of not-yet-finalized
 * events — bounded by the watermark horizon, NOT by a row cap, so no
 * `maxSize` overflow failures (`BatchInputBolt.java:104-107`).
 *
 * Out-of-order handling: events are buffered unsorted and sorted at
 * finalization; anything older than the watermark was already dropped by
 * `withWatermark` upstream. Sessions are split by `gap` on the sorted
 * buffer — identical to batch `session_window` semantics (new session
 * when delta ≥ gap; end = last + gap).
 */
object Sessionize {

  /** (epoch micros, payload size) — the buffered per-event footprint. */
  final case class Ev(tsUs: Long, bytes: Long)
  final case class Buf(events: List[Ev])
  /** Input row shape: (host, warc_ts, text_len). */
  final case class PageLite(host: String, warc_ts: Timestamp, text_len: Long)

  val GapUsDefault: Long = 1800L * 1000000L

  /**
   * Pure session assembly used by both the streaming operator and tests:
   * split sorted events by gap; return (closed sessions, still-open rest)
   * given the current watermark.
   */
  def assemble(host: String, events: Seq[Ev], gapUs: Long, watermarkUs: Long)
      : (Seq[HostSession], Seq[Ev]) = {
    if (events.isEmpty) return (Nil, Nil)
    val sorted = events.sortBy(e => (e.tsUs, e.bytes))
    val sessions = scala.collection.mutable.ArrayBuffer[Vector[Ev]]()
    var cur = Vector(sorted.head)
    for (e <- sorted.tail) {
      if (e.tsUs - cur.last.tsUs >= gapUs) { sessions += cur; cur = Vector(e) }
      else cur = cur :+ e
    }
    sessions += cur
    // a session is closed iff watermark passed its end (last + gap)
    val (closed, open) = sessions.partition(s => s.last.tsUs + gapUs <= watermarkUs)
    val out = closed.map { s =>
      HostSession(host,
        TsUtil.fromUs(s.head.tsUs),
        TsUtil.fromUs(s.last.tsUs + gapUs),
        s.size.toLong, s.map(_.bytes).sum)
    }
    (out.toSeq, open.flatten.toSeq)
  }

  /**
   * The streaming operator. Input must already have
   * `withWatermark("warc_ts", ...)` applied.
   */
  def sessions(pages: Dataset[PageLite], gapUs: Long = GapUsDefault)
      : Dataset[HostSession] = {
    import pages.sparkSession.implicits._
    pages.groupByKey(_.host)
      .flatMapGroupsWithState[Buf, HostSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (host: String, rows: Iterator[PageLite], state: GroupState[Buf]) =>
          val wm = state.getCurrentWatermarkMs() * 1000L
          // explicit late-row drop: rows older than the watermark are
          // discarded HERE (not left to operator-dependent behavior), so
          // the op is deterministic given (input, watermark) — the
          // replacement for the reference's wall-clock TTL failure race
          val incoming = rows.map(p =>
            Ev(TsUtil.toUs(p.warc_ts), p.text_len))
            .filter(e => e.tsUs >= wm).toList
          val all = state.getOption.map(_.events).getOrElse(Nil) ::: incoming
          val (closed, open) = assemble(host, all, gapUs, wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(Buf(open.toList))
            // wake up when the watermark can close the earliest open session
            val earliestEnd = open.map(_.tsUs).min / 1000L + gapUs / 1000L
            state.setTimeoutTimestamp(math.max(earliestEnd, state.getCurrentWatermarkMs() + 1))
          }
          closed.iterator
      }
  }
}
