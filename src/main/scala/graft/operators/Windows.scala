package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/**
 * Event-time windowing — the Spark transposition of StormCV's batcher
 * plane (SURVEY.md §2.5):
 *
 *  - `SlidingWindowBatcher` (`batcher/SlidingWindowBatcher.java:24-74`,
 *    completeness-gated sliding count window with TTL escape) →
 *    `window(ts, len, slide)` + watermark: emission is governed by event
 *    time, not wall-clock races, so identical input + watermark ⇒
 *    identical output (the north rule's determinism criterion).
 *  - `DiscreteWindowBatcher` (`batcher/DiscreteWindowBatcher.java:26-86`,
 *    tumbling count window with skip-ahead loss tolerance) →
 *    `window(ts, len)`; late rows are dropped by the watermark instead of
 *    the reference's wall-clock TTL failure
 *    (`bolt/BatchInputBolt.java:221-232`).
 *  - session windows (absent in the reference; nearest device is the
 *    TTL-based group eviction) → `session_window(ts, gap)` /
 *    [[graft.streaming.SessionizeTwoPhase]] for the stateful form.
 *
 * These helpers exist so batch verification queries and streaming
 * pipelines share one window definition.
 */
object Windows {

  /** Tumbling event-time window aggregation; adds w_start/w_end epochs. */
  def tumbling(df: DataFrame, tsCol: String, dur: String,
      keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), dur) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("w_start", unix_micros(col("window.start").cast(TimestampType)))
      .withColumn("w_end", unix_micros(col("window.end").cast(TimestampType)))
      .drop("window")

  /** Sliding event-time window aggregation. */
  def sliding(df: DataFrame, tsCol: String, dur: String, slide: String,
      keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), dur, slide) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("w_start", unix_micros(col("window.start").cast(TimestampType)))
      .withColumn("w_end", unix_micros(col("window.end").cast(TimestampType)))
      .drop("window")

  /**
   * Session window (gap-merged) aggregation; end = last event + gap.
   *
   * Boundary convention: a gap of EXACTLY `gap` starts a NEW session —
   * the same `diff >= gap` rule the streaming sessionizer
   * ([[graft.streaming.SessionizeTwoPhase.mergeFrags]]) and every DuckDB
   * oracle use. Spark's built-in `session_window` merges at the exact
   * boundary (probed: two events precisely `gap` apart land in ONE
   * window), so the window is built with `gap − 1 µs` and the reported
   * end gets the microsecond back — at µs timestamp granularity this is
   * exactly the `>=`-split rule. Found by the randomized stream≡batch
   * torture (SessionizeSpec); boundary gaps never occur in the driver
   * corpora, which is why every oracle was green under either convention.
   */
  def session(df: DataFrame, tsCol: String, gap: String,
      keys: Seq[Column], aggs: Seq[Column]): DataFrame = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(iv.months == 0, s"calendar-month session gaps are ambiguous: $gap")
    val gapUs = iv.days * 86400000000L + iv.microseconds
    require(gapUs > 1, s"session gap must exceed 1 microsecond: $gap")
    // string form: parses to CalendarIntervalType (the ANSI INTERVAL
    // literal is DayTimeIntervalType, which session_window rejects)
    df.groupBy((session_window(col(tsCol), s"${gapUs - 1} microseconds") +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("s_start", unix_micros(col("session_window.start").cast(TimestampType)))
      .withColumn("s_end", unix_micros(col("session_window.end").cast(TimestampType)) + 1)
      .drop("session_window")
  }
}

/**
 * Salted two-phase aggregation for hot keys — the fix for StormCV's
 * `fieldsGrouping` hotspot (SURVEY.md §2.8): a Zipf-hot host would hash
 * every row to one task. Phase 1 aggregates on (key, salt) spreading a
 * hot key over `buckets` reducers; phase 2 merges the partial aggregates
 * per key — the second shuffle moves only `buckets` rows per key.
 *
 * Only algebraic (re-aggregatable) functions are valid here; the API
 * takes the partial and final agg lists explicitly to keep that visible.
 */
object SkewAgg {

  /**
   * @param saltSrc  column whose hash spreads the hot key (e.g. url)
   * @param partial  phase-1 aggregates over raw rows
   * @param merge    phase-2 aggregates over the phase-1 outputs
   */
  def saltedAgg(df: DataFrame, keys: Seq[Column], saltSrc: Column, buckets: Int,
      partial: Seq[Column], merge: Seq[Column]): DataFrame = {
    val salted = df.withColumn("_salt", pmod(hash(saltSrc), lit(buckets)))
    val phase1 = salted.groupBy((keys :+ col("_salt")): _*)
      .agg(partial.head, partial.tail: _*)
    phase1.groupBy(keys: _*).agg(merge.head, merge.tail: _*)
  }

  /**
   * Salted shuffle JOIN — the skew device for a big⋈medium equi-join where
   * the medium side is too large to broadcast and the big side's key is
   * Zipf-hot (the reference's `fieldsGrouping` hotspot,
   * `TopologyBuilder.fieldsGrouping`, hit on the JOIN path instead of the
   * agg path [[saltedAgg]] covers). A plain shuffle join sends every row
   * of a hot key to ONE reduce task; salting splits each key across
   * `buckets` tasks: the big side salts deterministically from `saltSrc`
   * (any per-row column — row identity, not the key), the medium side is
   * replicated ×`buckets` (one copy per salt value), and the join runs on
   * `(key, salt)` — same rows out as the unsalted join, hot-key work
   * fanned `buckets` ways.
   *
   * Cost model at 100 TB: medium side shuffles ×`buckets` (why it must be
   * the SMALLER input), big side shuffles ×1 exactly as before; pick
   * `buckets` ≈ hot-key-share × cluster-cores. With AQE's skew-join
   * handling on, prefer the built-in (it salts only the skewed partitions
   * at runtime); this operator is the explicit, planner-independent form —
   * same rows regardless of AQE's runtime statistics.
   */
  def saltedJoin(big: DataFrame, medium: DataFrame, keys: Seq[String],
      saltSrc: Column, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val overlap = big.columns.intersect(medium.columns).filterNot(keys.contains)
    require(overlap.isEmpty,
      s"non-key columns collide: ${overlap.mkString(",")} — rename first")
    val b = big.withColumn("_salt", pmod(hash(saltSrc), lit(buckets)))
    val m = medium.withColumn("_salt",
      explode(array((0 until buckets).map(lit): _*)))
    b.join(m, keys :+ "_salt").drop("_salt")
  }
}
