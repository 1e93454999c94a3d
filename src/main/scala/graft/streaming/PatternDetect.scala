package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.TsUtil

/**
 * CEP sequence-pattern detection: for each key, match `A followed by B
 * within `withinSec` seconds of event time` and emit one row per A with
 * its FIRST matching B (MATCH_RECOGNIZE `A B` with skip-past-first
 * semantics). This is the engine's event-pattern plane — the capability
 * StormCV users assembled from topology shape (a filter bolt per leg +
 * `SequenceNrBatcher` fan-in, SURVEY.md §3.2); here it is one stateful
 * operator.
 *
 * State per key = open A's (those not yet matched and not expired) +
 * a bounded buffer of recent B's for out-of-order arrival; both evicted
 * by the event-time watermark + `withinSec`, so state is bounded by the
 * key's event rate inside one horizon — the 100 TB shape (no unbounded
 * buffering, no per-key scan of history).
 *
 * Output is deterministic for a given input set and watermark: matches
 * are resolved in event-time order (ties by the B's id), and a match is
 * emitted only once its A can no longer acquire an EARLIER B — i.e. when
 * the watermark has passed the A's deadline `a_ts + withinSec`.
 */
object PatternDetect {

  final case class Ev(key: Long, ts: Timestamp, kind: String, id: Long)
  final case class Match(key: Long, a_id: Long, a_ts: Timestamp, b_id: Long, b_ts: Timestamp)

  /** One leg's buffer: `(tsUs, id)` entries, sorted ascending and
    * distinct ([[mergeSorted]]'s invariant). */
  private type Leg = List[(Long, Long)]

  /** Open A's and candidate B's, both within the live horizon (micros).
    * INVARIANT: both lists are sorted ascending and distinct — new
    * arrivals are merge-unioned in ([[mergeSorted]]), so an idle hot key
    * pays O(state) per batch, not O(state log state). */
  final case class PatState(openA: List[(Long, Long)], bs: List[(Long, Long)])

  /** Union of already-sorted-distinct `state` with a batch of new
    * arrivals: sort only the (small) fresh set and merge. The one
    * sorted-state merge of the streaming plane (CEP legs, as-of and
    * successor buffers). */
  private[streaming] def mergeSorted[T](state: List[T], freshRaw: Seq[T])(
      implicit ord: Ordering[T]): List[T] = {
    if (freshRaw.isEmpty) return state
    val fresh = freshRaw.distinct.sorted
    val out = List.newBuilder[T]
    var last: Any = null
    def push(x: T): Unit = if (x != last) { out += x; last = x }
    val a = state.iterator.buffered
    val b = fresh.iterator.buffered
    while (a.hasNext && b.hasNext) {
      if (ord.lteq(a.head, b.head)) push(a.next()) else push(b.next())
    }
    while (a.hasNext) push(a.next())
    while (b.hasNext) push(b.next())
    out.result()
  }

  /** How a pattern's state class stores its legs, A's first. The
    * classes are the state-store schema of running queries, so the
    * `detect` maps to and from them instead of replacing them. */
  private final case class Layout[S](enc: Encoder[S], legs: S => Seq[Leg],
      of: Seq[Leg] => S)
  private lazy val TwoLegs = Layout[PatState](Encoders.product[PatState],
    s => Seq(s.openA, s.bs), l => PatState(l(0), l(1)))
  private lazy val ThreeLegs = Layout[Pat3State](Encoders.product[Pat3State],
    s => Seq(s.openA, s.bs, s.cs), l => Pat3State(l(0), l(1), l(2)))

  /**
   * The state machine behind every pattern. Per key and batch:
   *  - take in each leg's arrivals of its kind (leg 0 = the A's), one
   *    filter per leg, not a partition: with aKind == bKind every event
   *    plays both roles (the quiescence degenerate case). Rows below the
   *    watermark are dropped EXPLICITLY (same policy as StreamDedup and
   *    SessionizeTwoPhase): the framework usually pre-filters them, but a
   *    below-watermark A reaching here would be instantly ripe and could
   *    resolve against leg buffers already evicted at this watermark;
   *  - every A with `a + H < wm` is ripe: no leg entry that could change
   *    its outcome can still arrive, so `resolve(key, a, legs)` is final;
   *  - keep the leg entries `>= wm - H` — exactly the unripe A's, and the
   *    other legs' entries an unripe A can still reach (they sit above it);
   *  - drop the state when nothing is kept, else store it and wake one
   *    horizon ahead of the watermark.
   */
  private def detect[S, O](events: Dataset[Ev], kinds: Seq[String],
      horizonUs: Long, watermarkDelay: String, layout: Layout[S])(
      resolve: (Long, (Long, Long), Seq[Leg]) => Option[O])(
      implicit outEnc: Encoder[O]): Dataset[O] = {
    import events.sparkSession.implicits._
    val (toLegs, of) = (layout.legs, layout.of)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (key: Long, rows: Iterator[Ev], state: GroupState[S]) => {
          val wm = state.getCurrentWatermarkMs() * 1000L
          val batch = rows.toSeq
          val prev = state.getOption.map(toLegs).getOrElse(kinds.map(_ => Nil))
          val legs = kinds.zip(prev).map { case (kind, leg) =>
            mergeSorted(leg, batch.filter(e => e.kind == kind && TsUtil.toUs(e.ts) >= wm)
              .map(e => (TsUtil.toUs(e.ts), e.id)))
          }
          val out = legs.head.takeWhile { case (aUs, _) => aUs + horizonUs < wm }
            .flatMap(a => resolve(key, a, legs))
          val kept = legs.map(_.dropWhile { case (us, _) => us < wm - horizonUs })
          if (kept.forall(_.isEmpty)) state.remove()
          else {
            state.update(of(kept))
            state.setTimeoutTimestamp((wm / 1000L).max(1L) + horizonUs / 1000L)
          }
          out.iterator
        })(layout.enc, outEnc)
  }

  /**
   * Streaming form. `events` must carry (key, ts, kind, id); rows with
   * kind == aKind open a pattern, kind == bKind close the earliest
   * compatible A.
   */
  def sequence(spark: SparkSession, events: Dataset[Ev],
      aKind: String, bKind: String, withinSec: Long,
      watermarkDelay: String = "1 hour"): Dataset[Match] = {
    val withinUs = withinSec * 1000000L
    // Match = the first B strictly after the A within the window (ties
    // by b id); B's are not consumed — "for each A, its first B" — so
    // the batch mirror and the SQL oracle reproduce the streaming output
    // exactly on any input.
    detect(events, Seq(aKind, bKind), withinUs, watermarkDelay, TwoLegs) {
      case (key, (aUs, aId), legs) =>
        legs(1).find { case (bUs, _) => bUs > aUs && bUs <= aUs + withinUs }
          .map { case (bUs, bId) =>
            Match(key, aId, TsUtil.fromUs(aUs), bId, TsUtil.fromUs(bUs)) }
    }(Encoders.product[Match])
  }

  final case class Absent(key: Long, a_id: Long, a_ts: Timestamp)

  /**
   * Negation pattern: `A NOT followed by B within withinSec` — the
   * abandoned-session / missed-followup CEP shape. An A is emitted
   * exactly once, when the event-time watermark passes its deadline and
   * no B arrived inside `(a_ts, a_ts + withinSec]`. Absence can only be
   * decided by time passing, which is why this is a watermark-driven
   * stateful operator and not a join: the emission point IS the
   * watermark crossing.
   *
   * Same bounded state as [[sequence]] (open A's + in-horizon B's).
   */
  def absence(spark: SparkSession, events: Dataset[Ev],
      aKind: String, bKind: String, withinSec: Long,
      watermarkDelay: String = "1 hour"): Dataset[Absent] = {
    val withinUs = withinSec * 1000000L
    detect(events, Seq(aKind, bKind), withinUs, watermarkDelay, TwoLegs) {
      case (key, (aUs, aId), legs) =>
        if (legs(1).exists { case (bUs, _) => bUs > aUs && bUs <= aUs + withinUs }) None
        else Some(Absent(key, aId, TsUtil.fromUs(aUs)))
    }(Encoders.product[Absent])
  }

  /** Batch mirror of [[absence]]: A's with NO B in their window. */
  def absenceBatch(events: DataFrame, keyCol: String, tsCol: String,
      kindCol: String, idCol: String,
      aKind: String, bKind: String, withinSec: Long): DataFrame = {
    val a = events.where(col(kindCol) === aKind)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol).cast("timestamp")).as("a_us"),
        col(idCol).as("a_id"))
    val b = events.where(col(kindCol) === bKind)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol).cast("timestamp")).as("b_us"))
    a.join(b,
        a("key") === b("key") && col("b_us") > col("a_us") &&
          col("b_us") <= col("a_us") + lit(withinSec * 1000000L),
        "left_anti")
      .select(col("key"), col("a_id"), col("a_us"))
  }

  final case class Match3(key: Long, a_id: Long, a_ts: Timestamp,
      b_id: Long, b_ts: Timestamp, c_id: Long, c_ts: Timestamp)

  /** Three-leg chain state: open A's plus in-horizon B and C buffers,
    * all sorted-distinct under the [[mergeSorted]] invariant. */
  final case class Pat3State(openA: List[(Long, Long)],
      bs: List[(Long, Long)], cs: List[(Long, Long)])

  /**
   * Three-leg chain `A → B → C`: for each A, its FIRST B within
   * `within1Sec`, then that B's FIRST C within `within2Sec`
   * (MATCH_RECOGNIZE `A B C` with skip-past-first on each leg). An A
   * whose first B never acquires a C emits nothing — the chain needs all
   * three legs. Matches are final once the watermark passes
   * `a_ts + within1 + within2`: by then every candidate B (≤ a+w1) and
   * every candidate C of that B (≤ b+w2 ≤ a+w1+w2) is either arrived or
   * below-watermark — so output is deterministic for a given input set
   * and watermark, batch-mirrored by [[sequence3Batch]] and the q50
   * oracle. State per key = open A's + B/C buffers inside the
   * `w1+w2` horizon, watermark-evicted — same bounded-state shape as
   * [[sequence]].
   */
  def sequence3(spark: SparkSession, events: Dataset[Ev],
      aKind: String, bKind: String, cKind: String,
      within1Sec: Long, within2Sec: Long,
      watermarkDelay: String = "1 hour"): Dataset[Match3] = {
    val w1 = within1Sec * 1000000L
    val w2 = within2Sec * 1000000L
    // ripe once no leg can change: first-B final at wm > a+w1, its
    // first-C final at wm > b+w2 with b <= a+w1 — both implied by
    // wm > a+w1+w2, one shared horizon for all three legs
    detect(events, Seq(aKind, bKind, cKind), w1 + w2, watermarkDelay, ThreeLegs) {
      case (key, (aUs, aId), legs) =>
        legs(1).find { case (bUs, _) => bUs > aUs && bUs <= aUs + w1 }
          .flatMap { case (bUs, bId) =>
            legs(2).find { case (cUs, _) => cUs > bUs && cUs <= bUs + w2 }
              .map { case (cUs, cId) =>
                Match3(key, aId, TsUtil.fromUs(aUs), bId, TsUtil.fromUs(bUs),
                  cId, TsUtil.fromUs(cUs)) } }
    }(Encoders.product[Match3])
  }

  /** Batch mirror of [[sequence3]] (the oracle form): first B per A,
    * then first C per that (A, B). */
  def sequence3Batch(events: DataFrame, keyCol: String, tsCol: String,
      kindCol: String, idCol: String,
      aKind: String, bKind: String, cKind: String,
      within1Sec: Long, within2Sec: Long): DataFrame = {
    val ab = sequenceBatch(events, keyCol, tsCol, kindCol, idCol,
      aKind, bKind, within1Sec)
    val c = events.where(col(kindCol) === cKind)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol).cast("timestamp")).as("c_us"),
        col(idCol).as("c_id"))
    ab.join(c, Seq("key"))
      .where(col("c_us") > col("b_us") &&
        col("c_us") <= col("b_us") + lit(within2Sec * 1000000L))
      .groupBy(col("key"), col("a_id"), col("a_us"), col("b_id"), col("b_us"))
      .agg(min(struct(col("c_us"), col("c_id"))).as("first_c"))
      .select(col("key"), col("a_id"), col("a_us"), col("b_id"), col("b_us"),
        col("first_c.c_id").as("c_id"), col("first_c.c_us").as("c_us"))
  }

  final case class MatchK(key: Long, a_id: Long, a_ts: Timestamp,
      b_count: Long, b_first_id: Long, b_last_id: Long,
      c_id: Long, c_ts: Timestamp)

  /**
   * Kleene-plus pattern `A B+ C` within `withinSec` of A
   * (MATCH_RECOGNIZE `A B+ C`, reluctant closure): for each A, the FIRST
   * C inside `(a_ts, a_ts + withinSec]` that has at least one B strictly
   * between A and it; emitted with the matched B-run — `b_count` = number
   * of B events in `(a_ts, c_ts)` (open interval: legs are strictly
   * ordered, same-timestamp B's don't close under a same-timestamp C),
   * plus the run's first/last B ids. An A whose window holds C's but no
   * preceding B, or B's but no C after them, emits nothing. The first
   * eligible C is exactly the first C after the A's FIRST B — reluctant
   * (fewest B's that still witness the pattern), which keeps the output a
   * pure function of the input set: greedy closure would also be
   * deterministic, but reluctant composes with [[sequence]]'s
   * skip-past-first convention.
   *
   * Finality: all three legs live inside one `withinSec` horizon from A,
   * so a match is final once the watermark passes `a_ts + withinSec` —
   * every candidate B and C has then either arrived or is below-watermark.
   * State per key = open A's + B/C buffers inside that horizon
   * ([[Pat3State]]), watermark-evicted — the same bounded-state shape as
   * [[sequence]]/[[sequence3]]. Batch mirror: [[kleeneBatch]].
   *
   * Reference analog: StormCV expresses multi-event runs as a
   * `SequenceNrBatcher` window fed by per-kind filter bolts
   * (stormcv TopologyRunner examples, SURVEY.md §3.2) — count-gated, not
   * pattern-gated; this operator is the event-time-correct form.
   */
  def kleene(spark: SparkSession, events: Dataset[Ev],
      aKind: String, bKind: String, cKind: String, withinSec: Long,
      watermarkDelay: String = "1 hour"): Dataset[MatchK] = {
    val w = withinSec * 1000000L
    detect(events, Seq(aKind, bKind, cKind), w, watermarkDelay, ThreeLegs) {
      case (key, (aUs, aId), legs) =>
        // in-window B's, already sorted ascending by (ts, id)
        val bs = legs(1).filter { case (bUs, _) => bUs > aUs && bUs <= aUs + w }
        bs.headOption.flatMap { case (b1Us, _) =>
          legs(2).find { case (cUs, _) => cUs > b1Us && cUs <= aUs + w }
            .map { case (cUs, cId) =>
              val run = bs.takeWhile { case (bUs, _) => bUs < cUs }
              MatchK(key, aId, TsUtil.fromUs(aUs), run.size.toLong,
                run.head._2, run.last._2, cId, TsUtil.fromUs(cUs))
            }
        }
    }(Encoders.product[MatchK])
  }

  /** Batch mirror of [[kleene]] (the oracle form): first B per A, first C
    * after that B inside A's window, then the B-run count/first/last over
    * `(a_ts, c_ts)`. Three equi-joins on key with window predicates —
    * the same bounded-fanout shape as [[sequence3Batch]]. */
  def kleeneBatch(events: DataFrame, keyCol: String, tsCol: String,
      kindCol: String, idCol: String,
      aKind: String, bKind: String, cKind: String, withinSec: Long): DataFrame = {
    val wUs = withinSec * 1000000L
    val b = events.where(col(kindCol) === bKind)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol).cast("timestamp")).as("b_us"),
        col(idCol).as("b_id"))
    val c = events.where(col(kindCol) === cKind)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol).cast("timestamp")).as("c_us"),
        col(idCol).as("c_id"))
    // first B per A (shared leg with the two-kind chain)
    val ab = sequenceBatch(events, keyCol, tsCol, kindCol, idCol, aKind, bKind, withinSec)
    // first C strictly after that B, still inside A's window
    val abc = ab.join(c, Seq("key"))
      .where(col("c_us") > col("b_us") && col("c_us") <= col("a_us") + lit(wUs))
      .groupBy(col("key"), col("a_id"), col("a_us"))
      .agg(min(struct(col("c_us"), col("c_id"))).as("first_c"))
      .select(col("key"), col("a_id"), col("a_us"),
        col("first_c.c_id").as("c_id"), col("first_c.c_us").as("c_us"))
    // the matched B-run: every B in (a_us, c_us)
    abc.join(b, Seq("key"))
      .where(col("b_us") > col("a_us") && col("b_us") < col("c_us"))
      .groupBy(col("key"), col("a_id"), col("a_us"), col("c_id"), col("c_us"))
      .agg(count(lit(1)).as("b_count"),
        min(struct(col("b_us"), col("b_id"))).as("fb"),
        max(struct(col("b_us"), col("b_id"))).as("lb"))
      .select(col("key"), col("a_id"), col("a_us"), col("b_count"),
        col("fb.b_id").as("b_first_id"), col("lb.b_id").as("b_last_id"),
        col("c_id"), col("c_us"))
  }

  /**
   * Per-key quiescence: emit (key, a_id, a_ts) for every event that is
   * the key's LAST activity for at least `withinSec` of event time — the
   * "host went silent" CEP shape (both internal gaps and the trailing
   * silence, decided when the watermark passes the deadline). This is
   * exactly [[absence]] with A = B = any event, which the two-filter leg
   * intake supports directly — one event list plays both roles.
   */
  def quiescence(spark: SparkSession, events: Dataset[Ev],
      withinSec: Long, watermarkDelay: String = "1 hour"): Dataset[Absent] = {
    import spark.implicits._
    absence(spark, events.map(e => e.copy(kind = "")), "", "", withinSec, watermarkDelay)
  }

  /** Batch mirror of [[quiescence]]: events with no LATER event of any
    * kind for the key inside `(ts, ts + withinSec]`. */
  def quiescenceBatch(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, withinSec: Long): DataFrame =
    absenceBatch(events.withColumn("__qk", lit("")), keyCol, tsCol, "__qk", idCol,
      "", "", withinSec)

  /**
   * Batch mirror (the oracle form): identical semantics over a static
   * table — for each A, the first B after it within the window
   * (min by (b_ts, b_id)). Value-identical to the streaming form for
   * any input/watermark, which is what the registry oracle checks.
   */
  def sequenceBatch(events: DataFrame, keyCol: String, tsCol: String,
      kindCol: String, idCol: String,
      aKind: String, bKind: String, withinSec: Long): DataFrame = {
    val a = events.where(col(kindCol) === aKind)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol).cast("timestamp")).as("a_us"),
        col(idCol).as("a_id"))
    val b = events.where(col(kindCol) === bKind)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol).cast("timestamp")).as("b_us"),
        col(idCol).as("b_id"))
    // first B per A (min by (b_us, b_id)) — the non-contended form
    a.join(b, Seq("key"))
      .where(col("b_us") > col("a_us") &&
        col("b_us") <= col("a_us") + lit(withinSec * 1000000L))
      .groupBy(col("key"), col("a_us"), col("a_id"))
      .agg(min(struct(col("b_us"), col("b_id"))).as("first_b"))
      .select(col("key"), col("a_id"), col("a_us"),
        col("first_b.b_id").as("b_id"), col("first_b.b_us").as("b_us"))
  }
}
