package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.LongType

import graft.model.TsUtil

/**
 * Streaming successor pairing — the reference's live optical-flow shape:
 * a `SlidingWindowBatcher(size=2)` feeding `OpticalFlowOp`, which
 * requires exactly the two consecutive frames of a stream
 * (`operation/OpticalFlowOp.java:50` rejects any batch that is not two
 * frames; wired live in `E6_GroupOfFramesTopology.java:60-84`). The
 * batch mirror of this pairing is the `lag` window the q09/q14 queries
 * use; this operator is the UNBOUNDED form: for each key, every event
 * is paired with its event-time predecessor, watermark-final.
 *
 * Semantics (deterministic for a given input set + watermark):
 *  - events order by `(ts, id)` per key; each emitted pair `(prev, cur)`
 *    is consecutive in that order over the whole stream;
 *  - a pair is emitted exactly once, when the watermark passes `cur.ts`
 *    — after that no arrival can land between `prev` and `cur` (it
 *    would be below the watermark and is dropped, the engine-wide
 *    policy), so the pairing is final;
 *  - replayed duplicates (same key/ts/id/len) are absorbed by the
 *    sorted-state merge-union, same as the CEP operators.
 *
 * State per key = the not-yet-final buffer (bounded by the key's event
 * rate inside one watermark delay) + ONE bridge row (the last finalized
 * event, so the next pair can cross a batch boundary) — the 100 TB
 * shape: no history scan, O(horizon) state, one row surviving idle.
 */
object SequentialPairs {

  /** One measured event: `len` is the attribute whose successive delta
    * the pair carries (page bytes here; any long-valued measure). */
  final case class SeqEv(key: String, ts: Timestamp, id: Long, len: Long)
  final case class SuccPair(key: String, prev_id: Long, prev_ts: Timestamp,
      id: Long, ts: Timestamp, flow: Long)

  /** bridge: 0 or 1 (tsUs, id, len) — the last finalized event;
    * pending: sorted-distinct (tsUs, id, len) not yet watermark-final. */
  final case class SuccState(bridge: List[(Long, Long, Long)],
      pending: List[(Long, Long, Long)])

  def pairs(spark: SparkSession, events: Dataset[SeqEv],
      watermarkDelay: String = "1 hour"): Dataset[SuccPair] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (key: String, rows: Iterator[SeqEv], state: GroupState[SuccState]) => {
          val st = state.getOption.getOrElse(SuccState(Nil, Nil))
          val wm = state.getCurrentWatermarkMs() * 1000L
          // below-watermark arrivals are dropped EXPLICITLY (engine-wide
          // policy): pairing them would retroactively split an already-
          // emitted pair
          val fresh = rows
            .filter(e => TsUtil.toUs(e.ts) >= wm)
            .map(e => (TsUtil.toUs(e.ts), e.id, e.len)).toSeq
          val buffered = PatternDetect.mergeSorted(st.pending, fresh)
          // events below the watermark are FINAL: nothing can now land
          // between them
          val (fin, unfin) = buffered.partition(_._1 < wm)
          val chain = st.bridge ++ fin // bridge.ts < old wm <= every fin ts
          val out = chain.iterator.sliding(2).withPartial(false).map { w =>
            val (pUs, pId, pLen) = w(0); val (cUs, cId, cLen) = w(1)
            SuccPair(key, pId, TsUtil.fromUs(pUs), cId, TsUtil.fromUs(cUs),
              cLen - pLen)
          }.toList
          val bridge = if (fin.nonEmpty) List(fin.last) else st.bridge
          if (bridge.isEmpty && unfin.isEmpty) state.remove()
          else {
            state.update(SuccState(bridge, unfin))
            // ripen the pending buffer on watermark advance; an idle key
            // holding only its bridge needs no callback
            if (unfin.nonEmpty)
              state.setTimeoutTimestamp((wm / 1000L).max(1L) + 1000L)
          }
          out.iterator
        })(Encoders.product[SuccState], Encoders.product[SuccPair])
  }

  /** Batch mirror: `lag` over `(ts, id)` per key — identical rows to the
    * streaming form on the same (distinct) input set. */
  def pairsBatch(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, lenCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("key")).orderBy(col("ts"), col("id"))
    events.select(col(keyCol).as("key"), col(tsCol).as("ts"),
        col(idCol).as("id"), col(lenCol).cast(LongType).as("len"))
      .withColumn("prev_id", lag(col("id"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("prev_len", lag(col("len"), 1).over(w))
      .where(col("prev_id").isNotNull)
      .select(col("key"), col("prev_id"), col("prev_ts"),
        col("id"), col("ts"), (col("len") - col("prev_len")).as("flow"))
  }
}
