package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.TsUtil

/**
 * Streaming as-of enrichment — the live form of [[graft.operators.AsOfJoin]]
 * and the north rule's "stateful stream-stream join" in its
 * latest-state-wins shape: a page/event stream joined against a per-host
 * metadata stream where each event picks up the NEWEST snapshot at or
 * before its event time (the reference's fan-in of a frame with the
 * freshest feature state, `operator/FeatureCombinerOp.java:38-61`, run
 * unbounded instead of per-window like q31's band join).
 *
 * Semantics (deterministic for a given input set + watermark — the north
 * rule's criterion):
 *  - an event is emitted EXACTLY ONCE, when the watermark passes its
 *    event time: from then on no snapshot that could match it (snap.ts
 *    <= ev.ts < watermark) can still arrive — any such arrival is below
 *    the watermark and dropped, the engine-wide policy — so the match is
 *    final;
 *  - the match is the latest snapshot with `snap.ts <= ev.ts` (equal
 *    timestamps visible, DuckDB `ASOF >=` semantics), NULL when no
 *    snapshot precedes the event;
 *  - duplicate same-timestamp snapshots resolve to the max payload —
 *    bitwise the batch mirror's max-struct rule — and replayed
 *    duplicates of either side are absorbed by the sorted-state
 *    merge-union, same as the CEP operators.
 *
 * State per key — the 100 TB shape: the not-yet-final event and snapshot
 * buffers (bounded by the key's rate inside one watermark delay) plus ONE
 * bridge row, the latest FINALIZED snapshot — every older finalized
 * snapshot is dominated (any future event's ts >= watermark > bridge.ts,
 * so only the newest can ever win) and is discarded, which is what keeps
 * an idle key at O(1) state instead of a growing snapshot history.
 */
object AsOfEnrich {

  final case class AsOfEv(key: String, ts: Timestamp, id: Long)
  final case class AsOfSnap(key: String, ts: Timestamp, sval: Long)
  final case class Enriched(key: String, id: Long, ts: Timestamp,
      snap_ts: Option[Timestamp], sval: Option[Long])

  /** union row: side 0 = snapshot (sorts first at equal ts), 1 = event. */
  private[streaming] final case class Tagged(key: String, ts: Timestamp,
      side: Int, id: Long, sval: Long)

  /** bridge: 0/1 (tsUs, sval) — latest finalized snapshot; pendEv/pendSn:
    * sorted-distinct not-yet-final rows. */
  final case class AsOfState(bridge: List[(Long, Long)],
      pendEv: List[(Long, Long)], pendSn: List[(Long, Long)])

  def enrich(spark: SparkSession, events: Dataset[AsOfEv],
      snaps: Dataset[AsOfSnap], watermarkDelay: String = "1 hour")
      : Dataset[Enriched] = {
    import spark.implicits._
    val tagged = events.map(e => Tagged(e.key, e.ts, 1, e.id, 0L))
      .unionByName(snaps.map(sn => Tagged(sn.key, sn.ts, 0, 0L, sn.sval)))
    tagged
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (key: String, rows: Iterator[Tagged], state: GroupState[AsOfState]) => {
          val st = state.getOption.getOrElse(AsOfState(Nil, Nil, Nil))
          val wm = state.getCurrentWatermarkMs() * 1000L
          // below-watermark arrivals dropped explicitly (engine policy):
          // matching them would retroactively change an emitted row
          val fresh = rows.filter(t => TsUtil.toUs(t.ts) >= wm).toSeq
          val pendEv = PatternDetect.mergeSorted(st.pendEv,
            fresh.filter(_.side == 1).map(t => (TsUtil.toUs(t.ts), t.id)))
          val pendSn = PatternDetect.mergeSorted(st.pendSn,
            fresh.filter(_.side == 0).map(t => (TsUtil.toUs(t.ts), t.sval)))
          val (finEv, unfinEv) = pendEv.partition(_._1 < wm)
          val (finSn, unfinSn) = pendSn.partition(_._1 < wm)
          // bridge.ts < every pending ts (pending rows were >= an earlier
          // watermark; the bridge was final then), so this stays sorted
          val chain = (st.bridge ++ finSn).toArray
          var ci = -1 // index of latest snapshot with ts <= current event
          val out = finEv.map { case (eUs, id) =>
            while (ci + 1 < chain.length && chain(ci + 1)._1 <= eUs) ci += 1
            if (ci < 0) Enriched(key, id, TsUtil.fromUs(eUs), None, None)
            else Enriched(key, id, TsUtil.fromUs(eUs),
              Some(TsUtil.fromUs(chain(ci)._1)), Some(chain(ci)._2))
          }
          val bridge = if (chain.nonEmpty) List(chain.last) else Nil
          if (bridge.isEmpty && unfinEv.isEmpty && unfinSn.isEmpty) state.remove()
          else {
            state.update(AsOfState(bridge, unfinEv, unfinSn))
            // ripen pending rows on watermark advance; an idle key holding
            // only its bridge needs no callback
            if (unfinEv.nonEmpty || unfinSn.nonEmpty)
              state.setTimeoutTimestamp((wm / 1000L).max(1L) + 1000L)
          }
          out.iterator
        })(Encoders.product[AsOfState], Encoders.product[Enriched])
  }
}
