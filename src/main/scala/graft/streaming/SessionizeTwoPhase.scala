package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{HostSession, TsUtil}
import graft.streaming.Sessionize.PageLite

/**
 * Two-phase (skew-proof) sessionizer.
 *
 * The naive per-key sessionizer ([[Sessionize]]) routes EVERY event of a
 * host to one task — a Zipf-hot host (StormCV's `fieldsGrouping` hotspot,
 * SURVEY.md §2.8) becomes the straggler that floors every micro-batch.
 *
 * Fix: session assembly is an **interval union**, and interval union is
 * associative. Each event contributes the interval `[ts, ts+gap)`;
 * sessions are the merged connected components. So we can:
 *
 *   phase 1 (map-side, NO shuffle): within each input partition, sort
 *     that partition's events per host and collapse them into session
 *     FRAGMENTS `(host, start, end=last+gap, n, bytes)` — the per-event
 *     work runs at full input parallelism;
 *   phase 2 (per host, tiny): merge overlapping fragments. A hot host
 *     contributes at most (#partitions) fragments per micro-batch instead
 *     of all its events.
 *
 * The result is exactly `session_window` semantics (fragment overlap ⇔
 * the union of their events has all gaps < gap). Closing rule is
 * unchanged: a merged fragment with `end ≤ watermark` can never be
 * extended by a non-late event (such an event would start ≥ watermark ≥
 * end), so it is emitted as a final session.
 */
object SessionizeTwoPhase {

  /** Session fragment: a partial interval-union result. `end_ts` carries
    * event time forward (mapPartitions loses the upstream watermark
    * column); since end = last_ts + gap exactly, a watermark of
    * (delay + gap) on `end_ts` equals the upstream event watermark. */
  final case class Frag(host: String, startUs: Long, endUs: Long, n: Long, bytes: Long) {
    def end_ts: Timestamp = TsUtil.fromUs(endUs)
  }
  final case class FragRow(host: String, startUs: Long, endUs: Long, n: Long,
      bytes: Long, end_ts: Timestamp) {
    def frag: Frag = Frag(host, startUs, endUs, n, bytes)
  }
  final case class FragBuf(frags: List[Frag])

  /** Phase 1: per-partition fragment assembly (map-side, no shuffle). */
  def fragments(pages: Dataset[PageLite], gapUs: Long): Dataset[FragRow] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val byHost = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
      it.foreach { p =>
        val b = byHost.computeIfAbsent(p.host,
          _ => scala.collection.mutable.ArrayBuffer.empty[(Long, Long)])
        b += ((TsUtil.toUs(p.warc_ts), p.text_len))
      }
      import scala.jdk.CollectionConverters._
      byHost.entrySet().iterator().asScala.flatMap { e =>
        val evs = e.getValue.sortInPlaceBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[Frag]
        var s = evs.head._1
        var last = evs.head._1
        var n = 1L
        var bytes = evs.head._2
        var i = 1
        while (i < evs.length) {
          val (t, b) = evs(i)
          if (t - last >= gapUs) {
            out += Frag(e.getKey, s, last + gapUs, n, bytes)
            s = t; n = 0L; bytes = 0L
          }
          last = t; n += 1; bytes += b
          i += 1
        }
        out += Frag(e.getKey, s, last + gapUs, n, bytes)
        out.iterator.map(f => FragRow(f.host, f.startUs, f.endUs, f.n, f.bytes, f.end_ts))
      }
    }
  }

  /** Merge sorted-by-start overlapping fragments (pure; exact union). */
  def mergeFrags(frags: Seq[Frag]): Seq[Frag] = {
    if (frags.isEmpty) return Nil
    val sorted = frags.sortBy(f => (f.startUs, f.endUs))
    val out = scala.collection.mutable.ArrayBuffer.empty[Frag]
    var cur = sorted.head
    for (f <- sorted.tail) {
      if (f.startUs < cur.endUs) // overlap (end exclusive)
        cur = Frag(cur.host, cur.startUs, math.max(cur.endUs, f.endUs),
          cur.n + f.n, cur.bytes + f.bytes)
      else { out += cur; cur = f }
    }
    out += cur
    out.toSeq
  }

  /** Phase 2 (streaming): stateful fragment merge per host.
    * `watermarkDelaySec` must equal the upstream watermark delay. */
  def sessions(pages: Dataset[PageLite], gapUs: Long = Sessionize.GapUsDefault,
      watermarkDelaySec: Long = 7200L): Dataset[HostSession] = {
    import pages.sparkSession.implicits._
    fragments(pages, gapUs)
      .withWatermark("end_ts", s"${watermarkDelaySec + gapUs / 1000000L} seconds")
      .as[FragRow]
      .groupByKey(_.host)
      .flatMapGroupsWithState[FragBuf, HostSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (host: String, rowsIn: Iterator[FragRow], state: GroupState[FragBuf]) =>
          val rows = rowsIn.map(_.frag)
          val wm = state.getCurrentWatermarkMs() * 1000L
          // late fragments: anything that could only extend already-closed
          // sessions (end ≤ wm) is impossible for non-late events; drop
          // fragments that end before the watermark entirely
          val incoming = rows.filter(_.endUs > wm).toList
          val all = state.getOption.map(_.frags).getOrElse(Nil) ::: incoming
          val merged = mergeFrags(all)
          val (closed, open) = merged.partition(_.endUs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(FragBuf(open.toList))
            val earliestEnd = open.map(_.endUs).min / 1000L
            state.setTimeoutTimestamp(
              math.max(earliestEnd, state.getCurrentWatermarkMs() + 1))
          }
          closed.iterator.map(f => HostSession(host,
            TsUtil.fromUs(f.startUs), TsUtil.fromUs(f.endUs),
            f.n, f.bytes))
      }
  }

  /** Column-level adapter from a page DataFrame (host, warc_ts, text). */
  def fromPages(spark: SparkSession, pages: Dataset[_],
      gapUs: Long = Sessionize.GapUsDefault,
      watermarkDelaySec: Long = 7200L): Dataset[HostSession] = {
    import spark.implicits._
    val lite = pages.toDF()
      .select(col("host"), col("warc_ts").cast("timestamp"),
        length(col("text")).cast("long").as("text_len"))
      .as[PageLite]
    sessions(lite, gapUs, watermarkDelaySec)
  }

  /** Batch variant (verification oracle + batch jobs). */
  def sessionsBatch(spark: SparkSession, pages: Dataset[PageLite],
      gapUs: Long = Sessionize.GapUsDefault): Dataset[HostSession] = {
    import spark.implicits._
    fragments(pages, gapUs)
      .groupByKey(_.host)
      .flatMapGroups { (host, it) =>
        mergeFrags(it.map(_.frag).toSeq).iterator.map(f => HostSession(host,
          TsUtil.fromUs(f.startUs), TsUtil.fromUs(f.endUs),
          f.n, f.bytes))
      }
  }
}
