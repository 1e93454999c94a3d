package graft.streaming

import java.sql.Timestamp

/**
 * Shared shapes of the per-host sessionizer. The streaming operator is
 * [[SessionizeTwoPhase]]; the batch oracle is
 * [[graft.operators.Windows.session]].
 */
object Sessionize {

  /** Input row shape: (host, warc_ts, text_len). */
  final case class PageLite(host: String, warc_ts: Timestamp, text_len: Long)

  val GapUsDefault: Long = 1800L * 1000000L
}
