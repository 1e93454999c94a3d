package graft

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Windows
import graft.streaming.Sessionize.PageLite
import graft.streaming.SessionizeTwoPhase

class SessionizeSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("streaming sessionizer matches batch session_window on out-of-order input") {
    import spark.implicits._
    val input = MemoryStream[PageLite](Encoders.product[PageLite], spark)
    val sessions = SessionizeTwoPhase.sessions(input.toDS(), watermarkDelaySec = 600L)
    val q = sessions.writeStream.format("memory")
      .queryName("sess_out").outputMode("append").start()
    try {
      val base = 1700000000L
      // host A: two sessions; host B: one; delivered out of order
      val rows = Seq(
        PageLite("a.example", ts(base + 120), 10),
        PageLite("a.example", ts(base), 11), // out of order
        PageLite("b.example", ts(base + 300), 12),
        PageLite("a.example", ts(base + 60), 13),
        PageLite("a.example", ts(base + 5000), 14), // new session for A
        PageLite("b.example", ts(base + 400), 15))
      input.addData(rows.take(3))
      q.processAllAvailable()
      input.addData(rows.drop(3))
      q.processAllAvailable()
      // flush: far-future event advances the watermark past everything
      input.addData(PageLite("zz.flush", ts(base + 100000), 0))
      q.processAllAvailable()
      input.addData(PageLite("zz.flush", ts(base + 200000), 0))
      q.processAllAvailable()

      val got = spark.table("sess_out")
        .select($"host", unix_micros($"session_start").as("s_start"),
          unix_micros($"session_end").as("s_end"), $"n_pages", $"text_bytes")
        .where($"host" =!= "zz.flush")
        .collect().map(_.toSeq).toSet

      val batch = Windows.session(
        rows.toDF(), "warc_ts", "30 minutes",
        Seq(col("host")),
        Seq(count(lit(1)).as("n_pages"), sum($"text_len").as("text_bytes")))
        .select($"host", $"s_start", $"s_end", $"n_pages", $"text_bytes")
        .collect().map(_.toSeq).toSet
      assert(got == batch, s"streaming=$got\nbatch=$batch")
    } finally q.stop()
  }

  test("randomized torture: stream sessions equal batch session_window across seeded trials") {
    import spark.implicits._
    val base = 1700000000L
    // gap choices deliberately straddle the 1800 s threshold (0 = duplicate
    // timestamp, 1799/1800/1801 = boundary semantics, 3600 = clear split)
    val gapChoices = Array(0L, 1L, 60L, 1799L, 1800L, 1801L, 3600L, 120L)
    for (trial <- 0 until 6) {
      def rnd(k: Int, i: Int): Long = graft.sources.PageGen.rnd(131L + trial, k, i) >>> 1
      val nHosts = 2 + (rnd(0, 0) % 3).toInt
      val nEv = 24 + (rnd(0, 1) % 25).toInt
      val perHostClock = scala.collection.mutable.Map[String, Long]()
      val rows = (0 until nEv).map { i =>
        val h = "h" + (rnd(1, i) % nHosts)
        val prev = perHostClock.getOrElse(h, base)
        val t = prev + gapChoices((rnd(2, i) % gapChoices.length).toInt)
        perHostClock(h) = t
        PageLite(h, ts(t), (rnd(3, i) % 100).toInt)
      }
      // deterministic shuffle (delivery order != event-time order), random
      // batch boundaries
      val shuffled = rows.sortBy(r => rnd(4, r.hashCode.abs % 1000000))
      val nBatches = 2 + (rnd(0, 2) % 3).toInt
      val batches = shuffled.grouped(math.max(1, shuffled.size / nBatches)).toSeq

      val input = MemoryStream[PageLite](Encoders.product[PageLite], spark)
      val input2 = MemoryStream[PageLite](Encoders.product[PageLite], spark)
      // delay longer than any trial's span: no row is ever late, so both
      // streams must reproduce the batch result EXACTLY. The first spreads
      // every batch over 3 partitions, so one host's events reach phase 2
      // as several fragments; the second delivers each batch whole
      val sessions = SessionizeTwoPhase.sessions(
        input.toDS().repartition(3), watermarkDelaySec = 720000L)
      val q = sessions.writeStream.format("memory")
        .queryName(s"sess_tort_$trial").outputMode("append").start()
      val q2 = SessionizeTwoPhase.sessions(
        input2.toDS(), watermarkDelaySec = 720000L)
        .writeStream.format("memory")
        .queryName(s"sess_tort2_$trial").outputMode("append").start()
      try {
        batches.foreach { b =>
          input.addData(b); q.processAllAvailable()
          input2.addData(b); q2.processAllAvailable()
        }
        val flushT = perHostClock.values.max + 800L * 3600L
        for (ft <- Seq(flushT, flushT + 800L * 3600L)) {
          input.addData(PageLite("zz.flush", ts(ft), 0)); q.processAllAvailable()
          input2.addData(PageLite("zz.flush", ts(ft), 0)); q2.processAllAvailable()
        }

        def grab(t: String) = spark.table(t)
          .select($"host", unix_micros($"session_start").as("s_start"),
            unix_micros($"session_end").as("s_end"), $"n_pages", $"text_bytes")
          .where($"host" =!= "zz.flush")
          .collect().map(_.toSeq).toSet
        val got = grab(s"sess_tort_$trial")
        val got2 = grab(s"sess_tort2_$trial")
        val batch = Windows.session(
          rows.toDF(), "warc_ts", "30 minutes",
          Seq(col("host")),
          Seq(count(lit(1)).as("n_pages"), sum($"text_len").as("text_bytes")))
          .select($"host", $"s_start", $"s_end", $"n_pages", $"text_bytes")
          .collect().map(_.toSeq).toSet
        assert(got == batch,
          s"trial $trial (hosts=$nHosts ev=$nEv batches=${batches.size}):\n" +
            s" stream-only=${(got -- batch).take(3)}\n batch-only=${(batch -- got).take(3)}")
        assert(got2 == batch,
          s"trial $trial two-phase:\n" +
            s" stream-only=${(got2 -- batch).take(3)}\n batch-only=${(batch -- got2).take(3)}")
      } finally { q.stop(); q2.stop() }
    }
  }

  test("late rows beyond the watermark are dropped deterministically") {
    import spark.implicits._
    val input = MemoryStream[PageLite](Encoders.product[PageLite], spark)
    val sessions = SessionizeTwoPhase.sessions(input.toDS(), watermarkDelaySec = 60L)
    val q = sessions.writeStream.format("memory")
      .queryName("sess_late").outputMode("append").start()
    try {
      val base = 1700000000L
      input.addData(PageLite("a.example", ts(base), 1))
      q.processAllAvailable()
      // advance watermark way past base
      input.addData(PageLite("zz.flush", ts(base + 50000), 0))
      q.processAllAvailable()
      // this row is now older than the watermark: must not resurrect host a
      input.addData(PageLite("a.example", ts(base + 10), 99))
      q.processAllAvailable()
      input.addData(PageLite("zz.flush", ts(base + 100000), 0))
      q.processAllAvailable()
      val aRows = spark.table("sess_late").where($"host" === "a.example")
        .select($"n_pages", $"text_bytes").collect().map(_.toSeq)
      assert(aRows.toSeq == Seq(Seq(1L, 1L)), s"got ${aRows.toSeq}")
    } finally q.stop()
  }
}
