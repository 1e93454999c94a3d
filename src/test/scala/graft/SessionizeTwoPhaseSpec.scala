package graft

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Windows
import graft.sources.{PageGen, PageGenConfig}
import graft.streaming.SessionizeTwoPhase
import graft.streaming.Sessionize.PageLite
import graft.streaming.SessionizeTwoPhase.Frag

class SessionizeTwoPhaseSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("mergeFrags: interval union is exact and order-independent") {
    val fs = Seq(
      Frag("h", 0L, 100L, 2, 10),
      Frag("h", 90L, 250L, 3, 20),   // overlaps first
      Frag("h", 250L, 400L, 1, 5),   // end-exclusive: does NOT merge
      Frag("h", 500L, 700L, 4, 40))
    val m = SessionizeTwoPhase.mergeFrags(fs)
    assert(m == SessionizeTwoPhase.mergeFrags(fs.reverse))
    assert(m.map(f => (f.startUs, f.endUs, f.n, f.bytes)) ==
      Seq((0L, 250L, 5L, 30L), (250L, 400L, 1L, 5L), (500L, 700L, 4L, 40L)))
  }

  test("two-phase batch sessionizer equals session_window on generated pages") {
    import spark.implicits._
    val cfg = PageGenConfig(nPages = 5000L, nHosts = 20, parallelism = 7)
    val pages = PageGen.genPages(spark, cfg)
      .select($"host", $"warc_ts", length($"expected_text").cast("long").as("text_len"))
      .as[PageLite]
    val twoPhase = SessionizeTwoPhase.sessionsBatch(spark, pages)
      .select($"host", unix_micros($"session_start").as("s_start"),
        unix_micros($"session_end").as("s_end"), $"n_pages", $"text_bytes")
      .collect().map(_.toSeq).toSet
    val oracle = Windows.session(pages.toDF(), "warc_ts", "30 minutes",
      Seq($"host"), Seq(count(lit(1)).as("n_pages"), sum($"text_len").as("text_bytes")))
      .select($"host", $"s_start", $"s_end", $"n_pages", $"text_bytes")
      .collect().map(_.toSeq).toSet
    assert(twoPhase == oracle)
  }

  test("two-phase streaming equals sessionsBatch on an out-of-order stream") {
    import spark.implicits._
    val input = MemoryStream[PageLite](Encoders.product[PageLite], spark)
    val q = SessionizeTwoPhase.sessions(input.toDS(), watermarkDelaySec = 600L)
      .writeStream.format("memory").queryName("sp_two").outputMode("append").start()
    try {
      val base = 1700000000L
      val batches = Seq(
        Seq(PageLite("a.example", ts(base + 120), 1), PageLite("a.example", ts(base), 2),
          PageLite("b.example", ts(base + 50), 3)),
        Seq(PageLite("a.example", ts(base + 60), 4), PageLite("a.example", ts(base + 5000), 5),
          PageLite("b.example", ts(base + 200), 6), PageLite("b.example", ts(base + 9000), 7)),
        Seq(PageLite("zz.flush", ts(base + 100000), 0)),
        Seq(PageLite("zz.flush", ts(base + 200000), 0)))
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      def grab(d: org.apache.spark.sql.DataFrame) = d.where($"host" =!= "zz.flush")
        .select($"host", unix_micros($"session_start"), unix_micros($"session_end"),
          $"n_pages", $"text_bytes").collect().map(_.toSeq).toSet
      val one = grab(SessionizeTwoPhase.sessionsBatch(spark, batches.flatten.toDS()).toDF())
      val two = grab(spark.table("sp_two"))
      assert(one == two && one.nonEmpty, s"one=$one\ntwo=$two")
    } finally q.stop()
  }
}
