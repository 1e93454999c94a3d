package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Windows
import graft.streaming.{ExactlyOnceSink, SessionizeTwoPhase}
import graft.streaming.Sessionize.PageLite

/**
 * The north rule's end-to-end determinism criterion: same input stream +
 * same watermark ⇒ identical output rows under exactly-once, across a
 * checkpoint kill/resume (vs the reference's replay cache which is only
 * at-least-once, `spout/CVParticleSpout.java:129-141`).
 */
class KillResumeSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("sessionizer + exactly-once sink survive kill/resume with identical output") {
    import spark.implicits._
    val cp = Files.createTempDirectory("cp").toString
    val table = Files.createTempDirectory("tbl").toString
    val sink = new ExactlyOnceSink(table)
    val input = MemoryStream[PageLite](Encoders.product[PageLite], spark)

    def start() = SessionizeTwoPhase.sessions(input.toDS(), watermarkDelaySec = 300L)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .foreachBatch((ds: org.apache.spark.sql.Dataset[graft.model.HostSession], id: Long) =>
        sink.write(ds.toDF(), id))
      .start()

    val base = 1700000000L
    val allRows = scala.collection.mutable.ArrayBuffer[PageLite]()
    def feed(rows: PageLite*): Unit = { allRows ++= rows; input.addData(rows) }

    // phase 1
    var q = start()
    feed(PageLite("a.example", ts(base), 10), PageLite("a.example", ts(base + 60), 11),
      PageLite("b.example", ts(base + 30), 12))
    q.processAllAvailable()
    feed(PageLite("a.example", ts(base + 5000), 13), PageLite("b.example", ts(base + 90), 14))
    q.processAllAvailable()
    q.stop() // kill

    // phase 2: resume from checkpoint, keep feeding
    q = start()
    feed(PageLite("b.example", ts(base + 8000), 15))
    q.processAllAvailable()
    feed(PageLite("zz.flush", ts(base + 100000), 0))
    q.processAllAvailable()
    feed(PageLite("zz.flush", ts(base + 200000), 0))
    q.processAllAvailable()
    q.stop()

    val got = sink.read(spark)
      .where($"host" =!= "zz.flush")
      .select($"host", unix_micros($"session_start").as("s_start"),
        unix_micros($"session_end").as("s_end"), $"n_pages", $"text_bytes")
      .collect().map(_.toSeq)
    // no duplicates despite restart
    assert(got.length == got.distinct.length, "duplicate sessions after resume")
    // identical to the batch oracle over the full input
    val expected = Windows.session(
      allRows.toSeq.filter(_.host != "zz.flush").toDF(), "warc_ts", "30 minutes",
      Seq(col("host")),
      Seq(count(lit(1)).as("n_pages"), sum($"text_len").as("text_bytes")))
      .select($"host", $"s_start", $"s_end", $"n_pages", $"text_bytes")
      .collect().map(_.toSeq)
    assert(got.toSet == expected.toSet, s"got=${got.toSet}\nexp=${expected.toSet}")
    assert(sink.committedEpochs().nonEmpty)
  }

  test("maintenance torture: kill/resume with compaction + GC between phases stays exact") {
    import spark.implicits._
    val cp = Files.createTempDirectory("tcp").toString
    val table = Files.createTempDirectory("ttbl").toString
    val sink = new ExactlyOnceSink(table)
    val input = MemoryStream[PageLite](Encoders.product[PageLite], spark)

    def start() = SessionizeTwoPhase.sessions(input.toDS(), watermarkDelaySec = 300L)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .foreachBatch((ds: org.apache.spark.sql.Dataset[graft.model.HostSession], id: Long) =>
        // a FRESH handle per batch, like a restarted driver would have —
        // exactly-once must not depend on in-memory sink state
        new ExactlyOnceSink(table).write(ds.toDF(), id))
      .start()

    val base = 1700000000L
    val allRows = scala.collection.mutable.ArrayBuffer[PageLite]()
    def feed(rows: PageLite*): Unit = { allRows ++= rows; input.addData(rows) }
    def maintain(): Unit = {
      // table maintenance while the stream is down: compact everything
      // committed so far, then GC the folded data directories
      new ExactlyOnceSink(table).compact(spark, targetPartitions = 1)
      new ExactlyOnceSink(table).gcUnreferenced()
    }

    var q = start()
    feed(PageLite("a.example", ts(base), 10), PageLite("b.example", ts(base + 30), 12))
    q.processAllAvailable()
    feed(PageLite("a.example", ts(base + 5000), 13))
    q.processAllAvailable()
    q.stop()
    maintain() // epochs so far folded; their manifests are GONE

    // resume: the checkpoint may re-deliver the last batch — the sink must
    // recognize it as covered by the snapshot, not recommit it
    q = start()
    feed(PageLite("b.example", ts(base + 8000), 15), PageLite("a.example", ts(base + 8100), 16))
    q.processAllAvailable()
    q.stop()
    maintain() // second compaction folds snapshot + new epochs

    q = start()
    feed(PageLite("zz.flush", ts(base + 100000), 0))
    q.processAllAvailable()
    feed(PageLite("zz.flush", ts(base + 200000), 0))
    q.processAllAvailable()
    q.stop()

    val got = sink.read(spark)
      .where($"host" =!= "zz.flush")
      .select($"host", unix_micros($"session_start").as("s_start"),
        unix_micros($"session_end").as("s_end"), $"n_pages", $"text_bytes")
      .collect().map(_.toSeq)
    assert(got.length == got.distinct.length,
      s"duplicate sessions after torture: ${got.toSeq}")
    val expected = Windows.session(
      allRows.toSeq.filter(_.host != "zz.flush").toDF(), "warc_ts", "30 minutes",
      Seq(col("host")),
      Seq(count(lit(1)).as("n_pages"), sum($"text_len").as("text_bytes")))
      .select($"host", $"s_start", $"s_end", $"n_pages", $"text_bytes")
      .collect().map(_.toSeq)
    assert(got.toSet == expected.toSet, s"got=${got.toSet}\nexp=${expected.toSet}")
  }
}
