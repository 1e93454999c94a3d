package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.ExtractHtmlText.extract_html_text
import graft.sources.{PageGen, PageGenConfig}
import graft.streaming.ExactlyOnceSink
import graft.streaming.Sessionize.PageLite

/**
 * The fluent topology facade: stage chains equal direct composition,
 * logical stages fuse (no per-hop exchanges — the whole point of the
 * Spark re-expression vs Storm's per-bolt queues), groupings place
 * exactly the exchanges they promise, per-stage observation surfaces
 * Storm-UI-style counters, and the streaming build runs end-to-end
 * through the exactly-once sink.
 */
class GraftTopologySpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val cfg = PageGenConfig(nPages = 2000, nHosts = 50)
  private lazy val pages = PageGen.rawPages(spark, cfg).toDF()

  private def extractStage(d: org.apache.spark.sql.DataFrame) =
    d.withColumn("text", extract_html_text(col("html"))).drop("html")

  test("chained op stages equal direct composition and fuse with zero exchanges") {
    val topo = GraftTopology.from(pages)
      .op("extract")(extractStage)
      .op("gate")(_.where(length(col("text")) > 50)
        .select(col("url"), col("host"), col("text")))
    assert(topo.stages == Vector("source", "extract", "gate"))
    val direct = extractStage(pages).where(length(col("text")) > 50)
      .select(col("url"), col("host"), col("text"))
    val got = topo.build.orderBy(col("url")).collect().map(_.toSeq)
    val want = direct.orderBy(col("url")).collect().map(_.toSeq)
    assert(got.length > 0 && got.sameElements(want))
    // a Storm chain pays a queue per bolt hop; this chain is one fused
    // plan fragment — no exchange of any kind between the stages
    assert(!planOf(topo.build).contains("Exchange"), planOf(topo.build))
  }

  test("fieldsGrouping co-locates once; a downstream same-key agg reuses it") {
    val topo = GraftTopology.from(pages)
      .op("extract")(extractStage)
      .fieldsGrouping("host")
      .op("host_stats")(_.groupBy(col("host"))
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars")))
    val p = planOf(topo.build)
    val hostExchanges = p.split("Exchange hashpartitioning\\(host").length - 1
    assert(hostExchanges == 1, s"expected exactly 1 host exchange:\n$p")
    val direct = extractStage(pages).groupBy(col("host"))
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
    assert(topo.build.orderBy(col("host")).collect().map(_.toSeq)
      .sameElements(direct.orderBy(col("host")).collect().map(_.toSeq)))
  }

  test("dimJoin broadcasts the dimension; values equal a plain join") {
    import spark.implicits._
    val dim = Seq(("host-00000.example", "news"), ("host-00001.example", "shop"))
      .toDF("host", "category")
    val topo = GraftTopology.from(pages)
      .op("extract")(extractStage)
      .dimJoin("with_cat", dim, Seq("host"))
    assert(planOf(topo.build).contains("BroadcastExchange"))
    val direct = extractStage(pages).join(dim, Seq("host"))
    assert(topo.build.count() == direct.count() && direct.count() > 0)
  }

  test("fanIn joins branches; merge unions by column name; stage logs combine") {
    import spark.implicits._
    val left = GraftTopology.from(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "x"), "left_src").op("lx")(identity)
    val right = GraftTopology.from(
      Seq(("a", 10L), ("c", 30L)).toDF("k", "y"), "right_src").op("ry")(identity)
    val joined = left.fanIn("combine", right, Seq("k"))
    assert(joined.stages.containsSlice(Vector("left_src", "lx")) &&
      joined.stages.contains("right_src") && joined.stages.last == "combine")
    assert(joined.build.collect().map(_.toSeq).toSet == Set(Seq("a", 1L, 10L)))
    // column order differs on purpose: merge must align by NAME
    val r2 = GraftTopology.from(Seq((20L, "d")).toDF("x", "k"), "r2")
    val merged = left.merge(r2)
    assert(merged.build.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == Set(("a", 1L), ("b", 2L), ("d", 20L)))
  }

  test("duplicate and empty stage names are rejected loudly") {
    val t = GraftTopology.from(pages).op("extract")(extractStage)
    intercept[IllegalArgumentException] { t.op("extract")(identity) }
    intercept[IllegalArgumentException] { t.op("")(identity) }
    intercept[IllegalArgumentException] { GraftTopology.from(pages, "") }
  }

  test("repeated groupings auto-number; branch logs share only their prefix") {
    // re-partitioning by the same key twice is a legal topology
    val twice = GraftTopology.from(pages)
      .fieldsGrouping("host").op("a")(identity).fieldsGrouping("host")
    assert(twice.stages == Vector("source", "fields:host", "a", "fields:host#2"))
    // two branches off one topology share the prefix once in the fan-in log
    val root = GraftTopology.from(pages).op("extract")(extractStage)
    val b1 = root.op("q")(_.select(col("url"), length(col("text")).as("len1")))
    val b2 = root.op("l")(_.select(col("url"), length(col("text")).as("len2")))
    val joined = b1.fanIn("combine", b2, Seq("url"))
    assert(joined.stages == Vector("source", "extract", "q", "l", "combine"))
    // a NON-prefix name collision is two different stages under one name
    val clash = root.op("x")(identity)
      .op("q")(_.select(col("url"), length(col("text")).as("len3")))
    intercept[IllegalArgumentException] { b1.fanIn("c2", clash, Seq("url")) }
  }

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("observed stage surfaces per-batch row counts in streaming progress") {
    val input = MemoryStream[PageLite](Encoders.product[PageLite], spark)
    val topo = GraftTopology.from(input.toDF(), "mem_src")
      .observed("len_gate")(_.where(col("text_len") >= 10))
    val q = topo.build.writeStream.format("memory").queryName("topo_obs")
      .outputMode("append").start()
    try {
      input.addData(PageLite("a.example", ts(1700000000L), 5),
        PageLite("a.example", ts(1700000001L), 15),
        PageLite("b.example", ts(1700000002L), 25))
      q.processAllAvailable()
      val observed = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("len_gate")))
        .map(_.getAs[Long]("rows")).sum
      assert(observed == 2L, s"observed=$observed")
      assert(spark.table("topo_obs").count() == 2L)
    } finally q.stop()
  }

  test("observedWith surfaces a batch stage's emitted count synchronously") {
    val obs = org.apache.spark.sql.Observation("gate_obs")
    val topo = GraftTopology.from(pages)
      .op("extract")(extractStage)
      .observedWith(obs)(_.where(length(col("text")) > 50))
    assert(topo.stages.last == "observed:gate_obs")
    val total = topo.build.count()
    assert(obs.get("rows").asInstanceOf[Long] == total && total > 0)
  }

  test("startSink rejects unknown bucket/stats columns at start, not mid-stream") {
    val input = MemoryStream[PageLite](Encoders.product[PageLite], spark)
    val topo = GraftTopology.from(input.toDF(), "mem_src")
      .op("narrow")(_.select(col("host"), col("text_len")))
    intercept[IllegalArgumentException] {
      topo.startSink("/tmp/never-created", "/tmp/never-created-cp",
        bucketBy = Some(("warc_ts", 8)))
    }
    intercept[IllegalArgumentException] {
      topo.startSink("/tmp/never-created", "/tmp/never-created-cp",
        statsCol = Some("warc_ts"))
    }
    intercept[IllegalArgumentException] {
      topo.startSink("/tmp/never-created", "/tmp/never-created-cp",
        bucketBy = Some(("host", 0)))
    }
    // a perBatch that drops the route column: checked on what the sink
    // receives, not on the topology's own output
    intercept[IllegalArgumentException] {
      topo.startSink("/tmp/never-created", "/tmp/never-created-cp",
        bucketBy = Some(("host", 8)), perBatch = _.drop("host"))
    }
  }

  test("startSink runs the topology into the exactly-once table") {
    val table = Files.createTempDirectory("topo-sink").toString
    val cp = Files.createTempDirectory("topo-cp").toString
    val input = MemoryStream[PageLite](Encoders.product[PageLite], spark)
    val rows = (0 until 20).map(i =>
      PageLite(s"h${i % 3}.example", ts(1700000000L + i), 10 + i))
    val topo = GraftTopology.from(input.toDF(), "mem_src")
      .op("gate")(_.where(col("text_len") >= 12))
    // a pass-through perBatch runs once per batch: with no bucket or
    // stats column to check, start-up never applies it to an empty batch
    val perBatchCalls = new java.util.concurrent.atomic.AtomicInteger()
    val q = topo.startSink(table, cp, trigger = Trigger.ProcessingTime("1 second"),
      perBatch = { b => perBatchCalls.incrementAndGet(); b })
    try {
      input.addData(rows.take(10)); q.processAllAvailable()
      input.addData(rows.drop(10)); q.processAllAvailable()
    } finally q.stop()
    assert(perBatchCalls.get == q.lastProgress.batchId + 1)
    val got = new ExactlyOnceSink(table).read(spark)
      .select(col("host"), col("text_len"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = rows.filter(_.text_len >= 12)
      .map(p => (p.host, p.text_len)).toSet
    assert(got == want)
  }
}
