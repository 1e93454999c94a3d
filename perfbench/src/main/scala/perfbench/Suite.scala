package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Queries

/**
 * The `suite` workload: a fixed slice of the registry (`Queries.all`) over
 * the test tables in `perfbench/data/sf0.01`: one pass after a warm-up
 * query. Each query runs once; its rows are materialized (the work the
 * `noop` sink does) and hashed, and the row count and order-insensitive
 * hash must match the digest recorded in `perfbench/data/suite_digests.tsv`.
 * Streaming layers do no work here.
 */
object Suite {

  /** Query → the module it is in the slice for. Every module of
    * `graft.operators` that a query calls is called by at least one query
    * here (`UrlScan` through `UrlOps` and `LinkGraph`; `Sketches` has no
    * caller in the registry), as are the batch forms of the streaming
    * operators `SessionizeTwoPhase` and `PatternDetect`. Where several
    * queries call a module, the cheapest one that does real work in it was
    * taken, so that one pass fits in a run. */
  val Slice: Seq[(String, String)] = Seq(
    "q12_session_windows" -> "Windows",
    "q36_twophase_sessions" -> "SessionizeTwoPhase",
    "q41_pattern_first_match" -> "PatternDetect",
    "q105_asof_join" -> "AsOfJoin",
    "q40_topk_aggregator" -> "TopK",
    "q102_perceptron_filter" -> "LinearFilter",
    "q97_bpe_encode" -> "Bpe",
    "q32_section_roundtrip" -> "Topology",
    "q27_media_frame_sample" -> "Multimodal",
    "q57_dup_clusters" -> "Dedup",
    "q72_epoch_shuffle" -> "TrainingExport",
    "q49_pq_adc_topk" -> "ProductQuant",
    "q79_outlink_graph" -> "LinkGraph",
    "q62_url_canonical" -> "UrlOps",
    "q118_cms_term_counts" -> "CountMin",
    "q116_bloom_seen_gate" -> "BloomSet",
    "q117_distinct_sketch" -> "DistinctSketch",
    "q114_decayed_counts" -> "DecayedCounts",
    "q109_exact_quantiles" -> "OrderStats",
    "q33_request_response_match" -> "RequestResponse",
    "q54_bm25_search" -> "TextSearch",
    "q74_rare_token_probe" -> "TextAnalysis",
    "q85_lm_gate_probe" -> "LanguageModel",
    "q92_semdedup_probe" -> "Similarity")

  /** The request-serving plans of the slice (`streaming.RequestService`'s
    * batch forms). The timed pass runs each of them twice, as a server
    * answers a repeated request, spread evenly among the other queries:
    * `read_p50_ms` is the mean of these ten runs, which sample the whole
    * pass rather than one stretch of it. */
  val Serving: Set[String] = Set("q33_request_response_match", "q54_bm25_search",
    "q74_rare_token_probe", "q85_lm_gate_probe", "q92_semdedup_probe")

  val Modules: Seq[String] = Slice.map(_._2).distinct

  def layerNames: Seq[String] = Modules.map(m => s"suite.${m}_s")

  /** One query of a pass: wall seconds, start/end nanoTime, rows and hash. */
  final case class Timed(name: String, module: String, seconds: Double, startNs: Long,
      endNs: Long, spanId: Long, digest: String)

  def run(run: Run): Unit = {
    val a = run.args
    val data = a.data.getOrElse(sys.error("suite needs --data"))
    val digestFile = Paths.get(data).resolveSibling("suite_digests.tsv")
    val byName = Queries.all.map(q => q.name -> q).toMap
    val slice = Slice.map { case (n, f) => (byName.getOrElse(n, sys.error(s"no query $n")), f) }
    val (serving, others) = slice.partition { case (q, _) => Serving(q.name) }
    val reads = serving ++ serving
    val schedule = others.indices.flatMap { i =>
      reads.slice(i * reads.size / others.size, (i + 1) * reads.size / others.size) :+ others(i)
    }
    val spark = run.session(a.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val recorded: Map[String, String] =
      if (!Files.exists(digestFile)) Map.empty
      else Files.readAllLines(digestFile).asScala.filter(_.nonEmpty)
        .map(_.split('\t')).map(c => c(0) -> s"${c(1)}\t${c(2)}").toMap
    // warm-up on a query outside the slice, as graft.Bench does
    Queries.all.head.fn(spark, data).write.format("noop").mode("overwrite").save()
    run.e2e("setup_s") = run.sinceJvmStart

    var jobs: JobStats = null
    var window = (0L, 0L)
    var heapGc = (0.0, 0.0)
    val ran = run.measure[Seq[Timed]](traced => {
      val js = new JobStats
      if (traced) spark.sparkContext.addSparkListener(js)
      run.heap.reset()
      val t0 = System.nanoTime()
      val out = pass(run, spark, data, schedule)
      val t1 = System.nanoTime()
      val (live, gc) = run.heap.close()
      if (traced) spark.sparkContext.removeSparkListener(js)
      if (jobs == null) { jobs = js; window = (t0, t1); heapGc = (live, gc) }
      val wrong = out.filter(t => !recorded.get(t.name).contains(t.digest))
      run.check("suite_digests", out.size, wrong.size, wrong.map(t =>
        s"${t.name}: got ${t.digest}, recorded ${recorded.getOrElse(t.name, "none")}").mkString("; "))
      out
    }, _.map(_.seconds).sum)

    // each query's first run is its time in the pass; a serving plan's
    // second run only counts as a read
    val times = ran.distinctBy(_.name)
    val secs = times.map(_.seconds)
    if (!a.trace) {
      val readSecs = ran.filter(t => Serving(t.name)).map(_.seconds)
      run.e2e("throughput_per_s") = secs.size / secs.sum
      run.e2e("latency_p50_ms") = Stats.q(secs, 0.5) * 1000
      run.e2e("latency_tail_ms") = Stats.q(secs, 0.9) * 1000
      run.e2e("read_p50_ms") = readSecs.sum / readSecs.size * 1000
      run.e2e("heap_live_mb") = heapGc._1
    } else {
      val off = Streams.wallOffsetNs()
      val (js, _) = jobs.snapshot
      def jobNs(j: JobRec) = (j.startMs * 1000000L + off, j.endMs * 1000000L + off)
      // query → job spans
      times.foreach { t =>
        run.tracer.record(0L, "query", t.startNs, t.endNs, Map("query" -> t.name), t.spanId)
        js.filter(_.tag == s"query:${t.name}").map(j => (j, jobNs(j)))
          .filter { case (_, (s, _)) => s >= t.startNs && s <= t.endNs }.foreach { case (j, (s, e)) =>
          run.tracer.record(t.spanId, "job", s, e, Map("job" -> j.jobId.toString))
        }
      }
      ran.filterNot(times.contains).foreach(t =>
        run.tracer.record(0L, "read", t.startNs, t.endNs, Map("query" -> t.name), t.spanId))
      Streams.engineLayers(run, jobs, window._1, window._2, off, heapGc._2)
      // per-query wall time that no job of the query covers, summed
      run.layers("engine.driver_s") = times.map { t =>
        Stats.uncovered(t.startNs, t.endNs,
          js.filter(j => j.tag == s"query:${t.name}" && j.endMs >= 0).map(jobNs)) / 1e9
      }.sum
      for (m <- Modules) run.layers(s"suite.${m}_s") = times.filter(_.module == m).map(_.seconds).sum
      Streams.streamLayerNames.foreach(n => run.layers(n) = 0.0)
      run.layers("sources.gen_s") = 0.0
      Streams.extractRates(run, Streams.pacedConfig(a))
    }
  }

  /** One pass over the slice. */
  private def pass(run: Run, spark: SparkSession, data: String,
      slice: Seq[(Queries.QueryDef, String)]): Seq[Timed] = {
    val sc = spark.sparkContext
    val out = slice.map { case (q, module) =>
      sc.setLocalProperty(JobStats.TagKey, s"query:${q.name}")
      val id = run.tracer.nextId()
      val t0 = System.nanoTime()
      val digest = try { val (n, h) = Streams.consume(q.fn(spark, data)); s"$n\t$h" }
                   catch { case e: Exception =>
                     System.err.println(s"[perfbench] ${q.name}: $e"); s"error\t${e.getClass.getName}" }
      val t1 = System.nanoTime()
      sc.setLocalProperty(JobStats.TagKey, null)
      System.err.println(f"[perfbench] ${q.name} ${(t1 - t0) / 1e9}%.3f s")
      Timed(q.name, module, (t1 - t0) / 1e9, t0, t1, id, digest)
    }
    run.check("queries", out.size, out.count(_.digest.startsWith("error")))
    out
  }
}
