package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.ExtractHtmlText.extract_html_text
import graft.functions.HtmlTextBytes
import graft.model.{HostSession, RawPage}
import graft.operators.Windows
import graft.sources.{PageGen, PageGenConfig}
import graft.streaming.{ExactlyOnceSink, SessionizeTwoPhase}

/**
 * The two page-stream workloads. Both run the program's pipeline
 * gen → `extract_html_text` → `SessionizeTwoPhase` → `ExactlyOnceSink`
 * over time-ordered parquet files:
 *
 *  - `drain`: a backlog of large pages (`paraMult = 6`, 2000 Zipf hosts)
 *    consumed with `Trigger.AvailableNow` in fixed-size batches. Scan,
 *    extraction and phase-1 fragment assembly carry the work.
 *  - `paced`: small pages (`paraMult = 1`) over 10× the hosts, released
 *    into the watched directory on a fixed schedule (open loop) while a
 *    closed-loop reader queries the sink. Per-trigger fixed cost carries
 *    the latency.
 */
object Streams {

  private val WatermarkDelaySec = 7200L
  private val GapSec = graft.streaming.Sessionize.GapUsDefault / 1000000L

  // drain: 8 batches of 20k large pages, 8 files each
  val DrainHosts = 2000
  val DrainParaMult = 6
  val DrainFiles = 64
  val DrainFilesPerTrigger = 8
  val DrainPagesPerSecondOfRun = 16000L

  // paced: 10k pages/s offered, one file per 50 ms; perfbench/README.md
  // gives the derivation
  val PacedHosts = 20000
  val PacedFilesPerSecond = 20
  val PacedPagesPerFile = 500

  private val Mb = 1048576.0

  // ---- inputs ------------------------------------------------------------

  def drainConfig(a: Main.Args): PageGenConfig =
    PageGenConfig(seed = a.seed, nPages = DrainPagesPerSecondOfRun * a.seconds,
      nHosts = DrainHosts, paraMult = DrainParaMult, parallelism = a.cores)

  def pacedConfig(a: Main.Args): PageGenConfig =
    PageGenConfig(seed = a.seed,
      nPages = PacedPagesPerFile.toLong * (PacedFilesPerSecond * a.seconds + 1),
      nHosts = PacedHosts, paraMult = 1, parallelism = a.cores)

  /** Entries of a directory. */
  def ls(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Part files of a parquet directory in partition (= event-time) order. */
  def partFiles(dir: String): Seq[Path] =
    ls(Paths.get(dir))
      .filter { p => val n = p.getFileName.toString; n.startsWith("part-") && n.endsWith(".parquet") }
      .sortBy(_.getFileName.toString)

  /** Writes the page stream as `nFiles` time-ordered parquet files of
    * equal size: the rows of `PageGen.rawPages`, in event-time order.
    * Event time is closed-form in the page id, so the ids are ordered on
    * the driver and each page body is generated once, already in place.
    * The file source takes files oldest first, so modification times are
    * stamped in event-time order too. */
  def generate(spark: SparkSession, cfg: PageGenConfig, nFiles: Int, dir: String): Seq[Path] = {
    import spark.implicits._
    val bounds = PageGen.hostBoundaries(cfg)
    val ts = Array.tabulate(cfg.nPages.toInt) { i =>
      val h = PageGen.hostOfId(bounds, i.toLong)
      PageGen.tsSec(cfg, h, i - bounds(h))
    }
    val order = (0 until cfg.nPages.toInt).sortBy(i => (ts(i), i)).map(_.toLong).toArray
    val perFile = (cfg.nPages + nFiles - 1) / nFiles
    // one task writes several consecutive files (maxRecordsPerFile cuts them)
    val tasks = (1 to nFiles).filter(t => nFiles % t == 0 && t <= 2 * cfg.parallelism).max
    val chunks = order.grouped((perFile * (nFiles / tasks)).toInt).toSeq
    spark.sparkContext.parallelize(chunks, chunks.size)
      .flatMap(_.iterator.map { id =>
        val g = PageGen.genPage(cfg, bounds, id)
        RawPage(g.url, g.host, g.warc_ts, g.html)
      })
      .toDS()
      .write.option("maxRecordsPerFile", perFile).parquet(dir)
    val files = partFiles(dir)
    val now = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(now - (files.size - i) * 1000L))
    }
    files
  }

  // ---- the pipeline under test --------------------------------------------

  /** One streaming query of the program's page pipeline with its own
    * checkpoint and sink table under `work`. */
  final class Pipeline(spark: SparkSession, srcDir: String, val work: String, schema: StructType) {
    val sink = new ExactlyOnceSink(s"$work/table")
    val cp = s"$work/cp"
    /** batchId → (start, end) nanoTime of the `sink.write` call. */
    val writes = new ConcurrentHashMap[Long, (Long, Long)]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    var query: StreamingQuery = _

    def start(trigger: Trigger, maxFiles: Option[Int]): StreamingQuery = {
      spark.streams.addListener(listener)
      val reader = maxFiles.foldLeft(spark.readStream.schema(schema))(
        (r, n) => r.option("maxFilesPerTrigger", n.toLong))
      val pages = reader.parquet(srcDir)
        .withColumn("text", extract_html_text(col("html")))
        .drop("html")
      val sessions = SessionizeTwoPhase.fromPages(spark, pages, watermarkDelaySec = WatermarkDelaySec)
      val sc = spark.sparkContext
      query = sessions.writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(trigger)
        .foreachBatch { (ds: Dataset[HostSession], id: Long) =>
          sc.setLocalProperty(JobStats.TagKey, s"write:$id")
          val t0 = System.nanoTime()
          try sink.write(ds.toDF(), id)
          finally {
            writes.put(id, (t0, System.nanoTime()))
            sc.setLocalProperty(JobStats.TagKey, null)
          }
        }
        .start()
      query
    }

    def stop(): Unit = {
      if (query != null) query.stop()
      spark.streams.removeListener(listener)
    }

    def progresses: Seq[StreamingQueryProgress] = progress.asScala.toSeq.sortBy(_.batchId)
    def busy: Seq[StreamingQueryProgress] = progresses.filter(_.numInputRows > 0)

    /** file name → id of the micro-batch that read it. The file source's
      * log (`sources/0/<n>`, compacted into `<n>.compact`) numbers its
      * entries by the source's own offset, which no-data batches do not
      * advance; the offset log maps each micro-batch to the source offset
      * it read up to. */
    def fileBatches(): Map[String, Long] = {
      val dir = Paths.get(cp, "sources", "0")
      val offDir = Paths.get(cp, "offsets")
      if (!Files.isDirectory(dir) || !Files.isDirectory(offDir)) return Map.empty
      val entry = """"path":"([^"]*)".*?"batchId":(\d+)""".r
      val logOffset = """"logOffset":(\d+)""".r
      val ends = ls(offDir).flatMap { p =>
        val name = p.getFileName.toString
        if (!name.forall(_.isDigit)) None
        else logOffset.findFirstMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
          .map(m => name.toLong -> m.group(1).toLong)
      }.sortBy(_._1)
      ls(dir).filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p).asScala)
        .flatMap(l => entry.findFirstMatchIn(l))
        .flatMap { m =>
          val n = m.group(2).toLong
          ends.find(_._2 >= n).map(b => m.group(1).split('/').last -> b._1)
        }.toMap
    }

    /** The event-time watermark batch `id` ran with, from the offset log. */
    def batchWatermarkMs(id: Long): Long = {
      val s = new String(Files.readAllBytes(Paths.get(cp, "offsets", id.toString)), "UTF-8")
      """"batchWatermarkMs":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)
    }
  }

  /** One sink read as a serving client issues it. */
  final case class ReadRec(startNs: Long, resolveNs: Long, endNs: Long, rows: Long,
      pages: Long, bytes: Long)

  def readOnce(spark: SparkSession, sink: ExactlyOnceSink, tag: String): ReadRec = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobStats.TagKey, tag)
    try {
      val t0 = System.nanoTime()
      val df = sink.read(spark)
      val t1 = System.nanoTime()
      val r = df.agg(count(lit(1)), sum(col("n_pages")), sum(col("text_bytes"))).collect()(0)
      ReadRec(t0, t1, System.nanoTime(), r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
    } finally sc.setLocalProperty(JobStats.TagKey, null)
  }

  // ---- output checks -----------------------------------------------------

  /** Materializes every row of `df`, as the `noop` sink does, and returns
    * the row count and an order-insensitive hash of the rows (the sum of
    * a 64-bit hash of each row's binary form). */
  def consume(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }

  /** Sink rows must equal the batch `Windows.session` oracle over the same
    * input, restricted to the sessions the last batch's watermark closed. */
  def checkSessions(run: Run, spark: SparkSession, srcDir: String, pipe: Pipeline): Unit = {
    val last = pipe.sink.committedEpochs().lastOption
    val wmUs = last.map(pipe.batchWatermarkMs).getOrElse(0L) * 1000L
    val pages = spark.read.parquet(srcDir)
      .withColumn("text", extract_html_text(col("html"))).drop("html")
    val expect = Windows.session(pages, "warc_ts", s"$GapSec seconds", Seq(col("host")),
        Seq(count(lit(1)).as("n_pages"), sum(length(col("text"))).cast("long").as("text_bytes")))
      .where(col("s_end") <= lit(wmUs))
      .select(col("host"), col("s_start"), col("s_end"), col("n_pages"), col("text_bytes"))
    val got = pipe.sink.read(spark).select(col("host"),
      unix_micros(col("session_start")).as("s_start"), unix_micros(col("session_end")).as("s_end"),
      col("n_pages"), col("text_bytes"))
    val (ne, he) = consume(expect)
    val (ng, hg) = consume(got)
    val detail =
      if (ne == ng && he == hg) s"$ng sessions"
      else s"expected $ne sessions, sink has $ng; missing ${expect.exceptAll(got).count()}, " +
        s"extra ${got.exceptAll(expect).count()}"
    run.check("sink_sessions", 1, if (ne == ng && he == hg && ne > 0) 0 else 1, detail)
  }

  /** A sample of extracted text must equal PageGen's expected text. */
  def checkExtraction(run: Run, spark: SparkSession, cfg: PageGenConfig, n: Int = 256): Unit = {
    import spark.implicits._
    val gens = samplePages(cfg, n)
    val got = gens.map(_.html).toDF("html").select(extract_html_text(col("html")))
      .collect().map(_.getString(0))
    val bad = gens.zip(got).count { case (g, t) => g.expected_text != t }
    run.check("extract_sample", 1, if (bad > 0) 1 else 0, s"$bad of $n pages differ")
  }

  def samplePages(cfg: PageGenConfig, n: Int): Seq[graft.sources.GenPage] = {
    val bounds = PageGen.hostBoundaries(cfg)
    val rng = new scala.util.Random(cfg.seed)
    Seq.fill(n)(PageGen.genPage(cfg, bounds, (rng.nextLong() >>> 1) % cfg.nPages))
  }

  // ---- per-layer figures ---------------------------------------------------

  /** Extractor throughput on this workload's own pages, calling
    * `HtmlTextBytes.extract` directly: one thread, then one per core. */
  def extractRates(run: Run, cfg: PageGenConfig): Unit = {
    val pages = samplePages(cfg, 2000).map(_.html).toArray
    val bytes = pages.map(_.length.toLong).sum
    def loop(seconds: Double): Long = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var done = 0L
      while (System.nanoTime() < deadline) {
        var i = 0
        while (i < pages.length) { HtmlTextBytes.extract(pages(i)); i += 1 }
        done += bytes
      }
      done
    }
    loop(0.5)
    def rate(threads: Int): Double = run.tracer.span("extract", Map("threads" -> threads.toString)) {
      val t0 = System.nanoTime()
      val done = new java.util.concurrent.atomic.AtomicLong()
      val ts = (1 to threads).map(_ => new Thread(() => done.addAndGet(loop(1.5))))
      ts.foreach(_.start()); ts.foreach(_.join())
      done.get / Mb / ((System.nanoTime() - t0) / 1e9)
    }
    run.layers("functions.extract_mb_s_1t") = rate(1)
    run.layers("functions.extract_mb_s_nproc") = rate(run.args.cores)
  }

  private def q50(xs: Iterable[Double]) = Stats.q(xs, 0.5)
  private def q95(xs: Iterable[Double]) = Stats.q(xs, 0.95)

  /** Trigger, state, sink and stage figures of one traced stream run. */
  def streamLayers(run: Run, pipe: Pipeline, jobs: JobStats, reads: Seq[ReadRec],
      wallOffsetNs: Long): Unit = {
    val L = run.layers
    val busy = pipe.busy
    for (phase <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets")) {
      val xs = busy.map(p => Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0))
      L(s"trigger.${phase}_p50_ms") = q50(xs)
      L(s"trigger.${phase}_p95_ms") = q95(xs)
    }
    L("trigger.execution_p50_ms") = q50(busy.map(_.durationMs.get("triggerExecution").doubleValue))
    L("trigger.batches") = busy.size

    val ops = busy.flatMap(p => p.stateOperators.headOption.map(p -> _))
    L("state.rows_total") = ops.map(_._2.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
    L("state.mem_mb") = ops.map(_._2.memoryUsedBytes / Mb).maxOption.getOrElse(0.0)
    L("state.commit_ms") = q50(ops.map(_._2.commitTimeMs.toDouble))
    L("state.updates_ms") = q50(ops.map(_._2.allUpdatesTimeMs.toDouble))
    L("state.late_dropped_rows") = pipe.progresses.flatMap(_.stateOperators.headOption)
      .map(_.numRowsDroppedByWatermark.toDouble).sum
    L("state.updated_per_input_row") =
      ops.map(_._2.numRowsUpdated.toDouble).sum / math.max(1.0, busy.map(_.numInputRows.toDouble).sum)
    for ((k, name) <- RocksDbCommit) L(name) =
      q50(ops.map(o => Option(o._2.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)))

    val (js, ts) = jobs.snapshot
    val busyIds = busy.map(_.batchId).toSet
    val writeJobs = js.filter(j => j.tag.startsWith("write:") && busyIds(j.tag.drop(6).toLong))
    val ws = busyIds.toSeq.flatMap(id => Option(pipe.writes.get(id)).map(id -> _))
    L("sink.write_ms") = q50(ws.map { case (_, (a, b)) => (b - a) / 1e6 })
    L("sink.commit_ms") = q50(ws.flatMap { case (id, (_, end)) =>
      writeJobs.filter(_.tag == s"write:$id").map(_.endMs).maxOption
        .map(last => (end - (last * 1000000L + wallOffsetNs)) / 1e6)
    })
    L("sink.jobs_per_epoch") = q50(ws.map { case (id, _) => writeJobs.count(_.tag == s"write:$id").toDouble })
    L("sink.read_resolve_ms") = q50(reads.map(r => (r.resolveNs - r.startNs) / 1e6))

    // stages of the micro-batch jobs: the map stage (scan + extract +
    // phase 1) writes the shuffle, the stateful stage reads it
    val stages = writeJobs.flatMap(_.stageIds).toSet
    val byStage = ts.filter(t => stages(t.stageId)).groupBy(_.stageId)
    val mapStages = byStage.filter(_._2.exists(_.shuffleWriteB > 0))
    val stateStages = byStage.filter(_._2.exists(_.shuffleReadB > 0))
    L("stream.map_stage_cpu_ms") = mapStages.values.flatten.map(_.cpuMs).sum
    L("stream.state_stage_cpu_ms") = stateStages.values.flatten.map(_.cpuMs).sum
    L("stream.shuffle_write_mb") = mapStages.values.flatten.map(_.shuffleWriteB).sum / Mb
    L("stream.state_task_skew") = q50(stateStages.values.map { tasks =>
      val d = tasks.map(_.durationMs.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    })
  }

  /** RocksDB commit latencies reported in the state operator's custom metrics. */
  val RocksDbCommit: Seq[(String, String)] = Seq(
    "rocksdbCommitWriteBatchLatency" -> "state.rocksdb_write_batch_ms",
    "rocksdbCommitFlushLatency" -> "state.rocksdb_flush_ms",
    "rocksdbCommitCompactLatency" -> "state.rocksdb_compact_ms",
    "rocksdbCommitPauseLatency" -> "state.rocksdb_pause_ms",
    "rocksdbCommitCheckpointLatency" -> "state.rocksdb_checkpoint_ms",
    "rocksdbCommitFileSyncLatencyMs" -> "state.rocksdb_file_sync_ms")

  /** Names of every stream-only layer figure, reported as 0 by `suite`. */
  def streamLayerNames: Seq[String] =
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .flatMap(p => Seq(s"trigger.${p}_p50_ms", s"trigger.${p}_p95_ms")) ++
    Seq("trigger.execution_p50_ms", "trigger.batches", "state.rows_total", "state.mem_mb",
      "state.commit_ms", "state.updates_ms", "state.late_dropped_rows",
      "state.updated_per_input_row") ++ RocksDbCommit.map(_._2) ++
    Seq("sink.write_ms", "sink.commit_ms", "sink.jobs_per_epoch", "sink.read_resolve_ms",
      "stream.map_stage_cpu_ms", "stream.state_stage_cpu_ms", "stream.shuffle_write_mb",
      "stream.state_task_skew", "sources.backlog_files_max", "sources.release_late_ms_max",
      "drain.scale_eff")

  /** Engine-wide figures (all workloads) over jobs that ran inside [t0, t1]. */
  def engineLayers(run: Run, jobs: JobStats, t0Ns: Long, t1Ns: Long, wallOffsetNs: Long,
      gcSeconds: Double): Unit = {
    val L = run.layers
    val (js0, ts) = jobs.snapshot
    val js = js0.filter(_.endMs >= 0)
    val stageIds = js.flatMap(_.stageIds).toSet
    val tasks = ts.filter(t => stageIds(t.stageId))
    L("engine.jobs") = js.size
    L("engine.stages") = tasks.map(_.stageId).distinct.size
    L("engine.tasks") = tasks.size
    L("engine.failed_tasks") = tasks.count(_.failed)
    L("engine.exec_cpu_s") = tasks.map(_.cpuMs).sum / 1000.0
    L("engine.gc_s") = gcSeconds
    L("engine.shuffle_read_mb") = tasks.map(_.shuffleReadB).sum / Mb
    L("engine.shuffle_write_mb") = tasks.map(_.shuffleWriteB).sum / Mb
    L("engine.spill_mb") = tasks.map(_.spillB).sum / Mb
    // wall time of the window that no Spark job covers: planning and
    // driver-side work
    L("engine.driver_s") = Stats.uncovered(t0Ns, t1Ns,
      js.map(j => (j.startMs * 1000000L + wallOffsetNs, j.endMs * 1000000L + wallOffsetNs))) / 1e9
  }

  /** wall-clock ms → System.nanoTime offset, for listener timestamps. */
  def wallOffsetNs(): Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  // ---- drain ---------------------------------------------------------------

  final case class Drained(pipe: Pipeline, t0: Long, t1: Long, ok: Boolean)

  def drainOnce(spark: SparkSession, src: String, work: String,
      filesPerTrigger: Int = DrainFilesPerTrigger): Drained = {
    val schema = spark.read.parquet(src).schema
    val pipe = new Pipeline(spark, src, work, schema)
    val t0 = System.nanoTime()
    val q = pipe.start(Trigger.AvailableNow(), Some(filesPerTrigger))
    val ok = try { q.awaitTermination(); q.exception.isEmpty }
             catch { case e: Exception => System.err.println(s"[perfbench] drain failed: $e"); false }
    val t1 = System.nanoTime()
    pipe.stop()
    Drained(pipe, t0, t1, ok)
  }

  /** One measured drain plus closed-loop serving reads of the drained table. */
  final case class DrainRun(d: Drained, reads: Seq[ReadRec], lat: Seq[Double], liveMb: Double,
      gcS: Double, jobs: Option[JobStats]) {
    def wallS: Double = (d.t1 - d.t0) / 1e9
  }

  private def drainMeasure(run: Run, spark: SparkSession, src: String, files: Seq[Path],
      work: String, traced: Boolean): DrainRun = {
    val jobs = if (traced) Some(new JobStats) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    run.heap.reset()
    val d = drainOnce(spark, src, work)
    val (live, gc) = run.heap.close()
    val reads = (1 to 10).map(i => readOnce(spark, d.pipe.sink, s"read:$i"))
    jobs.foreach(spark.sparkContext.removeSparkListener)
    // every file is due when the drain starts
    val byFile = d.pipe.fileBatches()
    val lat = files.flatMap(f => byFile.get(f.getFileName.toString))
      .flatMap(b => Option(d.pipe.writes.get(b))).map { case (_, end) => (end - d.t0) / 1e6 }
    run.log(s"drained in ${(d.t1 - d.t0) / 1000000} ms; batches (rows, ms): " +
      d.pipe.busy.map(b => s"${b.numInputRows}/${b.durationMs.get("triggerExecution")}").mkString(" "))
    run.check("batches", math.max(1, d.pipe.busy.size), if (d.ok) 0 else 1)
    run.check("files_committed", files.size, files.size - lat.size)
    val sums = reads.map(r => (r.rows, r.pages, r.bytes)).distinct
    run.check("reads", reads.size, if (sums.size == 1 && sums.head._2 > 0) 0 else reads.size,
      s"read results $sums")
    DrainRun(d, reads, lat, live, gc, jobs)
  }

  def drain(run: Run): Unit = {
    val a = run.args
    var spark = run.session(a.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = drainConfig(a)
    val src = s"${a.work}/drain-src"
    run.log("session started")
    val g0 = System.nanoTime()
    val files = generate(spark, cfg, DrainFiles, src)
    val genS = (System.nanoTime() - g0) / 1e9
    run.log("input generated")
    warmUp(run, spark, files, s"${a.work}/warm")
    run.e2e("setup_s") = run.sinceJvmStart
    run.log("set up")

    var n = 0
    val r = run.measure[DrainRun](traced => {
      n += 1
      drainMeasure(run, spark, src, files, s"${a.work}/run$n", traced)
    }, _.wallS)
    checkSessions(run, spark, src, r.d.pipe)
    checkExtraction(run, spark, cfg)

    if (!a.trace) {
      run.e2e("throughput_per_s") = cfg.nPages / r.wallS
      run.e2e("latency_p50_ms") = Stats.q(r.lat, 0.5)
      run.e2e("latency_tail_ms") = Stats.q(r.lat, 0.95)
      run.e2e("read_p50_ms") = Stats.median(r.reads.map(x => (x.endNs - x.startNs) / 1e6))
      run.e2e("heap_live_mb") = r.liveMb
    } else {
      val off = wallOffsetNs()
      val jobs = r.jobs.get
      recordStreamSpans(run, r.d.pipe, jobs, off)
      recordReadSpans(run, r.reads)
      streamLayers(run, r.d.pipe, jobs, r.reads, off)
      engineLayers(run, jobs, r.d.t0, r.reads.last.endNs, off, r.gcS)
      Suite.layerNames.foreach(n => run.layers(n) = 0.0)
      run.layers("sources.gen_s") = genS
      run.layers("sources.backlog_files_max") = files.size
      run.layers("sources.release_late_ms_max") = 0.0
      extractRates(run, cfg)
      // single-threaded baseline: the first quarter of the backlog on
      // local[1] against local[nproc], each in a fresh session
      val part = Paths.get(a.work, "scale-src")
      Files.createDirectories(part)
      files.take(files.size / 4).foreach(p => Files.createLink(part.resolve(p.getFileName), p))
      val partPages = spark.read.parquet(part.toString).count()
      spark.stop()
      def pps(cores: Int): Double = {
        spark = run.session(cores)
        spark.sparkContext.setLogLevel("ERROR")
        val d = drainOnce(spark, part.toString, s"${a.work}/scale-$cores")
        spark.stop()
        run.check("scale_drain", 1, if (d.ok) 0 else 1, s"local[$cores]")
        partPages / ((d.t1 - d.t0) / 1e9)
      }
      val one = pps(1)
      run.layers("drain.scale_eff") = pps(a.cores) / (a.cores * one)
    }
  }

  /** Runs the pipeline once over the whole input in two batches, so JIT
    * compilation, codegen and state-store start-up happen in set-up: the
    * measured run is the second pass over pages the JVM has seen. */
  private def warmUp(run: Run, spark: SparkSession, files: Seq[Path], work: String): Unit = {
    val src = Paths.get(work, "src")
    Files.createDirectories(src)
    files.foreach(p => Files.createLink(src.resolve(p.getFileName), p))
    val d = drainOnce(spark, src.toString, s"$work/run", (files.size + 1) / 2)
    if (!d.ok) sys.error("warm-up stream failed")
    run.log("warm-up batches (rows, ms): " +
      d.pipe.busy.map(b => s"${b.numInputRows}/${b.durationMs.get("triggerExecution")}").mkString(" "))
  }

  /** Trigger → sink.write → Spark job spans of one traced stream run. */
  private def recordStreamSpans(run: Run, pipe: Pipeline, jobs: JobStats, off: Long): Unit = {
    val t = run.tracer
    val (js, _) = jobs.snapshot
    pipe.progresses.foreach { p =>
      val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + off
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val tid = t.record(0L, "trigger", startNs, startNs + dur * 1000000L,
        Map("batch" -> p.batchId.toString, "rows" -> p.numInputRows.toString))
      Option(pipe.writes.get(p.batchId)).foreach { case (a, b) =>
        val wid = t.record(tid, "sink.write", a, b, Map("batch" -> p.batchId.toString))
        js.filter(_.tag == s"write:${p.batchId}").foreach { j =>
          t.record(wid, "job", j.startMs * 1000000L + off, j.endMs * 1000000L + off,
            Map("job" -> j.jobId.toString))
        }
      }
    }
  }

  private def recordReadSpans(run: Run, reads: Seq[ReadRec]): Unit =
    reads.foreach(r => run.tracer.record(0L, "read", r.startNs, r.endNs))

  // ---- paced ---------------------------------------------------------------

  /** `due(i)`: when file i was due; file 0 primes the query and is not timed. */
  final case class Paced(pipe: Pipeline, due: Array[Long], files: Seq[String],
      released: Array[Long], reads: Seq[ReadRec], ok: Boolean, end: Long)

  /** Releases `staged` into a watched directory on a fixed schedule (open
    * loop) while one closed-loop reader queries the sink. The first file
    * is released alone and committed before the schedule starts, so the
    * query's one-time start-up cost does not open the run with a backlog.
    * Returns once every file is committed, with the query still running. */
  def pacedOnce(run: Run, spark: SparkSession, staged: Seq[Path], schema: StructType,
      work: String): Paced = {
    val in = Paths.get(work, "in")
    val stage = Paths.get(work, "stage")
    Files.createDirectories(in)
    Files.createDirectories(stage)
    val mine = staged.map { p => val q = stage.resolve(p.getFileName); Files.createLink(q, p); q }
    val names = mine.map(_.getFileName.toString)
    val pipe = new Pipeline(spark, in.toString, work, schema)
    val q = pipe.start(Trigger.ProcessingTime(0L), None)
    val deadline = System.nanoTime() + 120000000000L
    def committed(n: Int): Boolean = {
      val fb = pipe.fileBatches()
      names.take(n).forall(f => fb.get(f).exists(b => pipe.writes.containsKey(b)))
    }
    val due = new Array[Long](mine.size)
    val released = new Array[Long](mine.size)
    def release(i: Int): Unit = {
      Files.setLastModifiedTime(mine(i), FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(mine(i), in.resolve(names(i)), StandardCopyOption.ATOMIC_MOVE)
      released(i) = System.nanoTime()
    }
    due(0) = System.nanoTime()
    release(0)
    while (!committed(1) && q.isActive && System.nanoTime() < deadline) Thread.sleep(10)

    val interval = 1000000000L / PacedFilesPerSecond
    val t0 = System.nanoTime() + 200000000L
    for (i <- 1 until mine.size) due(i) = t0 + (i - 1) * interval
    val releaser = new Thread(() => {
      for (i <- 1 until mine.size) {
        var now = System.nanoTime()
        while (now < due(i)) { LockSupport.parkNanos(due(i) - now); now = System.nanoTime() }
        release(i)
      }
    }, "perfbench-release")
    val stopReads = new AtomicBoolean(false)
    val reads = new ConcurrentLinkedQueue[ReadRec]()
    val readErrors = new java.util.concurrent.atomic.AtomicLong()
    // a serving client that reads the table once after each commit: every
    // read then overlaps the same phase of the next batch
    val reader = new Thread(() => {
      var seen = pipe.writes.size
      var i = 0
      while (!stopReads.get) {
        if (pipe.writes.size > seen) {
          seen = pipe.writes.size
          i += 1
          try reads.add(readOnce(spark, pipe.sink, s"read:$i"))
          catch { case e: Exception =>
            System.err.println(s"[perfbench] read failed: $e"); readErrors.incrementAndGet() }
        } else Thread.sleep(5)
      }
    }, "perfbench-reader")
    releaser.start()
    reader.start()
    releaser.join()
    // wait until every file's batch has committed, then for the trailing
    // no-data batch (the watermark advance) to finish
    while (!committed(names.size) && q.isActive && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200)
    while (q.status.isTriggerActive && System.nanoTime() < deadline) Thread.sleep(20)
    stopReads.set(true)
    reader.join()
    val ok = q.isActive && q.exception.isEmpty && committed(names.size)
    val end = System.nanoTime()
    run.check("reads_failed", math.max(1, reads.size + readErrors.get), readErrors.get)
    Paced(pipe, due, names, released, reads.asScala.toSeq.sortBy(_.startNs), ok, end)
  }

  final case class PacedRun(p: Paced, lat: Seq[Double], liveMb: Double, gcS: Double,
      jobs: Option[JobStats])

  private def pacedMeasure(run: Run, spark: SparkSession, files: Seq[Path], schema: StructType,
      work: String, traced: Boolean): PacedRun = {
    val jobs = if (traced) Some(new JobStats) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    run.heap.reset()
    val p = pacedOnce(run, spark, files, schema, work)
    val (live, gc) = run.heap.close()
    p.pipe.stop()
    jobs.foreach(spark.sparkContext.removeSparkListener)
    // per file: the return of the sink.write that committed its batch,
    // minus the time the file was due
    val byFile = p.pipe.fileBatches()
    val lat = p.files.indices.drop(1).flatMap { i =>
      byFile.get(p.files(i)).flatMap(b => Option(p.pipe.writes.get(b)))
        .map { case (_, end) => (end - p.due(i)) / 1e6 }
    }
    run.log("paced: reads (resolve, total ms): " +
      p.reads.map(r => f"${(r.resolveNs - r.startNs) / 1e6}%.0f/${(r.endNs - r.startNs) / 1e6}%.0f").mkString(" "))
    run.log(s"paced: latency p50 ${Stats.median(lat)} ms; batches (rows, ms): " +
      p.pipe.busy.map(b => s"${b.numInputRows}/${b.durationMs.get("triggerExecution")}").mkString(" "))
    run.check("batches", math.max(1, p.pipe.busy.size), if (p.ok) 0 else 1)
    run.check("files_committed", files.size, files.size - 1 - lat.size)
    // the sums a reader sees must never decrease
    val dec = p.reads.sliding(2).count {
      case Seq(x, y) => y.rows < x.rows || y.pages < x.pages || y.bytes < x.bytes
      case _ => false
    }
    run.check("reads_monotonic", math.max(1, p.reads.size), dec, s"${p.reads.size} reads")
    PacedRun(p, lat, live, gc, jobs)
  }

  def paced(run: Run): Unit = {
    val a = run.args
    val spark = run.session(a.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = pacedConfig(a)
    val src = s"${a.work}/paced-src"
    run.log("session started")
    val g0 = System.nanoTime()
    val files = generate(spark, cfg, PacedFilesPerSecond * a.seconds + 1, src)
    val genS = (System.nanoTime() - g0) / 1e9
    val schema = spark.read.parquet(src).schema
    run.log("input generated")
    warmUp(run, spark, files, s"${a.work}/warm")
    run.e2e("setup_s") = run.sinceJvmStart
    run.log("set up")

    var n = 0
    val r = run.measure[PacedRun](traced => {
      n += 1
      pacedMeasure(run, spark, files, schema, s"${a.work}/run$n", traced)
    }, x => Stats.median(x.lat) / 1000.0)
    val p = r.p
    // the released files now sit in the measured run's watched directory
    checkSessions(run, spark, s"${p.pipe.work}/in", p.pipe)
    checkExtraction(run, spark, cfg)

    if (!a.trace) {
      val lastCommit = p.pipe.writes.values().asScala.map(_._2).max
      run.e2e("throughput_per_s") =
        (cfg.nPages - PacedPagesPerFile) / ((lastCommit - p.due(1)) / 1e9)
      run.e2e("latency_p50_ms") = Stats.q(r.lat, 0.5)
      run.e2e("latency_tail_ms") = Stats.q(r.lat, 0.95)
      run.e2e("read_p50_ms") = Stats.median(p.reads.map(x => (x.endNs - x.startNs) / 1e6))
      run.e2e("heap_live_mb") = r.liveMb
    } else {
      val off = wallOffsetNs()
      val jobs = r.jobs.get
      recordStreamSpans(run, p.pipe, jobs, off)
      recordReadSpans(run, p.reads)
      streamLayers(run, p.pipe, jobs, p.reads, off)
      engineLayers(run, jobs, p.due(1), p.end, off, r.gcS)
      Suite.layerNames.foreach(n => run.layers(n) = 0.0)
      run.layers("sources.gen_s") = genS
      run.layers("sources.backlog_files_max") = backlogMax(p)
      run.layers("sources.release_late_ms_max") =
        p.released.indices.map(i => (p.released(i) - p.due(i)) / 1e6).max
      run.layers("drain.scale_eff") = 0.0
      extractRates(run, cfg)
    }
  }

  /** Most files released but not yet committed, over the release instants. */
  private def backlogMax(p: Paced): Double = {
    val byFile = p.pipe.fileBatches()
    val commit = p.files.map(f => byFile.get(f).flatMap(b => Option(p.pipe.writes.get(b)))
      .map(_._2).getOrElse(Long.MaxValue))
    p.files.indices.drop(1).map(i => (1 to i).count(j => commit(j) > p.due(i)).toDouble).max
  }
}
