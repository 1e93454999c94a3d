package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.ExtractHtmlText.extract_html_text
import graft.sources.{PageGen, PageGenConfig}
import graft.streaming.{MetricsListener, SessionizeTwoPhase}

/**
 * End-to-end streaming page-pipeline benchmark — the E1-equivalent
 * topology (SURVEY.md §3.1): page stream → deterministic extraction →
 * per-host sessionization → exactly-once sink.
 *
 * The source is pre-generated, time-ordered Parquet ([[prepare]]): a
 * crawl stream arrives in crawl-time order with hosts interleaved —
 * id-order delivery would hand one Zipf-hot host to a single stateful
 * task and bound every micro-batch on it. [[stream]] is the measured
 * part, driven with `Trigger.AvailableNow` + `maxFilesPerTrigger`.
 * [[stream]] and [[run]] delete the temp dirs they create on return.
 */
object StreamPipelineBench {

  final case class Result(rows: Long, wallSec: Double, rowsPerSec: Double,
      sustainedPps: Double, p99Ms: Long)

  /** Write the deterministic page stream as `nFiles` time-ordered parquet
    * files under `outDir`. */
  def prepare(spark: SparkSession, cfg: PageGenConfig, outDir: String,
      nFiles: Int): Unit =
    PageGen.rawPages(spark, cfg)
      .repartitionByRange(nFiles, col("warc_ts"))
      .sortWithinPartitions(col("warc_ts"))
      .write.parquet(outDir)

  /** The measured streaming run over a prepared source directory; its
    * sink table and checkpoint live in a temp dir deleted on return. */
  def stream(spark: SparkSession, srcDir: String, nRows: Long,
      filesPerTrigger: Int = 128): Result = {
    val work = Files.createTempDirectory("graft-bench-run").toFile
    try {
      val schema = spark.read.parquet(srcDir).schema
      val listener = new MetricsListener()
      spark.streams.addListener(listener)
      val t0 = System.nanoTime()
      val pages = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(srcDir)
        .withColumn("text", extract_html_text(col("html")))
        .drop("html")
      // two-phase sessionizer: per-partition fragment assembly then per-host
      // fragment merge — the Zipf-hot host costs (#partitions) fragments per
      // batch in the stateful stage, not all of its events
      val sessions = SessionizeTwoPhase.fromPages(spark, pages, watermarkDelaySec = 7200L)
      val q = GraftTopology.from(sessions.toDF())
        .startSink(s"$work/out", s"$work/cp", trigger = Trigger.AvailableNow())
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.streams.removeListener(listener)
      // sustained = rows per second of trigger execution over non-empty
      // batches (excludes one-time query start/teardown)
      val busy = listener.batches.filter(_.numInputRows > 0)
      val sustained =
        if (busy.isEmpty) nRows / wall
        else busy.map(_.numInputRows).sum.toDouble / (busy.map(_.durationMs).sum / 1000.0)
      Result(nRows, wall, nRows / wall, sustained, listener.p99LatencyMs)
    } finally FileUtils.deleteDirectory(work)
  }

  /** Convenience: generate + stream in one session (driver Bench path). */
  def run(spark: SparkSession, nPages: Long, cpus: Int,
      filesPerTrigger: Int = 64, nFiles: Int = 256): Result = {
    val cfg = PageGenConfig(nPages = nPages, nHosts = 2000, parallelism = cpus)
    val src = Files.createTempDirectory("graft-bench-src").toFile
    try {
      prepare(spark, cfg, s"$src/pages", nFiles)
      stream(spark, s"$src/pages", nPages, filesPerTrigger)
    } finally FileUtils.deleteDirectory(src)
  }
}
