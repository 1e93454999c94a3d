package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.{PageGen, PageGenConfig}

/**
 * Materialize the deterministic page stream as time-ordered parquet at an
 * EXPLICIT path — the shared input of the multi-JVM executor-scaling
 * protocol (`tools/executor_scaling.sh`), which needs one source
 * directory it can shard across isolated executor JVMs.
 *
 * Usage: PrepareSrc <nPages> <outDir> [nHosts=2000] [paraMult=6] [nFiles=256]
 */
object PrepareSrc {
  def main(args: Array[String]): Unit = {
    val nPages = args(0).toLong
    val outDir = args(1)
    val nHosts = if (args.length > 2) args(2).toInt else 2000
    val paraMult = if (args.length > 3) args(3).toInt else 6
    val nFiles = if (args.length > 4) args(4).toInt else 256
    val spark = GraftSession("graft-prepare-src", Some(32))
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = PageGenConfig(nPages = nPages, nHosts = nHosts,
      paraMult = paraMult, parallelism = 32)
    // time-ordered arrival (realistic crawl order): see
    // StreamPipelineBench.prepare for why id-order would hot-spot one task
    PageGen.rawPages(spark, cfg)
      .repartitionByRange(nFiles, col("warc_ts"))
      .sortWithinPartitions(col("warc_ts"))
      .write.parquet(outDir)
    println(s"prepared $nPages pages in $outDir ($nFiles files)")
    spark.stop()
  }
}
