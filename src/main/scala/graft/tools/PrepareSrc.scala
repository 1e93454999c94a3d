package graft.tools

import graft.{GraftSession, StreamPipelineBench}
import graft.sources.PageGenConfig

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
    StreamPipelineBench.prepare(spark, cfg, outDir, nFiles)
    println(s"prepared $nPages pages in $outDir ($nFiles files)")
    spark.stop()
  }
}
