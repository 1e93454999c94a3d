package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.BloomSet
import graft.sources.{PageGen, PageGenConfig}

/**
 * Build the Bloom filter table `PagePipelineApp --seen-gate` probes from
 * the deterministic page generator's first `nPages` urls — the "crawl
 * history" a frontier gate refuses to re-fetch. In a real deployment the
 * filter is the table [[graft.operators.BloomSet.bloomIncrement]] folds
 * forward per corpus epoch (bit_or is idempotent, so the maintenance
 * loop needs no exactly-once guard); this tool is the bootstrap and the
 * E2E-drive fixture.
 *
 * Usage: PrepareSeenGate <nPages> <outDir> [nHosts=200] [mBits=1048576]
 *        [kHashes=5] [shards=1]
 *
 * Run the app with the SAME --hosts (url → host assignment is
 * config-dependent) and the SAME --seen-mbits/--seen-k/--seen-shards.
 */
object PrepareSeenGate {
  def main(args: Array[String]): Unit = {
    val nPages = args(0).toLong
    val outDir = args(1)
    val nHosts = if (args.length > 2) args(2).toInt else 200
    val mBits = if (args.length > 3) args(3).toLong else (1L << 20)
    val kHashes = if (args.length > 4) args(4).toInt else 5
    val shards = if (args.length > 5) args(5).toInt else 1
    val spark = GraftSession("graft-prepare-seen-gate", Some(8))
    spark.sparkContext.setLogLevel("ERROR")
    val urls = PageGen.rawPages(spark, PageGenConfig(nPages = nPages,
      nHosts = nHosts, parallelism = 8)).select(col("url"))
    BloomSet.bloomOf(urls.toDF(), "url", mBits, kHashes, shards)
      .write.mode("overwrite").parquet(outDir)
    val n = spark.read.parquet(outDir).count()
    println(s"seen-gate filter in $outDir: $n nonzero words " +
      s"(mBits=$mBits k=$kHashes shards=$shards over $nPages urls)")
    spark.stop()
  }
}
