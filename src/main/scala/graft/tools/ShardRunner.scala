package graft.tools

import graft.GraftSession

/**
 * One "executor" of the multi-JVM scaling protocol: a local[cores] JVM
 * streaming one shard directory through the full pipeline
 * (extract → sessionize → exactly-once sink). Prints one JSON line.
 *
 * Launched directly with `java` (not sbt) so several instances can run
 * concurrently — the faithful sandbox stand-in for a 4N-executor
 * cluster, where each executor is its own JVM with its own heap, GC,
 * and state stores (unlike local[4N], which runs 4N threads inside ONE
 * heap and measures GC contention no real cluster has).
 *
 * An optional warm-up directory is streamed (and discarded) before the
 * measured run: a long-running streaming executor runs JIT-warm, and
 * without it each 4N JVM would pay its own ~10 s compile tax on a 4×
 * smaller work slice — a bias no real cluster has.
 *
 * Usage: ShardRunner <srcDir> <rows> <cores> [warmupDir]
 */
object ShardRunner {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val rows = args(1).toLong
    val cores = args(2).toInt
    val warmupDir = if (args.length > 3) Some(args(3)) else None
    val spark = GraftSession("graft-shard", Some(cores),
      "spark.sql.files.maxPartitionBytes" -> (32 * 1024 * 1024).toString,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    spark.sparkContext.setLogLevel("ERROR")
    warmupDir.foreach { w =>
      graft.StreamPipelineBench.stream(spark, w, 1L, filesPerTrigger = 32)
    }
    val r = graft.StreamPipelineBench.stream(spark, srcDir, rows,
      filesPerTrigger = 32)
    println(f"""SHARD{"rows":${r.rows},"wall":${r.wallSec}%.2f,"pps":${r.rowsPerSec}%.1f,"sustained":${r.sustainedPps}%.1f,"p99":${r.p99Ms}}""")
    spark.stop()
  }
}
