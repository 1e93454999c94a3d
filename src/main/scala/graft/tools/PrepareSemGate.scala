package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.ExtractHtmlText.extract_html_text
import graft.operators.{Similarity, TextAnalysis, VectorOps}
import graft.sources.{PageGen, PageGenConfig}

/**
 * Build the two artifacts `PagePipelineApp --sem-gate` probes — the
 * kept-vector `history/` table and the frozen `seeds/` centroid table —
 * from the deterministic page generator: extract text, feature-hash it
 * ([[graft.operators.TextAnalysis.hashedTfVector]]), take every
 * `seedMod`-th hashed id as a seed, run one
 * [[Similarity.semDedupAssigned]] batch, and
 * persist the kept rows. In a real deployment `history/` is the table
 * [[graft.streaming.IndexMaintenance.semDedupCatchUp]] maintains per
 * corpus epoch; this tool is the bootstrap (and the E2E-drive fixture).
 *
 * Usage: PrepareSemGate <nPages> <outDir> [nHosts=200] [dim=32] [tau=900000]
 *        [seedMod=256]
 *
 * `seedMod` sizes the centroid table (~nPages/seedMod cells): the gate's
 * per-page assignment costs |seeds|·dim multiplies, so a FULL-RATE
 * ingest gate wants coarse cells (tens of seeds), not the fine cells a
 * batch verdict pass can afford.
 */
object PrepareSemGate {
  def main(args: Array[String]): Unit = {
    val nPages = args(0).toLong
    val outDir = args(1)
    val nHosts = if (args.length > 2) args(2).toInt else 200
    val dim = if (args.length > 3) args(3).toInt else 32
    val tau = if (args.length > 4) args(4).toLong else 900000L
    val seedMod = if (args.length > 5) args(5).toLong else 256L
    val spark = GraftSession("graft-prepare-sem-gate", Some(8))
    spark.sparkContext.setLogLevel("ERROR")
    val pages = PageGen.rawPages(spark, PageGenConfig(nPages = nPages,
        nHosts = nHosts, parallelism = 8))
      .select(col("url"), extract_html_text(col("html")).as("text"))
    // the url's 48-bit hash keys the history (content-stable, unlike a
    // partition-dependent monotonic id): the gate only ever joins it on
    // `centroid`, and seeds need a uniform % sample key
    val corpus = TextAnalysis.hashedTfVector(
        pages.withColumn("page_id",
          graft.operators.Sampling.hashUniform48(col("url"))),
        "page_id", "text", dim)
      .select(col("page_id").as("corpus_id"),
        col("tf_vec").cast("array<float>").as("cv"))
      .withColumn("cn", VectorOps.norm_q(col("cv")))
      .where(col("cn") > 0L)
      .cache()
    val seeds = corpus.where(col("corpus_id") % seedMod === 0)
      .select(col("corpus_id").as("seed_id"), col("cv").as("sv"),
        col("cn").as("sn"))
    seeds.write.mode("overwrite").parquet(s"$outDir/seeds")
    val frozenSeeds = spark.read.parquet(s"$outDir/seeds")
    val nSeeds = frozenSeeds.count()
    require(nSeeds > 0, s"seed sample came out EMPTY (nPages=$nPages, " +
      s"seedMod=$seedMod over 48-bit hashed ids — expected ~nPages/seedMod " +
      "seeds); rerun with a smaller seedMod")
    Similarity.semDedupAssigned(corpus, frozenSeeds, tau)
      .where(col("kept"))
      .select(col("corpus_id"), col("cv"), col("cn"), col("centroid"))
      .write.mode("overwrite")
      // partitioned by centroid: the serving probe prunes to its cells
      .partitionBy("centroid").parquet(s"$outDir/history")
    val n = spark.read.parquet(s"$outDir/history").count()
    println(s"sem-gate artifacts in $outDir: $n kept vectors, " +
      s"$nSeeds seeds, dim=$dim, tau=$tau")
    spark.stop()
  }
}
