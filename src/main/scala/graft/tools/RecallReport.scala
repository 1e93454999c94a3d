package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{ProductQuant, Similarity, VectorOps}

/**
 * Recall instrumentation for the ANN family: operator × params ×
 * recall@k against the exact brute-force twin on the seeded embeddings
 * table — the one table a user consults to choose `nPlanes` / `nProbe`
 * / `m`. Prints a markdown table and writes it (default BENCH/RECALL.md).
 *
 * Baselines: cosine-space operators (LSH, IVF) score against the exact
 * quantized-cosine top-k; PQ/ADC approximates the raw DOT product, so
 * its baseline is the exact-dot top-k — isolating pure quantization
 * loss (the same honest-baseline choice as ProductQuantSpec).
 *
 *   sbt "runMain graft.tools.RecallReport [sfDir] [outPath]"
 */
object RecallReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val outPath = args.lift(1).getOrElse("BENCH/RECALL.md")
    val k = 10
    val spark = GraftSession("graft-recall-report", Some(32))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()
    val queries = emb.where($"vec_id" < 20)
    val corpus = emb.where($"vec_id" >= 20)
    val (nQ, nC) = (queries.count(), corpus.count())

    def topSet(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val exactCos = topSet(Similarity.bruteForceTopK(queries, corpus,
      "vec_id", "vec_id", "embedding", "embedding", k))
    val exactDot = topSet(
      queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
        .crossJoin(corpus.select($"vec_id".as("corpus_id"), $"embedding".as("cv")))
        .select($"query_id", $"corpus_id", VectorOps.dot_q($"qv", $"cv").as("dq"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"query_id").orderBy($"dq".desc, $"corpus_id")))
        .where($"rk" <= k))

    def recall(approx: Set[(Long, Long)], base: Set[(Long, Long)]): Double =
      approx.intersect(base).size.toDouble / base.size

    val rows = scala.collection.mutable.ArrayBuffer[(String, String, String, Double)]()
    for (nPlanes <- Seq(8, 12, 16); probe <- Seq(false, true))
      rows += (("lshTopK", s"nPlanes=$nPlanes probe=$probe", "cosine",
        recall(topSet(Similarity.lshTopK(queries, corpus, "vec_id", "vec_id",
          "embedding", "embedding", k, nPlanes, probe)), exactCos)))
    for (nProbe <- Seq(1, 2, 4, 8))
      rows += (("ivfTopK", s"seedMod=16 nProbe=$nProbe", "cosine",
        recall(topSet(Similarity.ivfTopK(queries, corpus, "vec_id", "vec_id",
          "embedding", "embedding", k, 16L, nProbe)), exactCos)))
    locally {
      val c = corpus.select($"vec_id".as("corpus_id"), $"embedding".as("cv"),
        VectorOps.norm_q($"embedding").as("cn"))
      val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"),
        VectorOps.norm_q($"embedding").as("qn"))
      val seeds0 = c.where($"corpus_id" % 16 === 0)
        .select($"corpus_id".as("seed_id"), $"cv".as("sv"), $"cn".as("sn"))
      val refined = Similarity.refineCentroids(c, seeds0, iters = 3)
      for (nProbe <- Seq(2, 4))
        rows += (("ivfTopK+refine", s"iters=3 nProbe=$nProbe", "cosine",
          recall(topSet(Similarity.ivfTopKWithCentroids(q, c, refined, k, nProbe)),
            exactCos)))
    }
    for (m <- Seq(4, 8, 16)) {
      val books = ProductQuant.codebooks(corpus, "vec_id", "embedding", 64, m, 16L)
      val codes = ProductQuant.encode(corpus, "vec_id", "embedding", books, 64, m)
      rows += (("adcTopK", s"m=$m", "dot",
        recall(topSet(ProductQuant.adcTopK(queries, codes, books,
          "vec_id", "embedding", 64, m, k)), exactDot)))
    }
    for (nProbe <- Seq(2, 4, 8))
      rows += (("ivfAdcTopK", s"m=8 seedMod=16 nProbe=$nProbe", "dot",
        recall(topSet(ProductQuant.ivfAdcTopK(queries, corpus, "vec_id", "vec_id",
          "embedding", "embedding", 64, 8, k, 16L, nProbe)), exactDot)))

    val sb = new StringBuilder
    sb ++= "# ANN recall report\n\n"
    sb ++= s"Corpus: `$sfDir/embeddings.parquet`: $nC corpus vectors, $nQ queries, " +
      "dim 64, synthetic/structure-free (a WORST case for coarse quantizers: real " +
      "embeddings cluster, and recall rises accordingly).\n\n"
    sb ++= s"recall@$k vs the exact twin: cosine-space ops vs the quantized-cosine " +
      "brute force, PQ ops vs the exact-dot ranking.\n\n"
    sb ++= "| operator | params | baseline | recall@10 |\n|---|---|---|---|\n"
    rows.foreach { case (op, p, b, r) => sb ++= f"| $op | $p | $b | $r%.3f |\n" }
    println(sb)
    Option(java.nio.file.Paths.get(outPath).getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[recall] wrote $outPath")
    spark.stop()
  }
}
