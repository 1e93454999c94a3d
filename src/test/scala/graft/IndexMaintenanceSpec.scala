package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.operators.RequestResponse
import graft.streaming.{ExactlyOnceSink, IndexMaintenance}

/**
 * The index-maintenance loop must (a) produce exactly the single-batch
 * index, (b) be idempotent and resumable with NO side-channel state
 * (the index table's manifest is the bookkeeping), and (c) fail loudly
 * when corpus compaction folded epochs it never indexed — plus recover
 * via the documented single-batch rebuild.
 */
class IndexMaintenanceSpec extends SparkSpec {

  private def docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    .select("doc_id", "source", "text")

  private def shingleInc(df: DataFrame): DataFrame =
    RequestResponse.textIndexIncrement(df, "doc_id", "text", n = 2)

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  test("catchUp ≡ single-batch build; idempotent; resumes mid-loop; extends to new epochs") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("idxmnt").toString
    val corpus = new ExactlyOnceSink(s"$dir/corpus")
    val index = new ExactlyOnceSink(s"$dir/index")
    (0 to 2).foreach(e => corpus.write(docs.where(col("doc_id") % 4 === e), e.toLong))

    // simulate a maintainer crash AFTER epoch 0's increment committed:
    // the resumed catchUp must skip it (manifest = state) and do the rest
    index.write(shingleInc(corpus.readBetween(spark, -1L, 0L)), 0L)
    val first = IndexMaintenance.catchUp(spark, corpus, index)(shingleInc)
    assert(first == Seq(1L, 2L), s"resume must index exactly the gap, got $first")
    assert(rows(index.read(spark).select("doc_id", "shingle"))
      == rows(shingleInc(docs.where(col("doc_id") % 4 <= 2))))

    // caught up: a re-run is a no-op
    assert(IndexMaintenance.catchUp(spark, corpus, index)(shingleInc).isEmpty)

    // corpus grows; only the new epoch is read and indexed
    corpus.write(docs.where(col("doc_id") % 4 === 3), 3L)
    assert(IndexMaintenance.catchUp(spark, corpus, index)(shingleInc) == Seq(3L))
    assert(rows(index.read(spark).select("doc_id", "shingle")) == rows(shingleInc(docs)))

    // the maintained index serves identically to direct full-scan matching
    val reqs = docs.where(col("doc_id") < 3).select(col("doc_id"), col("text"))
    val viaIndex = RequestResponse.matchTextFromIndex(reqs,
      index.read(spark), "doc_id", "text", k = 3, n = 2)
    val direct = RequestResponse.matchText(spark, reqs, docs,
      "doc_id", "text", "doc_id", "text", k = 3, n = 2)
    assert(rows(viaIndex) == rows(direct) && rows(viaIndex).nonEmpty)
  }

  test("semDedupCatchUp: ascending fold ≡ manual epoch sequence; resumes; probe serves off it") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.{Similarity, VectorOps}
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select("vec_id", "embedding").cache()
    def shape(df: DataFrame) = df.select(col("vec_id").as("corpus_id"),
      col("embedding").as("cv"), VectorOps.norm_q(col("embedding")).as("cn"))
    val seeds = shape(emb.where(col("vec_id") % 16 === 0))
      .select(col("corpus_id").as("seed_id"), col("cv").as("sv"),
        col("cn").as("sn")).cache()
    val tau = 150000L

    val dir = Files.createTempDirectory("sdmnt").toString
    val corpus = new ExactlyOnceSink(s"$dir/corpus")
    val history = new ExactlyOnceSink(s"$dir/history")
    (0 to 2).foreach(e =>
      corpus.write(emb.where(col("vec_id") % 3 === e), e.toLong))

    // manual ascending fold — the reference semantics
    val chunks = (0 to 2).map(e => shape(emb.where(col("vec_id") % 3 === e)))
    var hist = chunks.head.select(col("corpus_id"), col("cv"), col("cn"),
      lit(0L).as("centroid")).where(lit(false))
    val perEpochKept = chunks.map { c =>
      val kept = Similarity.semDedupIncrement(hist, c, seeds, tau)
        .where(col("kept")).select(col("corpus_id"), col("centroid"))
        .join(c, Seq("corpus_id"))
        .select(col("corpus_id"), col("cv"), col("cn"), col("centroid"))
        .localCheckpoint()
      hist = hist.unionByName(kept).localCheckpoint()
      kept
    }

    // crash-resume: epoch 0 already folded by a previous maintainer run —
    // the loop must skip it (manifest = state) and fold exactly the gap
    history.write(perEpochKept.head, 0L)
    assert(IndexMaintenance.semDedupCatchUp(spark, corpus, history,
      "vec_id", "embedding", seeds, tau) == Seq(1L, 2L))
    def ids(df: DataFrame) = rows(df.select("corpus_id", "centroid"))
    assert(ids(history.read(spark)) == ids(hist) && ids(hist).nonEmpty,
      "maintained history != manual ascending fold")
    assert(ids(history.read(spark)).size < emb.count(),
      "nothing was ever dropped — threshold too strict to exercise the fold")
    // idempotent: caught up ⇒ no-op
    assert(IndexMaintenance.semDedupCatchUp(spark, corpus, history,
      "vec_id", "embedding", seeds, tau).isEmpty)
    // corpus grows: only the new epoch folds, claims against ALL history
    corpus.write(emb.where(col("vec_id") % 3 === 1)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")), 3L)
    assert(IndexMaintenance.semDedupCatchUp(spark, corpus, history,
      "vec_id", "embedding", seeds, tau) == Seq(3L))
    // every re-offered twin of an already-kept epoch-1 vector is dropped:
    // the history's verdict, not the batch rule, decides
    val rekept = history.read(spark).where(col("corpus_id") >= 100000L)
      .select((col("corpus_id") - 100000L).as("orig")).collect().map(_.getLong(0)).toSet
    val origKept = history.read(spark)
      .where(col("corpus_id") < 100000L && col("corpus_id") % 3 === 1)
      .select(col("corpus_id")).collect().map(_.getLong(0)).toSet
    assert(rekept.intersect(origKept).isEmpty,
      s"replayed twins of kept vectors survived: ${rekept.intersect(origKept).take(5)}")
    // the serving gate probes the maintained table directly: re-offering
    // KEPT vectors must refuse every one (each finds itself at cos 1e6);
    // chunk-dropped vectors carry no such guarantee (their claimer may
    // itself have been dropped) so only kept ids are asserted
    val keptReq = history.read(spark).where(col("corpus_id") < 50)
      .select(col("corpus_id").as("vec_id"), col("cv").as("embedding"))
    val nReq = keptReq.count()
    assert(nReq > 0, "need kept vectors below id 50 for the probe check")
    val probe = RequestResponse.semDedupProbe(keptReq,
      history.read(spark).select("corpus_id", "cv", "cn", "centroid"),
      seeds, "vec_id", "embedding", tau)
    assert(probe.where(!col("admit")).count() == nReq,
      "kept corpus vectors re-offered to the gate must all be refused")
  }

  test("corpus compacted past unindexed epochs fails loudly; single-batch rebuild recovers") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("idxmntc").toString
    val corpus = new ExactlyOnceSink(s"$dir/corpus")
    val index = new ExactlyOnceSink(s"$dir/index")
    (0 to 1).foreach(e => corpus.write(docs.where(col("doc_id") % 3 === e), e.toLong))
    corpus.compact(spark, targetPartitions = 1)

    // epochs 0-1 folded into the snapshot before any increment was taken:
    // a silent no-op here would strand the index forever — must throw
    val e = intercept[IllegalStateException] {
      IndexMaintenance.catchUp(spark, corpus, index)(shingleInc)
    }
    assert(e.getMessage.contains("compacted"))
    // the semDedup history fold runs on the same loop and guard
    val eSem = intercept[IllegalStateException] {
      IndexMaintenance.semDedupCatchUp(spark, corpus,
        new ExactlyOnceSink(s"$dir/history"), "doc_id", "text",
        seeds = spark.emptyDataFrame, minCosQ = 0L)
    }
    assert(eSem.getMessage.contains("compacted"))

    // documented recovery: one single-batch increment over the snapshot,
    // committed under the compaction horizon — maintenance then resumes
    // for post-compaction epochs only
    val hi = corpus.compactHi().get
    index.write(shingleInc(corpus.read(spark)), hi)
    corpus.write(docs.where(col("doc_id") % 3 === 2), hi + 1)
    assert(IndexMaintenance.catchUp(spark, corpus, index)(shingleInc) == Seq(hi + 1))
    assert(rows(index.read(spark).select("doc_id", "shingle")) == rows(shingleInc(docs)))
  }

  test("bm25CatchUp: corpus appends refresh stats+df with the postings; serving ≡ full rebuild") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextSearch
    val dir = Files.createTempDirectory("bm25mnt").toString
    val corpus = new ExactlyOnceSink(s"$dir/corpus")
    val index = new ExactlyOnceSink(s"$dir/index")
    val reqs = docs.where(col("doc_id") < 5).select(col("doc_id"), col("text"))
    val qt = TextSearch.queryTerms(reqs, "doc_id", "text", maxTerms = 6)
      .localCheckpoint()

    corpus.write(docs.where(col("doc_id") % 2 === 0), 0L)
    val (e0, df0, st0) = IndexMaintenance.bm25CatchUp(
      spark, corpus, index, "doc_id", "text")
    assert(e0 == Seq(0L))
    val served0 = rows(TextSearch.bm25TopK(qt, index.read(spark), df0, st0, k = 5))

    // corpus APPENDS: one call must both index the new epoch and hand
    // back stats/df consistent with the grown postings — serving off
    // them equals a from-scratch single-batch build over the full corpus
    corpus.write(docs.where(col("doc_id") % 2 === 1), 1L)
    val (e1, df1, st1) = IndexMaintenance.bm25CatchUp(
      spark, corpus, index, "doc_id", "text")
    assert(e1 == Seq(1L))
    val fullPostings = TextSearch.postingsIncrement(docs, "doc_id", "text")
    val expect = rows(TextSearch.bm25TopK(qt, fullPostings,
      TextSearch.termDf(fullPostings), TextSearch.statsOf(fullPostings), k = 5))
    val served1 = rows(TextSearch.bm25TopK(qt, index.read(spark), df1, st1, k = 5))
    assert(served1 == expect && served1.nonEmpty)
    // and the stale artifacts would NOT have served this (the failure
    // mode the composed loop closes): avgdl/df really did shift
    assert(rows(st1.toDF()) != rows(st0.toDF()))
    assert(served1 != served0)

    // caught up: a re-run indexes nothing but still returns live plans
    val (e2, _, st2) = IndexMaintenance.bm25CatchUp(
      spark, corpus, index, "doc_id", "text")
    assert(e2.isEmpty && rows(st2.toDF()) == rows(st1.toDF()))
  }

  test("lexiconCatchUp: epoch-partial counts re-sum; gate serving ≡ from-scratch lexicon") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextAnalysis
    val dir = Files.createTempDirectory("lexmnt").toString
    val corpus = new ExactlyOnceSink(s"$dir/corpus")
    val index = new ExactlyOnceSink(s"$dir/lexicon")
    val reqs = docs.where(col("doc_id") < 5).select(col("doc_id"), col("text"))

    corpus.write(docs.where(col("doc_id") % 2 === 0), 0L)
    corpus.write(docs.where(col("doc_id") % 2 === 1), 1L)
    val (done, lexicon) = IndexMaintenance.lexiconCatchUp(
      spark, corpus, index, "text")
    assert(done == Seq(0L, 1L))
    // a term split across the two epochs must NOT double-join: serving
    // off the re-summed lexicon equals a from-scratch single-pass build
    val expect = rows(TextAnalysis.rareTokenStats(reqs, "doc_id", "text",
      TextAnalysis.termFrequencies(docs, "text"), 3L))
    val served = rows(TextAnalysis.rareTokenStats(reqs, "doc_id", "text",
      lexicon, 3L))
    assert(served == expect && served.nonEmpty)
    // the RAW index table is epoch-partial (more rows than terms) — the
    // re-sum is load-bearing, not decorative
    assert(index.read(spark).count() >
      index.read(spark).select(col("term")).distinct().count())
    // caught up: nothing new to index, same serving lexicon
    val (again, lex2) = IndexMaintenance.lexiconCatchUp(
      spark, corpus, index, "text")
    assert(again.isEmpty && rows(lex2) == rows(lexicon))
  }

  test("lmModelCatchUp: corpus appends refresh model+c1+V together; probe ≡ from-scratch model") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{LanguageModel, RequestResponse}
    val dir = Files.createTempDirectory("lmmnt").toString
    val corpus = new ExactlyOnceSink(s"$dir/corpus")
    val index = new ExactlyOnceSink(s"$dir/lmcounts")
    val reqs = docs.where(col("doc_id") < 5).select(col("doc_id"), col("text"))
    def probe(m: DataFrame, c1: DataFrame, v: Long) =
      rows(RequestResponse.lmScoreProbe(reqs, m, c1, v,
        "doc_id", "text", 34000L, 32700L))

    corpus.write(docs.where(col("doc_id") % 2 === 0), 0L)
    val (d1, m1, c11, v1) = IndexMaintenance.lmModelCatchUp(
      spark, corpus, index, "text")
    assert(d1 == Seq(0L))
    // append an epoch: one call refreshes all THREE artifacts; serving
    // equals a from-scratch build over the full corpus (a bigram split
    // across epochs must re-sum, and V must move with the new vocab)
    corpus.write(docs.where(col("doc_id") % 2 === 1), 1L)
    val (d2, m2, c12, v2) = IndexMaintenance.lmModelCatchUp(
      spark, corpus, index, "text")
    assert(d2 == Seq(1L))
    val full = LanguageModel.bigramIncrement(docs, "text")
    assert(v2 == LanguageModel.vocabPlusOne(full))
    assert(probe(m2, c12, v2) ==
      probe(LanguageModel.enrichModel(full), LanguageModel.c1Of(full), v2))
    // the epoch-0 artifacts were a DIFFERENT model (the refresh is
    // load-bearing), and the RAW index table is epoch-partial — the
    // re-sum matters, not just the append
    assert(v1 <= v2 && rows(m1) != rows(m2))
    assert(index.read(spark).count() >
      index.read(spark).select(col("bg")).distinct().count())
    // caught up: no new epochs, same serving artifacts
    val (d3, m3, c13, v3) = IndexMaintenance.lmModelCatchUp(
      spark, corpus, index, "text")
    assert(d3.isEmpty && v3 == v2 && rows(m3) == rows(m2) && rows(c13) == rows(c12))
  }

  test("seenCatchUp: filter folds across epochs; serving ≡ single-batch; no FNs") {
    import org.apache.spark.sql.functions.col
    import graft.operators.BloomSet
    val dir = Files.createTempDirectory("seenmnt").toString
    val corpus = new ExactlyOnceSink(s"$dir/corpus")
    val index = new ExactlyOnceSink(s"$dir/bloom")
    val keyed = docs.withColumn("key",
      org.apache.spark.sql.functions.concat_ws("/", col("source"), col("doc_id")))
    corpus.write(keyed.where(col("doc_id") % 2 === 0), 0L)
    corpus.write(keyed.where(col("doc_id") % 2 === 1), 1L)
    val (done, bloom) = IndexMaintenance.seenCatchUp(
      spark, corpus, index, "key", mBits = 1024, kHashes = 4, shards = 2)
    assert(done == Seq(0L, 1L))
    // serving filter ≡ the single-batch build over the whole corpus
    assert(rows(bloom) ==
      rows(BloomSet.bloomOf(keyed, "key", 1024, 4, shards = 2)))
    // and it gates with zero false negatives
    assert(BloomSet.gate(keyed, "key", bloom, 1024, 4, shards = 2).count() == 0L)
    // caught up: nothing to do, same filter
    val (again, b2) = IndexMaintenance.seenCatchUp(
      spark, corpus, index, "key", 1024, 4, shards = 2)
    assert(again.isEmpty && rows(b2) == rows(bloom))
  }
}
