package graft

import java.nio.file.Files

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.RequestResponse
import graft.streaming.{ExactlyOnceSink, RequestService}

final case class TextReq(request_id: Long, qtext: String)
final case class VecReq(request_id: Long, qvec: Array[Float])

/**
 * The streaming DRPC service must answer exactly like the batch
 * operators (q33's oracle-checked plan) and publish each response
 * exactly once across kill/resume.
 */
class RequestServiceSpec extends SparkSpec {

  test("text match service: stream ≡ batch across a kill/resume") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").cache()
    val corpus = docs.where($"doc_id" >= 5)
    val reqRows = docs.where($"doc_id" < 5)
      .select($"doc_id", $"text").collect()
      .map(r => TextReq(r.getLong(0), r.getString(1))).sortBy(_.request_id)
    assert(reqRows.length >= 4, "need a few requests for the two-batch split")

    val cp = Files.createTempDirectory("rscp").toString
    val table = Files.createTempDirectory("rstbl").toString
    val in = MemoryStream[TextReq](Encoders.product[TextReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b => RequestResponse.matchText(
      spark, b, corpus, "request_id", "qtext", "doc_id", "text", k = 3, n = 2))

    // first half of the requests, then kill
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // resume: remaining requests
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val sink = new ExactlyOnceSink(table)
    val got = sink.read(spark)
      .select($"request_id", $"doc_id", $"score_q", $"rk".cast("long").as("rk"))
      .collect().map(_.toSeq)
    assert(got.length == got.distinct.length, "duplicate responses after resume")

    val expected = RequestResponse.matchText(spark,
      reqRows.toSeq.toDF("request_id", "qtext"), corpus,
      "request_id", "qtext", "doc_id", "text", k = 3, n = 2)
      .select($"request_id", $"doc_id", $"score_q", $"rk".cast("long").as("rk"))
      .collect().map(_.toSeq)
    assert(got.toSet == expected.toSet && got.nonEmpty,
      s"stream=${got.toSet.size} rows vs batch=${expected.toSet.size} rows")
  }

  test("indexed embedding service: stream off a persisted IVF index ≡ batch index search") {
    import spark.implicits._
    import graft.operators.{Similarity, VectorOps}
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()
    val corpus = emb.where($"vec_id" >= 10)
    val seeds = corpus.where($"vec_id" % 16 === 0)
      .select($"vec_id".as("seed_id"), $"embedding".as("sv"),
        VectorOps.norm_q($"embedding").as("sn")).cache()
    // the long-lived index: built once, appended incrementally in prod
    val index = Similarity.assignIncrement(corpus, "vec_id", "embedding", seeds).cache()
    val reqRows = emb.where($"vec_id" < 5).collect()
      .map(r => VecReq(r.getLong(0), r.getSeq[Float](1).toArray))

    val cp = Files.createTempDirectory("ricp").toString
    val table = Files.createTempDirectory("ritbl").toString
    val in = MemoryStream[VecReq](Encoders.product[VecReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b => Similarity.ivfSearchIndex(
      b.select($"request_id".as("query_id"), $"qvec".as("qv"), VectorOps.norm_q($"qvec").as("qn")),
      index, seeds, k = 3, nProbe = 4).withColumnRenamed("query_id", "request_id"))
    // two request batches with a kill/resume between them: re-delivered
    // epochs must not duplicate responses
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val rows = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"corpus_id", $"cos_q", $"rk").collect().map(_.toSeq)
    assert(rows.length == rows.distinct.length, "duplicate responses after resume")
    val got = rows.toSet
    val expected = Similarity.ivfSearchIndex(
      reqRows.toSeq.map(r => (r.request_id, r.qvec)).toDF("request_id", "qvec")
        .select($"request_id".as("query_id"), $"qvec".as("qv"),
          VectorOps.norm_q($"qvec").as("qn")),
      index, seeds, k = 3, nProbe = 4)
      .select($"query_id", $"corpus_id", $"cos_q", $"rk").collect().map(_.toSeq).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("indexed text service: persisted shingle index ≡ full-scan matchText, corpus never re-shingled, kill/resume") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").cache()
    val corpus = docs.where($"doc_id" >= 5)
    val reqRows = docs.where($"doc_id" < 5).collect()
      .map(r => TextReq(r.getLong(0), r.getString(1))).sortBy(_.request_id)

    // the index lands over two commits (as readBetween would deliver them)
    // and is served from its persisted parquet form
    val dir = Files.createTempDirectory("tidx").toString
    val idxSink = new ExactlyOnceSink(dir)
    idxSink.write(RequestResponse.textIndexIncrement(
      corpus.where($"doc_id" % 2 === 0), "doc_id", "text", n = 2), 0L)
    idxSink.write(RequestResponse.textIndexIncrement(
      corpus.where($"doc_id" % 2 === 1), "doc_id", "text", n = 2), 1L)
    val index = idxSink.read(spark).cache()

    // the serving plan never touches the corpus table at all: requests are
    // a local batch, doc shingles come from the persisted index — the only
    // shingle explodes left are the (tiny) request side's
    val served = RequestResponse.matchTextFromIndex(
      reqRows.toSeq.toDF("request_id", "qtext"), index, "request_id", "qtext", k = 3, n = 2)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "serving plan re-read the corpus table instead of the persisted index")

    val cp = Files.createTempDirectory("ticp").toString
    val table = Files.createTempDirectory("titbl").toString
    val in = MemoryStream[TextReq](Encoders.product[TextReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b =>
      RequestResponse.matchTextFromIndex(b, index, "request_id", "qtext", k = 3, n = 2))
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"doc_id", $"score_q", $"rk".cast("long").as("rk"))
      .collect().map(_.toSeq)
    assert(got.length == got.distinct.length, "duplicate responses after resume")
    // value-identical to the full-scan service: same formula over the
    // same distinct shingle rows, only their storage differs
    val expected = RequestResponse.matchText(spark,
      reqRows.toSeq.toDF("request_id", "qtext"), corpus,
      "request_id", "qtext", "doc_id", "text", k = 3, n = 2)
      .select($"request_id", $"doc_id", $"score_q", $"rk".cast("long").as("rk"))
      .collect().map(_.toSeq).toSet
    assert(got.toSet == expected && expected.nonEmpty)
  }

  test("bm25 service: persisted postings index ≡ batch bm25TopK, corpus never read, kill/resume") {
    import spark.implicits._
    import graft.operators.TextSearch
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").cache()
    val corpus = docs.where($"doc_id" >= 5)
    val reqRows = docs.where($"doc_id" < 5).collect()
      .map(r => TextReq(r.getLong(0), r.getString(1))).sortBy(_.request_id)

    // postings land over two commits (as readBetween would deliver them);
    // df/stats are refreshed off the index, and ALL serving inputs come
    // from their persisted parquet form
    val dir = Files.createTempDirectory("bm25idx").toString
    val idxSink = new ExactlyOnceSink(dir)
    idxSink.write(TextSearch.postingsIncrement(
      corpus.where($"doc_id" % 2 === 0), "doc_id", "text"), 0L)
    idxSink.write(TextSearch.postingsIncrement(
      corpus.where($"doc_id" % 2 === 1), "doc_id", "text"), 1L)
    val postings = idxSink.read(spark).cache()
    val dfT = TextSearch.termDf(postings).cache()
    val stats = TextSearch.statsOf(postings).cache()

    val servedPlan = TextSearch.bm25TopK(
      TextSearch.queryTerms(reqRows.toSeq.toDF("request_id", "qtext"),
        "request_id", "qtext", 8), postings, dfT, stats, k = 4)
      .queryExecution.executedPlan.toString
    assert(!servedPlan.contains("documents.parquet"),
      "bm25 serving plan re-read the corpus table instead of the postings index")

    val cp = Files.createTempDirectory("bm25cp").toString
    val table = Files.createTempDirectory("bm25tbl").toString
    val in = MemoryStream[TextReq](Encoders.product[TextReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b => TextSearch.bm25TopK(
      TextSearch.queryTerms(b, "request_id", "qtext", maxTerms = 8), postings, dfT, stats, k = 4))
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"doc_id", $"score_q", $"rk".cast("long").as("rk"))
      .collect().map(_.toSeq)
    assert(got.length == got.distinct.length, "duplicate responses after resume")
    val expected = TextSearch.bm25TopK(
      TextSearch.queryTerms(reqRows.toSeq.toDF("request_id", "qtext"),
        "request_id", "qtext", 8), postings, dfT, stats, k = 4)
      .select($"request_id", $"doc_id", $"score_q", $"rk".cast("long").as("rk"))
      .collect().map(_.toSeq).toSet
    assert(got.toSet == expected && expected.nonEmpty)
  }

  test("phrase service: persisted positional index ≡ batch phraseMatches, corpus never read, kill/resume") {
    import spark.implicits._
    import graft.operators.TextSearch
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").cache()
    // requests: the 3-token prefix of docs 0-4 (each matches ≥ its own doc)
    val reqRows = docs.where($"doc_id" < 5)
      .select($"doc_id",
        concat_ws(" ", slice(split(trim($"text"), "\\s+"), 1, 3)))
      .collect().map(r => TextReq(r.getLong(0), r.getString(1))).sortBy(_.request_id)

    // positional index lands over two commits; serving reads the persisted form
    val dir = Files.createTempDirectory("posidx").toString
    val idxSink = new ExactlyOnceSink(dir)
    idxSink.write(TextSearch.positionsIncrement(
      docs.where($"doc_id" % 2 === 0), "doc_id", "text"), 0L)
    idxSink.write(TextSearch.positionsIncrement(
      docs.where($"doc_id" % 2 === 1), "doc_id", "text"), 1L)
    val positions = idxSink.read(spark).cache()

    val batchDf = TextSearch.phraseMatches(
      TextSearch.phraseQueryTerms(reqRows.toSeq.toDF("request_id", "qtext"),
        "request_id", "qtext"), positions)
    assert(!batchDf.queryExecution.executedPlan.toString.contains("documents.parquet"),
      "phrase serving plan re-read the corpus table instead of the positional index")

    val cp = Files.createTempDirectory("phrcp").toString
    val table = Files.createTempDirectory("phrtbl").toString
    val in = MemoryStream[TextReq](Encoders.product[TextReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b => TextSearch.phraseMatches(
      TextSearch.phraseQueryTerms(b, "request_id", "qtext"), positions))
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"doc_id", $"n_occ", $"first_pos")
      .collect().map(_.toSeq)
    assert(got.length == got.distinct.length, "duplicate responses after resume")
    val expected = batchDf
      .select($"request_id", $"doc_id", $"n_occ", $"first_pos")
      .collect().map(_.toSeq).toSet
    assert(got.toSet == expected && expected.nonEmpty)
    // every request found at least its own document
    assert(got.count(r => r.head == r(1)) == reqRows.length)
  }

  test("span probe service: stream off the persisted span-df ≡ batch probe, kill/resume") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").cache()
    val corpus = docs.where($"doc_id" >= 5)
    // the persisted index spanStatsIncrement maintains
    val spanDf = Dedup.spanDf(corpus, "doc_id", "text", 8).cache()
    // verbatim copies of corpus docs (every window present, dup_q 1000)
    // + two docs the corpus never saw
    val planted = corpus.orderBy($"doc_id").limit(2).collect()
      .map(r => TextReq(9000L + r.getLong(0), r.getString(1)))
    val fresh = docs.where($"doc_id" < 2).collect()
      .map(r => TextReq(r.getLong(0), r.getString(1)))
    val reqRows = (planted ++ fresh).sortBy(_.request_id)

    val cp = Files.createTempDirectory("spcp").toString
    val table = Files.createTempDirectory("sptbl").toString
    val in = MemoryStream[TextReq](Encoders.product[TextReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b =>
      RequestResponse.spanDupProbe(b, spanDf, "request_id", "qtext", n = 8))
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"n_spans", $"dup_spans", $"dup_q")
      .collect().map(_.toSeq)
    assert(got.length == got.distinct.length, "duplicate responses after resume")
    val expected = RequestResponse.spanDupProbe(
      reqRows.toSeq.map(r => (r.request_id, r.qtext)).toDF("request_id", "qtext"),
      spanDf, "request_id", "qtext", n = 8)
      .select($"request_id", $"n_spans", $"dup_spans", $"dup_q")
      .collect().map(_.toSeq).toSet
    assert(got.toSet == expected && expected.nonEmpty)
    // every planted verbatim copy is fully covered by corpus spans
    planted.foreach { p =>
      assert(got.exists(s => s.head == p.request_id && s(3) == 1000L),
        s"planted copy ${p.request_id} not fully duplicated: ${got.toSeq}")
    }
  }

  test("near-dup probe service: stream off the persisted band index ≡ batch probe; planted twins verified") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").cache()
    val corpus = docs.where($"doc_id" >= 5)
    // the persisted index incrementalNearDupKeepers maintains
    val bandIndex = Dedup.minhashBandsRowwise(corpus, "doc_id", "text",
      n = 3, bands = 8).cache()
    // requests: two verbatim copies of corpus docs (planted exact twins,
    // jacc 1000 guaranteed) + two fresh texts
    val planted = corpus.orderBy($"doc_id").limit(2).collect()
      .map(r => TextReq(9000L + r.getLong(0), r.getString(1)))
    val fresh = docs.where($"doc_id" < 2).collect()
      .map(r => TextReq(r.getLong(0), r.getString(1)))
    val reqRows = (planted ++ fresh).sortBy(_.request_id)

    val cp = Files.createTempDirectory("ndcp").toString
    val table = Files.createTempDirectory("ndtbl").toString
    val in = MemoryStream[TextReq](Encoders.product[TextReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b => RequestResponse.nearDupProbe(
      b, bandIndex, corpus, "request_id", "qtext", "doc_id", "text", n = 3, bands = 8, minJaccQ = 500L))
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"doc_id", $"jacc_q").collect().map(_.toSeq)
    assert(got.length == got.distinct.length, "duplicate responses after resume")
    val expected = RequestResponse.nearDupProbe(
      reqRows.toSeq.map(r => (r.request_id, r.qtext)).toDF("request_id", "qtext"),
      bandIndex, corpus, "request_id", "qtext", "doc_id", "text",
      n = 3, bands = 8, minJaccQ = 500L)
      .select($"request_id", $"doc_id", $"jacc_q").collect().map(_.toSeq).toSet
    assert(got.toSet == expected)
    // each planted twin finds its source doc at exact Jaccard 1000
    planted.foreach { p =>
      assert(got.exists(s => s.head == p.request_id && s(1) == p.request_id - 9000L
        && s(2) == 1000L), s"planted twin ${p.request_id} not verified: ${got.toSeq}")
    }
  }

  test("indexed PQ service: stream off the persisted codes table ≡ batch indexed search, kill/resume") {
    import spark.implicits._
    import graft.operators.{ProductQuant, VectorOps}
    val dim = 64; val m = 4
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()
    val corpus = emb.where($"vec_id" >= 10)
    val seeds = corpus.where($"vec_id" % 16 === 0)
      .select($"vec_id".as("seed_id"), $"embedding".as("sv"),
        VectorOps.norm_q($"embedding").as("sn")).cache()
    val books = ProductQuant.codebooks(corpus, "vec_id", "embedding", dim, m, 16L)
      .localCheckpoint()
    // the long-lived compressed index: built once, appended in prod
    val index = ProductQuant.indexIncrement(corpus, "vec_id", "embedding",
      seeds, books, dim, m).cache()
    val reqRows = emb.where($"vec_id" < 5).collect()
      .map(r => VecReq(r.getLong(0), r.getSeq[Float](1).toArray))

    val cp = Files.createTempDirectory("rpqcp").toString
    val table = Files.createTempDirectory("rpqtbl").toString
    val in = MemoryStream[VecReq](Encoders.product[VecReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b => ProductQuant.ivfAdcSearchIndex(
      b, index, seeds, books, "request_id", "qvec", dim, m, k = 3, nProbe = 4)
      .withColumnRenamed("query_id", "request_id"))
    // kill/resume between the two request batches: re-delivered epochs
    // must not duplicate responses
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val rows = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"corpus_id", $"adc_q", $"rk".cast("long").as("rk"))
      .collect().map(_.toSeq)
    assert(rows.length == rows.distinct.length, "duplicate responses after resume")
    val expected = ProductQuant.ivfAdcSearchIndex(
      reqRows.toSeq.map(r => (r.request_id, r.qvec)).toDF("request_id", "qvec"),
      index, seeds, books, "request_id", "qvec", dim, m, k = 3, nProbe = 4)
      .select($"query_id", $"corpus_id", $"adc_q", $"rk".cast("long").as("rk"))
      .collect().map(_.toSeq).toSet
    assert(rows.toSet == expected && expected.nonEmpty)
  }

  test("embedding match service: stream ≡ batch") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()
    val corpus = emb.where($"vec_id" >= 5)
    val reqRows = emb.where($"vec_id" < 5).collect()
      .map(r => VecReq(r.getLong(0), r.getSeq[Float](1).toArray))

    val cp = Files.createTempDirectory("rvcp").toString
    val table = Files.createTempDirectory("rvtbl").toString
    val in = MemoryStream[VecReq](Encoders.product[VecReq], spark)
    val q = RequestService.start(in.toDF(), table, cp)(b => RequestResponse.matchEmbedding(
      b, corpus, "request_id", "qvec", "vec_id", "embedding", k = 4))
    in.addData(reqRows.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"corpus_id", $"cos_q", $"rk".cast("long").as("rk"))
      .collect().map(_.toSeq)
    val expected = RequestResponse.matchEmbedding(
      reqRows.toSeq.map(r => (r.request_id, r.qvec)).toDF("request_id", "qvec"),
      corpus, "request_id", "qvec", "vec_id", "embedding", k = 4)
      .select($"request_id", $"corpus_id", $"cos_q", $"rk".cast("long").as("rk"))
      .collect().map(_.toSeq)
    assert(got.toSet == expected.toSet && got.nonEmpty)
  }

  test("rare-token gate service: stream off the persisted lexicon ≡ batch probe, kill/resume") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").cache()
    val corpus = docs.where($"doc_id" >= 5)
    // the persisted lexicon lexiconIncrement maintains
    val lexicon = TextAnalysis.termFrequencies(corpus, "text").cache()
    // verbatim copies of corpus docs (every token known at minTf=1,
    // rare_q 0) + a gibberish doc the vocabulary never saw (rare_q 1000)
    val planted = corpus.orderBy($"doc_id").limit(2).collect()
      .map(r => TextReq(9000L + r.getLong(0), r.getString(1)))
    val gibberish = TextReq(9999L, "zzqx1 zzqx2 zzqx3 zzqx4")
    val fresh = docs.where($"doc_id" < 2).collect()
      .map(r => TextReq(r.getLong(0), r.getString(1)))
    val reqRows = (planted ++ fresh :+ gibberish).sortBy(_.request_id)

    val cp = Files.createTempDirectory("rtcp").toString
    val table = Files.createTempDirectory("rttbl").toString
    val in = MemoryStream[TextReq](Encoders.product[TextReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b =>
      RequestResponse.rareTokenProbe(b, lexicon, "request_id", "qtext", minTf = 1L))
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"n_toks", $"rare_toks", $"rare_q")
      .collect().map(_.toSeq)
    assert(got.length == got.distinct.length, "duplicate responses after resume")
    val expected = RequestResponse.rareTokenProbe(
      reqRows.toSeq.map(r => (r.request_id, r.qtext)).toDF("request_id", "qtext"),
      lexicon, "request_id", "qtext", minTf = 1L)
      .select($"request_id", $"n_toks", $"rare_toks", $"rare_q")
      .collect().map(_.toSeq).toSet
    assert(got.toSet == expected && expected.nonEmpty)
    // planted verbatim copies: fully in-vocabulary; gibberish: fully OOV
    planted.foreach { p =>
      assert(got.exists(s => s.head == p.request_id && s(3) == 0L),
        s"planted copy ${p.request_id} not fully known: ${got.toSeq}")
    }
    assert(got.exists(s => s.head == 9999L && s(3) == 1000L),
      s"gibberish doc not fully OOV: ${got.toSeq}")
  }

  test("LM gate service: stream off the persisted model ≡ batch probe, kill/resume") {
    import spark.implicits._
    import graft.operators.{LanguageModel, RequestResponse}
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").cache()
    // the persisted model artifacts a maintenance epoch would refresh
    val counts = LanguageModel.bigramIncrement(
      docs.where($"doc_id" % 3 === 0), "text")
    val model = LanguageModel.enrichModel(counts).cache()
    val c1 = LanguageModel.c1Of(counts).cache()
    val v = LanguageModel.vocabPlusOne(counts)
    val fresh = docs.where($"doc_id" < 4).collect()
      .map(r => TextReq(r.getLong(0), r.getString(1)))
    val short = TextReq(9999L, "one") // unscoreable: must still answer
    val reqRows = (fresh :+ short).sortBy(_.request_id)

    val cp = Files.createTempDirectory("lmcp").toString
    val table = Files.createTempDirectory("lmtbl").toString
    val in = MemoryStream[TextReq](Encoders.product[TextReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b => RequestResponse.lmScoreProbe(
      b, model, c1, v, "request_id", "qtext", headMin = 34000L, midMin = 32700L))
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"n_bigrams", $"lm_q", $"tier")
      .collect().map(_.toSeq)
    assert(got.length == got.distinct.length, "duplicate responses after resume")
    val expected = RequestResponse.lmScoreProbe(
      reqRows.toSeq.map(r => (r.request_id, r.qtext)).toDF("request_id", "qtext"),
      model, c1, v, "request_id", "qtext", 34000L, 32700L)
      .select($"request_id", $"n_bigrams", $"lm_q", $"tier")
      .collect().map(_.toSeq).toSet
    assert(got.toSet == expected && expected.nonEmpty)
    assert(got.exists(s => s.head == 9999L && s(1) == 0L && s(2) == null),
      s"unscoreable request lost or mis-scored: ${got.toSeq}")
  }

  test("DSIR gate service: stream off BOTH persisted models ≡ batch probe ≡ batch operator, kill/resume") {
    import spark.implicits._
    import graft.operators.{LanguageModel, RequestResponse}
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").cache()
    val tCounts = LanguageModel.bigramIncrement(
      docs.where($"doc_id" % 5 === 0), "text")
    val rCounts = LanguageModel.bigramIncrement(
      docs.where($"doc_id" % 5 === 1), "text")
    val tM = LanguageModel.enrichModel(tCounts).cache()
    val tC = LanguageModel.c1Of(tCounts).cache()
    val tV = LanguageModel.vocabPlusOne(tCounts)
    val rM = LanguageModel.enrichModel(rCounts).cache()
    val rC = LanguageModel.c1Of(rCounts).cache()
    val rV = LanguageModel.vocabPlusOne(rCounts)
    val fresh = docs.where($"doc_id" < 4).collect()
      .map(r => TextReq(r.getLong(0), r.getString(1)))
    val short = TextReq(9999L, "one") // unscoreable: must still answer
    val reqRows = (fresh :+ short).sortBy(_.request_id)

    val cp = Files.createTempDirectory("dsircp").toString
    val table = Files.createTempDirectory("dsirtbl").toString
    val in = MemoryStream[TextReq](Encoders.product[TextReq], spark)
    def start() = RequestService.start(in.toDF(), table, cp)(b =>
      RequestResponse.dsirProbe(b, tM, tC, tV, rM, rC, rV, "request_id", "qtext"))
    var q = start()
    in.addData(reqRows.take(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"n_bigrams", $"w_target", $"w_raw", $"dsir_q")
      .collect().map(_.toSeq)
    assert(got.length == got.distinct.length, "duplicate responses after resume")
    val reqDf = reqRows.toSeq.map(r => (r.request_id, r.qtext))
      .toDF("request_id", "qtext")
    val expected = RequestResponse.dsirProbe(reqDf,
      tM, tC, tV, rM, rC, rV, "request_id", "qtext")
      .select($"request_id", $"n_bigrams", $"w_target", $"w_raw", $"dsir_q")
      .collect().map(_.toSeq).toSet
    assert(got.toSet == expected && expected.nonEmpty)
    // the probe ≡ the batch operator on the scoreable slice
    val batch = LanguageModel.importanceWeights(
      reqDf.withColumnRenamed("qtext", "text"), tCounts, rCounts,
      "request_id", "text")
      .select($"doc_id".as("request_id"), $"n_bigrams",
        $"w_target", $"w_raw", $"dsir_q")
      .collect().map(_.toSeq).toSet
    assert(batch.subsetOf(got.toSet) && got.toSet.size == batch.size + 1,
      "probe != batch operator (+ the one unscoreable row)")
    assert(got.exists(s => s.head == 9999L && s(1) == 0L && s(2) == null),
      s"unscoreable request lost or mis-scored: ${got.toSeq}")
  }

  test("semDedup gate service: stream off the persisted kept-history ≡ batch probe, replayed keeper refused, kill/resume") {
    import spark.implicits._
    import graft.operators.{Similarity, VectorOps}
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()
    val c = emb.select($"vec_id".as("corpus_id"), $"embedding".as("cv"),
      VectorOps.norm_q($"embedding").as("cn"))
    val seeds = c.where($"corpus_id" % 16 === 0)
      .select($"corpus_id".as("seed_id"), $"cv".as("sv"), $"cn".as("sn"))
      .cache()
    val tau = 150000L
    val history = Similarity.semDedupAssigned(c, seeds, tau)
      .where($"kept").select($"corpus_id", $"cv", $"cn", $"centroid")
      .cache()
    val reqRows = emb.where($"vec_id" < 6).collect()
      .map(r => VecReq(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.request_id)

    val cp = Files.createTempDirectory("sdcp").toString
    val table = Files.createTempDirectory("sdtbl").toString
    val in = MemoryStream[VecReq](Encoders.product[VecReq], spark)
    def start() = RequestService.startSemDedupGate(spark, in.toDF(),
      history, seeds, "request_id", "qvec", table, cp, tau)
    var q = start()
    in.addData(reqRows.take(3).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    q = start()
    in.addData(reqRows.drop(3).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = new ExactlyOnceSink(table).read(spark)
      .select($"request_id", $"centroid", $"cos_c", $"near_max_q", $"admit")
      .collect().map(_.toSeq)
    assert(got.length == got.distinct.length, "duplicate responses after resume")
    val reqDf = reqRows.toSeq.map(r => (r.request_id, r.qvec))
      .toDF("request_id", "qvec")
    val expected = RequestResponse.semDedupProbe(reqDf, history, seeds,
      "request_id", "qvec", tau)
      .select($"request_id", $"centroid", $"cos_c", $"near_max_q", $"admit")
      .collect().map(_.toSeq).toSet
    assert(got.toSet == expected && got.length == reqRows.length)
    // replay absorption: every request that IS a kept history vector
    // must be refused (it finds itself at cos 1e6)
    val keptIds = history.where($"corpus_id" < 6)
      .select($"corpus_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty, "test needs at least one kept request id")
    keptIds.foreach { id =>
      val row = got.find(_.head == id).get
      assert(row(3) == 1000000L && row(4) == false,
        s"replayed keeper $id not refused: $row")
    }

    // pruned serving shape: the SAME requests against a centroid-
    // PARTITIONED history dir with pruneHistory=true — identical
    // responses, and the literal cell filter reaches PartitionFilters
    // (static pruning; DPP declines this join, measured)
    val hdir = Files.createTempDirectory("sdhist").toString + "/history"
    history.write.partitionBy("centroid").parquet(hdir)
    val histOnDisk = spark.read.parquet(hdir)
    val cp2 = Files.createTempDirectory("sdcp2").toString
    val table2 = Files.createTempDirectory("sdtbl2").toString
    val in2 = MemoryStream[VecReq](Encoders.product[VecReq], spark)
    val q2 = RequestService.startSemDedupGate(spark, in2.toDF(),
      histOnDisk, seeds, "request_id", "qvec", table2, cp2, tau,
      pruneHistory = true)
    in2.addData(reqRows.toIndexedSeq)
    q2.processAllAvailable()
    q2.stop()
    val gotPruned = new ExactlyOnceSink(table2).read(spark)
      .select($"request_id", $"centroid", $"cos_c", $"near_max_q", $"admit")
      .collect().map(_.toSeq).toSet
    assert(gotPruned == got.toSet, "pruned history gate diverges from unpruned")
    val cells = graft.operators.RequestResponse.requestCells(
      reqRows.toSeq.map(r => (r.request_id, r.qvec)).toDF("request_id", "qvec"),
      seeds, "request_id", "qvec")
    val prunedPlan = graft.operators.RequestResponse.semDedupProbe(
      reqRows.toSeq.map(r => (r.request_id, r.qvec)).toDF("request_id", "qvec"),
      histOnDisk.where($"centroid".isin(cells: _*)), seeds,
      "request_id", "qvec", tau)
      .queryExecution.executedPlan.toString
    assert(prunedPlan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains(" IN (")),
      s"literal cell filter missing from PartitionFilters:\n$prunedPlan")
  }
}
