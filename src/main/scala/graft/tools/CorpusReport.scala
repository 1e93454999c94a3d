package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.TextAnalysis

/**
 * One-look corpus quality report — the operational dashboard a pipeline
 * owner reads before an export: volume, language mix, quality
 * distribution, exact-dup rate, PII incidence, repetition flags, and
 * rare-token (OOV) mass, all composed from the engine's own gate
 * operators so the report and the gates can never disagree. Prints ONE
 * JSON object to stdout.
 *
 * Cost shape: the per-row signal projection is computed ONCE and cached
 * (totals, language mix, quality histogram, and the dup-rate table all
 * aggregate the cached projection — the gates are codegen'd
 * expressions, evaluated in the scan stage of that single pass), plus
 * the lexicon/OOV pass that the rare-token signal needs (the same table
 * [[TextAnalysis.lexiconIncrement]] would maintain incrementally in
 * production — pass a persisted lexicon dir as args(1) to skip the
 * in-report build).
 *
 *   sbt "runMain graft.tools.CorpusReport [sfDir] [lexiconDir]"
 */
object CorpusReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val spark = GraftSession("graft-corpus-report", Some(32))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (emails, ips, phones) = TextAnalysis.piiCounts(col("text"))
    val words = TextAnalysis.wordArray(col("text"))
    val row = docs.select(
      col("doc_id"), col("lang"), col("source"),
      TextAnalysis.tokenCount(col("text")).as("toks"),
      length(col("text")).as("chars"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      emails.as("pii_email"), ips.as("pii_ip"), phones.as("pii_phone"),
      // Gopher-style repetition: fraction of words that are the single
      // most common word, flagged above 200 permille — on docs of >= 10
      // words only (a blank/one-word doc is trivially 1000 permille and
      // would turn the signal into a proxy for short docs); the multiply
      // is on LONG like every other permille in the repo (an Int 1000*x
      // wraps on multi-megabyte pathological docs)
      when(size(words) >= 10,
        (lit(1000L) * TextAnalysis.topWordCount(words).cast("long") /
          size(words)).cast("long")).otherwise(lit(0L)).as("rep_q"),
      // n-gram half of the Gopher table (q122's run-scan form): chars in
      // duplicated 5-grams, flagged over 10% of raw chars — raw length is
      // a slightly looser denominator than q122's non-ws charCount, fine
      // for a dashboard flag (one fewer regex pass over the corpus)
      TextAnalysis.dupNgramCharCover(words, 5).cast("long").as("d5"))
      .cache()

    val totals = row.agg(
      count(lit(1)).as("docs"),
      sum($"toks").as("tokens"),
      sum($"chars").as("chars"),
      countDistinct($"fp").as("distinct_fp"),
      sum($"pii_email").as("pii_emails"),
      sum($"pii_ip").as("pii_ips"),
      sum($"pii_phone").as("pii_phones"),
      sum(when($"rep_q" >= 200, 1L).otherwise(0L)).as("repetitive_docs"),
      sum(when($"q" < 50, 1L).otherwise(0L)).as("low_quality_docs"),
      sum(when($"d5" * 10 > $"chars", 1L).otherwise(0L))
        .as("ngram_rep_docs"))
      .head()

    val langMix = row.groupBy($"lang")
      .agg(count(lit(1)).as("n"), sum($"toks").as("toks"))
      .orderBy($"toks".desc)
      .as[(String, Long, Long)].collect()
    // true deciles 0–9: the maximum score (100) joins the [90,100] bucket
    // docs AND token mass per decile — read bottom-up, the cumulative
    // token column of OrderStats.gateSweep: "what does a threshold at
    // this decile keep/cost in tokens"
    val qHist = row.groupBy(least($"q" / 10, lit(9)).cast("long").as("decile"))
      .agg(count(lit(1)).as("n"), sum($"toks").as("t")).orderBy($"decile")
      .as[(Long, Long, Long)].collect()
    // dup-rate off the CACHED projection (row already carries source+fp —
    // re-running dupRateByGroup over docs would re-fingerprint the corpus)
    val worstSources = row.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"fp").as("n_distinct"))
      .withColumn("dup_q", floor(lit(1000) * ($"n_docs" - $"n_distinct")
        / $"n_docs").cast("long"))
      .orderBy($"dup_q".desc, $"source").limit(5)
      .select($"source", $"dup_q").as[(String, Long)].collect()

    // rare-token mass off the lexicon (persisted if provided, else built)
    val lexicon = args.lift(1)
      .map(dir => spark.read.parquet(dir))
      .getOrElse(TextAnalysis.termFrequencies(docs, "text"))
    val oov = TextAnalysis.rareTokenStats(docs, "doc_id", "text", lexicon, 3L)
      .agg(sum($"rare_toks").as("rare"), sum($"n_toks").as("all"),
        sum(when($"rare_q" >= 500, 1L).otherwise(0L)).as("oov_docs"))
      .head()

    // per-source distribution drift vs the corpus (TV distance, e6):
    // which sources are pulling the unigram mix away — the operational
    // "is this crawl slice weird" signal, one tokenize pass
    val drift = TextAnalysis.epochDrift(docs, "source", "text")
      .orderBy($"tv_q".desc, $"source").limit(5)
      .select($"source", $"tv_q").as[(String, Long)].collect()

    // a raised getLong would NPE on an empty corpus (sum() of no rows is
    // NULL even when count is 0) — zero-fill instead of crashing
    def gl(r: org.apache.spark.sql.Row, i: Int): Long =
      if (r.isNullAt(i)) 0L else r.getLong(i)
    def jStr(s: String) = "\"" + s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => "\\u%04x".format(c.toInt) // control chars break strict JSON
      case c => c.toString
    } + "\""
    val langJson = langMix.map { case (l, n, t) =>
      s"{${jStr(l)}:{" + s""""docs":$n,"tokens":$t}}""" }.mkString("[", ",", "]")
    val histJson = qHist.map { case (d, n, t) =>
      s"""{"decile":$d,"docs":$n,"tokens":$t}""" }
      .mkString("[", ",", "]")
    val worstJson = worstSources.map { case (s, d) =>
      s"{${jStr(s)}:$d}" }.mkString("[", ",", "]")
    val driftJson = drift.map { case (s, d) =>
      s"{${jStr(s)}:$d}" }.mkString("[", ",", "]")
    val dupPm = 1000L * (gl(totals, 0) - gl(totals, 3)) /
      math.max(gl(totals, 0), 1L)
    println(
      s"""{"docs":${gl(totals, 0)},"tokens":${gl(totals, 1)},""" +
      s""""chars":${gl(totals, 2)},"exact_dup_pm":$dupPm,""" +
      s""""pii":{"emails":${gl(totals, 4)},"ips":${gl(totals, 5)},""" +
      s""""phones":${gl(totals, 6)}},""" +
      s""""repetitive_docs":${gl(totals, 7)},""" +
      s""""low_quality_docs":${gl(totals, 8)},""" +
      s""""ngram_repetitive_docs":${gl(totals, 9)},""" +
      s""""oov":{"rare_tokens":${gl(oov, 0)},"all_tokens":${gl(oov, 1)},""" +
      s""""flagged_docs":${gl(oov, 2)}},""" +
      s""""lang_mix":$langJson,"quality_deciles":$histJson,""" +
      s""""worst_dup_sources":$worstJson,""" +
      s""""drifting_sources":$driftJson}""")
    spark.stop()
  }
}
