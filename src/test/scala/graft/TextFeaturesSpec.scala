package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{LangId, QualityScore, TextAnalysis}

/**
 * The single-pass [[QualityScore]]/[[LangId]] expressions must be
 * value-identical to the original regexp_count Column trees
 * ([[TextAnalysis.qualityScoreRef]]/[[TextAnalysis.langIdRef]]) — the
 * DuckDB oracles mirror the regex form, so equality here is what keeps
 * q17/q18/q30/q45 oracle-green after the plan-duplication fix.
 */
class TextFeaturesSpec extends SparkSpec {

  private def q(s: String): Int = QualityScore.compute(UTF8String.fromString(s))
  private def l(s: String): String = LangId.compute(UTF8String.fromString(s)).toString

  test("langId basics and tie order") {
    assert(l("") == "und")
    assert(l("xyzzy plugh") == "und")
    assert(l("the cat and the hat") == "en")
    assert(l("und der die nicht") == "de")
    assert(l("vous dans pour") == "fr")
    assert(l("como haber tener") == "es")
    // equal scores: fixed marker order en > de > fr > es
    assert(l("the und") == "en")
    assert(l("und vous") == "de")
    assert(l("vous como") == "fr")
    // optional-suffix alternatives expand both ways
    assert(l("ein ein") == "de")
    assert(l("eine eine") == "de")
    assert(l("le le") == "fr")
    assert(l("les les") == "fr")
    assert(l("un un") == "es")
    assert(l("una una") == "es")
    // "einer" is neither ein nor eine (regex \b after 'e?' fails)
    assert(l("einer einer einer") == "und")
  }

  test("langId word boundaries match Java \\b (Unicode letters block)") {
    // ASCII word chars extend the run: no match
    assert(l("the1 the_ thes _the 1the") == "und")
    // Java \b counts ANY Unicode letter as word-side: adjacency blocks
    assert(l("theé theé") == "und")
    assert(l("éthe") == "und")
    assert(l("the一the") == "und") // CJK ideograph is a letter too
    assert(l("ßcomo ßcomo") == "und") // blocked on the left by ß
    assert(l("ßcomo como") == "es")   // the bare second "como" still counts
    // a combining mark after the word blocks (it has a base char);
    // one before the word (no base) does not
    assert(l("the\u0301 the\u0301") == "und")
    assert(l("\u0301the \u0301the") == "en")
    assert(l("x\u0301the x\u0301the") == "und") // mark with base 'x' blocks
    // '_' is NOT a base char in OpenJDK's hasBaseCharacter (probed):
    // the mark has no base, so the boundary stands and "the" matches
    assert(l("_\u0301the _\u0301the") == "en")
    // OpenJDK quirk: the base-char scan steps by UTF-16 units, so a
    // supplementary base reads as an unpaired surrogate => no base
    assert(l("\ud801\udc00\u0301the \ud801\udc00\u0301the") == "en")
    // supplementary-plane letter blocks; emoji (not a letter) does not
    assert(l("the𐐀 the𐐀") == "und") // U+10400 blocks on the right
    assert(l("😀the😀 the") == "en")
    // plain punctuation delimits fine
    assert(l("the,the.the") == "en")
    // case-sensitive
    assert(l("The THE tHe") == "und")
  }

  test("langId CJK fast path") {
    assert(l("一丁") == "und")          // 2 < 3
    assert(l("一丁丂") == "zh")     // exactly 3
    assert(l("the and of is 一丁鿿") == "zh") // cjk wins over markers
    assert(l("䷿䷿䷿") == "und")    // just below the range
    assert(l("ꀀꀀꀀ") == "und")    // just above the range
    // 4-byte supplementary chars are not CJK-range and not word chars
    assert(l("😀the😀 the") == "en")
  }

  test("qualityScore basics") {
    assert(q("") == 0)
    // stopword counting matches \b semantics ("a" is a stopword)
    assert(q("a b") == 0)            // stop=2? "a" once -> stop=1; toks=2; chars=2
    assert(q("a of") == 20)          // two stopword hits
    assert(q("aof a_of ofa") == 20)  // merged runs match no stopword; mean-len bucket only
    val good = (1 to 40).map(i => s"word${i % 7}xx").mkString(" ") + " the of"
    assert(q(good) == 100) // toks>=32, chars>=200, mean in range, stop=2
  }

  test("null text scores 0 / und, matching the reference trees") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)]((1L, null), (2L, "the the"))
      .toDF("id", "text")
      .select(col("id"),
        TextAnalysis.qualityScore(col("text")).as("q_new"),
        TextAnalysis.qualityScoreRef(col("text")).as("q_ref"),
        TextAnalysis.langId(col("text")).as("l_new"),
        TextAnalysis.langIdRef(col("text")).as("l_ref"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getInt(1) == 0 && rows(0).getInt(2) == 0)
    assert(rows(0).getString(3) == "und" && rows(0).getString(4) == "und")
    assert(rows(1).getString(3) == "en")
  }

  test("deep fuzz: 50k cases against java.util.regex directly (no Spark round-trip)") {
    import java.util.regex.Pattern
    def cnt(p: Pattern, s: String): Int = {
      val m = p.matcher(s); var c = 0; while (m.find()) c += 1; c
    }
    val pTok = Pattern.compile("\\S+")
    val pStop = Pattern.compile(TextAnalysis.stopPattern)
    val pCjk = Pattern.compile(TextAnalysis.cjkPattern)
    val pLang = TextAnalysis.langMarkers.map { case (l, p) => l -> Pattern.compile(p) }
    def refQ(s: String): Int = {
      val toks = cnt(pTok, s)
      val stripped = s.replaceAll("\\s", "")
      val chars = stripped.codePointCount(0, stripped.length)
      val stop = cnt(pStop, s)
      var sc = 0
      if (toks >= 32) sc += 40
      if (chars >= 200) sc += 20
      val mf = if (toks > 0) math.floor((chars * 10).toLong.toDouble / toks.toLong.toDouble) else 0.0
      if (mf >= 30 && mf <= 90) sc += 20
      if (stop >= 2) sc += 20
      sc
    }
    def refL(s: String): String = {
      if (cnt(pCjk, s) >= 3) return "zh"
      val scores = pLang.map { case (_, p) => cnt(p, s) }
      val best = scores.max
      if (best == 0) "und" else pLang(scores.indexOf(best))._1
    }
    val rnd = new scala.util.Random(424242L)
    val frags = Seq("the", "and", "of", "is", "was", "this", "that", "with",
      "und", "der", "die", "nicht", "werden", "ein", "eine",
      "vous", "dans", "pour", "faire", "avec", "le", "les",
      "como", "haber", "tener", "para", "el", "un", "una", "a", "to", "in",
      "the1", "_the", "the_", "thee", "The", "einer", "théo", "一", "丁丂",
      "鿿", "䷿", "ꀀ", "😀", "é", "ß", "ñ", "_", "x_y", "0", "42",
      "́", "x́", "_́", "𐐀", "𐐀́")
    val seps = Seq(" ", "", "\t", "\n", "", "\f", "\r", ".", ",", "-", "", " ")
    var i = 0
    while (i < 50000) {
      val k = rnd.nextInt(25)
      val sb = new StringBuilder
      var j = 0
      while (j < k) {
        sb.append(frags(rnd.nextInt(frags.length)))
        sb.append(seps(rnd.nextInt(seps.length)))
        j += 1
      }
      val s = sb.toString
      assert(q(s) == refQ(s), s"quality divergence on case $i: ${s.map(c =>
        if (c >= 32 && c < 127) c.toString else f"\\u${c.toInt}%04x").mkString}")
      assert(l(s) == refL(s), s"langId divergence on case $i: ${s.map(c =>
        if (c >= 32 && c < 127) c.toString else f"\\u${c.toInt}%04x").mkString}")
      i += 1
    }
  }

  test("fuzz: expressions ≡ regex reference trees over adversarial corpus") {
    val rnd = new scala.util.Random(20260817L)
    val markers = Seq("the", "and", "of", "is", "was", "this", "that", "with",
      "und", "der", "die", "nicht", "werden", "ein", "eine",
      "vous", "dans", "pour", "faire", "avec", "le", "les",
      "como", "haber", "tener", "para", "el", "un", "una",
      "a", "to", "in")
    val tricky = Seq("the1", "_the", "the_", "thee", "andand", "The", "UND", "einer",
      "lesx", "unax", "théo", "øf", "ís", "一", "丁丂", "鿿",
      "䷿", "ꀀ", "😀", "é", "ß", "ñ", "0", "42", "_", "x_y",
      "á", "́", "x́", "𐐀", " ", " ")
    val seps = Seq(" ", "  ", "\t", "\n", "", "\f", "\r", ".", ",", "-", "", "", " ")
    val frags = markers ++ tricky
    val cases = (0 until 4000).map { _ =>
      val k = rnd.nextInt(40)
      val sb = new StringBuilder
      (0 until k).foreach { _ =>
        sb.append(frags(rnd.nextInt(frags.length)))
        sb.append(seps(rnd.nextInt(seps.length)))
      }
      sb.toString
    } ++ Seq("", " ", "", "the", (1 to 300).map(_ => "the").mkString(" "))

    import spark.implicits._
    val df = cases.toDF("text").select(
      col("text"),
      TextAnalysis.qualityScore(col("text")).as("q_new"),
      TextAnalysis.qualityScoreRef(col("text")).as("q_ref"),
      TextAnalysis.langId(col("text")).as("l_new"),
      TextAnalysis.langIdRef(col("text")).as("l_ref"))
    val bad = df.where(col("q_new") =!= col("q_ref") || col("l_new") =!= col("l_ref"))
      .limit(5).collect()
    assert(bad.isEmpty, s"divergence: ${bad.mkString("; ")}")
  }

  test("PII redaction: placeholders, order, counts") {
    import spark.implicits._
    val cases = Seq(
      ("mail a.b+x@sub.example.co now", "mail <EMAIL> now", 1, 0, 0),
      ("at 10.0.0.1 and 192.168.255.7.", "at <IP> and <IP>.", 0, 2, 0),
      ("call 555-123-4567 or 555 123 4567", "call <PHONE> or <PHONE>", 0, 0, 2),
      // email redacted FIRST: its dotted-digit host never reaches the IP
      // pass (though the raw-text audit count does see it — counts are
      // per-pattern over the unredacted text)
      ("x user@1.2.3.4.com y", "x <EMAIL> y", 1, 1, 0),
      // 5 dotted octets: leftmost 4 win, the 5th is left as text (Java and
      // RE2 agree: leftmost match, then continue after it)
      ("ip 1.2.3.4.5 end", "ip <IP>.5 end", 0, 1, 0),
      // word-adjacent digits break \b: no phone inside v555-123-4567x
      ("v555-123-4567x", "v555-123-4567x", 0, 0, 0),
      ("no pii here", "no pii here", 0, 0, 0),
      ("", "", 0, 0, 0))
    val (em, ip, ph) = TextAnalysis.piiCounts(col("t"))
    val got = cases.map(_._1).toDF("t")
      .select(col("t"), TextAnalysis.redactPii(col("t")).as("red"),
        em.as("em"), ip.as("ip"), ph.as("ph"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getInt(2), r.getInt(3), r.getInt(4)))
    cases.zip(got).foreach { case (want, have) =>
      assert((want._2, want._3, want._4, want._5) ===
        (have._2, have._3, have._4, have._5), s"input: '${want._1}'")
    }
  }

  test("mojibake gate: double-encoded sequences count, clean text is zero") {
    import spark.implicits._
    val cases: Seq[(String, Int)] = Seq(
      ("itâ€™s fine", 1),                    // â€™ (’ as UTF-8-in-Latin-1)
      ("â€œquotedâ€ text", 1),         // â€œ hits; the stray tail doesn't
      ("cafÃ© and seÃ±or and garÃ§on", 3),   // Ã© Ã± Ã§
      ("â€“ dash â€” dash Â« guillemets Â»", 4),
      ("﻿ byte order mark as ï»¿ text", 1), // literal mojibake BOM only
      ("it’s a café — naïve « clean » text", 0), // PROPERLY decoded: clean
      ("plain ascii only", 0),
      ("", 0))
    val got = cases.map(_._1).toDF("t")
      .select(col("t"), TextAnalysis.mojibakeCount(col("t")).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    cases.zip(got).foreach { case (want, have) =>
      assert(want._2 === have._2, s"input: '${want._1}'")
    }
  }

  test("repetition signals match an independent Scala reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val vocab = Seq("a", "b", "c", "dd", "eee", "the", "spark")
    val cases = (0 until 500).map { _ =>
      (0 until rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    } ++ Seq("", " ", "x", "x x", "x y x y x")
    def ref(s: String): (Int, Int) = {
      val w = s.trim.split("\\s+", -1).toSeq // [""] for blank, like split()
      val counts = w.groupBy(identity).map(_._2.size)
      (counts.max, w.size - counts.count(_ == 1))
    }
    val rows = cases.toDF("t")
      .select(col("t"), TextAnalysis.wordArray(col("t")).as("w"))
      .select(col("t"), TextAnalysis.topWordCount(col("w")).as("topn"),
        TextAnalysis.dupWordCount(col("w")).as("dupn"),
        TextAnalysis.topWordCountHof(col("w")).as("topn_hof"),
        TextAnalysis.dupWordCountHof(col("w")).as("dupn_hof"),
        TextAnalysis.ngramCoverStats(col("w"), 2).as("cover2"),
        TextAnalysis.ngramCoverStatsHof(col("w"), 2).as("cover2_hof"),
        TextAnalysis.ngramCoverStats(col("w"), 3).as("cover3"),
        TextAnalysis.ngramCoverStatsHof(col("w"), 3).as("cover3_hof"))
      .collect()
    val got = rows.map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    cases.foreach { s => assert(got(s) === ref(s), s"input: '$s'") }
    // the interpreted-HOF references equal the codegen'd scans
    // (WordRepScan, NgramCoverScan) row for row
    def cover(r: org.apache.spark.sql.Row, i: Int): (Int, Int) = {
      val c = r.getStruct(i)
      (c.getInt(c.fieldIndex("top")), c.getInt(c.fieldIndex("dup")))
    }
    rows.foreach { r =>
      val s = r.getString(0)
      assert((r.getInt(3), r.getInt(4)) === (r.getInt(1), r.getInt(2)), s"HOF word counts, input: '$s'")
      assert(cover(r, 6) === cover(r, 5), s"HOF 2-gram cover, input: '$s'")
      assert(cover(r, 8) === cover(r, 7), s"HOF 3-gram cover, input: '$s'")
    }
  }

  test("n-gram repetition covers match an independent Scala reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(122)
    val vocab = Seq("a", "bb", "ccc", "the", "spark", "x")
    val cases = (0 until 300).map { _ =>
      (0 until rnd.nextInt(25)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    } ++ Seq("", " ", "x", "a a", "a a a a a", "a bb a bb a bb")
    def ref(s: String, n: Int): (Int, Int) = {
      val w = s.trim.split("\\s+", -1).toSeq
      val grams =
        if (w.size < n) Seq.empty[String]
        else w.sliding(n).map(_.mkString(" ")).toSeq
      val cnt = grams.groupBy(identity).map { case (g, o) => (g, o.size) }
      val top =
        if (grams.isEmpty) 0
        else cnt.map { case (g, c) => c * g.replace(" ", "").length }.max
      val dup = grams.filter(g => cnt(g) > 1)
        .map(_.replace(" ", "").length).sum
      (top, dup)
    }
    val got = cases.distinct.toDF("t")
      .select(col("t"), TextAnalysis.wordArray(col("t")).as("w"))
      .select(col("t"),
        TextAnalysis.topNgramCharCover(col("w"), 2).as("t2"),
        TextAnalysis.topNgramCharCover(col("w"), 3).as("t3"),
        TextAnalysis.dupNgramCharCover(col("w"), 2).as("d2"),
        TextAnalysis.dupNgramCharCover(col("w"), 5).as("d5"),
        TextAnalysis.topNgramCharCoverRef(col("w"), 2).as("rt2"),
        TextAnalysis.topNgramCharCoverRef(col("w"), 3).as("rt3"),
        TextAnalysis.dupNgramCharCoverRef(col("w"), 2).as("rd2"),
        TextAnalysis.dupNgramCharCoverRef(col("w"), 5).as("rd5"))
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)),
         (r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8)))).toMap
    cases.distinct.foreach { s =>
      val want = (ref(s, 2)._1, ref(s, 3)._1, ref(s, 2)._2, ref(s, 5)._2)
      assert(got(s)._1 == want, s"sorted-run form, input: '$s'")
      assert(got(s)._2 == want, s"quadratic reference tree, input: '$s'")
    }
    intercept[IllegalArgumentException](
      TextAnalysis.wordNgrams(col("w"), 1))
  }

  test("badWordHits: multiplicity, lowercase match, token-exact, gate rule, validation") {
    import spark.implicits._
    val bl = Seq("slow", "spam")
    val cases = Seq(
      ("fast and slow and SLOW and Slow", 3L),   // case-folded, multiplicity
      ("slow, slow! slowest", 0L),               // punctuation-glued / prefix ≠ token
      ("spam slow spam", 3L),
      ("", 0L), ("   ", 0L),                     // blank → [""], never matches
      ("clean text only", 0L))
    val got = cases.map(_._1).toDF("t")
      .select(col("t"), TextAnalysis.badWordHits(col("t"), bl).as("h"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    cases.foreach { case (t, want) => assert(got(t) == want, s"input: '$t'") }
    // NULL text = blank text: zero hits, and the gate KEEPS the doc
    // (size(filter(NULL)) would silently drop it)
    val nulls = Seq(Option.empty[String]).toDF("t")
      .select(TextAnalysis.badWordHits(col("t"), bl).as("h"))
    assert(nulls.collect().head.getInt(0) == 0)
    // gate: strict rule drops any hit; maxHits admits up to the cap
    val docs = cases.map(_._1).toDF("text")
    assert(TextAnalysis.badWordsGate(docs, "text", bl).count() == 4)
    assert(TextAnalysis.badWordsGate(docs, "text", bl, maxHits = 3).count() == 6)
    // validation: empty list, mixed-case term (would silently never
    // match), duplicate term, negative cap
    intercept[IllegalArgumentException](
      TextAnalysis.badWordHits(col("t"), Seq.empty))
    intercept[IllegalArgumentException](
      TextAnalysis.badWordHits(col("t"), Seq("Slow")))
    intercept[IllegalArgumentException](
      TextAnalysis.badWordHits(col("t"), Seq("slow", "slow")))
    intercept[IllegalArgumentException](
      TextAnalysis.badWordsGate(docs, "text", bl, maxHits = -1))
  }

  test("rareTokenStats: multiplicity, self-lexicon, missing-term = rare, blank doc") {
    import spark.implicits._
    // tf over the corpus: a=3, b=2, c=1, d=2, ""=1 (the blank doc)
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "b d d"), (4L, ""))
      .toDF("doc_id", "text")
    val lex = TextAnalysis.termFrequencies(docs, "text")
    assert(lex.as[(String, Long)].collect().toMap ==
      Map("a" -> 3L, "b" -> 2L, "c" -> 1L, "d" -> 2L, "" -> 1L))
    // minTf=2: rare iff tf < 2 → c and "" are rare
    val got = TextAnalysis.rareTokenStats(docs, "doc_id", "text", lex, 2L)
      .select($"doc_id", $"n_toks", $"rare_toks", $"rare_q")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 0L, 0L), (2L, 2L, 1L, 500L),
      (3L, 3L, 0L, 0L), (4L, 1L, 1L, 1000L)), got.toString)
    // a term ABSENT from an external lexicon counts rare (null tf),
    // with multiplicity: doc3's two d's both count
    val external = lex.where($"term" =!= "d")
    val got3 = TextAnalysis.rareTokenStats(docs, "doc_id", "text", external, 2L)
      .where($"doc_id" === 3L).select($"n_toks", $"rare_toks", $"rare_q")
      .as[(Long, Long, Long)].head()
    assert(got3 == ((3L, 2L, 666L)), got3.toString)
    // NULL text tokenizes like blank ([""]) — the doc must NOT vanish
    // from the output (one row per doc, in stats AND in the probe)
    val withNull = Seq((7L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val ns = TextAnalysis.rareTokenStats(withNull, "doc_id", "text", lex, 2L)
      .select($"doc_id", $"n_toks", $"rare_toks").as[(Long, Long, Long)].collect()
    assert(ns.toSeq == Seq((7L, 1L, 1L)), ns.toSeq.toString)
    val np = graft.operators.RequestResponse.rareTokenProbe(
        withNull, lex, "doc_id", "text", 2L)
      .select($"request_id", $"n_toks", $"rare_toks")
      .as[(Long, Long, Long)].collect()
    assert(np.toSeq == Seq((7L, 1L, 1L)), np.toSeq.toString)
  }

  test("lexiconIncrement: chunked arrival == one batch build; probe == batch stats") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select($"doc_id", $"text")
    val c1 = docs.where($"doc_id" % 2 === 0)
    val c2 = docs.where($"doc_id" % 2 === 1)
    val chunked = TextAnalysis.lexiconIncrement(
      TextAnalysis.termFrequencies(c1, "text"), c2, "text")
    val batch = TextAnalysis.termFrequencies(docs, "text")
    assert(chunked.exceptAll(batch).isEmpty && batch.exceptAll(chunked).isEmpty)
    // the broadcast probe and the shuffled batch operator agree on the
    // same requests/lexicon (rare = absent-or-below-minTf, multiplicity)
    val reqs = docs.where($"doc_id" < 8)
    val probe = graft.operators.RequestResponse.rareTokenProbe(
        reqs, batch, "doc_id", "text", 3L)
      .select($"request_id".as("doc_id"), $"n_toks", $"rare_toks", $"rare_q")
    val stats = TextAnalysis.rareTokenStats(reqs, "doc_id", "text", batch, 3L)
      .select($"doc_id", $"n_toks", $"rare_toks", $"rare_q")
    assert(probe.exceptAll(stats).isEmpty && stats.exceptAll(probe).isEmpty)
    assert(stats.count() == 8)
  }

  test("dupRateByGroup: layout-invariant fingerprints, integer rate, verdict") {
    import spark.implicits._
    // g1: 4 docs, 2 distinct fingerprints ("X"≡"x!" after normalization)
    val docs = Seq((1L, "g1", "X"), (2L, "g1", "x!"), (3L, "g1", "Y"),
      (4L, "g1", "Y"), (5L, "g2", "p"), (6L, "g2", "q"))
      .toDF("doc_id", "source", "text")
    val got = graft.operators.Dedup
      .dupRateByGroup(docs, "doc_id", "text", "source", maxDupQ = 100)
      .select($"source", $"n_docs", $"n_distinct", $"dup_q", $"blocked")
      .as[(String, Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set(("g1", 4L, 2L, 500L, true), ("g2", 2L, 2L, 0L, false)),
      got.toString)
    // incremental maintenance: two chunks through the persisted
    // (group, fp, n) table ≡ the one-pass verdicts
    val Seq(c1, c2) = Seq(docs.where($"doc_id" <= 3), docs.where($"doc_id" > 3))
    val (h1, _) = graft.operators.Dedup.dupRateIncrement(
      spark.emptyDataFrame.select(lit("").as("source"), lit("").as("fp"),
        lit(0L).as("n")).where(lit(false)),
      c1, "text", "source", 100)
    val (_, rates) = graft.operators.Dedup.dupRateIncrement(
      h1, c2, "text", "source", 100)
    val inc = rates
      .select($"source", $"n_docs", $"n_distinct", $"dup_q", $"blocked")
      .as[(String, Long, Long, Long, Boolean)].collect().toSet
    assert(inc == got, s"incremental $inc != batch $got")
  }

  test("mirrorHostPairs: containment pairs, boilerplate cap, layout invariance, validation") {
    import spark.implicits._
    val ts = (1 to 6).map(i => s"doc number $i content")
    // B re-renders A's six docs (upper + punctuation) — the normalized
    // fingerprint must still pair them; chrome sits on 3 hosts (== cap,
    // kept); host E is null-text only and must vanish
    val docs = (
      ts.map(("A", _)) :+ (("A", "shared chrome"))) ++ (
      ts.map(t => ("B", t.toUpperCase + "!!!"))) ++ (
      Seq("C" -> ts(0), "C" -> ts(1), "C" -> ts(2),
        "C" -> "unique c one", "C" -> "unique c two", "C" -> "shared chrome",
        "D" -> "ddd one", "D" -> "ddd two", "D" -> "shared chrome",
        "E" -> null.asInstanceOf[String]))
    val df = docs.toDF("host", "text")
    def run(d: org.apache.spark.sql.DataFrame) = graft.operators.Dedup
      .mirrorHostPairs(d, "host", "text", maxFanout = 3, minSharePm = 400)
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    val got = run(df)
    // A={t1..t6, chrome} n=7; B={t1..t6} n=6; C={t1..t3, u1, u2, chrome}
    // n=6; D={d1, d2, chrome} n=3. Sub-threshold chrome-only pairs
    // (A,D)/(C,D) at 333 pm are filtered; E appears nowhere.
    assert(got == Set(
      ("A", "B", 6L, 7L, 6L, 1000L),   // full containment of the mirror
      ("A", "C", 4L, 7L, 6L, 666L),
      ("B", "C", 3L, 6L, 6L, 500L)), got.toString)
    // a tighter cap (2) drops chrome AND the 3-host t1..t3 fingerprints:
    // only (A,B) survives, on t4..t6
    val tight = graft.operators.Dedup
      .mirrorHostPairs(df, "host", "text", maxFanout = 2, minSharePm = 400)
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(tight == Set(("A", "B", 3L, 7L, 6L, 500L)), tight.toString)
    // partitioning invariance
    assert(run(df.orderBy(rand(7)).repartition(9)) == got)
    // persisted index: chunked builds serve the same pairs, and — the
    // set-fold property — a REPLAYED chunk is absorbed (no exactly-once
    // guard needed, unlike the count-shaped increments)
    val empty = Seq.empty[(String, String)].toDF("g", "fp")
    val Seq(k1, k2) = Seq(df.limit(9), df.exceptAll(df.limit(9)))
    val idx = graft.operators.Dedup.mirrorIncrement(
      graft.operators.Dedup.mirrorIncrement(
        graft.operators.Dedup.mirrorIncrement(empty, k1, "host", "text"),
        k2, "host", "text"),
      k1, "host", "text") // k1 re-delivered
    val served = graft.operators.Dedup.mirrorPairsFromIndex(idx, 3, 400)
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(served == got, s"index-served $served != direct $got")
    intercept[IllegalArgumentException](graft.operators.Dedup
      .mirrorIncrement(empty.withColumnRenamed("fp", "f"), df, "host", "text"))
    intercept[IllegalArgumentException](graft.operators.Dedup
      .mirrorHostPairs(df, "host", "text", maxFanout = 1, minSharePm = 400))
    intercept[IllegalArgumentException](graft.operators.Dedup
      .mirrorHostPairs(df, "host", "text", maxFanout = 3, minSharePm = 0))
  }

  test("hashedTfVector: ≡ independent Scala md5 reference, parity, determinism, null text") {
    import spark.implicits._
    val dim = 32
    def ref(text: String): Seq[Long] = {
      val v = Array.fill(dim)(0L)
      text.trim.split("\\s+", -1).foreach { t =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
        val h = java.lang.Long.parseLong(
          md.take(6).map("%02x".format(_)).mkString, 16)
        v((h % dim).toInt) += (if (((h >> 20) & 1L) == 1L) 1L else -1L)
      }
      v.toSeq
    }
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select($"doc_id", $"text").where($"doc_id" < 20).cache()
    val got = TextAnalysis.hashedTfVector(docs, "doc_id", "text", dim)
      .as[(Long, Seq[Long])].collect().toMap
    val texts = docs.as[(Long, String)].collect().toMap
    assert(got.size == 20)
    texts.foreach { case (id, t) =>
      assert(got(id) == ref(Option(t).getOrElse("")),
        s"doc $id diverges from the reference implementation")
      // each token contributes ±1: total parity == token-count parity
      val n = Option(t).getOrElse("").trim.split("\\s+", -1).length
      assert(((got(id).sum - n) % 2 + 2) % 2 == 0, s"parity broken for $id")
    }
    // null text = blank text: one empty token, a well-defined vector
    val nulled = TextAnalysis.hashedTfVector(
      Seq((1L, null: String), (2L, "")).toDF("doc_id", "text"),
      "doc_id", "text", dim).as[(Long, Seq[Long])].collect().toMap
    assert(nulled(1L) == nulled(2L) && nulled(1L).map(math.abs).sum == 1L)
    // partitioning/input order cannot change a row-local vector
    val re = TextAnalysis.hashedTfVector(
      docs.orderBy(rand(5)).repartition(7), "doc_id", "text", dim)
      .as[(Long, Seq[Long])].collect().toMap
    assert(re == got)
    // codegen'd expression ≡ interpreted HOF twin — on real docs AND
    // adversarial whitespace (the tokenizer-parity surface)
    val adversarial = Seq(
      (900L, "  leading"), (901L, "trailing   "), (902L, " \t\n mixed  ws "),
      (903L, ""), (904L, "   "), (905L, "one"), (906L, "a b c"),
      (907L, "tab\tsep\ttoks"), (908L, "nl\nsep\ntoks"), (909L, "ÜñíçÖdé tökens 漢字"))
      .toDF("doc_id", "text")
    for (df <- Seq(docs, adversarial)) {
      val expr = TextAnalysis.hashedTfVector(df, "doc_id", "text", dim)
        .as[(Long, Seq[Long])].collect().toMap
      val hof = TextAnalysis.hashedTfVectorHof(df, "doc_id", "text", dim)
        .as[(Long, Seq[Long])].collect().toMap
      assert(expr == hof, "expression diverges from the HOF semantic oracle")
    }
  }

  test("distribution drift: identity zero, disjoint ~1e6, grouped ≡ pairwise, partition-invariant") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select($"doc_id", $"text").cache()
    val lexAll = TextAnalysis.termFrequencies(docs, "text").cache()
    // identity: a distribution is at distance 0 from itself
    val self = TextAnalysis.distributionDrift(lexAll, lexAll)
      .as[(Long, Long, Long)].head()
    assert(self._1 == self._2 && self._3 == 0L, self.toString)
    // disjoint vocabularies: exactly-dividing totals → tv exactly 1e6
    val a = Seq(("x", 3L), ("y", 1L)).toDF("term", "tf")
    val b = Seq(("u", 2L), ("v", 2L), ("w", 4L)).toDF("term", "tf")
    val dj = TextAnalysis.distributionDrift(a, b).as[(Long, Long, Long)].head()
    assert(dj == ((2L, 3L, 1000000L)), dj.toString)
    // grouped form ≡ pairwise operator, group by group (cross-validates
    // the arithmetic absent-mass reconstruction against the full outer
    // join), and the per-group stats are layout-invariant
    val grouped = docs.withColumn("epoch", $"doc_id" % 4)
    val got = TextAnalysis.epochDrift(grouped, "epoch", "text")
      .select($"epoch", $"n_terms", $"n_toks", $"tv_q")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.size == 4 && got.exists(_._4 > 0L), got.toString)
    got.foreach { case (ep, nTerms, nToks, tvq) =>
      val lexG = TextAnalysis.termFrequencies(
        docs.where($"doc_id" % 4 === ep), "text")
      val pw = TextAnalysis.distributionDrift(lexAll, lexG)
        .as[(Long, Long, Long)].head()
      assert(pw._2 == nTerms && pw._3 == tvq,
        s"epoch $ep: grouped ($nTerms, $tvq) != pairwise $pw")
      assert(nToks > nTerms, s"epoch $ep token/term counts inverted")
    }
    val re = TextAnalysis.epochDrift(grouped.repartition(13, $"doc_id"),
      "epoch", "text")
      .select($"epoch", $"n_terms", $"n_toks", $"tv_q")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(re == got, "drift not partition-invariant")
    // internal-name clash is rejected, not silently mangled
    intercept[IllegalArgumentException] {
      TextAnalysis.epochDrift(docs.withColumn("term", lit(1)), "term", "text")
    }
  }
}
