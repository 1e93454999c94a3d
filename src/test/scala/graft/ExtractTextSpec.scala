package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HtmlText

class ExtractTextSpec extends AnyFunSuite {

  private def x(html: String): String = HtmlText.extractString(html)

  test("strips simple tags") {
    assert(x("<p>hello <b>world</b></p>") == "hello world")
  }
  test("drops script/style/noscript content") {
    assert(x("a<script>var x='<p>no</p>';</script>b") == "a b")
    assert(x("a<style>p{}</style>b") == "a b")
    assert(x("a<NOSCRIPT>no</noscript>b") == "a b")
    assert(x("a<scriptx>keep</scriptx>b") == "a keep b")
  }
  test("drops comments and doctype") {
    assert(x("<!DOCTYPE html>a<!-- zap -->b") == "a b")
    assert(x("a<!-- unclosed") == "a")
  }
  test("entities decode; unknown kept literal") {
    assert(x("a &amp; b &lt;c&gt; &quot;d&apos; &#65;&#x42;") == "a & b <c> \"d' AB")
    assert(x("price &euro;5 & more") == "price &euro;5 & more")
    assert(x("x&nbsp;y") == "x y")
  }
  test("numeric whitespace entities collapse like literal whitespace") {
    assert(x("a&#9;b") == "a b")     // tab
    assert(x("a&#10;b") == "a b")    // newline
    assert(x("a&#13;&#10;b") == "a b")
    assert(x("a&#32;&#32;b") == "a b")
    assert(x("a&#160;b") == "a b")   // NBSP via numeric ref
    assert(x("a&#xA0;b") == "a b")
    assert(x("&#9;a&#10;") == "a")   // trimmed
    // U+2028 LS is NOT in the spec whitespace class: literal content
    assert(x("a&#8232;b") == "a b")
  }
  test("whitespace collapses; trimmed") {
    assert(x("  a \n\t b  ") == "a b")
    assert(x("<div>\n  <p> a </p>\n</div>") == "a")
  }
  test("malformed: unclosed tag consumes rest; literal <") {
    assert(x("a <div class=unterminated") == "a")
    assert(x("1 < 2") == "1 < 2")
  }
  test("utf8 binary round trip") {
    assert(HtmlText.extract("<p>héllo wörld — ✓</p>".getBytes(UTF_8)) == "héllo wörld — ✓")
  }
  test("byte-level fast path equals character-level reference implementation") {
    val frags = Array("<p>", "</p>", "word", "&amp;", " ", "&#65;", "x", "\u00e9",
      "<b>x</b>", "<!--c-->", "<script>s</script>", "<", ">", "&", "\n", "\t",
      "&nbsp;", "&#x1F600;", "&#xD800;", "&bogus;", "&#;", "<style>p{}</style>",
      "<NOSCRIPT>n</noscript>", "<div class=x>", "—", "&#8212;", "  ",
      "&#9;", "&#10;", "&#160;", "&#xA0;", "&#8232;", " ",
      "<scripté>", "<styleé>", "</SCRIPT>", "<script><script>",
      "</script >", "<\tp>", "< p>", "&#x110000;", "&#1114112;", "\u000b",
      "\r", "\f", "<![CDATA[", "]]>", "&#38;#38;", "　",
      "</", "<>", "=\"", "&#x", "&am", "<a href=\"x>y\">", "<br/>", "&AMP;",
      "&#X41;", "&#0;", "&#x0;", "<!---->", "<!--", "-->", "<!", "<?php ?>",
      "<?", "?>", "<style", "<script", "&quot", ";", "&;", "&#xfffd;",
      "\ufffd", "a=b", "'", "<p/>", "<p\n>", "&lt;script&gt;", "&#60;")
    var caseI = 0
    while (caseI < 5000) {
      val len = (graft.sources.PageGen.rnd(11L, 0, caseI) >>> 1).toInt % 40
      val s = (0 until len).map { i =>
        frags(((graft.sources.PageGen.rnd(11L, 1, caseI, i) >>> 1) % frags.length).toInt)
      }.mkString
      val fast = HtmlText.extractString(s)
      val ref = HtmlText.extractStringReference(s)
      assert(fast == ref, s"byte/char divergence on: $s\n fast=$fast\n ref =$ref")
      caseI += 1
    }
  }

  test("byte stability: same bytes => same string over random fragment soup") {
    val frags = Array("<p>", "</p>", "word", "&amp;", " ", "&#65;", "x",
      "<b>x</b>", "<!--c-->", "<script>s</script>", "é", "<", ">", "&", "\n")
    var caseI = 0
    while (caseI < 2000) {
      val len = (graft.sources.PageGen.rnd(7L, 0, caseI) >>> 1).toInt % 30
      val s = (0 until len).map { i =>
        frags(((graft.sources.PageGen.rnd(7L, 1, caseI, i) >>> 1) % frags.length).toInt)
      }.mkString
      val b = s.getBytes(UTF_8)
      val t1 = HtmlText.extract(b)
      val t2 = HtmlText.extract(b.clone())
      assert(t1 == t2, s"instability on: $s")
      assert(!t1.exists(c => c == '\n' || c == '\t'), s"raw whitespace in: $s -> $t1")
      caseI += 1
    }
  }
}
