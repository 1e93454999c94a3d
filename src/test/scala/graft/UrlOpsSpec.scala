package graft

import org.apache.spark.sql.functions._

import graft.operators.{LinkGraph, UrlOps}

/** [[UrlOps.canonicalizeUrl]] edge cases — the q62 oracle mirrors the
  * same steps in DuckDB, so this spec pins the per-step semantics the
  * SQL was written against. */
class UrlOpsSpec extends SparkSpec {

  private def canon(urls: String*): Seq[Option[String]] = {
    import spark.implicits._
    val got = urls.toDF("u")
      .select(col("u"), UrlOps.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    urls.map(got)
  }

  test("scheme/host lowercased, default port stripped, empty path -> /") {
    assert(canon(
      "HTTP://WWW.Example.COM",
      "http://www.example.com:80",
      "https://Host.Org:443/a",
      "https://Host.Org:8443/a", // non-default port kept
      "ftp://Host:80/x") ==       // :80 is only default for http
      Seq(Some("http://www.example.com/"),
        Some("http://www.example.com/"),
        Some("https://host.org/a"),
        Some("https://host.org:8443/a"),
        Some("ftp://host:80/x")))
  }

  test("query sorted bytewise, empty params dropped, fragment dropped") {
    assert(canon(
      "http://h/p?b=2&a=1",
      "http://h/p?a=1&b=2",
      "http://h/p?b=2&&a=1&",
      "http://h/p?x=1#frag?y=2&z=3", // '?' in fragment is not a query
      "http://h/p#only-frag",
      "http://h/p?") ==
      Seq(Some("http://h/p?a=1&b=2"),
        Some("http://h/p?a=1&b=2"),
        Some("http://h/p?a=1&b=2"),
        Some("http://h/p?x=1"),
        Some("http://h/p"),
        Some("http://h/p")))
  }

  test("path case and bytes preserved; invalid inputs -> null") {
    assert(canon(
      "http://h/CaseKept/P?Z=1",
      "not a url",
      "h//no-scheme",
      "http://") == // empty authority
      Seq(Some("http://h/CaseKept/P?Z=1"),
        None, None, None))
  }

  test("latestSnapshot: newest capture per canonical url, spellings collapse") {
    import spark.implicits._
    val log = Seq(
      // three captures of the SAME fetch under different raw spellings
      ("HTTP://Host:80/p?b=2&a=1", 100L, "old"),
      ("http://host/p?a=1&b=2", 300L, "newest"),
      ("http://HOST/p?a=1&&b=2&", 200L, "mid"),
      // a different page, single capture
      ("http://host/q", 50L, "only"),
      // unfetchable rows must be dropped, not grouped under NULL
      ("not a url", 999L, "junk"))
      .toDF("url", "fetch_ts", "body")
    val got = UrlOps.latestSnapshot(log, "url", "fetch_ts")
      .orderBy("canon_url")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      ("http://host/p?a=1&b=2", "http://host/p?a=1&b=2", 300L, "newest"),
      ("http://host/q", "http://host/q", 50L, "only")))
  }

  test("latestSnapshot: ts ties break bytewise on remaining columns in order") {
    import spark.implicits._
    val log = Seq(
      ("http://h/p", 7L, "a", 9L),
      ("http://h/p", 7L, "b", 1L), // wins: same ts, 'b' > 'a' bytewise
      ("http://h/p", 7L, "b", 0L))
      .toDF("url", "fetch_ts", "tag", "k")
    val got = UrlOps.latestSnapshot(log, "url", "fetch_ts").collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getString(3), r.getLong(4)) == ("b", 1L),
      s"tie-break picked ${r.mkString(",")}")
  }

  test("snapshotIncrement: chunked == batch under any split; replays absorbed") {
    import spark.implicits._
    val log = Seq(
      ("http://h/a", 10L, "a-old"), ("HTTP://h:80/a", 30L, "a-new"),
      ("http://h/b", 20L, "b-only"),
      ("http://h/c", 5L, "c-old"), ("http://h/c", 6L, "c-new"))
      .toDF("url", "fetch_ts", "body")
    val batch = UrlOps.latestSnapshot(log, "url", "fetch_ts")
      .collect().map(_.toSeq).toSet
    // non-chronological split + a replay of a chunk-1 row in chunk 2
    val c1 = log.where($"fetch_ts".isin(30L, 5L))
    val c2 = log.where($"fetch_ts".isin(10L, 20L, 6L) || $"fetch_ts" === 30L)
    val folded = UrlOps.snapshotIncrement(
      UrlOps.latestSnapshot(c1, "url", "fetch_ts"), c2, "url", "fetch_ts")
      .collect().map(_.toSeq).toSet
    assert(folded == batch, s"folded=$folded batch=$batch")
    // idempotence outright: folding the WHOLE log into its own snapshot
    // is a no-op (max(x, x) = x)
    val again = UrlOps.snapshotIncrement(
      UrlOps.latestSnapshot(log, "url", "fetch_ts"), log, "url", "fetch_ts")
      .collect().map(_.toSeq).toSet
    assert(again == batch)
  }

  test("serving read of a gate-mode re-crawl log through the exactly-once sink") {
    import spark.implicits._
    // the app's gate modes append one row per ARRIVAL per epoch; the
    // snapshot is the serving-side read over the sink's committed epochs
    val dir = java.nio.file.Files.createTempDirectory("snap").toString
    val sink = new graft.streaming.ExactlyOnceSink(dir)
    sink.write(Seq(("http://h/a", 10L, "v1"), ("http://h/b", 11L, "v1"))
      .toDF("url", "fetch_ts", "body"), 0L)
    sink.write(Seq(("HTTP://h:80/a", 20L, "v2")) // re-crawl, new spelling
      .toDF("url", "fetch_ts", "body"), 1L)
    sink.write(Seq(("http://h/a", 99L, "EVIL")) // re-delivered epoch: no-op
      .toDF("url", "fetch_ts", "body"), 0L)
    val snap = UrlOps.latestSnapshot(sink.read(spark), "url", "fetch_ts")
      .orderBy("canon_url")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getString(3)))
    assert(snap.toSeq == Seq(
      ("http://h/a", 20L, "v2"), ("http://h/b", 11L, "v1")))
  }

  test("latestSnapshot: partial aggregation before the exchange, no window sort") {
    import spark.implicits._
    val log = Seq(("http://h/p", 1L, "x")).toDF("url", "fetch_ts", "body")
    val p = UrlOps.latestSnapshot(log, "url", "fetch_ts")
      .queryExecution.executedPlan.toString
    // max(struct) keeps its map-side combine: a partial+final aggregate
    // pair around ONE exchange — never a row_number window (full shuffle
    // + per-partition sort of every capture)
    val aggs = "HashAggregate|SortAggregate|ObjectHashAggregate".r
      .findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregate pair:\n$p")
    assert(!p.contains("Window"), s"snapshot must not plan a window:\n$p")
  }
  test("robotsVerdicts: longest match wins, allow wins ties, defaults allow") {
    import spark.implicits._
    val rules = Seq(
      // h1: family disallow + longer allow carve-out
      ("h1", "/a", false), ("h1", "/a/keep", true),
      // h2: equal-length tie -> allow (least restrictive) wins
      ("h2", "/t", false), ("h2", "/t", true),
      // h3: universal disallow (empty prefix matches everything)
      ("h3", "", false),
      ("h3", "/ok", true)
    ).toDF("host", "prefix", "allow")
    val pages = Seq(
      ("h1", "/a/x"),      // family disallow
      ("h1", "/a/keep/1"), // carve-out allows
      ("h1", "/b"),        // no matching rule -> allowed
      ("h2", "/t/q"),      // tie -> allowed
      ("h3", "/zzz"),      // universal disallow
      ("h3", "/ok/2"),     // longer allow beats universal
      ("h9", "/anything")  // host with no rules -> allowed
    ).toDF("host", "path")
    val got = UrlOps.robotsVerdicts(pages, "host", "path", rules)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(got === Map(
      ("h1", "/a/x") -> false, ("h1", "/a/keep/1") -> true,
      ("h1", "/b") -> true, ("h2", "/t/q") -> true,
      ("h3", "/zzz") -> false, ("h3", "/ok/2") -> true,
      ("h9", "/anything") -> true))
    // verdicts are per DISTINCT (host, path): duplicate page rows collapse
    val dup = UrlOps.robotsVerdicts(
      pages.unionByName(pages), "host", "path", rules)
    assert(dup.count() === pages.count())
  }

  test("robotsVerdicts: schema and reserved-column validation fail fast") {
    import spark.implicits._
    val pages = Seq(("h", "/p")).toDF("host", "path")
    val badRules = Seq(("h", true, "/p")).toDF("host", "allow", "prefix")
    intercept[IllegalArgumentException] {
      UrlOps.robotsVerdicts(pages, "host", "path", badRules)
    }
    val clash = Seq(("h", "/p", "x")).toDF("host", "path", "__graft_prefix")
    intercept[IllegalArgumentException] {
      UrlOps.robotsVerdicts(clash, "host", "path",
        Seq(("h", "/p", true)).toDF("host", "prefix", "allow"))
    }
  }

  test("robotsVerdicts: shuffled equi-join + partial struct-max, no window") {
    import spark.implicits._
    val rules = Seq(("h1", "/a", false)).toDF("host", "prefix", "allow")
    val pages = Seq(("h1", "/a/x")).toDF("host", "path")
    val p = UrlOps.robotsVerdicts(pages, "host", "path", rules)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"rule resolution must not plan a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked in:\n$p")
  }

  test("surtKey: host reversed, www/port/scheme dropped, query sorted") {
    import spark.implicits._
    def surt(urls: String*): Seq[Option[String]] = {
      val got = urls.toDF("u")
        .select(col("u"), UrlOps.surtKey(col("u")).as("k"))
        .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
      urls.map(got)
    }
    assert(surt(
      "http://www.sub.Example.COM:8080/p?b=2&a=1",
      "HTTPS://Example.com",            // scheme dropped: https ≡ http key
      "http://example.com:80",          // ANY port dropped for the key
      "http://www.example.com/a#frag",
      "http://wwwx.example.com/a",      // only a 'www.' LABEL is dropped
      "not a url") ==
      Seq(Some("com,example,sub)/p?a=1&b=2"),
        Some("com,example)/"),
        Some("com,example)/"),
        Some("com,example)/a"),
        Some("com,example,wwwx)/a"),
        None))
    // domain-contiguity: every page under example.com — any subdomain,
    // either scheme — shares the 'com,example' prefix and sorts together
    val keys = surt("http://a.example.com/x", "https://example.com/y",
      "http://www.b.example.com/z").flatten
    assert(keys.forall(_.startsWith("com,example")))
  }

  test("crawlDelta: all four statuses, null-safe fingerprint comparison") {
    import spark.implicits._
    val prev = Seq(
      ("u1", Some("a")),           // unchanged
      ("u2", Some("b")),           // changed (b -> b2)
      ("u3", Some("c")),           // gone
      ("u4", Option.empty[String]),// unchanged with NULL fp both sides
      ("u5", Some("e"))            // changed: fp went NULL
    ).toDF("url", "fp")
    val curr = Seq(
      ("u1", Some("a")),
      ("u2", Some("b2")),
      ("u4", Option.empty[String]),
      ("u5", Option.empty[String]),
      ("u6", Some("f"))            // added
    ).toDF("url", "fp")
    val got = UrlOps.crawlDelta(prev, curr, "url", "fp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("u1" -> "unchanged", "u2" -> "changed", "u3" -> "gone",
      "u4" -> "unchanged", "u5" -> "changed", "u6" -> "added"))
  }

  test("crawlDelta composes with snapshotIncrement: accumulated vs independent epochs") {
    import spark.implicits._
    def fpTable(snap: org.apache.spark.sql.DataFrame) =
      snap.select($"canon_url".as("url"), md5($"content".cast("binary")).as("fp"))
    val e1 = Seq(
      ("http://a/u1", 1L, "A"),
      ("http://a/u2", 1L, "B"), ("http://a/u2", 2L, "B2"), // re-crawl in-epoch
      ("http://a/u3", 1L, "C")
    ).toDF("url", "ts", "content")
    val e2 = Seq(
      ("http://a/u1", 3L, "A"),   // re-fetched, same bytes
      ("http://a/u2", 3L, "B3"),  // re-fetched, new bytes
      ("http://a/u4", 3L, "D")    // first seen; u3 NOT re-fetched
    ).toDF("url", "ts", "content")
    val snap1 = UrlOps.latestSnapshot(e1, "url", "ts")
    // accumulated snapshots (the snapshotIncrement serving table) carry
    // un-re-fetched urls forward: epoch-over-epoch delta on them can
    // read added/changed/unchanged but NEVER 'gone' — a crawl table
    // doesn't forget. u3 reads unchanged (carried capture).
    val snap2 = UrlOps.snapshotIncrement(snap1, e2, "url", "ts")
    val acc = UrlOps.crawlDelta(fpTable(snap1), fpTable(snap2), "url", "fp")
      .collect().map(r => r.getString(0).split("/").last -> r.getString(1)).toMap
    assert(acc == Map("u1" -> "unchanged", "u2" -> "changed",
      "u3" -> "unchanged", "u4" -> "added"))
    // independent per-epoch snapshots are the 'gone'-capable comparison
    val ind = UrlOps.crawlDelta(
        fpTable(snap1), fpTable(UrlOps.latestSnapshot(e2, "url", "ts")),
        "url", "fp")
      .collect().map(r => r.getString(0).split("/").last -> r.getString(1)).toMap
    assert(ind("u3") == "gone" && ind("u2") == "changed" && ind("u4") == "added")
  }

  test("crawlDelta plan: one full-outer hash equi-join, neither side broadcast") {
    import spark.implicits._
    val prev = Seq.tabulate(300)(i => (s"u$i", s"f$i")).toDF("url", "fp")
    val curr = Seq.tabulate(300)(i => (s"u${i + 100}", s"f$i")).toDF("url", "fp")
    val out = UrlOps.crawlDelta(prev, curr, "url", "fp")
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), s"not a full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"cartesian leaked in:\n$p")
    // both crawls are corpus-scale: the join must be a shuffled equi-join
    // even when one side is small enough to broadcast in a test
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a shuffled equi-join:\n$p")
    assert(out.where(col("status") === "added").count() == 100)
    assert(out.where(col("status") === "gone").count() == 100)
  }

  test("surt index read path: StartsWith prefix lookup pushed to the parquet scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("surtidx").toString + "/idx"
    val urls = (0 until 400).map(i =>
      s"http://h${i % 40}.tld${i % 7}.com/p/$i")
    urls.toDF("url")
      .select(UrlOps.surtKey(col("url")).as("surt"), col("url"))
      .repartitionByRange(4, col("surt"))
      .sortWithinPartitions("surt")
      .write.parquet(dir)
    val lookup = spark.read.parquet(dir).where(col("surt").startsWith("com,tld3,"))
    val p = lookup.queryExecution.executedPlan.toString
    assert(p.contains("StringStartsWith"),
      s"prefix filter not pushed to the scan:\n$p")
    // and the lookup is exactly the brute-force filter over all urls
    val want = urls.filter(u => u.contains(".tld3.com/")).toSet
    assert(lookup.select("url").collect().map(_.getString(0)).toSet == want)
  }

  test("changeFrequency: consecutive-change counts, null-safe compare, tie order, invariance") {
    import spark.implicits._
    // u1: a-a-b-b-a => 2 changes of 4 gaps (500pm); u2: single crawl =>
    // 0pm; u3: null fp flips count as changes both ways (a-NULL-a => 2);
    // u4: same ts twice, tiebreak decides order deterministically (v1 at
    // tie 1, v2 at tie 2 => exactly 1 change)
    val arrivals = Seq(
      ("u1", 1L, 1L, "a"), ("u1", 2L, 2L, "a"), ("u1", 3L, 3L, "b"),
      ("u1", 4L, 4L, "b"), ("u1", 5L, 5L, "a"),
      ("u2", 1L, 6L, "x"),
      ("u3", 1L, 7L, "a"), ("u3", 2L, 8L, null), ("u3", 3L, 9L, "a"),
      ("u4", 1L, 2L, "v2"), ("u4", 1L, 1L, "v1"))
      .toDF("url", "ts", "tie", "fp")
    def run(d: org.apache.spark.sql.DataFrame) = UrlOps
      .changeFrequency(d, "url", "ts", "fp", "tie")
      .as[(String, Long, Long, Long)].collect().toSet
    val got = run(arrivals)
    assert(got == Set(("u1", 5L, 2L, 500L), ("u2", 1L, 0L, 0L),
      ("u3", 3L, 2L, 1000L), ("u4", 2L, 1L, 1000L)), got.toString)
    assert(run(arrivals.orderBy(rand(4)).repartition(7)) == got)
    intercept[IllegalArgumentException](UrlOps.changeFrequency(
      arrivals.withColumn("__rn", lit(1)), "url", "ts", "fp", "tie"))
  }

  test("UrlScan rewrites ≡ the regex-chain references on adversarial urls") {
    import spark.implicits._
    val base = Seq(
      "http://HOST:80/a?b=2&a=1#x", "https://Host:443/", "http://h:443/x",
      "https://h:80/x", "HTTP://WWW.Sub.Example.COM:8080/P/q?b=2&a=1&#frag",
      "not a url", "/relative", "", "http://", "http:///x", "x://host",
      "1http://x", "http://a://b/c", "http://a@b@c/x", "http://@h/x",
      "http://h:/x", "http://h:80:90/p", "http://h:8a0", "http://[::1]:80/",
      "http://::80", "http://host?q=1#f", "http://host#f?q=2&p=1",
      "http://host:", "ht+t.p-x://Host.Name:443", "HTTPS://UP@HO:12?x",
      "http://h#", "scheme://", "a://b?", "http://h/p#a?b", "http://h/p?",
      "http://h/p?&&", "http://h/p?z&y&z", "http://www.h/", "http://www./",
      "http://WWW.WWW.h/", "http://h.example.com./p", "http://.h/",
      "http://h/p#f1#f2", "http://h/p\n#f", "http://h/p#f\n", "http://h/p#f\r\n",
      "http://h/p#a\nb#c", "http://h\u2028#f", "http://h/#f\u2029",
      "http://h/p?B=1&b=0&%41=2&a=3", "http://\u0130stanbul.example/П",
      "http://h/p?x=\u00e9&x=e") ++
      // Java's `$` also matches before ONE final line terminator, so a
      // port followed by a terminator is still stripped
      (for {
        scheme <- Seq("http", "https")
        port <- Seq(":80", ":443", ":8080")
        term <- Seq("\n", "\r\n", "\r", "\u0085", "\u2028", "\u2029")
        rest <- Seq("", "/p", "#f")
      } yield s"$scheme://h$port$term$rest")
    val rnd = new scala.util.Random(7)
    val alphabet = "aB:/@?#.019+-%_~&= \t\nwWw\r\u0085\u2028"
    val fuzz = (1 to 4000).map { _ =>
      val n = rnd.nextInt(28)
      val pre = rnd.nextInt(4) match {
        case 0 => "http://" case 1 => "https://www." case 2 => "HTTP://" case _ => ""
      }
      pre + (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = (base ++ fuzz).toDF("u").select(col("u"),
      UrlOps.canonicalizeUrl(col("u")).as("cg"),
      UrlOps.canonicalizeUrlRef(col("u")).as("cw"),
      UrlOps.surtKey(col("u")).as("sg"),
      UrlOps.surtKeyRef(col("u")).as("sw"),
      LinkGraph.hostOf(col("u")).as("hg"),
      LinkGraph.hostOfRef(col("u")).as("hw"))
    val bad = df.where(not(col("cg") <=> col("cw")) ||
      not(col("sg") <=> col("sw")) || not(col("hg") <=> col("hw"))).collect()
    assert(bad.isEmpty, bad.take(10).mkString("; "))
  }
}
