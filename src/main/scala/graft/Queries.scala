package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ExtractHtmlText.extract_html_text
import graft.operators._

/**
 * Query registry: every operator of the engine exercised as a named query
 * over the driver test tables, each with an equivalent DuckDB oracle SQL
 * — every query, including the sketch family, whose md5-derived hashing
 * exists precisely so SQL can reproduce it.
 *
 * Determinism rules shared by Spark impl and oracle (so value hashes
 * match bit-for-bit):
 *  - timestamps → epoch microseconds (bigint): Spark `unix_micros`,
 *    DuckDB `epoch_us`;
 *  - money/doubles → per-row `floor(x*scale)` to bigint BEFORE any
 *    aggregation (integer sums are order-independent; double sums are
 *    not);
 *  - similarity scores → quantized integers (see [[operators.VectorOps]]);
 *  - top-k → total order with explicit id tie-breaks.
 */
object Queries {

  final case class QueryDef(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def t(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Declared schemas of the driver test tables (their fixed contract),
    * exactly as parquet footer inference yields them. Declaring the
    * schema skips the synchronous driver-side footer read + inference
    * that `spark.read.parquet` otherwise performs on EVERY call —
    * measured 61 ms per call on this host, ≈20 s across a full bench
    * (125 queries × 2 runs × ≥1 table each). This is the catalog-table
    * convention: schemas are metadata a production job declares once,
    * not something re-derived from data files per query. */
  private val tableSchemas: Map[String, String] = Map(
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "region" -> "r_regionkey INT, r_name STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")

  /** Memo of the ANALYZED READ PLAN per (session, path) — schema-and-plan
    * metadata only, NEVER rows: a DataFrame is lazy, so every action on
    * it (each bench run, each oracle dump) still scans the parquet files
    * from disk with the same pushed filters and pruned columns. The memo
    * only stops Spark re-listing the path and re-reading footers on
    * every one of the registry's 128 `rd()` call sites. */
  private val rdCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def rd(s: SparkSession, sfDir: String, name: String): DataFrame =
    rdCache.getOrElseUpdate((s, t(sfDir, name)), {
      val r = tableSchemas.get(name).fold(s.read)(ddl => s.read.schema(ddl))
      r.parquet(t(sfDir, name))
    })

  /** floor(x*100) cents as bigint — identical per-row in Spark & DuckDB. */
  private def cents(c: Column): Column = floor(c * 100).cast(LongType)

  /** epoch microseconds; casts TIMESTAMP_NTZ parquet columns first (UTC). */
  private def epochUs(c: Column): Column = unix_micros(c.cast(TimestampType))

  // ==========================================================================
  // Relational core (engine basics: scan, filter pushdown, joins, agg)
  // ==========================================================================

  private val q01 = QueryDef("q01_pricing_summary",
    (s, d) => {
      val li = rd(s, d, "lineitem")
      li.where(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(floor(col("l_quantity")).cast(LongType)).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast(LongType)).as("sum_disc_cents"),
          count(lit(1)).as("count_order"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      cast(sum(cast(floor(l_quantity) as bigint)) AS BIGINT) AS sum_qty,
      cast(sum(cast(floor(l_extendedprice*100) as bigint)) AS BIGINT) AS sum_base_cents,
      cast(sum(cast(floor(l_extendedprice*(1-l_discount)*100) as bigint)) AS BIGINT) AS sum_disc_cents,
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus"""))

  private val q02 = QueryDef("q02_revenue_by_nation",
    (s, d) => {
      // dims are broadcast: customer/nation/region are tiny vs lineitem
      val li = rd(s, d, "lineitem")
      val o = rd(s, d, "orders")
      val c = rd(s, d, "customer")
      val n = rd(s, d, "nation")
      val r = rd(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast(LongType)).as("revenue_cents"),
          count(lit(1)).as("n_items"))
    },
    Some("""SELECT n_name,
      cast(sum(cast(floor(l_extendedprice*(1-l_discount)*100) as bigint)) AS BIGINT) AS revenue_cents,
      count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' GROUP BY n_name"""))

  private val q03 = QueryDef("q03_shipping_priority",
    (s, d) => {
      val li = rd(s, d, "lineitem")
      val o = rd(s, d, "orders")
      val c = rd(s, d, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .where(col("c_mktsegment") === "BUILDING" &&
          col("o_orderdate") < lit("1998-01-01").cast(TimestampType) &&
          col("l_shipdate") > lit("1998-01-01").cast(TimestampType))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast(LongType)).as("revenue_cents"))
        .select(col("l_orderkey"), epochUs(col("o_orderdate")).as("o_date_us"),
          col("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
        .limit(10)
    },
    Some("""SELECT l_orderkey, epoch_us(o_orderdate) AS o_date_us,
      cast(sum(cast(floor(l_extendedprice*(1-l_discount)*100) as bigint)) AS BIGINT) AS revenue_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue_cents DESC, l_orderkey ASC LIMIT 10"""))

  private val q04 = QueryDef("q04_priority_semi_join",
    (s, d) => {
      val o = rd(s, d, "orders")
      val li = rd(s, d, "lineitem").where(col("l_quantity") >= 45)
      o.join(li.select(col("l_orderkey")).distinct(),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
      GROUP BY o_orderpriority"""))

  private val q05 = QueryDef("q05_revenue_by_part_type",
    (s, d) => {
      val li = rd(s, d, "lineitem")
      val p = rd(s, d, "part")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast(LongType)).as("revenue_cents"),
          countDistinct(col("l_partkey")).as("n_parts"))
    },
    Some("""SELECT p_type,
      cast(sum(cast(floor(l_extendedprice*(1-l_discount)*100) as bigint)) AS BIGINT) AS revenue_cents,
      count(DISTINCT l_partkey) AS n_parts
      FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_type"""))

  private val q06 = QueryDef("q06_selective_filter",
    (s, d) =>
      rd(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(floor(col("l_extendedprice") * col("l_discount") * 100)
          .cast(LongType)).as("revenue_cents"),
          count(lit(1)).as("n_rows")),
    Some("""SELECT
      cast(sum(cast(floor(l_extendedprice*l_discount*100) as bigint)) AS BIGINT) AS revenue_cents,
      count(*) AS n_rows FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""))

  private val q07 = QueryDef("q07_top_orders_per_customer",
    (s, d) => {
      val o = rd(s, d, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          col("rk").cast(LongType).as("rk"), // driver schema compare: DuckDB row_number is BIGINT
          cents(col("o_totalprice")).as("price_cents"))
    },
    Some("""SELECT o_custkey, o_orderkey, rk,
      cast(floor(o_totalprice*100) as bigint) AS price_cents
      FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER
        (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        FROM orders) WHERE rk <= 3"""))

  private val q08 = QueryDef("q08_running_total",
    (s, d) => {
      val e = rd(s, d, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("user_id"), col("event_id"),
        sum(cents(col("value"))).over(w).as("run_cents"))
    },
    Some("""SELECT user_id, event_id,
      cast(sum(cast(floor(value*100) as bigint)) OVER
        (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
      FROM events"""))

  private val q09 = QueryDef("q09_event_gaps",
    (s, d) => {
      val e = rd(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      e.select(col("user_id"), epochUs(col("ts")).as("ts_us"),
          lag(epochUs(col("ts")), 1).over(w).as("prev_us"))
        .where(col("prev_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(col("ts_us") - col("prev_us")).as("sum_gap_us"),
          max(col("ts_us") - col("prev_us")).as("max_gap_us"),
          count(lit(1)).as("n_gaps"))
    },
    Some("""WITH g AS (SELECT user_id, epoch_us(ts) AS ts_us,
        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us
      FROM events)
      SELECT user_id, cast(sum(ts_us - prev_us) AS BIGINT) AS sum_gap_us,
        max(ts_us - prev_us) AS max_gap_us, count(*) AS n_gaps
      FROM g WHERE prev_us IS NOT NULL GROUP BY user_id"""))

  // ==========================================================================
  // Streaming analogs over the events table (same window definitions the
  // streaming pipelines use; DuckDB verifies the batch semantics)
  // ==========================================================================

  private val q10 = QueryDef("q10_tumbling_hourly",
    (s, d) => Windows.tumbling(rd(s, d, "events"), "ts", "1 hour",
      Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents")))
      .select(col("event_type"), col("w_start"), col("n"), col("sum_cents")),
    Some("""SELECT event_type,
      (epoch_us(ts) // 3600000000) * 3600000000 AS w_start,
      count(*) AS n, cast(sum(cast(floor(value*100) as bigint)) AS BIGINT) AS sum_cents
      FROM events GROUP BY 1, 2"""))

  private val q11 = QueryDef("q11_sliding_1h_30m",
    (s, d) => Windows.sliding(rd(s, d, "events"), "ts", "1 hour", "30 minutes",
      Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents")))
      .select(col("event_type"), col("w_start"), col("n"), col("sum_cents")),
    Some("""SELECT event_type,
      (epoch_us(ts) // 1800000000) * 1800000000 - k.k * 1800000000 AS w_start,
      count(*) AS n, cast(sum(cast(floor(value*100) as bigint)) AS BIGINT) AS sum_cents
      FROM events CROSS JOIN (VALUES (0), (1)) AS k(k) GROUP BY 1, 2"""))

  private val q12 = QueryDef("q12_session_windows",
    (s, d) => Windows.session(rd(s, d, "events"), "ts", "30 minutes",
      Seq(col("user_id")),
      Seq(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents")))
      .select(col("user_id"), col("s_start"), col("s_end"), col("n"), col("sum_cents")),
    Some("""WITH g AS (SELECT user_id, ts, value, CASE WHEN
        epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC) >= 1800000000
        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) IS NULL THEN 1 ELSE 0 END AS brk
      FROM events),
      i AS (SELECT user_id, ts, value, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
      SELECT user_id, epoch_us(min(ts)) AS s_start,
        epoch_us(max(ts)) + 1800000000 AS s_end,
        count(*) AS n, cast(sum(cast(floor(value*100) as bigint)) AS BIGINT) AS sum_cents
      FROM i GROUP BY user_id, sid"""))

  private val q13 = QueryDef("q13_interval_join",
    (s, d) => {
      val e = rd(s, d, "events")
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"))
      val buys = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value"))
      views.join(buys, Seq("user_id"))
        .where(col("p_ts") > col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"), sum(cents(col("value"))).as("attributed_cents"))
    },
    Some("""SELECT v.user_id AS user_id, count(*) AS n_pairs,
      cast(sum(cast(floor(p.value*100) as bigint)) AS BIGINT) AS attributed_cents
      FROM (SELECT user_id, ts FROM events WHERE event_type='view') v
      JOIN (SELECT user_id, ts, value FROM events WHERE event_type='purchase') p
      ON v.user_id = p.user_id AND p.ts > v.ts
        AND p.ts <= v.ts + INTERVAL 30 MINUTE
      GROUP BY v.user_id"""))

  private val q14 = QueryDef("q14_dedup_latest",
    (s, d) => {
      val e = rd(s, d, "events")
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      e.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("user_id"), col("event_type"), epochUs(col("ts")).as("ts_us"),
          col("event_id"))
    },
    Some("""SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC) AS rk FROM events) WHERE rk = 1"""))

  // ==========================================================================
  // Text / dedup over documents
  // ==========================================================================

  private val q15 = QueryDef("q15_exact_dup_groups",
    (s, d) => Dedup.exactDups(rd(s, d, "documents"), "doc_id", "text"),
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keeper,
      count(*) AS dup_cnt FROM documents GROUP BY 1"""))

  private val q16 = QueryDef("q16_token_stats",
    (s, d) => {
      val doc = rd(s, d, "documents")
      doc.select(col("lang"),
          TextAnalysis.tokenCount(col("text")).as("toks"),
          TextAnalysis.charCount(col("text")).as("chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("toks")).as("sum_tokens"),
          sum(col("chars")).as("sum_chars"),
          max(col("toks")).cast(LongType).as("max_tokens"))
    },
    Some("""SELECT lang, count(*) AS docs,
      cast(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS sum_tokens,
      cast(sum(length(regexp_replace(text, '\s', '', 'g'))) AS BIGINT) AS sum_chars,
      max(len(regexp_extract_all(text, '\S+'))) AS max_tokens
      FROM documents GROUP BY lang"""))

  private val q17 = QueryDef("q17_quality_by_source",
    (s, d) => rd(s, d, "documents")
      .select(col("source"), TextAnalysis.qualityScore(col("text")).as("q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("q")).as("sum_q"),
        sum(when(col("q") >= 60, 1).otherwise(0)).as("n_good")),
    Some("""WITH f AS (SELECT source,
        len(regexp_extract_all(text, '\S+')) AS toks,
        length(regexp_replace(text, '\s', '', 'g')) AS chars,
        len(regexp_extract_all(text, '\b(the|a|and|of|is|to|in)\b')) AS stop
      FROM documents),
      q AS (SELECT source,
        (CASE WHEN toks >= 32 THEN 40 ELSE 0 END) +
        (CASE WHEN chars >= 200 THEN 20 ELSE 0 END) +
        (CASE WHEN toks > 0 AND floor((chars*10)/toks) BETWEEN 30 AND 90 THEN 20 ELSE 0 END) +
        (CASE WHEN stop >= 2 THEN 20 ELSE 0 END) AS q
      FROM f)
      SELECT source, count(*) AS docs, cast(sum(q) AS BIGINT) AS sum_q,
        cast(sum(CASE WHEN q >= 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_good
      FROM q GROUP BY source"""))

  private val q18 = QueryDef("q18_langid_distribution",
    (s, d) => rd(s, d, "documents")
      .select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n")),
    Some(s"""WITH sc AS (SELECT lang,
        len(regexp_extract_all(text, '${TextAnalysis.cjkPattern}')) AS cjk,
        len(regexp_extract_all(text, '\\b(the|and|of|is|was|this|that|with)\\b')) AS s_en,
        len(regexp_extract_all(text, '\\b(und|der|die|nicht|werden|eine?)\\b')) AS s_de,
        len(regexp_extract_all(text, '\\b(vous|dans|pour|faire|avec|les?)\\b')) AS s_fr,
        len(regexp_extract_all(text, '\\b(como|haber|tener|para|el|una?)\\b')) AS s_es
      FROM documents),
      p AS (SELECT lang, CASE WHEN cjk >= 3 THEN 'zh'
        WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
        WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
        WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
        WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
        ELSE 'es' END AS pred FROM sc)
      SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred"""))

  private val q19 = QueryDef("q19_fingerprint_distinct",
    (s, d) => rd(s, d, "documents")
      .select(col("source"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy(col("source"))
      .agg(countDistinct(col("fp")).as("n_fp"), count(lit(1)).as("docs")),
    Some("""SELECT source,
      count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS n_fp,
      count(*) AS docs FROM documents GROUP BY source"""))

  // the shared shingle pipeline of q20/q21's oracles, WITH the df cap the
  // operators apply (shingles in > 50 docs dropped before any join)
  private val cappedShinglesSql =
    """toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        FROM documents),
      sh0 AS (SELECT DISTINCT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(ts)-2, 0)),
        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle FROM toks),
      keepsh AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 50),
      sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keepsh USING (shingle))"""

  private val q20 = QueryDef("q20_ngram_jaccard_pairs",
    (s, d) => Dedup.ngramJaccardPairs(rd(s, d, "documents"), "doc_id", "text",
      n = 3, minJaccQ = 500, maxDf = 50)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jacc_q")),
    Some(s"""WITH $cappedShinglesSql,
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT ia AS doc_a, ib AS doc_b,
        cast(floor(1000 * i / (sa.sz + sb.sz - i)) as bigint) AS jacc_q
      FROM inter JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
      WHERE floor(1000 * i / (sa.sz + sb.sz - i)) >= 500"""))

  // q21's full pair pipeline as a reusable CTE chain ending in `lshpairs`
  // (doc_a, doc_b, jacc_q) — q57's transitive-closure oracle builds on it
  private val lshPairsCtes =
    s"""$cappedShinglesSql,
      mh AS (SELECT doc_id, b.band, min(md5(shingle || '|' || b.band)) AS sig
        FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) b
        GROUP BY doc_id, b.band),
      cand AS (SELECT DISTINCT l.doc_id AS ia, r.doc_id AS ib
        FROM mh l JOIN mh r ON l.band = r.band AND l.sig = r.sig
          AND l.doc_id < r.doc_id),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN cand ON cand.ia = a.doc_id AND cand.ib = b.doc_id
        GROUP BY 1, 2),
      lshpairs AS (SELECT inter.ia AS doc_a, inter.ib AS doc_b,
        cast(floor(1000 * i / (sa.sz + sb.sz - i)) as bigint) AS jacc_q
      FROM inter JOIN sizes sa ON inter.ia = sa.doc_id
        JOIN sizes sb ON inter.ib = sb.doc_id
      WHERE floor(1000 * i / (sa.sz + sb.sz - i)) >= 500)"""

  private val q21 = QueryDef("q21_minhash_lsh_pairs",
    (s, d) => Dedup.minhashLshPairs(rd(s, d, "documents"), "doc_id", "text",
      n = 3, bands = 8, minJaccQ = 500, maxDf = 50)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jacc_q")),
    Some(s"""WITH $lshPairsCtes
      SELECT doc_a, doc_b, jacc_q FROM lshpairs"""))

  // SimHash signatures are md5-derived (Md5Hash.hash64 per token), so the
  // oracle rebuilds them digit-by-digit from DuckDB's md5 and checks the
  // pair set EXACTLY: nBlocks=4 > maxDist=3 is a sound Manku config (full
  // recall), so the engine's block-join output must equal the all-pairs
  // hamming filter the oracle computes. Tokens are taken with multiplicity
  // (each occurrence votes). Zero-token docs are excluded on both sides
  // (an all-zero signature carries no content signal).
  private val q22 = QueryDef("q22_simhash_pairs",
    (s, d) => Dedup.simhashPairs(
      rd(s, d, "documents").where(TextAnalysis.tokenCount(col("text")) > 0),
      "doc_id", "text", maxDist = 3, nBlocks = 4)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("dist").cast(LongType).as("dist")),
    Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        FROM documents WHERE len(regexp_extract_all(text, '\S+')) > 0),
      th AS (SELECT doc_id, md5(tok) AS h FROM toks),
      bits AS (SELECT doc_id, tb.b AS b,
          sum(2 * (((strpos('0123456789abcdef', substr(h, 16 - (tb.b // 4), 1)) - 1)
            >> (tb.b % 4)) & 1) - 1) AS votes
        FROM th, generate_series(0, 63) tb(b) GROUP BY 1, 2),
      sig AS (SELECT doc_id,
          cast(sum(CASE WHEN b < 32 AND votes > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS lo,
          cast(sum(CASE WHEN b >= 32 AND votes > 0 THEN (1::BIGINT << (b - 32)) ELSE 0 END) AS BIGINT) AS hi
        FROM bits GROUP BY 1)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        cast(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS dist
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3"""))

  // ==========================================================================
  // Embedding similarity
  // ==========================================================================

  private val q23 = QueryDef("q23_knn_bruteforce",
    (s, d) => {
      val emb = rd(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val corpus = emb.where(col("vec_id") >= 10)
      Similarity.bruteForceTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"), col("cos_q"),
          col("rk").cast(LongType).as("rk"))
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS qn
        FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS corpus_id, embedding AS cv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS cn
        FROM embeddings WHERE vec_id >= 10),
      s AS (SELECT query_id, corpus_id,
        cast(floor(cast(list_sum(list_transform(generate_series(1, len(qv)),
          i -> floor(qv[i]::DOUBLE * cv[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(qn::DOUBLE * cn::DOUBLE) * 1000000) as bigint) AS cos_q
        FROM q CROSS JOIN c),
      r AS (SELECT query_id, corpus_id, cos_q, row_number() OVER
        (PARTITION BY query_id ORDER BY cos_q DESC, corpus_id ASC) AS rk FROM s)
      SELECT query_id, corpus_id, cos_q, rk FROM r WHERE rk <= 5"""))

  private val q24 = QueryDef("q24_label_centroids",
    (s, d) => Similarity.centroidSums(rd(s, d, "embeddings"), "label", "embedding"),
    Some("""SELECT label, u.i - 1 AS pos,
      cast(sum(cast(floor(embedding[u.i]::DOUBLE * 1000000) as bigint)) AS BIGINT) AS sum_q,
      count(*) AS n
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
      GROUP BY 1, 2"""))

  /** DuckDB mirror of the engine's 8-plane LSH bucketing over the
    * `embeddings` table: hyperplane weights are md5-derived
    * ([[graft.operators.Md5Hash.weight48]]: top 48 md5 bits % 2001 − 1000,
    * rebuilt here digit-by-digit in exact BIGINT arithmetic), the vector
    * quantization is the engine's floor(x·1e6), and bucket bit p =
    * sign(Σ_d w(p,d)·q_d) — so `bkt.bucket` equals `lsh_bucket(embedding, 8)`
    * bit-for-bit. Multi-probe (single-bit flips, one side) ⇔
    * hamming(bucket_a, bucket_b) ≤ 1, which is how the pair/candidate
    * predicates below express it. */
  private val lshBucketSql =
    """qdim AS (SELECT vec_id, u.i - 1 AS d,
          cast(floor(embedding[u.i]::DOUBLE * 1000000) AS BIGINT) AS qq
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
      pw AS (SELECT tp.p AS p, td.d AS d,
        (list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(tp.p AS VARCHAR) || ':' || cast(td.d AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j]))
         % 2001) - 1000 AS w
      FROM generate_series(0, 7) tp(p), (SELECT DISTINCT d FROM qdim) td),
      psum AS (SELECT vec_id, p, sum(w * qq) AS s
        FROM qdim JOIN pw USING (d) GROUP BY 1, 2),
      bkt AS (SELECT vec_id,
          cast(sum(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
        FROM psum GROUP BY 1)"""

  private val q25 = QueryDef("q25_ann_lsh",
    (s, d) => {
      val emb = rd(s, d, "embeddings")
      Similarity.lshTopK(emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "vec_id", "embedding", "embedding", k = 5, nPlanes = 8)
        .select(col("query_id"), col("corpus_id"), col("cos_q"),
          col("rk").cast(LongType).as("rk"))
    },
    // q23's exact-scoring SQL, restricted to the LSH candidate set
    // (bucket hamming ≤ 1 = own bucket + the single-bit probes)
    Some(s"""WITH $lshBucketSql,
      q AS (SELECT vec_id AS query_id, embedding AS qv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS qn
        FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS corpus_id, embedding AS cv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS cn
        FROM embeddings WHERE vec_id >= 10),
      sc AS (SELECT query_id, corpus_id,
        cast(floor(cast(list_sum(list_transform(generate_series(1, len(qv)),
          i -> floor(qv[i]::DOUBLE * cv[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(qn::DOUBLE * cn::DOUBLE) * 1000000) as bigint) AS cos_q
        FROM q JOIN bkt qb ON qb.vec_id = q.query_id
        CROSS JOIN c JOIN bkt cb ON cb.vec_id = c.corpus_id
        WHERE bit_count(xor(qb.bucket, cb.bucket)) <= 1),
      r AS (SELECT query_id, corpus_id, cos_q, row_number() OVER
        (PARTITION BY query_id ORDER BY cos_q DESC, corpus_id ASC) AS rk FROM sc)
      SELECT query_id, corpus_id, cos_q, rk FROM r WHERE rk <= 5"""))

  private val q26 = QueryDef("q26_embedding_near_dups",
    (s, d) => Dedup.embeddingNearDupPairs(rd(s, d, "embeddings"), "vec_id",
      "embedding", minCosQ = 250000L, nPlanes = 8, probeNeighbors = true)
      .select(col("id_a"), col("id_b"), col("cos_q")),
    // candidate pairs = bucket hamming ≤ 1 (self-join + single-bit probes,
    // symmetric); verification = the exact quantized cosine ≥ threshold
    Some(s"""WITH $lshBucketSql,
      n AS (SELECT vec_id, embedding AS v,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS nq
        FROM embeddings),
      cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bkt a JOIN bkt b ON a.vec_id < b.vec_id
        WHERE bit_count(xor(a.bucket, b.bucket)) <= 1),
      sc AS (SELECT id_a, id_b,
        cast(floor(cast(list_sum(list_transform(generate_series(1, len(na.v)),
          i -> floor(na.v[i]::DOUBLE * nb.v[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(na.nq::DOUBLE * nb.nq::DOUBLE) * 1000000) as bigint) AS cos_q
        FROM cand JOIN n na ON na.vec_id = cand.id_a
        JOIN n nb ON nb.vec_id = cand.id_b)
      SELECT id_a, id_b, cos_q FROM sc WHERE cos_q >= 250000"""))

  // ==========================================================================
  // Multimodal plumbing: binary column + typed metadata + frame sampling
  // ==========================================================================

  private val q27 = QueryDef("q27_media_frame_sample",
    (s, d) => Multimodal.frameSampleStats(rd(s, d, "documents")),
    Some("""WITH m AS (SELECT source, octet_length(encode(text)) AS nbytes,
        (octet_length(encode(text)) % 30) + 1 AS frames FROM documents),
      fr AS (SELECT source, nbytes, unnest(generate_series(0, frames - 1)) AS f FROM m)
      SELECT source, count(*) AS n_frames, cast(sum(nbytes) AS BIGINT) AS sum_bytes
      FROM fr WHERE f % 10 = 0 GROUP BY source"""))

  // ==========================================================================
  // Page-engine queries. q28/q29/q31 synthesize pages deterministically
  // FROM the driver's events table (host = user_id, warc_ts = ts, html =
  // a fixed template over event columns) so the full page pipeline —
  // extract_html_text Catalyst expression included — is DuckDB-oracle
  // checkable: the oracle mirrors the extraction's output text exactly.
  // ==========================================================================

  /** events → synthetic pages through the REAL extraction expression.
    * Template exercises tag-collapse, &nbsp;/&amp; entities and script
    * drop; extracted text is `"{event_type} user {user_id} & {event_id}"`
    * which DuckDB reproduces as plain string concat. */
  private def eventPages(s: SparkSession, d: String): DataFrame =
    rd(s, d, "events").select(
      col("user_id").cast(StringType).as("host"),
      col("ts").cast(TimestampType).as("warc_ts"),
      encode(concat(
        lit("<html><body><h1>"), col("event_type"),
        lit("</h1><p>user&nbsp;"), col("user_id").cast(StringType),
        lit(" &amp; "), col("event_id").cast(StringType),
        lit("</p><script>var x=1;</script></body></html>")), "UTF-8").as("html"))
      .withColumn("text", extract_html_text(col("html")))

  /** DuckDB mirror of [[eventPages]]'s extracted text. */
  private val eventPagesSql =
    """pg AS (SELECT cast(user_id AS VARCHAR) AS host, ts,
      event_type || ' user ' || user_id || ' & ' || event_id AS text
      FROM events)"""

  private val q28 = QueryDef("q28_page_sessions",
    (s, d) =>
      Windows.session(eventPages(s, d), "warc_ts", "30 minutes",
        Seq(col("host")),
        Seq(count(lit(1)).as("n_pages"), sum(length(col("text"))).as("text_chars")))
        .select(col("host"), col("s_start"), col("s_end"), col("n_pages"), col("text_chars")),
    Some(s"""WITH $eventPagesSql,
      g AS (SELECT host, ts, length(text) AS tlen, CASE WHEN
        epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY host ORDER BY ts ASC) >= 1800000000
        OR lag(ts) OVER (PARTITION BY host ORDER BY ts ASC) IS NULL THEN 1 ELSE 0 END AS brk
      FROM pg),
      i AS (SELECT host, ts, tlen, sum(brk) OVER (PARTITION BY host ORDER BY ts ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
      SELECT host, epoch_us(min(ts)) AS s_start,
        epoch_us(max(ts)) + 1800000000 AS s_end,
        count(*) AS n_pages, cast(sum(tlen) AS BIGINT) AS text_chars
      FROM i GROUP BY host, sid"""))

  private val q29 = QueryDef("q29_page_host_stats_salted",
    (s, d) =>
      // salted≡direct is the operator's contract (OperatorSpec); the
      // oracle is therefore the plain unsalted GROUP BY
      SkewAgg.saltedAgg(eventPages(s, d),
        keys = Seq(col("host")), saltSrc = col("warc_ts"), buckets = 16,
        partial = Seq(count(lit(1)).as("c"), sum(length(col("text"))).as("tc")),
        merge = Seq(sum(col("c")).as("n_pages"), sum(col("tc")).as("text_chars"))),
    Some(s"""WITH $eventPagesSql
      SELECT host, count(*) AS n_pages,
        cast(sum(length(text)) AS BIGINT) AS text_chars
      FROM pg GROUP BY host"""))

  // Truth-labeled multilingual pages synthesized from the events table
  // (same scheme as q28/q29/q31): lang by user_id, marker text by lang,
  // with a deterministic 1-in-11 slice of ambiguous (marker-free) pages
  // so the accuracy arithmetic is non-trivial. The whole pipeline —
  // extraction expression, langId scoring, accuracy agg — is mirrored in
  // DuckDB. (PageGen-corpus accuracy ≥99% stays asserted in PageGenSpec.)
  private val langNames = Seq("en", "de", "fr", "es", "zh")
  private val langMarkerTexts = Seq(
    "the cat and the dog was this that with gusto",
    "und der die nicht werden eine",
    "vous dans pour faire avec les",
    "como haber tener para el una",
    "汉字文本页") // 5 CJK codepoints => zh fast path
  private val neutralText = "lorem ipsum dolor sit amet"

  private val q30 = QueryDef("q30_page_lang_accuracy",
    (s, d) => {
      val idx = (col("user_id") % 5 + 1).cast(IntegerType)
      val truth = element_at(array(langNames.map(lit): _*), idx)
      val marker = when(col("event_id") % 11 === 0, lit(neutralText))
        .otherwise(element_at(array(langMarkerTexts.map(lit): _*), idx))
      val pages = rd(s, d, "events").select(truth.as("lang"),
        encode(concat(lit("<html><body><p>"), marker, lit(" user&nbsp;"),
          col("user_id").cast(StringType), lit("</p></body></html>")), "UTF-8").as("html"))
        .withColumn("text", extract_html_text(col("html")))
      pages.select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("lang"), 1).otherwise(0)).as("n_correct"))
    },
    Some(s"""WITH pg AS (SELECT
        (['${langNames.mkString("','")}'])[(user_id % 5) + 1] AS lang,
        (CASE WHEN event_id % 11 = 0 THEN '$neutralText'
          ELSE (['${langMarkerTexts.mkString("','")}'])[(user_id % 5) + 1] END)
          || ' user ' || user_id AS text
        FROM events),
      sc AS (SELECT lang,
        len(regexp_extract_all(text, '${TextAnalysis.cjkPattern}')) AS cjk,
        len(regexp_extract_all(text, '\\b(the|and|of|is|was|this|that|with)\\b')) AS s_en,
        len(regexp_extract_all(text, '\\b(und|der|die|nicht|werden|eine?)\\b')) AS s_de,
        len(regexp_extract_all(text, '\\b(vous|dans|pour|faire|avec|les?)\\b')) AS s_fr,
        len(regexp_extract_all(text, '\\b(como|haber|tener|para|el|una?)\\b')) AS s_es
      FROM pg),
      p AS (SELECT lang, CASE WHEN cjk >= 3 THEN 'zh'
        WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
        WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
        WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
        WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
        ELSE 'es' END AS pred FROM sc)
      SELECT lang, count(*) AS n,
        cast(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      FROM p GROUP BY lang"""))

  private val q31 = QueryDef("q31_page_meta_join",
    (s, d) => {
      // symmetric ±30 min event-time band join — the batch mirror of the
      // watermarked stream-stream join (StreamJoin); pages × per-host meta
      val pages = eventPages(s, d).select(col("host"), col("warc_ts"))
      val meta = rd(s, d, "events").where(col("event_type") === "error")
        .select(col("user_id").cast(StringType).as("host"),
          col("ts").cast(TimestampType).as("meta_ts"))
      pages.join(meta, Seq("host"))
        .where(abs(epochUs(col("warc_ts")) - epochUs(col("meta_ts"))) <=
          lit(1800L * 1000000L))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_matched"))
    },
    Some(s"""WITH $eventPagesSql,
      meta AS (SELECT cast(user_id AS VARCHAR) AS host, ts AS meta_ts
        FROM events WHERE event_type = 'error')
      SELECT pg.host AS host, count(*) AS n_matched
      FROM pg JOIN meta ON pg.host = meta.host
      WHERE abs(epoch_us(pg.ts) - epoch_us(meta_ts)) <= 1800000000
      GROUP BY pg.host"""))

  // ==========================================================================
  // Topology plane: tiling fan-out/recombine, grouped batches, DRPC, union
  // ==========================================================================

  private val q32 = QueryDef("q32_section_roundtrip",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val rt = Topology.recombine(
        Topology.sections(docs.select(col("doc_id"), col("source"), col("text")),
          "text", 4),
        Seq("doc_id", "source", "text"))
      rt.groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(when(col("recombined_text") === col("text"), 1).otherwise(0)).as("n_ok"))
    },
    // the engine must reassemble every doc byte-identically, so the oracle
    // is simply "every doc round-trips"
    Some("""SELECT source, count(*) AS docs, count(*) AS n_ok
      FROM documents GROUP BY source"""))

  private val q33 = QueryDef("q33_request_response_match",
    (s, d) => {
      val docs = rd(s, d, "documents")
      RequestResponse.matchText(s,
        docs.where(col("doc_id") < 5), docs.where(col("doc_id") >= 5),
        "doc_id", "text", "doc_id", "text", k = 3, n = 2)
        .select(col("request_id"), col("doc_id"), col("score_q"),
          col("rk").cast(LongType).as("rk"))
    },
    Some("""WITH qsh AS (SELECT DISTINCT doc_id AS request_id,
        unnest(list_transform(generate_series(1, greatest(len(ts)-1, 0)),
          i -> ts[i] || ' ' || ts[i+1])) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
          FROM documents WHERE doc_id < 5)),
      qsz AS (SELECT request_id, count(*) AS q_sz FROM qsh GROUP BY 1),
      dsh AS (SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(ts)-1, 0)),
          i -> ts[i] || ' ' || ts[i+1])) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
          FROM documents WHERE doc_id >= 5)),
      hits AS (SELECT request_id, d.doc_id, count(*) AS inter
        FROM dsh d JOIN qsh q ON d.shingle = q.shingle GROUP BY 1, 2),
      sc AS (SELECT h.request_id, doc_id,
        cast(floor(1000 * inter / q_sz) as bigint) AS score_q
        FROM hits h JOIN qsz ON h.request_id = qsz.request_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY request_id
        ORDER BY score_q DESC, doc_id ASC) AS rk FROM sc)
      SELECT request_id, doc_id, score_q, rk FROM r WHERE rk <= 3"""))

  private val q34 = QueryDef("q34_union_streams",
    (s, d) => {
      val e = rd(s, d, "events")
      // multi-edge subscription: two derived streams unioned, then agg
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), lit("c").as("src"), cents(col("value")).as("v"))
      val errors = e.where(col("event_type") === "error")
        .select(col("user_id"), lit("e").as("src"), cents(col("value")).as("v"))
      clicks.union(errors)
        .groupBy(col("user_id"), col("src"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_cents"))
    },
    Some("""SELECT user_id, src, count(*) AS n, cast(sum(v) AS BIGINT) AS sum_cents FROM (
        SELECT user_id, 'c' AS src, cast(floor(value*100) as bigint) AS v
          FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, 'e' AS src, cast(floor(value*100) as bigint) AS v
          FROM events WHERE event_type = 'error')
      GROUP BY user_id, src"""))

  private val q35 = QueryDef("q35_group_of_pages",
    (s, d) => {
      val e = rd(s, d, "events")
      // GroupOfFrames analog: batches of 10 events per user in ts order
      Topology.groupN(e, "user_id", "ts", col("event_id"), 10)
        .select(col("user_id"), col("batch_id"), col("n_rows"),
          size(col("group")).as("group_size"))
    },
    Some("""WITH r AS (SELECT user_id, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn
        FROM events)
      SELECT user_id, cast(floor(rn / 10) as int) AS batch_id,
        count(*) AS n_rows, cast(count(*) as int) AS group_size
      FROM r GROUP BY 1, 2"""))

  private val q36 = QueryDef("q36_twophase_sessions",
    (s, d) => {
      import s.implicits._
      // the skew-proof two-phase sessionizer over the events table; must
      // be value-identical to q12's session_window/gaps-and-islands SQL
      val lite = rd(s, d, "events")
        .select(col("user_id").cast(StringType).as("host"),
          col("ts").cast(TimestampType).as("warc_ts"),
          floor(col("value") * 100).cast(LongType).as("text_len"))
        .as[graft.streaming.Sessionize.PageLite]
      graft.streaming.SessionizeTwoPhase.sessionsBatch(s, lite)
        .toDF()
        .select(col("host").cast(LongType).as("user_id"),
          epochUs(col("session_start")).as("s_start"),
          epochUs(col("session_end")).as("s_end"),
          col("n_pages").as("n"), col("text_bytes").as("sum_cents"))
    },
    Some("""WITH g AS (SELECT user_id, ts, value, CASE WHEN
        epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC) >= 1800000000
        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) IS NULL THEN 1 ELSE 0 END AS brk
      FROM events),
      i AS (SELECT user_id, ts, value, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
      SELECT user_id, epoch_us(min(ts)) AS s_start,
        epoch_us(max(ts)) + 1800000000 AS s_end,
        count(*) AS n, cast(sum(cast(floor(value*100) as bigint)) AS BIGINT) AS sum_cents
      FROM i GROUP BY user_id, sid"""))

  // ColorHistogramOp analog (reference `operation/ColorHistogramOp.java`):
  // per-row histogram, rolled up to top terms per language
  private val q37 = QueryDef("q37_term_histogram",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val toks = docs.select(col("lang"),
        explode(split(trim(col("text")), "\\s+")).as("token"))
      val counts = toks.groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("token").asc)
      counts.withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
        .withColumn("rk", col("rk").cast(LongType))
    },
    Some("""WITH t AS (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
        FROM documents),
      c AS (SELECT lang, token, count(*) AS cnt FROM t GROUP BY 1, 2),
      r AS (SELECT lang, token, cnt, row_number() OVER
        (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rk FROM c)
      SELECT lang, token, cnt, rk FROM r WHERE rk <= 10"""))

  // brute-force embedding near-dup pairs (the exact-verification path the
  // LSH variant q26 approximates) — fully oracle-checked
  private val q38 = QueryDef("q38_near_dup_bruteforce",
    (s, d) => {
      val emb = rd(s, d, "embeddings")
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a"),
        VectorOps.norm_q(col("embedding")).as("n_a"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b"),
        VectorOps.norm_q(col("embedding")).as("n_b"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          floor(VectorOps.cosineScore(VectorOps.dot_q(col("v_a"), col("v_b")),
            col("n_a"), col("n_b")) * 1e6).cast(LongType).as("cos_q"))
        .where(col("cos_q") >= 300000L)
    },
    Some("""WITH e AS (SELECT vec_id, embedding,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS nq
        FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        cast(floor(cast(list_sum(list_transform(generate_series(1, len(a.embedding)),
          i -> floor(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(a.nq::DOUBLE * b.nq::DOUBLE) * 1000000) as bigint) AS cos_q
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE floor(cast(list_sum(list_transform(generate_series(1, len(a.embedding)),
          i -> floor(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(a.nq::DOUBLE * b.nq::DOUBLE) * 1000000) >= 300000"""))

  // batch mirror of the streaming ingest dedup (StreamDedup.byFingerprint):
  // same normalized fingerprint, keeper = first by (ts-equivalent) id
  private val q39 = QueryDef("q39_fingerprint_dedup",
    (s, d) => rd(s, d, "documents")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies")),
    Some("""SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
      min(doc_id) AS keeper, count(*) AS n_copies
      FROM documents GROUP BY 1"""))

  // the TopK Aggregator surfaced directly as a registry query: top-3
  // events per user by quantized value (UDAF path, not a window) — the
  // oracle is the equivalent row_number() form
  private val q40 = QueryDef("q40_topk_aggregator",
    (s, d) => TopK.perKey(
      rd(s, d, "events").select(col("user_id"), col("event_id"),
        floor(col("value") * 100).cast(LongType).as("cents")),
      "user_id", "event_id", "cents", k = 3, "event_id", "cents"),
    Some("""SELECT user_id, event_id, cents, rk FROM (
        SELECT user_id, event_id, cast(floor(value*100) as bigint) AS cents,
          row_number() OVER (PARTITION BY user_id
            ORDER BY cast(floor(value*100) as bigint) DESC, event_id ASC) AS rk
        FROM events) WHERE rk <= 3"""))

  // CEP sequence pattern (batch mirror of streaming PatternDetect):
  // view followed by its FIRST purchase within 30 min, per user
  private val q41 = QueryDef("q41_pattern_first_match",
    (s, d) => graft.streaming.PatternDetect.sequenceBatch(
      rd(s, d, "events"), "user_id", "ts", "event_type", "event_id",
      aKind = "view", bKind = "purchase", withinSec = 1800L)
      .select(col("key").as("user_id"), col("a_id"), col("a_us"),
        col("b_id"), col("b_us")),
    Some("""WITH a AS (SELECT user_id AS key, epoch_us(ts) AS a_us, event_id AS a_id
        FROM events WHERE event_type = 'view'),
      b AS (SELECT user_id AS key, epoch_us(ts) AS b_us, event_id AS b_id
        FROM events WHERE event_type = 'purchase'),
      j AS (SELECT a.key, a_id, a_us, b_id, b_us, row_number() OVER
        (PARTITION BY a.key, a_id ORDER BY b_us ASC, b_id ASC) AS rk
        FROM a JOIN b ON a.key = b.key
          AND b_us > a_us AND b_us <= a_us + 1800000000)
      SELECT key AS user_id, a_id, a_us, b_id, b_us FROM j WHERE rk = 1"""))

  // CEP negation pattern (batch mirror of streaming PatternDetect.absence):
  // views NOT followed by any purchase within 30 min — abandoned sessions
  private val q42 = QueryDef("q42_pattern_absence",
    (s, d) => graft.streaming.PatternDetect.absenceBatch(
      rd(s, d, "events"), "user_id", "ts", "event_type", "event_id",
      aKind = "view", bKind = "purchase", withinSec = 1800L)
      .select(col("key").as("user_id"), col("a_id"), col("a_us")),
    Some("""SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
      FROM events a WHERE event_type = 'view' AND NOT EXISTS (
        SELECT 1 FROM events b WHERE b.event_type = 'purchase'
          AND b.user_id = a.user_id
          AND epoch_us(b.ts) > epoch_us(a.ts)
          AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000)"""))

  // IVF ANN (Similarity.ivfTopK): deterministic sample centroids make the
  // whole index-build + probe + search pipeline exact-integer, so unlike
  // the LSH path (q25) it gets a full DuckDB oracle. dotq/cosq mirror the
  // engine's QuantizedDot scheme (see q23).
  private val q43 = QueryDef("q43_ivf_ann",
    (s, d) => {
      val emb = rd(s, d, "embeddings")
      Similarity.ivfTopK(emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
        "vec_id", "vec_id", "embedding", "embedding", k = 5, seedMod = 16L, nProbe = 4)
        .select(col("query_id"), col("corpus_id"), col("cos_q"), col("rk"))
    },
    Some("""WITH c AS (SELECT vec_id AS corpus_id, embedding AS cv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS cn
        FROM embeddings WHERE vec_id >= 10),
      q AS (SELECT vec_id AS query_id, embedding AS qv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS qn
        FROM embeddings WHERE vec_id < 10),
      seeds AS (SELECT corpus_id AS seed_id, cv AS sv, cn AS sn
        FROM c WHERE corpus_id % 16 = 0),
      asg AS (SELECT corpus_id, cv, cn, seed_id, row_number() OVER
          (PARTITION BY corpus_id ORDER BY
            cast(floor(cast(list_sum(list_transform(generate_series(1, len(cv)),
              i -> floor(cv[i]::DOUBLE * sv[i]::DOUBLE * 1000000))) as bigint)
              / sqrt(cn::DOUBLE * sn::DOUBLE) * 1000000) as bigint) DESC,
            seed_id ASC) AS rn
        FROM c CROSS JOIN seeds),
      assigned AS (SELECT corpus_id, cv, cn, seed_id AS centroid FROM asg WHERE rn = 1),
      prb AS (SELECT query_id, qv, qn, seed_id, row_number() OVER
          (PARTITION BY query_id ORDER BY
            cast(floor(cast(list_sum(list_transform(generate_series(1, len(qv)),
              i -> floor(qv[i]::DOUBLE * sv[i]::DOUBLE * 1000000))) as bigint)
              / sqrt(qn::DOUBLE * sn::DOUBLE) * 1000000) as bigint) DESC,
            seed_id ASC) AS rn
        FROM q CROSS JOIN seeds),
      probes AS (SELECT query_id, qv, qn, seed_id AS centroid FROM prb WHERE rn <= 4),
      s AS (SELECT p.query_id, a.corpus_id,
        cast(floor(cast(list_sum(list_transform(generate_series(1, len(p.qv)),
          i -> floor(p.qv[i]::DOUBLE * a.cv[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(p.qn::DOUBLE * a.cn::DOUBLE) * 1000000) as bigint) AS cos_q
        FROM probes p JOIN assigned a ON a.centroid = p.centroid),
      r AS (SELECT query_id, corpus_id, cos_q, row_number() OVER
        (PARTITION BY query_id ORDER BY cos_q DESC, corpus_id ASC) AS rk FROM s)
      SELECT query_id, corpus_id, cos_q, rk FROM r WHERE rk <= 5"""))

  // batch mirror of the streaming greedy near-dup dedup
  // (StreamDedup.nearDupVerdicts): a doc is dropped iff an EARLIER doc
  // (smaller id) shares any minhash band bucket. Runs on the ROWWISE
  // codegen'd MinHashBandSigs expression, so the streaming signature path
  // itself is what the DuckDB oracle checks here.
  private val q44 = QueryDef("q44_near_dup_keepers",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val mh = operators.Dedup.minhashBandsRowwise(docs, "doc_id", "text",
        n = 3, bands = 8)
      val stolen = mh.select(col("doc_id"), col("band"), col("sig"))
        .join(mh.select(col("doc_id").as("prior_id"), col("band"), col("sig")),
          Seq("band", "sig"))
        .where(col("prior_id") < col("doc_id"))
        .select(col("doc_id")).distinct()
      docs.join(stolen, Seq("doc_id"), "left_anti").select(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        FROM documents),
      sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(ts)-2, 0)),
        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle FROM toks),
      mh AS (SELECT doc_id, b.band, min(md5(shingle || '|' || b.band)) AS sig
        FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) b
        GROUP BY doc_id, b.band),
      stolen AS (SELECT DISTINCT a.doc_id FROM mh a JOIN mh b
        ON a.band = b.band AND a.sig = b.sig AND b.doc_id < a.doc_id)
      SELECT d.doc_id FROM documents d LEFT JOIN stolen s ON d.doc_id = s.doc_id
      WHERE s.doc_id IS NULL"""))

  // the composed LLM-data-prep pipeline as ONE oracle-exact query:
  // quality gate -> language gate -> exact dedup (first doc per
  // fingerprint wins) -> per-language corpus stats. Composition is the
  // point: chaining the operators keeps results bit-exact end to end.
  private val q45 = QueryDef("q45_prep_pipeline",
    (s, d) => {
      val gated = rd(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.langId(col("text")).as("pred"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .where(col("q") >= 60 && col("pred") =!= "und")
      // first-doc-per-fingerprint via row_number, not groupBy+self-join:
      // one shuffle on fp and the gated subtree is evaluated ONCE (the
      // semi-join form re-evaluated the whole gate chain on the agg build
      // side — round-2 verdict #1)
      val keepers = gated
        .withColumn("rn", row_number().over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .where(col("rn") === 1)
      keepers
        .select(col("source"), col("pred").as("lang_pred"), col("q"),
          TextAnalysis.tokenCount(col("text")).as("toks"))
        .groupBy(col("source"), col("lang_pred"))
        .agg(count(lit(1)).as("docs"), sum(col("toks")).as("sum_toks"),
          sum(col("q")).as("sum_q"))
    },
    Some(s"""WITH f AS (SELECT doc_id, source, text,
        len(regexp_extract_all(text, '\\S+')) AS toks,
        length(regexp_replace(text, '\\s', '', 'g')) AS chars,
        len(regexp_extract_all(text, '\\b(the|a|and|of|is|to|in)\\b')) AS stop,
        len(regexp_extract_all(text, '${TextAnalysis.cjkPattern}')) AS cjk,
        len(regexp_extract_all(text, '\\b(the|and|of|is|was|this|that|with)\\b')) AS s_en,
        len(regexp_extract_all(text, '\\b(und|der|die|nicht|werden|eine?)\\b')) AS s_de,
        len(regexp_extract_all(text, '\\b(vous|dans|pour|faire|avec|les?)\\b')) AS s_fr,
        len(regexp_extract_all(text, '\\b(como|haber|tener|para|el|una?)\\b')) AS s_es
      FROM documents),
      g AS (SELECT doc_id, source, text, toks,
        (CASE WHEN toks >= 32 THEN 40 ELSE 0 END) +
        (CASE WHEN chars >= 200 THEN 20 ELSE 0 END) +
        (CASE WHEN toks > 0 AND floor((chars*10)/toks) BETWEEN 30 AND 90 THEN 20 ELSE 0 END) +
        (CASE WHEN stop >= 2 THEN 20 ELSE 0 END) AS q,
        CASE WHEN cjk >= 3 THEN 'zh'
          WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
          WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
          WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
          WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
          ELSE 'es' END AS pred
      FROM f),
      gated AS (SELECT *, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        FROM g WHERE q >= 60 AND pred <> 'und'),
      keep AS (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp),
      kept AS (SELECT gated.* FROM gated JOIN keep USING (fp, doc_id))
      SELECT source, pred AS lang_pred, count(*) AS docs,
        cast(sum(toks) AS BIGINT) AS sum_toks, cast(sum(q) AS BIGINT) AS sum_q
      FROM kept GROUP BY source, pred"""))

  // BPE-ish token budgeting: the subword-boundary count a tokenizer-cost
  // estimate needs (whitespace counting undercounts punctuation-heavy
  // text), next to the whitespace count for the ratio. Same RE2-safe
  // pattern on both sides — no lookahead, \p classes only.
  private val q46 = QueryDef("q46_bpe_token_stats",
    (s, d) => rd(s, d, "documents")
      .select(col("source"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe"),
        TextAnalysis.tokenCount(col("text")).as("ws"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("bpe")).as("sum_bpe"),
        sum(col("ws")).as("sum_ws"),
        max(col("bpe")).cast(LongType).as("max_bpe")),
    Some(s"""SELECT source, count(*) AS docs,
      cast(sum(len(regexp_extract_all(text, '${TextAnalysis.bpePattern.replace("'", "''")}'))) AS BIGINT) AS sum_bpe,
      cast(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS sum_ws,
      max(len(regexp_extract_all(text, '${TextAnalysis.bpePattern.replace("'", "''")}'))) AS max_bpe
      FROM documents GROUP BY source"""))

  // Deterministic sampling (eval-set construction): a stratified
  // 10-docs-per-source hash-order sample + a 20% Bernoulli sample, both
  // md5-derived so the oracle rebuilds the exact same picks. The
  // stratified branch rides the TopK bounded-heap aggregator (≤ n rows
  // per partition·stratum cross the shuffle).
  private val q47 = QueryDef("q47_deterministic_sample",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val h = docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("toks"))
      val strat = Sampling.stratifiedTopN(docs, "source", "doc_id", 10)
        .join(h, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("strat_docs"), sum(col("toks")).as("strat_tok_sum"))
      val bern = Sampling.bernoulli(docs, "doc_id", 200)
        .groupBy(col("source")).agg(count(lit(1)).as("bern_docs"))
      strat.join(bern, Seq("source"), "left")
        .select(col("source"), col("strat_docs"), col("strat_tok_sum"),
          coalesce(col("bern_docs"), lit(0L)).as("bern_docs"))
    },
    Some("""WITH h AS (SELECT source, doc_id,
        len(regexp_extract_all(text, '\S+')) AS toks,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM documents),
      strat AS (SELECT source, doc_id, toks FROM (SELECT source, doc_id, toks,
          row_number() OVER (PARTITION BY source ORDER BY hu ASC, doc_id ASC) AS rk
        FROM h) WHERE rk <= 10),
      sa AS (SELECT source, count(*) AS strat_docs,
        cast(sum(toks) AS BIGINT) AS strat_tok_sum FROM strat GROUP BY source),
      bern AS (SELECT source, count(*) AS bern_docs FROM h
        WHERE hu % 1000 < 200 GROUP BY source)
      SELECT sa.source AS source, strat_docs, strat_tok_sum,
        cast(coalesce(bern.bern_docs, 0) AS BIGINT) AS bern_docs
      FROM sa LEFT JOIN bern ON sa.source = bern.source"""))

  // the multimodal → ANN composition end-to-end: documents as opaque
  // media payloads → stub decode → frame sampling → per-frame descriptor
  // histograms → IVF ANN over the descriptors (frames of docs < 10 query
  // the rest). Every stage is deterministic, so the WHOLE chain — frame
  // byte ranges, float32 descriptor quantization, centroid assignment,
  // probe-limited search — is value-checked in SQL (descriptors rebuilt
  // from hex(blob) high nibbles: bins=16 makes the histogram bin exactly
  // the byte's high hex digit).
  private val q48 = QueryDef("q48_media_ivf_ann",
    (s, d) => {
      // docs shorter than the max frame count would yield empty frames
      // (zero-norm descriptors); a real pipeline drops sub-frame media
      val docs = rd(s, d, "documents")
        .where(octet_length(encode(col("text"), "UTF-8")) >= 30)
      val media = Multimodal.asMedia(s,
        docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload", "video")
      // NOT pinned (measured): a localCheckpoint of the typed
      // decode→sample→extract chain costs more at this scale than the
      // re-evaluations it saves — the duplicated subtrees run in
      // parallel stages while an eager materialization serializes them
      // (2.8 s pinned vs 1.9 s unpinned, clean-window full-bench runs)
      val feats = Multimodal.extractFeatures(
        Multimodal.sampleFrames(media, every = 10), bins = 16)
        .select((col("media_id") * 100 + col("frame_idx")).as("vid"), col("feature"))
      Similarity.ivfTopK(feats.where(col("vid") < 1000), feats.where(col("vid") >= 1000),
        "vid", "vid", "feature", "feature", k = 5, seedMod = 64L, nProbe = 4)
        .select(col("query_id"), col("corpus_id"), col("cos_q"), col("rk"))
    },
    Some("""WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        octet_length(encode(text)) AS n,
        (octet_length(encode(text)) % 30) + 1 AS frames
        FROM documents WHERE octet_length(encode(text)) >= 30),
      fr AS (SELECT doc_id, hx, f, (n * f) // frames AS s,
          (n * (f + 1)) // frames AS e
        FROM m CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS f) ff
        WHERE f < frames AND f % 10 = 0),
      by AS (SELECT doc_id, f, e - s AS total,
          strpos('0123456789ABCDEF', substring(hx, 2 * (s + i) - 1, 1)) - 1 AS bin
        FROM fr CROSS JOIN LATERAL (SELECT unnest(generate_series(1, e - s)) AS i) ii),
      hist AS (SELECT doc_id, f, total, bin, count(*) AS c
        FROM by GROUP BY doc_id, f, total, bin),
      grid AS (SELECT doc_id, f, e - s AS total, b
        FROM fr CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) bb),
      hv AS (SELECT g.doc_id, g.f, g.total, g.b, coalesce(h.c, 0) AS c
        FROM grid g LEFT JOIN hist h
          ON g.doc_id = h.doc_id AND g.f = h.f AND g.b = h.bin),
      vecs AS (SELECT doc_id * 100 + f AS vid,
          list(cast(floor(c::DOUBLE / greatest(total, 1) * 1000000) / 1000000
            AS FLOAT) ORDER BY b) AS v
        FROM hv GROUP BY doc_id, f),
      c AS (SELECT vid AS corpus_id, v AS cv,
        cast(list_sum(list_transform(generate_series(1, len(v)),
          i -> floor(v[i]::DOUBLE * v[i]::DOUBLE * 1000000))) as bigint) AS cn
        FROM vecs WHERE vid >= 1000),
      q AS (SELECT vid AS query_id, v AS qv,
        cast(list_sum(list_transform(generate_series(1, len(v)),
          i -> floor(v[i]::DOUBLE * v[i]::DOUBLE * 1000000))) as bigint) AS qn
        FROM vecs WHERE vid < 1000),
      seeds AS (SELECT corpus_id AS seed_id, cv AS sv, cn AS sn
        FROM c WHERE corpus_id % 64 = 0),
      asg AS (SELECT corpus_id, cv, cn, seed_id, row_number() OVER
          (PARTITION BY corpus_id ORDER BY
            cast(floor(cast(list_sum(list_transform(generate_series(1, len(cv)),
              i -> floor(cv[i]::DOUBLE * sv[i]::DOUBLE * 1000000))) as bigint)
              / sqrt(cn::DOUBLE * sn::DOUBLE) * 1000000) as bigint) DESC,
            seed_id ASC) AS rn
        FROM c CROSS JOIN seeds),
      assigned AS (SELECT corpus_id, cv, cn, seed_id AS centroid FROM asg WHERE rn = 1),
      prb AS (SELECT query_id, qv, qn, seed_id, row_number() OVER
          (PARTITION BY query_id ORDER BY
            cast(floor(cast(list_sum(list_transform(generate_series(1, len(qv)),
              i -> floor(qv[i]::DOUBLE * sv[i]::DOUBLE * 1000000))) as bigint)
              / sqrt(qn::DOUBLE * sn::DOUBLE) * 1000000) as bigint) DESC,
            seed_id ASC) AS rn
        FROM q CROSS JOIN seeds),
      probes AS (SELECT query_id, qv, qn, seed_id AS centroid FROM prb WHERE rn <= 4),
      sc AS (SELECT p.query_id, a.corpus_id,
        cast(floor(cast(list_sum(list_transform(generate_series(1, len(p.qv)),
          i -> floor(p.qv[i]::DOUBLE * a.cv[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(p.qn::DOUBLE * a.cn::DOUBLE) * 1000000) as bigint) AS cos_q
        FROM probes p JOIN assigned a ON a.centroid = p.centroid),
      r AS (SELECT query_id, corpus_id, cos_q, row_number() OVER
        (PARTITION BY query_id ORDER BY cos_q DESC, corpus_id ASC) AS rk FROM sc)
      SELECT query_id, corpus_id, cos_q, rk FROM r WHERE rk <= 5"""))

  // product quantization end-to-end: sample codebooks per subspace →
  // exact-integer argmin encode → ADC top-k via per-query LUTs. The
  // whole chain (train + encode + asymmetric scoring) is value-checked:
  // every score is an exact integer, so the oracle reproduces codebook
  // assignment and ADC sums digit-for-digit.
  private val q49 = QueryDef("q49_pq_adc_topk",
    (s, d) => {
      val emb = rd(s, d, "embeddings")
      val corpus = emb.where(col("vec_id") >= 10)
      val queries = emb.where(col("vec_id") < 10)
      val books = ProductQuant.codebooks(corpus, "vec_id", "embedding",
        dim = 64, m = 2, seedMod = 16L)
      val codes = ProductQuant.encode(corpus, "vec_id", "embedding", books, 64, 2)
      ProductQuant.adcTopK(queries, codes, books, "vec_id", "embedding", 64, 2, k = 5)
        .select(col("query_id"), col("corpus_id"), col("adc_q"), col("rk"))
    },
    Some("""WITH c AS (SELECT vec_id AS corpus_id, embedding AS cv
        FROM embeddings WHERE vec_id >= 10),
      q AS (SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 10),
      subs AS (SELECT unnest(generate_series(0, 1)) AS sub),
      books AS (SELECT sub, seed_id, sv,
          cast(row_number() OVER (PARTITION BY sub ORDER BY seed_id) - 1 AS INTEGER) AS code
        FROM (SELECT s.sub, corpus_id AS seed_id,
                cv[s.sub*32+1 : s.sub*32+32] AS sv
              FROM c CROSS JOIN subs s WHERE corpus_id % 16 = 0)),
      enc AS (SELECT corpus_id, sub, code, row_number() OVER
          (PARTITION BY corpus_id, sub ORDER BY cost ASC, code ASC) AS rn
        FROM (SELECT x.corpus_id, b.sub, b.code,
            cast(list_sum(list_transform(generate_series(1, 32),
              i -> floor(b.sv[i]::DOUBLE * b.sv[i]::DOUBLE * 1000000))) as bigint)
            - 2 * cast(list_sum(list_transform(generate_series(1, 32),
              i -> floor(x.csv[i]::DOUBLE * b.sv[i]::DOUBLE * 1000000))) as bigint) AS cost
          FROM (SELECT corpus_id, s.sub, cv[s.sub*32+1 : s.sub*32+32] AS csv
                FROM c CROSS JOIN subs s) x
          JOIN books b ON b.sub = x.sub)),
      codes AS (SELECT corpus_id, sub, code FROM enc WHERE rn = 1),
      lut AS (SELECT query_id, b.sub, b.code,
          cast(list_sum(list_transform(generate_series(1, 32),
            i -> floor(y.qsv[i]::DOUBLE * b.sv[i]::DOUBLE * 1000000))) as bigint) AS w
        FROM (SELECT query_id, s.sub, qv[s.sub*32+1 : s.sub*32+32] AS qsv
              FROM q CROSS JOIN subs s) y
        JOIN books b ON b.sub = y.sub),
      sc AS (SELECT l.query_id, cd.corpus_id, cast(sum(l.w) AS BIGINT) AS adc_q
        FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.code = cd.code
        GROUP BY l.query_id, cd.corpus_id),
      r AS (SELECT query_id, corpus_id, adc_q, row_number() OVER
        (PARTITION BY query_id ORDER BY adc_q DESC, corpus_id ASC) AS rk FROM sc)
      SELECT query_id, corpus_id, adc_q, rk FROM r WHERE rk <= 5"""))

  // three-leg CEP chain (batch mirror of streaming PatternDetect.sequence3):
  // view → its first click within 12 h → that click's first purchase
  // within 12 h, per user (MATCH_RECOGNIZE `A B C`, skip-past-first per leg)
  private val q50 = QueryDef("q50_pattern_chain",
    (s, d) => graft.streaming.PatternDetect.sequence3Batch(
      rd(s, d, "events"), "user_id", "ts", "event_type", "event_id",
      aKind = "view", bKind = "click", cKind = "purchase",
      within1Sec = 43200L, within2Sec = 43200L)
      .select(col("key").as("user_id"), col("a_id"), col("a_us"),
        col("b_id"), col("b_us"), col("c_id"), col("c_us")),
    Some("""WITH a AS (SELECT user_id AS key, epoch_us(ts) AS a_us, event_id AS a_id
        FROM events WHERE event_type = 'view'),
      b AS (SELECT user_id AS key, epoch_us(ts) AS b_us, event_id AS b_id
        FROM events WHERE event_type = 'click'),
      c AS (SELECT user_id AS key, epoch_us(ts) AS c_us, event_id AS c_id
        FROM events WHERE event_type = 'purchase'),
      ab AS (SELECT key, a_id, a_us, b_id, b_us FROM (
        SELECT a.key, a_id, a_us, b_id, b_us, row_number() OVER
          (PARTITION BY a.key, a_id ORDER BY b_us ASC, b_id ASC) AS rk
        FROM a JOIN b ON a.key = b.key
          AND b_us > a_us AND b_us <= a_us + 43200000000) WHERE rk = 1),
      abc AS (SELECT key, a_id, a_us, b_id, b_us, c_id, c_us FROM (
        SELECT ab.key, a_id, a_us, b_id, b_us, c_id, c_us, row_number() OVER
          (PARTITION BY ab.key, a_id ORDER BY c_us ASC, c_id ASC) AS rk
        FROM ab JOIN c ON ab.key = c.key
          AND c_us > b_us AND c_us <= b_us + 43200000000) WHERE rk = 1)
      SELECT key AS user_id, a_id, a_us, b_id, b_us, c_id, c_us FROM abc"""))

  // per-key quiescence (batch mirror of streaming PatternDetect.quiescence):
  // events that are their user's LAST activity for >= 12 h — the
  // "host went silent" CEP shape (absence with A = B = any event)
  private val q51 = QueryDef("q51_pattern_quiescence",
    (s, d) => graft.streaming.PatternDetect.quiescenceBatch(
      rd(s, d, "events"), "user_id", "ts", "event_id", withinSec = 43200L)
      .select(col("key").as("user_id"), col("a_id"), col("a_us")),
    Some("""SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
      FROM events a WHERE NOT EXISTS (
        SELECT 1 FROM events b WHERE b.user_id = a.user_id
          AND epoch_us(b.ts) > epoch_us(a.ts)
          AND epoch_us(b.ts) <= epoch_us(a.ts) + 43200000000)"""))

  // the INDEXED text-match serving path, value-checked end to end: the
  // inverted shingle index is built INCREMENTALLY in two chunks
  // (textIndexIncrement — the persisted-index maintenance unit), then
  // requests are served off the index alone (matchTextFromIndex: corpus
  // text never re-shingled). Oracle = q33's full-scan formula, so this
  // query PROVES index-serving ≡ direct matching, chunked build included.
  private val q52 = QueryDef("q52_indexed_text_match",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val corpus = docs.where(col("doc_id") >= 5)
      val index = RequestResponse.textIndexIncrement(
          corpus.where(col("doc_id") % 2 === 0), "doc_id", "text", n = 2)
        .unionByName(RequestResponse.textIndexIncrement(
          corpus.where(col("doc_id") % 2 === 1), "doc_id", "text", n = 2))
      RequestResponse.matchTextFromIndex(docs.where(col("doc_id") < 5), index,
        "doc_id", "text", k = 3, n = 2)
        .select(col("request_id"), col("doc_id"), col("score_q"),
          col("rk").cast(LongType).as("rk"))
    },
    Some("""WITH qsh AS (SELECT DISTINCT doc_id AS request_id,
        unnest(list_transform(generate_series(1, greatest(len(ts)-1, 0)),
          i -> ts[i] || ' ' || ts[i+1])) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
          FROM documents WHERE doc_id < 5)),
      qsz AS (SELECT request_id, count(*) AS q_sz FROM qsh GROUP BY 1),
      dsh AS (SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(ts)-1, 0)),
          i -> ts[i] || ' ' || ts[i+1])) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
          FROM documents WHERE doc_id >= 5)),
      hits AS (SELECT request_id, d.doc_id, count(*) AS inter
        FROM dsh d JOIN qsh q ON d.shingle = q.shingle GROUP BY 1, 2),
      sc AS (SELECT h.request_id, doc_id,
        cast(floor(1000 * inter / q_sz) as bigint) AS score_q
        FROM hits h JOIN qsz ON h.request_id = qsz.request_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY request_id
        ORDER BY score_q DESC, doc_id ASC) AS rk FROM sc)
      SELECT request_id, doc_id, score_q, rk FROM r WHERE rk <= 3"""))

  // the INDEXED IVF-PQ serving path, value-checked end to end: frozen
  // seeds + codebooks, the (corpus_id, centroid, codes) index built
  // INCREMENTALLY in two chunks (indexIncrement — what a streaming
  // maintenance job appends per readBetween batch), queries served off
  // the index alone (ivfAdcSearchIndex: probes + LUTs broadcast, the
  // scan reads m codes per row, raw corpus vectors never touched at
  // query time). Oracle composes q43's coarse assign/probe with q49's
  // codebook/encode/LUT formulas digit-for-digit.
  private val q53 = QueryDef("q53_ivf_pq_indexed",
    (s, d) => {
      val emb = rd(s, d, "embeddings")
      val corpus = emb.where(col("vec_id") >= 10)
      val seeds = corpus.where(col("vec_id") % 16 === 0)
        .select(col("vec_id").as("seed_id"), col("embedding").as("sv"),
          VectorOps.norm_q(col("embedding")).as("sn"))
      val books = ProductQuant.codebooks(corpus, "vec_id", "embedding",
        dim = 64, m = 2, seedMod = 16L)
      val index = ProductQuant.indexIncrement(
          corpus.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
          seeds, books, dim = 64, m = 2)
        .unionByName(ProductQuant.indexIncrement(
          corpus.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
          seeds, books, dim = 64, m = 2))
      ProductQuant.ivfAdcSearchIndex(emb.where(col("vec_id") < 10), index,
        seeds, books, "vec_id", "embedding", dim = 64, m = 2, k = 5, nProbe = 4)
        .select(col("query_id"), col("corpus_id"), col("adc_q"), col("rk"))
    },
    Some("""WITH c AS (SELECT vec_id AS corpus_id, embedding AS cv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS cn
        FROM embeddings WHERE vec_id >= 10),
      q AS (SELECT vec_id AS query_id, embedding AS qv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS qn
        FROM embeddings WHERE vec_id < 10),
      seeds AS (SELECT corpus_id AS seed_id, cv AS sv, cn AS sn
        FROM c WHERE corpus_id % 16 = 0),
      asg AS (SELECT corpus_id, seed_id, row_number() OVER
          (PARTITION BY corpus_id ORDER BY
            cast(floor(cast(list_sum(list_transform(generate_series(1, len(cv)),
              i -> floor(cv[i]::DOUBLE * sv[i]::DOUBLE * 1000000))) as bigint)
              / sqrt(cn::DOUBLE * sn::DOUBLE) * 1000000) as bigint) DESC,
            seed_id ASC) AS rn
        FROM c CROSS JOIN seeds),
      assigned AS (SELECT corpus_id, seed_id AS centroid FROM asg WHERE rn = 1),
      prb AS (SELECT query_id, seed_id, row_number() OVER
          (PARTITION BY query_id ORDER BY
            cast(floor(cast(list_sum(list_transform(generate_series(1, len(qv)),
              i -> floor(qv[i]::DOUBLE * sv[i]::DOUBLE * 1000000))) as bigint)
              / sqrt(qn::DOUBLE * sn::DOUBLE) * 1000000) as bigint) DESC,
            seed_id ASC) AS rn
        FROM q CROSS JOIN seeds),
      probes AS (SELECT query_id, seed_id AS centroid FROM prb WHERE rn <= 4),
      subs AS (SELECT unnest(generate_series(0, 1)) AS sub),
      books AS (SELECT sub, seed_id, sv,
          cast(row_number() OVER (PARTITION BY sub ORDER BY seed_id) - 1 AS INTEGER) AS code
        FROM (SELECT s.sub, corpus_id AS seed_id,
                cv[s.sub*32+1 : s.sub*32+32] AS sv
              FROM c CROSS JOIN subs s WHERE corpus_id % 16 = 0)),
      enc AS (SELECT corpus_id, sub, code, row_number() OVER
          (PARTITION BY corpus_id, sub ORDER BY cost ASC, code ASC) AS rn
        FROM (SELECT x.corpus_id, b.sub, b.code,
            cast(list_sum(list_transform(generate_series(1, 32),
              i -> floor(b.sv[i]::DOUBLE * b.sv[i]::DOUBLE * 1000000))) as bigint)
            - 2 * cast(list_sum(list_transform(generate_series(1, 32),
              i -> floor(x.csv[i]::DOUBLE * b.sv[i]::DOUBLE * 1000000))) as bigint) AS cost
          FROM (SELECT corpus_id, s.sub, cv[s.sub*32+1 : s.sub*32+32] AS csv
                FROM c CROSS JOIN subs s) x
          JOIN books b ON b.sub = x.sub)),
      codes AS (SELECT corpus_id, sub, code FROM enc WHERE rn = 1),
      lut AS (SELECT query_id, b.sub, b.code,
          cast(list_sum(list_transform(generate_series(1, 32),
            i -> floor(y.qsv[i]::DOUBLE * b.sv[i]::DOUBLE * 1000000))) as bigint) AS w
        FROM (SELECT query_id, s.sub, qv[s.sub*32+1 : s.sub*32+32] AS qsv
              FROM q CROSS JOIN subs s) y
        JOIN books b ON b.sub = y.sub),
      sc AS (SELECT l.query_id, cd.corpus_id, cast(sum(l.w) AS BIGINT) AS adc_q
        FROM codes cd
        JOIN assigned a ON a.corpus_id = cd.corpus_id
        JOIN probes p ON p.centroid = a.centroid
        JOIN lut l ON l.query_id = p.query_id AND l.sub = cd.sub AND l.code = cd.code
        GROUP BY l.query_id, cd.corpus_id),
      r AS (SELECT query_id, corpus_id, adc_q, row_number() OVER
        (PARTITION BY query_id ORDER BY adc_q DESC, corpus_id ASC) AS rk FROM sc)
      SELECT query_id, corpus_id, adc_q, rk FROM r WHERE rk <= 5"""))

  // BM25 keyword search served off the inverted postings index, built
  // INCREMENTALLY in two chunks (postingsIncrement — the maintenance
  // unit), df/corpus-stats derived from the index (never the raw text),
  // requests broadcast against one postings scan. The integer BM25
  // (odds-ratio idf ·10^6, per-mille tf saturation with avgdl_q = S div N;
  // see TextSearch scaladoc) is rebuilt digit-for-digit by the oracle.
  private val q54 = QueryDef("q54_bm25_search",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val corpus = docs.where(col("doc_id") >= 5)
      // pinned: bm25TopK, termDf and statsOf each derive from the
      // postings table — the persisted-index convention made explicit
      // (unpinned, the corpus tokenize+count would run three times)
      val postings = TextSearch.postingsIncrement(
          corpus.where(col("doc_id") % 2 === 0), "doc_id", "text")
        .unionByName(TextSearch.postingsIncrement(
          corpus.where(col("doc_id") % 2 === 1), "doc_id", "text"))
        .localCheckpoint()
      val qt = TextSearch.queryTerms(
        docs.where(col("doc_id") < 5), "doc_id", "text", maxTerms = 6)
      TextSearch.bm25TopK(qt, postings,
          TextSearch.termDf(postings), TextSearch.statsOf(postings), k = 10)
        .select(col("request_id"), col("doc_id"), col("score_q"), col("rk"))
    },
    Some("""WITH dt AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        FROM documents WHERE doc_id >= 5),
      post AS (SELECT doc_id, term, count(*) AS tf FROM
        (SELECT doc_id, unnest(ts) AS term FROM dt) GROUP BY 1, 2),
      dl AS (SELECT doc_id, len(ts) AS dl FROM dt),
      cs AS (SELECT n, s, s // n AS avgdl_q FROM
        (SELECT count(*) AS n, cast(sum(dl) AS BIGINT) AS s FROM dl)),
      df AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
      qt AS (SELECT DISTINCT doc_id AS request_id, unnest(ts[1:6]) AS term
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
          FROM documents WHERE doc_id < 5)),
      contrib AS (SELECT q.request_id, p.doc_id,
          ((2*cs.n - 2*df.df + 1) * 1000000 // (2*df.df + 1))
          * ((1000 * 22 * p.tf * cs.avgdl_q)
             // (10 * cs.avgdl_q * p.tf + 3 * cs.avgdl_q + 9 * dl.dl)) AS c
        FROM qt q JOIN post p ON p.term = q.term
        JOIN df ON df.term = q.term
        JOIN dl ON dl.doc_id = p.doc_id CROSS JOIN cs),
      sc AS (SELECT request_id, doc_id, cast(sum(c) AS BIGINT) AS score_q
        FROM contrib GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY request_id
        ORDER BY score_q DESC, doc_id ASC) AS rk FROM sc)
      SELECT request_id, doc_id, score_q, cast(rk AS BIGINT) AS rk
      FROM r WHERE rk <= 10"""))

  // benchmark decontamination: corpus docs flagged when they CONTAIN
  // >= 5% of some benchmark doc's 3-gram shingles (containment is
  // benchmark-normalized, not Jaccard — a short eval question inside a
  // long page must flag). Benchmark set = doc_id % 37 == 0 (tiny →
  // broadcast); corpus is shingled exactly once, no self-join.
  private val q55 = QueryDef("q55_contamination",
    (s, d) => {
      val docs = rd(s, d, "documents")
      Dedup.contaminationTag(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0),
        "doc_id", "text", "doc_id", "text", n = 3, minContainQ = 50L)
    },
    Some("""WITH bsh AS (SELECT DISTINCT doc_id AS bench_id,
        unnest(list_transform(generate_series(1, greatest(len(ts)-2, 0)),
          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
          FROM documents WHERE doc_id % 37 = 0)),
      bsz AS (SELECT bench_id, count(*) AS b_sz FROM bsh GROUP BY 1),
      csh AS (SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(ts)-2, 0)),
          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
          FROM documents WHERE doc_id % 37 <> 0)),
      hits AS (SELECT c.doc_id, b.bench_id, count(*) AS inter
        FROM csh c JOIN bsh b ON c.shingle = b.shingle GROUP BY 1, 2),
      sc AS (SELECT doc_id, bench_id,
          cast(1000 * inter // b_sz AS BIGINT) AS contain_q
        FROM hits JOIN bsz USING (bench_id))
      SELECT doc_id, bench_id, contain_q FROM sc WHERE contain_q >= 50"""))

  // token-window chunking (size 16, stride 12): the embedding-pipeline
  // fan-out, row-local and shuffle-free; chunk text value-checked via md5
  // so the slice/rejoin semantics (incl. the short tail chunk and the
  // whitespace-only-doc single empty chunk) match digit-for-digit.
  private val q56 = QueryDef("q56_token_chunks",
    (s, d) => {
      val docs = rd(s, d, "documents")
      TextAnalysis.chunkByTokens(docs, "doc_id", "text", size = 16, stride = 12)
        .select(col("doc_id"), col("chunk_idx"),
          TextAnalysis.tokenCount(col("chunk_text")).cast(LongType).as("chunk_toks"),
          md5(col("chunk_text").cast(BinaryType)).as("chunk_md5"))
    },
    Some("""WITH dt AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        FROM documents),
      ch AS (SELECT doc_id, cast(i AS BIGINT) AS chunk_idx,
          list_aggregate(ts[i*12+1 : i*12+16], 'string_agg', ' ') AS chunk
        FROM dt, unnest(generate_series(0, greatest((len(ts)-5)//12, 0))) AS t(i))
      SELECT doc_id, chunk_idx,
        cast(len(regexp_extract_all(chunk, '\S+')) AS BIGINT) AS chunk_toks,
        md5(chunk) AS chunk_md5 FROM ch"""))

  // transitive duplicate clusters over the verified LSH pair graph: the
  // dedup pipeline's last step (see operators.Components). Oracle is a
  // recursive-CTE transitive closure over the SAME pair set (q21's CTEs).
  private val q57 = QueryDef("q57_dup_clusters",
    (s, d) => {
      val pairs = Dedup.minhashLshPairs(rd(s, d, "documents"), "doc_id", "text",
        n = 3, bands = 8, minJaccQ = 500, maxDf = 50)
      Components.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
    },
    Some(s"""WITH RECURSIVE $lshPairsCtes,
      e AS (SELECT doc_a AS a, doc_b AS b FROM lshpairs
        UNION SELECT doc_b AS a, doc_a AS b FROM lshpairs),
      reach(id, lab) AS (
        SELECT DISTINCT a AS id, a AS lab FROM e
        UNION
        SELECT r.id, e.b AS lab FROM reach r JOIN e ON e.a = r.lab)
      SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id"""))

  // deterministic training-shard export: shard + dense within-shard
  // position as pure functions of the doc id (see Sampling.shardAssign);
  // oracle rebuilds the 48-bit md5 hash digit-wise like q47's
  private val q58 = QueryDef("q58_shard_export",
    (s, d) => Sampling.shardAssign(
        rd(s, d, "documents").select(col("doc_id")), "doc_id", nShards = 16)
      .select(col("doc_id"), col("shard"), col("pos")),
    Some("""WITH h AS (SELECT doc_id,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM documents)
      SELECT doc_id, cast(hu % 16 AS BIGINT) AS shard,
        row_number() OVER (PARTITION BY hu % 16 ORDER BY hu, doc_id) AS pos
      FROM h"""))

  // exact phrase search off the positional index: requests are the first
  // 3 tokens of docs 0-4, corpus is ALL docs (so each request matches at
  // least its own doc); index built in two chunks to exercise the
  // union-composable increment contract
  private val q59 = QueryDef("q59_phrase_search",
    (s, d) => {
      val docs = rd(s, d, "documents")
      // COMPACT layout (one row per (doc, term), sorted position array —
      // see TextSearch.positionsCompactIncrement), built in two chunks to
      // exercise the incremental path; same oracle as the row layout
      val positions = TextSearch.positionsCompactIncrement(
          docs.where(col("doc_id") % 2 === 0), "doc_id", "text")
        .unionByName(TextSearch.positionsCompactIncrement(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text"))
      val reqs = docs.where(col("doc_id") < 5)
        .select(col("doc_id"),
          concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 3)).as("phrase"))
      TextSearch.phraseMatchesCompact(
          TextSearch.phraseQueryTerms(reqs, "doc_id", "phrase"), positions)
        .select(col("request_id"), col("doc_id"), col("n_occ"), col("first_pos"))
    },
    Some("""WITH dt AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        FROM documents),
      pos AS (SELECT doc_id, ts[i] AS term, cast(i AS BIGINT) AS pos
        FROM dt, unnest(generate_series(1, len(ts))) AS t(i)),
      ph AS (SELECT doc_id AS request_id, ts[1:3] AS pts FROM dt WHERE doc_id < 5),
      qt AS (SELECT request_id, cast(o - 1 AS BIGINT) AS off, pts[o] AS term,
          cast(len(pts) AS BIGINT) AS plen
        FROM ph, unnest(generate_series(1, len(pts))) AS t(o)),
      starts AS (SELECT q.request_id, p.doc_id, p.pos - q.off AS start, q.plen,
          count(DISTINCT q.off) AS hits
        FROM qt q JOIN pos p ON p.term = q.term
        GROUP BY 1, 2, 3, 4 HAVING count(DISTINCT q.off) = q.plen)
      SELECT request_id, doc_id, count(*) AS n_occ, min(start) AS first_pos
      FROM starts GROUP BY 1, 2"""))

  // PII redaction gate (C4/CCNet scrub stage): deterministic PII-bearing
  // text derived from the documents table (the synthetic corpus carries no
  // addresses of its own), redacted with TextAnalysis.redactPii, audited
  // per language. Every count and the redacted char total are value-checked
  // digit-for-digit — the regexes are engine-portable by construction.
  private val q60 = QueryDef("q60_pii_redaction",
    (s, d) => {
      val (em, ip, ph) = TextAnalysis.piiCounts(col("ptext"))
      rd(s, d, "documents")
        .withColumn("ptext", concat(
          col("text"), lit(" contact admin"),
          col("doc_id").cast(StringType), lit("@example.com from 10."),
          (col("doc_id") % 256).cast(StringType), lit(".0.7"),
          when(col("doc_id") % 3 === 0, lit(" call 555-123-4567"))
            .otherwise(lit(""))))
        .select(col("lang"), TextAnalysis.redactPii(col("ptext")).as("red"),
          em.as("em"), ip.as("ip"), ph.as("ph"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("em")).as("n_emails"),
          sum(col("ip")).as("n_ips"),
          sum(col("ph")).as("n_phones"),
          sum(length(col("red")).cast(LongType)).as("red_chars"))
    },
    Some("""WITH p AS (SELECT lang,
        text || ' contact admin' || doc_id::VARCHAR || '@example.com from 10.'
          || (doc_id % 256)::VARCHAR || '.0.7'
          || (CASE WHEN doc_id % 3 = 0 THEN ' call 555-123-4567' ELSE '' END)
          AS ptext FROM documents),
      r AS (SELECT lang,
        regexp_replace(regexp_replace(regexp_replace(ptext,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
          '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS red,
        len(regexp_extract_all(ptext,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS em,
        len(regexp_extract_all(ptext, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS ip,
        len(regexp_extract_all(ptext, '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS ph
      FROM p)
      SELECT lang, count(*) AS docs, cast(sum(em) AS BIGINT) AS n_emails,
        cast(sum(ip) AS BIGINT) AS n_ips, cast(sum(ph) AS BIGINT) AS n_phones,
        cast(sum(length(red)) AS BIGINT) AS red_chars
      FROM r GROUP BY lang"""))

  // word-repetition quality signals (Gopher-style repetition filters):
  // most-frequent-word count and duplicated-word count per doc, rolled up
  // per source with a "top word >= 10% of all words" repetitive-doc flag.
  // Row-local HOFs over one shared split — no shuffle before the rollup.
  private val q61 = QueryDef("q61_repetition_signals",
    (s, d) => {
      val sig = rd(s, d, "documents")
        .select(col("source"), TextAnalysis.wordArray(col("text")).as("w"))
        .select(col("source"), size(col("w")).as("n"),
          size(array_distinct(col("w"))).as("dn"),
          TextAnalysis.topWordCount(col("w")).as("topn"),
          TextAnalysis.dupWordCount(col("w")).as("dupn"))
      sig.groupBy(col("source")).agg(
        count(lit(1)).as("docs"),
        sum(col("n")).as("sum_words"),
        sum(col("dn")).as("sum_distinct"),
        max(col("topn")).cast(LongType).as("max_top_word"),
        sum(col("dupn")).as("sum_dup_words"),
        sum(when(col("topn") * 10 >= col("n"), 1L).otherwise(0L))
          .as("n_repetitive"))
    },
    Some("""WITH w AS (SELECT source,
        string_split_regex(trim(text), '\s+') AS l FROM documents),
      f AS (SELECT source, len(l) AS n, len(list_distinct(l)) AS dn,
        list_max(list_transform(list_distinct(l),
          x -> len(list_filter(l, y -> y = x)))) AS topn,
        len(l) - len(list_filter(list_distinct(l),
          x -> len(list_filter(l, y -> y = x)) = 1)) AS dupn
      FROM w)
      SELECT source, count(*) AS docs, cast(sum(n) AS BIGINT) AS sum_words,
        cast(sum(dn) AS BIGINT) AS sum_distinct,
        cast(max(topn) AS BIGINT) AS max_top_word,
        cast(sum(dupn) AS BIGINT) AS sum_dup_words,
        cast(sum(CASE WHEN topn * 10 >= n THEN 1 ELSE 0 END) AS BIGINT)
          AS n_repetitive
      FROM f GROUP BY source"""))

  // URL canonicalization (URL-level dedup pre-pass): deterministic
  // mixed-case / default-port / shuffled-query / fragment URL variants
  // derived from events, canonicalized with UrlOps.canonicalizeUrl. The
  // canonical strings themselves are value-checked (min/max/char totals),
  // and canon_distinct < raw_distinct shows the dedup win.
  private val q62 = QueryDef("q62_url_canonical",
    (s, d) => {
      val url = concat(
        lit("HTTP://WWW.Site"), (col("user_id") % 50).cast(StringType),
        lit(".Example.COM"),
        when(col("event_id") % 4 === 0, lit(":80")).otherwise(lit("")),
        when(col("event_id") % 3 === 0, lit("")).otherwise(
          concat(lit("/p/"), (col("event_id") % 7).cast(StringType))),
        when(col("event_id") % 2 === 0,
          concat(lit("?b="), (col("user_id") % 5).cast(StringType), lit("&a=1&")))
          .otherwise(concat(lit("?a=1&b="), (col("user_id") % 5).cast(StringType))),
        lit("#sec"))
      rd(s, d, "events")
        .select(col("event_type"),
          when(col("event_id") % 97 === 0, lit("not a url")).otherwise(url).as("url"))
        .select(col("event_type"), col("url"),
          UrlOps.canonicalizeUrl(col("url")).as("canon"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("raw_distinct"),
          countDistinct(col("canon")).as("canon_distinct"),
          sum(when(col("canon").isNull, 1L).otherwise(0L)).as("n_invalid"),
          sum(length(col("canon")).cast(LongType)).as("canon_chars"),
          min(col("canon")).as("min_canon"),
          max(col("canon")).as("max_canon"))
    },
    Some("""WITH u AS (SELECT event_type,
        CASE WHEN event_id % 97 = 0 THEN 'not a url' ELSE
          'HTTP://WWW.Site' || (user_id % 50)::VARCHAR || '.Example.COM'
          || (CASE WHEN event_id % 4 = 0 THEN ':80' ELSE '' END)
          || (CASE WHEN event_id % 3 = 0 THEN ''
              ELSE '/p/' || (event_id % 7)::VARCHAR END)
          || (CASE WHEN event_id % 2 = 0
              THEN '?b=' || (user_id % 5)::VARCHAR || '&a=1&'
              ELSE '?a=1&b=' || (user_id % 5)::VARCHAR END)
          || '#sec' END AS url FROM events),
      nf_t AS (SELECT event_type, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
      p AS (SELECT event_type, url,
        lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS rawhost,
        regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        regexp_extract(nf, '\?([^#]*)', 1) AS q0
      FROM nf_t),
      c AS (SELECT event_type, url,
        CASE WHEN scheme = '' OR rawhost = '' THEN NULL ELSE
          scheme || '://'
          || (CASE WHEN scheme = 'http' THEN regexp_replace(rawhost, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443$', '')
              ELSE rawhost END)
          || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
          || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END)
        END AS canon
      FROM (SELECT *, array_to_string(list_sort(list_filter(
          string_split(q0, '&'), x -> x <> '')), '&') AS qs FROM p))
      SELECT event_type, count(*) AS n_urls,
        count(DISTINCT url) AS raw_distinct,
        count(DISTINCT canon) AS canon_distinct,
        cast(sum(CASE WHEN canon IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
        cast(sum(length(canon)) AS BIGINT) AS canon_chars,
        min(canon) AS min_canon, max(canon) AS max_canon
      FROM c GROUP BY event_type"""))

  // language-rebalanced sampling: per-stratum keep rates (a ratebook dim
  // broadcast against the corpus), membership still the stateless 48-bit
  // md5 predicate. The kept SET is value-checked via sum(doc_id) — a
  // fingerprint of exactly which rows survived.
  private val q63 = QueryDef("q63_stratified_sample",
    (s, d) => {
      import s.implicits._
      val rates = Seq(("en", 200), ("de", 500), ("fr", 700), ("es", 900),
        ("zh", 350)).toDF("lang", "kpm")
      val docs = rd(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("toks"))
      Sampling.bernoulliByStratum(docs, "doc_id", "lang", rates)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("toks")).as("tok_sum"))
    },
    Some("""WITH h AS (SELECT lang, doc_id,
        len(regexp_extract_all(text, '\S+')) AS toks,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM documents),
      r AS (SELECT * FROM (VALUES ('en', 200), ('de', 500), ('fr', 700),
        ('es', 900), ('zh', 350)) t(lang, kpm))
      SELECT h.lang AS lang, count(*) AS kept,
        cast(sum(doc_id) AS BIGINT) AS id_sum,
        cast(sum(toks) AS BIGINT) AS tok_sum
      FROM h JOIN r ON h.lang = r.lang
      WHERE hu % 1000 < kpm GROUP BY h.lang"""))

  // token-budget sequence packing over the deterministic shard order:
  // per-(shard, pack) doc counts, token sums, first in-pack offset, and
  // boundary-straddle counts — every number a pure function of
  // (doc_id, tokens), rebuilt in SQL from the same md5 hash + windows.
  private val q64 = QueryDef("q64_token_packing",
    (s, d) => {
      val docs = rd(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("toks"))
      Sampling.packByTokenBudget(docs, "doc_id", "toks", budget = 512L, nShards = 8)
        .groupBy(col("shard"), col("pack"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("pack_tokens"),
          min(col("pack_off")).as("first_off"),
          sum(when(col("pack_off") + col("toks") > 512, 1L).otherwise(0L))
            .as("n_straddle"))
    },
    Some("""WITH h AS (SELECT doc_id,
        len(regexp_extract_all(text, '\S+')) AS toks,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM documents),
      s AS (SELECT doc_id, toks, cast(hu % 8 AS BIGINT) AS shard,
        row_number() OVER (PARTITION BY hu % 8 ORDER BY hu ASC, doc_id ASC) AS pos
      FROM h),
      c AS (SELECT shard, toks,
        coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY pos ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM s)
      SELECT shard, cast(cb // 512 AS BIGINT) AS pack, count(*) AS n_docs,
        cast(sum(toks) AS BIGINT) AS pack_tokens,
        cast(min(cb % 512) AS BIGINT) AS first_off,
        cast(sum(CASE WHEN cb % 512 + toks > 512 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_straddle
      FROM c GROUP BY shard, cb // 512"""))

  // the whole corpus → training-sequences chain as ONE declarative plan
  // (gates → exact dedup → per-language rebalance → shard → pack): the
  // E1-topology idea applied to the LLM export job. The oracle replays
  // every stage (q45's gate/dedup CTEs, q63's ratebook, q64's packing
  // windows) and fingerprints the kept set via sum(doc_id); last_pos ==
  // n_docs doubles as a density check on the shard layout.
  // q65/q68's shared gate chain (quality + langId gates, then exact
  // dedup = first doc per fingerprint) ending in `kept`
  private val exportGateCtes = s"""f AS (SELECT doc_id, source, text,
        len(regexp_extract_all(text, '\\S+')) AS toks,
        length(regexp_replace(text, '\\s', '', 'g')) AS chars,
        len(regexp_extract_all(text, '\\b(the|a|and|of|is|to|in)\\b')) AS stop,
        len(regexp_extract_all(text, '${TextAnalysis.cjkPattern}')) AS cjk,
        len(regexp_extract_all(text, '\\b(the|and|of|is|was|this|that|with)\\b')) AS s_en,
        len(regexp_extract_all(text, '\\b(und|der|die|nicht|werden|eine?)\\b')) AS s_de,
        len(regexp_extract_all(text, '\\b(vous|dans|pour|faire|avec|les?)\\b')) AS s_fr,
        len(regexp_extract_all(text, '\\b(como|haber|tener|para|el|una?)\\b')) AS s_es
      FROM documents),
      g AS (SELECT doc_id, source, text, toks,
        (CASE WHEN toks >= 32 THEN 40 ELSE 0 END) +
        (CASE WHEN chars >= 200 THEN 20 ELSE 0 END) +
        (CASE WHEN toks > 0 AND floor((chars*10)/toks) BETWEEN 30 AND 90 THEN 20 ELSE 0 END) +
        (CASE WHEN stop >= 2 THEN 20 ELSE 0 END) AS q,
        CASE WHEN cjk >= 3 THEN 'zh'
          WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
          WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
          WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
          WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
          ELSE 'es' END AS pred
      FROM f),
      gated AS (SELECT *, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        FROM g WHERE q >= 60 AND pred <> 'und'),
      keep AS (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp),
      kept AS (SELECT gated.* FROM gated JOIN keep USING (fp, doc_id))"""

  private val q65 = QueryDef("q65_corpus_export",
    (s, d) => {
      import s.implicits._
      val rates = Seq(("en", 200), ("de", 500), ("fr", 700), ("es", 900),
        ("zh", 350)).toDF("lang", "kpm")
      TrainingExport.corpusToPacks(rd(s, d, "documents"), rates,
          minQuality = 60, budget = 512L, nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("pack")).as("n_packs"),
          sum(col("toks")).as("sum_toks"),
          sum(col("doc_id")).as("id_sum"),
          max(col("pos")).as("last_pos"))
    },
    Some(s"""WITH $exportGateCtes,
      h AS (SELECT doc_id, toks, pred,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM kept),
      r AS (SELECT * FROM (VALUES ('en', 200), ('de', 500), ('fr', 700),
        ('es', 900), ('zh', 350)) t(lang, kpm)),
      b AS (SELECT h.* FROM h JOIN r ON h.pred = r.lang
        WHERE hu % 1000 < kpm),
      s AS (SELECT doc_id, toks, cast(hu % 8 AS BIGINT) AS shard,
        row_number() OVER (PARTITION BY hu % 8 ORDER BY hu ASC, doc_id ASC) AS pos
      FROM b),
      c AS (SELECT shard, doc_id, toks, pos,
        coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY pos ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM s)
      SELECT shard, count(*) AS n_docs,
        count(distinct cb // 512) AS n_packs,
        cast(sum(toks) AS BIGINT) AS sum_toks,
        cast(sum(doc_id) AS BIGINT) AS id_sum,
        cast(max(pos) AS BIGINT) AS last_pos
      FROM c GROUP BY shard"""))

  // substring-level exact dedup (Lee et al. 2021): spans repeating across
  // distinct docs, rolled up per source. The oracle rebuilds every 8-token
  // window hash and the span document-frequency count verbatim.
  private val q66 = QueryDef("q66_dup_spans",
    (s, d) => {
      val docs = rd(s, d, "documents")
      Dedup.duplicatedSpanStats(docs, "doc_id", "text", n = 8)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_with_dup"),
          sum(col("dup_spans")).as("sum_dup_spans"),
          sum(col("dup_mass")).as("sum_dup_mass"))
    },
    Some("""WITH t AS (SELECT doc_id,
        string_split_regex(trim(text), '\s+') AS ts FROM documents),
      sp AS (SELECT DISTINCT doc_id, unnest(list_transform(
          generate_series(1, greatest(len(ts)-7, 0)),
          i -> md5(ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||
                   ts[i+4]||' '||ts[i+5]||' '||ts[i+6]||' '||ts[i+7])))
          AS span_hash
        FROM t),
      sdf AS (SELECT span_hash, count(*) AS n_docs FROM sp
        GROUP BY span_hash HAVING count(*) >= 2),
      per AS (SELECT sp.doc_id, count(*) AS dup_spans,
          sum(n_docs) AS dup_mass
        FROM sp JOIN sdf USING (span_hash) GROUP BY sp.doc_id)
      SELECT source, count(*) AS docs_with_dup,
        cast(sum(dup_spans) AS BIGINT) AS sum_dup_spans,
        cast(sum(dup_mass) AS BIGINT) AS sum_dup_mass
      FROM per JOIN documents USING (doc_id) GROUP BY source"""))

  // corpus rewrite: duplicated 8-token spans CUT from every doc (the Lee
  // et al. exact-substring-dedup output — see Dedup.removeDuplicatedSpans).
  // Output fingerprints the rewritten text per doc (token count + md5) so
  // the oracle re-derives kept-token ranges digit-for-digit in SQL:
  // positional windows → cross-doc-duplicated hashes → NOT-EXISTS
  // coverage test → ordered string_agg rejoin. Untouched docs must hash
  // to their ORIGINAL text (byte-identity property, asserted here, not
  // just in the spec).
  private val q67 = QueryDef("q67_span_removal",
    (s, d) => {
      val docs = rd(s, d, "documents").select(col("doc_id"), col("text"))
      val sdf = Dedup.spanDf(docs, "doc_id", "text", n = 8)
      Dedup.removeDuplicatedSpans(docs, sdf, "doc_id", "text", n = 8)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("kept_toks"),
          md5(col("text").cast(BinaryType)).as("text_md5"))
    },
    Some("""WITH t AS (SELECT doc_id, text,
        string_split_regex(trim(text), '\s+') AS ts FROM documents),
      w AS (SELECT doc_id, i - 1 AS pos,
          md5(ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||
              ts[i+4]||' '||ts[i+5]||' '||ts[i+6]||' '||ts[i+7]) AS h
        FROM t, unnest(generate_series(1, greatest(len(ts)-7, 0))) AS u(i)),
      dup AS (SELECT h FROM w GROUP BY h
        HAVING count(DISTINCT doc_id) >= 2),
      d AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (h)),
      cd AS (SELECT DISTINCT doc_id FROM d),
      k AS (SELECT t.doc_id, g.j, ts[g.j + 1] AS tok
        FROM t JOIN cd USING (doc_id),
          unnest(generate_series(0, len(ts) - 1)) AS g(j)
        WHERE NOT EXISTS (SELECT 1 FROM d
          WHERE d.doc_id = t.doc_id AND d.pos <= g.j AND g.j < d.pos + 8)),
      agg AS (SELECT doc_id, count(*) AS kept,
          string_agg(tok, ' ' ORDER BY j) AS newtext
        FROM k GROUP BY doc_id)
      SELECT t.doc_id,
        cast(CASE WHEN cd.doc_id IS NOT NULL THEN coalesce(agg.kept, 0)
          ELSE len(regexp_extract_all(t.text, '\S+')) END AS BIGINT) AS kept_toks,
        md5(CASE WHEN cd.doc_id IS NOT NULL THEN coalesce(agg.newtext, '')
          ELSE t.text END) AS text_md5
      FROM t
      LEFT JOIN cd ON t.doc_id = cd.doc_id
      LEFT JOIN agg ON t.doc_id = agg.doc_id"""))

  // cluster-resolved dedup export: q57's transitive clusters composed
  // into the q65 export chain — exactly ONE gated member of every
  // near-dup cluster survives into the packed layout (n_exported is
  // hash-checked to be 1 for every cluster with a gated member, and the
  // survivor is the min-id GATED member, so a cluster whose graph-min
  // failed the quality gate still exports). Ratebook all-1000 keeps the
  // focus on the dedup stage (the rebalance filter passes everything, so
  // the oracle can skip the r/b CTEs of q65).
  private val q68 = QueryDef("q68_dedup_export",
    (s, d) => {
      import s.implicits._
      val docs = rd(s, d, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 8, minJaccQ = 500, maxDf = 50)
      val labels = Components.connectedComponents(pairs, "id_a", "id_b")
      val rates = Seq(("en", 1000), ("de", 1000), ("fr", 1000), ("es", 1000),
        ("zh", 1000)).toDF("lang", "kpm")
      TrainingExport.corpusToPacks(docs, rates, minQuality = 60,
          budget = 512L, nShards = 8, nearDupLabels = Some(labels))
        .join(labels.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_exported"),
          min(col("doc_id")).as("kept_doc"),
          min(col("shard")).as("shard"),
          min(col("pos")).as("pos"),
          min(col("toks")).cast(LongType).as("toks"))
    },
    Some(s"""WITH RECURSIVE $lshPairsCtes,
      e AS (SELECT doc_a AS a, doc_b AS b FROM lshpairs
        UNION SELECT doc_b AS a, doc_a AS b FROM lshpairs),
      reach(id, lab) AS (
        SELECT DISTINCT a AS id, a AS lab FROM e
        UNION
        SELECT r.id, e.b AS lab FROM reach r JOIN e ON e.a = r.lab),
      lab2 AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
      $exportGateCtes,
      ck AS (SELECT lab2.cluster_id, min(kept.doc_id) AS keeper
        FROM kept JOIN lab2 ON kept.doc_id = lab2.id
        GROUP BY lab2.cluster_id),
      surv AS (SELECT kept.doc_id, kept.toks
        FROM kept LEFT JOIN lab2 ON kept.doc_id = lab2.id
        WHERE lab2.id IS NULL OR kept.doc_id IN (SELECT keeper FROM ck)),
      h AS (SELECT doc_id, toks,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM surv),
      s AS (SELECT doc_id, toks, cast(hu % 8 AS BIGINT) AS shard,
        row_number() OVER (PARTITION BY hu % 8 ORDER BY hu ASC, doc_id ASC) AS pos
      FROM h)
      SELECT lab2.cluster_id, count(*) AS n_exported,
        min(s.doc_id) AS kept_doc, min(s.shard) AS shard,
        cast(min(s.pos) AS BIGINT) AS pos,
        cast(min(s.toks) AS BIGINT) AS toks
      FROM s JOIN lab2 ON s.doc_id = lab2.id
      GROUP BY lab2.cluster_id"""))

  // packed-sequence MATERIALIZATION: the actual budget-token training
  // sequences cut from the q64 layout, straddling docs split token-exactly
  // across pack boundaries. The oracle replays the layout and rebuilds
  // every sequence's text (ordered string_agg of per-pack slices) — the
  // md5 check means every token landed in the right pack in the right
  // order; seq_toks == 512 for all but the final pack per shard.
  private val q69 = QueryDef("q69_packed_sequences",
    (s, d) => {
      val docs = rd(s, d, "documents").select(col("doc_id"), col("text"))
      TrainingExport.packedSequences(docs, "doc_id", "text",
          budget = 512L, nShards = 8)
        .select(col("shard"), col("pack"), col("seq_toks"),
          md5(col("seq_text").cast(BinaryType)).as("seq_md5"))
    },
    Some("""WITH t AS (SELECT doc_id,
        regexp_extract_all(text, '\S+') AS ts FROM documents),
      h AS (SELECT doc_id, ts, len(ts) AS toks,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM t),
      s AS (SELECT doc_id, ts, toks, cast(hu % 8 AS BIGINT) AS shard,
        row_number() OVER (PARTITION BY hu % 8 ORDER BY hu ASC, doc_id ASC) AS pos
      FROM h),
      c AS (SELECT shard, ts, toks, pos,
        coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY pos ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM s),
      p AS (SELECT shard, pos, ts, toks,
          cast(cb // 512 AS BIGINT) AS pack0, cast(cb % 512 AS BIGINT) AS off
        FROM c WHERE toks > 0),
      x AS (SELECT shard, pos, pack0 + u.rel AS pack,
          greatest(0, u.rel * 512 - off) AS lo,
          least(toks, (u.rel + 1) * 512 - off) AS hi, ts
        FROM p, unnest(generate_series(0,
          cast((off + toks - 1) // 512 AS BIGINT))) AS u(rel))
      SELECT shard, pack,
        cast(sum(hi - lo) AS BIGINT) AS seq_toks,
        md5(string_agg(array_to_string(ts[lo+1:hi], ' '), ' ' ORDER BY pos))
          AS seq_md5
      FROM x GROUP BY shard, pack"""))

  // mixture planning: derive the ratebook that hits a target per-language
  // mix (integer-exact: output size capped by the scarcest stratum), then
  // CLOSE THE LOOP through bernoulliByStratum and report planned vs
  // realized kept counts — the planned keep_docs/rate_pm and the realized
  // kept set (fingerprinted by sum(doc_id)) all rebuilt digit-for-digit.
  private val q70 = QueryDef("q70_mix_ratebook",
    (s, d) => {
      import s.implicits._
      val targets = Seq(("en", 400), ("de", 250), ("fr", 200), ("es", 100),
        ("zh", 50)).toDF("lang", "target_pm")
      val docs = rd(s, d, "documents").select(col("doc_id"), col("lang"))
      val rb = Sampling.ratebookForTargetMix(docs, "lang", targets)
      val kept = Sampling.bernoulliByStratum(docs, "doc_id", "lang",
          rb.select(col("lang"), col("rate_pm")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept"), sum(col("doc_id")).as("id_sum"))
      rb.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("target_pm"),
          col("keep_docs"), col("rate_pm"),
          coalesce(col("kept"), lit(0L)).as("kept"),
          coalesce(col("id_sum"), lit(0L)).as("id_sum"))
    },
    Some("""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
        GROUP BY lang),
      t AS (SELECT * FROM (VALUES ('en', 400), ('de', 250), ('fr', 200),
        ('es', 100), ('zh', 50)) tt(lang, target_pm)),
      j AS (SELECT c.lang, n_docs, cast(target_pm AS BIGINT) AS target_pm,
          (1000 * n_docs) // target_pm AS cap
        FROM c JOIN t USING (lang)),
      m AS (SELECT min(cap) AS n_out FROM j),
      r AS (SELECT lang, n_docs, target_pm,
          (n_out * target_pm) // 1000 AS keep_docs,
          (1000 * ((n_out * target_pm) // 1000)) // n_docs AS rate_pm
        FROM j, m),
      h AS (SELECT lang, doc_id,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM documents),
      k AS (SELECT h.lang, count(*) AS kept, sum(doc_id) AS id_sum
        FROM h JOIN r ON h.lang = r.lang
        WHERE hu % 1000 < rate_pm GROUP BY h.lang)
      SELECT r.lang AS lang, cast(n_docs AS BIGINT) AS n_docs, target_pm,
        cast(keep_docs AS BIGINT) AS keep_docs,
        cast(rate_pm AS BIGINT) AS rate_pm,
        cast(coalesce(kept, 0) AS BIGINT) AS kept,
        cast(coalesce(id_sum, 0) AS BIGINT) AS id_sum
      FROM r LEFT JOIN k ON r.lang = k.lang"""))

  // lexicon-based rare-token (OOV) gate: corpus term frequencies, then
  // per-doc rare fraction (tf < 3, counted with multiplicity), rolled up
  // per source — the doc side pre-reduced to (doc, term, cnt) before the
  // lexicon equi-join (the 100 TB shape: vocabulary rows shuffle, tokens
  // don't). Blank docs tokenize to [""] identically in both engines.
  private val q71 = QueryDef("q71_rare_token_filter",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val lex = TextAnalysis.termFrequencies(docs, "text")
      val stats = TextAnalysis.rareTokenStats(docs, "doc_id", "text", lex, 3L)
      stats.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), sum(col("n_toks")).as("n_toks"),
          sum(col("rare_toks")).as("rare_toks"),
          max(col("rare_q")).as("max_rare_q"))
    },
    Some("""WITH w AS (SELECT doc_id,
        unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
      lex AS (SELECT term, count(*) AS tf FROM w GROUP BY term),
      pt AS (SELECT doc_id, term, count(*) AS cnt FROM w
        GROUP BY doc_id, term),
      st AS (SELECT doc_id, sum(cnt) AS n_toks,
          coalesce(sum(CASE WHEN tf < 3 THEN cnt END), 0) AS rare_toks
        FROM pt LEFT JOIN lex USING (term) GROUP BY doc_id)
      SELECT source, count(*) AS docs,
        cast(sum(n_toks) AS BIGINT) AS n_toks,
        cast(sum(rare_toks) AS BIGINT) AS rare_toks,
        cast(max((1000 * rare_toks) // n_toks) AS BIGINT) AS max_rare_q
      FROM st JOIN documents USING (doc_id) GROUP BY source"""))

  // per-epoch deterministic reshuffle: two different epochs' permutations
  // of the same shard layout, each a pure function of (epoch, id) — the
  // permutations are value-checked via the order-sensitive fingerprint
  // sum(ord·doc_id) per shard (identical count, different fingerprints).
  private val q72 = QueryDef("q72_epoch_shuffle",
    (s, d) => {
      val docs = rd(s, d, "documents").select(col("doc_id"))
      val sa = Sampling.shardAssign(docs, "doc_id", 8).drop("pos")
      val e7 = TrainingExport.epochOrder(sa, "shard", "doc_id", 7L)
        .withColumnRenamed("ord", "ord7")
      val e8 = TrainingExport.epochOrder(e7, "shard", "doc_id", 8L)
        .withColumnRenamed("ord", "ord8")
      e8.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"),
          sum(col("ord7") * col("doc_id")).as("fp7"),
          sum(col("ord8") * col("doc_id")).as("fp8"))
    },
    Some("""WITH h AS (SELECT doc_id,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5('7:' || cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS e7,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5('8:' || cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS e8
        FROM documents),
      s AS (SELECT doc_id, cast(hu % 8 AS BIGINT) AS shard, e7, e8 FROM h),
      x AS (SELECT shard, doc_id,
          row_number() OVER (PARTITION BY shard ORDER BY e7 ASC, doc_id ASC)
            AS ord7,
          row_number() OVER (PARTITION BY shard ORDER BY e8 ASC, doc_id ASC)
            AS ord8
        FROM s)
      SELECT shard, count(*) AS n,
        cast(sum(ord7 * doc_id) AS BIGINT) AS fp7,
        cast(sum(ord8 * doc_id) AS BIGINT) AS fp8
      FROM x GROUP BY shard"""))

  // group-level dup-rate blocklist (RefinedWeb-style): per-source doc and
  // distinct-fingerprint counts, integer dup rate, and the block verdict
  // at 100‰ — emitted as 0/1 so the driver's type-sensitive hasher sees
  // BIGINT on both engines.
  private val q73 = QueryDef("q73_source_blocklist",
    (s, d) => Dedup.dupRateByGroup(rd(s, d, "documents"),
        "doc_id", "text", "source", maxDupQ = 100)
      .select(col("source"), col("n_docs"), col("n_distinct"), col("dup_q"),
        col("blocked").cast(LongType).as("blocked")),
    Some("""WITH g AS (SELECT source, count(*) AS n_docs,
        count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))
          AS n_distinct
        FROM documents GROUP BY source)
      SELECT source, n_docs, n_distinct,
        cast((1000 * (n_docs - n_distinct)) // n_docs AS BIGINT) AS dup_q,
        cast(CASE WHEN (1000 * (n_docs - n_distinct)) // n_docs >= 100
          THEN 1 ELSE 0 END AS BIGINT) AS blocked
      FROM g"""))

  // the rare-token SERVING path: lexicon built INCREMENTALLY in-query
  // (two lexiconIncrement chunks — the oracle rebuilds it from scratch,
  // so chunked ≡ batch is value-checked here too), then the broadcast
  // probe gates a small request batch against it (the q52/q53 pattern:
  // registry-check the batch twin of the streaming service).
  private val q74 = QueryDef("q74_rare_token_probe",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val lexicon = TextAnalysis.lexiconIncrement(
        TextAnalysis.termFrequencies(
          docs.where(col("doc_id") % 2 === 0), "text"),
        docs.where(col("doc_id") % 2 === 1), "text")
      RequestResponse.rareTokenProbe(docs.where(col("doc_id") < 12),
        lexicon, "doc_id", "text", minTf = 3L)
    },
    Some("""WITH w AS (SELECT doc_id,
        unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
      lex AS (SELECT term, count(*) AS tf FROM w GROUP BY term),
      pt AS (SELECT doc_id, term, count(*) AS cnt FROM w
        WHERE doc_id < 12 GROUP BY doc_id, term),
      st AS (SELECT doc_id, sum(cnt) AS n_toks,
          coalesce(sum(CASE WHEN tf >= 3 THEN cnt END), 0) AS known
        FROM pt LEFT JOIN lex USING (term) GROUP BY doc_id)
      SELECT doc_id AS request_id, cast(n_toks AS BIGINT) AS n_toks,
        cast(n_toks - known AS BIGINT) AS rare_toks,
        cast((1000 * (n_toks - known)) // n_toks AS BIGINT) AS rare_q
      FROM st"""))

  // the blocklist SERVING path: the persisted (group, fp, n) table built
  // in two dupRateIncrement chunks in-query — the oracle is q73's
  // one-pass SQL, so incremental ≡ batch is value-checked at the gate
  // (the q74 pattern for the dup-rate plane).
  private val q75 = QueryDef("q75_blocklist_increment",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val h0 = docs.where(lit(false)).select(col("source"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        lit(0L).as("n"))
      val (h1, _) = Dedup.dupRateIncrement(h0,
        docs.where(col("doc_id") % 2 === 0), "text", "source", 100)
      val (_, rates) = Dedup.dupRateIncrement(h1,
        docs.where(col("doc_id") % 2 === 1), "text", "source", 100)
      rates.select(col("source"), col("n_docs"), col("n_distinct"),
        col("dup_q"), col("blocked").cast(LongType).as("blocked"))
    },
    Some("""WITH g AS (SELECT source, count(*) AS n_docs,
        count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))
          AS n_distinct
        FROM documents GROUP BY source)
      SELECT source, n_docs, n_distinct,
        cast((1000 * (n_docs - n_distinct)) // n_docs AS BIGINT) AS dup_q,
        cast(CASE WHEN (1000 * (n_docs - n_distinct)) // n_docs >= 100
          THEN 1 ELSE 0 END AS BIGINT) AS blocked
      FROM g"""))

  // span-level EXACT benchmark decontamination (GPT-3/PaLM convention:
  // n = 13 verbatim token windows). Benchmark side = doc_id % 37 == 0
  // (q55's split); contamination is PLANTED like q60 plants PII — a fixed
  // 13-token sentinel appended to every 5th corpus doc and every 3rd
  // bench doc — so the exact-window hit path is value-exercised even if
  // the generator never repeats 13 tokens verbatim across docs. Bench
  // windows collapse to distinct hashes and broadcast; corpus is hashed
  // once rowwise (codegen'd SpanHashes), never shuffled on text.
  private val decontSentinel =
    "the quick brown fox jumps over the lazy dog near the old mill"
  private val q76 = QueryDef("q76_span_decontamination",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val corpus = docs.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" " + decontSentinel)))
            .otherwise(col("text")).as("text"))
      val bench = docs.where(col("doc_id") % 37 === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" " + decontSentinel)))
            .otherwise(col("text")).as("text"))
      Dedup.decontaminateBySpans(corpus, bench,
        "doc_id", "text", "doc_id", "text", n = 13)
    },
    Some("""WITH corp AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
          THEN text || ' the quick brown fox jumps over the lazy dog near the old mill'
          ELSE text END AS text
        FROM documents WHERE doc_id % 37 <> 0),
      ben AS (SELECT CASE WHEN doc_id % 3 = 0
          THEN text || ' the quick brown fox jumps over the lazy dog near the old mill'
          ELSE text END AS text
        FROM documents WHERE doc_id % 37 = 0),
      bt AS (SELECT string_split_regex(trim(text), '\s+') AS ts FROM ben),
      bh AS (SELECT DISTINCT
          md5(list_aggregate(ts[i : i+12], 'string_agg', ' ')) AS span_hash
        FROM bt, unnest(generate_series(1, greatest(len(ts)-12, 0))) AS t(i)),
      ct AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM corp),
      cw AS (SELECT DISTINCT doc_id,
          md5(list_aggregate(ts[i : i+12], 'string_agg', ' ')) AS span_hash
        FROM ct, unnest(generate_series(1, greatest(len(ts)-12, 0))) AS t(i)),
      sz AS (SELECT doc_id, count(*) AS n_spans FROM cw GROUP BY 1),
      hits AS (SELECT doc_id, count(*) AS hit_spans
        FROM cw JOIN bh USING (span_hash) GROUP BY 1)
      SELECT sz.doc_id, cast(n_spans AS BIGINT) AS n_spans,
        cast(coalesce(hit_spans, 0) AS BIGINT) AS hit_spans,
        coalesce(hit_spans, 0) > 0 AS tainted
      FROM sz LEFT JOIN hits USING (doc_id)"""))

  // encoding-sanity gate: mojibake (UTF-8-read-as-Latin-1) hit counts
  // rolled up per source. Artifacts are PLANTED q60-style (every 4th doc
  // gets Ã©/Ã± forms, every 6th the â€™/â€”/â€œ forms) so the gate is
  // value-exercised; the generator's own text is clean, which the zero
  // rows of un-planted sources would otherwise hide.
  private val q77 = QueryDef("q77_mojibake_gate",
    (s, d) => {
      rd(s, d, "documents")
        .withColumn("ptext", concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" cafÃ© seÃ±or")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0,
            lit(" donâ€™t â€” â€œquote")).otherwise(lit(""))))
        .select(col("source"),
          TextAnalysis.mojibakeCount(col("ptext")).as("hits"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("bad_docs"),
          sum(col("hits")).cast(LongType).as("sum_hits"),
          max(col("hits")).cast(LongType).as("max_hits"))
    },
    Some("""WITH p AS (SELECT source, text
          || (CASE WHEN doc_id % 4 = 0 THEN ' cafÃ© seÃ±or' ELSE '' END)
          || (CASE WHEN doc_id % 6 = 0 THEN ' donâ€™t â€” â€œquote' ELSE '' END)
          AS ptext FROM documents),
      h AS (SELECT source, len(regexp_extract_all(ptext,
          'â€™|â€œ|â€“|â€”|Ã©|Ã¨|Ã¼|Ã¶|Ã¤|Ã±|Ã§|Â°|Â·|Â»|Â«|ï»¿')) AS hits
        FROM p)
      SELECT source, count(*) AS docs,
        cast(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_docs,
        cast(sum(hits) AS BIGINT) AS sum_hits,
        cast(max(hits) AS BIGINT) AS max_hits
      FROM h GROUP BY source"""))

  // CCNet/RefinedWeb-style LINE-level dedup: lines recurring across
  // distinct docs (nav bars, cookie banners) cut from every doc, kept
  // lines rejoined in order. Line structure is PLANTED (the generator
  // writes single-line text): a boilerplate first line shared by all
  // docs, the original text as the middle line, a per-doc unique line,
  // and a last line that is either empty (every 3rd doc — whitespace-only
  // lines are exempt and must survive) or one of 5 shared cookie-banner
  // variants (duplicated, cut). Output fingerprints the rewrite per doc
  // (q67's shape) so order, trailing-empty handling, and byte identity of
  // untouched spans are value-checked digit-for-digit.
  private val q78 = QueryDef("q78_line_dedup",
    (s, d) => {
      val lined = rd(s, d, "documents").select(col("doc_id"),
        concat(lit("nav home about contact subscribe\n"), col("text"),
          lit("\nunique line "), col("doc_id").cast(StringType), lit("\n"),
          when(col("doc_id") % 3 === 0, lit(""))
            .otherwise(concat(lit("cookie banner "),
              (col("doc_id") % 5).cast(StringType)))).as("text"))
      Dedup.removeDuplicatedLines(lined, Dedup.lineDf(lined, "text"),
          "doc_id", "text", minDf = 2L)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("kept_toks"),
          md5(col("text").cast(BinaryType)).as("text_md5"))
    },
    Some("""WITH p AS (SELECT doc_id,
        'nav home about contact subscribe' || chr(10) || text || chr(10)
          || 'unique line ' || doc_id::VARCHAR || chr(10)
          || (CASE WHEN doc_id % 3 = 0 THEN ''
              ELSE 'cookie banner ' || (doc_id % 5)::VARCHAR END) AS ptext
        FROM documents),
      u AS (SELECT doc_id, ls[i] AS line, i AS pos
        FROM (SELECT doc_id, string_split(ptext, chr(10)) AS ls FROM p),
          unnest(generate_series(1, len(ls))) AS t(i)),
      d AS (SELECT line FROM
          (SELECT DISTINCT doc_id, line FROM u WHERE trim(line) <> '')
        GROUP BY line HAVING count(*) >= 2),
      k AS (SELECT doc_id, pos, line FROM u
        WHERE trim(line) = '' OR line NOT IN (SELECT line FROM d)),
      r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        FROM k GROUP BY doc_id)
      SELECT p.doc_id,
        cast(len(regexp_extract_all(coalesce(r.text, ''), '\S+')) AS BIGINT)
          AS kept_toks,
        md5(coalesce(r.text, '')) AS text_md5
      FROM p LEFT JOIN r USING (doc_id)"""))

  // link-graph plane: pages with deterministic outlinks synthesized from
  // events (q28's eventPages idiom) — two absolute links per page whose
  // target hosts derive from event columns (plus a relative link the
  // extractor must skip), so the whole chain — regex extraction off the
  // page BYTES, host normalization (mixed case via <A HREF>, :8080 port
  // strip), self-link drop, multiplicity — is value-exercised while the
  // oracle derives the same edges ARITHMETICALLY from the event columns
  // (an independent derivation, not a regex re-run).
  private def linkPages(s: SparkSession, d: String): DataFrame =
    rd(s, d, "events").select(
      concat(lit("h"), (col("user_id") % 50).cast(StringType),
        lit(".example.com")).as("host"),
      encode(concat(
        lit("<html><body><a href=\"https://h"),
        (col("event_id") % 50).cast(StringType),
        lit(".example.com/p?x=1\"> "), col("event_type"),
        lit(" </a> <A HREF='http://H"),
        ((col("event_id") + col("user_id")) % 50).cast(StringType),
        lit(".EXAMPLE.com:8080/q'>b</A><a href=\"/rel\">c</a></body></html>")),
        "UTF-8").as("html"))

  /** shared oracle CTE: the host edge list q79 materializes. */
  private val linkEdgesSql =
    """e AS (
      SELECT 'h' || cast(user_id % 50 AS VARCHAR) || '.example.com' AS src_host,
             'h' || cast(event_id % 50 AS VARCHAR) || '.example.com' AS dst_host
      FROM events
      UNION ALL
      SELECT 'h' || cast(user_id % 50 AS VARCHAR) || '.example.com',
             'h' || cast((event_id + user_id) % 50 AS VARCHAR) || '.example.com'
      FROM events),
    g AS (SELECT src_host, dst_host, count(*) AS n FROM e
      WHERE src_host <> dst_host GROUP BY 1, 2)"""

  /** shared oracle CTE chain: q80's 3-round integer PageRank over `g` —
    * used verbatim by q80 AND q83 so the two can never assert different
    * arithmetic (same sharing discipline as [[linkEdgesSql]]). */
  private val pagerankSql =
    """deg AS (SELECT src_host AS h, sum(n) AS d FROM g GROUP BY 1),
      nodes AS (SELECT DISTINCT h FROM
        (SELECT src_host AS h FROM g UNION SELECT dst_host FROM g)),
      r0 AS (SELECT h, cast(1000000 AS BIGINT) AS r FROM nodes),
      c1 AS (SELECT g.dst_host AS h, sum((r0.r * g.n) // deg.d) AS c
        FROM g JOIN r0 ON g.src_host = r0.h
        JOIN deg ON g.src_host = deg.h GROUP BY 1),
      r1 AS (SELECT nodes.h,
          150000 + (850000 * coalesce(c1.c, 0)) // 1000000 AS r
        FROM nodes LEFT JOIN c1 USING (h)),
      c2 AS (SELECT g.dst_host AS h, sum((r1.r * g.n) // deg.d) AS c
        FROM g JOIN r1 ON g.src_host = r1.h
        JOIN deg ON g.src_host = deg.h GROUP BY 1),
      r2 AS (SELECT nodes.h,
          150000 + (850000 * coalesce(c2.c, 0)) // 1000000 AS r
        FROM nodes LEFT JOIN c2 USING (h)),
      c3 AS (SELECT g.dst_host AS h, sum((r2.r * g.n) // deg.d) AS c
        FROM g JOIN r2 ON g.src_host = r2.h
        JOIN deg ON g.src_host = deg.h GROUP BY 1),
      r3 AS (SELECT nodes.h,
          150000 + (850000 * coalesce(c3.c, 0)) // 1000000 AS r
        FROM nodes LEFT JOIN c3 USING (h))"""

  private val q79 = QueryDef("q79_outlink_graph",
    (s, d) => LinkGraph.hostEdges(linkPages(s, d), "html", "host"),
    Some(s"""WITH $linkEdgesSql
      SELECT src_host, dst_host, cast(n AS BIGINT) AS n_links FROM g"""))

  // integer-arithmetic PageRank (3 rounds, damping 0.85, micro-units) over
  // the q79 edge list — every step BIGINT floor division, so the oracle
  // replays the iterations digit-for-digit (same discipline as q54's
  // integer idf). The '//'-vs-'div' pairing and the final BIGINT cast
  // keep DuckDB's HUGEINT sums off the wire (the q58 lesson).
  private val q80 = QueryDef("q80_host_pagerank",
    (s, d) => LinkGraph.pagerankInt(
      LinkGraph.hostEdges(linkPages(s, d), "html", "host"), iters = 3),
    Some(s"""WITH $linkEdgesSql,
      $pagerankSql
      SELECT h AS host, cast(r AS BIGINT) AS rank_micro FROM r3"""))

  // the q79/q80 chain served off the INCREMENTALLY-maintained edge table:
  // two page epochs (events split by event_id parity) folded via
  // edgesIncrement must yield bit-identical centrality to the one-pass
  // build — the oracle is q80's verbatim (link counts are additive over
  // disjoint page sets). Same registry pattern as q53/q75.
  private val q81 = QueryDef("q81_link_graph_increment",
    (s, d) => {
      val pages = linkPages(s, d)
      val chunk0 = pages.where(crc32(col("html")) % 2 === 0)
      val chunk1 = pages.where(crc32(col("html")) % 2 =!= 0)
      val merged = LinkGraph.edgesIncrement(
        LinkGraph.hostEdges(chunk0, "html", "host"), chunk1, "html", "host")
      LinkGraph.pagerankInt(merged, iters = 3)
    },
    q80.oracle)

  // anchor-text index: link-1 anchors carry event_type (padded with
  // spaces to exercise the trim), link-2 the constant 'b' — the oracle
  // derives (dst_host, anchor) arithmetically like q79's edge list.
  private val q82 = QueryDef("q82_anchor_text_index",
    (s, d) => LinkGraph.anchorIndex(linkPages(s, d), "html", "host"),
    Some("""WITH a AS (
        SELECT 'h' || cast(user_id % 50 AS VARCHAR) || '.example.com' AS src_host,
               'h' || cast(event_id % 50 AS VARCHAR) || '.example.com' AS dst_host,
               event_type AS anchor
        FROM events
        UNION ALL
        SELECT 'h' || cast(user_id % 50 AS VARCHAR) || '.example.com',
               'h' || cast((event_id + user_id) % 50 AS VARCHAR) || '.example.com',
               'b'
        FROM events)
      SELECT dst_host, anchor, cast(count(*) AS BIGINT) AS n_links
      FROM a WHERE src_host <> dst_host GROUP BY 1, 2"""))

  // link centrality as the dedup QUALITY PRIOR: exact-duplicate clusters
  // (fingerprint groups) keep the doc whose host ranks highest in the q80
  // PageRank — the score-ranked keeperPerCluster path (q68 checks the
  // min-id default), with docs mapped onto the link graph's host space
  // deterministically (doc_id % 50). The oracle replays the full chain:
  // 3 PageRank rounds + argmax per fingerprint group.
  private val q83 = QueryDef("q83_rank_ranked_keepers",
    (s, d) => {
      val ranks = LinkGraph.pagerankInt(
        LinkGraph.hostEdges(linkPages(s, d), "html", "host"), iters = 3)
      val docs = rd(s, d, "documents").select(col("doc_id"),
        concat(lit("h"), (col("doc_id") % 50).cast(StringType),
          lit(".example.com")).as("host"),
        md5(col("text").cast(BinaryType)).as("fp"))
      val labels = docs.select(col("doc_id").as("id"), col("fp").as("cluster_id"))
      val scores = docs.join(ranks, "host")
        .select(col("doc_id").as("id"), col("rank_micro").as("score"))
      Components.keeperPerCluster(labels, Some(scores))
    },
    Some(s"""WITH $linkEdgesSql,
      $pagerankSql,
      docs AS (SELECT doc_id,
          'h' || cast(doc_id % 50 AS VARCHAR) || '.example.com' AS host,
          md5(text) AS fp
        FROM documents),
      sc AS (SELECT d.doc_id, d.fp, r3.r AS score
        FROM docs d LEFT JOIN r3 ON d.host = r3.h),
      k AS (SELECT fp, doc_id, row_number() OVER
          (PARTITION BY fp ORDER BY score DESC NULLS LAST, doc_id ASC) AS rn
        FROM sc)
      SELECT fp AS cluster_id, cast(doc_id AS BIGINT) AS keeper
      FROM k WHERE rn = 1"""))

  // CCNet-style LM quality gate: a bigram model trained on the reference
  // slice (doc_id % 3 == 0), built INCREMENTALLY in two chunks (the
  // maintenance unit — foldCounts is what a per-epoch refresh runs), then
  // every other doc scored by mean quantized bigram likelihood (ppm,
  // integer-exact — see LanguageModel scaladoc) and bucketed into CCNet's
  // head/middle/tail tiers with frozen cutoffs applied row-locally (the
  // offline-quantile protocol; never a global ntile).
  private val q84 = QueryDef("q84_lm_quality_tiers",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val train = docs.where(col("doc_id") % 3 === 0)
      // pin the model table: scoreDocs derives c1 and V from it, so an
      // unpinned model DAG would re-run the corpus bigram count three
      // times (the "derived once and cached" serving convention the
      // LanguageModel scaladoc prescribes)
      val model = LanguageModel.foldCounts(
        LanguageModel.bigramIncrement(train.where(col("doc_id") % 2 === 0), "text"),
        LanguageModel.bigramIncrement(train.where(col("doc_id") % 2 === 1), "text"))
        .localCheckpoint()
      LanguageModel.tierByCutoffs(
        LanguageModel.scoreDocs(docs.where(col("doc_id") % 3 =!= 0),
          model, "doc_id", "text"),
        headMin = 34000L, midMin = 32700L)
    },
    Some("""WITH tr AS (SELECT string_split_regex(trim(text), '\s+') AS ts
        FROM documents WHERE doc_id % 3 = 0),
      bg AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
          i -> ts[i] || ' ' || ts[i+1])) AS bg
        FROM tr WHERE len(ts) >= 2),
      c2 AS (SELECT bg, cast(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1),
      c1 AS (SELECT split_part(bg, ' ', 1) AS w1,
          cast(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      v AS (SELECT cast(count(DISTINCT split_part(bg, ' ', 2)) + 1 AS BIGINT) AS v
        FROM c2),
      db AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
          i -> ts[i] || ' ' || ts[i+1])) AS bg
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
          FROM documents WHERE doc_id % 3 <> 0)
        WHERE len(ts) >= 2),
      p AS (SELECT doc_id,
          1000000 * (coalesce(c2.c2, 0) + 1) // (coalesce(c1.c1, 0) + v.v) AS p_q
        FROM db LEFT JOIN c2 ON c2.bg = db.bg
        LEFT JOIN c1 ON c1.w1 = split_part(db.bg, ' ', 1) CROSS JOIN v),
      sc AS (SELECT doc_id, cast(count(*) AS BIGINT) AS n_bigrams,
          cast(sum(p_q) AS BIGINT) // count(*) AS lm_q FROM p GROUP BY 1)
      SELECT doc_id, n_bigrams, lm_q,
        CASE WHEN lm_q >= 34000 THEN 'head'
             WHEN lm_q >= 32700 THEN 'middle'
             ELSE 'tail' END AS tier
      FROM sc"""))

  // the LM gate's SERVING path (q75's pattern for the blocklist): the
  // broadcast-decomposed probe — request batch broadcast into the
  // enriched model, smoothed sum reconstructed arithmetically, never a
  // shuffled left join against the model (RequestResponse.lmScoreProbe)
  // — must reproduce the straightforward left-join formula the oracle
  // states, digit for digit. Requests deliberately overlap the training
  // slice (a gate probes whatever arrives).
  private val q85 = QueryDef("q85_lm_gate_probe",
    (s, d) => {
      val docs = rd(s, d, "documents")
      // pinned: enrichModel/c1Of/vocabPlusOne each re-derive from the
      // model table (vocabPlusOne is an eager count), so the unpinned
      // DAG would re-run the bigram build four times
      val model = LanguageModel.bigramIncrement(
        docs.where(col("doc_id") % 3 === 0), "text").localCheckpoint()
      RequestResponse.lmScoreProbe(
        docs.where(col("doc_id") < 30),
        LanguageModel.enrichModel(model), LanguageModel.c1Of(model),
        LanguageModel.vocabPlusOne(model),
        "doc_id", "text", headMin = 34000L, midMin = 32700L)
    },
    Some("""WITH tr AS (SELECT string_split_regex(trim(text), '\s+') AS ts
        FROM documents WHERE doc_id % 3 = 0),
      bg AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
          i -> ts[i] || ' ' || ts[i+1])) AS bg
        FROM tr WHERE len(ts) >= 2),
      c2 AS (SELECT bg, cast(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1),
      c1 AS (SELECT split_part(bg, ' ', 1) AS w1,
          cast(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      v AS (SELECT cast(count(DISTINCT split_part(bg, ' ', 2)) + 1 AS BIGINT) AS v
        FROM c2),
      req AS (SELECT doc_id AS request_id, text FROM documents WHERE doc_id < 30),
      db AS (SELECT request_id, unnest(list_transform(generate_series(1, len(ts) - 1),
          i -> ts[i] || ' ' || ts[i+1])) AS bg
        FROM (SELECT request_id, string_split_regex(trim(coalesce(text, '')), '\s+') AS ts
          FROM req)
        WHERE len(ts) >= 2),
      p AS (SELECT request_id,
          1000000 * (coalesce(c2.c2, 0) + 1) // (coalesce(c1.c1, 0) + v.v) AS p_q
        FROM db LEFT JOIN c2 ON c2.bg = db.bg
        LEFT JOIN c1 ON c1.w1 = split_part(db.bg, ' ', 1) CROSS JOIN v),
      sc AS (SELECT request_id, cast(count(*) AS BIGINT) AS n_bigrams,
          cast(sum(p_q) AS BIGINT) // count(*) AS lm_q FROM p GROUP BY 1)
      SELECT r.request_id,
        cast(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams, sc.lm_q,
        CASE WHEN sc.lm_q IS NULL THEN NULL
             WHEN sc.lm_q >= 34000 THEN 'head'
             WHEN sc.lm_q >= 32700 THEN 'middle'
             ELSE 'tail' END AS tier
      FROM (SELECT DISTINCT request_id FROM req) r
      LEFT JOIN sc USING (request_id)"""))

  // snapshot dedup: ONE row per canonical url, newest capture wins — the
  // serving-side read of a re-crawl log (UrlOps.latestSnapshot). The
  // synth log reuses q62's url spellings, so captures of the SAME fetch
  // under different raw spellings (:80 port, param order) must collapse
  // into one snapshot row whose payload is the newest capture's verbatim;
  // ties on ts break bytewise on (url, event_id) — struct-max field
  // order — which the oracle's ORDER BY replays exactly. Unfetchable
  // urls (the %97 poison) canonicalize to NULL and are dropped.
  // the synthetic re-crawl log shared by q86/q87: q62's url spellings
  // (port/param-order variants of the same fetch, %97 unfetchable
  // poison) with the event time as the capture time
  private def crawlLog(s: SparkSession, d: String) = {
    val url = concat(
      lit("HTTP://WWW.Site"), (col("user_id") % 50).cast(StringType),
      lit(".Example.COM"),
      when(col("event_id") % 4 === 0, lit(":80")).otherwise(lit("")),
      when(col("event_id") % 3 === 0, lit("")).otherwise(
        concat(lit("/p/"), (col("event_id") % 7).cast(StringType))),
      when(col("event_id") % 2 === 0,
        concat(lit("?b="), (col("user_id") % 5).cast(StringType), lit("&a=1&")))
        .otherwise(concat(lit("?a=1&b="), (col("user_id") % 5).cast(StringType))),
      lit("#sec"))
    rd(s, d, "events")
      .select(
        when(col("event_id") % 97 === 0, lit("not a url")).otherwise(url).as("url"),
        col("ts"), col("event_id"))
  }

  private val q86 = QueryDef("q86_latest_snapshot",
    (s, d) => UrlOps.latestSnapshot(crawlLog(s, d), "url", "ts"),
    Some("""WITH u AS (SELECT ts, event_id,
        CASE WHEN event_id % 97 = 0 THEN 'not a url' ELSE
          'HTTP://WWW.Site' || (user_id % 50)::VARCHAR || '.Example.COM'
          || (CASE WHEN event_id % 4 = 0 THEN ':80' ELSE '' END)
          || (CASE WHEN event_id % 3 = 0 THEN ''
              ELSE '/p/' || (event_id % 7)::VARCHAR END)
          || (CASE WHEN event_id % 2 = 0
              THEN '?b=' || (user_id % 5)::VARCHAR || '&a=1&'
              ELSE '?a=1&b=' || (user_id % 5)::VARCHAR END)
          || '#sec' END AS url FROM events),
      nf_t AS (SELECT ts, event_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
      p AS (SELECT ts, event_id, url,
        lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS rawhost,
        regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        regexp_extract(nf, '\?([^#]*)', 1) AS q0
      FROM nf_t),
      c AS (SELECT ts, event_id, url,
        CASE WHEN scheme = '' OR rawhost = '' THEN NULL ELSE
          scheme || '://'
          || (CASE WHEN scheme = 'http' THEN regexp_replace(rawhost, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443$', '')
              ELSE rawhost END)
          || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
          || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END)
        END AS canon
      FROM (SELECT *, array_to_string(list_sort(list_filter(
          string_split(q0, '&'), x -> x <> '')), '&') AS qs FROM p))
      SELECT canon AS canon_url, ts, url, event_id FROM (
        SELECT canon, ts, url, event_id, row_number() OVER (
          PARTITION BY canon ORDER BY ts DESC, url DESC, event_id DESC) AS rn
        FROM c WHERE canon IS NOT NULL)
      WHERE rn = 1"""))

  // snapshot MAINTENANCE: two epoch folds (UrlOps.snapshotIncrement) must
  // equal the one-pass snapshot — q86's oracle verbatim. Newest-wins is a
  // max, associative AND idempotent, so the second chunk deliberately
  // REPLAYS a slice of the first (%10 overlap of the %2 split): unlike
  // the count-shaped increments (q75 blocklist, q66 span-df), re-delivered
  // arrivals are absorbed, not double-counted — no disjointness
  // precondition from the exactly-once manifest.
  private val q87 = QueryDef("q87_snapshot_increment",
    (s, d) => {
      val log = crawlLog(s, d)
      val first = UrlOps.latestSnapshot(
        log.where(col("event_id") % 2 === 0), "url", "ts")
      UrlOps.snapshotIncrement(first,
        log.where(col("event_id") % 2 === 1 || col("event_id") % 10 === 0),
        "url", "ts")
    },
    q86.oracle)

  // DSIR importance weights (LanguageModel.importanceWeights): one
  // bigram-explode pass probed against TWO models — target slice
  // (%5=0) vs raw slice (%5=1) — scored docs the remaining 3/5 of the
  // corpus. w_target/w_raw must equal the two scoreDocs lm_q values
  // verbatim (the oracle rebuilds both model chains + the shared
  // per-doc aggregation digit-for-digit); dsir_q is their difference.
  private val q88 = QueryDef("q88_dsir_weights",
    (s, d) => {
      val docs = rd(s, d, "documents")
      // pinned: importanceWeights derives three artifacts per model
      val target = LanguageModel.bigramIncrement(
        docs.where(col("doc_id") % 5 === 0), "text").localCheckpoint()
      val raw = LanguageModel.bigramIncrement(
        docs.where(col("doc_id") % 5 === 1), "text").localCheckpoint()
      LanguageModel.importanceWeights(docs.where(col("doc_id") % 5 >= 2),
        target, raw, "doc_id", "text")
    },
    Some("""WITH tt AS (SELECT string_split_regex(trim(text), '\s+') AS ts
        FROM documents WHERE doc_id % 5 = 0),
      tb AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
          i -> ts[i] || ' ' || ts[i+1])) AS bg FROM tt WHERE len(ts) >= 2),
      t2 AS (SELECT bg, cast(count(*) AS BIGINT) AS c2_t FROM tb GROUP BY 1),
      t1 AS (SELECT split_part(bg, ' ', 1) AS w1,
          cast(sum(c2_t) AS BIGINT) AS c1_t FROM t2 GROUP BY 1),
      tv AS (SELECT cast(count(DISTINCT split_part(bg, ' ', 2)) + 1 AS BIGINT) AS v_t
        FROM t2),
      rt AS (SELECT string_split_regex(trim(text), '\s+') AS ts
        FROM documents WHERE doc_id % 5 = 1),
      rb AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
          i -> ts[i] || ' ' || ts[i+1])) AS bg FROM rt WHERE len(ts) >= 2),
      r2 AS (SELECT bg, cast(count(*) AS BIGINT) AS c2_r FROM rb GROUP BY 1),
      r1 AS (SELECT split_part(bg, ' ', 1) AS w1,
          cast(sum(c2_r) AS BIGINT) AS c1_r FROM r2 GROUP BY 1),
      rv AS (SELECT cast(count(DISTINCT split_part(bg, ' ', 2)) + 1 AS BIGINT) AS v_r
        FROM r2),
      db AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
          i -> ts[i] || ' ' || ts[i+1])) AS bg
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
          FROM documents WHERE doc_id % 5 >= 2)
        WHERE len(ts) >= 2),
      p AS (SELECT doc_id,
          1000000 * (coalesce(t2.c2_t, 0) + 1) // (coalesce(t1.c1_t, 0) + tv.v_t) AS p_t,
          1000000 * (coalesce(r2.c2_r, 0) + 1) // (coalesce(r1.c1_r, 0) + rv.v_r) AS p_r
        FROM db LEFT JOIN t2 ON t2.bg = db.bg
        LEFT JOIN r2 ON r2.bg = db.bg
        LEFT JOIN t1 ON t1.w1 = split_part(db.bg, ' ', 1)
        LEFT JOIN r1 ON r1.w1 = split_part(db.bg, ' ', 1)
        CROSS JOIN tv CROSS JOIN rv)
      SELECT doc_id, cast(count(*) AS BIGINT) AS n_bigrams,
        cast(sum(p_t) AS BIGINT) // count(*) AS w_target,
        cast(sum(p_r) AS BIGINT) // count(*) AS w_raw,
        cast(sum(p_t) AS BIGINT) // count(*)
          - cast(sum(p_r) AS BIGINT) // count(*) AS dsir_q
      FROM p GROUP BY 1"""))

  // SemDeDup (Similarity.semDedupVerdicts): embedding-space near-dup
  // verdicts — coarse cells from the deterministic %16 seed sample
  // (q43's assignment formula, score kept), within-cell drop iff a
  // better-ranked cell-mate (LOWER centroid-cosine wins, ties to lower
  // id — the paper keeps the cluster's atypical examples) sits at
  // cos_q >= threshold. One verdict row per vector.
  private val q89 = QueryDef("q89_semdedup",
    (s, d) => Similarity.semDedupVerdicts(rd(s, d, "embeddings"),
      "vec_id", "embedding", minCosQ = 150000L, seedMod = 16L),
    Some("""WITH c AS (SELECT vec_id AS corpus_id, embedding AS cv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS cn
        FROM embeddings),
      seeds AS (SELECT corpus_id AS seed_id, cv AS sv, cn AS sn
        FROM c WHERE corpus_id % 16 = 0),
      asg AS (SELECT corpus_id, cv, cn, seed_id AS centroid, sc AS cos_c,
          row_number() OVER (PARTITION BY corpus_id
            ORDER BY sc DESC, seed_id ASC) AS rn
        FROM (SELECT corpus_id, cv, cn, seed_id,
          cast(floor(cast(list_sum(list_transform(generate_series(1, len(cv)),
            i -> floor(cv[i]::DOUBLE * sv[i]::DOUBLE * 1000000))) as bigint)
            / sqrt(cn::DOUBLE * sn::DOUBLE) * 1000000) as bigint) AS sc
          FROM c CROSS JOIN seeds)),
      a AS (SELECT corpus_id, cv, cn, centroid, cos_c FROM asg WHERE rn = 1),
      drops AS (SELECT DISTINCT x.corpus_id FROM a x JOIN a y
        ON x.centroid = y.centroid AND y.corpus_id <> x.corpus_id
        AND (y.cos_c < x.cos_c
          OR (y.cos_c = x.cos_c AND y.corpus_id < x.corpus_id))
        WHERE cast(floor(cast(list_sum(list_transform(generate_series(1, len(x.cv)),
          i -> floor(x.cv[i]::DOUBLE * y.cv[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(x.cn::DOUBLE * y.cn::DOUBLE) * 1000000) as bigint) >= 150000)
      SELECT a.corpus_id, a.centroid, a.cos_c,
        (d.corpus_id IS NULL) AS kept
      FROM a LEFT JOIN drops d ON d.corpus_id = a.corpus_id"""))

  // the DSIR gate's SERVING path (q85's pattern doubled): the request
  // batch tokenized once and probed against BOTH persisted model
  // artifact sets with the broadcast-decomposed reconstruction
  // (RequestResponse.dsirProbe) — must reproduce q88's straightforward
  // two-model left-join formula digit for digit. Requests deliberately
  // overlap the training slices; unscoreable requests answered with
  // NULL scores.
  private val q90 = QueryDef("q90_dsir_probe",
    (s, d) => {
      val docs = rd(s, d, "documents")
      // pinned: four artifact derivations + an eager vocab count PER
      // MODEL would otherwise re-run each bigram build
      val target = LanguageModel.bigramIncrement(
        docs.where(col("doc_id") % 5 === 0), "text").localCheckpoint()
      val raw = LanguageModel.bigramIncrement(
        docs.where(col("doc_id") % 5 === 1), "text").localCheckpoint()
      RequestResponse.dsirProbe(docs.where(col("doc_id") < 30),
        LanguageModel.enrichModel(target), LanguageModel.c1Of(target),
        LanguageModel.vocabPlusOne(target),
        LanguageModel.enrichModel(raw), LanguageModel.c1Of(raw),
        LanguageModel.vocabPlusOne(raw),
        "doc_id", "text")
    },
    Some("""WITH tt AS (SELECT string_split_regex(trim(text), '\s+') AS ts
        FROM documents WHERE doc_id % 5 = 0),
      tb AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
          i -> ts[i] || ' ' || ts[i+1])) AS bg FROM tt WHERE len(ts) >= 2),
      t2 AS (SELECT bg, cast(count(*) AS BIGINT) AS c2_t FROM tb GROUP BY 1),
      t1 AS (SELECT split_part(bg, ' ', 1) AS w1,
          cast(sum(c2_t) AS BIGINT) AS c1_t FROM t2 GROUP BY 1),
      tv AS (SELECT cast(count(DISTINCT split_part(bg, ' ', 2)) + 1 AS BIGINT) AS v_t
        FROM t2),
      rt AS (SELECT string_split_regex(trim(text), '\s+') AS ts
        FROM documents WHERE doc_id % 5 = 1),
      rb AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
          i -> ts[i] || ' ' || ts[i+1])) AS bg FROM rt WHERE len(ts) >= 2),
      r2 AS (SELECT bg, cast(count(*) AS BIGINT) AS c2_r FROM rb GROUP BY 1),
      r1 AS (SELECT split_part(bg, ' ', 1) AS w1,
          cast(sum(c2_r) AS BIGINT) AS c1_r FROM r2 GROUP BY 1),
      rv AS (SELECT cast(count(DISTINCT split_part(bg, ' ', 2)) + 1 AS BIGINT) AS v_r
        FROM r2),
      req AS (SELECT doc_id AS request_id, text FROM documents WHERE doc_id < 30),
      db AS (SELECT request_id, unnest(list_transform(generate_series(1, len(ts) - 1),
          i -> ts[i] || ' ' || ts[i+1])) AS bg
        FROM (SELECT request_id, string_split_regex(trim(coalesce(text, '')), '\s+') AS ts
          FROM req)
        WHERE len(ts) >= 2),
      p AS (SELECT request_id,
          1000000 * (coalesce(t2.c2_t, 0) + 1) // (coalesce(t1.c1_t, 0) + tv.v_t) AS p_t,
          1000000 * (coalesce(r2.c2_r, 0) + 1) // (coalesce(r1.c1_r, 0) + rv.v_r) AS p_r
        FROM db LEFT JOIN t2 ON t2.bg = db.bg
        LEFT JOIN r2 ON r2.bg = db.bg
        LEFT JOIN t1 ON t1.w1 = split_part(db.bg, ' ', 1)
        LEFT JOIN r1 ON r1.w1 = split_part(db.bg, ' ', 1)
        CROSS JOIN tv CROSS JOIN rv),
      sc AS (SELECT request_id, cast(count(*) AS BIGINT) AS n_bigrams,
          cast(sum(p_t) AS BIGINT) // count(*) AS w_target,
          cast(sum(p_r) AS BIGINT) // count(*) AS w_raw,
          cast(sum(p_t) AS BIGINT) // count(*)
            - cast(sum(p_r) AS BIGINT) // count(*) AS dsir_q
        FROM p GROUP BY 1)
      SELECT r.request_id,
        cast(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        sc.w_target, sc.w_raw, sc.dsir_q
      FROM (SELECT DISTINCT request_id FROM req) r
      LEFT JOIN sc USING (request_id)"""))

  // SemDeDup MAINTENANCE (Similarity.semDedupIncrement): epoch 2 of the
  // embeddings (%2=1) deduped against the PERSISTED kept-vector history
  // of epoch 1 (%2=0, semDedupAssigned's kept rows) under the frozen
  // %16 seed table — already-kept history cell-mates claim first, then
  // q89's batch rank rule applies within the chunk. The oracle rebuilds
  // both epochs' verdict chains digit-for-digit.
  private val q91 = QueryDef("q91_semdedup_increment",
    (s, d) => {
      val c = rd(s, d, "embeddings").select(col("vec_id").as("corpus_id"),
        col("embedding").as("cv"), VectorOps.norm_q(col("embedding")).as("cn"))
      val seeds = c.where(col("corpus_id") % 16 === 0)
        .select(col("corpus_id").as("seed_id"), col("cv").as("sv"),
          col("cn").as("sn"))
      val hist = Similarity.semDedupAssigned(
          c.where(col("corpus_id") % 2 === 0), seeds, 150000L)
        .where(col("kept")).select("corpus_id", "cv", "cn", "centroid")
      Similarity.semDedupIncrement(hist,
        c.where(col("corpus_id") % 2 === 1), seeds, 150000L)
    },
    Some("""WITH c AS (SELECT vec_id AS corpus_id, embedding AS cv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS cn
        FROM embeddings),
      seeds AS (SELECT corpus_id AS seed_id, cv AS sv, cn AS sn
        FROM c WHERE corpus_id % 16 = 0),
      asg AS (SELECT corpus_id, cv, cn, seed_id AS centroid, sc AS cos_c,
          row_number() OVER (PARTITION BY corpus_id
            ORDER BY sc DESC, seed_id ASC) AS rn
        FROM (SELECT corpus_id, cv, cn, seed_id,
          cast(floor(cast(list_sum(list_transform(generate_series(1, len(cv)),
            i -> floor(cv[i]::DOUBLE * sv[i]::DOUBLE * 1000000))) as bigint)
            / sqrt(cn::DOUBLE * sn::DOUBLE) * 1000000) as bigint) AS sc
          FROM c CROSS JOIN seeds)),
      a AS (SELECT corpus_id, cv, cn, centroid, cos_c FROM asg WHERE rn = 1),
      a1 AS (SELECT * FROM a WHERE corpus_id % 2 = 0),
      d1 AS (SELECT DISTINCT x.corpus_id FROM a1 x JOIN a1 y
        ON x.centroid = y.centroid AND y.corpus_id <> x.corpus_id
        AND (y.cos_c < x.cos_c
          OR (y.cos_c = x.cos_c AND y.corpus_id < x.corpus_id))
        WHERE cast(floor(cast(list_sum(list_transform(generate_series(1, len(x.cv)),
          i -> floor(x.cv[i]::DOUBLE * y.cv[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(x.cn::DOUBLE * y.cn::DOUBLE) * 1000000) as bigint) >= 150000),
      hist AS (SELECT a1.* FROM a1 LEFT JOIN d1 ON d1.corpus_id = a1.corpus_id
        WHERE d1.corpus_id IS NULL),
      a2 AS (SELECT * FROM a WHERE corpus_id % 2 = 1),
      dh AS (SELECT DISTINCT x.corpus_id FROM a2 x JOIN hist y
        ON x.centroid = y.centroid
        WHERE cast(floor(cast(list_sum(list_transform(generate_series(1, len(x.cv)),
          i -> floor(x.cv[i]::DOUBLE * y.cv[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(x.cn::DOUBLE * y.cn::DOUBLE) * 1000000) as bigint) >= 150000),
      dc AS (SELECT DISTINCT x.corpus_id FROM a2 x JOIN a2 y
        ON x.centroid = y.centroid AND y.corpus_id <> x.corpus_id
        AND (y.cos_c < x.cos_c
          OR (y.cos_c = x.cos_c AND y.corpus_id < x.corpus_id))
        WHERE cast(floor(cast(list_sum(list_transform(generate_series(1, len(x.cv)),
          i -> floor(x.cv[i]::DOUBLE * y.cv[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(x.cn::DOUBLE * y.cn::DOUBLE) * 1000000) as bigint) >= 150000),
      drops AS (SELECT corpus_id FROM dh UNION SELECT corpus_id FROM dc)
      SELECT a2.corpus_id, a2.centroid, a2.cos_c,
        (d.corpus_id IS NULL) AS kept
      FROM a2 LEFT JOIN drops d ON d.corpus_id = a2.corpus_id"""))

  // the SemDeDup gate's SERVING path (RequestResponse.semDedupProbe):
  // request embeddings (vec_id < 30, deliberately overlapping the
  // corpus) assigned row-locally against the frozen seeds, then probed
  // against the persisted kept-vector history of the FULL batch run —
  // near_max_q = max quantized cosine to any kept cell-mate (NULL when
  // the cell holds none), admit iff below threshold. Already-kept
  // requests find themselves at cos 1e6 and are refused (replay
  // absorption, same as q91's fold).
  private val q92 = QueryDef("q92_semdedup_probe",
    (s, d) => {
      val c = rd(s, d, "embeddings").select(col("vec_id").as("corpus_id"),
        col("embedding").as("cv"), VectorOps.norm_q(col("embedding")).as("cn"))
      val seeds = c.where(col("corpus_id") % 16 === 0)
        .select(col("corpus_id").as("seed_id"), col("cv").as("sv"),
          col("cn").as("sn"))
      val hist = Similarity.semDedupAssigned(c, seeds, 150000L)
        .where(col("kept")).select("corpus_id", "cv", "cn", "centroid")
      RequestResponse.semDedupProbe(
        rd(s, d, "embeddings").where(col("vec_id") < 30),
        hist, seeds, "vec_id", "embedding", 150000L)
    },
    Some("""WITH c AS (SELECT vec_id AS corpus_id, embedding AS cv,
        cast(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1000000))) as bigint) AS cn
        FROM embeddings),
      seeds AS (SELECT corpus_id AS seed_id, cv AS sv, cn AS sn
        FROM c WHERE corpus_id % 16 = 0),
      asg AS (SELECT corpus_id, cv, cn, seed_id AS centroid, sc AS cos_c,
          row_number() OVER (PARTITION BY corpus_id
            ORDER BY sc DESC, seed_id ASC) AS rn
        FROM (SELECT corpus_id, cv, cn, seed_id,
          cast(floor(cast(list_sum(list_transform(generate_series(1, len(cv)),
            i -> floor(cv[i]::DOUBLE * sv[i]::DOUBLE * 1000000))) as bigint)
            / sqrt(cn::DOUBLE * sn::DOUBLE) * 1000000) as bigint) AS sc
          FROM c CROSS JOIN seeds)),
      a AS (SELECT corpus_id, cv, cn, centroid, cos_c FROM asg WHERE rn = 1),
      drops AS (SELECT DISTINCT x.corpus_id FROM a x JOIN a y
        ON x.centroid = y.centroid AND y.corpus_id <> x.corpus_id
        AND (y.cos_c < x.cos_c
          OR (y.cos_c = x.cos_c AND y.corpus_id < x.corpus_id))
        WHERE cast(floor(cast(list_sum(list_transform(generate_series(1, len(x.cv)),
          i -> floor(x.cv[i]::DOUBLE * y.cv[i]::DOUBLE * 1000000))) as bigint)
          / sqrt(x.cn::DOUBLE * y.cn::DOUBLE) * 1000000) as bigint) >= 150000),
      hist AS (SELECT a.* FROM a LEFT JOIN drops d ON d.corpus_id = a.corpus_id
        WHERE d.corpus_id IS NULL),
      rq AS (SELECT * FROM a WHERE corpus_id < 30),
      near AS (SELECT x.corpus_id,
          max(cast(floor(cast(list_sum(list_transform(generate_series(1, len(x.cv)),
            i -> floor(x.cv[i]::DOUBLE * y.cv[i]::DOUBLE * 1000000))) as bigint)
            / sqrt(x.cn::DOUBLE * y.cn::DOUBLE) * 1000000) as bigint)) AS near_max_q
        FROM rq x JOIN hist y ON x.centroid = y.centroid GROUP BY 1)
      SELECT rq.corpus_id AS request_id, rq.centroid, rq.cos_c,
        near.near_max_q,
        (near.near_max_q IS NULL OR near.near_max_q < 150000) AS admit
      FROM rq LEFT JOIN near ON near.corpus_id = rq.corpus_id"""))

  // corpus drift monitor (TextAnalysis.epochDrift): per-epoch unigram
  // total-variation distance from the corpus-wide distribution, e6
  // quantized, one tokenize pass — absent-term mass reconstructed
  // arithmetically (Qtot − Σ_present q), never an epochs×vocab outer
  // join. Epochs here are the deterministic doc_id % 4 slices.
  private val q93 = QueryDef("q93_epoch_drift",
    (s, d) => TextAnalysis.epochDrift(
      rd(s, d, "documents").withColumn("epoch", col("doc_id") % 4),
      "epoch", "text"),
    Some("""WITH tok AS (SELECT doc_id % 4 AS epoch,
        unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
      pg AS (SELECT epoch, term, cast(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),
      gt AS (SELECT epoch, cast(sum(tf) AS BIGINT) AS tot_g FROM pg GROUP BY 1),
      gl AS (SELECT term, cast(sum(tf) AS BIGINT) AS tf_all FROM pg GROUP BY 1),
      qv AS (SELECT term, 1000000 * tf_all
          // cast((SELECT sum(tf_all) FROM gl) AS BIGINT) AS q FROM gl),
      qt AS (SELECT cast(sum(q) AS BIGINT) AS qtot FROM qv),
      pr AS (SELECT pg.epoch, 1000000 * pg.tf // gt.tot_g AS p, qv.q
        FROM pg JOIN gt USING (epoch) JOIN qv USING (term)),
      ag AS (SELECT epoch, cast(count(*) AS BIGINT) AS n_terms,
          cast(sum(abs(p - q)) AS BIGINT) AS s_abs,
          cast(sum(q) AS BIGINT) AS s_q
        FROM pr GROUP BY 1)
      SELECT ag.epoch, ag.n_terms, gt.tot_g AS n_toks,
        cast((ag.s_abs + qt.qtot - ag.s_q) // 2 AS BIGINT) AS tv_q
      FROM ag JOIN gt USING (epoch) CROSS JOIN qt"""))

  // content-stable train/val/test split (Sampling.trainValTestSplit):
  // salted 48-bit id hash bucketed 800/100/100 per-mille — the oracle
  // rebuilds md5(doc_id || '#split') digit-wise like q58's
  private val q94 = QueryDef("q94_train_val_test",
    (s, d) => Sampling.trainValTestSplit(
        rd(s, d, "documents").select(col("doc_id")), "doc_id",
        trainPm = 800, valPm = 100)
      .select(col("doc_id"), col("split")),
    Some("""WITH h AS (SELECT doc_id,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR) || '#split'), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) % 1000 AS b
        FROM documents)
      SELECT doc_id, CASE WHEN b < 800 THEN 'train'
        WHEN b < 900 THEN 'val' ELSE 'test' END AS split FROM h"""))

  // feature-hashed unigram vectors (TextAnalysis.hashedTfVector): the
  // hashing-trick featurizer that makes the semantic plane runnable at
  // ingest without a model-served embedding — per-token 48-bit md5 hash
  // rebuilt digit-wise in the oracle, bucket = h mod dim, sign = bit 20;
  // one (doc_id, bucket, weight) row per vector slot, so the result has
  // only scalar columns
  private val q95 = QueryDef("q95_hashed_tf",
    (s, d) => TextAnalysis.hashedTfVector(
      rd(s, d, "documents"), "doc_id", "text", dim = 32)
      .select(col("doc_id"), posexplode(col("tf_vec")).as(Seq("bucket", "weight"))),
    Some("""WITH tok AS (SELECT doc_id,
        string_split_regex(trim(coalesce(text, '')), '\s+') AS ts
        FROM documents),
      hv AS (SELECT doc_id, list_transform(ts, t ->
          list_sum(list_transform(generate_series(1, 12),
            j -> cast(strpos('0123456789abcdef', substr(md5(t), j, 1)) - 1 AS BIGINT)
              * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                  16777216,1048576,65536,4096,256,16,1])[j]))) AS hs
        FROM tok),
      v AS (SELECT doc_id, list_transform(generate_series(0, 31), i ->
          cast(coalesce(list_sum(list_transform(list_filter(hs, h -> h % 32 = i),
            h -> ((h // 1048576) % 2) * 2 - 1)), 0) AS BIGINT)) AS tf_vec
        FROM hv)
      SELECT doc_id, cast(g.i - 1 AS INTEGER) AS bucket, tf_vec[g.i] AS weight
      FROM v, generate_series(1, 32) AS g(i)"""))

  // BPE tokenizer-training plane (Bpe.scala): q96 is the learn loop's
  // inner pair-count step at round 0 (raw chars, freq-weighted) — the
  // oracle rebuilds it from substr pairs; the learn LOOP itself is
  // spec-verified against an in-spec reference implementation (BpeSpec,
  // argmax-per-round not SQL-expressible without recursive aggregates).
  private val q96 = QueryDef("q96_bpe_pair_counts",
    (s, d) => {
      val wf = Bpe.wordFreqs(rd(s, d, "documents"), "text")
      Bpe.pairCounts(
        wf.select(Bpe.render(col("word")).as("r"), col("freq")), "r", "freq")
    },
    Some("""WITH w AS (SELECT word, cast(count(*) AS BIGINT) AS f FROM
        (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
         FROM documents) WHERE word <> '' GROUP BY 1),
      p AS (SELECT substr(w.word, i, 1) AS a, substr(w.word, i + 1, 1) AS b,
          w.f FROM w, unnest(generate_series(1, length(w.word) - 1)) AS u(i))
      SELECT a, b, cast(sum(f) AS BIGINT) AS cnt FROM p GROUP BY 1, 2"""))

  // BPE application via the codegen'd BpeEncode expression (the
  // vocab-scale encoder) under a fixed 5-merge table that exercises
  // recursive merges (so→rt needs both parents) — the oracle is the
  // replace-chain twin (Bpe.encodeChain) rebuilt verbatim in SQL on the
  // U+0001-rendered form; expression ≡ chain is additionally
  // fuzz-asserted in BpeSpec.
  private val bpeStaticMerges = Seq(
    Bpe.Merge("s", "o", 0L, 0), Bpe.Merge("r", "t", 0L, 1),
    Bpe.Merge("so", "rt", 0L, 2), Bpe.Merge("e", "r", 0L, 3),
    Bpe.Merge("o", "r", 0L, 4))
  // q97/q98's shared oracle chain: the U+0001-rendered replace chain of
  // bpeStaticMerges (Bpe.encodeChain rebuilt verbatim), ending in CTE
  // `bpe(doc_id, enc)`.
  private val bpeChainCtes = """n AS (SELECT doc_id,
        trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
        FROM documents),
      r0 AS (SELECT doc_id,
        regexp_replace(t, '(\S)', chr(1) || '\1' || chr(1), 'g') AS s FROM n),
      r1 AS (SELECT doc_id, replace(s,
        chr(1)||'s'||chr(1)||chr(1)||'o'||chr(1), chr(1)||'so'||chr(1)) AS s FROM r0),
      r2 AS (SELECT doc_id, replace(s,
        chr(1)||'r'||chr(1)||chr(1)||'t'||chr(1), chr(1)||'rt'||chr(1)) AS s FROM r1),
      r3 AS (SELECT doc_id, replace(s,
        chr(1)||'so'||chr(1)||chr(1)||'rt'||chr(1), chr(1)||'sort'||chr(1)) AS s FROM r2),
      r4 AS (SELECT doc_id, replace(s,
        chr(1)||'e'||chr(1)||chr(1)||'r'||chr(1), chr(1)||'er'||chr(1)) AS s FROM r3),
      r5 AS (SELECT doc_id, replace(s,
        chr(1)||'o'||chr(1)||chr(1)||'r'||chr(1), chr(1)||'or'||chr(1)) AS s FROM r4),
      bpe AS (SELECT doc_id,
        replace(replace(s, chr(1)||chr(1), ' '), chr(1), '') AS enc FROM r5)"""

  private val q97 = QueryDef("q97_bpe_encode",
    (s, d) => rd(s, d, "documents")
      .select(col("doc_id"),
        Bpe.encode(coalesce(col("text"), lit("")), bpeStaticMerges).as("enc"))
      .select(col("doc_id"),
        when(col("enc") === "", 0L)
          .otherwise(size(split(col("enc"), " ")).cast(LongType)).as("n_toks"),
        md5(col("enc").cast(BinaryType)).as("enc_md5")),
    Some(s"""WITH $bpeChainCtes
      SELECT doc_id, CASE WHEN enc = '' THEN 0
        ELSE cast(len(string_split(enc, ' ')) AS BIGINT) END AS n_toks,
        md5(enc) AS enc_md5 FROM bpe"""))

  // tokenizer-aware packing: the q64 export layout driven by BPE token
  // counts instead of whitespace counts — the composition a real
  // training export runs (the learned tokenizer defines the budget).
  // Oracle = q97's replace chain (token counts) composed into q64's
  // shard/pack windows, digit-for-digit.
  private val q98 = QueryDef("q98_bpe_packing",
    (s, d) => {
      val docs = rd(s, d, "documents")
        .select(col("doc_id"),
          Bpe.encode(coalesce(col("text"), lit("")), bpeStaticMerges).as("enc"))
        .select(col("doc_id"),
          when(col("enc") === "", 0L)
            .otherwise(size(split(col("enc"), " ")).cast(LongType)).as("toks"))
      Sampling.packByTokenBudget(docs, "doc_id", "toks",
          budget = 256L, nShards = 4)
        .groupBy(col("shard"), col("pack"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("pack_tokens"),
          min(col("pack_off")).as("first_off"))
    },
    Some(s"""WITH $bpeChainCtes,
      h AS (SELECT doc_id,
        CASE WHEN enc = '' THEN 0
          ELSE cast(len(string_split(enc, ' ')) AS BIGINT) END AS toks,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM bpe),
      s AS (SELECT doc_id, toks, cast(hu % 4 AS BIGINT) AS shard,
        row_number() OVER (PARTITION BY hu % 4 ORDER BY hu ASC, doc_id ASC) AS pos
      FROM h),
      c AS (SELECT shard, toks,
        coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY pos ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM s)
      SELECT shard, cast(cb // 256 AS BIGINT) AS pack, count(*) AS n_docs,
        cast(sum(toks) AS BIGINT) AS pack_tokens,
        cast(min(cb % 256) AS BIGINT) AS first_off
      FROM c GROUP BY shard, cb // 256"""))

  // tokenizer fitness: per-source BPE compression ratio (non-space chars
  // per BPE token, e3-quantized) — the measurement a vocab-size /
  // merge-budget decision reads. Same chain oracle; ratio arithmetic is
  // integer so the rollup is bit-portable.
  private val q99 = QueryDef("q99_bpe_compression",
    (s, d) => rd(s, d, "documents")
      .select(col("source"),
        length(regexp_replace(coalesce(col("text"), lit("")), "\\s", ""))
          .cast(LongType).as("chars"),
        Bpe.encode(coalesce(col("text"), lit("")), bpeStaticMerges).as("enc"))
      .select(col("source"), col("chars"),
        when(col("enc") === "", 0L)
          .otherwise(size(split(col("enc"), " ")).cast(LongType)).as("toks"))
      .groupBy(col("source"))
      .agg(sum(col("chars")).as("chars"), sum(col("toks")).as("bpe_toks"))
      .select(col("source"), col("chars"), col("bpe_toks"),
        expr("chars * 1000 div bpe_toks").as("chars_per_tok_e3")),
    Some(s"""WITH $bpeChainCtes,
      t AS (SELECT d.source,
          cast(length(regexp_replace(coalesce(d.text, ''), '\\s', '', 'g'))
            AS BIGINT) AS chars,
          CASE WHEN bpe.enc = '' THEN 0
            ELSE cast(len(string_split(bpe.enc, ' ')) AS BIGINT) END AS toks
        FROM documents d JOIN bpe ON bpe.doc_id = d.doc_id)
      SELECT source, cast(sum(chars) AS BIGINT) AS chars,
        cast(sum(toks) AS BIGINT) AS bpe_toks,
        cast(sum(chars) * 1000 // sum(toks) AS BIGINT) AS chars_per_tok_e3
      FROM t GROUP BY source"""))

  // winnowing local fingerprints (MOSS): per-doc rollup of the selected
  // (pos, fp) set — count, position sum, and an md5 digest of the sorted
  // "pos:hex" strings, so the oracle must reproduce the SELECTION SET
  // exactly (rightmost-min per window of w shingle hashes, short docs
  // winnowed as one window).
  private val q100 = QueryDef("q100_winnowing",
    (s, d) => Dedup.winnowingFingerprints(
        rd(s, d, "documents"), "doc_id", "text", n = 3, w = 4)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"), sum(col("pos")).as("sum_pos"),
        md5(concat_ws(",", array_sort(collect_list(
            concat_ws(":", col("pos"), col("fp"))))).cast(BinaryType))
          .as("fp_digest")),
    Some("""WITH tok AS (SELECT doc_id,
        string_split_regex(trim(text), '\s+') AS ts FROM documents),
      p AS (SELECT doc_id, i - 1 AS pos,
          md5(list_aggregate(ts[i:i+2], 'string_agg', ' ')) AS h
        FROM tok, unnest(generate_series(1, len(ts) - 2)) AS u(i)),
      d2 AS (SELECT doc_id, len(ts) - 2 AS nwin FROM tok WHERE len(ts) >= 3),
      st AS (SELECT doc_id, u.i AS ws, least(4, nwin) AS win
        FROM d2, unnest(generate_series(0, nwin - least(4, nwin))) AS u(i)),
      w1 AS (SELECT s.doc_id, s.ws, s.win, min(p.h) AS mh
        FROM st s JOIN p ON p.doc_id = s.doc_id
          AND p.pos BETWEEN s.ws AND s.ws + s.win - 1
        GROUP BY 1, 2, 3),
      w2 AS (SELECT w1.doc_id, w1.ws, w1.mh, max(p.pos) AS mp
        FROM w1 JOIN p ON p.doc_id = w1.doc_id AND p.h = w1.mh
          AND p.pos BETWEEN w1.ws AND w1.ws + w1.win - 1
        GROUP BY 1, 2, 3),
      sel AS (SELECT DISTINCT doc_id, mp AS pos, mh AS fp FROM w2)
      SELECT doc_id, cast(count(*) AS BIGINT) AS n_fps,
        cast(sum(pos) AS BIGINT) AS sum_pos,
        md5(string_agg(cast(pos AS VARCHAR) || ':' || fp, ','
          ORDER BY cast(pos AS VARCHAR) || ':' || fp)) AS fp_digest
      FROM sel GROUP BY doc_id"""))

  // robots-exclusion gate (UrlOps.robotsVerdicts, RFC 9309 core): pages
  // and per-host rule tables derived arithmetically from events (q62's
  // synthesis convention), exercising longest-prefix wins, allow beats
  // disallow on length ties, the zero-length universal disallow, and
  // the no-matching-rule / no-rules-host default-allow — the oracle
  // resolves the same rules with a row_number over (len DESC, allow
  // DESC) instead of the operator's struct-max.
  private val q101 = QueryDef("q101_robots_gate",
    (s, d) => {
      val ev = rd(s, d, "events")
      val pages = ev.select(
        concat(lit("site"), (col("user_id") % 50).cast(StringType)).as("host"),
        concat(lit("/p/"), (col("event_id") % 7).cast(StringType),
          lit("/x"), (col("event_id") % 3).cast(StringType)).as("path"))
      val hosts = ev.select((col("user_id") % 50).as("h")).distinct()
      def hostC = concat(lit("site"), col("h").cast(StringType)).as("host")
      def famC = concat(lit("/p/"), (col("h") % 7).cast(StringType))
      val rules = hosts
        .select(hostC, famC.as("prefix"), lit(false).as("allow"))
        .unionByName(hosts.where(col("h") % 2 === 0)
          .select(hostC, concat(famC, lit("/x1")).as("prefix"),
            lit(true).as("allow")))
        .unionByName(hosts.where(col("h") % 3 === 0)
          .select(hostC, lit("").as("prefix"), lit(false).as("allow")))
        .unionByName(hosts.where(col("h") % 5 === 0)
          .select(hostC, famC.as("prefix"), lit(true).as("allow")))
      UrlOps.robotsVerdicts(pages, "host", "path", rules)
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_paths"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"))
    },
    Some("""WITH pg AS (SELECT DISTINCT
        'site' || cast(user_id % 50 AS VARCHAR) AS host,
        '/p/' || cast(event_id % 7 AS VARCHAR) || '/x' ||
          cast(event_id % 3 AS VARCHAR) AS path
      FROM events),
      hs AS (SELECT DISTINCT user_id % 50 AS h FROM events),
      rules AS (
        SELECT 'site' || cast(h AS VARCHAR) AS host,
          '/p/' || cast(h % 7 AS VARCHAR) AS prefix, false AS allow FROM hs
        UNION ALL SELECT 'site' || cast(h AS VARCHAR),
          '/p/' || cast(h % 7 AS VARCHAR) || '/x1', true FROM hs WHERE h % 2 = 0
        UNION ALL SELECT 'site' || cast(h AS VARCHAR), '', false
          FROM hs WHERE h % 3 = 0
        UNION ALL SELECT 'site' || cast(h AS VARCHAR),
          '/p/' || cast(h % 7 AS VARCHAR), true FROM hs WHERE h % 5 = 0),
      m AS (SELECT pg.host, pg.path, r.allow,
          row_number() OVER (PARTITION BY pg.host, pg.path
            ORDER BY length(r.prefix) DESC, r.allow DESC) AS rn
        FROM pg JOIN rules r ON r.host = pg.host
          AND starts_with(pg.path, r.prefix)),
      v AS (SELECT pg.host, pg.path, coalesce(m.allow, true) AS allowed
        FROM pg LEFT JOIN (SELECT host, path, allow FROM m WHERE rn = 1) m
          ON m.host = pg.host AND m.path = pg.path)
      SELECT host, cast(count(*) AS BIGINT) AS n_paths,
        cast(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed
      FROM v GROUP BY host"""))

  // trained linear quality filter (LinearFilter.train): 3 batch integer
  // perceptron epochs on hashed-tf features (dim 16) with lang='en' as
  // the training signal — the fastText-style classifier gate, trained
  // BY THE ENGINE and value-checked weight-by-weight: the oracle
  // replays all 3 epochs (q80's replayed-rounds convention) from the
  // q95 feature formula, misclassification = y·margin ≤ 0, update =
  // Σ y·x, all integer arithmetic.
  private val q102 = QueryDef("q102_perceptron_filter",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val f = TextAnalysis.hashedTfVector(docs, "doc_id", "text", 16)
        .join(docs.select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(-1L).as("y")), Seq("doc_id"))
      val w = LinearFilter.train(f, "tf_vec", "y", dim = 16, epochs = 3)
      import s.implicits._
      w.toSeq.zipWithIndex.map { case (v, i) => (i.toLong + 1L, v) }
        .toDF("i", "w")
    },
    Some("""WITH tok AS (SELECT doc_id,
        string_split_regex(trim(coalesce(text, '')), '\s+') AS ts,
        CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
        FROM documents),
      hv AS (SELECT doc_id, y, list_transform(ts, t ->
          list_sum(list_transform(generate_series(1, 12),
            j -> cast(strpos('0123456789abcdef', substr(md5(t), j, 1)) - 1 AS BIGINT)
              * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                  16777216,1048576,65536,4096,256,16,1])[j]))) AS hs
        FROM tok),
      f AS (SELECT doc_id, y, list_transform(generate_series(0, 15), i ->
          cast(coalesce(list_sum(list_transform(list_filter(hs, h -> h % 16 = i),
            h -> ((h // 1048576) % 2) * 2 - 1)), 0) AS BIGINT)) AS x
        FROM hv),
      u1 AS (SELECT i, cast(sum(y * x[i]) AS BIGINT) AS u
        FROM f, unnest(generate_series(1, 16)) t(i) GROUP BY i),
      w1 AS (SELECT list(coalesce(u1.u, 0) ORDER BY t.i) AS w
        FROM unnest(generate_series(1, 16)) t(i) LEFT JOIN u1 ON u1.i = t.i),
      m2 AS (SELECT f.y, f.x, cast(list_sum(list_transform(
          generate_series(1, 16), i -> w1.w[i] * f.x[i])) AS BIGINT) AS mg
        FROM f CROSS JOIN w1),
      u2 AS (SELECT i, cast(sum(y * x[i]) AS BIGINT) AS u
        FROM m2, unnest(generate_series(1, 16)) t(i) WHERE y * mg <= 0 GROUP BY i),
      w2 AS (SELECT list(w1.w[t.i] + coalesce(u2.u, 0) ORDER BY t.i) AS w
        FROM w1, unnest(generate_series(1, 16)) t(i) LEFT JOIN u2 ON u2.i = t.i),
      m3 AS (SELECT f.y, f.x, cast(list_sum(list_transform(
          generate_series(1, 16), i -> w2.w[i] * f.x[i])) AS BIGINT) AS mg
        FROM f CROSS JOIN w2),
      u3 AS (SELECT i, cast(sum(y * x[i]) AS BIGINT) AS u
        FROM m3, unnest(generate_series(1, 16)) t(i) WHERE y * mg <= 0 GROUP BY i),
      w3 AS (SELECT list(w2.w[t.i] + coalesce(u3.u, 0) ORDER BY t.i) AS w
        FROM w2, unnest(generate_series(1, 16)) t(i) LEFT JOIN u3 ON u3.i = t.i)
      SELECT cast(i AS BIGINT) AS i, cast(w3.w[i] AS BIGINT) AS w
      FROM w3, unnest(generate_series(1, 16)) t(i)"""))

  // attention-mask boundaries for packed sequences
  // (TrainingExport.packBoundaries): budget 64 over 10–99-token docs
  // forces straddles AND multi-pack giants, so spill-only middle packs
  // (n_docs = 0, continuation) and mid-pack boundaries are all
  // exercised; the oracle rebuilds the piece explode from the q64
  // layout CTEs and aggregates boundary offsets with an ordered
  // string_agg.
  private val q103 = QueryDef("q103_pack_boundaries",
    (s, d) => TrainingExport.packBoundaries(
      rd(s, d, "documents"), "doc_id", "text", budget = 64L, nShards = 4),
    Some("""WITH h AS (SELECT doc_id,
        len(regexp_extract_all(text, '\S+')) AS toks,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM documents),
      s AS (SELECT doc_id, toks, cast(hu % 4 AS BIGINT) AS shard,
        row_number() OVER (PARTITION BY hu % 4 ORDER BY hu ASC, doc_id ASC) AS pos
      FROM h),
      c AS (SELECT shard, toks,
        coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY pos ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM s),
      p AS (SELECT shard, cast(cb // 64 + rel AS BIGINT) AS pack,
          rel = 0 AS is_head,
          CASE WHEN rel = 0 THEN cb % 64 ELSE 0 END AS so
        FROM c, unnest(generate_series(0,
          cast((cb % 64 + toks - 1) // 64 AS BIGINT))) t(rel)
        WHERE toks > 0)
      SELECT shard, pack,
        cast(sum(CASE WHEN is_head THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
        coalesce(string_agg(cast(so AS VARCHAR), ',' ORDER BY so)
          FILTER (WHERE is_head), '') AS boundaries,
        (sum(CASE WHEN is_head THEN 1 ELSE 0 END) = 0
          OR min(CASE WHEN is_head THEN so END) <> 0) AS continuation
      FROM p GROUP BY shard, pack"""))

  // Kleene-plus CEP pattern `A B+ C` (batch mirror of streaming
  // PatternDetect.kleene): for each 'view', the first 'purchase' inside
  // 7 days that has at least one 'click' strictly between them, emitted
  // with the matched click-run (count + first/last ids). Reluctant
  // closure: the chosen C is the first one after the A's FIRST B, so the
  // output is a pure function of the input set — the oracle rebuilds the
  // same three steps (first-B, first-C-after-it, run aggregation over
  // the open interval) with row_number + ordered first/last.
  private val q104 = QueryDef("q104_pattern_kleene",
    (s, d) => graft.streaming.PatternDetect.kleeneBatch(
      rd(s, d, "events"), "user_id", "ts", "event_type", "event_id",
      aKind = "view", bKind = "click", cKind = "purchase",
      withinSec = 604800L)
      .select(col("key").as("user_id"), col("a_id"), col("a_us"),
        col("b_count"), col("b_first_id"), col("b_last_id"),
        col("c_id"), col("c_us")),
    Some("""WITH a AS (SELECT user_id AS key, epoch_us(ts) AS a_us, event_id AS a_id
        FROM events WHERE event_type = 'view'),
      b AS (SELECT user_id AS key, epoch_us(ts) AS b_us, event_id AS b_id
        FROM events WHERE event_type = 'click'),
      c AS (SELECT user_id AS key, epoch_us(ts) AS c_us, event_id AS c_id
        FROM events WHERE event_type = 'purchase'),
      ab AS (SELECT key, a_id, a_us, b_us AS b1_us FROM (
        SELECT a.key, a_id, a_us, b_us, row_number() OVER
          (PARTITION BY a.key, a_id ORDER BY b_us ASC, b_id ASC) AS rk
        FROM a JOIN b ON a.key = b.key
          AND b_us > a_us AND b_us <= a_us + 604800000000) WHERE rk = 1),
      abc AS (SELECT key, a_id, a_us, c_id, c_us FROM (
        SELECT ab.key, a_id, a_us, c_id, c_us, row_number() OVER
          (PARTITION BY ab.key, a_id ORDER BY c_us ASC, c_id ASC) AS rk
        FROM ab JOIN c ON ab.key = c.key
          AND c_us > b1_us AND c_us <= a_us + 604800000000) WHERE rk = 1)
      SELECT abc.key AS user_id, a_id, a_us, count(*) AS b_count,
        first(b_id ORDER BY b_us ASC, b_id ASC) AS b_first_id,
        last(b_id ORDER BY b_us ASC, b_id ASC) AS b_last_id, c_id, c_us
      FROM abc JOIN b ON abc.key = b.key AND b_us > a_us AND b_us < c_us
      GROUP BY abc.key, a_id, a_us, c_id, c_us"""))

  // q105: row-level as-of join — every purchase enriched with the user's
  // latest click at or before it. Union-trick plan (ONE key exchange +
  // in-partition sort + running-frame window), never a range join; the
  // DuckDB oracle is the native ASOF LEFT JOIN, so the >=-at-tie and
  // no-match-NULL semantics are pinned against an independent engine.
  private val q105 = QueryDef("q105_asof_join",
    (s, d) => {
      val ev = rd(s, d, "events")
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          cents(col("value")).as("click_cents"))
      AsOfJoin.asOf(p, c, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"), epochUs(col("ts")).as("ts_us"),
          col("click_id"), col("click_cents"))
    },
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts, max(event_id) AS click_id,
        arg_max(cast(floor(value*100) AS BIGINT), event_id) AS click_cents
        FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        c.click_id, c.click_cents
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"""))

  // q106: salted shuffle join — the fieldsGrouping hot-key device on the
  // JOIN path (q29 covers the agg path): big side salted from row id,
  // medium side replicated ×8, joined on (key, salt). Same rows as the
  // plain equi-join the oracle runs.
  private val q106 = QueryDef("q106_skew_join_salted",
    (s, d) => {
      val ev = rd(s, d, "events")
      val dim = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(cents(col("value"))).as("u_purchase_cents"))
      SkewAgg.saltedJoin(
        ev.select(col("event_id"), col("user_id"), col("event_type")),
        dim, Seq("user_id"), saltSrc = col("event_id"), buckets = 8)
    },
    Some("""WITH dimu AS (SELECT user_id,
        cast(sum(cast(floor(value*100) AS BIGINT)) AS BIGINT) AS u_purchase_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1)
      SELECT e.event_id, e.user_id, e.event_type, d.u_purchase_cents
      FROM events e JOIN dimu d USING (user_id)"""))

  // q107: SURT keys — the web-archive locality key (reversed-host) that
  // makes a petabyte URL index range-servable; per-row values pinned
  // against a DuckDB rebuild of every normalization step. The range-
  // pruning read path (sorted layout + StringStartsWith pushdown) is
  // plan-asserted in UrlOpsSpec.
  private val q107 = QueryDef("q107_surt_keys",
    (s, d) => {
      val url = concat(
        lit("HTTP://"),
        when(col("event_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
        lit("sub"), (col("user_id") % 7).cast(StringType),
        lit(".Example"), (col("event_id") % 5).cast(StringType), lit(".COM"),
        when(col("event_id") % 11 === 0, lit(":8080")).otherwise(lit("")),
        when(col("event_id") % 3 === 0, lit("")).otherwise(
          concat(lit("/p/"), (col("event_id") % 7).cast(StringType))),
        when(col("event_id") % 2 === 0, lit("?b=2&a=1&")).otherwise(lit("")),
        lit("#frag"))
      rd(s, d, "events")
        .select(col("event_id"),
          when(col("event_id") % 97 === 0, lit("no-url")).otherwise(url).as("url"))
        .select(col("event_id"), UrlOps.surtKey(col("url")).as("surt"))
    },
    Some("""WITH u AS (SELECT event_id,
        CASE WHEN event_id % 97 = 0 THEN 'no-url' ELSE
          'HTTP://' || (CASE WHEN event_id % 2 = 0 THEN 'WWW.' ELSE '' END)
          || 'sub' || (user_id % 7)::VARCHAR
          || '.Example' || (event_id % 5)::VARCHAR || '.COM'
          || (CASE WHEN event_id % 11 = 0 THEN ':8080' ELSE '' END)
          || (CASE WHEN event_id % 3 = 0 THEN ''
              ELSE '/p/' || (event_id % 7)::VARCHAR END)
          || (CASE WHEN event_id % 2 = 0 THEN '?b=2&a=1&' ELSE '' END)
          || '#frag' END AS url FROM events),
      nf_t AS (SELECT event_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
      p AS (SELECT event_id,
        lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS rawhost,
        regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        regexp_extract(nf, '\?([^#]*)', 1) AS q0
      FROM nf_t)
      SELECT event_id,
        CASE WHEN scheme = '' OR rawhost = '' THEN NULL ELSE
          array_to_string(list_reverse(string_split(
            regexp_replace(regexp_replace(rawhost, ':[0-9]+$', ''),
              '^www\.', ''), '.')), ',')
          || ')'
          || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
          || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END)
        END AS surt
      FROM (SELECT *, coalesce(array_to_string(list_sort(list_filter(
          string_split(q0, '&'), x -> x <> '')), '&'), '') AS qs FROM p)"""))

  // q108: crawl-to-crawl delta — two snapshot epochs synthesized from
  // documents (prev drops doc_id%5==0, curr drops doc_id%7==3, content
  // of doc_id%3==0 perturbed), every URL classified
  // added/gone/changed/unchanged; oracle is an independent DuckDB FULL
  // OUTER JOIN over the same md5 fingerprints.
  private val q108 = QueryDef("q108_crawl_delta",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val url = concat(lit("http://h"), (col("doc_id") % 40).cast(StringType),
        lit(".example.com/d/"), col("doc_id").cast(StringType))
      val prev = docs.where(col("doc_id") % 5 =!= 0)
        .select(url.as("url"), md5(col("text").cast(BinaryType)).as("fp"))
      val curr = docs.where(col("doc_id") % 7 =!= 3)
        .select(url.as("url"),
          md5(concat(col("text"),
              when(col("doc_id") % 3 === 0, lit(" v2")).otherwise(lit("")))
            .cast(BinaryType)).as("fp"))
      UrlOps.crawlDelta(prev, curr, "url", "fp")
    },
    Some("""WITH p AS (SELECT 'http://h' || (doc_id % 40)::VARCHAR ||
          '.example.com/d/' || doc_id::VARCHAR AS url, md5(text) AS fp
        FROM documents WHERE doc_id % 5 <> 0),
      c AS (SELECT 'http://h' || (doc_id % 40)::VARCHAR ||
          '.example.com/d/' || doc_id::VARCHAR AS url,
          md5(text || CASE WHEN doc_id % 3 = 0 THEN ' v2' ELSE '' END) AS fp
        FROM documents WHERE doc_id % 7 <> 3)
      SELECT coalesce(p.url, c.url) AS url,
        CASE WHEN p.url IS NULL THEN 'added'
             WHEN c.url IS NULL THEN 'gone'
             WHEN p.fp = c.fp THEN 'unchanged' ELSE 'changed' END AS status,
        p.fp AS fp_prev, c.fp AS fp_curr
      FROM p FULL OUTER JOIN c ON p.url = c.url"""))

  // q109: exact per-source quantiles of n_chars (distinct-value
  // histogram, OrderStats) at 4 per-mille ranks; the oracle is an
  // INDEPENDENT construction of the same type-1 statistic — row_number
  // over raw rows instead of the histogram running sum.
  private val q109 = QueryDef("q109_exact_quantiles",
    (s, d) => OrderStats.exactQuantilesByGroup(
      rd(s, d, "documents"), "source", "n_chars",
      qsPerMille = Seq(250, 500, 750, 990)),
    Some("""WITH r AS (SELECT source, n_chars,
        row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        count(*) OVER (PARTITION BY source) AS n FROM documents),
      q AS (SELECT cast(unnest([250, 500, 750, 990]) AS INTEGER) AS q_pm)
      SELECT source, q_pm, min(n_chars) AS value
      FROM r, q WHERE rn * 1000 >= q_pm * n
      GROUP BY source, q_pm"""))

  // q110: split-leakage matrix — the q94 train/val/test split scored
  // for self-contamination: per eval split, distinct 3-gram shingles,
  // how many also occur in train, leaked fraction in per-mille. Oracle
  // rebuilds the split hash (q94's digit expansion), the shingling
  // (q55's), and the flag-max collapse in DuckDB.
  private val q110 = QueryDef("q110_split_leakage",
    (s, d) => Dedup.splitLeakage(
      Sampling.trainValTestSplit(
        rd(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", trainPm = 800, valPm = 100),
      "text", "split", n = 3, trainLabel = "train",
      evalLabels = Seq("val", "test")),
    Some("""WITH h AS (SELECT text,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR) || '#split'), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) % 1000 AS b
        FROM documents),
      sp AS (SELECT text, CASE WHEN b < 800 THEN 'train'
        WHEN b < 900 THEN 'val' ELSE 'test' END AS split FROM h),
      sh AS (SELECT DISTINCT split,
        unnest(list_transform(generate_series(1, greatest(len(ts)-2, 0)),
          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        FROM (SELECT split, string_split_regex(trim(text), '\s+') AS ts FROM sp)),
      fl AS (SELECT shingle,
          max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS t,
          max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS v,
          max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS e
        FROM sh GROUP BY 1)
      SELECT 'val' AS split, cast(sum(v) AS BIGINT) AS n_shingles,
          cast(sum(v*t) AS BIGINT) AS shared_with_train,
          cast(1000 * sum(v*t) // sum(v) AS BIGINT) AS leak_pm FROM fl
      UNION ALL
      SELECT 'test', cast(sum(e) AS BIGINT), cast(sum(e*t) AS BIGINT),
          cast(1000 * sum(e*t) // sum(e) AS BIGINT) FROM fl"""))

  // q111: percentile-band outlier gate — per-source n_chars trimmed to
  // the [p5, p99] type-1 band (OrderStats.bandGateVerdicts; inclusive
  // endpoints). Oracle recomputes the bounds via the independent
  // row_number construction and re-applies the band rowwise.
  private val q111 = QueryDef("q111_length_band_gate",
    (s, d) => OrderStats.bandGateVerdicts(
        rd(s, d, "documents"), "source", "n_chars", loPm = 50, hiPm = 990)
      .select(col("doc_id"), col("source"), col("n_chars"), col("kept")),
    Some("""WITH r AS (SELECT source, n_chars,
        row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        count(*) OVER (PARTITION BY source) AS n FROM documents),
      b AS (SELECT source,
          min(CASE WHEN rn * 1000 >= 50 * n THEN n_chars END) AS lo,
          min(CASE WHEN rn * 1000 >= 990 * n THEN n_chars END) AS hi
        FROM r GROUP BY source)
      SELECT d.doc_id, d.source, d.n_chars,
        d.n_chars >= b.lo AND d.n_chars <= b.hi AS kept
      FROM documents d JOIN b USING (source)"""))

  // q112: LSH recall eval — the knob-tuning readout: minhash-LSH at a
  // deliberately under-banded config (bands=2) scored against the exact
  // capped-universe Jaccard truth (q20's formula). LSH output is
  // candidate∩truth by construction (candidates are verified with the
  // same threshold), so precision reads 1000 and recall measures what
  // the 2 bands miss. Oracle rebuilds truth, the 2-band bucket join,
  // verification, and the confusion counts independently.
  private val q112 = QueryDef("q112_lsh_recall_eval",
    (s, d) => {
      val docs = rd(s, d, "documents")
      Dedup.pairSetEval(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, minJaccQ = 500, maxDf = 50),
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, bands = 2, minJaccQ = 500, maxDf = 50))
    },
    Some(s"""WITH $cappedShinglesSql,
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      tin AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (SELECT ia, ib FROM tin
        JOIN sizes sa ON tin.ia = sa.doc_id
        JOIN sizes sb ON tin.ib = sb.doc_id
        WHERE floor(1000 * i / (sa.sz + sb.sz - i)) >= 500),
      mh AS (SELECT doc_id, b.band, min(md5(shingle || '|' || b.band)) AS sig
        FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS band) b
        GROUP BY doc_id, b.band),
      cand AS (SELECT DISTINCT l.doc_id AS ia, r.doc_id AS ib
        FROM mh l JOIN mh r ON l.band = r.band AND l.sig = r.sig
          AND l.doc_id < r.doc_id),
      got AS (SELECT tin.ia, tin.ib FROM tin
        JOIN cand ON cand.ia = tin.ia AND cand.ib = tin.ib
        JOIN sizes sa ON tin.ia = sa.doc_id
        JOIN sizes sb ON tin.ib = sb.doc_id
        WHERE floor(1000 * i / (sa.sz + sb.sz - i)) >= 500),
      hit AS (SELECT count(*) AS h FROM got
        JOIN truth ON truth.ia = got.ia AND truth.ib = got.ib)
      SELECT cast(t.c AS BIGINT) AS n_truth, cast(g.c AS BIGINT) AS n_got,
        cast(hit.h AS BIGINT) AS n_hit,
        cast(1000 * hit.h // t.c AS BIGINT) AS recall_pm,
        cast(1000 * hit.h // g.c AS BIGINT) AS precision_pm
      FROM (SELECT count(*) AS c FROM truth) t,
        (SELECT count(*) AS c FROM got) g, hit"""))

  // q113: exact quantiles SERVED off the persisted histogram index,
  // built in two increments (the q52 ≡ q33 convention: chunked index
  // build, full-recompute oracle — q109's SQL verbatim).
  private val q113 = QueryDef("q113_quantiles_served",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val h1 = OrderStats.histogramOf(
        docs.where(col("doc_id") % 2 === 0), "source", "n_chars")
      val h2 = OrderStats.histogramIncrement(h1,
        docs.where(col("doc_id") % 2 === 1), "source", "n_chars")
      OrderStats.quantilesFromHistogram(h2, "source", "n_chars",
        Seq(250, 500, 750, 990))
    },
    Some("""WITH r AS (SELECT source, n_chars,
        row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        count(*) OVER (PARTITION BY source) AS n FROM documents),
      q AS (SELECT cast(unnest([250, 500, 750, 990]) AS INTEGER) AS q_pm)
      SELECT source, q_pm, min(n_chars) AS value
      FROM r, q WHERE rn * 1000 >= q_pm * n
      GROUP BY source, q_pm"""))

  // q114: epoch-decayed counters ("trending keys") — per-user activity
  // score halving per idle day, the integer fold replayed verbatim by
  // DuckDB's list_reduce over the same per-day counts.
  private val q114 = QueryDef("q114_decayed_counts",
    (s, d) => DecayedCounts.decayedByKey(
      rd(s, d, "events").select(col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400).cast(LongType).as("day")),
      "user_id", "day"),
    Some("""WITH c AS (SELECT user_id,
          cast(floor(epoch(ts) / 86400) AS BIGINT) AS e,
          count(*) AS s FROM events GROUP BY 1, 2),
      l AS (SELECT user_id, list_sort(list({'e': e, 's': s})) AS xs
        FROM c GROUP BY 1),
      f AS (SELECT user_id, list_reduce(xs, (acc, x) -> {'e': x.e,
          's': (CASE WHEN x.e - acc.e >= 63 THEN 0
                ELSE acc.s >> (x.e - acc.e) END) + x.s}) AS r FROM l)
      SELECT user_id, r.e AS last_epoch, r.s AS score FROM f"""))

  // q115: trending top-k at a horizon — the serving read of the decayed
  // log: q114's fold per user (via decayedSeries rows) aged to a fixed
  // horizon day, top 25 with bytewise id tie-break. Oracle reuses the
  // q114 list_reduce (the newest series row IS the final fold) + the
  // same decay CASE + ORDER/LIMIT.
  private val q115 = QueryDef("q115_trending_topk",
    (s, d) => DecayedCounts.topAtHorizon(
      DecayedCounts.decayedSeries(
        rd(s, d, "events").select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400).cast(LongType).as("day")),
        "user_id", "day"),
      "user_id", horizon = 19760L, k = 25)
      .select(col("user_id"), col("last_epoch"), col("score_now")),
    Some("""WITH c AS (SELECT user_id,
          cast(floor(epoch(ts) / 86400) AS BIGINT) AS e,
          count(*) AS s FROM events GROUP BY 1, 2),
      l AS (SELECT user_id, list_sort(list({'e': e, 's': s})) AS xs
        FROM c GROUP BY 1),
      f AS (SELECT user_id, list_reduce(xs, (acc, x) -> {'e': x.e,
          's': (CASE WHEN x.e - acc.e >= 63 THEN 0
                ELSE acc.s >> (x.e - acc.e) END) + x.s}) AS r FROM l)
      SELECT user_id, r.e AS last_epoch,
        CASE WHEN 19760 - r.e >= 63 THEN 0
             ELSE r.s >> (19760 - r.e) END AS score_now
      FROM f ORDER BY score_now DESC, user_id LIMIT 25"""))

  /** DuckDB replay of [[BloomSet]]'s md5-hex → exact-BIGINT parse: `len`
    * hex digits of column `mh` from 1-based `off` (len ≤ 12 keeps every
    * partial sum in exact BIGINT, same bound as Spark's `conv`). */
  private def md5DigitsSql(off: Int, len: Int): String = {
    val weights = (len - 1 to 0 by -1).map(e => math.pow(16, e).toLong)
    s"""list_sum(list_transform(generate_series(1, $len),
        j -> cast(strpos('0123456789abcdef', substr(mh, j + ${off - 1}, 1)) - 1
               AS BIGINT) * ([${weights.mkString(",")}])[j]))"""
  }

  // q116: Bloom seen-set gate — the crawl-frontier admission sketch.
  // History = even-doc_id crawls; every history key must flag (no false
  // negatives, ever) and the odd-side flags are the filter's
  // DETERMINISTIC false positives (md5 double hashing replayed digit-
  // for-digit below), so the oracle value-checks the FP count itself.
  private val q116 = QueryDef("q116_bloom_seen_gate",
    (s, d) => {
      val docs = rd(s, d, "documents")
        .withColumn("key", concat_ws("/", col("source"), col("doc_id")))
      val bloom = BloomSet.bloomOf(docs.where(col("doc_id") % 2 === 0),
        "key", mBits = 512, kHashes = 4, shards = 2)
      BloomSet.probe(docs, "key", bloom, mBits = 512, kHashes = 4, shards = 2)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("maybe_seen"), 1L).otherwise(0L)).as("n_flagged"),
          sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("n_seen_true"),
          sum(when(col("maybe_seen") && col("doc_id") % 2 === 1, 1L)
            .otherwise(0L)).as("n_fp"))
    },
    Some(s"""WITH d AS (SELECT source, doc_id,
          md5(source || '/' || cast(doc_id AS VARCHAR)) AS mh FROM documents),
      h AS (SELECT source, doc_id, ${md5DigitsSql(1, 12)} AS h1,
          ${md5DigitsSql(13, 12)} AS h2, ${md5DigitsSql(25, 8)} % 2 AS shard
        FROM d),
      p AS (SELECT source, doc_id, shard, (h1 + i.i * h2) % 512 AS pos
        FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) i),
      pb AS (SELECT source, doc_id, shard, pos // 32 AS w,
          (cast(1 AS BIGINT) << cast(pos % 32 AS INTEGER)) AS m FROM p),
      bloom AS (SELECT shard, w, bit_or(m) AS bits FROM pb
        WHERE doc_id % 2 = 0 GROUP BY shard, w),
      hit AS (SELECT pb.source, pb.doc_id,
          bool_and(bloom.bits IS NOT NULL AND (bloom.bits & pb.m) = pb.m) AS seen
        FROM pb LEFT JOIN bloom ON bloom.shard = pb.shard AND bloom.w = pb.w
        GROUP BY pb.source, pb.doc_id)
      SELECT source, count(*) AS n_docs,
        cast(sum(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        cast(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_seen_true,
        cast(sum(CASE WHEN seen AND doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_fp
      FROM hit GROUP BY source"""))

  // q117: portable-HLL distinct sketch vs exact — the self-evaluating
  // pair (q112's convention): per-type distinct event_ids estimated off
  // 64 integer registers the oracle rebuilds digit-for-digit (md5 top
  // bits → bucket, length(bin(w)) → rank, exact staged-division
  // estimator), next to the exact distinct count.
  private val q117 = QueryDef("q117_distinct_sketch",
    (s, d) => {
      val ev = rd(s, d, "events")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("event_id")).as("n_exact"))
      exact.join(
        DistinctSketch.estimateDistinct(ev, "event_type", "event_id", b = 6),
        Seq("event_type"))
    },
    Some(s"""WITH k AS (SELECT event_type, event_id,
          md5(cast(event_id AS VARCHAR)) AS mh FROM events),
      h AS (SELECT event_type, ${md5DigitsSql(1, 12)} AS h FROM k),
      br AS (SELECT event_type, h // 4398046511104 AS bucket,
          h % 4398046511104 AS w FROM h),
      r AS (SELECT event_type, bucket,
          max(CASE WHEN w = 0 THEN 43 ELSE 43 - length(bin(w)) END) AS rho
        FROM br GROUP BY 1, 2),
      s AS (SELECT event_type,
          cast(sum(1::BIGINT << cast(43 - rho AS INTEGER)) AS BIGINT)
            + (64 - count(*)) * (1::BIGINT << 43) AS S,
          64 - count(*) AS nz FROM r GROUP BY 1),
      x AS (SELECT event_type, count(DISTINCT event_id) AS n_exact
        FROM events GROUP BY 1)
      SELECT x.event_type AS event_type, x.n_exact,
        (709 * 64 * (562949953421312 // S)) // 1000 AS est_distinct,
        nz AS n_zero_buckets
      FROM x JOIN s ON x.event_type = s.event_type"""))

  // q118: Count-Min term-frequency sketch vs exact — q112's self-
  // evaluating convention on the third sketch of the trio: every term
  // probed against a deliberately tiny (16-column, depth-3) sketch so
  // the one-sided error is EXERCISED (est ≥ exact always; the
  // overcounts themselves are deterministic md5-double-hash collisions
  // the oracle reproduces digit-for-digit).
  private val q118 = QueryDef("q118_cms_term_counts",
    (s, d) => {
      val terms = rd(s, d, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .where(length(col("term")) > 0)
      val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
      CountMin.estimate(exact, "term",
        CountMin.cmsOf(terms, "term", wBits = 4, depth = 3),
        wBits = 4, depth = 3)
    },
    Some(s"""WITH t AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS term
        FROM documents),
      x AS (SELECT term, count(*) AS n_exact FROM t GROUP BY 1),
      h AS (SELECT term, md5(term) AS mh FROM (SELECT DISTINCT term FROM t)),
      hh AS (SELECT term, ${md5DigitsSql(1, 12)} AS h1,
          ${md5DigitsSql(13, 12)} AS h2 FROM h),
      cell AS (SELECT t.term AS term, i.i AS r,
          (hh.h1 + i.i * hh.h2) % 16 AS c
        FROM t JOIN hh ON hh.term = t.term
        CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i) i),
      cms AS (SELECT r, c, count(*) AS cnt FROM cell GROUP BY 1, 2),
      probe AS (SELECT x.term, x.n_exact,
          min(coalesce(cms.cnt, 0)) AS est_count
        FROM x JOIN hh ON hh.term = x.term
        CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i) i
        LEFT JOIN cms ON cms.r = i.i AND cms.c = (hh.h1 + i.i * hh.h2) % 16
        GROUP BY 1, 2)
      SELECT term, n_exact, cast(est_count AS BIGINT) AS est_count
      FROM probe"""))

  // q119: quality-ranked per-stratum TOKEN-budget curation (the FineWeb
  // "best documents per language until its token quota" verb). The
  // operator runs the two-phase boundary plan (per-(lang, score) masses,
  // doc-level rank only inside the one boundary score grade per lang);
  // the oracle replays the NAIVE per-doc window — the plan/rule
  // equivalence is value-checked, not asserted. Budgets are chosen so at
  // sf0.01 the boundary lands in a DIFFERENT score grade per lang (en
  // q80, de q80, fr q100, zh q40) and 'es' is absent from the budget
  // table (allowlist drop).
  private val q119 = QueryDef("q119_token_budget_curation",
    (s, d) => {
      import s.implicits._
      val budgets = Seq(("en", 10000L), ("de", 3000L), ("fr", 3300L),
        ("zh", 3900L)).toDF("lang", "token_budget")
      val docs = rd(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.tokenCount(col("text")).as("toks"))
      Sampling.tokenBudgetByStratum(docs, "doc_id", "lang", "q", "toks",
          budgets)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("toks")).as("kept_tokens"),
          min(col("q")).cast(LongType).as("min_q"))
    },
    Some("""WITH f AS (SELECT lang, doc_id,
        len(regexp_extract_all(text, '\S+')) AS toks,
        length(regexp_replace(text, '\s', '', 'g')) AS chars,
        len(regexp_extract_all(text, '\b(the|a|and|of|is|to|in)\b')) AS stop
      FROM documents),
      sc AS (SELECT lang, doc_id, toks,
        (CASE WHEN toks >= 32 THEN 40 ELSE 0 END) +
        (CASE WHEN chars >= 200 THEN 20 ELSE 0 END) +
        (CASE WHEN toks > 0 AND floor((chars*10)/toks) BETWEEN 30 AND 90 THEN 20 ELSE 0 END) +
        (CASE WHEN stop >= 2 THEN 20 ELSE 0 END) AS q,
        list_sum(list_transform(generate_series(1, 12),
          j -> cast(strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[j])) AS hu
        FROM f),
      b AS (SELECT * FROM (VALUES ('en', 10000), ('de', 3000), ('fr', 3300),
        ('zh', 3900)) t(lang, budget)),
      r AS (SELECT sc.lang AS lang, doc_id, toks, q, budget,
        sum(toks) OVER (PARTITION BY sc.lang
          ORDER BY q DESC, hu, doc_id ROWS UNBOUNDED PRECEDING) - toks AS cb
        FROM sc JOIN b ON sc.lang = b.lang)
      SELECT lang, count(*) AS kept,
        cast(sum(doc_id) AS BIGINT) AS id_sum,
        cast(sum(toks) AS BIGINT) AS kept_tokens,
        cast(min(q) AS BIGINT) AS min_q
      FROM r WHERE cb < budget GROUP BY lang"""))

  // q120: C4-style blocklisted-token ("bad words") gate — per-source
  // audit rollup of TextAnalysis.badWordHits: docs scanned, docs flagged
  // under the strict rule (any hit), hit tokens WITH multiplicity, and
  // the per-mille drop rate. The blocklist mixes two terms present in
  // the corpus with one absent term (absent terms must be harmless); the
  // gate is fully row-local (literal-array codegen'd loop — no join, no
  // shuffle before the rollup), and the oracle replays tokenize +
  // lowercase + list_contains verbatim.
  private val q120 = QueryDef("q120_badwords_gate",
    (s, d) => {
      val bl = Seq("slow", "stale", "zz_never_a_token")
      rd(s, d, "documents")
        .select(col("source"),
          TextAnalysis.badWordHits(col("text"), bl).as("hits"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("flagged"),
          sum(col("hits")).cast(LongType).as("hit_toks"))
        .withColumn("drop_pm",
          floor(lit(1000) * col("flagged") / col("n_docs")).cast(LongType))
    },
    Some("""WITH h AS (SELECT source,
        len(list_filter(string_split_regex(trim(text), '\s+'),
          w -> list_contains(['slow', 'stale', 'zz_never_a_token'],
            lower(w)))) AS hits
      FROM documents)
      SELECT source, count(*) AS n_docs,
        cast(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS flagged,
        cast(sum(hits) AS BIGINT) AS hit_toks,
        cast(floor(1000 * sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
          / count(*)) AS BIGINT) AS drop_pm
      FROM h GROUP BY source"""))

  // q121: gate-calibration sweep (OrderStats.gateSweep) — for every
  // distinct quality grade per lang, the docs/token mass kept under
  // "admit score >= grade". The operator runs the collapsed-histogram
  // plan (one partial-agg exchange to langs × grades, window over that);
  // the oracle rebuilds the quality score (q17's chain) and the
  // descending-cumulative window verbatim on raw rows.
  private val q121 = QueryDef("q121_gate_sweep",
    (s, d) => {
      val docs = rd(s, d, "documents")
        .select(col("lang"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.tokenCount(col("text")).as("toks"))
      OrderStats.gateSweep(docs, "lang", "q", "toks")
    },
    Some("""WITH f AS (SELECT lang,
        len(regexp_extract_all(text, '\S+')) AS toks,
        length(regexp_replace(text, '\s', '', 'g')) AS chars,
        len(regexp_extract_all(text, '\b(the|a|and|of|is|to|in)\b')) AS stop
      FROM documents),
      sc AS (SELECT lang, toks,
        (CASE WHEN toks >= 32 THEN 40 ELSE 0 END) +
        (CASE WHEN chars >= 200 THEN 20 ELSE 0 END) +
        (CASE WHEN toks > 0 AND floor((chars*10)/toks) BETWEEN 30 AND 90 THEN 20 ELSE 0 END) +
        (CASE WHEN stop >= 2 THEN 20 ELSE 0 END) AS q
      FROM f),
      h AS (SELECT lang, cast(q AS BIGINT) AS score, count(*) AS n_docs,
        cast(sum(toks) AS BIGINT) AS n_tokens
      FROM sc GROUP BY 1, 2)
      SELECT lang, score, n_docs, n_tokens,
        cast(sum(n_docs) OVER w AS BIGINT) AS kept_docs,
        cast(sum(n_tokens) OVER w AS BIGINT) AS kept_tokens
      FROM h WINDOW w AS (PARTITION BY lang ORDER BY score DESC
        ROWS UNBOUNDED PRECEDING)"""))

  // q122: Gopher n-gram repetition signals — the other half of the q61
  // repetition table: per-source totals of top-2/3-gram char cover (max
  // over distinct grams of occurrences x non-space chars) and duplicated
  // 5-gram char cover (per position, with overlap), plus breach counts
  // for the published thresholds (top-2-gram cover > 0.20 of chars,
  // dup-5-gram cover > 0.10), compared integer-only (cover*5 > chars /
  // cover*10 > chars) so both engines agree digit-for-digit.
  private val q122 = QueryDef("q122_ngram_repetition",
    (s, d) => {
      val sig = rd(s, d, "documents")
        .select(col("source"),
          TextAnalysis.charCount(col("text")).as("chars"),
          TextAnalysis.wordArray(col("text")).as("w"))
        .select(col("source"), col("chars"),
          TextAnalysis.topNgramCharCover(col("w"), 2).as("top2"),
          TextAnalysis.topNgramCharCover(col("w"), 3).as("top3"),
          TextAnalysis.dupNgramCharCover(col("w"), 5).as("dup5"))
      sig.groupBy(col("source")).agg(
        count(lit(1)).as("docs"),
        sum(col("top2")).as("sum_top2"),
        sum(col("top3")).as("sum_top3"),
        sum(col("dup5")).as("sum_dup5"),
        sum(when(col("top2") * 5 > col("chars"), 1L).otherwise(0L))
          .as("n_top2_breach"),
        sum(when(col("dup5") * 10 > col("chars"), 1L).otherwise(0L))
          .as("n_dup5_breach"))
    },
    Some("""WITH w AS (SELECT source,
        string_split_regex(trim(text), '\s+') AS l,
        length(regexp_replace(text, '\s', '', 'g')) AS chars
      FROM documents),
      g AS (SELECT source, chars,
        list_transform(generate_series(1, len(l) - 1),
          i -> array_to_string(l[i:i+1], ' ')) AS g2,
        list_transform(generate_series(1, len(l) - 2),
          i -> array_to_string(l[i:i+2], ' ')) AS g3,
        list_transform(generate_series(1, len(l) - 4),
          i -> array_to_string(l[i:i+4], ' ')) AS g5
      FROM w),
      c AS (SELECT source, chars,
        coalesce(list_max(list_transform(list_distinct(g2),
          x -> len(list_filter(g2, y -> y = x))
            * length(replace(x, ' ', '')))), 0) AS top2,
        coalesce(list_max(list_transform(list_distinct(g3),
          x -> len(list_filter(g3, y -> y = x))
            * length(replace(x, ' ', '')))), 0) AS top3,
        coalesce(list_sum(list_transform(list_filter(g5,
          x -> len(list_filter(g5, y -> y = x)) > 1),
          x -> length(replace(x, ' ', '')))), 0) AS dup5
      FROM g)
      SELECT source, count(*) AS docs,
        cast(sum(top2) AS BIGINT) AS sum_top2,
        cast(sum(top3) AS BIGINT) AS sum_top3,
        cast(sum(dup5) AS BIGINT) AS sum_dup5,
        cast(sum(CASE WHEN top2 * 5 > chars THEN 1 ELSE 0 END) AS BIGINT)
          AS n_top2_breach,
        cast(sum(CASE WHEN dup5 * 10 > chars THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup5_breach
      FROM c GROUP BY source"""))

  // q123: cross-host mirror detection (Dedup.mirrorHostPairs) — the
  // site-level dedup complement of q73's intra-source dup-rate verdicts.
  // Mirror hosts are synthesized in-query (the q62 variant pattern):
  // every 4th doc WITHIN each source (doc_id div 20 selects the row
  // index — source is doc_id mod 20 in this corpus) re-hosted on
  // '<source>-m', so each (srcX, srcX-m) pair is a TRUE partial mirror
  // whose smaller side is fully contained (share_pm = 1000 unless
  // normalized dups collapse differently across the pair — the oracle
  // decides). Boilerplate-capped at fingerprints on <= 8 hosts; the SQL
  // replays the whole chain.
  private val q123 = QueryDef("q123_mirror_hosts",
    (s, d) => {
      val docs = rd(s, d, "documents")
      val base = docs.select(col("source").as("host"), col("text"))
      val mirror = docs.where(floor(col("doc_id") / 20) % 4 === 0)
        .select(concat(col("source"), lit("-m")).as("host"), col("text"))
      Dedup.mirrorHostPairs(base.unionByName(mirror), "host", "text",
        maxFanout = 8, minSharePm = 100)
    },
    Some("""WITH u AS (
        SELECT source AS g,
          md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        FROM documents
        UNION ALL
        SELECT source || '-m',
          md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
        FROM documents WHERE (doc_id // 20) % 4 = 0),
      hfp AS (SELECT DISTINCT g, fp FROM u WHERE fp IS NOT NULL),
      sizes AS (SELECT g, count(*) AS n FROM hfp GROUP BY g),
      rare AS (SELECT fp FROM hfp GROUP BY fp HAVING count(*) <= 8),
      kept AS (SELECT hfp.g, hfp.fp FROM hfp JOIN rare USING (fp)),
      pairs AS (SELECT a.g AS g1, b.g AS g2, count(*) AS shared
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.g < b.g GROUP BY 1, 2)
      SELECT g1, g2, cast(shared AS BIGINT) AS shared,
        cast(s1.n AS BIGINT) AS n1, cast(s2.n AS BIGINT) AS n2,
        cast(floor(1000 * shared / least(s1.n, s2.n)) AS BIGINT) AS share_pm
      FROM pairs
      JOIN sizes s1 ON pairs.g1 = s1.g
      JOIN sizes s2 ON pairs.g2 = s2.g
      WHERE floor(1000 * shared / least(s1.n, s2.n)) >= 100"""))

  // q124: per-URL change frequency (UrlOps.changeFrequency) — the
  // recrawl-scheduling readout over the q86 crawl log, with per-arrival
  // pseudo-content versioned by event_id % 3 (md5'd) so the same URL's
  // consecutive crawls genuinely flip between versions; the oracle
  // replays the url-derivation, the version hash, and the lag window
  // digit-for-digit.
  private val q124 = QueryDef("q124_change_frequency",
    (s, d) => {
      val arrivals = crawlLog(s, d).withColumn("fp",
        md5(concat(lit("v"), (col("event_id") % 3).cast(StringType))
          .cast(BinaryType)))
      UrlOps.changeFrequency(arrivals, "url", "ts", "fp", "event_id")
    },
    Some("""WITH u AS (SELECT ts, event_id,
        CASE WHEN event_id % 97 = 0 THEN 'not a url' ELSE
          'HTTP://WWW.Site' || (user_id % 50)::VARCHAR || '.Example.COM'
          || (CASE WHEN event_id % 4 = 0 THEN ':80' ELSE '' END)
          || (CASE WHEN event_id % 3 = 0 THEN ''
              ELSE '/p/' || (event_id % 7)::VARCHAR END)
          || (CASE WHEN event_id % 2 = 0
              THEN '?b=' || (user_id % 5)::VARCHAR || '&a=1&'
              ELSE '?a=1&b=' || (user_id % 5)::VARCHAR END)
          || '#sec' END AS url,
        md5('v' || (event_id % 3)::VARCHAR) AS fp FROM events),
      o AS (SELECT url, fp,
        lag(fp) OVER (PARTITION BY url ORDER BY ts, event_id) AS prev,
        row_number() OVER (PARTITION BY url ORDER BY ts, event_id) AS rn
      FROM u),
      c AS (SELECT url, count(*) AS n_crawls,
        sum(CASE WHEN rn > 1 AND (fp IS DISTINCT FROM prev)
          THEN 1 ELSE 0 END) AS n_changes
      FROM o GROUP BY url)
      SELECT url, cast(n_crawls AS BIGINT) AS n_crawls,
        cast(n_changes AS BIGINT) AS n_changes,
        cast(CASE WHEN n_crawls > 1
          THEN floor(1000 * n_changes / (n_crawls - 1)) ELSE 0 END
          AS BIGINT) AS change_pm
      FROM c"""))

  // q125: fill-in-the-middle split (TrainingExport.fimSplit) — PSM
  // re-serialization with md5-derived cut points, value-checked by
  // per-doc md5 of the rewritten text; the oracle rebuilds the 48-bit
  // hash (q119's digit-sum chain), both cuts, and the three-slice
  // concatenation verbatim. Short docs (< 3 tokens) pass through with
  // zero cuts.
  private val q125 = QueryDef("q125_fim_split",
    (s, d) => TrainingExport.fimSplit(rd(s, d, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_toks"), col("cut_i"), col("cut_j"),
        md5(col("fim_text").cast(BinaryType)).as("fim_md5")),
    Some("""WITH t AS (SELECT doc_id, text,
        string_split_regex(trim(text), '\s+') AS l FROM documents),
      h AS (SELECT doc_id, text, l, len(l) AS k,
        list_sum(list_transform(generate_series(1, 12),
          p -> cast(strpos('0123456789abcdef',
                 substr(md5(doc_id::VARCHAR || ':i'), p, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[p])) AS hi,
        list_sum(list_transform(generate_series(1, 12),
          p -> cast(strpos('0123456789abcdef',
                 substr(md5(doc_id::VARCHAR || ':j'), p, 1)) - 1 AS BIGINT)
            * ([17592186044416,1099511627776,68719476736,4294967296,268435456,
                16777216,1048576,65536,4096,256,16,1])[p])) AS hj
      FROM t),
      c AS (SELECT doc_id, text, l, k, hj,
        CASE WHEN k >= 3 THEN 1 + hi % (k - 2) ELSE 0 END AS i0
      FROM h),
      c2 AS (SELECT doc_id, text, l, k, i0,
        CASE WHEN k >= 3 THEN i0 + 1 + hj % (k - 1 - i0) ELSE 0 END AS j0
      FROM c)
      SELECT doc_id, cast(k AS BIGINT) AS n_toks,
        cast(i0 AS BIGINT) AS cut_i, cast(j0 AS BIGINT) AS cut_j,
        CASE WHEN k >= 3 THEN md5('<FIM_PRE>'
            || array_to_string(l[1:i0], ' ')
            || '<FIM_SUF>' || array_to_string(l[j0+1:k], ' ')
            || '<FIM_MID>' || array_to_string(l[i0+1:j0], ' '))
          ELSE md5(text) END AS fim_md5
      FROM c2"""))

  val all: Seq[QueryDef] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14,
    q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q26, q27,
    q28, q29, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41,
    q42, q43, q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54, q55,
    q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q67, q68, q69,
    q70, q71, q72, q73, q74, q75, q76, q77, q78, q79, q80, q81, q82, q83,
    q84, q85, q86, q87, q88, q89, q90, q91, q92, q93, q94, q95, q96, q97,
    q98, q99, q100, q101, q102, q103, q104, q105, q106, q107, q108, q109,
    q110, q111, q112, q113, q114, q115, q116, q117, q118, q119, q120,
    q121, q122, q123, q124, q125)
}
