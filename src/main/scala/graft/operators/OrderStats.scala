package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * EXACT distributed order statistics — the exact twin of
 * Spark's built-in `percentile_approx` (Greenwald-Khanna), for the places a
 * corpus-QA readout must be digit-reproducible (gate thresholds, release
 * dashboards, regression diffs between crawls): an approximate median
 * that drifts with `accuracy` cannot anchor a "did the length
 * distribution shift" alarm. Reference analog: the reference computes
 * its per-window feature statistics exactly inside `IBatchOperation`
 * implementations (`operation/IBatchOperation.java:15-24` — batch ops
 * see the full window, never a sample) — this is that exactness kept
 * at corpus scale.
 *
 * The naive exact plan is a global (or per-group) SORT of every row —
 * the one physical shape this engine never ships. The scalable exact
 * construction is the DISTINCT-VALUE HISTOGRAM:
 *
 *   1. `groupBy(group, value).count()` — ONE hash exchange whose row
 *      count is the number of distinct `(group, value)` pairs, not the
 *      row count. For discrete corpus measures (token counts, char
 *      lengths, scores in per-mille) that is bounded by the value
 *      domain per group (thousands), independent of corpus size; the
 *      partial (map-side) count does the 10^12 → 10^3 collapse before
 *      anything moves.
 *   2. Two windows over the SAME `partitionBy(group)` (one exchange,
 *      one in-partition sort of the tiny histogram): running count and
 *      group total.
 *   3. The rank-k selection `cum >= ceil(q·n/1000)` is evaluated as
 *      `1000·cum >= q·n` — pure integer arithmetic, no floats anywhere,
 *      so the result is exact and engine-portable (the q109 oracle
 *      rebuilds it in DuckDB from `row_number()` over raw rows — an
 *      independent construction of the same statistic).
 *
 * Semantics: type-1 (discontinuous) quantiles over the multiset — the
 * returned value is an ELEMENT of the data, the one at 1-based sorted
 * position `ceil(q_pm·n/1000)`; `q_pm = 1000` is the maximum, an even-n
 * median (`q_pm = 500`) is the LOWER middle element. NULL values are
 * excluded from the multiset (and `n`) up front, matching SQL aggregate
 * convention.
 *
 * Worst case: a continuous value column (every value distinct) degrades
 * the histogram to one row per input row — still one hash exchange plus
 * in-partition sorts, never a single global range sort, but the window
 * partition for a single group is then unbounded; quantize continuous
 * measures (per-mille scores) before calling, which is what every
 * caller in this engine does anyway.
 */
object OrderStats {

  private[operators] val integralTypes: Set[org.apache.spark.sql.types.DataType] =
    Set(org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, LongType)

  /**
   * Exact per-group quantiles of an integral column at the given
   * per-mille ranks. Output: `(groupCol, q_pm, value)` — one row per
   * (group, requested rank), `value` typed LONG.
   */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
      qsPerMille: Seq[Int]): DataFrame =
    quantilesFromHistogram(histogramOf(df, groupCol, valueCol),
      groupCol, valueCol, qsPerMille)

  /** The collapsed `(group, value, cnt)` histogram of non-NULL values —
    * step 1 above, also the PERSISTABLE index layout behind
    * [[histogramIncrement]]. */
  def histogramOf(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // integral values only: silently truncating a DOUBLE into the long
    // histogram would report quantiles of floor(value) as if they were
    // exact — the caller must quantize explicitly (per-mille ints), as
    // the object scaladoc prescribes
    require(OrderStats.integralTypes.contains(df.schema(valueCol).dataType),
      s"$valueCol must be integral (got ${df.schema(valueCol).dataType}); " +
        "quantize continuous measures explicitly before calling")
    df.where(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast(LongType).as(valueCol))
      .groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Incremental maintenance of a persisted histogram table — exact
   * quantiles as a SERVED INDEX, the same persisted+incremental
   * discipline as the postings / band / IVF tables: counts are
   * additive, so folding an epoch is `union` + one re-aggregation on
   * `(group, value)` — row counts stay histogram-scale (distinct
   * values), the corpus is touched once per epoch and NEVER re-read to
   * answer a quantile. Serving is [[quantilesFromHistogram]] off the
   * table.
   *
   * PRECONDITION (the count-shaped-increment rule, same as
   * `spanStatsIncrement`): `fresh` must be disjoint from rows already
   * folded in — exactly-once epochs; the sink manifest's
   * re-delivered-epoch detection gives streaming callers this for
   * free. A replayed chunk inflates counts silently.
   */
  def histogramIncrement(history: DataFrame, fresh: DataFrame,
      groupCol: String, valueCol: String): DataFrame = {
    require(history.columns.toSeq == Seq(groupCol, valueCol, "cnt"),
      s"history must be ($groupCol, $valueCol, cnt); got " +
        history.columns.mkString(","))
    history.unionByName(histogramOf(fresh, groupCol, valueCol))
      .groupBy(col(groupCol), col(valueCol))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Steps 2–3 above over an existing histogram: rank selection by pure
    * integer arithmetic. `hist` is a [[histogramOf]] /
    * [[histogramIncrement]] output (or any `(group, value, cnt)` table
    * with positive counts). */
  def quantilesFromHistogram(hist: DataFrame, groupCol: String,
      valueCol: String, qsPerMille: Seq[Int]): DataFrame = {
    require(qsPerMille.nonEmpty, "qsPerMille must be non-empty")
    require(qsPerMille.forall(q => q >= 1 && q <= 1000),
      s"per-mille ranks must be in [1, 1000]: $qsPerMille")
    require(qsPerMille.distinct.size == qsPerMille.size,
      s"duplicate ranks would duplicate output rows: $qsPerMille")
    val sp = hist.sparkSession
    import sp.implicits._
    val byGroup = Window.partitionBy(col(groupCol))
    val cum = hist
      .withColumn("__cum", sum($"cnt").over(byGroup.orderBy(col(valueCol))))
      .withColumn("__n", sum($"cnt").over(byGroup))
    // rank-k membership: cum >= ceil(q·n/1000)  ⇔  1000·cum >= q·n for
    // integral cum (safe to 9·10^15 rows per group before long overflow)
    cum.crossJoin(broadcast(qsPerMille.toDF("q_pm")))
      .where($"__cum" * 1000 >= $"q_pm".cast(LongType) * $"__n")
      .groupBy(col(groupCol), $"q_pm")
      .agg(min(col(valueCol)).as("value"))
  }

  /**
   * Gate-calibration sweep — the threshold-picking readout behind every
   * score gate in this engine ([[graft.operators.TextAnalysis.qualityScore]]
   * tiers, the q102 perceptron margin, [[Sampling.tokenBudgetByStratum]]
   * budgets): for EVERY distinct score value `s` per group, what the
   * corpus keeps under the rule "admit score ≥ s" — docs and token mass.
   * One table answers "where do I set the threshold to keep X% of
   * tokens" for all thresholds at once, instead of re-running the gate
   * per candidate value.
   *
   * Output: `(group, score, n_docs, n_tokens, kept_docs, kept_tokens)` —
   * one row per distinct (group, score); `n_*` is that grade alone,
   * `kept_*` is the descending-cumulative total (this grade and every
   * better one). `kept_*` is monotone non-increasing in the threshold by
   * construction; rows with NULL score or NULL tokens are excluded up
   * front (a null grade has no place on a calibration curve), matching
   * [[Sampling.tokenBudgetByStratum]].
   *
   * 100 TB shape: the same collapsed-histogram discipline as
   * [[histogramOf]] — the corpus crosses ONE hash exchange already
   * collapsed to groups × score grades by the map-side partial agg; the
   * window then re-clusters that tiny table onto `group` alone (a second
   * exchange, but one carrying histogram rows, not corpus rows — both
   * plan-asserted). Scores must be integral (quantized), enforced like
   * [[histogramOf]]; a continuous score would degrade the histogram to
   * corpus-row count.
   */
  def gateSweep(df: DataFrame, groupCol: String, scoreCol: String,
      tokensCol: String): DataFrame =
    gateSweepFromHistogram(
      sweepHistogramOf(df, groupCol, scoreCol, tokensCol), groupCol)

  /** The collapsed `(group, score, n_docs, n_tokens)` doc+token-mass
    * histogram behind [[gateSweep]] — also its PERSISTABLE index layout
    * (the [[histogramOf]] discipline with a second additive measure). */
  def sweepHistogramOf(df: DataFrame, groupCol: String, scoreCol: String,
      tokensCol: String): DataFrame = {
    require(OrderStats.integralTypes.contains(df.schema(scoreCol).dataType),
      s"$scoreCol must be integral (got ${df.schema(scoreCol).dataType}); " +
        "quantize continuous scores explicitly before calling")
    df.where(col(scoreCol).isNotNull && col(tokensCol).isNotNull)
      .groupBy(col(groupCol), col(scoreCol).cast(LongType).as("score"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast(LongType)).as("n_tokens"))
  }

  /** Incremental maintenance of a persisted sweep histogram — union + one
    * re-aggregation; both measures are additive, so chunked arrival ≡ one
    * batch build. Same count-shaped-increment PRECONDITION as
    * [[histogramIncrement]]: `fresh` must be disjoint from docs already
    * folded in (exactly-once epochs); a replayed chunk inflates both
    * measures silently. */
  def sweepHistogramIncrement(history: DataFrame, fresh: DataFrame,
      groupCol: String, scoreCol: String, tokensCol: String): DataFrame = {
    require(history.columns.toSeq ==
        Seq(groupCol, "score", "n_docs", "n_tokens"),
      s"history must be ($groupCol, score, n_docs, n_tokens); got " +
        history.columns.mkString(","))
    history
      .unionByName(sweepHistogramOf(fresh, groupCol, scoreCol, tokensCol))
      .groupBy(col(groupCol), col("score"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  /** The calibration curve served off a persisted [[sweepHistogramOf]] /
    * [[sweepHistogramIncrement]] table — the corpus is never re-read to
    * answer a threshold question; only the tiny histogram crosses the
    * window. */
  def gateSweepFromHistogram(hist: DataFrame, groupCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("kept_docs", sum(col("n_docs")).over(w))
      .withColumn("kept_tokens", sum(col("n_tokens")).over(w))
  }

  /**
   * Per-group percentile-BAND outlier gate — the data-dependent trim
   * every webtext recipe applies (C4/Gopher-style: drop the tails of
   * the per-source length distribution; a fixed absolute threshold is
   * wrong across sources whose length scales differ by 100×). Flags
   * each row with `kept` = value within the group's
   * `[loPm, hiPm]` per-mille band (type-1 quantiles, inclusive both
   * ends — the band ENDPOINTS are elements and survive their own gate).
   * Verdict-not-filter, like [[UrlOps.robotsVerdicts]]: the audit trail
   * is the point of a gate; callers `.where($"kept")` to apply it.
   *
   * Two passes by construction — any EXACT data-dependent threshold
   * needs one pass to learn the threshold and one to apply it. Pass 1
   * is [[exactQuantilesByGroup]]'s collapsed histogram (map-side
   * combine does the corpus→domain reduction before the exchange);
   * pass 2 is a broadcast join of the per-group bounds table (groups ×
   * 2 longs — KBs at any corpus size) back onto the scan, so the
   * corpus itself is never shuffled. The single-pass alternative is the
   * approximate built-in `percentile_approx`; use this one where
   * the gate must be digit-reproducible.
   *
   * NULL values and rows of groups with no non-NULL values read
   * `kept = false` (a gate decides; it never returns NULL).
   */
  def bandGateVerdicts(df: DataFrame, groupCol: String, valueCol: String,
      loPm: Int, hiPm: Int): DataFrame = {
    require(loPm < hiPm, s"band must be non-empty: [$loPm, $hiPm]")
    val reserved = Seq("__lo", "__hi", "kept")
    require(!df.columns.exists(reserved.contains),
      s"input must not carry ${reserved.mkString("/")}")
    val bounds = exactQuantilesByGroup(df, groupCol, valueCol, Seq(loPm, hiPm))
      .groupBy(col(groupCol))
      .agg(min(when(col("q_pm") === loPm, col("value"))).as("__lo"),
        min(when(col("q_pm") === hiPm, col("value"))).as("__hi"))
    df.join(broadcast(bounds), Seq(groupCol), "left")
      .withColumn("kept", coalesce(
        col(valueCol).cast(LongType).between(col("__lo"), col("__hi")),
        lit(false)))
      .drop("__lo", "__hi")
  }
}
