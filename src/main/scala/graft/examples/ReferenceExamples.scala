package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftTopology
import graft.functions.ExtractHtmlText.extract_html_text
import graft.operators.{TextAnalysis, Topology, Windows}

/**
 * The reference's nine shipped example topologies
 * (`stormcv-examples/src/nl/tno/stormcv/example/E1..E9_*.java`),
 * re-assembled one-for-one with [[graft.GraftTopology]] and the mapped
 * operators — the "switch and run what you run today" demonstration for
 * the example programs themselves, on top of the per-operator coverage
 * map (SURVEY.md §2). Stage names mirror the reference's bolt ids.
 *
 * Payload translation (SURVEY.md §1): a web page stands in for a frame;
 * deterministic text extraction for decode/scale; per-text integer
 * scores for visual features; token/char structure for pixels. The
 * viewer sinks (`MjpegStreamingOp`) become observed row counters or the
 * memory/exactly-once sinks — every chain below returns the final
 * DataFrame so callers pick the sink (`build` semantics), exactly like
 * the examples' last bolt fed `MjpegStreamingOp` or `DrawFeaturesOp`.
 *
 * Each function takes the raw pages table `(url, host, warc_ts, html)`.
 * Mode: [[e1Grayscale]] (with `watermarkDelay`) and [[e7FetchOperate]]
 * run unchanged on a streaming source (both spec'd);
 * [[e9ContrastEnhancement]] is stateless and streams the same way;
 * [[e8BackgroundSubtraction]]'s
 * streaming twin is `SessionizeTwoPhase` (identical output, spec'd
 * there). The remaining chains use batch-only constructs in this form —
 * `lag`/`row_number` ordered windows (e4 — whose streaming twin is
 * `graft.streaming.SequentialPairs` — and e6), unwatermarked
 * groupBy-merge (e5), and multi-step aggregation (e2, e3's fan-in of
 * aggregated branches would need watermarked join bounds) — exactly the
 * shapes the engine's streaming plane re-expresses with
 * `flatMapGroupsWithState` state (`SessionizeTwoPhase`, `PatternDetect`,
 * `StreamDedup`) when they must run unbounded.
 */
object ReferenceExamples {

  /** Shared first hop of every chain — the fetcher's decode stage
   *  (`StreamReader` analog): html → deterministic text, blob dropped. */
  private def extracted(pages: DataFrame): DataFrame =
    pages.withColumn("text", extract_html_text(col("html"))).drop("html")

  /** E1_GrayScaledTopology.java:55-66 — spout → scale → grayscale →
   *  sliding-window viewer. Grayscale collapses channels; the text
   *  analog collapses case/punctuation ([[TextAnalysis.fingerprint]]'s
   *  normal form). The viewer's sliding window of recent frames is the
   *  1h/30m sliding count per host. The reference runs this topology on
   *  a LIVE stream; pass `watermarkDelay` to run the identical chain on
   *  a streaming source (append-mode window finality) — omitted, the
   *  same chain is the batch mirror. */
  def e1Grayscale(pages: DataFrame, watermarkDelay: Option[String] = None): DataFrame = {
    val base = GraftTopology.from(pages)
      .op("scale")(extracted)
      .op("grayscale")(_.withColumn("gray", TextAnalysis.fingerprint(col("text"))))
    watermarkDelay.fold(base)(d => base.watermark("warc_ts", d))
      .op("streamer")(d => Windows.sliding(d, "warc_ts", "1 hour", "30 minutes",
        Seq(col("host")), Seq(count(lit(1)).as("n"))))
      .build
  }

  /** E2_FacedetectionTopology.java:46-66 — spout → HaarCascade face
   *  detect → ROI extraction → drawer. Detection-against-a-broadcast-
   *  model is the shingle matcher (`RequestBolt`/`PartialMatcher`
   *  analog, q33). The matcher's top-k ids are Long (`TopK.Scored`), so
   *  both sides key by `xxhash64(url)` — the house numeric-id bridge for
   *  string-keyed corpora. `templates` needs (template_url,
   *  template_text); output rows are (request_id, doc_id, score_q, rk)
   *  over those hashes. Streaming twin: the long-running DRPC service
   *  (`RequestService.start` serving `RequestResponse.matchText` /
   *  `matchTextFromIndex` — the q33/q52 serving plane), which runs this
   *  exact match per request micro-batch with exactly-once responses. */
  def e2FaceDetection(spark: SparkSession, pages: DataFrame,
      templates: DataFrame, minScoreQ: Long = 500L): DataFrame =
    GraftTopology.from(pages)
      .op("decode")(extracted)
      .op("face_detect")(d => graft.operators.RequestResponse.matchText(
        spark,
        templates.select(xxhash64(col("template_url")).as("template_id"),
          col("template_text")),
        d.withColumn("page_id", xxhash64(col("url"))),
        "template_id", "template_text", "page_id", "text")
        .where(col("score_q") >= minScoreQ))
      .build

  /** E3_MultipleFeaturesTopology.java:57-86 — one scaled stream fans out
   *  to TWO feature extractors whose outputs a `SequenceNrBatcher` +
   *  `FeatureCombinerOp` reunite per frame. Here: quality and language
   *  branches, fan-in on url ([[GraftTopology.fanIn]]). */
  def e3MultipleFeatures(pages: DataFrame): DataFrame = {
    // Both branches extend the SAME scaled topology (shared-prefix stage
    // logs). Cost note: a self-join does not reuse shared lineage — the
    // extraction stage evaluates once per branch (Storm fanned out
    // materialized tuples; Spark re-runs lineage unless persisted). This
    // keeps the example's SHAPE; the production form for same-row
    // features is E7's single fused projection — both features in one
    // pass, no join at all.
    val scaled = GraftTopology.from(pages, "scale_src").op("scale")(extracted)
    val quality = scaled.op("quality_branch")(
      _.select(col("url"), TextAnalysis.qualityScore(col("text")).as("quality_q")))
    val lang = scaled.op("lang_branch")(
      _.select(col("url"), TextAnalysis.langId(col("text")).as("lang_pred")))
    quality.fanIn("combiner", lang, Seq("url")).build
  }

  /** E4_SequentialFeaturesTopology.java:59-77 — `SequentialFrameOp`
   *  pairs each frame with its predecessor for sequential features.
   *  Successor pairing per host in event-time order via `lag` (the
   *  q09/q14 OpticalFlow mapping), emitting the inter-page deltas.
   *  Streaming twin: `graft.streaming.SequentialPairs.pairs` — the same
   *  pairing watermark-final on an unbounded stream (spec'd ≡ this lag
   *  mirror). */
  def e4SequentialFeatures(pages: DataFrame): DataFrame =
    GraftTopology.from(pages)
      .op("scale")(extracted)
      .op("sequential")(d => {
        val w = Window.partitionBy(col("host")).orderBy(col("warc_ts"))
        d.select(col("host"), col("url"), col("warc_ts"),
            length(col("text")).as("len"))
          .withColumn("prev_len", lag(col("len"), 1).over(w))
          .withColumn("prev_url", lag(col("url"), 1).over(w))
          .where(col("prev_len").isNotNull)
          .withColumn("flow", col("len") - col("prev_len"))
      })
      .build

  /** E5_TilingTopology.java:49-72 — `TilingOp` splits each frame into
   *  tiles, `DummyTileGrouping` routes them, `TilesRecombinerOp` merges
   *  them back per frame: [[Topology.sections]] fan-out → fields
   *  grouping on the original key → [[Topology.recombine]]. */
  def e5Tiling(pages: DataFrame, nTiles: Int = 4): DataFrame =
    GraftTopology.from(pages)
      .op("decode")(extracted)
      .op("tiler")(d => Topology.sections(
        d.select(col("url"), col("text")), "text", nTiles))
      .fieldsGrouping("url")
      .op("recombiner")(d => Topology.recombine(
        d.select(col("url"), col("section_idx"), col("section_text")), Seq("url")))
      .build

  /** E6_GroupOfFramesTopology.java:60-84 — frames are grouped into
   *  `GroupOfFrames` of fixed size and the optical flow runs GROUP-wise
   *  (`OpticalFlowOp` over each `GroupOfFrames`): [[Topology.groupN]]
   *  per host in event-time order, then the within-group flow — summed
   *  successive length deltas — computed row-locally over each packed
   *  group with array HOFs (no second shuffle: the group rows are
   *  already assembled). */
  def e6GroupOfFrames(pages: DataFrame, n: Int = 4): DataFrame =
    GraftTopology.from(pages)
      .op("scale")(extracted)
      // ts leads the payload struct: collect_list order is unspecified,
      // so the flow stage array_sorts each group by (ts, url) first —
      // the same explicit-ordering rule recombine applies to tiles
      .op("grouper")(d => Topology.groupN(d, "host", "warc_ts",
        struct(col("warc_ts").as("ts"), col("url"),
          length(col("text")).as("len")), n))
      .op("optical_flow")(d => d
        .withColumn("_sorted", array_sort(col("group")))
        .withColumn("flow_sum",
          aggregate(
            zip_with(
              slice(col("_sorted"), lit(1), size(col("_sorted")) - 1),
              slice(col("_sorted"), lit(2), size(col("_sorted")) - 1),
              (a, b) => abs(b.getField("len") - a.getField("len"))),
            lit(0L), (acc, x) => acc + x))
        .drop("_sorted"))
      .build

  /** E7_FetchOperateCombiTopology.java:51-63 — `FetchAndOperateFetcher`
   *  fuses fetch+operate into the spout. The Spark translation IS the
   *  planner's: decode and featurize in one stage, and whole-stage
   *  codegen fuses them with the scan — no facade machinery needed,
   *  which is the point the example demonstrates. */
  def e7FetchOperate(pages: DataFrame): DataFrame =
    GraftTopology.from(pages)
      .op("fetch_and_operate")(d => extracted(d)
        .withColumn("quality_q", TextAnalysis.qualityScore(col("text")))
        .withColumn("tokens", TextAnalysis.tokenCount(col("text"))))
      .build

  /** E8_BackgroundSubtractionTopology.java:43-60 — the stateful per-key
   *  op: each frame is judged against its stream's accumulated state.
   *  The engine's stateful per-key plane is sessionization (q12/q28);
   *  the batch chain uses [[Windows.session]], the streaming chain
   *  `SessionizeTwoPhase` with identical output (spec'd). */
  def e8BackgroundSubtraction(pages: DataFrame, gap: String = "30 minutes"): DataFrame =
    GraftTopology.from(pages)
      .op("decode")(extracted)
      .op("background_model")(d => Windows.session(d, "warc_ts", gap,
        Seq(col("host")),
        Seq(count(lit(1)).as("n_pages"), sum(length(col("text"))).as("chars"))))
      .build

  /** E9_ContrastEnhancementTopology.java:42-56 — a pure per-frame global
   *  enhancement scalar between fetch and viewer; here the quality
   *  score normalized per-mille, kept fused with extraction. */
  def e9ContrastEnhancement(pages: DataFrame): DataFrame =
    GraftTopology.from(pages)
      .op("contrast")(d => extracted(d)
        .select(col("url"), col("host"), col("warc_ts"),
          TextAnalysis.qualityScore(col("text")).as("enhanced_q")))
      .build
}
