package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.TextAnalysis

/**
 * Ingest-time deduplication for the page stream — the streaming form of
 * the batch dedup family ([[graft.operators.Dedup]]): the first page per
 * content fingerprint survives; later copies arriving within the
 * watermark horizon are dropped, and the fingerprint state itself is
 * evicted once the watermark passes (bounded state — the property the
 * reference's TTL-bound history cache approximated wall-clock-wise,
 * `batcher/SlidingWindowBatcher.java:24-74`).
 *
 * Built on `dropDuplicatesWithinWatermark`, which keeps one state-store
 * entry per distinct fingerprint inside the horizon — state size is
 * O(distinct content in horizon), independent of stream length. This is
 * the #1 pre-training ingest op: dedup before anything downstream pays
 * for the duplicate bytes.
 */
object StreamDedup {

  /**
   * Drop re-crawled/duplicate pages by normalized content fingerprint
   * ([[TextAnalysis.fingerprint]]: lowercase, strip non-alphanumerics,
   * md5 — layout-invariant identity).
   *
   * @param tsCol event-time column the watermark rides on
   * @param delay watermark delay; also the dedup horizon: duplicates
   *              farther apart in event time than this may BOTH survive
   *              (the documented `dropDuplicatesWithinWatermark` contract
   *              — at 100 TB/day an unbounded-horizon dedup would hold
   *              unbounded state; run the batch `Dedup.exactDups`
   *              compaction over committed epochs for the long tail)
   */
  def byFingerprint(pages: DataFrame, textCol: String, tsCol: String,
      delay: String): DataFrame =
    pages
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("fp")

  // ==========================================================================
  // Streaming NEAR-dup suppression (greedy minhash-LSH band dedup)
  // ==========================================================================

  /** One exploded (band, sig) bucket probe for a document. */
  final case class BandProbe(band: Int, sig: String, id: String, ts: java.sql.Timestamp)
  /** Bucket state: the event time (µs) at which the bucket was first claimed. */
  final case class BucketClaim(firstTsUs: Long)
  /** Per-band verdict: `stolen` = an earlier doc already claimed this bucket. */
  final case class BandVerdict(id: String, ts: java.sql.Timestamp, band: Int, stolen: Boolean)

  /**
   * Greedy streaming near-dup detection, the ingest form of
   * [[graft.operators.Dedup.minhashLshPairs]]'s bucketing: each page's
   * `bands` minhash band signatures ([[graft.operators.MinHashBandSigs]],
   * a stateless codegen'd projection — signature construction costs the
   * stream NO state) probe a global bucket table; a bucket is owned by
   * the first document that ever presented it (within the watermark
   * horizon), and a document is a near-dup iff ANY of its buckets was
   * already owned — `P[caught] = 1 − (1 − J)^bands` for true Jaccard J,
   * the classic greedy-LSH dedup contract.
   *
   * Determinism: bucket groups sort their micro-batch arrivals by
   * `(ts, id)`, so the globally earliest document claims every contested
   * bucket consistently — two same-batch near-dups can never steal from
   * each other symmetrically (no both-dropped anomaly), and the outcome
   * equals the batch mirror rule "stolen iff an earlier doc shares the
   * bucket" (q44's oracle-checked SQL).
   *
   * State: one `BucketClaim` per distinct bucket in the horizon —
   * `bands ×` the exact-dedup fingerprint state, horizon-evicted via
   * event-time timeout (RocksDB-backed like the sessionizer).
   *
   * Emits per-band verdicts; [[keptInBatch]] collapses them to surviving
   * documents INSIDE foreachBatch (every band row of a doc is emitted in
   * the batch it arrives, so the collapse is batch-local — no second
   * stateful operator, no added latency).
   */
  /**
   * @param applyWatermark set false when `pages` ALREADY carries a
   *        watermark on `tsCol` (e.g. chained after [[byFingerprint]] in
   *        the same query — Spark 4 supports chained stateful operators
   *        but disallows redefining the watermark mid-stream). On that
   *        path `delay` is UNUSED: the upstream watermark is the
   *        effective late-row horizon — pass the same value upstream.
   *        Chained caveat: for SAME-batch exact-dup groups the upstream
   *        dropDuplicates keeps an arbitrary (processing-order) copy, so
   *        which url claims the buckets — not whether the content
   *        survives — can vary run to run; the unchained operator's
   *        (ts, id) claiming order is fully deterministic.
   */
  def nearDupVerdicts(pages: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String, horizonUs: Long,
      n: Int = 3, bands: Int = 8, applyWatermark: Boolean = true): Dataset[BandVerdict] = {
    import pages.sparkSession.implicits._
    // chained path: a bare alias PROPAGATES the watermark metadata on the
    // attribute; a cast wraps it and strips the event-time tag — so the
    // pre-watermarked input must already be a timestamp column
    val tsProj =
      if (applyWatermark) col(tsCol).cast("timestamp").as("ts")
      else col(tsCol).as("ts")
    val projected = pages
      .select(posexplode(graft.operators.Dedup.minhash_band_sigs(col(textCol), n, bands))
          .as(Seq("band", "sig")),
        col(idCol).cast("string").as("id"), tsProj)
    val probes = (if (applyWatermark) projected.withWatermark("ts", delay) else projected)
      .as[BandProbe]
    probes.groupByKey(p => (p.band, p.sig))
      .flatMapGroupsWithState[BucketClaim, BandVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows: Iterator[BandProbe], state: GroupState[BucketClaim]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs() * 1000L
            // tie-break at equal event time: shorter-then-lexicographic id —
            // for decimal-string ids this IS numeric order ("2" before
            // "10"), matching the batch mirror's smaller-id-wins rule (q44)
            val arrivals = rows.toSeq
              .map(p => (graft.model.TsUtil.toUs(p.ts), p))
              .filter(_._1 >= wm) // explicit late-row drop, like SessionizeTwoPhase
              .sortBy { case (us, p) => (us, p.id.length, p.id) }
            if (arrivals.isEmpty) Iterator.empty
            else {
              val head = arrivals.head
              val claimed = state.getOption
              val verdicts = arrivals.map { case (_, p) =>
                BandVerdict(p.id, p.ts, p.band,
                  stolen = claimed.isDefined || (p ne head._2))
              }
              val firstUs = claimed.map(_.firstTsUs).getOrElse(head._1)
              val lastUs = arrivals.last._1
              state.update(BucketClaim(firstUs))
              // hold the claim for the dedup horizon past the newest arrival
              state.setTimeoutTimestamp(
                math.max((lastUs + horizonUs) / 1000L, state.getCurrentWatermarkMs() + 1))
              verdicts.iterator
            }
          }
      }
  }

  /**
   * foreachBatch collapse of [[nearDupVerdicts]] output: the documents of
   * this micro-batch with zero stolen bands (plus docs with no shingles,
   * which emit no band rows and are never suppressed — handle upstream if
   * short docs matter). Batch-local: no streaming state.
   *
   * Same-id copies co-arriving in one batch collapse per band FIRST
   * (min(stolen): the claiming copy's verdict wins), so a re-crawled url
   * whose first copy claimed its buckets still survives — only then is
   * the per-doc any-band-stolen rule applied.
   */
  def keptInBatch(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("id"), col("band"))
      .agg(min(col("stolen")).as("stolen"), min(col("ts")).as("ts"))
      .groupBy(col("id"))
      .agg(max(col("stolen")).as("any_stolen"), min(col("ts")).as("ts"))
      .where(!col("any_stolen"))
      .select(col("id"), col("ts"))

  /**
   * The full ingest-time training-data prep pipeline in ONE streaming
   * query — the streaming twin of the batch prep query (q45): quality
   * gate → language whitelist → exact fingerprint dedup → greedy
   * near-dup suppression. Collapse each micro-batch with [[keptInBatch]].
   *
   * Order matters at 100 TB: the two gates are STATELESS projections
   * (codegen'd regexp scoring, no state, no shuffle) and run first, so a
   * rejected page costs one scan and nothing downstream — no fingerprint
   * state entry, no band claims, no shuffled bytes. Only gated survivors
   * reach the two chained stateful operators (one checkpoint for both —
   * Spark 4 multi-stateful-operator support; see [[nearDupVerdicts]]'s
   * chaining contract).
   *
   * Defaults mirror the batch twin's gates (q45: quality >= 60, any
   * identified language). Note the gate is on PREDICTED language ([[TextAnalysis.langId]]),
   * as a real pipeline must — ground-truth labels don't exist at ingest.
   */
  def prepPipeline(pages: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String, horizonUs: Long,
      minQuality: Int = 60, langs: Seq[String] = Seq("en", "de", "fr", "es", "zh"),
      n: Int = 3, bands: Int = 8): DataFrame = {
    val gated = pages.where(
      TextAnalysis.qualityScore(col(textCol)) >= minQuality &&
        TextAnalysis.langId(col(textCol)).isin(langs: _*))
    val exact = byFingerprint(gated, textCol, tsCol, delay)
    nearDupVerdicts(exact, idCol, textCol, tsCol, delay, horizonUs,
      n = n, bands = bands, applyWatermark = false).toDF()
  }
}
