package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.ExtractHtmlText.extract_html_text
import graft.sources.PageGenConfig
import graft.streaming._

/**
 * The spark-submit-able streaming job — the engine's equivalent of the
 * reference's deployable topologies (`E1_GrayScaledTopology.java:43-69`,
 * `stormcv-deploy/.../DeploymentTopology.java:41-82`): page stream →
 * deterministic extraction → two-phase per-host sessionization →
 * exactly-once epoch-manifest table, resumable from checkpoint, with
 * per-batch offset/watermark metrics.
 *
 * Usage (all args optional):
 *   spark-submit --class graft.app.PagePipelineApp app.jar \
 *     --pages 1000000 --hosts 10000 --rate 50000 --checkpoint /cp \
 *     --table /out/pages_sessions --metrics /out/progress.jsonl \
 *     [--join-meta | --near-dup | --prep | --link-graph
 *      | --trending [--trend-epoch 3600] | --change-track
 *      | --oov-gate /lexicon.parquet [--oov-max 500]
 *      | --lm-gate /bigram_counts.parquet [--lm-min 30000]
 *      | --sem-gate /semgate_dir [--sem-tau 900000] [--sem-dim 32]
 *      | --linear-gate /weights.parquet [--linear-min 1]
 *      | --seen-gate /bloom.parquet [--seen-mbits 1048576]
 *                                   [--seen-k 5] [--seen-shards 1]] \
 *     [--buckets 64 [--bucket-by host]] [--jsonl /warc/jsonl]
 *
 * Kill it at any point and resubmit with the same --checkpoint/--table:
 * processing resumes from the last committed offsets and the sink skips
 * re-delivered epochs (see [[graft.streaming.ExactlyOnceSink]]).
 */
object PagePipelineApp {

  def main(args: Array[String]): Unit = {
    // valueless flags are parsed separately: pairing them positionally
    // would shift every later key/value option
    val flags = Set("--join-meta", "--near-dup", "--prep", "--link-graph",
      "--trending", "--change-track")
    val valueOpts = Set("--pages", "--hosts", "--rate", "--checkpoint", "--table", "--metrics",
      "--buckets", "--bucket-by", "--jsonl", "--oov-gate", "--oov-max",
      "--lm-gate", "--lm-min", "--sem-gate", "--sem-tau", "--sem-dim",
      "--linear-gate", "--linear-min", "--trend-epoch",
      "--seen-gate", "--seen-mbits", "--seen-k", "--seen-shards")
    val kvArgs = args.filterNot(flags.contains)
    // sliding(2, 2) silently discards a trailing odd element — a final
    // `--buckets` with no value would be ignored and the app would run
    // with the default layout; refuse the malformed command line instead
    if (kvArgs.length % 2 != 0)
      sys.error(s"option '${kvArgs.last}' has no value")
    val a = kvArgs.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    // fail loudly on anything unrecognized: a typo'd flag would otherwise
    // silently shift every later key/value pair onto the wrong option
    a.keys.find(k => !valueOpts.contains(k)).foreach { k =>
      sys.error(s"unknown option '$k' (flags: ${flags.mkString(", ")}; " +
        s"options: ${valueOpts.mkString(", ")})")
    }
    a.values.find(_.startsWith("--")).foreach { v =>
      sys.error(s"option value looks like a flag: '$v' — check for a missing value")
    }
    val nPages = a.getOrElse("--pages", "1000000").toLong
    val nHosts = a.getOrElse("--hosts", "1000").toInt
    val rate = a.getOrElse("--rate", "20000").toLong
    val cp = a.getOrElse("--checkpoint", "/tmp/graft-cp")
    val table = a.getOrElse("--table", "/tmp/graft-sessions")
    val metricsPath = a.get("--metrics")
    val joinMeta = args.contains("--join-meta")
    val nearDup = args.contains("--near-dup")
    val prep = args.contains("--prep")
    val linkGraph = args.contains("--link-graph")
    val trending = args.contains("--trending")
    val changeTrack = args.contains("--change-track")
    // modes are mutually exclusive — the mode chain below would otherwise
    // resolve a conflict silently by if/else order (e.g. --near-dup
    // --oov-gate would run the gate and silently skip dedup)
    val pickedModes = Seq("--join-meta" -> joinMeta, "--near-dup" -> nearDup,
      "--prep" -> prep, "--link-graph" -> linkGraph, "--trending" -> trending,
      "--change-track" -> changeTrack,
      "--oov-gate" -> a.contains("--oov-gate"),
      "--lm-gate" -> a.contains("--lm-gate"),
      "--sem-gate" -> a.contains("--sem-gate"),
      "--linear-gate" -> a.contains("--linear-gate"),
      "--seen-gate" -> a.contains("--seen-gate")).collect { case (n, true) => n }
    if (pickedModes.length > 1)
      sys.error(s"pipeline modes are mutually exclusive, got: ${pickedModes.mkString(" ")}")

    val builder = SparkSession.builder()
      .appName("graft-page-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // spark-submit injects spark.master; default to local[*] for bare runs
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")
                   .config("spark.sql.shuffle.partitions",
                     Runtime.getRuntime.availableProcessors)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val listener = new MetricsListener(metricsPath)
    spark.streams.addListener(listener)

    val cfg = PageGenConfig(nPages = nPages, nHosts = nHosts)
    // --jsonl <dir>: ingest external newline-JSON page files instead of
    // the synthetic rate generator (the FileFrameFetcher analog); both
    // feed the identical RawPage contract
    val raw = a.get("--jsonl") match {
      case Some(dir) => graft.sources.JsonlPages.streamPages(spark, dir).toDF()
      case None => PageStream.fromRate(spark, cfg, rowsPerSecond = rate).toDF()
    }
    val pages = raw
      .withColumn("text", extract_html_text(col("html")))
      .drop("html") // never carry the blob past extraction

    // per-mode: the streaming DataFrame plus the batch-local transform the
    // sink applies inside foreachBatch (identity except near-dup collapse)
    val (out, collapse): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      if (linkGraph) {
        // per-epoch host-edge DELTAS appended to the table: link counts
        // are additive over disjoint page sets ([[LinkGraph
        // .edgesIncrement]]'s contract, which the sink's re-delivered-
        // epoch skip upholds across kill/resume), so the log-structured
        // table IS the link graph — serving reads `sum(n_links) GROUP BY
        // (src_host, dst_host)` over the epochs, and compaction folds
        // them. Extraction needs the raw bytes, so this mode taps the
        // stream BEFORE the html drop; edges are stateless per batch
        // (no watermark, no state store). Note the synthetic rate
        // generator cycles page ids after one pass — cycled re-arrivals
        // are genuine re-crawls to a link counter, unlike session mode's
        // late-drop semantics.
        (raw, (b: org.apache.spark.sql.DataFrame) =>
          graft.operators.LinkGraph.hostEdges(b, "html", "host"))
      } else if (trending) {
        // trending-host mode: epoch-decayed activity scores per host
        // (streaming.Trending), one (key, epoch, score) row per ACTIVE
        // (host, epoch) emitted exactly once when the watermark passes
        // the epoch end — the crawl scheduler's "what is hot" feed.
        // Counting is by ARRIVAL: the rate generator cycles page ids, so
        // cycled re-crawls are genuine traffic to an activity counter
        // (the link-graph-mode convention); compose StreamDedup upstream
        // for unique-page semantics. Serving read of the table: newest
        // row per key (max-struct over (epoch, score) — the
        // latestSnapshot shape), then decay score by (horizon - epoch)
        // right-shifts to compare keys "as of now", then top-k.
        val epochUs = a.getOrElse("--trend-epoch", "3600").toLong * 1000000L
        (Trending.fromEvents(spark, pages, "host", "warc_ts", epochUs,
          watermark = "30 minutes").toDF(),
          identity[org.apache.spark.sql.DataFrame] _)
      } else if (changeTrack) {
        // live per-URL change tracking (streaming.ChangeTracker): as
        // re-crawls arrive, cumulative (url, n_crawls, n_changes,
        // change_pm) rows emit once the watermark passes each arrival's
        // event time (order-final — every future arrival must sort
        // after). NOTE on the synthetic generator: cycled page ids
        // re-arrive with their ORIGINAL event times, so once the
        // watermark outruns the synthetic span they drop as late and
        // the steady state is one crawl per url (the sessionize-mode
        // behavior, not the link-graph one) — feed --jsonl for a
        // real re-crawl stream with fresh fetch timestamps. Serving
        // read: newest row per url (max-struct on (n_crawls, ...) —
        // the latestSnapshot shape) = the recrawl scheduler's
        // volatility table.
        import spark.implicits._
        val arrivals = pages
          .select(col("url"), col("warc_ts").as("ts"),
            unix_micros(col("warc_ts")).as("tie"),
            graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"))
          .withWatermark("ts", "30 minutes")
          .as[graft.streaming.ChangeTracker.Arrival]
        (graft.streaming.ChangeTracker.track(arrivals).toDF(),
          identity[org.apache.spark.sql.DataFrame] _)
      } else if (prep) {
        // the complete ingest prep chain (quality gate -> lang gate ->
        // exact dedup -> near-dup suppression) as ONE query; the gates
        // are stateless and run before any state is paid for
        (StreamDedup.prepPipeline(pages.toDF(), "url", "text", "warc_ts",
          delay = "30 minutes", horizonUs = 7200L * 1000000L),
          StreamDedup.keptInBatch _)
      } else if (joinMeta) {
        val meta = PageStream.metaFromRate(spark, cfg, rowsPerSecond = rate / 10).toDF()
        (PageStream.joinPagesWithMeta(pages.toDF(), meta), identity[org.apache.spark.sql.DataFrame] _)
      } else if (a.contains("--oov-gate")) {
        // lexicon-gated ingest: the rare-token (OOV) vocabulary gate
        // applied batch-locally (kill/resume-safe through the same sink
        // idempotence) against a persisted (term, tf) lexicon parquet —
        // pages whose rare-token permille exceeds --oov-max (default
        // 500) are dropped before the sink. This is the FULL-RATE ingest
        // path (10⁴–10⁵ pages per trigger), so it uses rareTokenStats's
        // SHUFFLED lexicon join — rareTokenProbe's broadcast form is
        // sized for a handful of candidate docs per trigger, not this
        // re-summed per term so BOTH a single-build lexicon AND the
        // epoch-PARTIAL table IndexMaintenance.lexiconCatchUp maintains
        // serve correctly (serving the partial rows raw would join a
        // term once per epoch and double-count — the exact failure the
        // catchUp docs warn about); a no-op for already-folded tables
        val lexicon = spark.read.parquet(a("--oov-gate"))
          .groupBy(col("term")).agg(sum(col("tf")).as("tf")).cache()
        val maxRareQ = a.getOrElse("--oov-max", "500").toLong
        val gate = (b: org.apache.spark.sql.DataFrame) => {
          val keep = graft.operators.TextAnalysis.rareTokenStats(
              b.select(col("url"), col("text")), "url", "text", lexicon,
              minTf = 2L)
            .where(col("rare_q") <= maxRareQ)
            .select(col("url"))
          b.join(keep, Seq("url"), "left_semi")
        }
        (pages.toDF(), gate)
      } else if (a.contains("--lm-gate")) {
        // LM-gated ingest: the CCNet-style bigram-likelihood gate applied
        // batch-locally against a persisted (bg, c2) model parquet —
        // pages whose mean quantized likelihood falls below --lm-min
        // (default 30000 ppm) are dropped before the sink. Full-rate
        // path, so it uses scoreDocs's shuffled model join (the
        // broadcast probe is sized for request triggers, not 10^4-page
        // batches); the model's c1/V derivations re-run per trigger off
        // the CACHED counts — model-scale work, cheap next to the batch.
        // Length-gate semantics: pages with < 2 tokens are unscoreable
        // and FAIL the gate (scoreDocs emits no row for them).
        // re-summed per bigram for the same reason as --oov-gate: the
        // lmModelCatchUp table is epoch-partial counts
        val counts = spark.read.parquet(a("--lm-gate"))
          .groupBy(col("bg")).agg(sum(col("c2")).as("c2")).cache()
        val minLmQ = a.getOrElse("--lm-min", "30000").toLong
        val gate = (b: org.apache.spark.sql.DataFrame) => {
          val keep = graft.operators.LanguageModel.scoreDocs(
              b.select(col("url"), col("text")), counts, "url", "text")
            .where(col("lm_q") >= minLmQ)
            .select(col("doc_id").as("url"))
          b.join(keep, Seq("url"), "left_semi")
        }
        (pages.toDF(), gate)
      } else if (a.contains("--sem-gate")) {
        // semantic-dedup-gated ingest: each page is feature-hashed
        // row-locally (TextAnalysis.hashedTfVector — the deterministic
        // embedding surrogate) and refused iff a KEPT near-twin already
        // sits in the persisted semDedup history (RequestResponse
        // .semDedupGateKeep). The gate dir holds the two artifacts the
        // probe needs — `history/` (corpus_id, cv, cn, centroid; the
        // semDedupCatchUp-maintained kept-vector table) and `seeds/`
        // (seed_id, sv, sn; the FROZEN centroid table) — build both with
        // graft.tools.PrepareSemGate or the maintenance loop. Note the
        // synthetic generator cycles page ids after one pass: cycled
        // re-crawls carry IDENTICAL text, so with a history built from
        // the same generator they are refused at cos 1e6 — the streaming
        // mirror of the q92 replay-absorption contract.
        val gateDir = a("--sem-gate")
        val history = spark.read.parquet(s"$gateDir/history").cache()
        val semSeeds = spark.read.parquet(s"$gateDir/seeds").cache()
        val tau = a.getOrElse("--sem-tau", "900000").toLong
        val dim = a.getOrElse("--sem-dim", "32").toInt
        // fail at startup, not silently at runtime: zero seeds would
        // blackhole the whole stream (nothing assignable => nothing
        // admitted), and a dim mismatched with the artifacts would
        // truncate every dot product (QuantizedDot zips to the shorter
        // array) and systematically deflate cosines — the gate would
        // quietly stop deduplicating
        val seedDims = semSeeds.select(size(col("sv"))).limit(1).collect()
        if (seedDims.isEmpty)
          sys.error(s"--sem-gate $gateDir: seeds table is empty — rebuild " +
            "the artifacts with a smaller seedMod (graft.tools.PrepareSemGate)")
        if (seedDims.head.getInt(0) != dim)
          sys.error(s"--sem-dim $dim does not match the artifacts' " +
            s"dimension ${seedDims.head.getInt(0)} ($gateDir/seeds)")
        // the history table must agree too: a seeds/history dim mismatch
        // (artifacts rebuilt at a different dim) would pass the seeds
        // check yet still truncate every history dot product. An EMPTY
        // history is legal (cold-start gate: nothing kept yet).
        val histDims = history.select(size(col("cv"))).limit(1).collect()
        if (histDims.nonEmpty && histDims.head.getInt(0) != dim)
          sys.error(s"--sem-dim $dim does not match the history table's " +
            s"dimension ${histDims.head.getInt(0)} ($gateDir/history)")
        val gate = (b: org.apache.spark.sql.DataFrame) =>
          graft.operators.RequestResponse.semDedupGateKeep(
            b, history, semSeeds, "url", "text", dim, tau)
        (pages.toDF(), gate)
      } else if (a.contains("--linear-gate")) {
        // trained-classifier-gated ingest: pages scored against the
        // persisted integer-perceptron weight table (LinearFilter
        // .weightsDf layout; train with LinearFilter.train over
        // hashedTfVector features) and dropped below --linear-min
        // (default 1, i.e. keep predicted-positive: integer score > 0).
        // Unlike the lexicon/LM/semantic gates this one needs NO join at
        // all: the weights are a model literal baked into the plan and
        // the score is one row-local codegen'd featurize + integer dot —
        // the cheapest gate in the app. Feature dim = weight count by
        // construction (hashedTfVector produces exactly |w| buckets).
        val w = graft.operators.LinearFilter.weightsFrom(
          spark.read.parquet(a("--linear-gate")))
        // all-zero weights score every page 0 and the default threshold
        // would blackhole the stream — an untrained artifact, refuse it
        if (w.forall(_ == 0L))
          sys.error(s"--linear-gate ${a("--linear-gate")}: weights are " +
            "all zero (untrained artifact) — train with LinearFilter.train")
        val minScore = a.getOrElse("--linear-min", "1").toLong
        val gate = (b: org.apache.spark.sql.DataFrame) => {
          val keep = graft.operators.LinearFilter.score(
              graft.operators.TextAnalysis.hashedTfVector(
                b.select(col("url"), col("text")), "url", "text", w.length),
              "tf_vec", w)
            .where(col("score") >= minScore)
            .select(col("url"))
          b.join(keep, Seq("url"), "left_semi")
        }
        (pages.toDF(), gate)
      } else if (a.contains("--seen-gate")) {
        // Bloom seen-set admission: pages whose url probes maybe_seen
        // against the persisted (shard, word_idx, bits) filter are
        // dropped before any state is paid for — the crawl-frontier
        // "have we fetched this before?" gate. Inserted urls NEVER pass
        // (no false negatives); a deterministic false-positive sliver
        // is dropped with them — the trade a frontier makes on purpose
        // (route maybe-seen traffic to the exact snapshot join instead
        // when it must not be lossy). Parameters must match the build
        // (BloomSet.bloomOf), so they are validated against the table's
        // own extent at startup: a wrong --seen-mbits would mis-route
        // every probe and silently re-admit the whole history. The
        // table is re-folded on load (bit_or per word, the oov/lm-gate
        // convention) so epoch-PARTIAL increments appended through the
        // sink serve correctly; bit_or is idempotent, so re-folding an
        // already-folded table is a no-op.
        val seenMBits = a.getOrElse("--seen-mbits", "1048576").toLong
        val seenK = a.getOrElse("--seen-k", "5").toInt
        val seenShards = a.getOrElse("--seen-shards", "1").toInt
        val bloom = spark.read.parquet(a("--seen-gate"))
          .groupBy(col("shard"), col("word_idx"))
          .agg(bit_or(col("bits")).as("bits")).cache()
        val ext = bloom.agg(max(col("shard")), max(col("word_idx")))
          .collect().head
        if (!ext.isNullAt(0)) { // empty filter = cold start, legal
          if (ext.getLong(0) >= seenShards)
            sys.error(s"--seen-shards $seenShards does not cover the " +
              s"table's shard extent ${ext.getLong(0)} " +
              s"(${a("--seen-gate")}) — build-parameter mismatch")
          if (ext.getLong(1) >= seenMBits / graft.operators.BloomSet.WordBits)
            sys.error(s"--seen-mbits $seenMBits does not cover the " +
              s"table's word extent ${ext.getLong(1)} " +
              s"(${a("--seen-gate")}) — build-parameter mismatch")
        }
        val gate = (b: org.apache.spark.sql.DataFrame) =>
          graft.operators.BloomSet.gate(b, "url", bloom,
            seenMBits, seenK, seenShards)
        (pages.toDF(), gate)
      } else if (nearDup) {
        // the full ingest-dedup pipeline in ONE query (chained stateful
        // operators): exact fingerprint dedup first (cheap, catches
        // re-crawls), then greedy minhash band suppression for near-dups;
        // per-band verdicts collapse to surviving pages at the sink
        val exact = StreamDedup.byFingerprint(pages.toDF(), "text", "warc_ts",
          delay = "30 minutes")
        (StreamDedup.nearDupVerdicts(exact, "url", "text", "warc_ts",
          delay = "30 minutes", horizonUs = 7200L * 1000000L,
          applyWatermark = false).toDF(),
          StreamDedup.keptInBatch _)
      } else {
        (SessionizeTwoPhase.fromPages(spark, pages).toDF(),
          identity[org.apache.spark.sql.DataFrame] _)
      }

    // --buckets N writes the bucket-partitioned table layout (pruned
    // reads at the cost of write fan-out); 0 = flat layout. The routing
    // column is EXPLICIT (--bucket-by, default host): silently routing on
    // a different column would break the per-host pruned-read contract —
    // prep/near-dup modes collapse to (id, ts) where id is the url, so
    // pass `--bucket-by id` there deliberately.
    val nBuckets = a.getOrElse("--buckets", "0").toInt
    val routeCol = a.getOrElse("--bucket-by", "host")
    if (nBuckets > 0) {
      // validate at startup, not at the first micro-batch: the collapsed
      // sink schema is known per mode
      val sinkCols =
        if (prep || nearDup) Seq("id", "ts")
        else if (linkGraph) Seq("src_host", "dst_host", "n_links")
        else if (trending) Seq("key", "epoch", "score")
        else if (changeTrack) Seq("url", "n_crawls", "n_changes", "change_pm")
        else out.columns.toSeq
      if (!sinkCols.contains(routeCol))
        sys.error(s"--bucket-by $routeCol is not a sink output column " +
          s"(this mode writes: ${sinkCols.mkString(", ")})")
    }
    val bucketColName = s"${routeCol}_bucket"
    // per-epoch event-time stats let readTimeRange prune epochs from the
    // manifests alone (streaming epochs are naturally time-clustered)
    val statsCol =
      if (linkGraph) None // edge deltas carry no event time
      else if (trending) None // epochs are already coarse time buckets
      else if (changeTrack) None // cumulative counters, no event-time col
      else if (prep || nearDup) Some("ts")
      else if (joinMeta || a.contains("--oov-gate")
        || a.contains("--lm-gate") || a.contains("--sem-gate")
        || a.contains("--linear-gate")
        || a.contains("--seen-gate")) Some("warc_ts")
      else Some("session_start")
    val sink = new ExactlyOnceSink(table,
      if (nBuckets > 0) Some(bucketColName) else None, statsCol)
    def withBucket(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (nBuckets <= 0) d
      else d.withColumn(bucketColName, ExactlyOnceSink.bucket(col(routeCol), nBuckets))
    val q = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink.write(withBucket(collapse(df.toDF())), id))
      .start()
    q.awaitTermination()
  }
}
