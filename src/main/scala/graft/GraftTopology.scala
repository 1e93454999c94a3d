package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.ExactlyOnceSink

/**
 * Fluent topology facade — the reference's `TopologyBuilder` UX
 * (`backtype.storm.topology.TopologyBuilder` as used by every shipped
 * example: `stormcv-examples/.../E1_GrayScaledTopology.java:43-69`,
 * `E2_FacedetectionTopology.java:46-66` — `setSpout(new CVParticleSpout(
 * fetcher))`, then a chain of `setBolt(name, new SingleInputBolt(op),
 * parallelism).shuffleGrouping(prev)`) re-expressed over declarative
 * Dataset pipelines, so a reference user can assemble the same
 * source → op → op → sink chains by name without writing raw plan code.
 *
 * The mapping is deliberately NOT one-to-one with Storm's physical
 * model, because Spark's is better for this workload:
 *
 *  - a Storm bolt is a PROCESS boundary (every hop serializes tuples
 *    onto a queue); a [[GraftTopology.op]] stage is a LOGICAL label on a
 *    plan fragment. Catalyst fuses adjacent per-row stages into one
 *    whole-stage-codegen span — chaining ten ops costs the same as one
 *    fused map, which is the round-1 finding that made the engine
 *    match-or-beat the reference's per-core throughput in the first
 *    place (no per-hop serialize/queue/deserialize tax).
 *  - `shuffleGrouping` is Storm's DEFAULT edge; in Spark data only moves
 *    when a computation needs it to. [[shuffleGrouping]] therefore
 *    exists for the one case it still means something — rebalancing
 *    ragged/skewed input splits — and [[fieldsGrouping]] for forcing
 *    key co-location across SEVERAL same-key stages (a single
 *    aggregation gets its exchange from the planner automatically, and
 *    streaming stateful ops are partitioned by the state store; calling
 *    it ahead of one groupBy is a wasted shuffle, which its scaladoc
 *    says out loud).
 *  - Storm's per-bolt UI counters become [[observed]] stages:
 *    `Dataset.observe` accumulates named row counts inside the fused
 *    plan (no extra pass), surfaced per micro-batch in
 *    `StreamingQueryProgress.observedMetrics` next to the offset and
 *    watermark metrics `graft.streaming.MetricsListener` already logs.
 *  - `parallelism` knobs on bolts (`setBolt(..., 2)`) have no analog on
 *    purpose: task counts come from `spark.sql.shuffle.partitions` /
 *    AQE, not per-stage hand tuning.
 *
 * Stage names must be unique within a topology (Storm enforced the same
 * on bolt ids); [[observed]] relies on it because observation names are
 * per-query unique in Spark.
 */
final class GraftTopology private (
    private val df: DataFrame,
    val stages: Vector[String]) {

  private def next(name: String, d: DataFrame): GraftTopology = {
    require(name.nonEmpty, "stage name must be non-empty")
    require(!stages.contains(name),
      s"duplicate stage name '$name' (stages so far: ${stages.mkString(", ")})")
    new GraftTopology(d, stages :+ name)
  }

  /** Synthesized labels (groupings, merge) are auto-numbered on repeat —
   *  re-partitioning by the same key twice is a legal topology; only
   *  USER-chosen stage ids are strictly unique. */
  private def uniqueLabel(base: String): String =
    if (!stages.contains(base)) base
    else Iterator.from(2).map(i => s"$base#$i").find(!stages.contains(_)).get

  /** Branch stage logs may share only their common PREFIX (the shared
   *  lineage of a fan-out); any other collision is two different stages
   *  under one name — rejected loudly, because the combined plan would
   *  also carry colliding observation names. */
  private def combineStages(other: GraftTopology): Vector[String] = {
    val common = stages.zip(other.stages).takeWhile { case (a, b) => a == b }.length
    val tail = other.stages.drop(common)
    val clash = tail.filter(stages.contains)
    require(clash.isEmpty,
      s"branches reuse non-prefix stage name(s): ${clash.mkString(", ")}")
    stages ++ tail
  }

  /** `SingleInputBolt(op)` analog: one named transform stage. Adjacent
   *  `op` stages fuse into one codegen span — no per-hop cost. */
  def op(name: String)(f: DataFrame => DataFrame): GraftTopology =
    next(name, f(df))

  /** [[op]] plus a per-batch row counter accumulated inside the fused
   *  plan (`Dataset.observe`) — the Storm UI per-bolt **emitted** count
   *  (rows leaving the stage; a filter's survivors, not its input).
   *  Batch: read via `Observation`/`QueryExecutionListener`; streaming:
   *  `StreamingQueryProgress.observedMetrics(name)`. */
  def observed(name: String)(f: DataFrame => DataFrame): GraftTopology =
    next(name, f(df).observe(name, count(lit(1)).as("rows")))

  /** `fieldsGrouping(cols)` analog: hash-partition by key so SEVERAL
   *  downstream same-key stages share one exchange (the planner reuses
   *  it). For a single aggregation this is a wasted shuffle — omit it
   *  and let Catalyst place the exchange. Hot-key inputs should use
   *  `SkewAgg.saltedAgg` instead (two-phase, the reference's
   *  fieldsGrouping hotspot fix). */
  def fieldsGrouping(first: String, rest: String*): GraftTopology =
    next(uniqueLabel(s"fields:${(first +: rest).mkString(",")}"),
      df.repartition((first +: rest).map(col): _*))

  /** `shuffleGrouping` analog: round-robin rebalance to `n` partitions.
   *  Storm's default edge; here only worth an exchange when upstream
   *  splits are ragged or skewed (e.g. a few giant files). */
  def shuffleGrouping(n: Int): GraftTopology =
    next(uniqueLabel(s"shuffle:$n"), df.repartition(n))

  /** [[observed]] for BATCH topologies wanting the counter
   *  synchronously: attach a caller-owned `Observation` — after the
   *  first action on the built plan, `obs.get("rows")` returns the
   *  stage's emitted count without any listener plumbing. (Streaming
   *  chains use [[observed]]: Observation does not support streaming
   *  Datasets.) */
  def observedWith(obs: org.apache.spark.sql.Observation)(
      f: DataFrame => DataFrame): GraftTopology =
    next(uniqueLabel(s"observed:${obs.name}"),
      f(df).observe(obs, count(lit(1)).as("rows")))

  /** Event-time watermark stage — the declaration Storm's TTL caches
   *  made implicitly (`BatchInputBolt` History eviction): bounds state
   *  and defines window finality for every downstream stateful stage.
   *  No-op semantics on batch plans, so a chain with a watermark runs
   *  unchanged in either mode. */
  def watermark(tsCol: String, delay: String): GraftTopology =
    next(uniqueLabel(s"watermark:$tsCol"), df.withWatermark(tsCol, delay))

  /** Small-dimension enrichment — the reference's allGrouping model
   *  distribution (`grouping` of model/metadata to every bolt instance):
   *  the dim is broadcast, the main stream never moves. */
  def dimJoin(name: String, dim: DataFrame, keys: Seq[String],
      joinType: String = "inner"): GraftTopology =
    next(name, df.join(broadcast(dim), keys, joinType))

  /** Fan-in of two branches — `FeatureCombinerOp` fed by
   *  `SequenceNrBatcher` (`operation/FeatureCombinerOp.java:30-62`):
   *  an equi-join on the shared key. Both sides' stages are kept in the
   *  combined stage log. On streaming inputs this is a stream-stream
   *  join: apply watermarks upstream (see `PageStream.joinPagesWithMeta`
   *  for the house pattern). */
  def fanIn(name: String, other: GraftTopology, keys: Seq[String],
      joinType: String = "inner"): GraftTopology =
    new GraftTopology(df, combineStages(other))
      .next(name, df.join(other.df, keys, joinType))

  /** Multi-edge subscription (a bolt subscribing to several upstreams):
   *  union by column NAME, so branch column order can differ. */
  def merge(other: GraftTopology): GraftTopology = {
    val merged = new GraftTopology(df, combineStages(other))
    merged.next(merged.uniqueLabel(
      s"merge:${other.stages.lastOption.getOrElse("branch")}"),
      df.unionByName(other.df))
  }

  /** The assembled logical plan. Lazy, as every Dataset is — nothing has
   *  executed yet; hand it to an action, a writer, or [[startSink]]. */
  def build: DataFrame = df

  /** `cluster.submitTopology` analog for streams: wire the topology into
   *  the exactly-once epoch-manifest sink (the engine's `StreamWriter` /
   *  Iceberg-table stand-in) and start it. Kill/resume-safe via the
   *  checkpoint + the sink's re-delivered-epoch skip. This is the one
   *  `writeStream` start-up: `graft.app.PagePipelineApp` starts every
   *  mode through it, `graft.streaming.RequestService` every service and
   *  `graft.StreamPipelineBench` its measured run.
   *
   *  @param trigger   micro-batch trigger (default: every 5 s)
   *  @param bucketBy  optional (routeCol, nBuckets): route rows to
   *                   `<routeCol>_bucket` for the sink's bucketed layout
   *  @param statsCol  column min/max recorded per epoch for read-side
   *                   time-range pruning
   *  @param perBatch  batch-local transform applied inside foreachBatch
   *                   (e.g. `StreamDedup.keptInBatch`) — runs under the
   *                   sink's idempotence, so it may consult the table */
  def startSink(tableDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      bucketBy: Option[(String, Int)] = None,
      statsCol: Option[String] = None,
      perBatch: DataFrame => DataFrame = identity): StreamingQuery = {
    // validate at start, not at the first micro-batch: an async
    // unresolved-column death inside foreachBatch is the worst way to
    // learn a stage dropped the routing column. The columns checked are
    // the ones the sink receives — perBatch applied to an empty batch of
    // the stream's schema. Lazy: only a start with a bucket or stats
    // column to check pays for it (a perBatch may run a job even on an
    // empty batch)
    bucketBy.foreach { case (_, n) =>
      require(n > 0, s"bucketBy needs a positive bucket count, got $n") }
    lazy val sinkCols = perBatch(df.sparkSession.createDataFrame(
      java.util.Collections.emptyList[Row](), df.schema)).columns
    def requireSinkCol(what: String, c: String): Unit =
      require(sinkCols.contains(c), s"$what '$c' is not a column the sink " +
        s"receives (writes: ${sinkCols.mkString(", ")})")
    bucketBy.foreach { case (route, _) => requireSinkCol("bucketBy route column", route) }
    statsCol.foreach(requireSinkCol("statsCol", _))
    val bucketColName = bucketBy.map { case (route, _) => s"${route}_bucket" }
    val sink = new ExactlyOnceSink(tableDir, bucketColName, statsCol)
    def withBucket(d: DataFrame): DataFrame = bucketBy match {
      case Some((route, n)) => d.withColumn(bucketColName.get,
        ExactlyOnceSink.bucket(col(route), n))
      case None => d
    }
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((b: Dataset[Row], id: Long) =>
        sink.write(withBucket(perBatch(b.toDF())), id))
      .start()
  }
}

object GraftTopology {
  /** `setSpout` analog: any batch or streaming DataFrame is a source —
   *  `spark.read.parquet`, `PageStream.fromRate`, `JsonlPages
   *  .streamPages`, a MemoryStream. One topology, either mode. */
  def from(source: DataFrame, name: String = "source"): GraftTopology = {
    require(name.nonEmpty, "source stage name must be non-empty")
    new GraftTopology(source, Vector(name))
  }
}
