package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}

/**
 * Portable HyperLogLog — a distinct-count sketch whose REGISTERS are an
 * ordinary table any engine can rebuild bit-for-bit. Spark's own
 * `approx_count_distinct` (the built-in HLL++ aggregate) is a black box:
 * its binary sketch can't be value-checked by an oracle, persisted
 * portably, or merged outside Spark. This twin trades a few
 * points of constant-factor accuracy for three properties this engine
 * treats as load-bearing:
 *
 *   - DETERMINISM: register values derive from the same md5-hex → long
 *     parse as every other hash here ([[Sampling.hashUniform48]]), and
 *     the leading-zero rank is `length(bin(w))` — both exist verbatim in
 *     DuckDB, so q117's oracle replays the registers digit-for-digit.
 *   - MERGEABILITY: a register table folds with `max` — a commutative,
 *     idempotent monoid, so per-epoch increments REPLAY-ABSORB
 *     re-delivered chunks (same argument as [[BloomSet.bloomIncrement]];
 *     contrast the count-valued increments that need exactly-once
 *     epochs), per-shard sketches union into global ones for free, and
 *     the table persists through the bucketed sink like any index.
 *   - BOUNDED STATE: ≤ 2^b rows per group forever — the "how many
 *     distinct urls/users/tokens per source so far" dashboard at 10^12
 *     events costs 2^b longs per group, not a distinct shuffle.
 *
 * Flajolet et al. (AofA 2007) is the public source. The estimator is
 * the raw HLL formula α_m·m²/Σ2^(-r) computed in EXACT long arithmetic:
 * α quantized to the single rational `721300·m / (1000·m + 1079)` milli
 * (the published 0.7213/(1+1.079/m), which at b=6 lands on the
 * canonical 709; at b=4/5 it differs from the small-m constants by
 * ≤ 3‰ — documented, deterministic, engine-identical), and the division
 * staged as t = ⌊m·2^rhoMax/S⌋, est = ⌊α_milli·m·t/1000⌋ so every
 * intermediate stays under 2^59 (S ≤ m·2^rhoMax = 2^49 by
 * construction). The two integer floors add ≲1.5% quantization on top
 * of HLL's inherent 1.04/√m — fine for a sketch, and the price of an
 * estimate both engines reproduce EXACTLY (no float harmonic mean, no
 * small-range linear-counting branch; `n_zero_buckets` is emitted so a
 * caller who wants the low-range correction can apply it).
 *
 * 100 TB shape: one partial-agg exchange on (group, bucket) — map-side
 * combine collapses the event stream to ≤ 2^b rows per group before the
 * shuffle — then the estimate folds those rows group-locally. The
 * reference's nearest device is the metrics `HistogramBatchOp`-style
 * rollup (`operation/`): per-group stats kept small and mergeable.
 */
object DistinctSketch {

  /** α in milli as a single rational — see class doc. */
  def alphaMilli(b: Int): Long = {
    val m = 1L << b
    721300L * m / (1000L * m + 1079L)
  }

  private def requireB(b: Int): Unit =
    require(b >= 4 && b <= 14, s"bucket bits b in [4,14] (got $b)")

  private def hash48(key: Column): Column =
    conv(substring(md5(key.cast(StringType).cast(BinaryType)), 1, 12), 16, 10)
      .cast(LongType)

  /**
   * Register table of `df`'s keys: `(groupCol, bucket, rho)`, ≤ 2^b rows
   * per group (absent bucket ≡ register 0). bucket = top b bits of
   * hash48(key); rho = 1-based position of the leftmost 1-bit in the
   * remaining 48-b bits (rhoMax = 49-b for the all-zero suffix) — the
   * `length(bin(w))` form, identical in DuckDB.
   */
  def registersOf(df: DataFrame, groupCol: String, keyCol: String,
      b: Int): DataFrame = {
    requireB(b)
    require(groupCol != "bucket" && groupCol != "rho",
      s"groupCol '$groupCol' clashes with the register table's own columns")
    val wBits = 48 - b
    val rhoMax = wBits + 1
    val h = hash48(col(keyCol))
    // null keys dropped: md5(null) would otherwise plant a junk
    // (group, null, null) register that skews the zero-bucket count
    df.where(col(keyCol).isNotNull).select(col(groupCol),
        call_function("shiftright", h, lit(wBits)).as("bucket"),
        h.bitwiseAND(lit((1L << wBits) - 1)).as("__w"))
      .withColumn("__rho",
        when(col("__w") === 0L, lit(rhoMax.toLong))
          .otherwise(lit(rhoMax.toLong) - length(bin(col("__w")))))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("__rho")).as("rho"))
  }

  /** Fold fresh keys into an existing register table (same b — caller's
    * contract). Pure `max` monoid: commutative, associative, IDEMPOTENT
    * — re-delivered chunks change nothing, no exactly-once guard needed. */
  def registersIncrement(regs: DataFrame, fresh: DataFrame, groupCol: String,
      keyCol: String, b: Int): DataFrame =
    regs.unionByName(registersOf(fresh, groupCol, keyCol, b))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("rho")).as("rho"))

  /**
   * The serving read: `(groupCol, est_distinct, n_zero_buckets)` off a
   * register table — group-local fold, exact long arithmetic throughout
   * (see class doc for the staged division and its bounds).
   */
  def estimateFromRegisters(regs: DataFrame, groupCol: String,
      b: Int): DataFrame = {
    requireB(b)
    val m = 1L << b
    val rhoMax = (48 - b + 1).toLong
    regs.groupBy(col(groupCol))
      .agg(
        (sum(call_function("shiftleft", lit(1L),
          (lit(rhoMax) - col("rho")).cast(IntegerType)))
          + (lit(m) - count(lit(1))) * lit(1L << rhoMax)).as("__s"),
        (lit(m) - count(lit(1))).as("n_zero_buckets"))
      .withColumn("__t", expr(s"(${m}L * ${1L << rhoMax}L) div __s"))
      .select(col(groupCol),
        expr(s"(${alphaMilli(b)}L * ${m}L * __t) div 1000").as("est_distinct"),
        col("n_zero_buckets"))
  }

  /** Build + estimate in one call (the batch one-shot). */
  def estimateDistinct(df: DataFrame, groupCol: String, keyCol: String,
      b: Int): DataFrame =
    estimateFromRegisters(registersOf(df, groupCol, keyCol, b), groupCol, b)
}
