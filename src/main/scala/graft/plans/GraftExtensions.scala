package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, ExpressionInfo, Literal}

import graft.functions.ExtractHtmlText
import graft.operators.{HashedTfVec, LangId, LshBucket, MinHashBandSigs, MinRollingHash, PqAdcScore, QualityScore, QuantizedDot, SimHash64, SpanHashes, WinnowHashes}

/**
 * SQL surface of the engine's custom expressions, injected via
 * `SparkSessionExtensions` so `spark.sql("SELECT extract_html_text(html)
 * ...")` works exactly like the Column API:
 *
 *   SparkSession.builder().withExtensions(new GraftExtensions) ...
 *   // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
 *
 * This is the engine-level registration point (SURVEY.md §4: the one
 * place custom Catalyst work is warranted); everything else the engine
 * does is built-in Catalyst operators.
 */
object GraftExtensions {

  /** The literal integer arguments after the first, checked against the
    * call shape `what` (`arity` arguments in all). */
  private def intArgs(args: Seq[Expression], arity: Int, what: String): Seq[Int] = {
    def bad = new IllegalArgumentException(s"$what; got $args")
    if (args.length != arity) throw bad
    args.tail.map {
      case Literal(v, _) => v.toString.toInt
      case _ => throw bad
    }
  }

  /** Every function of the SQL surface: (name, usage, builder). Both
    * registration paths below read this one table. */
  private val Functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("extract_html_text", "extract_html_text(html) - deterministic HTML->text over binary",
      args => ExtractHtmlText(args.head)),
    ("simhash64", "simhash64(text) - 64-bit near-dup sketch",
      args => SimHash64(args.head)),
    ("min_rolling_hash", "min_rolling_hash(text) - winnowing fingerprint",
      args => MinRollingHash(args.head)),
    // null text scores 0 / 'und' — same coalesce as the Column API, so
    // a SQL-side ingest gate behaves identically
    ("quality_score", "quality_score(text) - integer 0..100 ingest quality gate",
      args => Coalesce(Seq(QualityScore(args.head), Literal(0)))),
    ("lang_id", "lang_id(text) - stopword/CJK language heuristic",
      args => Coalesce(Seq(LangId(args.head), Literal.create("und")))),
    ("pq_adc", "pq_adc(lut, codes) - product-quantization ADC score",
      args => PqAdcScore(args.head, args(1))),
    ("dot_q", "dot_q(a, b) - quantized integer dot product of float arrays",
      args => QuantizedDot(args.head, args(1))),
    ("minhash_band_sigs", "minhash_band_sigs(text, n, bands) - per-row minhash band signatures",
      args => {
        val Seq(n, b) = intArgs(args, 3, "minhash_band_sigs(text, n, bands) with literal n/bands")
        MinHashBandSigs(args.head, n, b)
      }),
    ("hashed_tf", "hashed_tf(text, dim) - feature-hashed unigram vector (hashing trick)",
      args => HashedTfVec(args.head, intArgs(args, 2, "hashed_tf(text, dim) with literal dim").head)),
    ("lsh_bucket", "lsh_bucket(v, nPlanes) - sign-random-projection bucket",
      args => LshBucket(args.head, intArgs(args, 2, "lsh_bucket(v, nPlanes) with literal nPlanes").head)),
    ("span_hashes", "span_hashes(text, n) - distinct n-token window md5s (span dedup)",
      args => SpanHashes(args.head, intArgs(args, 2, "span_hashes(text, n) with literal n").head)),
    ("winnow_hashes", "winnow_hashes(text, n, w) - winnowing pos:hash local fingerprints",
      args => {
        val Seq(n, w) = intArgs(args, 3, "winnow_hashes(text, n, w) with literal n/w")
        WinnowHashes(args.head, n, w)
      }))

  /** Register the same functions into an ALREADY-BUILT session (extensions
    * only apply at session build time; getOrCreate may reuse a session). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf") }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), builder))
    }
}
