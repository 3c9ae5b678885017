package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * SparkSessionExtensions entry point for the graft native expressions — the supported
 * way to ship custom Catalyst functions with a library:
 *
 * {{{
 *   SparkSession.builder()
 *     .withExtensions(new GraftExtensions)            // programmatic
 *   // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
 * }}}
 *
 * Injected SQL functions: `vec_dot`, `vec_cosine` (fused array<float> kernels),
 * `word_shingles(text, n)` (one-pass word n-grams), `jaro_winkler(a, b)`
 * (record-linkage similarity, DuckDB-bit-exact), `md5_prefix60(s)` (60-bit md5
 * hash), `normalize_nfc(s)` / `strip_accents(s)` (Unicode normalization,
 * DuckDB-byte-exact).
 *
 * Injected planner strategy: [[TopKPerKeyStrategy]] — the whole-operator
 * map-side-partial top-k per key (see [[TopKPerKey]]).
 *
 * Injected optimizer rule: [[BinRangeJoinRule]] — conf-gated auto-rewrite of
 * point-in-interval theta joins into binned equi joins
 * (`spark.graft.rangeJoin.binWidth`, see [[BinRangeJoinRule]]'s scaladoc).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    // Whole-operator extension: map-side-partial top-k per key (see TopKPlan).
    e.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    // Optimizer rule: auto-rewrite point-in-interval theta joins to binned
    // equi joins (opt-in via spark.graft.rangeJoin.binWidth; see BinRangeJoin).
    e.injectOptimizerRule(session => BinRangeJoinRule(session))
    // Optimizer rule: RELY PK-FK join elimination — opt-in per table via the
    // graft.primaryKey / graft.foreignKey.* RELY properties (see
    // RelyJoinEliminationRule; dormant when no table declares constraints).
    e.injectOptimizerRule(session => RelyJoinEliminationRule(session))
    // Optimizer rule: row_number() over a declared unique key is 1 — the
    // keyed store's manifest declares its key (see UniqueKeyRowNumberRule;
    // dormant when no table declares one).
    e.injectOptimizerRule(session => UniqueKeyRowNumberRule(session))
    // Optimizer rule: automatic materialized-view query rewrite — a natural
    // GROUP BY over a graft table answers from a provably-fresh incremental
    // mview (see MviewRewriteRule; dormant when no view matches).
    e.injectOptimizerRule(session => MviewRewriteRule(session))
    e.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two float arrays (double)."),
      (args: Seq[Expression]) => DotProduct(args.head, args(1))))
    e.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two float arrays."),
      (args: Seq[Expression]) => CosineSimilarity(args.head, args(1))))
    e.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, n) - array of word n-grams."),
      (args: Seq[Expression]) => {
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_shingles n must be an integer literal, got $other")
        }
        WordShingles(args.head, n)
      }))
    e.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity in [0, 1]."),
      (args: Seq[Expression]) => JaroWinkler(args.head, args(1))))
    e.injectFunction((FunctionIdentifier("md5_prefix60"),
      info("md5_prefix60", "md5_prefix60(s) - first 60 md5 bits as a non-negative bigint."),
      (args: Seq[Expression]) => Md5Prefix60(args.head)))
    e.injectFunction((FunctionIdentifier("normalize_nfc"),
      info("normalize_nfc", "normalize_nfc(s) - Unicode NFC normalization."),
      (args: Seq[Expression]) => NormalizeNfc(args.head)))
    e.injectFunction((FunctionIdentifier("strip_accents"),
      info("strip_accents", "strip_accents(s) - fold accents via NFD + Mn removal."),
      (args: Seq[Expression]) => StripAccents(args.head)))
  }
}
