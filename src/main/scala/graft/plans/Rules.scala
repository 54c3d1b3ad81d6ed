package graft.plans

import graft.functions.{CosineSim, DotProductF}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, GreaterThan, If, LessThan, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Catalyst optimizer rules for graft's native expressions (SURVEY §4.3 —
  * the `Rule[LogicalPlan]` surface; opt-in per session through
  * `Rules.register(spark)`, never installed by `GraftExtensions`).
  *
  * `SimplifySelfSimilarity`: `cosine_sim(x, x)` evaluates d/(√d·√d) with
  * d = Σx² — mathematically 1 for any finite non-zero vector, but in FP the
  * unevaluated form lands within 1 ulp of 1.0 (e.g. d=2 → 2/(√2·√2) =
  * 0.9999999999999998), while the fold CANONICALIZES the result to exactly
  * 1.0 — the mathematically correct value, at most 1 ulp from what the raw
  * expression returns (RulesSpec pins this envelope). NaN cases match the
  * raw expression bit-for-bit: d = 0 (zero-norm or empty vector), NaN, or
  * +Inf all yield NaN. The rewrite folds to a guarded
  * `IF(0 < dot_f(x,x) < +Inf, 1.0, NaN)`: one single-accumulator array pass
  * instead of three accumulators plus two sqrts. The rule is opt-in and
  * every catalog query rounds to 4 decimals, where the ulp is invisible.
  * Null propagation is preserved: the rewrite only fires when the child is
  * deterministic and non-nullable (a nullable child must keep the
  * expression to return null on null input).
  * `dot_f(x, x)` is left alone (it's a real norm computation).
  */
object SimplifySelfSimilarity extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSim(a, b)
          if a == b && a.deterministic && !a.nullable =>
        val d = DotProductF(a, a)
        If(
          And(GreaterThan(d, Literal(0.0, DoubleType)),
              LessThan(d, Literal(Double.PositiveInfinity, DoubleType))),
          Literal(1.0, DoubleType),
          Literal(Double.NaN, DoubleType))
      // jaro_winkler(x, x) = 1.0 for every string including "" (the kernel
      // returns 1.0 on equal inputs unconditionally) — exact fold, no
      // ulp caveat; same null-propagation guard as the cosine fold
      case graft.functions.JaroWinkler(a, b)
          if a == b && a.deterministic && !a.nullable =>
        Literal(1.0, DoubleType)
      // lcs_len(x, x) = size(x): a sequence is its own longest common
      // subsequence — folds the O(n²) DP to an array-length read
      case graft.functions.LcsLen(a, b)
          if a == b && a.deterministic && !a.nullable =>
        org.apache.spark.sql.catalyst.expressions.Size(
          a, legacySizeOfNull = false)
    }
}

object Rules {
  /** Idempotent injection into an existing session's experimental methods. */
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(SimplifySelfSimilarity))
      spark.experimental.extraOptimizations = cur :+ SimplifySelfSimilarity
  }
}
