package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Build-time session integration, the `SparkSessionExtensions` surface:
  * with `spark.sql.extensions=graft.functions.GraftExtensions` every
  * session built from the config exposes the six native expressions as
  * SQL functions (no per-session [[functions.registerSql]] call) and runs
  * the [[HammingIdentityFold]] optimizer rule. Function injection targets
  * the session-build path a platform team controls; the live-session
  * `registerSql` stays for notebook-style opt-in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // arity-checked builder: a wrong-arity SQL call must surface as a
    // clear resolution error, not an IndexOutOfBoundsException from es(1)
    def fn(name: String, arity: Int)(b: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (es: Seq[Expression]) => {
          if (es.length != arity) throw new IllegalArgumentException(
            s"$name expects $arity argument(s), got ${es.length}")
          b(es)
        }))
    fn("fnv1a64", 1)(es => Fnv1a64(es.head))
    fn("simhash64", 1)(es => SimHash64(es.head))
    fn("cosine_sim", 2)(es => CosineSimF(es(0), es(1)))
    fn("hamming64", 2)(es => Hamming64(es(0), es(1)))
    fn("int8_dot", 2)(es => Int8Dot(es(0), es(1)))
    fn("deflate_ratio", 1)(es => DeflateRatio(es.head))
    ext.injectOptimizerRule(_ => HammingIdentityFold)
  }
}

/** `hamming64(x, x) ≡ 0` for any deterministic x — a semantic identity
  * Catalyst cannot know (to the optimizer the expression is an opaque
  * black box; `semanticEquals` only proves the two CHILDREN are the same
  * computation). The rewrite preserves null semantics: the expression is
  * null-intolerant, so a nullable child folds to `if(isnull(x), null, 0)`
  * rather than a bare 0. Deliberately NOT folding `cosine_sim(x, x)`:
  * that is 1.0 only for non-zero norms (a zero vector yields 0.0), so the
  * identity does not hold unconditionally.
  */
object HammingIdentityFold extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Hamming64(a, b) if a.deterministic && a.semanticEquals(b) =>
      if (a.nullable) If(IsNull(a), Literal.create(null, IntegerType), Literal(0))
      else Literal(0)
  }
}
