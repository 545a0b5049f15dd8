package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate,
  ArrayTransform, Expression, ExpressionInfo, LambdaFunction, Literal,
  Multiply, NamedExpression, NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{CosineSim, DotProduct, VecNorm}

/** Rewrite the interpreted higher-order-function dot-product pattern
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x) }}}
  *
  * into the fused whole-stage-codegen [[graft.functions.DotProduct]]
  * expression.
  *
  * WHY A RULE (SURVEY.md §7.5 / builder preference order (c)): Spark
  * evaluates higher-order functions interpreted — per element it allocates
  * lambda-variable holders and walks an expression tree, so an ANN scan's
  * inner loop pays ~µs/element where a fused codegen loop pays ~ns. The
  * library's own queries call [[graft.functions.VectorFunctions.dotProduct]]
  * directly, but a USER of the library writing plain declarative Spark gets
  * the HOF shape; injecting this rule via [[GraftExtensions]] gives that
  * user the fused loop with zero code change — the same contract Catalyst
  * itself honors (declare the plan, let the optimizer pick the execution).
  *
  * SOUNDNESS — the rewrite must be result-identical, and is, because
  * [[graft.functions.DotProduct]] was defined to mirror the HOF chain
  * exactly (see its scaladoc): null array → null, length mismatch → null
  * (zip_with pads with null, Add propagates), any null element pair → null,
  * both-empty → 0.0, and a single left-to-right accumulation order. The
  * matcher is deliberately conservative; it fires only on:
  *
  *  - both inputs typed `ARRAY<DOUBLE>` (no hidden casts to unify types);
  *  - a zero literal that is EXACTLY +0.0 double (bit-compared: a -0.0
  *    seed would surface as -0.0 on empty inputs, which the fused loop's
  *    +0.0 would not reproduce);
  *  - a zip lambda that is precisely `x * y` over the two lambda
  *    variables and a merge lambda precisely `acc + x` over its two (in
  *    either operand order — IEEE-754 `+`/`*` are commutative bit for
  *    bit, so the flipped forms are value-identical);
  *  - an identity finish lambda (the shape the 3-arg `aggregate` DSL and
  *    SQL form always produce).
  *
  * A second case fuses the squared-norm sibling
  * `aggregate(transform(v, x -> x*x), 0.0D, (acc, x) -> acc + x)` into
  * `DotProduct(v, v)` under the same audit (see the case comment).
  *
  * Anything else — different seed, extra arithmetic, a finish that
  * transforms the fold — is left untouched. FuseDotSpec pins both the
  * firing shapes and the must-not-fire shapes, and replays a
  * rule-on/rule-off equivalence on every edge fixture (null array, null
  * element, length mismatch, empty, denormal). The rule is registered
  * under the optimizer's excludable-rule protocol, so
  * `spark.sql.optimizer.excludedRules=graft.plans.FuseVectorHofs` A/Bs it
  * at runtime (SCALING.md round-11 addendum measures exactly that).
  */
object FuseVectorHofs extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** Exactly +0.0 (bit-compared; rejects -0.0 and any non-literal). */
  private def isPlusZero(e: Expression): Boolean = e match {
    case Literal(v: Double, DoubleType) =>
      java.lang.Double.doubleToLongBits(v) == 0L
    case _ => false
  }

  /** The binary op's operands are precisely this lambda's two variables
    * (each used once, either order). */
  private def usesBothVars(ops: Seq[Expression],
      args: Seq[NamedExpression]): Boolean = {
    val opIds = ops.collect { case v: NamedLambdaVariable => v.exprId }
    val argIds = args.collect { case v: NamedLambdaVariable => v.exprId }
    opIds.length == 2 && argIds.length == 2 && opIds.toSet == argIds.toSet &&
      opIds.toSet.size == 2
  }

  /** An Add/Multiply whose operands are both the single variable of a
    * one-argument lambda (the `x -> x * x` squared-norm shape). */
  private def squaresVar(ops: Seq[Expression],
      args: Seq[NamedExpression]): Boolean = {
    val opIds = ops.collect { case v: NamedLambdaVariable => v.exprId }
    val argIds = args.collect { case v: NamedLambdaVariable => v.exprId }
    opIds.length == 2 && argIds.length == 1 &&
      opIds.forall(_ == argIds.head)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(Multiply(x, y, _), zipArgs, _)),
            zero,
            LambdaFunction(Add(m, n, _), mergeArgs, _),
            LambdaFunction(fin: NamedLambdaVariable,
              Seq(finArg: NamedLambdaVariable), _))
          if isDoubleArray(a) && isDoubleArray(b) && isPlusZero(zero) &&
            usesBothVars(Seq(x, y), zipArgs) &&
            usesBothVars(Seq(m, n), mergeArgs) &&
            fin.exprId == finArg.exprId =>
        DotProduct(a, b)
      // the squared-norm sibling: aggregate(transform(v, x -> x*x), 0.0D,
      // (acc, x) -> acc + x) ≡ DotProduct(v, v). Sound for the same
      // reason as the zip_with case and by the same audit: the transform
      // chain null-propagates a null ELEMENT (x*x is null, Add folds it
      // to null) exactly as DotProduct does — unlike VecNorm, which
      // SKIPS null positions and therefore is NOT a faithful target —
      // lengths trivially agree, empty folds to the same +0.0, and the
      // self-product accumulates in the same left-to-right order. The
      // v.deterministic guard is load-bearing: this case DUPLICATES v,
      // and a nondeterministic array (rand()-built, shuffle()d) would be
      // evaluated independently per child — subexpression elimination
      // never shares nondeterministic expressions — silently squaring
      // two DIFFERENT arrays. (The zip_with case uses each input once,
      // so it needs no such guard.) Deterministic duplicates are shared
      // by subexpression elimination under whole-stage codegen.
      case ArrayAggregate(
            ArrayTransform(v, LambdaFunction(Multiply(x, y, _), tArgs, _)),
            zero,
            LambdaFunction(Add(m, n, _), mergeArgs, _),
            LambdaFunction(fin: NamedLambdaVariable,
              Seq(finArg: NamedLambdaVariable), _))
          if isDoubleArray(v) && v.deterministic && isPlusZero(zero) &&
            squaresVar(Seq(x, y), tArgs) &&
            usesBothVars(Seq(m, n), mergeArgs) &&
            fin.exprId == finArg.exprId =>
        DotProduct(v, v)
    }
}

/** The library's `SparkSessionExtensions` injector — the single switch a
  * deployment flips to get the whole graft function surface and the HOF
  * fusion rule in every session:
  *
  * {{{ spark.sql.extensions=graft.plans.GraftExtensions }}}
  *
  * Injects (a) the five custom expressions as session-registry functions
  * (usable from `spark.sql` text and `call_function` without any
  * `register()` call — the per-query `register()` helpers stay for
  * sessions built without the extension), and (b) [[FuseVectorHofs]] as
  * an operator-optimization rule. Bench/Verify and the test
  * base all build their sessions with this config, so every oracle run
  * and every spec executes under the extension — the full suite is the
  * no-regression witness for the rule's no-fire conservatism. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: Class[_]) =
    new ExpressionInfo(clazz.getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", classOf[CosineSim]),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("vec_norm"),
      info("vec_norm", classOf[VecNorm]),
      (exprs: Seq[Expression]) => VecNorm(exprs.head)))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", classOf[DotProduct]),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", classOf[graft.functions.WordShingles]),
      graft.queries.Shingles.builder))
    ext.injectFunction((FunctionIdentifier("topk_longs"),
      info("topk_longs", classOf[graft.functions.TopKLongs]),
      graft.functions.TopKFunctions.builder))
    ext.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", classOf[graft.functions.NfcNormalize]),
      graft.functions.NfcNormalize.builder))
    ext.injectOptimizerRule(_ => FuseVectorHofs)
  }
}
