package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * The higher-order-function form (`aggregate(zip_with(a, b, *), ...)`)
  * is interpreted — per-element lambda dispatch plus a materialized
  * intermediate array per row pair. These expressions generate a tight
  * primitive double loop inside whole-stage codegen: same left-to-right
  * IEEE-754 summation order (so results are bit-identical to the fold and
  * to the SQL oracle's `list_sum(list_transform(...))`), none of the
  * overhead.
  */
object VectorExpressions {

  /** The engine's native-function surface: one `(name, info, builder)`
    * entry per SQL function. [[register]] installs it on a live session
    * and [[graft.plans.GraftExtensions]] injects the same table for
    * config-driven sessions, so the two can never drift apart. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("vec_dot"), DotProduct.info,
      c => DotProduct(c(0), c(1))),
    (FunctionIdentifier("vec_norm"), L2Norm.info,
      c => L2Norm(c.head)),
    (FunctionIdentifier("topk_pairs"), TopKPairs.info,
      c => TopKPairs(c(0), c(1), c(2))),
    (FunctionIdentifier("collect_min_k"), CollectMinK.info,
      c => CollectMinK(c(0), c(1))),
    (FunctionIdentifier("vec_sum"), VecSum.info,
      c => VecSum(c.head)),
    (FunctionIdentifier("heavy_hitters"), SpaceSaving.info,
      c => SpaceSaving(c(0), c(1))),
    (FunctionIdentifier("ws_tokens"), WsTokens.info,
      c => WsTokens(c.head)),
    (FunctionIdentifier("shingle_set"), ShingleSet.info,
      c => ShingleSet(c(0), c(1))),
    (FunctionIdentifier("minhash_sig"), MinHashSig.info,
      c => MinHashSig(c(0), c(1))),
    (FunctionIdentifier("minhash_sig_fast"), MinHashSigFast.info,
      c => MinHashSigFast(c(0), c(1), c(2))),
    (FunctionIdentifier("simhash64"), SimHash64.info,
      c => SimHash64(c.head)),
    (FunctionIdentifier("hashed_bucket_fold"), HashedBucketFold.info,
      c => HashedBucketFold(c(0), c(1), c(2), c(3))),
    (FunctionIdentifier("nfc_normalize"), NfcNormalize.info,
      c => NfcNormalize(c.head)),
    (FunctionIdentifier("morton2"), Morton2.info,
      c => Morton2(c(0), c(1))),
    (FunctionIdentifier("jaro_winkler"), JaroWinklerSim.info,
      c => JaroWinklerSim(c(0), c(1))),
    (FunctionIdentifier("bloom_might_contain"), BloomMightContain.info,
      c => BloomMightContain(c(0), c(1))),
    (FunctionIdentifier("pq_adc"), PqAdc.info,
      c => PqAdc(c(0), c(1))),
    (FunctionIdentifier("char_entropy"), CharEntropy.info,
      c => CharEntropy(c.head)))

  /** The engine's optimizer rules: Levenshtein pruning, and the
    * transparent MV rewrite (matching grouped aggregates over a
    * registered base route onto the FRESH view — see MvRewrite's
    * conservatism ladder; kill switch `spark.graft.mv.rewrite=false`). */
  val optimizerRules: Seq[SparkSession => Rule[LogicalPlan]] = Seq(
    _ => graft.plans.LevenshteinPruning,
    session => new graft.plans.MvRewriteRule(session))

  /** Registers [[functions]] and [[optimizerRules]] on a session
    * (idempotent). Called by every [[graft.core.Tables]] load, so any
    * query built over the test tables resolves them. */
  def register(spark: SparkSession): Unit = {
    val registry =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
    // Optimizer rules piggyback on the same idempotent hook: sessions
    // built without `spark.sql.extensions` (the harness's plain
    // builders) still get the engine's rewrites. Assignment, not
    // append — this list is wholly owned here.
    spark.experimental.extraOptimizations = optimizerRules.map(_(spark))
  }
}

/** `vec_dot(array<double>, array<double>) -> double`: the dot product of
  * the common prefix of two vectors. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // no ExpectsInputTypes: AbstractDataType is private[sql]. Inputs must be
  // array<double> (call sites cast explicitly).
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  val info = new ExpressionInfo(classOf[DotProduct].getName, "vec_dot")
}

/** `vec_norm(array<double>) -> double`: the vector's L2 norm. */
case class L2Norm(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
    math.sqrt(s)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.getDouble($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

object L2Norm {
  val info = new ExpressionInfo(classOf[L2Norm].getName, "vec_norm")
}
