package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for embedding cosine similarity over two
  * float32 vectors (SURVEY §4.2: custom Expression with doGenCode >
  * Scala UDF > anything else).
  *
  * Why not the zip_with/aggregate composition (SimilarityOps.cosine)?
  * That builds three intermediate arrays per row and walks the vectors
  * four times through generic ArrayData plumbing; this expression is a
  * single fused loop inside whole-stage codegen — no allocation, no
  * virtual calls in the hot path. Produces bit-identical results to the
  * sequential-fold composition (same per-accumulator add order), and
  * its zero-norm rule: a 0 norm product gives NULL, not 0/0 = NaN.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else dot / den
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName for every local: two instances of this expression in
      // one projection otherwise redefine `i`/`n`/... in the generated
      // class, fail Janino, and drop the WHOLE projection to the
      // interpreter (seen as the UnsafeProjection fallback warning).
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      val den = ctx.freshName("den")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.isNull} = $den == 0.0;
         |if (!${ev.isNull}) ${ev.value} = $dot / $den;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val fnName = "cosine_sim"

  /** Idempotent session-level registration (the extensions-free path —
    * usable from any existing session, e.g. the Verify/Bench mains). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fnName, exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
}

/** SparkSessionExtensions installer:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * makes `cosine_sim(a, b)` AND the AsofJoin planner strategy available
  * in every session derived from the builder — the deployment-grade
  * registration path (no per-session register() calls needed). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier(CosineSimilarity.fnName),
      new ExpressionInfo(classOf[CosineSimilarity].getName, CosineSimilarity.fnName),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
