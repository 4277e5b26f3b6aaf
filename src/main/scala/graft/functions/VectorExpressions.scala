package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native Catalyst expressions for embedding math.
  *
  * The `aggregate(zip_with(...))` higher-order form is CodegenFallback —
  * every element pair allocates and boxes on the interpreted path. These
  * expressions generate a tight primitive loop inside whole-stage codegen
  * instead, preserving the HOF semantics exactly: left-to-right IEEE
  * double accumulation, NULL when either array is NULL, when lengths
  * differ (zip_with would pad with null), or when any element is NULL.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  // inputs must be array<float>; ExpectsInputTypes is not extendable from
  // outside the sql package (AbstractDataType is private[sql])
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
}

/** vec_dot(a, b): Σ a[i]·b[i] over float arrays, accumulated in double. */
case class VectorDot(left: Expression, right: Expression) extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: a projection can hold several vector expressions; fixed
      // local names would collide in the merged generated class (Janino
      // "redefinition" -> silent interpreted fallback)
      val n = ctx.freshName("vdN")
      val s = ctx.freshName("vdS")
      val i = ctx.freshName("vdI")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

/** vec_cosine(a, b): dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) in ONE
  * pass over both arrays (three accumulators), same IEEE op sequence per
  * accumulator as three separate folds. */
case class VectorCosine(left: Expression, right: Expression) extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sab = 0.0; var saa = 0.0; var sbb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      sab += xv * yv; saa += xv * xv; sbb += yv * yv
      i += 1
    }
    sab / (math.sqrt(saa) * math.sqrt(sbb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("vcN")
      val i = ctx.freshName("vcI")
      val sab = ctx.freshName("vcSab")
      val saa = ctx.freshName("vcSaa")
      val sbb = ctx.freshName("vcSbb")
      val xv = ctx.freshName("vcX")
      val yv = ctx.freshName("vcY")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  double $sab = 0.0, $saa = 0.0, $sbb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = (double) $a.getFloat($i);
         |    double $yv = (double) $b.getFloat($i);
         |    $sab += $xv * $yv; $saa += $xv * $xv; $sbb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $sab / (Math.sqrt($saa) * Math.sqrt($sbb)); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "vec_cosine"
}

/** Column wrappers + SQL registration for the vector expressions. */
object VectorFunctions {

  def vecDot(a: Column, b: Column): Column =
    Bridge.column(VectorDot(Bridge.expression(a), Bridge.expression(b)))

  def vecCosine(a: Column, b: Column): Column =
    Bridge.column(VectorCosine(Bridge.expression(a), Bridge.expression(b)))

  private val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))),
    (FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[VectorCosine].getName, "vec_cosine"),
      (args: Seq[Expression]) => VectorCosine(args(0), args(1))),
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSignatures].getName, "minhash_sigs"),
      (args: Seq[Expression]) => {
        // k must be a literal: it shapes the output array at plan time.
        // Validate every malformed shape with the same clear error — a
        // raw IndexOutOfBounds/NPE/ClassCast from the builder reads as
        // an engine bug, not a usage error.
        def bad() = throw new IllegalArgumentException(
          "minhash_sigs(tokens, k): k must be a positive literal integer")
        if (args.length != 2) bad()
        val k = if (args(1).foldable) args(1).eval() else bad()
        k match {
          case i: Int if i > 0 => MinHashSignatures(args(0), i)
          case l: Long if l > 0 && l <= Int.MaxValue => MinHashSignatures(args(0), l.toInt)
          case _ => bad()
        }
      }),
    (FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (args: Seq[Expression]) => SimHash16(args(0))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    (FunctionIdentifier("md5_min"),
      new ExpressionInfo(classOf[Md5Min].getName, "md5_min"),
      (args: Seq[Expression]) => Md5Min(args(0))),
    (FunctionIdentifier("vec_dot_long"),
      new ExpressionInfo(classOf[LongVectorDot].getName, "vec_dot_long"),
      (args: Seq[Expression]) => LongVectorDot(args(0), args(1))),
    (FunctionIdentifier("shingle_hashes64"),
      new ExpressionInfo(classOf[ShingleHashes64].getName, "shingle_hashes64"),
      (args: Seq[Expression]) => {
        // n shapes the window loop, so it must be a literal
        def bad() = throw new IllegalArgumentException(
          "shingle_hashes64(tokens, n): n must be a positive literal integer")
        if (args.length != 2) bad()
        (if (args(1).foldable) args(1).eval() else bad()) match {
          case i: Int if i > 0 => ShingleHashes64(args(0), i)
          case l: Long if l > 0 && l <= Int.MaxValue => ShingleHashes64(args(0), l.toInt)
          case _ => bad()
        }
      }),
    (FunctionIdentifier("vec_l2sq_slice"),
      new ExpressionInfo(classOf[LongVectorL2Slice].getName, "vec_l2sq_slice"),
      (args: Seq[Expression]) => {
        // start/len shape the generated loop, so they must be literals
        def bad() = throw new IllegalArgumentException(
          "vec_l2sq_slice(a, b, start, len): start and len must be non-negative literal integers")
        if (args.length != 4) bad()
        def intLit(e: Expression): Int =
          (if (e.foldable) e.eval() else bad()) match {
            case i: Int if i >= 0 => i
            case l: Long if l >= 0 && l <= Int.MaxValue => l.toInt
            case _ => bad()
          }
        LongVectorL2Slice(args(0), args(1), intLit(args(2)), intLit(args(3)))
      }))

  /** For `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
  def inject(e: SparkSessionExtensions): Unit = {
    descriptors.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => CosineFusion)
    e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
  }

  /** Runtime registration into an existing session (e.g. one the harness
    * built): makes `vec_dot` / `vec_cosine` callable from spark.sql.
    * Functions the session already has are left as they are. */
  def register(spark: SparkSession): Unit = descriptors.foreach { case (id, info, builder) =>
    if (!spark.catalog.functionExists(id.funcName))
      Bridge.registerFunction(spark, id, info, builder)
  }
}

/** SparkSessionExtensions entry point (spark.sql.extensions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = VectorFunctions.inject(e)
}
