package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Cast, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}

/** Native Catalyst expression for the vector hot path.
  *
  * Motivation (measured, sf0.1 bench): `aggregate(zip_with(a,b,*),0D,+)`
  * is evaluated interpreted per element (lambda dispatch + boxing);
  * pairwise similarity over 2M candidate pairs x 64 dims spent ~29 s in
  * that fold. This expression emits a tight primitive `double` loop
  * inside whole-stage codegen instead — same left-to-right IEEE
  * summation order, so results stay bit-identical to the fold and to
  * the DuckDB oracle's list primitives.
  *
  * This is the SURVEY.md §7.3 escalation path in action: built-ins
  * first, custom `Expression` only after the built-in measured too
  * slow on the scale path.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case ArrayType(FloatType, _) => Some(FloatType)
    case _ => None
  }

  /** Accepts array<double> OR array<float> per side — float components
    * widen to double exactly (IEEE), so mixing sides is loss-free and
    * StripVecDotCasts can remove upstream per-row double copies.
    */
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => elemType(e).isDefined)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>/array<float> arguments, " +
        s"got (${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def get(x: ArrayData, i: Int, t: DataType): Double = t match {
    case DoubleType => x.getDouble(i)
    case _ => x.getFloat(i).toDouble
  }

  // Length mismatch => NULL, matching the aggregate(zip_with(a,b,*))
  // fold this expression claims bit-identity with (zip_with pads the
  // shorter side with nulls, which poison the sum). A silent truncated
  // partial dot product would mask bad inputs.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val (lt, rt) = (elemType(left).get, elemType(right).get)
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      s += get(x, i, lt) * get(y, i, rt)
      i += 1
    }
    s
  }

  private def genGet(arr: String, i: String, t: DataType): String = t match {
    case DoubleType => s"$arr.getDouble($i)"
    case _ => s"((double) $arr.getFloat($i))"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ${genGet(a, i, elemType(left).get)} * ${genGet(b, i, elemType(right).get)};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Merge-count of common elements between two SORTED ascending
  * `array<bigint>` or `array<string>` columns (distinct elements
  * each; both sides the same type). The set-similarity hot loop:
  * pairwise Jaccard over hashed n-gram sets spent ~84 s at sf0.1 in
  * `array_intersect`'s boxed hash-set build per pair; the merge scan
  * is primitive-long (or UTF8String binary) compares with zero
  * hash-set allocation. Callers must pre-sort with `array_sort`
  * (cheap, once per row — not per pair); `array_sort`'s string order
  * IS `UTF8String.compareTo`, the compare used here.
  *
  * Precondition: both arrays are in `array_sort` order — ascending,
  * nulls LAST. `sort_array` puts nulls FIRST, so a nullable array
  * sorted with it gives a wrong count here; sort with `array_sort`,
  * or filter the nulls out first.
  *
  * The string form (r21) serves the shingle-Jaccard verifies, where
  * the set elements must stay EXACT strings (the oracles intersect
  * raw shingles, so hashing first would change semantics on a
  * collision): for distinct sorted sets,
  * |A ∪ B| = |A| + |B| − |A ∩ B|, so one merge scan replaces
  * array_intersect + array_union (two hash-set builds per pair).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case ArrayType(StringType, _) => true
      case _ => false
    }) && left.dataType.asInstanceOf[ArrayType].elementType ==
      right.dataType.asInstanceOf[ArrayType].elementType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> or two array<string> arguments, " +
        s"got (${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  private def isString: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == StringType

  /** Whether the STRING form must guard null elements (r22, advisory):
    * a nullable-typed string array would NPE the task in the r21 loop
    * (`getUTF8String(i).compareTo`). Decided statically from the
    * schema so the hot loops below stay branch-free for the
    * containsNull=false arrays every current call site passes; a
    * nullable-typed array takes the null-aware loop (nulls sort LAST,
    * equal to each other — array_sort's ascending placement). The LONG
    * form is deliberately NOT widened: it is already deterministic on
    * nulls (getLong reads 0 — gram_hashes' [NULL] null-input singleton
    * is the only producer and never meets a real hash in practice),
    * and q30's verify merge is the hottest loop this expression owns.
    */
  private lazy val nullAware: Boolean = isString && Seq(left, right).exists(
    _.dataType.asInstanceOf[ArrayType].containsNull)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    if (nullAware) {
      // nulls-last merge: null == null counts once, null > any value
      def cmpAt(): Int = {
        val xn = x.isNullAt(i); val yn = y.isNullAt(j)
        if (xn && yn) 0
        else if (xn) 1
        else if (yn) -1
        else x.getUTF8String(i).compareTo(y.getUTF8String(j))
      }
      while (i < nx && j < ny) {
        val cmp = cmpAt()
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    } else if (isString) {
      while (i < nx && j < ny) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    } else {
      while (i < nx && j < ny) {
        val xv = x.getLong(i)
        val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      if (nullAware) {
        val cmp = ctx.freshName("cmp")
        val xn = ctx.freshName("xn")
        val yn = ctx.freshName("yn")
        val valueCmp = s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
        s"""
           |int $i = 0; int $j = 0; int $c = 0;
           |while ($i < $a.numElements() && $j < $b.numElements()) {
           |  boolean $xn = $a.isNullAt($i);
           |  boolean $yn = $b.isNullAt($j);
           |  int $cmp = ($xn && $yn) ? 0 : $xn ? 1 : $yn ? -1 : ($valueCmp);
           |  if ($cmp == 0) { $c++; $i++; $j++; }
           |  else if ($cmp < 0) { $i++; } else { $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      } else if (isString) {
        val cmp = ctx.freshName("cmp")
        s"""
           |int $i = 0; int $j = 0; int $c = 0;
           |while ($i < $a.numElements() && $j < $b.numElements()) {
           |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
           |  if ($cmp == 0) { $c++; $i++; $j++; }
           |  else if ($cmp < 0) { $i++; } else { $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      } else {
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        s"""
           |int $i = 0; int $j = 0; int $c = 0;
           |while ($i < $a.numElements() && $j < $b.numElements()) {
           |  long $xv = $a.getLong($i);
           |  long $yv = $b.getLong($j);
           |  if ($xv == $yv) { $c++; $i++; $j++; }
           |  else if ($xv < $yv) { $i++; } else { $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      }
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: `vec_dot(transform(v, x -> cast(x as double)), …)`
  * over an `array<float>` source drops the transform — VecDot reads
  * floats directly (exact widening), so the per-row double-array copy
  * (allocation + write of every vector on every scan) is pure waste.
  * Callers can therefore write the natural `asDoubleVec` form and the
  * plan still runs zero-copy. Injected via GraftExtensions.
  */
object StripVecDotCasts extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case VecDot(l, r) => VecDot(strip(l), strip(r))
    }

  private def strip(e: Expression): Expression = e match {
    case ArrayTransform(child,
        LambdaFunction(c: Cast, Seq(v: NamedLambdaVariable), _))
        if c.dataType == DoubleType && c.child.semanticEquals(v) &&
          child.dataType.isInstanceOf[ArrayType] &&
          child.dataType.asInstanceOf[ArrayType].elementType == FloatType =>
      child
    case _ => e
  }
}

object VectorExpressions {
  val fnName = "vec_dot"
  val isectFnName = "sorted_intersect_count"
  val ngramsFnName = "explode_ngrams"
  val triFnName = "explode_tri_contexts"

  /** The native functions, one (name, arity, builder) entry each, read
    * by both [[register]] and [[graft.GraftExtensions]]. A call with
    * the wrong number of arguments fails analysis.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    native(fnName, 2)(c => VecDot(c(0), c(1))),
    native(isectFnName, 2)(c => SortedIntersectCount(c(0), c(1))),
    native(ngramsFnName, 2)(c => ExplodeNGrams(c(0), c(1))),
    native(triFnName, 1)(c => ExplodeTriContexts(c(0))),
    native(PolyHash.fnName, 1)(c => PolyHash(c(0))),
    native(NfcNormalize.fnName, 1)(c => NfcNormalize(c(0))),
    native(Tokens.fnName, 1)(c => Tokens(c(0))),
    native(Hash60Md5.fnName, 1)(c => Hash60Md5(c(0))),
    native(Md5Bin.fnName, 1)(c => Md5Bin(c(0))),
    native(GramHashes.fnName, 1)(c => GramHashes(c(0))),
    native(StopwordHits.fnName, 2)(c => StopwordHits(c(0), c(1))),
    native(HtmlText.fnName, 1)(c => HtmlText(c(0))))

  private def native[E <: Expression: ClassTag](name: String, arity: Int)(
      build: Seq[Expression] => E): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(classTag[E].runtimeClass.getName, name),
      (children: Seq[Expression]) => {
        if (children.length != arity)
          throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
            "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
        build(children)
      })

  /** Idempotent session registration; callers that only have a
    * DataFrame can self-register through its sparkSession. Names the
    * session already has (from [[graft.GraftExtensions]] or an earlier
    * call) are left as they are.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
