package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Dot product of two double arrays as a native Catalyst expression
  * with whole-stage codegen.
  *
  * Spark's higher-order functions (`aggregate(zip_with(...))`) are
  * CodegenFallback — every element allocates lambda-variable holders
  * and boxes through InternalRow, which dominates the similarity
  * kernels' profile. This expression compiles to a tight primitive
  * loop over the two ArrayData buffers inside the enclosing
  * WholeStageCodegen stage: no allocation, no boxing, no virtual calls
  * per element.
  *
  * Semantics are identical to the left-fold
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,p) -> acc+p)`:
  * strict left-to-right IEEE double accumulation over min(len) pairs,
  * so results are bit-for-bit unchanged when swapped in (the DuckDB
  * oracles need no adjustment).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires two ARRAY<DOUBLE> args, got ${left.dataType} and ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The expression's loop on plain arrays, for task-local kernels:
    * strict left-to-right sum over min(len) pairs, so a kernel scores
    * bit-identically to a plan that calls `dot_product`. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }
}

/** Intersection cardinality of two SORTED-ascending ARRAY<LONG> sets
  * as a native codegen expression — the hot inner loop of every
  * near-dup verify join (q27/q66/q70/q79/q88/q125/q128).
  *
  * Why not `size(array_intersect(a, b))`: ArrayIntersect builds a
  * SQLOpenHashSet from one side and MATERIALIZES the intersection
  * array, PER CANDIDATE PAIR — at 100× sf0.1 the verify stage spends
  * its profile in OpenHashSet rehash/add (19M candidate pairs × ~150-
  * element sets, and a doc in k candidate pairs pays k hash-set
  * builds). On pre-sorted distinct arrays the same count is a
  * two-pointer merge: no allocation, no hashing, no output array, and
  * early exit when either side is exhausted.
  *
  * PRECONDITION: both inputs sorted ascending with distinct elements
  * (the engine's set frames are — MinHashSig emits sorted sets and
  * the collect_set paths wrap in sort_array). On unsorted input the
  * count is an UNDERCOUNT, which the cross-engine oracle (raw-text
  * intersection joins in DuckDB) fails loudly.
  */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _                                                 => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"intersect_count requires two ARRAY<BIGINT> args, got ${left.dataType} and ${right.dataType}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var cnt = 0L
    // Null slots (possible when the input type is containsNull=true,
    // e.g. built by a transform() lambda) are not set members: skip
    // them instead of calling getLong on them, which would read
    // garbage.
    while (i < na && j < nb) {
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val xa = x.getLong(i); val yb = y.getLong(j)
        if (xa < yb) i += 1
        else if (xa > yb) j += 1
        else { cnt += 1L; i += 1; j += 1 }
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val xa = ctx.freshName("xa"); val yb = ctx.freshName("yb")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $cnt = 0L;
         |while ($i < $na && $j < $nb) {
         |  if ($a.isNullAt($i)) { $i++; }
         |  else if ($b.isNullAt($j)) { $j++; }
         |  else {
         |    long $xa = $a.getLong($i);
         |    long $yb = $b.getLong($j);
         |    if ($xa < $yb) { $i++; }
         |    else if ($xa > $yb) { $j++; }
         |    else { $cnt++; $i++; $j++; }
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The engine's SQL functions: one table, installed two ways — by
  * [[graft.GraftExtensions]] when a session is built, and by
  * [[GraftFunctions.register]] on a caller's session that was built
  * without the extension. */
object GraftFunctions {

  private def fn(name: String, usage: String, cls: Class[_])(
      build: Seq[Expression] => Expression): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, null, name, s"$name$usage", "", "", "", "", "", "", "scala_udf"),
      build)

  /** (name, info, builder) of each expression — the shape
    * `SparkSessionExtensions.injectFunction` takes. */
  val table: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("dot_product", "(a, b) - dot product of two ARRAY<DOUBLE> (codegen)",
      classOf[DotProduct])(e => DotProduct(e(0), e(1))),
    fn("rolling_hash", "(tokens, base) - polynomial rolling hash over ARRAY<STRING> (codegen)",
      classOf[RollingHash])(e => RollingHash(e(0), e(1))),
    fn("count_in_set", "(toks, words) - elements of toks contained in the literal word set (codegen)",
      classOf[CountInSet])(e => CountInSet(e(0), e(1))),
    fn("sum_strlen", "(toks) - total character count of an ARRAY<STRING> (codegen)",
      classOf[SumStrLen])(e => SumStrLen(e(0))),
    fn("simhash64", "(toks) - per-row 64-bit Charikar simhash over distinct tokens (codegen)",
      classOf[SimHash64])(e => SimHash64(e(0))),
    fn("py_cast", "(text, type, mode, column) - text cast to a !schema scalar type as parse_ejson casts it (codegen)",
      classOf[PyCast])(PyCast.build),
    fn("minhash_sig", "(toks) - per-row MinHash minima and distinct 3-gram hash set (codegen)",
      classOf[MinHashSig])(e => MinHashSig(e(0))),
    fn("token_tf", "(toks) - distinct (tok, tf) pairs of an ARRAY<STRING> (codegen)",
      classOf[TokenTf])(e => TokenTf(e(0))),
    fn("intersect_count", "(a, b) - intersection size of two sorted ARRAY<BIGINT> sets (codegen)",
      classOf[IntersectCount])(e => IntersectCount(e(0), e(1))),
    fn("parse_ejson", "(line, schema, mode) - the documents of an extended-JSON line as rows of a !schema (codegen)",
      classOf[ParseExtendedJson])(ParseExtendedJson.build))

  /** Install every function the session's registry lacks. A name that
    * is already there (from the extension, or an earlier call) is left
    * alone, so this never replaces a function and is cheap to call
    * from every public entry point that builds plans on a caller's
    * session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }

  /** Sorted-set intersection cardinality (see [[IntersectCount]]). */
  def intersect_count(a: Column, b: Column): Column =
    call_function("intersect_count", a, b)

  def dot_product(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def rolling_hash(tokens: Column, base: Column): Column = call_function("rolling_hash", tokens, base)

  /** L2 norm via the codegen kernel. */
  def l2_norm(v: Column): Column =
    org.apache.spark.sql.functions.sqrt(dot_product(v, v))

  /** Cosine similarity of two ARRAY<DOUBLE> columns. */
  def cosine(a: Column, b: Column): Column =
    dot_product(a, b) / (l2_norm(a) * l2_norm(b))
}
