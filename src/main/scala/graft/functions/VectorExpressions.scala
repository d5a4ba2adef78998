package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}
import org.apache.spark.sql.graftbridge.CatalystBridge

/** Custom Catalyst expressions for the similarity-search hot path
  * (SURVEY guidance: native Expression > higher-order functions > UDF).
  *
  * `zip_with`+`aggregate` evaluate per-element through interpreted lambda
  * plumbing with boxing; these expressions compile to a tight primitive
  * loop in whole-stage codegen. Accumulation order is left-to-right in
  * double precision — bit-identical to the zip_with formulation they
  * replace, so DuckDB-oracle parity is preserved.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected def getter(e: Expression, arr: String, i: String): String =
    if (elemIsFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  protected def read(e: Expression, arr: ArrayData, i: Int): Double =
    if (elemIsFloat(e)) arr.getFloat(i).toDouble else arr.getDouble(i)
}

/** dot(a, b): Σ a_i·b_i over min(len) elements. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { acc += read(left, x, i) * read(right, y, i); i += 1 }
    acc
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (${getter(left, a, i)}) * (${getter(right, b, i)});
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (‖a‖·‖b‖), one pass, NaN→0 guard for zero vectors. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = read(left, x, i); val yv = read(right, y, i)
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ${getter(left, a, i)};
         |  double $yv = ${getter(right, b, i)};
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Product quantization against codebooks passed as a literal child of
  * type array<array<array<float>>>: subspace × centroid × component, the
  * same number of centroids in every subspace. Each row is one loop over
  * subspaces and centroids. The subvector of subspace s is the part of
  * elements [s·subDim, (s+1)·subDim) the vector has, what `slice` gives;
  * its dot with a centroid sums float products in double from 0.0, left
  * to right, as [[DotProduct]] does. */
abstract class PqExpression extends VectorBinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(ArrayType(ArrayType(FloatType, _), _), _))
        if right.foldable => TypeCheckSuccess
    case _ => TypeCheckFailure(s"$prettyName takes an array<float|double> vector and literal " +
      s"array<array<array<float>>> codebooks, not ${left.dataType.simpleString} and " +
      right.dataType.simpleString)
  }

  /** centroids(s)(c), read once from the literal. */
  @transient protected lazy val centroids: Array[Array[Array[Float]]] = {
    val books = right.eval().asInstanceOf[ArrayData]
    Array.tabulate(books.numElements()) { s =>
      val cs = books.getArray(s)
      Array.tabulate(cs.numElements())(c => cs.getArray(c).toFloatArray())
    }
  }
  @transient protected lazy val subDim: Int = centroids.head.head.length

  protected def subDot(v: ArrayData, s: Int, c: Array[Float]): Double = {
    val from = s * subDim
    val n = math.min(c.length, v.numElements() - from)
    var acc = 0.0; var i = 0
    while (i < n) { acc += read(left, v, from + i) * c(i); i += 1 }
    acc
  }
}

/** PQ codes of a vector: per subspace, the first centroid index of the
  * largest x·c − ‖c‖²/2 (the L2-nearest), under SQL ordering, where NaN
  * is above every number. A null vector gives m null codes. */
case class PqCodes(left: Expression, right: Expression) extends PqExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_codes"

  @transient private lazy val halfNorms: Array[Array[Double]] =
    centroids.map(_.map(c => c.map(x => x.toDouble * x).sum / 2.0))

  override def eval(input: InternalRow): Any = left.eval(input) match {
    case null => new GenericArrayData(new Array[Any](centroids.length))
    case v: ArrayData =>
      val codes = new Array[Int](centroids.length)
      var s = 0
      while (s < codes.length) {
        val cs = centroids(s); val hn = halfNorms(s)
        var best = 0; var bestScore = subDot(v, s, cs(0)) - hn(0)
        var c = 1
        while (c < cs.length) {
          val score = subDot(v, s, cs(c)) - hn(c)
          // no score is −0.0 (every sum starts from 0.0, and x − x is 0.0),
          // so Double.compare is SQL's ordering here: NaN above every number
          if (java.lang.Double.compare(score, bestScore) > 0) {
            best = c; bestScore = score
          }
          c += 1
        }
        codes(s) = best; s += 1
      }
      ArrayData.toArrayData(codes)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The ADC lookup table of a query vector, flattened: entry s·k + c is
  * dot(q_s, centroid c of subspace s). */
case class AdcTable(left: Expression, right: Expression) extends PqExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "adc_table"

  override def nullSafeEval(q: Any, books: Any): Any = {
    val v = q.asInstanceOf[ArrayData]
    val k = centroids.head.length
    val table = new Array[Double](centroids.length * k)
    var s = 0
    while (s < centroids.length) {
      var c = 0
      while (c < k) { table(s * k + c) = subDot(v, s, centroids(s)(c)); c += 1 }
      s += 1
    }
    ArrayData.toArrayData(table)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorExpressions {
  /** Column API over the codegen expressions. */
  def dotProduct(a: Column, b: Column): Column =
    CatalystBridge.column(DotProduct(CatalystBridge.expression(a), CatalystBridge.expression(b)))
  def cosineSimilarity(a: Column, b: Column): Column =
    CatalystBridge.column(CosineSimilarity(CatalystBridge.expression(a), CatalystBridge.expression(b)))

  /** `centroids(s)(c)` as the codebook literal of [[PqCodes]] and [[AdcTable]]. */
  private def codebooks(centroids: Array[Array[Array[Float]]]): Expression = {
    require(centroids.nonEmpty && centroids.map(_.length).distinct.length == 1 && centroids.head.nonEmpty,
      "codebooks need the same number of centroids, at least one, in every subspace")
    Literal.create(centroids, ArrayType(ArrayType(ArrayType(FloatType, false), false), false))
  }
  def pqCodes(vec: Column, centroids: Array[Array[Array[Float]]]): Column =
    CatalystBridge.column(PqCodes(CatalystBridge.expression(vec), codebooks(centroids)))
  def adcTable(vec: Column, centroids: Array[Array[Array[Float]]]): Column =
    CatalystBridge.column(AdcTable(CatalystBridge.expression(vec), codebooks(centroids)))

  /** Expose the expressions to SQL (`SELECT cosine_similarity(a, b)`) —
    * the SparkSessionExtensions-style registration point. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "cosine_similarity", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
  }
}
