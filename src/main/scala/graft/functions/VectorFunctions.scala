package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.glue
import org.apache.spark.sql.types._

/** Native vector ops over `Array[Float]` embedding columns.
  *
  * Cosine similarity is the hot inner loop of both brute-force kNN and
  * embedding near-dedup — at 100 TB it runs billions of times per probe
  * batch, so it is a codegen'd Catalyst expression (tight primitive
  * float loop, no boxing, no UDF SerDe), not a Scala UDF. The loop is
  * written once, as [[VectorKernels.cosine]]: `nullSafeEval` calls it
  * and `doGenCode` emits a static call to it, so the interpreted and
  * the generated path run the same arithmetic.
  *
  * Numerics are pinned for oracle parity: dot/norm accumulate
  * SEQUENTIALLY IN FLOAT32 over the array, then widen to double for the
  * sqrt/divide — exactly DuckDB `list_dot_product`'s scheme (verified
  * bit-for-bit against it), so similarity values hash-compare across
  * engines. The float32 accumulator costs ~1e-7 relative accuracy (far
  * below any ANN decision threshold) and narrows dynamic range: a
  * squared-norm sum past Float.MaxValue overflows to Infinity exactly as
  * DuckDB's float accumulator does — parity holds there too; normalize
  * embeddings upstream if magnitudes approach 1e19.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.checkArrays(this, FloatType, FloatType)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.Static}.cosine($a, $b)")
}

/** Plain float32 dot product of two `array<float>` columns — the cheap
  * sibling of [[CosineSimilarity]] for the places that only need the
  * projection, not the angle: SRP-LSH bucketing takes `sign(v·p)`, and
  * pre-normalized corpora can rank by dot alone. Skipping the two norm
  * loops cuts ~2/3 of the flops per call, which is the whole cost of an
  * LSH bucketing pass. Same float32 sequential accumulation as
  * [[CosineSimilarity]] (DuckDB `list_dot_product` parity).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.checkArrays(this, FloatType, FloatType)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.Static}.dot($a, $b)")
}

/** Exact micro-long signed projection: Σ_i round(x_i·1e6)·s_i over an
  * `array<float>` vector and an `array<bigint>` sign (±1) vector,
  * accumulated in int64 — the engine-reproducible SRP-LSH projection
  * ([[graft.similarity.Similarity.srpBucket]] takes its sign). A float
  * dot product's SIGN can flip near zero under a different summation
  * order; quantizing each term to micro-longs first (the repo's
  * micro-long convention, half-away-from-zero like Spark `round` and
  * DuckDB `round`) makes the projection bit-stable at any accumulation
  * order and replayable in any engine — what lets vec_lsh_candidates
  * carry a full DuckDB oracle. Codegen'd: the higher-order
  * `aggregate(zip_with(...))` form of the same arithmetic measured 4×
  * slower (interpreted lambda per element).
  */
case class MicroSignedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "micro_signed_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernels.checkArrays(this, FloatType, LongType)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MicroSignedDot =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.microSignedDot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.Static}.microSignedDot($a, $b)")
}

/** The one copy of each vector expression's arithmetic, called by its
  * `nullSafeEval` and, as a static method, by its generated code. Over
  * two arrays of different lengths each kernel reads the first
  * `min(numElements)` elements.
  */
private[functions] object VectorKernels {

  /** Java class of the static forwarders that generated code calls. */
  val Static: String = getClass.getName.stripSuffix("$")

  /** Accepts `(array<l>, array<r>)` children and nothing else. */
  def checkArrays(e: BinaryExpression, l: DataType, r: DataType): TypeCheckResult =
    (e.left.dataType, e.right.dataType) match {
      case (ArrayType(x, _), ArrayType(y, _)) if x == l && y == r =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"${e.prettyName} expects (array<${l.catalogString}>, " +
            s"array<${r.catalogString}>), got " +
            s"${e.left.dataType.catalogString} / ${e.right.dataType.catalogString}")
    }

  /** Float32 dot and norms, widened to double for the divide; 0.0 when
    * either norm is zero.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0f; var na = 0.0f; var nb = 0.0f
    var i = 0
    while (i < n) {
      val x = a.getFloat(i)
      val y = b.getFloat(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0f || nb == 0.0f) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0f
    var i = 0
    while (i < n) {
      dot += a.getFloat(i) * b.getFloat(i)
      i += 1
    }
    dot.toDouble
  }

  /** Σ round(x·1e6)·s in int64, each term rounded half away from zero. */
  def microSignedDot(a: ArrayData, s: ArrayData): Long = {
    val n = math.min(a.numElements(), s.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble * 1e6
      val micro = if (x >= 0) math.floor(x + 0.5d).toLong else math.ceil(x - 0.5d).toLong
      acc += micro * s.getLong(i)
      i += 1
    }
    acc
  }
}

object VectorFunctions {
  /** Cosine similarity between two `array<float>` columns (codegen'd). */
  def cosine_similarity(a: Column, b: Column): Column =
    glue.toColumn(CosineSimilarity(glue.toExpression(a), glue.toExpression(b)))

  /** Float32 dot product between two `array<float>` columns (codegen'd). */
  def dot_product(a: Column, b: Column): Column =
    glue.toColumn(DotProduct(glue.toExpression(a), glue.toExpression(b)))

  /** Exact Σ round(x·1e6)·sign over (array<float>, array<bigint>) —
    * the SRP projection (codegen'd, engine-reproducible).
    */
  def micro_signed_dot(vec: Column, signs: Column): Column =
    glue.toColumn(MicroSignedDot(glue.toExpression(vec), glue.toExpression(signs)))
}
