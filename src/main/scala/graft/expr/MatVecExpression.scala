package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * `mat_vec_mul(vec, matrixBytes)` — row-local affine projection
 * y = M · (x − mean), the serving side of [[graft.operators
 * .EmbeddingOps]]' PCA reduction: the matrix (k×d) and mean ride the
 * plan as ONE binary literal, the child vector evaluates ONCE and the
 * k·d multiply loop runs in Java inside whole-stage codegen — the
 * HOF-lambda formulation (`transform` over k rows, dot per row) would
 * re-evaluate the vector expression per output component and fall to
 * interpreted eval (the r12b lesson, same family as max_cosine_sim).
 * Output: array<float> of length k (projections feed ANN/quantizers,
 * which are float-sided). Null vector → null.
 */
case class MatVecMul(child: Expression, matrixBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"mat_vec_mul expects an array<float|double> vector, got ${t.sql}")
    }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val model: (Array[Double], Array[Array[Double]]) =
    MatVecMul.deserialize(matrixBytes)

  def project(arr: ArrayData): GenericArrayData = {
    val (mean, rows) = model
    // fail loudly on dimension mismatch: silently projecting a
    // truncated (or zero-padded) prefix would make a wrong-model
    // wiring bug — serving d'-dim vectors through a d-dim fit —
    // produce garbage projections that LOOK valid downstream
    if (arr.numElements() != mean.length)
      throw new IllegalArgumentException(
        s"mat_vec_mul: input vector has ${arr.numElements()} dims, " +
          s"model was fitted on ${mean.length}")
    val d = mean.length
    // center once into a scratch array: k row dots then read the
    // SAME centered values instead of re-centering per row
    val x = new Array[Double](d)
    var i = 0
    while (i < d) {
      val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      x(i) = v - mean(i)
      i += 1
    }
    val out = new Array[Any](rows.length)
    var r = 0
    while (r < rows.length) {
      val row = rows(r)
      val m = math.min(d, row.length)
      var dot = 0.0
      var j = 0
      while (j < m) { dot += x(j) * row(j); j += 1 }
      out(r) = dot.toFloat
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    project(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mvm", this, classOf[MatVecMul].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.project($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "mat_vec_mul"

  private def bytesHash: Int = UnigramPerplexity.contentHash(matrixBytes)

  override def equals(other: Any): Boolean = other match {
    case p: MatVecMul =>
      child == p.child &&
        ((matrixBytes eq p.matrixBytes) ||
          (bytesHash == p.bytesHash && java.util.Arrays.equals(matrixBytes, p.matrixBytes)))
    case _ => false
  }

  override def hashCode(): Int = 31 * child.hashCode() + bytesHash
}

object MatVecMul {
  def serialize(mean: Array[Double], rows: Array[Array[Double]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(rows.length); out.writeInt(mean.length)
    mean.foreach(out.writeDouble)
    rows.foreach { r =>
      require(r.length == mean.length,
        s"mat_vec_mul: row length ${r.length} != dim ${mean.length}")
      r.foreach(out.writeDouble)
    }
    out.flush(); bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): (Array[Double], Array[Array[Double]]) = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val k = in.readInt(); val d = in.readInt()
    val mean = Array.fill(d)(in.readDouble())
    val rows = Array.fill(k)(Array.fill(d)(in.readDouble()))
    (mean, rows)
  }
}

/**
 * `nearest_centroid(vec, matrixBytes)` — row-local L2 argmin against
 * a literal centroid matrix, returned as `struct(d: double, i: int)`
 * (squared distance, index; ties keep the LOWEST index, matching
 * `array_min` over `struct(d, i)`). The k·d distance loop runs in
 * Java inside whole-stage codegen; the HOF formulation it replaces
 * (`transform` over k centroids, `aggregate(zip_with(...))` per
 * centroid) evaluated interpreted, per element, with an array
 * allocation per centroid — at k=8, dim=64 that was ~2 s per corpus
 * scan of the 22k-row sf1 gate, multiplied by every k-means
 * iteration and every assignment pass. Bit-identical accumulation
 * order (sequential over elements, float inputs promoted to double).
 * Null vector → null; a dimension mismatch fails loudly (the
 * mat_vec_mul rule: silently scoring a truncated prefix makes a
 * wrong-model wiring bug look like valid output).
 */
case class NearestCentroid(child: Expression, matrixBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("i", IntegerType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid expects an array<float|double> vector, got ${t.sql}")
    }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val centroids: Array[Array[Double]] =
    NearestCentroid.deserialize(matrixBytes)

  def nearest(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val d = centroids(0).length
    NearestCentroid.checkDim(arr.numElements(), d)
    // read the vector once into a scratch array (k centroid loops
    // then hit primitive doubles, not per-element ArrayData decoding)
    val x = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (arr.isNullAt(i)) throw NearestCentroid.nullElement(i)
      x(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val c = NearestCentroid.closest(x, centroids)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](NearestCentroid.dist2(x, centroids(c)), c))
  }

  override protected def nullSafeEval(input: Any): Any =
    nearest(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nc", this, classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.nearest($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid"

  private def bytesHash: Int = UnigramPerplexity.contentHash(matrixBytes)

  override def equals(other: Any): Boolean = other match {
    case p: NearestCentroid =>
      child == p.child &&
        ((matrixBytes eq p.matrixBytes) ||
          (bytesHash == p.bytesHash && java.util.Arrays.equals(matrixBytes, p.matrixBytes)))
    case _ => false
  }

  override def hashCode(): Int = 31 * child.hashCode() + bytesHash
}

object NearestCentroid {

  /** Index of the centroid nearest to `x` in squared L2 ([[dist2]]):
    * the loop behind the expression and the driver-side k-means and
    * SemDeDup paths, so both decide every assignment identically.
    * Float inputs are promoted to double before the call; a strict `<`
    * under `Double.compare` keeps the lowest index on ties and orders
    * NaN greatest, matching Spark's `array_min`. */
  def closest(x: Array[Double], centroids: Array[Array[Double]]): Int = {
    checkDim(x.length, centroids(0).length)
    var bestD = 0.0
    var bestI = 0
    var c = 0
    while (c < centroids.length) {
      val acc = dist2(x, centroids(c))
      if (c == 0 || java.lang.Double.compare(acc, bestD) < 0) {
        bestD = acc; bestI = c
      }
      c += 1
    }
    bestI
  }

  /** Squared L2 distance, accumulated sequentially over the elements;
    * `row` sets the length. */
  def dist2(x: Array[Double], row: Array[Double]): Double = {
    var acc = 0.0
    var j = 0
    while (j < row.length) { val t = x(j) - row(j); acc += t * t; j += 1 }
    acc
  }

  def checkDim(n: Int, d: Int): Unit =
    if (n != d)
      throw new IllegalArgumentException(
        s"nearest_centroid: input vector has $n dims, centroids have $d")

  def nullElement(i: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"nearest_centroid: input vector has a null element at $i — " +
        "malformed embedding, refusing to assign a cluster from garbage")

  def serialize(centroids: Array[Array[Double]]): Array[Byte] = {
    require(centroids.nonEmpty, "nearest_centroid: empty centroid matrix")
    val d = centroids(0).length
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(centroids.length); out.writeInt(d)
    centroids.foreach { r =>
      require(r.length == d, s"nearest_centroid: row length ${r.length} != dim $d")
      r.foreach(out.writeDouble)
    }
    out.flush(); bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Array[Array[Double]] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val k = in.readInt(); val d = in.readInt()
    Array.fill(k)(Array.fill(d)(in.readDouble()))
  }
}
