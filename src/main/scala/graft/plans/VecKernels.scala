package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import KernelExpr._

/** Native vector-math kernels over `array<float>` embeddings
  * (`graft_cosine`, `graft_l2norm` — registered in [[GraftExtensions]]).
  *
  * Semantically identical to functions/VectorFunctions (sequential
  * left-to-right double accumulation — same IEEE result), but one
  * fused JVM loop instead of zip_with+aggregate lambda trees: less
  * janino compile time and no per-element closure dispatch.
  */
object VecKernels {

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    // dimension mismatch must REFUSE by kernel name (like cosineInt8/
    // cellDists): a min-length loop would silently score a truncated
    // prefix — a plausible but wrong similarity that quietly corrupts
    // ANN rankings
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_cosine: dim mismatch $n vs ${b.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def sqNorm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = a.getFloat(i).toDouble; s += v * v; i += 1 }
    s
  }

  def l2Norm(a: ArrayData): Double = math.sqrt(sqNorm(a))

  /** cos(a,b); 0.0 for zero vectors (matches VectorFunctions.cosine). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val denom = l2Norm(a) * l2Norm(b)
    if (denom == 0.0) 0.0 else dot(a, b) / denom
  }

  /** cos(q, codes·scale) in ONE pass over the int8 codes — the
    * compressed-ANN candidate scorer. Fusing the dequantize into the
    * loop skips the per-row intermediate double array the
    * transform-then-cosine form materializes, and keeps the
    * dequantized component in full double precision (the HOF path
    * had to round through float for graft_cosine's signature). A
    * dimension mismatch would silently score a truncated prefix —
    * refuse by kernel name, like cellDists.
    */
  def cosineInt8(q: ArrayData, codes: ArrayData, scale: Double): Double = {
    val n = q.numElements()
    if (codes.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_cosine_int8: dim mismatch ${n} vs ${codes.numElements()}")
    var d = 0.0; var qn = 0.0; var cn = 0.0
    var i = 0
    while (i < n) {
      val x = q.getFloat(i).toDouble
      val y = codes.getInt(i).toDouble * scale
      d += x * y; qn += x * x; cn += y * y
      i += 1
    }
    val denom = math.sqrt(qn) * math.sqrt(cn)
    if (denom == 0.0) 0.0 else d / denom
  }

  /** A vector/centroid dimension mismatch would make every distance a
    * partial sum — a plausible-but-wrong cell assignment. Refuse by
    * kernel name instead of truncating the loop.
    */
  private def checkDim(fn: String, vDim: Int, ctDim: Int, cell: Int): Unit =
    if (vDim != ctDim) throw new IllegalArgumentException(
      s"$fn: vector dim $vDim != centroid dim $ctDim (cell $cell)")

  /** The vector column arrives as array<float> (production embeddings)
    * or array<double> (the md5 gate twins' quantized vectors). A float
    * element widens to double EXACTLY, so both paths produce the same
    * IEEE sums as the per-centroid zip_with+aggregate fold they
    * replace; copying to a primitive double[] once also removes the
    * per-(centroid, pos) ArrayData dispatch from the k×dim inner loop.
    */
  private def toDoubles(v: ArrayData, vIsFloat: Boolean, fn: String): Array[Double] = {
    val n = v.numElements()
    val qv = new Array[Double](n)
    var j = 0
    while (j < n) {
      if (v.isNullAt(j)) throw nullElement(fn, j)
      qv(j) = if (vIsFloat) v.getFloat(j).toDouble else v.getDouble(j)
      j += 1
    }
    qv
  }

  /** Null-element refusal for the centroid and dot kernels: a raw
    * `getFloat`/`getDouble` reads a null element as 0.0 — a
    * plausible-but-wrong distance or dot product — where the
    * zip_with+aggregate folds these kernels replaced return null.
    * Refuse by kernel name instead, as the token kernels' null guard
    * does (Md5Kernels.requireNoNullTokens).
    */
  private def nullElement(fn: String, i: Int): IllegalArgumentException =
    new IllegalArgumentException(s"$fn: null element at index $i of the vector " +
      "(null vector elements are not supported — filter or coalesce them first)")

  /** Squared-L2 distance of float vector `v` to EVERY row of the
    * double centroid matrix `cents` (array<array<double>>), as one
    * fused loop. IEEE-identical to the per-centroid
    * zip_with+aggregate fold (left-to-right accumulation), but the
    * matrix rides in as a SINGLE Literal — the lambda-tree form
    * plants k×dim Literal nodes, which at auto-tuned cluster counts
    * (hundreds of cells) blows up analysis/codegen and falls out of
    * compiled eval entirely.
    */
  def cellDists(v: ArrayData, cents: ArrayData, vIsFloat: Boolean): ArrayData = {
    val qv = toDoubles(v, vIsFloat, "graft_cell_dists")
    val k = cents.numElements()
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      val ct = cents.getArray(c)
      checkDim("graft_cell_dists", qv.length, ct.numElements(), c)
      val n = qv.length
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = qv(i) - ct.getDouble(i)
        s += d * d
        i += 1
      }
      out(c) = s
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** PQ encode: per-subspace nearest-codeword ids against a FLAT
    * [sub][k][i] codeword table. The table rides into the generated
    * code as a primitive `float[]` reference object (extracted from
    * the plan literal ONCE — no per-access unboxing), and the codes
    * return as an `UnsafeArrayData.fromPrimitiveArray` (no boxing on
    * the way out either). Arithmetic is FLOAT subtraction/multiply
    * widened on accumulation — bit-identical to the trainer's
    * assignment loop (`Pq.nearest`), so train-time and encode-time
    * assignments can never diverge on a rounding edge. Tie-break:
    * strict `<` keeps the lowest codeword index, same contract.
    */
  def pqEncode(v: ArrayData, flat: Array[Float], m: Int, dsub: Int,
               ksub: Int): ArrayData = {
    require(v.numElements() == m * dsub,
      s"graft_pq_encode vector has ${v.numElements()} dims, expected ${m * dsub}")
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      var best = 0
      var bd = Double.PositiveInfinity
      var k = 0
      while (k < ksub) {
        val base = (sub * ksub + k) * dsub
        var s = 0.0
        var i = 0
        while (i < dsub) {
          val t = flat(base + i) - v.getFloat(sub * dsub + i)
          s += t * t
          i += 1
        }
        if (s < bd) { bd = s; best = k }
        k += 1
      }
      out(sub) = best
      sub += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** argmin cell of [[cellDists]], ties to the LOWEST index — the
    * same contract as `array_position(ds, array_min(ds)) - 1`.
    */
  def nearestCell(v: ArrayData, cents: ArrayData, vIsFloat: Boolean): Int = {
    val qv = toDoubles(v, vIsFloat, "graft_nearest_cell")
    val k = cents.numElements()
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < k) {
      val ct = cents.getArray(c)
      checkDim("graft_nearest_cell", qv.length, ct.numElements(), c)
      val n = qv.length
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = qv(i) - ct.getDouble(i)
        s += d * d
        i += 1
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** dot(a, b) over two array<double> columns — the md5 gate twins'
    * exact-integer code dot products (compressed-ANN candidate
    * scoring). Left-to-right accumulation: bit-identical to
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`. Dimension mismatch
    * and null elements refuse by kernel name like the siblings.
    */
  def dotD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_dot_q: dim mismatch $n vs ${b.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) throw nullElement("graft_dot_q", i)
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** md5-int JL projection (the q114/q119 gate family): quantize each
    * component ONCE to `(long) floor(x·scale)` (Spark's `floor` on a
    * double IS `math.floor(_).toLong` — same value), then each output
    * plane is the pure 64-bit INTEGER dot against its weight row of
    * the flat [plane][j] table. Long multiply-accumulate in plane
    * order — bit-identical to the HOF form's
    * `aggregate(zip_with(floor(x·scale), w, _*_), 0L, _+_)` (integer
    * addition is associative, so even the fold order is moot).
    * PropertySpec pins kernel == HOF equality.
    */
  def jlProject(v: ArrayData, flat: Array[Long], outDim: Int,
                scale: Double, isFloat: Boolean): ArrayData = {
    val dim = flat.length / outDim
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"graft_jl_project: vector dim ${v.numElements()} != plane dim $dim")
    val qv = new Array[Long](dim)
    var j = 0
    while (j < dim) {
      val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
      qv(j) = math.floor(x * scale).toLong
      j += 1
    }
    val out = new Array[Long](outDim)
    var p = 0
    while (p < outDim) {
      var acc = 0L
      val base = p * dim
      var i = 0
      while (i < dim) {
        acc += qv(i) * flat(base + i)
        i += 1
      }
      out(p) = acc
      p += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** graft_cosine(array<float>, array<float>) → double */
final case class CosineExpr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("left", FloatType), arrayOf("right", FloatType))) {
  override def dataType: DataType = DoubleType
  protected def args = Seq(In(0), In(1))
  protected def method = "graft.plans.VecKernels.cosine"
  protected def call(a: Args) = VecKernels.cosine(a.array(0), a.array(1))
}

/** graft_cosine_int8(q array<float>, codes array<int>, scale double)
  * → double: fused dequantize+cosine (see [[VecKernels.cosineInt8]]).
  */
final case class CosineInt8Expr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("query", FloatType), arrayOf("codes", IntegerType),
      of("scale", DoubleType))) {
  override def dataType: DataType = DoubleType
  protected def args = Seq(In(0), In(1), In(2))
  protected def method = "graft.plans.VecKernels.cosineInt8"
  protected def call(a: Args) = VecKernels.cosineInt8(a.array(0), a.array(1), a.double(2))
}

/** graft_cell_dists(array<float|double>, array<array<double>>) →
  * array<double>. The vector is array<float> (production embeddings)
  * or array<double> (the gate twins' quantized vectors). */
final case class CellDistsExpr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("vector", FloatType, DoubleType), matrix("centroids"))) {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  protected def args = Seq(In(0), In(1), Const("vIsFloat", isFloatArray(0)))
  protected def method = "graft.plans.VecKernels.cellDists"
  protected def call(a: Args) = VecKernels.cellDists(a.array(0), a.array(1), a.bool(2))
}

/** graft_nearest_cell(array<float|double>, array<array<double>>) → int */
final case class NearestCellExpr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("vector", FloatType, DoubleType), matrix("centroids"))) {
  override def dataType: DataType = IntegerType
  protected def args = Seq(In(0), In(1), Const("vIsFloat", isFloatArray(0)))
  protected def method = "graft.plans.VecKernels.nearestCell"
  protected def call(a: Args) = VecKernels.nearestCell(a.array(0), a.array(1), a.bool(2))
}

/** graft_dot_q(array<double>, array<double>) → double — the gate
  * twins' exact-integer code dot product (one fused loop instead of a
  * zip_with+aggregate lambda tree in the q119 candidate-pair scorer).
  */
final case class DotQExpr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("a", DoubleType), arrayOf("b", DoubleType))) {
  override def dataType: DataType = DoubleType
  protected def args = Seq(In(0), In(1))
  protected def method = "graft.plans.VecKernels.dotD"
  protected def call(a: Args) = VecKernels.dotD(a.array(0), a.array(1))
}

/** graft_l2norm(array<float>) → double */
final case class L2NormExpr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("input", FloatType))) {
  override def dataType: DataType = DoubleType
  protected def args = Seq(In(0))
  protected def method = "graft.plans.VecKernels.l2Norm"
  protected def call(a: Args) = VecKernels.l2Norm(a.array(0))
}

/** graft_pq_encode(vec, flat_codebook, m, dsub, ksub) → array<int>
  *
  * Codegen'd PQ encoding (Jégou et al. 2011 build step): the
  * round-14 Scala UDF deserialized every corpus vector to a boxed
  * Seq[Float] and copied each subspace slice before the scan; this
  * reads both the vector and the (plan-literal) flat codeword table
  * in place. The codebook is extracted ONCE to a primitive float[]
  * (checked against m·ksub·dsub) and referenced from generated code.
  */
final case class PqEncodeExpr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("vector", FloatType)),
      Seq(arrayOf("flat codebook", FloatType), constant("m"), constant("dsub"),
        constant("ksub"))) {
  private lazy val m = intAt(2)
  private lazy val dsub = intAt(3)
  private lazy val ksub = intAt(4)
  private lazy val flat: Array[Float] = {
    val a = children(1).eval(null).asInstanceOf[ArrayData].toFloatArray()
    require(a.length == m * ksub * dsub,
      s"graft_pq_encode codebook has ${a.length} floats, " +
        s"expected m*ksub*dsub = ${m * ksub * dsub}")
    a
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  protected def args = Seq(In(0), Const("pqFlat", flat), Const("m", m),
    Const("dsub", dsub), Const("ksub", ksub))
  protected def method = "graft.plans.VecKernels.pqEncode"
  protected def call(a: Args) =
    VecKernels.pqEncode(a.array(0), a.ref(1), a.int(2), a.int(3), a.int(4))
}

/** graft_jl_project(vec, flat_planes, out_dim, scale) → array<bigint>
  *
  * Codegen'd md5-int JL projection — the fused form of
  * `VectorFunctions.randomProjectMd5Q`'s zip_with+aggregate lambda
  * trees (outDim·dim interpreted closure dispatches per row was the
  * single biggest line in the q119 gate's cost). The flat
  * [plane][j] weight table is extracted ONCE to a primitive long[] and
  * referenced from generated code. Float components widen to double
  * exactly (same value as the HOF form's cast("double")).
  */
final case class JlProjectExpr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("vector", FloatType, DoubleType)),
      Seq(arrayOf("flat_planes", LongType), constant("out_dim"), constant("scale"))) {
  private lazy val outDim = intAt(2)
  private lazy val scale = doubleAt(3)
  private lazy val flat: Array[Long] = {
    val a = children(1).eval(null).asInstanceOf[ArrayData].toLongArray()
    require(outDim >= 1 && a.length % outDim == 0,
      s"graft_jl_project flat table has ${a.length} longs, " +
        s"not a multiple of out_dim = $outDim")
    a
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_jl_project"
  protected def args = Seq(In(0), Const("jlFlat", flat), Const("out_dim", outDim),
    Const("scale", scale), Const("vIsFloat", isFloatArray(0)))
  protected def method = "graft.plans.VecKernels.jlProject"
  protected def call(a: Args) =
    VecKernels.jlProject(a.array(0), a.ref(1), a.int(2), a.double(3), a.bool(4))
}
