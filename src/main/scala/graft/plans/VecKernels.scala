package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector-math kernels over `array<float>` embeddings
  * (`graft_cosine`, `graft_l2norm` — registered in [[GraftExtensions]]).
  *
  * Semantically identical to functions/VectorFunctions (sequential
  * left-to-right double accumulation — same IEEE result), but one
  * fused JVM loop instead of zip_with+aggregate lambda trees: less
  * janino compile time and no per-element closure dispatch. The HOF
  * versions remain the session-free default; operators switch to
  * these after GraftExtensions.registerAll.
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

/** Input check shared by every float-vector kernel: the JVM loops
  * read elements with `ArrayData.getFloat`, so any other element type
  * (notably array<double>) would silently misread bytes — refuse it
  * at analysis time instead.
  */
private[plans] object VecKernelChecks {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  def floatArrays(exprs: Seq[(Expression, String)],
                  fn: String): TypeCheckResult = {
    exprs.collectFirst {
      case (e, role) if !e.dataType.isInstanceOf[ArrayType] ||
          e.dataType.asInstanceOf[ArrayType].elementType != FloatType =>
        TypeCheckResult.TypeCheckFailure(
          s"$fn expects $role array<float>, got ${e.dataType.simpleString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  /** Constant operands (nside, radius, m/dsub/ksub, codebooks…) are
    * extracted ONCE at plan time via `eval(null)` — a non-foldable
    * child there would NPE/ClassCastException at execution instead of
    * failing analysis with a usable message. These functions are
    * session-registered SQL surface, so a user CAN write
    * `graft_healpix_pix(ra, dec, some_col)`; reject it here.
    */
  def foldableConstants(exprs: Seq[(Expression, String)],
                        fn: String): TypeCheckResult = {
    exprs.collectFirst {
      case (e, role) if !e.foldable =>
        TypeCheckResult.TypeCheckFailure(
          s"$fn expects $role to be a plan-time constant (foldable), " +
            s"got non-foldable ${e.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  /** Chain checks: first failure wins. */
  def all(checks: TypeCheckResult*): TypeCheckResult =
    checks.find(!_.isSuccess).getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** array<array<double>> — the centroid-matrix literal shape. */
  def doubleMatrix(e: Expression, fn: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn expects centroids array<array<double>>, got ${other.simpleString}")
    }
}

private[plans] abstract class BinaryVecExpr extends Expression {
  def children: Seq[Expression]
  protected def kernel: String // static method name on VecKernels

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecKernelChecks.floatArrays(
      Seq(children.head -> "left", children(1) -> "right"), prettyName)

  override def eval(input: InternalRow): Any = {
    val a = children.head.eval(input); val b = children(1).eval(input)
    if (a == null || b == null) null
    else kernelEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }
  protected def kernelEval(a: ArrayData, b: ArrayData): Double

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ag = children.head.genCode(ctx); val bg = children(1).genCode(ctx)
    ev.copy(code =
      code"""
        ${ag.code}
        ${bg.code}
        boolean ${ev.isNull} = ${ag.isNull} || ${bg.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.plans.VecKernels.$kernel(${ag.value}, ${bg.value});
        }
      """)
  }
}

/** graft_cosine(array<float>, array<float>) → double */
final case class CosineExpr(children: Seq[Expression]) extends BinaryVecExpr {
  require(children.length == 2, "graft_cosine(a, b)")
  override protected def kernel = "cosine"
  override protected def kernelEval(a: ArrayData, b: ArrayData): Double =
    VecKernels.cosine(a, b)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** graft_cosine_int8(q array<float>, codes array<int>, scale double)
  * → double: fused dequantize+cosine (see [[VecKernels.cosineInt8]]).
  */
final case class CosineInt8Expr(children: Seq[Expression]) extends Expression {
  require(children.length == 3, "graft_cosine_int8(q, codes, scale)")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val q = VecKernelChecks.floatArrays(Seq(children.head -> "query"), prettyName)
    if (!q.isSuccess) q
    else children(1).dataType match {
      case ArrayType(IntegerType, _) =>
        if (children(2).dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects scale double, got ${children(2).dataType.simpleString}")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects codes array<int>, got ${other.simpleString}")
    }
  }

  override def eval(input: InternalRow): Any = {
    val q = children.head.eval(input)
    val c = children(1).eval(input)
    val s = children(2).eval(input)
    if (q == null || c == null || s == null) null
    else VecKernels.cosineInt8(q.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], s.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qg = children.head.genCode(ctx)
    val cg = children(1).genCode(ctx)
    val sg = children(2).genCode(ctx)
    ev.copy(code =
      code"""
        ${qg.code}
        ${cg.code}
        ${sg.code}
        boolean ${ev.isNull} = ${qg.isNull} || ${cg.isNull} || ${sg.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.plans.VecKernels.cosineInt8(${qg.value}, ${cg.value}, ${sg.value});
        }
      """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** Shared analysis check for the centroid kernels: the vector child is
  * array<float> (production embeddings) OR array<double> (the gate
  * twins' quantized vectors — round 20 moved their interpreted
  * zip_with+aggregate argmin folds onto these kernels); anything else
  * refuses by name.
  */
private[plans] object CentroidKernelChecks {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def check(vec: Expression, mat: Expression, fn: String): TypeCheckResult =
    vec.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        VecKernelChecks.doubleMatrix(mat, fn)
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn expects vector array<float|double>, got ${other.simpleString}")
    }
  def isFloat(vec: Expression): Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** graft_cell_dists(array<float|double>, array<array<double>>) → array<double> */
final case class CellDistsExpr(children: Seq[Expression]) extends Expression {
  require(children.length == 2, "graft_cell_dists(v, centroids)")
  private lazy val vIsFloat = CentroidKernelChecks.isFloat(children.head)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    CentroidKernelChecks.check(children.head, children(1), prettyName)

  override def eval(input: InternalRow): Any = {
    val a = children.head.eval(input); val b = children(1).eval(input)
    if (a == null || b == null) null
    else VecKernels.cellDists(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], vIsFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ag = children.head.genCode(ctx); val bg = children(1).genCode(ctx)
    ev.copy(code =
      code"""
        ${ag.code}
        ${bg.code}
        boolean ${ev.isNull} = ${ag.isNull} || ${bg.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.plans.VecKernels.cellDists(${ag.value}, ${bg.value}, $vIsFloat);
        }
      """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** graft_nearest_cell(array<float|double>, array<array<double>>) → int */
final case class NearestCellExpr(children: Seq[Expression]) extends Expression {
  require(children.length == 2, "graft_nearest_cell(v, centroids)")
  private lazy val vIsFloat = CentroidKernelChecks.isFloat(children.head)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = children.exists(_.nullable)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    CentroidKernelChecks.check(children.head, children(1), prettyName)

  override def eval(input: InternalRow): Any = {
    val a = children.head.eval(input); val b = children(1).eval(input)
    if (a == null || b == null) null
    else VecKernels.nearestCell(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], vIsFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ag = children.head.genCode(ctx); val bg = children(1).genCode(ctx)
    ev.copy(code =
      code"""
        ${ag.code}
        ${bg.code}
        boolean ${ev.isNull} = ${ag.isNull} || ${bg.isNull};
        int ${ev.value} = 0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.plans.VecKernels.nearestCell(${ag.value}, ${bg.value}, $vIsFloat);
        }
      """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** graft_dot_q(array<double>, array<double>) → double — the gate
  * twins' exact-integer code dot product (one fused loop instead of a
  * zip_with+aggregate lambda tree in the q119 candidate-pair scorer).
  */
final case class DotQExpr(children: Seq[Expression]) extends Expression {
  require(children.length == 2, "graft_dot_q(a, b)")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    children.collectFirst {
      case e if !(e.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<double>, got ${e.dataType.simpleString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  override def eval(input: InternalRow): Any = {
    val a = children.head.eval(input); val b = children(1).eval(input)
    if (a == null || b == null) null
    else VecKernels.dotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ag = children.head.genCode(ctx); val bg = children(1).genCode(ctx)
    ev.copy(code =
      code"""
        ${ag.code}
        ${bg.code}
        boolean ${ev.isNull} = ${ag.isNull} || ${bg.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.plans.VecKernels.dotD(${ag.value}, ${bg.value});
        }
      """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** graft_l2norm(array<float>) → double */
final case class L2NormExpr(children: Seq[Expression]) extends Expression {
  require(children.length == 1, "graft_l2norm(a)")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.head.nullable
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecKernelChecks.floatArrays(Seq(children.head -> "input"), prettyName)

  override def eval(input: InternalRow): Any = {
    val a = children.head.eval(input)
    if (a == null) null else VecKernels.l2Norm(a.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ag = children.head.genCode(ctx)
    ev.copy(code =
      code"""
        ${ag.code}
        boolean ${ev.isNull} = ${ag.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.plans.VecKernels.l2Norm(${ag.value});
        }
      """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** graft_pq_encode(vec, flat_codebook, m, dsub, ksub) → array<int>
  *
  * Codegen'd PQ encoding (Jégou et al. 2011 build step): the
  * round-14 Scala UDF deserialized every corpus vector to a boxed
  * Seq[Float] and copied each subspace slice before the scan; this
  * reads both the vector and the (plan-literal) flat codeword table
  * in place. m/dsub/ksub are plan-time constants.
  */
final case class PqEncodeExpr(children: Seq[Expression]) extends Expression {
  require(children.length == 5,
    "graft_pq_encode(vec, flat_codebook, m, dsub, ksub)")
  private def ve = children(0); private def fe = children(1)
  private lazy val mV = children(2).eval(null).toString.toInt
  private lazy val dsubV = children(3).eval(null).toString.toInt
  private lazy val ksubV = children(4).eval(null).toString.toInt
  // the codebook child must be foldable: it is extracted ONCE here to
  // a primitive float[] (checked against m·ksub·dsub) and shipped to
  // the generated code as a reference object — per-row evaluation
  // never touches the literal's boxed ArrayData
  private lazy val flatV: Array[Float] = {
    val a = fe.eval(null).asInstanceOf[ArrayData].toFloatArray()
    require(a.length == mV * ksubV * dsubV,
      s"graft_pq_encode codebook has ${a.length} floats, " +
        s"expected m*ksub*dsub = ${mV * ksubV * dsubV}")
    a
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = ve.nullable
  override def prettyName: String = "graft_pq_encode"
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecKernelChecks.all(
      VecKernelChecks.floatArrays(
        Seq(ve -> "vector", fe -> "flat codebook"), prettyName),
      VecKernelChecks.foldableConstants(
        Seq(fe -> "flat codebook", children(2) -> "m",
          children(3) -> "dsub", children(4) -> "ksub"), prettyName))

  override def eval(input: InternalRow): Any = {
    val v = ve.eval(input)
    if (v == null) null
    else VecKernels.pqEncode(v.asInstanceOf[ArrayData], flatV, mV, dsubV, ksubV)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vg = ve.genCode(ctx)
    val flatRef = ctx.addReferenceObj("pqFlat", flatV, "float[]")
    ev.copy(code =
      code"""
        ${vg.code}
        boolean ${ev.isNull} = ${vg.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.plans.VecKernels.pqEncode(
            ${vg.value}, $flatRef, $mV, $dsubV, $ksubV);
        }
      """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** graft_jl_project(vec, flat_planes, out_dim, scale) → array<bigint>
  *
  * Codegen'd md5-int JL projection — the fused form of
  * `VectorFunctions.randomProjectMd5Q`'s zip_with+aggregate lambda
  * trees (outDim·dim interpreted closure dispatches per row was the
  * single biggest line in the q119 gate's cost). The flat
  * [plane][j] weight table is a plan-time constant, extracted ONCE to
  * a primitive long[] and shipped to the generated code as a
  * reference object.
  */
final case class JlProjectExpr(children: Seq[Expression]) extends Expression {
  require(children.length == 4,
    "graft_jl_project(vec, flat_planes, out_dim, scale)")
  private def ve = children(0); private def fe = children(1)
  private lazy val outDimV = children(2).eval(null).toString.toInt
  private lazy val scaleV = children(3).eval(null).toString.toDouble
  private lazy val flatV: Array[Long] = {
    val a = fe.eval(null).asInstanceOf[ArrayData].toLongArray()
    require(outDimV >= 1 && a.length % outDimV == 0,
      s"graft_jl_project flat table has ${a.length} longs, " +
        s"not a multiple of out_dim = $outDimV")
    a
  }
  // float components widen to double exactly (same value as the HOF
  // form's cast("double")); double components pass through untouched
  private lazy val vecIsFloat: Boolean =
    ve.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = ve.nullable
  override def prettyName: String = "graft_jl_project"
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecKernelChecks.all(
      ve.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects vector array<float|double>, got ${other.simpleString}")
      },
      fe.dataType match {
        case ArrayType(LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects flat_planes array<bigint>, got ${other.simpleString}")
      },
      VecKernelChecks.foldableConstants(
        Seq(fe -> "flat_planes", children(2) -> "out_dim",
          children(3) -> "scale"), prettyName))

  override def eval(input: InternalRow): Any = {
    val v = ve.eval(input)
    if (v == null) null
    else VecKernels.jlProject(v.asInstanceOf[ArrayData], flatV, outDimV,
      scaleV, vecIsFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vg = ve.genCode(ctx)
    val flatRef = ctx.addReferenceObj("jlFlat", flatV, "long[]")
    ev.copy(code =
      code"""
        ${vg.code}
        boolean ${ev.isNull} = ${vg.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.plans.VecKernels.jlProject(
            ${vg.value}, $flatRef, $outDimV, ${scaleV}D, $vecIsFloat);
        }
      """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}
