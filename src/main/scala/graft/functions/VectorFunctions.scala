package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions

/** Vector math over `array<float>` embedding columns, expressed with
  * higher-order functions (`aggregate`/`zip_with`) so everything stays
  * codegen'd and map-side. All arithmetic is widened to double BEFORE
  * multiply — keeps results deterministic and oracle-comparable.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ (double). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Σ aᵢ² (double). */
  def sqNorm(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))

  /** ‖a‖₂. */
  def l2Norm(a: Column): Column = sqrt(sqNorm(a))

  /** cos(a,b) = a·b / (‖a‖‖b‖); null-safe for zero vectors. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** ‖a−b‖₂ (euclidean distance). */
  def l2Dist(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0), (acc, v) => acc + v))

  /** Deterministic pseudo-random unit-ish hyperplane for LSH: component
    * j of plane p derived from xxhash64 — reproducible across runs and
    * engines without an RNG. The weights are constants, so they FOLD at
    * plan-build time (Catalyst does not constant-fold through the
    * `transform` HOF, which used to cost nPlanes·dim hash calls per
    * ROW): each component is the same `xxhash64(…)/Long.MaxValue`
    * Catalyst expression evaluated eagerly over its literal input, so
    * the values are bit-identical to the per-row form.
    */
  def hyperplane(planeId: Int, dim: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val vals = Array.tabulate(dim) { j =>
      val h = new XxHash64(Seq(Literal(s"plane$planeId|$j")))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]
      h.toDouble / Long.MaxValue.toDouble
    }
    array(vals.map(lit).toIndexedSeq: _*)
  }

  /** Double dots of `v` with the first `n` [[hyperplane]] planes: the
    * xxhash64 family's LSH bucket bits and [[randomProject]]. */
  private[graft] def hyperplaneDots(v: Column, n: Int, dim: Int): Seq[Column] =
    (0 until n).map(p => dot(v, hyperplane(p, dim)))

  /** Refuse a vector/`dim` mismatch loudly: zip_with null-pads the
    * shorter side, so a mismatched dot is NULL, `when(null >= 0)`
    * takes the 0 branch for EVERY plane, and every row silently lands
    * in bucket 0 — the "scale path" then runs the full quadratic
    * self-join inside one bucket with no error anywhere.
    */
  private[graft] def dimChecked(v: Column, dim: Int, fn: String, out: Column): Column =
    when(size(v) === dim, out).otherwise(raise_error(concat(
      lit(s"$fn: vector dim "), size(v).cast("string"),
      lit(s" != configured dim $dim"))).cast("long"))

  /** SQL-replayable twin of [[hyperplane]], kept in EXACT INTEGER
    * form: component j of plane p is md5("plane p|j")'s first 8 hex
    * chars as a 32-bit unsigned int minus 2^31 — an integer in
    * [-2^31, 2^31) that any SQL engine with md5 reproduces bit-for-bit
    * (DuckDB: ('0x'||substr(md5(...),1,8))::BIGINT - 2147483648).
    * Dividing by 2^31 would give the usual [-1,1) float weight, but
    * the sign of the dot product — all LSH needs — is unchanged by
    * that positive scaling, so the weights stay integers and the
    * bucket bit never depends on float summation order.
    */
  /** The raw md5 plane weights (exact integers in [-2^31, 2^31)) —
    * shared by the literal-array form below and the fused
    * `graft_jl_project` kernel's flat table. */
  private[graft] def hyperplaneMd5IntValues(planeId: Int, dim: Int): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Md5}
    Array.tabulate(dim) { j =>
      val hex = Md5(Literal(s"plane$planeId|$j".getBytes("UTF-8")))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty).toString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) - 2147483648L
    }
  }

  def hyperplaneMd5Int(planeId: Int, dim: Int): Column = {
    // folded driver-side like [[hyperplane]] (md5 of a constant string
    // is a constant; per-row evaluation cost nPlanes·dim md5 calls)
    array(hyperplaneMd5IntValues(planeId, dim).map(lit).toIndexedSeq: _*)
  }

  /** Dots of floor(v·2^16) with the first `n` [[hyperplaneMd5Int]]
    * planes: the md5 family's LSH bucket bits and [[randomProjectMd5Q]].
    * A pure 64-bit INTEGER sum, so a SQL engine may aggregate the terms
    * in any order and still reproduce every value — a float dot's
    * near-zero sign could flip under reassociation. Exact for |x| <
    * 2^10 (|term| ≤ 2^16·|x|·2^31, dim ≤ 64 ⇒ |sum| < 2^63).
    */
  private[graft] def hyperplaneMd5Dots(v: Column, n: Int, dim: Int): Seq[Column] = {
    val qv = transform(v, x => floor(x.cast("double") * lit(65536.0)))
    (0 until n).map { p =>
      aggregate(zip_with(qv, hyperplaneMd5Int(p, dim), (x, w) => x * w),
        lit(0L), (acc, t) => acc + t)
    }
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions
    * (the dimensionality-reduction step in front of clustering / ANN
    * when 64-dim embeddings are still too wide to scan at 100 TB):
    * component p = √(3/outDim) · v · plane_p, with the same
    * hash-derived [[hyperplane]] weight family as the LSH buckets —
    * no RNG, no stored projection matrix, bit-reproducible across
    * runs and engines. Weights are U[-1, 1) (variance 1/3), so the
    * √(3/outDim) factor keeps E‖y‖² = ‖x‖² — and cosines are
    * preserved to O(1/√outDim) by JL (spec-pinned on the fixture).
    * Map-side only; the weight arrays fold to plan literals.
    */
  def randomProject(v: Column, outDim: Int, dim: Int): Column = {
    require(outDim >= 1 && dim >= 1)
    val s = math.sqrt(3.0 / outDim)
    array(hyperplaneDots(v, outDim, dim).map(_ * lit(s)): _*)
  }

  /** [[randomProject]]'s DuckDB-replayable GATE twin, kept in EXACT
    * INTEGER form: component p is [[hyperplaneMd5Dots]]' dot p — no
    * float at all (the caller can rescale by √(3/outDim)/(2¹⁶·2³¹)
    * when real-valued output matters; the gate hashes the integers).
    */
  def randomProjectMd5Q(v: Column, outDim: Int, dim: Int): Column = {
    require(outDim >= 1 && dim >= 1)
    array(hyperplaneMd5Dots(v, outDim, dim): _*)
  }

  /** [[randomProjectMd5Q]] through the fused codegen kernel
    * (`graft_jl_project`) — bit-identical output (the dot is pure
    * 64-bit integer arithmetic on both paths; PropertySpec pins
    * equality), one JVM loop instead of outDim·dim interpreted lambda
    * dispatches per row.
    */
  def randomProjectMd5QKernel(v: Column, outDim: Int, dim: Int): Column = {
    require(outDim >= 1 && dim >= 1)
    val flat = (0 until outDim).flatMap(p =>
      hyperplaneMd5IntValues(p, dim).toIndexedSeq)
    GraftExtensions.call("graft_jl_project", v,
      array(flat.map(lit): _*), lit(outDim), lit(65536.0))
  }

  /** Per-vector symmetric int8 quantization scale: `max|xᵢ| / 127`.
    * Storing embeddings as (scale, int8[]) is the 4× storage/IO cut
    * that makes a 100 TB embedding corpus scannable — the shape every
    * large ANN deployment ships (FAISS SQ8). The whole codec is plain
    * double arithmetic (no hash families), so ONE kernel serves both
    * production and the DuckDB oracle — no md5 gate twin needed.
    */
  def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x.cast("double")))) / lit(127.0)

  /** Quantize each component to `[-127, 127]`: `floor(x/scale + 0.5)`
    * (explicit half-up — not a library `round`, whose half-even vs
    * half-up choice differs across engines), clamped for safety at
    * the ±127.5 edge. A zero vector (scale = 0) quantizes to zeros
    * rather than dividing by zero.
    */
  def int8Quantize(v: Column, scale: Column): Column =
    transform(v, x =>
      when(scale === 0.0, lit(0.0)).otherwise(
        greatest(lit(-127.0), least(lit(127.0),
          floor(x.cast("double") / scale + lit(0.5))))).cast("int"))

  /** Reconstruct `qᵢ · scale` (double components). Max per-component
    * error is scale/2 by construction — spec-pinned. */
  def int8Dequantize(q: Column, scale: Column): Column =
    transform(q, c => c.cast("double") * scale)

  /** Mean squared reconstruction error of the (scale, qvec) codec
    * against the original vector — the quality metric a pipeline
    * monitors when deciding int8 is safe for its recall target. */
  def int8ReconMse(v: Column, q: Column, scale: Column): Column =
    aggregate(zip_with(v, q, (x, c) => {
      val d = x.cast("double") - c.cast("double") * scale
      d * d
    }), lit(0.0), (acc, d) => acc + d) / size(v)
}
