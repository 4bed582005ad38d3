package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.KernelColumn
import org.apache.spark.sql.types._
import scala.reflect.ClassTag
import graft.spatial.{Healpix, Morton}
import KernelExpr._

/** The `graft_*` kernels as SQL functions: custom `Expression`s with
  * `doGenCode`, injected through the public `SparkSessionExtensions`
  * API (no Catalyst internals are monkey-patched).
  *
  * Registration only serves SQL text (`spark.sql`, `expr`,
  * `selectExpr`): Column callers use [[GraftExtensions.call]], whose
  * Column carries the kernel's expression and resolves in any session.
  * Enable per-session with
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * or imperatively via [[GraftExtensions.registerAll]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** One registry entry per codegen'd kernel (see [[KernelExpr]]):
    * its SQL name and constructor, the `ExpressionInfo` derived from
    * both. */
  private def kernel[K <: KernelExpr](name: String, build: Seq[Expression] => K)(
      implicit k: ClassTag[K]) =
    (FunctionIdentifier(name), new ExpressionInfo(k.runtimeClass.getName, name),
      build: Seq[Expression] => Expression)

  private[plans] val descriptors = Seq(
    kernel("graft_morton_key", MortonKeyExpr(_)),
    kernel("graft_healpix_pix", HealpixPixExpr(_)),
    kernel("graft_healpix_disc", HealpixDiscExpr(_)),
    kernel("graft_simhash64", SimHash64Expr(_)),
    kernel("graft_ngram_hashes", NgramHashesExpr(_)),
    kernel("graft_minhash_sig", MinHashSigExpr(_)),
    kernel("graft_cosine_int8", CosineInt8Expr(_)),
    kernel("graft_cosine", CosineExpr(_)),
    kernel("graft_l2norm", L2NormExpr(_)),
    kernel("graft_cell_dists", CellDistsExpr(_)),
    kernel("graft_nearest_cell", NearestCellExpr(_)),
    kernel("graft_dot_q", DotQExpr(_)),
    kernel("graft_pq_encode", PqEncodeExpr(_)),
    kernel("graft_jl_project", JlProjectExpr(_)),
    kernel("graft_normalize", NormalizeExpr(_)),
    kernel("graft_char_entropy", CharEntropyExpr(_)),
    kernel("graft_deflate_len", DeflateLenExpr(_)),
    kernel("graft_rep_signals", RepSignalsExpr(_)),
    kernel("graft_bpe_word", BpeWordExpr(_)),
    kernel("graft_syms_to_ids", SymsToIdsExpr(_)),
    kernel("graft_md5_minhash_sig", Md5MinhashSigExpr(_)),
    kernel("graft_md5_simhash64", Md5Simhash64Expr(_)),
    kernel("graft_md5_bucket_counts", Md5BucketCountsExpr(_)),
    kernel("graft_md5_sign_sums", Md5SignSumsExpr(_)),
    kernel("graft_gram_counts", GramCountsExpr(_)),
    kernel("graft_md5_window_hashes", Md5WindowHashesExpr(_)),
    kernel("graft_xx_window_hashes", XxWindowHashesExpr(_)),
    kernel("graft_md5_bucket_entries", BucketEntriesExpr(_, xx = false)),
    kernel("graft_xx_bucket_entries", BucketEntriesExpr(_, xx = true)),
    kernel("graft_xx_bucket_counts", XxBucketCountsExpr(_)),
    kernel("graft_xx_sign_sums", XxSignSumsExpr(_)),
    // Spark's own bloom-filter pair (the machinery behind runtime
    // join filters), surfaced as callable functions for the
    // bloom-prefiltered decontamination path: the aggregate builds a
    // sketch over LONG keys; the probe is codegen'd and takes the
    // sketch as a foldable binary literal.
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_bloom_agg(longCol, estimatedItems, numBits)")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))
          .toAggregateExpression(): Expression
      }),
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_might_contain(sketch, longCol)")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1)): Expression
      }))

  private val builders = descriptors.map { case (id, _, b) => id.funcName -> b }.toMap

  /** The kernel `name` over `args`, as a Column that carries its
    * expression: no session has to know the name. An unknown name
    * throws here, naming the kernel. */
  def call(name: String, args: Column*): Column = builders.get(name) match {
    case Some(build) => KernelColumn(build, args)
    case None => throw new IllegalArgumentException(
      s"unknown graft kernel '$name': not in GraftExtensions.descriptors")
  }

  /** Registers every kernel's SQL name in an existing session
    * (idempotent), for SQL text only; Column callers need no
    * registration (see [[call]]). */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}

/** graft_morton_key(x, y, z, origin, size, level) → long
  *
  * Codegen'd Morton cell key (reference spatial/octree.py:48-57
  * `get_octtree_index`): one static JVM call per row inside
  * whole-stage codegen — the preferred custom-scalar-function shape
  * (native `Expression` > UDF). Numeric coordinates are cast to double.
  */
final case class MortonKeyExpr(children: Seq[Expression])
    extends KernelExpr(Seq(cast("x", DoubleType), cast("y", DoubleType), cast("z", DoubleType)),
      Seq(constant("origin"), constant("size"), constant("level"))) {
  private lazy val originV = doubleAt(3)
  private lazy val size = doubleAt(4)
  private lazy val level = intAt(5)
  override def dataType: DataType = LongType
  override def foldable: Boolean = children.forall(_.foldable)
  protected def args = Seq(In(0), In(1), In(2), Const("origin", originV),
    Const("size", size), Const("level", level))
  protected def method = "graft.spatial.Morton.pointKey"
  protected def call(a: Args) = Morton.pointKey(a.double(0), a.double(1), a.double(2),
    a.double(3), a.double(4), a.int(5))
}

/** graft_healpix_pix(ra, dec, nside) → long
  *
  * Codegen'd HEALPix nested pixel id (Górski et al. 2005; reference
  * spatial/healpix.py:19-66 delegates to healpy's ang2pix). Replaces
  * the round-14 Scala UDF, which was opaque to Catalyst: no
  * whole-stage fusion, no pushdown through it, boxed Double per row.
  * As an `Expression` the pixel key fuses into the surrounding
  * codegen stage exactly like [[MortonKeyExpr]] — one static JVM call
  * per row — and stays eligible for constant folding on literal
  * coordinates. nside is a plan-time constant (it selects a
  * resolution, not a per-row value), checked power-of-2 once here
  * instead of per row inside the kernel.
  */
final case class HealpixPixExpr(children: Seq[Expression])
    extends KernelExpr(Seq(cast("ra", DoubleType), cast("dec", DoubleType)),
      Seq(constant("nside"))) {
  private lazy val nside = Nside.checked(intAt(2))
  override def dataType: DataType = LongType
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "graft_healpix_pix"
  protected def args = Seq(Const("nside", nside), In(0), In(1))
  protected def method = "graft.spatial.Healpix.ang2pixNest"
  protected def call(a: Args) = Healpix.ang2pixNest(a.int(0), a.double(1), a.double(2))
}

/** graft_healpix_disc(pix, nside, radius_deg) → array<long>
  *
  * Codegen'd inclusive disc cover around a pixel's center (the
  * candidate-pixel generator of the sky cross-match). nside and
  * radius are plan-time constants; the per-pixel cover memoizes in
  * [[graft.spatial.Healpix.discCoverCached]] (executor-local, ≤
  * 12·nside² entries), so a cache hit is one map lookup per row — the
  * same amortization the round-14 Scala UDF had, minus the UDF's
  * boxing, serialization, and optimizer opacity. The returned
  * `ArrayData` feeds `explode` directly.
  */
final case class HealpixDiscExpr(children: Seq[Expression])
    extends KernelExpr(Seq(cast("pix", LongType)),
      Seq(constant("nside"), constant("radius_deg"))) {
  private lazy val nside = Nside.checked(intAt(1))
  private lazy val radius = doubleAt(2)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_healpix_disc"
  protected def args = Seq(Const("nside", nside), In(0), Const("radius_deg", radius))
  protected def method = "graft.spatial.Healpix.discCoverCached"
  protected def call(a: Args) = Healpix.discCoverCached(a.int(0), a.long(1), a.double(2))
}

private[plans] object Nside {
  /** nside selects a HEALPix resolution: a power of two, checked once
    * per plan rather than per row. */
  def checked(n: Int): Int = {
    require(n > 0 && (n & (n - 1)) == 0, s"nside $n not a power of 2")
    n
  }
}
