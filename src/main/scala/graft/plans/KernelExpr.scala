package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.CastInputs
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The shared shape of every `graft_*` SQL kernel: one static JVM
  * method per row, called from whole-stage codegen and, with the same
  * arguments, from interpreted `eval`.
  *
  * A kernel is a `final case class K(children: Seq[Expression])`
  * extending `KernelExpr(inputs, constants)` that declares:
  *   - `inputs`: the per-row children, leading, with role names and
  *     expected types (an [[KernelExpr.Input]] with `castTo` gets the
  *     implicit cast `ImplicitCastInputTypes` inserts, e.g. int → double);
  *   - `constants`: the plan-time children that follow, extracted once
  *     with `eval(null)` by the kernel's own `lazy val`s, which also do
  *     any one-time validation or precompute (power-of-two nside, a
  *     codebook length check, a BPE table);
  *   - `dataType`, and `mayReturnNull` when the method itself can
  *     return null for non-null inputs;
  *   - `args`: the method's arguments in parameter order, each
  *     `In(i)` (per-row input i; every input appears) or
  *     `Const(name, value)`;
  *   - `method` (the fully qualified codegen call target) and `call`
  *     (the same method called on the evaluated args), on adjacent
  *     lines.
  *
  * The base derives the rest, so both paths share one contract:
  *   - null rule: any null per-row input gives null without calling
  *     the method; a kernel with `mayReturnNull` is also null when the
  *     method returns null;
  *   - constant staging: finite Int/Long/Double/Boolean values are
  *     inlined as Java literals; arrays, tables and non-finite doubles
  *     (NaN and ±Infinity have no Java literal) ride in as
  *     `ctx.addReferenceObj` references;
  *   - analysis: every input and constant type-checked against its
  *     declaration, then every constant checked foldable (the BPE
  *     kernels alone defer that to execution, see [[BpeWordExpr]]);
  *   - `nullable`, the cast targets, `eval`, `doGenCode`,
  *     `withNewChildrenInternal`.
  *
  * To add a kernel: write its static method in the algorithm object,
  * declare the case class as above, add one `kernel(name, constructor)` entry to
  * [[GraftExtensions]]' registry, and give it a fixture in
  * `KernelAgreementSpec` (which fails for a registered kernel without
  * one) so its codegen and interpreted paths are pinned together.
  *
  * The base is `Serializable` itself because Java deserialization of a
  * kernel (interpreted plans ship to executors) needs every superclass
  * without a no-arg constructor to be serializable.
  */
private[plans] abstract class KernelExpr(inputs: Seq[KernelExpr.Input],
                                         constants: Seq[KernelExpr.Input] = Nil)
    extends Expression with CastInputs with Serializable {
  import KernelExpr._

  require(children.length == inputs.length + constants.length,
    s"$prettyName(${(inputs ++ constants).map(_.role).mkString(", ")})")

  /** The static method's arguments, in its parameter order; every
    * per-row input appears, so both paths apply the same null rule. */
  protected def args: Seq[Arg]
  /** The static method, fully qualified: the codegen call target. */
  protected def method: String
  /** The same static method, called on the values of `args`. */
  protected def call(a: Args): Any
  /** True when the method can return null for non-null inputs. */
  protected def mayReturnNull: Boolean = false
  /** False only for the kernels that check constant foldability at
    * execution (BPE, see [[BpeWordExpr]]). */
  protected def constantsFoldableAtAnalysis: Boolean = true

  /** A constant child's value, as a number parsed from its string form
    * (so an integral or decimal literal serves any numeric constant). */
  protected def intAt(i: Int): Int = children(i).eval(null).toString.toInt
  protected def doubleAt(i: Int): Double = children(i).eval(null).toString.toDouble
  protected def isFloatArray(i: Int): Boolean =
    children(i).dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullable: Boolean =
    mayReturnNull || children.take(inputs.length).exists(_.nullable)

  override protected def castTargets: Seq[Option[DataType]] =
    (inputs ++ constants).map(_.castTo)

  override def checkInputDataTypes(): TypeCheckResult = {
    val typed = expect(children.zip(inputs ++ constants), prettyName)
    if (!typed.isSuccess || !constantsFoldableAtAnalysis) typed
    else foldableConstants(children.drop(inputs.length).zip(constants), prettyName)
  }

  @transient private lazy val staged: Array[Arg] = args.toArray

  final override def eval(input: InternalRow): Any = {
    val a = new Array[Any](staged.length)
    var i = 0
    while (i < a.length) {
      a(i) = staged(i) match {
        case In(c) =>
          val v = children(c).eval(input)
          if (v == null) return null
          v
        case Const(_, v) => v
      }
      i += 1
    }
    call(new Args(a))
  }

  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = children.take(inputs.length).map(_.genCode(ctx))
    val argList = staged.map {
      case In(i) => in(i).value.toString
      case c: Const => stage(ctx, c)
    }.mkString(", ")
    val nullResult = if (mayReturnNull) s"${ev.isNull} = ${ev.value} == null;" else ""
    ev.copy(code =
      code"""
        ${in.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = ${in.map(_.isNull).mkString(" || ")};
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!${ev.isNull}) {
          ${ev.value} = $method($argList);
          $nullResult
        }
      """)
  }

  final override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    legacyWithNewChildren(newChildren)
}

private[plans] object KernelExpr {

  /** A child the kernel reads: its role name, the type it expects (as
    * the analysis message spells it), and the implicit cast target for
    * a numeric per-row input. */
  final case class Input(role: String, want: String, accepts: DataType => Boolean,
                         castTo: Option[DataType] = None)

  /** Any type: a numeric constant parsed by `intAt`/`doubleAt`. */
  def constant(role: String): Input = Input(role, "", _ => true)
  /** Exactly `t`, other numeric types implicitly cast to it. */
  def cast(role: String, t: NumericType): Input =
    Input(role, t.simpleString, _ == t, Some(t))
  def of(role: String, t: DataType): Input = Input(role, t.simpleString, _ == t)
  def integral(role: String): Input = Input(role, "integral literal", {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  })
  def arrayOf(role: String, elems: DataType*): Input =
    Input(role, elems.map(_.simpleString).mkString("array<", "|", ">"), {
      case ArrayType(e, _) => elems.contains(e)
      case _ => false
    })
  def text(role: String): Input = of(role, StringType)
  def tokens: Input = arrayOf("tokens", StringType)
  /** The centroid-matrix shape of the cell kernels. */
  def matrix(role: String): Input = Input(role, "array<array<double>>", {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _ => false
  })

  /** One argument of the static call. */
  sealed trait Arg
  /** Per-row input i. */
  final case class In(i: Int) extends Arg
  /** A plan-time value; `name` labels it when staged as a reference. */
  final case class Const(name: String, value: Any) extends Arg

  /** The evaluated arguments, read back typed by position. */
  final class Args(private val a: Array[Any]) extends AnyVal {
    def int(i: Int): Int = a(i).asInstanceOf[Int]
    def long(i: Int): Long = a(i).asInstanceOf[Long]
    def double(i: Int): Double = a(i).asInstanceOf[Double]
    def bool(i: Int): Boolean = a(i).asInstanceOf[Boolean]
    def array(i: Int): ArrayData = a(i).asInstanceOf[ArrayData]
    def string(i: Int): UTF8String = a(i).asInstanceOf[UTF8String]
    def ref[T](i: Int): T = a(i).asInstanceOf[T]
  }

  /** Finite primitives inline as Java literals; arrays, tables and
    * non-finite doubles become references. */
  private def stage(ctx: CodegenContext, c: Const): String = c.value match {
    case v: Int => v.toString
    case v: Long => s"${v}L"
    case v: Boolean => v.toString
    case v: Double if java.lang.Double.isFinite(v) => s"${v}D"
    case v: Double =>
      s"${ctx.addReferenceObj(c.name, v, "java.lang.Double")}.doubleValue()"
    case v: Array[Long] => ctx.addReferenceObj(c.name, v, "long[]")
    case v: Array[Float] => ctx.addReferenceObj(c.name, v, "float[]")
    case v => ctx.addReferenceObj(c.name, v, v.getClass.getName)
  }

  /** A wrong child type fails resolution naming the kernel and the
    * role, not later as a ClassCastException or a generated-Java
    * compile error. */
  private def expect(checked: Seq[(Expression, Input)], fn: String): TypeCheckResult =
    checked.collectFirst {
      case (e, in) if !in.accepts(e.dataType) =>
        TypeCheckFailure(s"$fn expects ${in.role} ${in.want}, got ${e.dataType.simpleString}")
    }.getOrElse(TypeCheckSuccess)

  /** Constants are extracted once at plan time via `eval(null)`; a
    * per-row column there (`graft_healpix_pix(ra, dec, some_col)`)
    * would fail at execution, so it fails analysis instead. */
  private def foldableConstants(checked: Seq[(Expression, Input)],
                                fn: String): TypeCheckResult =
    checked.collectFirst {
      case (e, in) if !e.foldable =>
        TypeCheckFailure(s"$fn expects ${in.role} to be a plan-time constant " +
          s"(foldable), got non-foldable ${e.sql}")
    }.getOrElse(TypeCheckSuccess)
}
