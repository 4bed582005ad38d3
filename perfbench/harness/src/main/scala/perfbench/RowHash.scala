package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive result digests.
  *
  * A row renders each cell in column-name order, engine-neutrally: null as
  * NUL, integers in decimal, floating values as the hex of their IEEE-754
  * double bits (-0.0 folded to 0.0), strings as themselves. The row digest
  * is the first 8 bytes of the rendering's MD5; a result's digest is the sum
  * of its row digests modulo 2^64, so row order never matters and duplicate
  * rows still count. `pin_corpus.py` renders DuckDB oracle rows the same way.
  */
object RowHash {

  final case class Digest(rows: Long, hash: String, sums: Map[String, Double]) {
    /** None when `other` matches; else what differs. Exact columns must hash
      * equal; fractional columns compare by sum within a relative 1e-9. */
    def mismatch(other: Digest): Option[String] =
      if (rows != other.rows) Some(s"rows ${rows} != ${other.rows}")
      else if (hash != other.hash) Some(s"hash $hash != ${other.hash}")
      else sums.collectFirst {
        case (c, v) if !close(v, other.sums.getOrElse(c, Double.NaN)) =>
          s"sum($c) $v != ${other.sums.getOrElse(c, Double.NaN)}"
      }
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def bits(d: Double): String =
    java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def render(v: Any): String = v match {
    case null                    => "\u0000"
    case d: Double               => bits(d)
    case f: Float                => bits(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case other                   => other.toString
  }

  private def rowDigest(cells: Seq[Any]): Long = {
    val md = MessageDigest.getInstance("MD5")
    val d = md.digest(cells.map(render).mkString("\u0001").getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  private def isFractional(t: DataType): Boolean =
    t == DoubleType || t == FloatType

  /** Every column hashed exactly (the corpus pin form). */
  def exact(rows: Array[Row], schema: StructType): Digest =
    digest(rows, schema, fractionalBySum = false)

  /** Exact columns hashed, fractional columns summed (the catalog form:
    * oracle and library may associate a unit factor differently). */
  def tolerant(rows: Array[Row], schema: StructType): Digest =
    digest(rows, schema, fractionalBySum = true)

  private def digest(rows: Array[Row], schema: StructType,
                     fractionalBySum: Boolean): Digest = {
    val names = schema.fieldNames.sorted
    val idx = names.map(schema.fieldIndex)
    val frac = idx.filter(i => fractionalBySum && isFractional(schema(i).dataType))
    val keyIdx = idx.filterNot(frac.contains)
    var h = 0L
    val sums = Array.fill(frac.length)(0.0)
    rows.foreach { r =>
      h += rowDigest(keyIdx.toSeq.map(r.get))
      var j = 0
      while (j < frac.length) {
        if (!r.isNullAt(frac(j))) sums(j) += r.getAs[Number](frac(j)).doubleValue
        j += 1
      }
    }
    Digest(rows.length.toLong, java.lang.Long.toUnsignedString(h, 16),
      frac.map(schema(_).name).zip(sums).toMap)
  }
}
