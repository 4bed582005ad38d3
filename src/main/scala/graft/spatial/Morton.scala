package graft.spatial

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions

/** Morton (z-order) spatial keys (reference
  * python/opencosmo/spatial/octree.py:48-78 `get_octtree_index` —
  * SURVEY.md §2.7). The cell id of a point is the bit-interleave of
  * its per-axis cell coordinates at a given octree level; prefix
  * nesting means the id at level L is the id at level L+1 >> 3.
  *
  * Data written clustered by this key gets parquet row-group min/max
  * stats that align with spatial locality, so `bound` queries prune
  * at the storage layer (the Spark analog of the reference's
  * ChunkedIndex windowed reads).
  *
  * Two lowerings of the key computation:
  *   - [[keyColumn]]: pure `functions._` composition (bit ops per
  *     level) — stock Catalyst, whole-stage codegen'd, no session
  *     setup needed. The default.
  *   - [[plans.MortonKeyExpr]]: a native Catalyst `Expression` with
  *     `doGenCode` calling [[pointKey]] directly — one JVM call per
  *     row instead of 3·level bit-op expressions. Registered via
  *     `plans.GraftExtensions` / [[register]].
  */
object Morton {

  /** Interleave the low `bits` bits of x,y,z: result bit 3i = x_i,
    * 3i+1 = y_i, 3i+2 = z_i.
    */
  def encode3d(cx: Long, cy: Long, cz: Long, bits: Int): Long = {
    var out = 0L
    var i = 0
    while (i < bits) {
      out |= ((cx >> i) & 1L) << (3 * i) |
             ((cy >> i) & 1L) << (3 * i + 1) |
             ((cz >> i) & 1L) << (3 * i + 2)
      i += 1
    }
    out
  }

  /** Inverse of [[encode3d]]. */
  def decode3d(key: Long, bits: Int): (Long, Long, Long) = {
    var x = 0L; var y = 0L; var z = 0L
    var i = 0
    while (i < bits) {
      x |= ((key >> (3 * i)) & 1L) << i
      y |= ((key >> (3 * i + 1)) & 1L) << i
      z |= ((key >> (3 * i + 2)) & 1L) << i
      i += 1
    }
    (x, y, z)
  }

  /** Cell id of a point at `level` in the cube [origin, origin+size)³.
    * Out-of-bounds points clamp to the boundary cell.
    */
  def pointKey(x: Double, y: Double, z: Double,
               origin: Double, size: Double, level: Int): Long = {
    val n = 1L << level
    def cell(v: Double): Long = {
      val c = ((v - origin) / size * n).toLong
      math.max(0L, math.min(n - 1, c))
    }
    encode3d(cell(x), cell(y), cell(z), level)
  }

  /** Column form via stock functions: clamp to cell coords, then
    * interleave with shift/AND/OR expressions. All codegen'd built-ins.
    */
  def keyColumn(x: Column, y: Column, z: Column,
                origin: Double, size: Double, level: Int): Column = {
    // level 0 = the whole domain in one root cell (key 0) — the
    // general interleave below would reduce over an EMPTY term list;
    // 21 is the Long ceiling (3·21 = 63 interleaved bits)
    require(level >= 0 && level <= 21, s"octree level must be 0..21, got $level")
    if (level == 0) return lit(0L)
    val n = 1L << level
    def cell(v: Column): Column =
      greatest(lit(0L), least(lit(n - 1),
        floor((v - lit(origin)) / lit(size) * lit(n.toDouble)).cast("long")))
    val (cx, cy, cz) = (cell(x), cell(y), cell(z))
    val terms = (0 until level).flatMap { i =>
      Seq(
        shiftleft(shiftright(cx, i).bitwiseAND(lit(1L)), 3 * i),
        shiftleft(shiftright(cy, i).bitwiseAND(lit(1L)), 3 * i + 1),
        shiftleft(shiftright(cz, i).bitwiseAND(lit(1L)), 3 * i + 2))
    }
    terms.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Native-expression column form: the codegen'd
    * [[graft.plans.MortonKeyExpr]], one JVM call per row. */
  def keyColumnNative(x: Column, y: Column, z: Column,
                      origin: Double, size: Double, level: Int): Column =
    GraftExtensions.call("graft_morton_key", x.cast("double"), y.cast("double"),
      z.cast("double"), lit(origin), lit(size), lit(level))
}
