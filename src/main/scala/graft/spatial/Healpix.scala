package graft.spatial

import org.apache.spark.sql.Column
import graft.plans.GraftExtensions


/** Minimal HEALPix (NESTED ordering) — the reference delegates to
  * healpy (spatial/healpix.py:19-66, SURVEY.md §7.4 hard part 5);
  * here the well-published pixelization math (Górski et al. 2005,
  * and the reference C implementation's ang2pix_nest structure) is
  * implemented directly in Scala.
  *
  * Supports: ang2pix (nested), pix2ang (pixel center), degrade
  * (nested prefix shift), disc queries via center+corner testing —
  * enough for HealpixRegion/HealpixMap semantics. nside must be a
  * power of two.
  */
object Healpix {

  def npix(nside: Int): Long = 12L * nside * nside

  /** (ra°, dec°) → nested pixel index. */
  def ang2pixNest(nside: Int, raDeg: Double, decDeg: Double): Long = {
    require(nside > 0 && (nside & (nside - 1)) == 0, s"nside $nside not a power of 2")
    val theta = math.toRadians(90.0 - decDeg) // colatitude
    val phi = math.toRadians((raDeg % 360.0 + 360.0) % 360.0)
    val z = math.cos(theta)
    val za = math.abs(z)
    val tt = (phi / (math.Pi / 2)) % 4.0 // in [0,4)

    var face = 0
    var ix = 0; var iy = 0
    if (za <= 2.0 / 3.0) {
      // equatorial belt
      val temp1 = nside * (0.5 + tt)
      val temp2 = nside * z * 0.75
      val jp = math.floor(temp1 - temp2).toLong // ascending edge line
      val jm = math.floor(temp1 + temp2).toLong // descending edge line
      val ifp = jp / nside
      val ifm = jm / nside
      face =
        if (ifp == ifm) (ifp.toInt & 3) + 4
        else if (ifp < ifm) ifp.toInt & 3
        else (ifm.toInt & 3) + 8
      ix = (jm % nside).toInt
      iy = (nside - (jp % nside) - 1).toInt
    } else {
      // polar caps
      val ntt = math.min(3, tt.toInt)
      val tp = tt - ntt
      val tmp = nside * math.sqrt(3.0 * (1.0 - za))
      val jp = math.min(nside - 1L, math.floor(tp * tmp).toLong)
      val jm = math.min(nside - 1L, math.floor((1.0 - tp) * tmp).toLong)
      if (z >= 0) {
        face = ntt
        ix = (nside - jm - 1).toInt
        iy = (nside - jp - 1).toInt
      } else {
        face = ntt + 8
        ix = jp.toInt
        iy = jm.toInt
      }
    }
    face.toLong * nside * nside + interleave2(ix, iy)
  }

  /** Spread the bits of x into even positions, y into odd. */
  private def interleave2(x: Int, y: Int): Long = {
    var out = 0L
    var i = 0
    while (i < 31) {
      out |= ((x.toLong >> i) & 1L) << (2 * i) | ((y.toLong >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }

  private def deinterleave2(k: Long): (Int, Int) = {
    var x = 0; var y = 0
    var i = 0
    while (i < 31) {
      x |= (((k >> (2 * i)) & 1L) << i).toInt
      y |= (((k >> (2 * i + 1)) & 1L) << i).toInt
      i += 1
    }
    (x, y)
  }

  /** Nested pixel center → (ra°, dec°). Inverse of [[ang2pixNest]] up
    * to pixel discretization.
    */
  def pix2angNest(nside: Int, pix: Long): (Double, Double) = {
    val nsq = nside.toLong * nside
    val face = (pix / nsq).toInt
    val (ix, iy) = deinterleave2(pix % nsq)
    // vertical index on the face grid
    val jr = jrll(face) * nside - ix - iy - 1 // ring index in 1..4nside-1
    var z = 0.0; var kshift = 0; var nr = 0L
    if (jr < nside) {
      nr = jr
      z = 1.0 - (nr * nr) / (3.0 * nsq)
      kshift = 0
    } else if (jr > 3L * nside) {
      nr = 4L * nside - jr
      z = -1.0 + (nr * nr) / (3.0 * nsq)
      kshift = 0
    } else {
      nr = nside
      z = (2L * nside - jr) * 2.0 / (3.0 * nside)
      kshift = ((jr - nside) & 1).toInt
    }
    val jp0 = (jpll(face) * nr + ix - iy + 1 + kshift) / 2
    val jp = if (jp0 > 4L * nside) jp0 - 4L * nside else if (jp0 < 1) jp0 + 4L * nside else jp0
    val phi = (jp - (kshift + 1) * 0.5) * (math.Pi / 2) / nr
    val dec = 90.0 - math.toDegrees(math.acos(math.max(-1.0, math.min(1.0, z))))
    val ra = (math.toDegrees(phi) % 360.0 + 360.0) % 360.0
    (ra, dec)
  }

  // face → ring/phi offsets (standard HEALPix tables)
  private val jrll = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4)
  private val jpll = Array(1, 3, 5, 7, 0, 2, 4, 6, 1, 3, 5, 7)

  /** Degrade a nested pixel id by k levels (nside → nside/2^k): the
    * nested index is prefix-hierarchical, so this is a shift — the
    * core of HealpixMap.with_resolution (healpix_map.py:426-510).
    */
  def degrade(pix: Long, levels: Int): Long = pix >> (2 * levels)

  /** Pixels whose center falls within `radiusDeg` + one pixel size of
    * center — the reference's inclusive disc cover (healpix.py:19-66),
    * computed by hierarchical descent rather than an exhaustive
    * 12·nside² scan, so deep nsides cost O(|result| + perimeter) per
    * query (validated equal to the exhaustive scan in PropertySpec).
    */
  def queryDisc(nside: Int, center: Region.SkyP, radiusDeg: Double): Set[Long] = {
    // selection criterion: pixel center within radius + the TRUE
    // center-to-point bound (2.5 characteristic sizes — polar pixels
    // are distorted, and one charDeg under-covers them: a pixel whose
    // far corner dips into the disc could have its center outside
    // radius + charDeg, silently dropping in-disc rows from every
    // pixel-prefiltered consumer). The factor is the same bound the
    // descent below relies on, pinned by PropertySpec's exhaustive
    // center-to-point scan.
    val target = radiusDeg + MaxCenterToPointFactor * charDeg(nside)
    // HIERARCHICAL descent over the nested 4-way hierarchy: a level-n
    // pixel is explored only if its center could still have a
    // descendant center within `target` — descendant centers lie
    // inside the pixel, whose center-to-vertex distance is safely
    // under 2.5 characteristic sizes (HEALPix pixels are distorted
    // but bounded; the factor is validated against the exhaustive
    // scan in PropertySpec). Work is O(|result| + perimeter), not
    // O(12·nside²) — deep nsides stop being a driver cost.
    val out = Set.newBuilder[Long]
    def recurse(n: Int, pix: Long): Unit = {
      val (ra, dec) = pix2angNest(n, pix)
      val d = Region.angSep(center, Region.SkyP(ra, dec))
      if (n == nside) {
        if (d <= target) out += pix
      } else if (d <= target + 2.5 * charDeg(n)) {
        var k = 0
        while (k < 4) { recurse(n * 2, pix * 4 + k); k += 1 }
      }
    }
    (0L until 12L).foreach(p => recurse(1, p))
    out.result()
  }

  /** Characteristic pixel size (degrees) at `nside`. */
  def charDeg(nside: Int): Double =
    math.toDegrees(math.sqrt(4.0 * math.Pi / npix(nside)))

  /** Upper bound on the distance from any pixel's CENTER to any point
    * inside it, in characteristic sizes — HEALPix pixels are equal-
    * area but distorted near the poles. Property-tested against a
    * random point scan (PropertySpec).
    */
  val MaxCenterToPointFactor: Double = 2.5

  /** Executor-local memo of per-pixel inclusive disc covers (≤
    * 12·nside² entries per (nside, radius) in use; each miss is one
    * hierarchical [[queryDisc]]). Returns catalyst `ArrayData` so the
    * codegen'd [[graft.plans.HealpixDiscExpr]] hands it to `explode`
    * with no per-row re-wrapping; entries are immutable and safely
    * shared across rows. Sorted for a deterministic explode order.
    */
  private val discCache = scala.collection.concurrent.TrieMap
    .empty[(Int, Long, Double), org.apache.spark.sql.catalyst.util.ArrayData]

  /** Cache ceiling: entries accumulate across every DISTINCT (nside,
    * radius) ever queried in the executor's lifetime — without a
    * bound, a long-lived service sweeping many radii grows the memo
    * until OOM. Crossing the ceiling clears the whole memo (covers
    * rebuild on demand; correctness never depends on a hit). 4M
    * entries ≈ a few hundred MB worst case.
    */
  private val DiscCacheMaxEntries = 1 << 22

  def discCoverCached(nside: Int, pix: Long, radiusDeg: Double)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    discCache.getOrElseUpdate((nside, pix, radiusDeg), {
      if (discCache.size >= DiscCacheMaxEntries) discCache.clear()
      val (cra, cdec) = pix2angNest(nside, pix)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        queryDisc(nside, Region.SkyP(cra, cdec), radiusDeg).toArray.sorted)
    })

  /** Pixel-id column: the codegen'd [[graft.plans.HealpixPixExpr]]
    * Catalyst expression (round 14 used a Scala UDF here — opaque to
    * Catalyst, boxed per row; the expression fuses into whole-stage
    * codegen like the Morton key). Stored pixel columns written by
    * earlier rounds are identical bit-for-bit (same ang2pixNest
    * kernel underneath).
    */
  def pixelColumn(nside: Int, ra: Column, dec: Column): Column =
    // explicit double casts preserve the old UDF's input coercion
    // (the expression's eval assumes doubles)
    GraftExtensions.call("graft_healpix_pix", ra.cast("double"), dec.cast("double"),
      org.apache.spark.sql.functions.lit(nside))
}
