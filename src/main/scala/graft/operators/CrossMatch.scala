package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.spatial.{Healpix, Region}
import graft.plans.GraftExtensions

/** Sky cross-match — nearest-neighbor join within an angular radius,
  * the standard multi-catalog association step (beyond the reference,
  * which has no general joins; built from its own HEALPix machinery).
  *
  * Plan shape (the spatial analog of the bucketed interval join):
  * left rows key by their own HEALPix pixel; right rows EXPLODE to
  * every pixel within the match radius of their position (queryDisc —
  * bounded fan-out, a handful of pixels at sane nside/radius); both
  * meet in an ordinary equi-join on the pixel — one shuffle,
  * AQE-skew-splittable — and the exact angular separation trims
  * boundary pixels before a per-left argmin window picks the nearest.
  * A raw theta join on angSep would be a broadcast nested loop:
  * O(|L|·|R|).
  *
  * Output: (leftId, rightId, sep_deg) — one row per left object with
  * at least one right object within `radiusDeg`.
  */
object CrossMatch {

  def nearestWithin(left: DataFrame, right: DataFrame,
                    leftId: String, rightId: String,
                    coords: (String, String),
                    radiusDeg: Double, nside: Int = 16): DataFrame = {
    val (ra, dec) = coords
    val l = left.select(col(leftId).as("__lid"),
      col(ra).as("__lra"), col(dec).as("__ldec"))
      .withColumn("__pix", Healpix.pixelColumn(nside, col("__lra"), col("__ldec")))
    // the disc cover is PER-PIXEL, not per-row: every point in a right
    // pixel shares (conservatively padded) candidate pixels, so the
    // executor-local cache bounds disc queries at 12·nside² per
    // executor regardless of rows — and each query is HIERARCHICAL
    // (O(|disc|), not O(npix)), so deep nsides stay cheap. Padding:
    // the right point can sit up to 2.5 characteristic sizes from its
    // pixel CENTER (the HEALPix polar-distortion bound — one charDeg
    // under-covers there and silently drops boundary matches), and
    // queryDisc's own inclusion criterion covers the LEFT point's
    // offset from its pixel center with the same bound; the exact
    // separation predicate trims the cover afterwards.
    val pad = Healpix.MaxCenterToPointFactor * Healpix.charDeg(nside)
    // both the pixel key and the disc cover are codegen'd expressions
    // (round 14 ran a Scala UDF here — opaque to Catalyst, boxed per
    // row); the cover memoizes per pixel exactly as before, so a hit
    // is one map lookup inside the codegen stage
    val r = right.select(col(rightId).as("__rid"),
      col(ra).as("__rra"), col(dec).as("__rdec"))
      .withColumn("__rpix",
        Healpix.pixelColumn(nside, col("__rra"), col("__rdec")))
      .withColumn("__pix", explode(
        GraftExtensions.call("graft_healpix_disc",
          col("__rpix"), lit(nside), lit(radiusDeg + pad))))
      .drop("__rpix")
    // haversine separation — THE shared expression (Region.angSepDegCol,
    // also lowered by Cone.predicate; one copy so oracle replay can
    // never drift between consumers)
    val sep = graft.spatial.Region.angSepDegCol(
      col("__lra"), col("__ldec"), col("__rra"), col("__rdec"))
    // nearest-pick ordering rounds the separation to 1e-9 deg (≈ 4 µas
    // — far below any astrometric meaning): mirror-symmetric object
    // pairs have MATHEMATICALLY equal separations that floating point
    // realizes a ulp apart, and a raw-double order would break ties
    // nondeterministically across engines/runs. Ties then resolve by
    // id.
    val w = Window.partitionBy(col("__lid"))
      .orderBy(round(col("__sep"), 9).asc, col("__rid").asc)
    l.join(r, "__pix")
      .withColumn("__sep", sep)
      .filter(col("__sep") <= lit(radiusDeg))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") === 1)
      .select(col("__lid").as(leftId), col("__rid").as(rightId),
        col("__sep").as("sep_deg"))
  }

  /** 3-D nearest-neighbor join within `radius` (halo matching across
    * catalogs/simulations): grid cells of width ≥ radius, right rows
    * explode to their 27-cell neighborhood, one equi-join on the cell
    * key, exact euclidean residual, ulp-stable argmin — same shape as
    * the sky match with the disc cover replaced by the fixed
    * neighborhood (no cache needed: the cover is O(1) by
    * construction). Output: (leftId, rightId, dist).
    */
  def nearest3dWithin(left: DataFrame, right: DataFrame,
                      leftId: String, rightId: String,
                      coords: (String, String, String),
                      radius: Double): DataFrame = {
    val (x, y, z) = coords
    val cw = radius // cell width = radius → 27 cells always cover
    def cell(c: org.apache.spark.sql.Column) = floor(c / cw).cast("long")
    // join on the raw (cx, cy, cz) triple — a packed single key would
    // overflow silently for coordinates beyond its per-axis bit budget
    val l = left.select(col(leftId).as("__lid"),
      col(x).as("__lx"), col(y).as("__ly"), col(z).as("__lz"))
      .withColumn("__cx", cell(col("__lx")))
      .withColumn("__cy", cell(col("__ly")))
      .withColumn("__cz", cell(col("__lz")))
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1)
      yield (dx, dy, dz)
    val r = right.select(col(rightId).as("__rid"),
      col(x).as("__rx"), col(y).as("__ry"), col(z).as("__rz"))
      .withColumn("__n", explode(array(offsets.map { case (dx, dy, dz) =>
        struct((cell(col("__rx")) + dx).as("cx"), (cell(col("__ry")) + dy).as("cy"),
          (cell(col("__rz")) + dz).as("cz"))
      }: _*)))
      .withColumn("__cx", col("__n.cx"))
      .withColumn("__cy", col("__n.cy"))
      .withColumn("__cz", col("__n.cz"))
      .drop("__n")
    val d2 = (col("__rx") - col("__lx")) * (col("__rx") - col("__lx")) +
      (col("__ry") - col("__ly")) * (col("__ry") - col("__ly")) +
      (col("__rz") - col("__lz")) * (col("__rz") - col("__lz"))
    val w = Window.partitionBy(col("__lid"))
      .orderBy(round(col("__dist"), 9).asc, col("__rid").asc)
    l.join(r, Seq("__cx", "__cy", "__cz"))
      .withColumn("__dist", sqrt(d2))
      .filter(col("__dist") <= lit(radius))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") === 1)
      .select(col("__lid").as(leftId), col("__rid").as(rightId),
        col("__dist").as("dist"))
  }
}
