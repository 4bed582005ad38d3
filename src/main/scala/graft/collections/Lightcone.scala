package graft.collections

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Header, OCDataset}
import graft.expr.OCMask

/** Lightcone: per-redshift-step datasets presented as one table
  * (reference python/opencosmo/collection/lightcone/lightcone.py:75 —
  * SURVEY.md §1.1, §2.9).
  *
  * Spark mapping: `unionByName` over the step frames with a `step`
  * column. `withRedshiftRange` drops whole steps BEFORE the union
  * (the reference's step-level pruning, lightcone.py:516-545); written
  * `partitionBy("step")`, the same pruning happens at the storage
  * layer on re-read. Cross-step expressions (the reference's
  * Lightcone "scope" machinery, scope.py:16-321) dissolve: any
  * expression over the unioned frame already spans steps.
  */
final case class Lightcone(steps: Map[Int, OCDataset]) {
  require(steps.nonEmpty, "empty lightcone")

  /** Redshift coverage per step, from each step's header. */
  def stepRedshifts: Map[Int, Double] =
    steps.map { case (s, d) => s -> d.header.redshift }

  /** The unioned view with a `step` column. The carried header is the
    * LOWEST step's (deterministic — `steps.head` on an unordered Map
    * would pick an arbitrary step's redshift, and a later
    * convention switch would then scale every row by that one step's
    * scale factor). A union spans redshifts, so apply per-step
    * conversions via [[map]] BEFORE unioning when a/z matters.
    */
  def toDataset: OCDataset = {
    val ordered = steps.toSeq.sortBy(_._1)
    val frames = ordered.map { case (s, d) => d.df.withColumn("step", lit(s)) }
    val df = frames.reduce(_.unionByName(_))
    OCDataset(df, ordered.head._2.header.copy(isLightcone = true))
  }

  /** Keep only steps whose redshift lies in [zMin, zMax] — whole-step
    * (partition-level) pruning before any row is read.
    */
  def withRedshiftRange(zMin: Double, zMax: Double): Lightcone = {
    val kept = steps.filter { case (_, d) =>
      d.header.redshift >= zMin && d.header.redshift <= zMax
    }
    require(kept.nonEmpty, s"no steps in z range [$zMin,$zMax]")
    Lightcone(kept)
  }

  /** Broadcast a per-step transformation (reference __map pattern). */
  def map(f: OCDataset => OCDataset): Lightcone =
    Lightcone(steps.map { case (s, d) => s -> f(d) })

  def filter(masks: OCMask*): Lightcone = map(_.filter(masks: _*))

  /** Sky-region restriction on every step (reference
    * Lightcone.cone_search / box_search, lightcone.py:654-745) — the
    * predicate is broadcast per step so step-level pruning
    * (withRedshiftRange, partitionBy("step") on disk) still applies
    * BEFORE any row is touched.
    */
  def boundSky(region: graft.spatial.Region.SkyRegion,
               coords: (String, String) = ("ra", "dec")): Lightcone =
    map(_.boundSky(region, coords))

  def coneSearch(center: graft.spatial.Region.SkyP, radiusDeg: Double,
                 coords: (String, String) = ("ra", "dec")): Lightcone =
    boundSky(graft.spatial.Region.Cone(center, radiusDeg), coords)

  def boxSearch(raMin: Double, raMax: Double, decMin: Double, decMax: Double,
                coords: (String, String) = ("ra", "dec")): Lightcone =
    boundSky(graft.spatial.Region.Skybox(raMin, raMax, decMin, decMax), coords)

  /** Cross-step object identity (reference handler.py:95-114
    * build_lightcone_index): a global `object_id` derived from the
    * object's natural key — content-keyed (xxhash64), so the SAME
    * object hashes to the SAME id in every step with zero
    * coordination, where the reference intersects per-step row
    * indices. Map-side only; survives unions, filters, and writes.
    */
  def withObjectId(naturalKey: Seq[String],
                   idCol: String = "object_id"): Lightcone =
    map(d => d.copy(df = d.df.withColumn(idCol,
      xxhash64(naturalKey.map(col): _*))))

  /** Unioned view carrying each row's step AND step redshift (the
    * per-step header value as an ordinary column — what cross-step
    * history queries group over).
    */
  def toDatasetWithRedshift: OCDataset = {
    val ordered = steps.toSeq.sortBy(_._1)
    val frames = ordered.map { case (s, d) =>
      d.df.withColumn("step", lit(s))
        .withColumn("redshift", lit(d.header.redshift))
    }
    OCDataset(frames.reduce(_.unionByName(_)),
      ordered.head._2.header.copy(isLightcone = true))
  }

  /** Per-object history across steps: one row per object with its
    * step span and redshift range — one hash-agg shuffle over the
    * union (partial aggregation per step file at scale).
    */
  def objectHistory(idCols: Seq[String]): org.apache.spark.sql.DataFrame =
    toDatasetWithRedshift.df
      .groupBy(idCols.map(col): _*)
      .agg(
        countDistinct(col("step")).as("n_steps"),
        // named for what they ARE: along a lightcone the EARLIEST
        // appearance is the highest redshift, so "first/last" naming
        // inverted the reading
        min(col("redshift")).as("z_min"),
        max(col("redshift")).as("z_max"))
}

/** HEALPix sky-map dataset (reference healpix_map.py:93): rows are
  * (pixel, value…) at some nside. `withResolution` degrades to a
  * coarser nside — nested pixel ids are prefix-hierarchical, so the
  * regroup key is a shift (reference groups via np.add.reduceat;
  * Spark: one hash-agg shuffle).
  */
final case class HealpixMap(df: DataFrame, nside: Int,
                            pixelCol: String = "pixel") {

  def withResolution(newNside: Int): HealpixMap = {
    require(newNside <= nside && nside % newNside == 0,
      s"can only degrade: $nside -> $newNside")
    val levels = (math.log(nside.toDouble / newNside) / math.log(2)).round.toInt
    val valueCols = df.columns.filter(_ != pixelCol)
    val aggs = valueCols.map(c => avg(col(c)).as(c))
    val out = df.groupBy(shiftright(col(pixelCol), 2 * levels).as(pixelCol))
      .agg(aggs.head, aggs.tail.toSeq: _*)
    HealpixMap(out, newNside, pixelCol)
  }

  /** Weighted resolution degrade: per-layer weighted mean using the
    * typed [[graft.functions.WeightedMean]] Aggregator (partial+final
    * like any built-in) — e.g. hit-count or pixel-area weights.
    */
  def withResolutionWeighted(newNside: Int, weightCol: String): HealpixMap = {
    require(newNside <= nside && nside % newNside == 0,
      s"can only degrade: $nside -> $newNside")
    val levels = (math.log(nside.toDouble / newNside) / math.log(2)).round.toInt
    val wm = org.apache.spark.sql.functions.udaf(graft.functions.WeightedMean)
    val valueCols = df.columns.filter(c => c != pixelCol && c != weightCol)
    // the weights SUM into the output so the degrade is associative:
    // degrading 256->64->32 equals 256->32 (weighted mean of weighted
    // means with summed weights), and the result can be re-degraded
    val aggs = valueCols.map(c => wm(col(c), col(weightCol)).as(c)) :+
      sum(col(weightCol)).as(weightCol)
    val out = df.groupBy(shiftright(col(pixelCol), 2 * levels).as(pixelCol))
      .agg(aggs.head, aggs.tail.toSeq: _*)
    HealpixMap(out, newNside, pixelCol)
  }

  /** Restrict to pixels inside a disc (cone) on the sky. */
  def query(center: graft.spatial.Region.SkyP, radiusDeg: Double): HealpixMap = {
    val pix = graft.spatial.Healpix.queryDisc(nside, center, radiusDeg)
    copy(df = df.filter(col(pixelCol).isin(pix.toSeq: _*)))
  }
}

object HealpixMap {
  /** Build a map FROM a point catalog (the reference's map-making
    * path): each row's (ra, dec) pixelizes at `nside` (nested), values
    * aggregate per pixel — counts plus the mean of each `valueCols`.
    * One hash-agg shuffle on the pixel.
    */
  def fromPoints(df: DataFrame, coords: (String, String), nside: Int,
                 valueCols: Seq[String] = Nil): HealpixMap = {
    val (ra, dec) = coords
    val pix = graft.spatial.Healpix.pixelColumn(nside, col(ra), col(dec))
    val aggs = count(lit(1)).as("n_obj") +:
      valueCols.map(c => avg(col(c)).as(c))
    HealpixMap(
      df.withColumn("pixel", pix).groupBy(col("pixel"))
        .agg(aggs.head, aggs.tail: _*),
      nside)
  }
}

/** Named datasets with broadcast combinators (reference
  * simulation.py:32 — `__map` at :75).
  */
final case class SimulationCollection(members: Map[String, OCDataset]) {
  def map(f: OCDataset => OCDataset): SimulationCollection =
    SimulationCollection(members.map { case (k, d) => k -> f(d) })
  def filter(masks: OCMask*): SimulationCollection = map(_.filter(masks: _*))
  def apply(name: String): OCDataset = members(name)
}
