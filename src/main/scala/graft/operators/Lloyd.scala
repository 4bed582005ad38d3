package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.plans.GraftExtensions

/** The one driver-side Lloyd loop of the k-means/ANN family. Its
  * callers:
  *  - [[Similarity.buildIvfIndex]], the production float quantizer
  *    (and through it `kmeans`, `semanticDedup` and [[TwoLevel.fit]]'s
  *    super level): seed key `xxhash64(id)`, float vectors summed as
  *    doubles, one segment;
  *  - the md5 gate twins' flat loop (`Clustering.lloydMd5` and the
  *    two-level twins' super level): seed key `md5(id)`, [[quantize]]d
  *    vectors, one segment;
  *  - the gate twins' per-super child loop
  *    (`Clustering.childLloydMd5`): [[seedPerGroup]] by super, global
  *    cell ids super·kChild + child, one segment;
  *  - the PQ gate's codebooks (`Clustering.pqTopKMd5`): one seed
  *    sliced into m subspaces, m segments of width dsub, cell ids
  *    sub·ksub + code.
  *
  * Contract:
  *  - seed: the vectors of the k rows with the smallest order key, one
  *    collect, no RNG;
  *  - step: `assign(centroids)` gives each row one cell id per segment
  *    (segment i covers vector positions [i·width, (i+1)·width), width
  *    being the centroid length), then ONE collect returns the
  *    per-(cell, pos) `sum` and `count` of the vector positions;
  *  - update, on the driver: centroid(cell)(pos mod width) = sum/count;
  *    a cell no row chose keeps its centroid.
  *
  * On quantized (integer-valued) vectors every sum is exact, so the
  * centroids do not depend on the aggregation order — the gate twins'
  * replayability. The float path's sums depend on that order, which
  * is why a one-segment step keeps the plain (cell, pos) grouping.
  */
private[operators] object Lloyd {

  private val Doubles = ArrayType(DoubleType)

  /** The centroid matrix as ONE plan literal (array<array<double>>) —
    * a nested-`lit` build plants k×dim Literal nodes, which at
    * auto-tuned cluster counts blew analysis/codegen up. */
  private def matrix(cents: Array[Array[Double]]): Column =
    typedlit[Seq[Seq[Double]]](cents.map(_.toSeq).toSeq)

  /** Argmin cell of `v` against `cents` (fused `graft_nearest_cell`;
    * sequential left-to-right distance sums, ties to the lowest cell). */
  def nearestCell(v: Column, cents: Array[Array[Double]]): Column =
    GraftExtensions.call("graft_nearest_cell", v, matrix(cents))

  /** Squared-L2 distances of `v` to every centroid (`graft_cell_dists`). */
  def cellDists(v: Column, cents: Array[Array[Double]]): Column =
    GraftExtensions.call("graft_cell_dists", v, matrix(cents))

  /** The gate twins' integer quantization: round(x·scale) per element,
    * exact in doubles, so every Lloyd sum over it is exact. */
  def quantize(v: Column, scale: Int): Column =
    transform(v, x => round(x.cast("double") * scale))

  /** The vectors of the `k` rows of `df` with the smallest `key`
    * (fewer if `df` has fewer rows), in key order. */
  def seed(df: DataFrame, vec: Column, key: Column, k: Int): Array[Array[Double]] =
    df.orderBy(key).limit(k).select(vec.cast(Doubles)).collect().map(doubles(_, 0))

  /** [[seed]] within each `group` value in `0 until groups`:
    * `seeds(g)` holds group g's seed vectors in key order, fewer than
    * `k` when the group has fewer rows. */
  def seedPerGroup(df: DataFrame, group: Column, groups: Int, vec: Column,
                   key: Column, k: Int): Array[Array[Array[Double]]] = {
    val rows = df
      .withColumn("__rk", row_number().over(Window.partitionBy(group).orderBy(key)))
      .filter(col("__rk") <= k)
      .select(group, col("__rk"), vec.cast(Doubles)).collect()
    Array.tabulate(groups)(g =>
      rows.filter(_.getInt(0) == g).sortBy(_.getInt(1)).map(doubles(_, 2)))
  }

  /** The flat form: [[seed]] by `key`, then `iters` steps that assign
    * each row its [[nearestCell]]. */
  def flat(df: DataFrame, vec: Column, key: Column, k: Int,
           iters: Int): Array[Array[Double]] =
    run(df, vec, seed(df, vec, key, k), iters)(cents => Seq(nearestCell(vec, cents)))

  /** `iters` Lloyd steps from `init` (ids no row can take may hold
    * null); `assign` builds the per-segment cell columns against the
    * current centroids. */
  def run(df: DataFrame, vec: Column, init: Array[Array[Double]], iters: Int)
         (assign: Array[Array[Double]] => Seq[Column]): Array[Array[Double]] = {
    val width = init.find(_ != null).fold(0)(_.length)
    (0 until iters).foldLeft(init)((cents, _) =>
      update(cents, stepSums(df, vec, assign(cents), width)))
  }

  /** One step's (cell, pos, sum, count) rows, one collect. */
  private def stepSums(df: DataFrame, vec: Column, cells: Seq[Column],
                       width: Int): Array[Row] = {
    val one = cells.size == 1
    val cell =
      if (one) col("__cells")
      else element_at(col("__cells"), (col("__pos") / width).cast("int") + 1)
    df.withColumn("__cells", if (one) cells.head else array(cells: _*))
      .select(col("__cells"), posexplode(vec).as(Seq("__pos", "__v")))
      .groupBy(cell.as("__cell"), col("__pos"))
      .agg(sum(col("__v").cast("double")).as("__s"), count(lit(1)).as("__n"))
      .collect()
  }

  /** The update rule: centroid(cell)(pos mod width) = s/n; a cell
    * with no rows keeps its centroid. */
  private def update(cents: Array[Array[Double]],
                     sums: Array[Row]): Array[Array[Double]] = {
    val byCell = sums.groupBy(_.getInt(0))
    Array.tabulate(cents.length)(cell => byCell.get(cell).fold(cents(cell)) { rows =>
      val c = new Array[Double](cents(cell).length)
      rows.foreach(r => c(r.getInt(1) % c.length) = r.getDouble(2) / r.getLong(3))
      c
    })
  }

  private def doubles(r: Row, i: Int): Array[Double] = r.getSeq[Double](i).toArray
}
