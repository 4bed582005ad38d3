package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DiskSnapshot

import graft.functions.TextFunctions
import graft.plans.GraftExtensions

/** Trained quality classifier for corpus filtering — the
  * fastText-shaped hashed-bag-of-words logistic regression that LLM
  * data pipelines train on weak labels (CCNet / GPT-3-style quality
  * filtering; public method). The reference has no classifier
  * surface; this completes the quality tier next to the heuristic
  * signals (TextKernels) and naive Bayes (CorpusStats).
  *
  * Designed to be REPRODUCIBLE BY CONSTRUCTION, which is what makes
  * distributed training both testable and oracle-replayable:
  *
  *   - features: token → md5-bucket (mod dim), x_j = bucket count /
  *     token count — map-side hashing, no vocabulary materialization
  *     (the [[TextFunctions.hashEmbeddingsMd5]] bucket rule).
  *   - squash: the RATIONAL sigmoid σ̃(s) = 0.5 + s / (2·(1+|s|)) —
  *     pure +, ×, ÷, |·| arithmetic. Every step is an IEEE-754
  *     correctly-rounded operation and therefore engine-independent;
  *     libm exp() (the logistic sigmoid) is not.
  *   - the two cross-row reductions (per-document score over feature
  *     terms, per-feature gradient over documents) accumulate
  *     NANO-FIXED-POINT LONGS (floor(v·1e9 + 0.5), summed exactly),
  *     so the sums are EXACT and run-order-invariant: training
  *     produces bit-identical weights across partitionings, cluster
  *     sizes, and the DuckDB oracle. A float gradient sum depends on
  *     reduction order — training that cannot reproduce cannot be
  *     regression-tested. The 1e-9 quantum is far below any
  *     gradient-scale signal; it is a determinism device, not a
  *     precision trade.
  *
  * 100 TB shape: the slim dense feature frame (doc, y, xs[dim]) is
  * built with one shuffle and disk-snapshotted once; each GD
  * iteration is then ONE map-side pass + a (dim+2)-long global
  * reduce — no join, no per-iteration shuffle (the kmeans driver-led
  * loop shape). The weight vector (dim ≤ 1024) lives on the driver
  * between iterations and ships as literals. Capacity contract: each
  * per-row fixed-point term is ≤ 1e9 in magnitude, so the long
  * gradient sums hold exactly to ~9.2e9 training rows (2⁶³/1e9) —
  * past that, train on a sample or shard the gradient pass; a
  * trillion-doc corpus does not need every row in one full-batch
  * gradient anyway.
  */
object Classifier {

  /** Trained model: `weights(j)` pairs with md5-bucket j; `bias` is
    * the intercept. Score with [[scoreLogistic]].
    */
  final case class LogisticModel(weights: Array[Double], bias: Double) {
    def dim: Int = weights.length
  }

  private val Q = 1e9

  /** Dense hashed features: (doc, [y,] xs array<double> of length
    * dim). Rows with null text — and, when a label is extracted,
    * null label — are EXCLUDED (a null would silently vanish from
    * the gradient sums instead of failing loudly). Every non-null
    * text has ≥ 1 whitespace token, so no doc degenerates to an
    * empty feature row.
    */
  private def denseFeatures(df: DataFrame, idCol: String, textCol: String,
                            label: Option[Column], dim: Int): DataFrame = {
    val base0 = df.filter(col(textCol).isNotNull)
    val base = label match {
      case Some(y) => base0.select(col(idCol).as("doc"),
        y.cast("double").as("y"), col(textCol).as("__text"))
        .filter(col("y").isNotNull)
      case None => base0.select(col(idCol).as("doc"), col(textCol).as("__text"))
    }
    val keyCols = if (label.isDefined) Seq(col("doc"), col("y")) else Seq(col("doc"))
    // ONE map-side codegen kernel per row (plans/Md5Kernels.scala):
    // the md5-bucket counts over the row's own tokens, bit-identical
    // to the former explode → two-groupBy chain (Md5KernelsSpec pins
    // the equality) — both per-document Exchanges removed outright
    // (guide §2.4: a bag-of-words histogram never needed a shuffle).
    // spread: the kernel is the whole map stage (one-split gate corpora
    // would hash on one core; a real corpus never takes the shuffle)
    graft.Tables.spreadDf(base).select(keyCols :+
        TextFunctions.tokenCount(col("__text")).as("n") :+
        GraftExtensions.call("graft_md5_bucket_counts",
          TextFunctions.tokens(col("__text")), lit(dim)).as("cs"): _*)
      .select(keyCols :+
        transform(col("cs"), c => c.cast("double") / col("n")).as("xs"): _*)
  }

  /** Exact nano-fixed-point score sum Σ_j floor(w_j·x_j·1e9 + 0.5)
    * as a long — order-invariant by exactness, identical in SQL. */
  private def score9(xsCol: Column, w: Array[Double]): Column =
    aggregate(
      zip_with(xsCol, array(w.map(lit(_)).toIndexedSeq: _*),
        (x, wj) => floor(x * wj * lit(Q) + lit(0.5))),
      lit(0L), (a, v) => a + v)

  /** σ̃(s) − y for s = s9/1e9 + b. */
  private def errCol(s: Column, y: Column): Column =
    lit(0.5) + s / (lit(2.0) * (lit(1.0) + abs(s))) - y

  /** The GD loop over a SNAPSHOTTED labeled dense frame (y, xs). */
  private def trainOnDense(dense: DataFrame, dim: Int, iters: Int,
                           rate: Double): LogisticModel = {
    val w = Array.fill(dim)(0.0)
    var b = 0.0
    var it = 0
    while (it < iters) {
      val s = score9(col("xs"), w).cast("double") / lit(Q) + lit(b)
      val scored = dense.select(col("y"), col("xs"), errCol(s, col("y")).as("err"))
      val aggs = (0 until dim).map(j =>
        sum(floor(col("err") * element_at(col("xs"), j + 1) * lit(Q) + lit(0.5)))
          .as(s"g$j")) ++ Seq(
        sum(floor(col("err") * lit(Q) + lit(0.5))).as("gb"),
        count(lit(1)).as("n"))
      val r = scored.agg(aggs.head, aggs.tail: _*).first()
      val n = r.getLong(dim + 1)
      require(n > 0, "trainLogistic: no trainable rows " +
        "(every row has a null text or a null label)")
      var j = 0
      while (j < dim) {
        w(j) -= rate * (r.getLong(j).toDouble / (Q * n)); j += 1
      }
      b -= rate * (r.getLong(dim).toDouble / (Q * n))
      it += 1
    }
    LogisticModel(w, b)
  }

  /** Full-batch gradient-descent training. `label` must evaluate to
    * a 0/1 (or boolean) column; rows where it is null are excluded.
    * Weights start at zero; `iters` full passes at step `rate`.
    */
  def trainLogistic(df: DataFrame, idCol: String, textCol: String,
                    label: Column, dim: Int = 32, iters: Int = 3,
                    rate: Double = 1.0): LogisticModel = {
    require(dim >= 1 && dim <= 1024, s"dim $dim outside [1, 1024]")
    require(iters >= 1 && iters <= 100, s"iters $iters outside [1, 100]")
    val dense = DiskSnapshot.diskCached(
      denseFeatures(df, idCol, textCol, Some(label), dim))
    try trainOnDense(dense, dim, iters, rate)
    finally DiskSnapshot.release(dense)
  }

  /** Train and score in one go — the deployed filter shape. The
    * EXPENSIVE feature build (token explode + two slim shuffles) runs
    * ONCE: the unlabeled dense frame is snapshotted, labels join onto
    * it for the training slice (rows with a null label train nothing
    * but still score), and the returned (idCol, score) frame reads
    * the same snapshot. Equivalent to trainLogistic + scoreLogistic
    * (spec-pinned) at half the feature-build cost. The snapshot
    * backing the returned frame is ContextCleaner-reaped with it.
    */
  def trainAndScore(df: DataFrame, idCol: String, textCol: String,
                    label: Column, dim: Int = 32, iters: Int = 3,
                    rate: Double = 1.0): DataFrame = {
    require(dim >= 1 && dim <= 1024, s"dim $dim outside [1, 1024]")
    require(iters >= 1 && iters <= 100, s"iters $iters outside [1, 100]")
    val dense = DiskSnapshot.diskCached(
      denseFeatures(df, idCol, textCol, None, dim))
    val labels = df.select(col(idCol).as("doc"), label.cast("double").as("y"))
      .filter(col("y").isNotNull)
    val labeled = DiskSnapshot.diskCached(
      dense.join(labels, "doc").select(col("y"), col("xs")))
    val model =
      try trainOnDense(labeled, dim, iters, rate)
      finally DiskSnapshot.release(labeled)
    val s = score9(col("xs"), model.weights).cast("double") / lit(Q) +
      lit(model.bias)
    dense.select(col("doc").as(idCol),
      (lit(0.5) + s / (lit(2.0) * (lit(1.0) + abs(s)))).as("score"))
  }

  /** Score a corpus with a trained model: (idCol, score) where score
    * is the rational-sigmoid probability-like output in (0, 1) —
    * exactly the training-time forward pass, so train-set scores are
    * reproducible too. One shuffle (the feature build), map-only
    * after.
    */
  def scoreLogistic(df: DataFrame, idCol: String, textCol: String,
                    model: LogisticModel): DataFrame = {
    val dense = denseFeatures(df, idCol, textCol, None, model.dim)
    val s = score9(col("xs"), model.weights).cast("double") / lit(Q) +
      lit(model.bias)
    dense.select(col("doc").as(idCol),
      (lit(0.5) + s / (lit(2.0) * (lit(1.0) + abs(s)))).as("score"))
  }

  /** The model as rows (feat, weight): feat 0..dim-1, plus feat = -1
    * for the bias — the gate/export shape.
    */
  def modelToDF(spark: SparkSession, model: LogisticModel): DataFrame = {
    import spark.implicits._
    (model.weights.zipWithIndex.map { case (wv, j) => (j, wv) }.toSeq :+
      (-1, model.bias)).toDF("feat", "weight")
  }
}
