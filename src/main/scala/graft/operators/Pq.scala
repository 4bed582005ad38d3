package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.GraftExtensions

/** Product quantization for memory-bound ANN at corpus scale (public
  * method: Jégou, Douze, Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011).
  *
  * A D-dim float vector (D·4 bytes) compresses to M subspace codeword
  * ids (M bytes at ksub=256) — 32× smaller for D=64, M=8 — so a
  * 100 TB embedding corpus's codes fit the page cache of a modest
  * cluster. Distances are computed ASYMMETRICALLY (ADC): the query
  * builds one (M × ksub) lookup table of exact subspace distances,
  * and each corpus row's approximate distance is M table lookups.
  *
  * Spark shape — the asymmetry maps onto the data sizes:
  *   - codebook TRAINING runs driver-side k-means on a deterministic
  *     bounded sample (the published procedure: codebooks train on
  *     ~10⁴-10⁵ vectors regardless of corpus size);
  *   - ENCODING is one map-side pass (broadcast codebook);
  *   - each query's ADC TABLE is computed on the (small) query side;
  *   - SCORING — the only per-corpus-row work — is pure builtin
  *     `aggregate`/`element_at` arithmetic, fully inside whole-stage
  *     codegen; the corpus never shuffles and never materializes the
  *     original vectors;
  *   - optional exact RE-RANK joins the raw vectors back for the top
  *     `rerank` PQ candidates only.
  */
object Pq {

  /** Trained codebook: centers(m)(k) is the ksub-entry codeword table
    * of subspace m, each of width dim/m.
    */
  final case class PqCodebook(dim: Int, m: Int, ksub: Int,
                              centers: Array[Array[Array[Float]]]) {
    def dsub: Int = dim / m
  }

  /** Train per-subspace codebooks with local k-means over a
    * deterministic sample (`xxhash64(id)` order — stable across runs).
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int = 8, ksub: Int = 16,
            sampleN: Int = 10000, iters: Int = 8): PqCodebook = {
    val sample = corpus
      .withColumn("__h", xxhash64(col(idCol)))
      .orderBy(col("__h")).limit(sampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val centers = Array.tabulate(m) { sub =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      kmeans(pts, math.min(ksub, pts.length), iters)
    }
    PqCodebook(dim, m, ksub, centers)
  }

  /** Plain Lloyd k-means, deterministic init (first k distinct-ish
    * points). Runs on ≤ sampleN points per subspace — driver-trivial.
    */
  private def kmeans(pts: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    var cents = pts.take(k).map(_.clone)
    val d = pts.head.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        val c = nearest(cents, p)
        counts(c) += 1
        var i = 0
        while (i < d) { sums(c)(i) += p(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(d)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    cents
  }

  private def nearest(cents: Array[Array[Float]], p: Array[Float]): Int = {
    var best = 0; var bd = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var s = 0.0; var i = 0
      while (i < p.length) { val t = cents(c)(i) - p(i); s += t * t; i += 1 }
      if (s < bd) { bd = s; best = c }
      c += 1
    }
    best
  }

  /** Encode vectors to their per-subspace codeword ids (one map-side
    * pass; the broadcast codebook is KBs). This is the build step — a
    * persisted PQ corpus is (id, pq_code), 4·M bytes a row.
    */
  def encode(df: DataFrame, vecCol: String, cb: PqCodebook,
             outCol: String = "pq_code"): DataFrame = {
    // codegen'd kernel over a flat [sub][k][i] codeword literal (KBs)
    // — the round-14 UDF boxed every corpus vector to Seq[Float] and
    // copied each subspace slice per row; same nearest-codeword
    // semantics (strict <, lowest index on ties)
    val ksub = cb.centers.head.length
    require(cb.centers.forall(_.length == ksub),
      "subspace codebooks must be uniform")
    val flat: Array[Float] = cb.centers.flatMap(_.flatten)
    df.withColumn(outCol, GraftExtensions.call("graft_pq_encode", col(vecCol),
      lit(flat), lit(cb.m), lit(cb.dsub), lit(ksub)))
  }

  /** ADC distance table of one query vector: flat (m·ksub) floats,
    * entry m·ksub+k = ‖q_sub(m) − center(m)(k)‖². Runs on the QUERY
    * side only.
    */
  private def adcTable(cb: PqCodebook)(q: Array[Float]): Array[Float] = {
    val out = new Array[Float](cb.m * cb.ksub)
    var sub = 0
    while (sub < cb.m) {
      var k = 0
      while (k < cb.centers(sub).length) {
        var s = 0.0; var i = 0
        while (i < cb.dsub) {
          val t = q(sub * cb.dsub + i) - cb.centers(sub)(k)(i)
          s += t * t; i += 1
        }
        out(sub * cb.ksub + k) = s.toFloat
        k += 1
      }
      sub += 1
    }
    out
  }

  /** IVF-PQ (the FAISS-style composition): the IVF coarse quantizer
    * prunes to `nprobe` cells per query, PQ codes score the survivors
    * by ADC, exact cosine reranks the top pool. The corpus is touched
    * only in the probed cells, reads only (id, cell, code) — with a
    * `partitionBy(cell)` layout that is partition-pruned compressed
    * I/O, the full memory-bound ANN story at 100 TB.
    * `encodedCells`: (idCol, cell, codeCol) from [[encode]] over
    * `ivf.cells`.
    */
  def ivfPqTopK(ivf: Similarity.IvfIndex, cb: PqCodebook,
                encodedCells: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nprobe: Int = 4, rerank: Int = 0,
                rawCorpus: Option[DataFrame] = None,
                codeCol: String = "pq_code"): DataFrame = {
    val q = withAdcTables(queries, idCol, vecCol, cb)
      .withColumn("__d", Lloyd.cellDists(col("qv"), ivf.centroids))
      .withColumn("probe", Similarity.nearestCells(col("__d"), ivf.nlist, nprobe))
      .select(col("query_id"), col("qv"), col("__tab"),
        col("probe.cell").as("cell"))
    val scored = encodedCells
      .select(col(idCol).as("neighbor_id"), col("cell"), col(codeCol))
      .join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc(cb, codeCol))
    rankAndRerank(scored, idCol, vecCol, k, rerank, rawCorpus)
  }

  /** Approximate top-k by ADC over an encoded corpus, with optional
    * exact cosine re-rank of the top `rerank` PQ candidates (join back
    * to the raw vectors — the standard recall-recovery step).
    * Output: (query_id, neighbor_id, rank).
    */
  def topK(encoded: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, cb: PqCodebook, k: Int,
           rerank: Int = 0, rawCorpus: Option[DataFrame] = None,
           codeCol: String = "pq_code"): DataFrame = {
    // queries (with tables) broadcast, corpus never shuffles
    val scored = encoded
      .select(col(idCol).as("neighbor_id"), col(codeCol))
      .crossJoin(broadcast(withAdcTables(queries, idCol, vecCol, cb)))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc(cb, codeCol))
    rankAndRerank(scored, idCol, vecCol, k, rerank, rawCorpus)
  }

  /** (query_id, qv, `__tab`): each query with its ADC table. */
  private def withAdcTables(queries: DataFrame, idCol: String, vecCol: String,
                            cb: PqCodebook): DataFrame = {
    val b = queries.sparkSession.sparkContext.broadcast(cb)
    val tableUdf = udf { (v: scala.collection.Seq[Float]) =>
      adcTable(b.value)(v.toArray)
    }
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__tab", tableUdf(col("qv")))
  }

  /** Corpus-side ADC score of `codeCol` against `__tab`: M element_at
    * lookups + a sum — all builtin, codegen'd. */
  private def adc(cb: PqCodebook, codeCol: String): Column =
    aggregate(zip_with(col(codeCol), sequence(lit(0), lit(cb.m - 1)),
        (c, sub) => element_at(col("__tab"), sub * cb.ksub + c + lit(1))),
      lit(0.0f), (acc, v) => acc + v)

  /** Shared rank + optional exact-rerank tail of [[topK]] and
    * [[ivfPqTopK]] — ONE copy, so a guard or ordering fix cannot
    * silently miss a twin. `scored` carries (query_id, neighbor_id,
    * qv, adc).
    */
  private def rankAndRerank(scored: DataFrame, idCol: String, vecCol: String,
                            k: Int, rerank: Int,
                            rawCorpus: Option[DataFrame]): DataFrame = {
    // an undersized rerank pool would silently return FEWER than k
    // neighbors per query (the pool caps candidates before the final
    // rank <= k filter) — same guard CompressedAnn.probe carries
    require(rerank <= 0 || rerank >= k,
      s"rerank pool $rerank < k=$k would silently return fewer than k neighbors")
    val preK = if (rerank > 0) rerank else k
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id"))
    val cand = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= preK)
    if (rerank <= 0) cand.select(col("query_id"), col("neighbor_id"), col("rank"))
    else {
      val raw = rawCorpus.getOrElse(throw new IllegalArgumentException(
        "rerank needs rawCorpus")).select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv"))
      Similarity.topKByCosine(
          cand.select(col("query_id"), col("neighbor_id"), col("qv")).join(raw, "neighbor_id"),
          col("qv"), col("cv"), k)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }
  }
}
