package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DiskSnapshot

/** Two-level coarse quantizer: the scale path past the flat-argmin
  * centroid-literal ceiling ([[Similarity.MaxAutoClusters]] — the
  * centroid matrix rides in the plan as ONE driver-sized Literal, so a
  * flat quantizer caps at ~16384 cells / ~1M auto-k vectors per fitted
  * batch, which a 100 TB embedding corpus hits immediately).
  *
  * Structure: `kSuper ≈ √k` SUPER-centroids stay a plan literal
  * (map-side argmin, same fused kernel as the flat path), and each
  * super-cell owns `kChild ≈ k/kSuper` CHILD centroids that live in a
  * small (super → child-matrix) DataFrame — k total cells with no
  * single O(k·dim) literal anywhere. Assignment is super-argmin
  * (literal) → join the super's child matrix → child-argmin
  * (`graft_nearest_cell` runs on the JOINED matrix column — the kernel
  * is not literal-only) → `cell = super·kChild + child`.
  *
  * Shuffle discipline: the child table is k rows of dim doubles —
  * BROADCAST-joined while `k·dim·8 B` stays under
  * [[TwoLevel.BroadcastMatBytes]] (the corpus never shuffles), and a
  * plain shuffle join on the super key past it (one corpus shuffle —
  * the documented trade at extreme k, still no driver-sized literal).
  * Training is fully distributed: each Lloyd step is one
  * (super, child, pos) partial-sum shuffle and one k-row regroup;
  * nothing O(k·dim) is ever collected to the driver (the flat path's
  * driver Lloyd collect is exactly what stops scaling past ~1M cells
  * × dims).
  */
object TwoLevel {

  /** Broadcast ceiling for the child-centroid table: past this the
    * assignment join degrades gracefully to a shuffle join on the
    * super key instead of OOMing every executor with a giant
    * broadcast. 64 MiB ≈ k=131072 at dim 64. Overridable per session
    * via `spark.graft.twolevel.broadcastBytes` (the spec drives the
    * fallback path through it — the default ceiling is unreachable at
    * test scale).
    */
  val BroadcastMatBytes: Long = 64L << 20

  private[graft] def broadcastBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.twolevel.broadcastBytes")
      .map(_.toLong).getOrElse(BroadcastMatBytes)

  /** Hard cap on requested k: kSuper and kChild each stay under the
    * flat literal ceiling, so k ≤ 16384² — far past any per-batch
    * corpus this engine will see (at 64 rows/cell that is ~17 B
    * vectors per fitted batch).
    */
  val MaxClusters: Long =
    Similarity.MaxAutoClusters.toLong * Similarity.MaxAutoClusters

  /** A fitted two-level quantizer. `children` is the (super, child,
    * ctr) table (k small rows, a DiskSnapshot); `superCentroids`
    * is the only driver-side matrix (kSuper × dim).
    */
  final case class TwoLevelQuantizer(superCentroids: Array[Array[Double]],
                                     children: DataFrame,
                                     kChild: Int) {
    def kSuper: Int = superCentroids.length
    def k: Int = kSuper * kChild
    private def dim: Int = superCentroids.headOption.map(_.length).getOrElse(0)
    private[operators] def matBytes: Long = k.toLong * dim * 8

    /** (super → ordered child matrix), the join side of assignment.
      * Child ids are contiguous 0..n-1 per super (init makes them so,
      * Lloyd preserves them), so position in the sorted matrix IS the
      * child id.
      */
    private[operators] def childMats: DataFrame = childMatsOf(children)

    /** Assign every row of `df` its global cell id. Adds `cellCol`
      * (default "cell"); the input columns pass through. Rows landing
      * in a super-cell with no children (possible only for data the
      * quantizer was not fitted on) take child 0.
      */
    def assign(df: DataFrame, vecCol: String,
               cellCol: String = "cell"): DataFrame = {
      graft.plans.GraftExtensions.registerAll(df.sparkSession)
      // internal columns ride a reserved __tl_ prefix END TO END: a
      // caller frame already carrying a "super" or "mat" column would
      // otherwise make the join condition ambiguous (or the final
      // drop would silently delete the caller's column)
      val mats = childMats.select(
        col("super").as("__tl_s2"), col("mat").as("__tl_mat"))
      val withSuper = df.withColumn("__tl_super",
        Lloyd.nearestCell(col(vecCol), superCentroids))
      val joined =
        if (matBytes <= broadcastBytes(df.sparkSession))
          withSuper.join(broadcast(mats), col("__tl_super") === col("__tl_s2"), "left")
        else withSuper.join(mats, col("__tl_super") === col("__tl_s2"), "left")
      joined.withColumn(cellCol,
          col("__tl_super") * kChild + coalesce(
            call_function("graft_nearest_cell", col(vecCol), col("__tl_mat")), lit(0)))
        .drop("__tl_super", "__tl_s2", "__tl_mat")
    }

    /** Frees the children snapshot chain now, down to the level-1
      * assignment of [[fit]] that the chain was built from. */
    def unpersist(): Unit = DiskSnapshot.release(children)
  }

  /** (super, child, ctr) rows → (super → child matrix ordered by
    * child id) — the single definition of the position-is-child-id
    * contract that both assignment and Lloyd training join against.
    */
  private def childMatsOf(children: DataFrame): DataFrame =
    children.groupBy(col("super"))
      .agg(transform(
        array_sort(collect_list(struct(col("child"), col("ctr")))),
        x => x.getField("ctr")).as("mat"))

  /** Fit the two-level quantizer: a flat driver-Lloyd super quantizer
    * (kSuper ≈ √k — always literal-sized), then `iters` DISTRIBUTED
    * Lloyd steps over all super-cells' children at once. Deterministic
    * like the flat path: child init is the kChild rows with smallest
    * xxhash64(id) within each super-cell, no RNG.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          iters: Int = 2, superIters: Int = 2): TwoLevelQuantizer = {
    require(k > 1 && k.toLong <= MaxClusters,
      s"two-level quantizer: k=$k out of range (2..$MaxClusters)")
    graft.plans.GraftExtensions.registerAll(df.sparkSession)
    val kSuper = math.ceil(math.sqrt(k.toDouble)).toInt
    val kChild = math.ceil(k.toDouble / kSuper).toInt

    // level 1: the proven flat Lloyd build. Its cells snapshot is the
    // super-assigned corpus every child round reads; it lies in the
    // children chain's lineage, so the quantizer's release frees it.
    val sup = Similarity.buildIvfIndex(df, idCol, vecCol, kSuper, superIters)
    val corpusS = sup.cells.select(col("neighbor_id").as("__id"),
      col("cv"), col("cell").as("super"))

    // child init: per super-cell, the kChild hash-smallest rows (ids
    // 0..n-1 contiguous per super — position-in-matrix == child id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("super")).orderBy(xxhash64(col("__id")))
    // LAZY snapshots here and in the loop below (r20): each round's
    // children table is consumed by the NEXT round's childMatsOf
    // broadcast build (a full read), which writes the blocks inside
    // its own job — the per-round dedicated materialization barriers
    // drop out of the fit chain.
    var children = DiskSnapshot.diskCached(corpusS
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= kChild)
      .select(col("super"), (col("__rk") - 1).as("child"),
        transform(col("cv"), v => v.cast("double")).as("ctr")))

    for (_ <- 0 until iters) {
      val mats = childMatsOf(children)
      val dim = sup.centroids.headOption.map(_.length).getOrElse(0)
      val joined =
        if (kSuper.toLong * kChild * dim * 8 <= broadcastBytes(df.sparkSession))
          corpusS.join(broadcast(mats), "super")
        else corpusS.join(mats, "super")
      val asg = joined.withColumn("child",
        call_function("graft_nearest_cell", col("cv"), col("mat")))
      // one partial-sum shuffle per step, exactly like the flat Lloyd,
      // but grouped by (super, child, pos) and NEVER collected
      val sums = asg
        .select(col("super"), col("child"),
          posexplode(col("cv")).as(Seq("pos", "v")))
        .groupBy(col("super"), col("child"), col("pos"))
        .agg(sum(col("v").cast("double")).as("s"), count(lit(1)).as("n"))
      val newCtrs = sums.groupBy(col("super"), col("child"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => x.getField("s") / x.getField("n")).as("ctr"))
      // empty children keep their centroid (the flat path's rule)
      // DiskSnapshot rounds: the new round's LINEAGE references the
      // previous round's snapshot (that is the point — a lost block
      // recomputes through it), so earlier rounds' blocks stay
      // reachable until the caller releases the final quantizer; the
      // ContextCleaner then reaps the whole chain. The accumulation
      // is bounded at iters × k rows per fit — negligible even with
      // semanticDedupSharded calling fit once per shard
      children = DiskSnapshot.diskCached(children.as("o")
        .join(newCtrs.as("nw"), Seq("super", "child"), "left")
        .select(col("super"), col("child"),
          coalesce(col("nw.ctr"), col("o.ctr")).as("ctr")))
    }
    TwoLevelQuantizer(sup.centroids, children, kChild)
  }

  /** Two-level IVF index — the ANN analog of the semantic-dedup
    * routing: nlist past the flat literal ceiling with no
    * O(nlist·dim) literal anywhere. `cells` is the corpus with its
    * global cell id (a lazy disk snapshot; probe-side scans never
    * shuffle it).
    */
  final case class TwoLevelIvfIndex(quantizer: TwoLevelQuantizer,
                                    cells: DataFrame) {
    def nlist: Int = quantizer.k
    def unpersist(): Unit = { DiskSnapshot.release(cells); quantizer.unpersist() }
  }

  def buildIvfIndexLarge(corpus: DataFrame, idCol: String, vecCol: String,
                         nlist: Int, iters: Int = 2): TwoLevelIvfIndex = {
    val tl = fit(corpus, idCol, vecCol, nlist, iters)
    val cells = DiskSnapshot.diskCached(tl.assign(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")), "cv", "cell"))
    TwoLevelIvfIndex(tl, cells)
  }

  /** The two-stage probe-cell ranking shared by [[ivfProbeTwoLevel]]
    * and the compressed-ANN pipeline: `nprobeSuper` nearest supers
    * map-side (literal kernel), then the `nprobe` nearest child cells
    * within just those supers. Returns (query_id, qv, cell).
    */
  private[operators] def probeCells(tl: TwoLevelQuantizer, q: DataFrame,
                                    nprobeSuper: Int, nprobe: Int): DataFrame = {
    val supers = q
      .withColumn("probe", Similarity.nearestCells(Lloyd.cellDists(col("qv"), tl.superCentroids),
        tl.kSuper, nprobeSuper, "super"))
      .select(col("query_id"), col("qv"), col("probe.super").as("super"))
    // same ceiling discipline as assign(): the child-matrix table is
    // only broadcast while it is small; past the ceiling the PROBE
    // LIST is the broadcast side (queries are small by contract), so
    // no executor ever materializes an over-ceiling matrix table
    val cellRanked = (
      if (tl.matBytes <= broadcastBytes(q.sparkSession))
        supers.join(broadcast(tl.childMats), "super")
      else broadcast(supers).join(tl.childMats, "super"))
      .withColumn("cd", call_function("graft_cell_dists", col("qv"), col("mat")))
      .withColumn("pc", explode(zip_with(col("cd"),
        sequence(lit(0), size(col("cd")) - 1),
        (d, i) => struct(d.as("d"), i.as("child")))))
      .select(col("query_id"), col("qv"),
        (col("super") * tl.kChild + col("pc.child")).as("cell"),
        col("pc.d").as("d"))
    cellRanked.transform(Similarity.topPerQuery(nprobe, "__r", col("d"), col("cell")))
      .select(col("query_id"), col("qv"), col("cell"))
  }

  /** Probe a two-level IVF index: rank the `nprobeSuper` nearest
    * super-cells map-side (literal kernel), rank the `nprobe` nearest
    * CHILD cells within just those supers (small broadcast join onto
    * the query side — queries are the small side by contract), then
    * exact-cosine re-rank inside the probed cells. The corpus-side
    * `cells` scan joins against a BROADCAST probe list, so — exactly
    * like the flat [[Similarity.ivfProbe]] — the corpus never
    * shuffles. Two-stage probing is the standard hierarchical-IVF
    * recall trade: a nearest global cell under an unprobed super is
    * missed, bought back by raising `nprobeSuper` (spec measures
    * recall vs brute force).
    */
  def ivfProbeTwoLevel(index: TwoLevelIvfIndex, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nprobeSuper: Int = 4, nprobe: Int = 8): DataFrame = {
    graft.plans.GraftExtensions.registerAll(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = probeCells(index.quantizer, q, nprobeSuper, nprobe)
    Similarity.topKByCosine(index.cells.join(broadcast(probes), "cell")
      .filter(col("query_id") =!= col("neighbor_id")), col("qv"), col("cv"), k)
  }
}
