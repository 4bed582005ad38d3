package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DiskSnapshot
import graft.functions.VectorFunctions
import graft.plans.GraftExtensions

/** The composed 100 TB ANN recipe — each stage is an independently
  * gated operator, this wires them into the pipeline a production
  * embedding store actually runs:
  *
  *   1. [[VectorFunctions.randomProject]] cuts dimension (64 → 16 by
  *      default): 4× less arithmetic everywhere downstream, JL-bounded
  *      cosine distortion (q114 gate, SimilaritySpec bounds).
  *   2. [[VectorFunctions.int8Quantize]] stores the PROJECTED vectors
  *      as (scale, int8[]): another 8× on top in index bytes scanned
  *      per probe (q107 gate) — the candidate scan reads ~32× fewer
  *      vector bytes than a raw float64 index.
  *   3. [[TwoLevel]] coarse quantization clusters the projected space
  *      (no flat-literal ceiling; q101L/q33Lp gates), probing ranks
  *      supers then children map-side.
  *   4. Candidates score APPROXIMATELY from dequantized projections,
  *      the top `topCandidates` per query re-rank EXACTLY against the
  *      original full-dimension embeddings — the standard
  *      compressed-index + exact-rerank shape (the FAISS
  *      IVF+SQ8+refine composition).
  *
  * Scale shape: the corpus never shuffles. Build assigns cells
  * map-side (broadcast child matrices under the ceiling); the probe
  * joins the compressed cells against a BROADCAST probe list, and the
  * rerank joins the small candidate set (queries × topCandidates)
  * back to the corpus as another broadcast semi-join. SimilaritySpec
  * pins end-to-end recall vs brute force.
  */
object CompressedAnn {

  /** (cell, neighbor_id, scale, qv int8) compressed cells + the
    * projector config needed to route queries the same way. */
  final case class Index(quantizer: TwoLevel.TwoLevelQuantizer,
                         cells: DataFrame, outDim: Int, dim: Int) {
    def unpersist(): Unit = { DiskSnapshot.release(cells); quantizer.unpersist() }
  }

  // float projection: the quantizer/index stack runs on array<float>
  // (the embedding fixture type); the JL guarantees survive the cast
  private def project(vec: Column, outDim: Int, dim: Int): Column =
    VectorFunctions.randomProject(vec, outDim, dim).cast("array<float>")

  /** Offline build: project, two-level-fit the projected space,
    * assign cells, int8-encode the projected vectors. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, nlist: Int,
            outDim: Int = 16, dim: Int = 64, iters: Int = 2): Index = {
    // disk-snapshot the projection: fit() scans it once per Lloyd
    // round plus the init collect, and assign() scans it again — an
    // unpersisted proj recomputes the outDim x dim multiply-adds over
    // the WHOLE corpus on every one of those passes. DISK_ONLY,
    // lineage-preserving, ContextCleaner-reaped with the index.
    val proj = DiskSnapshot.diskCached(
      corpus.select(col(idCol).as("neighbor_id"),
        project(col(vecCol), outDim, dim).as("pv")))
    val tl = TwoLevel.fit(proj, "neighbor_id", "pv", nlist, iters)
    val cells = DiskSnapshot.diskCachedEager(tl.assign(proj, "pv", "cell")
      .withColumn("scale", VectorFunctions.int8Scale(col("pv")))
      .select(col("cell"), col("neighbor_id"), col("scale"),
        VectorFunctions.int8Quantize(col("pv"), col("scale")).as("qv8")))
    Index(tl, cells, outDim, dim)
  }

  /** Persist the compressed index: int8 cells `partitionBy("cell")`
    * (probe-time partition pruning at the storage layer, same layout
    * as [[Similarity.writeIvfIndex]]), the children table as parquet,
    * and the super matrix + dims in a JSON sidecar.
    */
  def write(index: Index, path: String): Unit = {
    // repartition on cell first: partitionBy alone makes every input
    // task open a file in every cell directory (nlist × tasks small
    // files — measured 189 s at 2M vectors/488 cells; one shuffle
    // cuts it to one file per cell)
    index.cells.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells.parquet")
    index.quantizer.children.write.mode("overwrite")
      .parquet(s"$path/children.parquet")
    val sup = index.quantizer.superCentroids
      .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    val json = s"""{"outDim":${index.outDim},"dim":${index.dim},""" +
      s""""kChild":${index.quantizer.kChild},"super":$sup}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_quantizer.json"), json)
  }

  def open(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(path, "_quantizer.json")))
    val supNode = node.get("super")
    val sup = (0 until supNode.size()).map { i =>
      val row = supNode.get(i)
      (0 until row.size()).map(j => row.get(j).asDouble()).toArray
    }.toArray
    val tl = TwoLevel.TwoLevelQuantizer(sup,
      graft.io.OCIO.parquet(spark, Seq(s"$path/children.parquet")),
      node.get("kChild").asInt())
    Index(tl, graft.io.OCIO.parquet(spark, Seq(s"$path/cells.parquet")),
      node.get("outDim").asInt(), node.get("dim").asInt())
  }

  /** Probe: route the projected query through the two-level cells,
    * score candidates on dequantized int8 projections, exact-rerank
    * the top `topCandidates` against the original embeddings.
    * Returns (query_id, neighbor_id, rank, cosine) — exact cosines.
    */
  def probe(index: Index, corpus: DataFrame, queries: DataFrame,
            idCol: String, vecCol: String, k: Int,
            topCandidates: Int = 64, nprobeSuper: Int = 4,
            nprobe: Int = 8): DataFrame = {
    require(topCandidates >= k, s"topCandidates=$topCandidates < k=$k")
    val q = queries.select(col(idCol).as("query_id"),
      project(col(vecCol), index.outDim, index.dim).as("qv"))
    val probes = TwoLevel.probeCells(index.quantizer, q, nprobeSuper, nprobe)
    // approximate scores: FUSED dequantize+cosine kernel — one pass
    // over the codes, no per-row intermediate array, full-double
    // dequantized components
    val cands = index.cells.join(broadcast(probes), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("ac", GraftExtensions.call("graft_cosine_int8",
        col("qv"), col("qv8"), col("scale")))
      .transform(Similarity.topPerQuery(topCandidates, "__r",
        col("ac").desc, col("neighbor_id")))
      .select(col("query_id"), col("neighbor_id"))
    // exact rerank: small candidate set broadcast against the corpus
    // (by id) and the query originals
    val qOrig = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"))
    Similarity.topKByCosine(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
        .join(broadcast(cands), "neighbor_id")
        .join(broadcast(qOrig), "query_id"),
      col("qvec"), col("nvec"), k)
  }
}
