package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The gate/production twins that share one builder: each `*p_*_prod`
  * entry below is its gate's TextVector builder under `HashFamily.Xx`.
  * Built from the registry at sf0.001, every pair must keep its gate's
  * schema, meet its row relation, and hash with its own family only.
  */
class TwinSpec extends SparkSpec {

  private val pairs = Seq(
    "q26_minhash_pairs" -> "q26p_minhash_prod",
    "q30_ann_lsh" -> "q30p_ann_lsh_prod",
    "q35_dedup_pipeline" -> "q35p_dedup_pipeline_prod",
    "q37_cosine_neardup_lsh" -> "q37p_neardup_lsh_prod",
    "q102_span_dedup" -> "q102p_span_dedup_prod",
    "q103_span_removal" -> "q103p_span_removal_prod",
    "q104_span_decontam" -> "q104p_span_decontam_prod",
    "q105_dedup_keepbest" -> "q105p_dedup_keepbest_prod",
    "q106_hash_split" -> "q106p_hash_split_prod",
    "q112_line_dedup" -> "q112p_line_dedup_prod",
    "q116_sample_per_group" -> "q116p_sample_per_group_prod",
    "q132_weighted_sample" -> "q132p_weighted_sample_prod",
    "q146_incremental_dedup" -> "q146p_incremental_dedup_prod")

  private def build(q: String): DataFrame = SparkEntry.queries(q)(spark, sf001)
  private def twin(gate: String): String = pairs.toMap.apply(gate)
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted
  private def ids(df: DataFrame, c: String): Set[Long] =
    df.select(c).collect().map(_.getLong(0)).toSet

  /** The text of every logical plan the optimizer sees while `body`
    * runs: the final frame's, and also those of the snapshots a
    * builder materializes eagerly, which the final plan only shows as
    * a scan of an RDD. */
  private def optimizedPlans(body: => Unit): String = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val recorder = new Rule[LogicalPlan] {
      def apply(p: LogicalPlan): LogicalPlan = { seen.add(p.toString); p }
    }
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val prev = exp.extraOptimizations
    exp.extraOptimizations = prev :+ recorder
    try body finally exp.extraOptimizations = prev
    seen.asScala.mkString("\n")
  }

  // Each family's hashes as plan text: the built-in function, the
  // family's codegen kernels (printed by class name) and the name an
  // LSH bucket reports a dimension mismatch under.
  private val xxHash = """\bxx[a-z0-9]*\(|signLshBucket:""".r
  private val md5Hash = """\bmd5[a-z0-9]*\(|signLshBucketMd5:""".r
  // the per-group sampler's `__salt` is xxhash64 under both families:
  // it only spreads the local window, and SamplingSpec pins the sample
  // as salt-invariant
  private val samplerSalt = """pmod\(xxhash64\(cast\([^()]*\), 42\), 16L?\)""".r

  /** `q` built and collected, with the plans that took (lazy
    * snapshots are optimized only once an action runs). */
  private def collected(q: String): (DataFrame, String) = {
    var df: DataFrame = null
    val plans = optimizedPlans { df = build(q); df.collect(); () }
    (df, samplerSalt.replaceAllIn(plans, ""))
  }

  test("each production twin is its gate's builder under HashFamily.Xx: same schema, own hashes only") {
    pairs.foreach { case (gate, prod) =>
      val (g, gPlans) = collected(gate)
      val (p, pPlans) = collected(prod)
      assert(p.schema == g.schema, s"$prod schema ${p.schema} != $gate's ${g.schema}")
      assert(md5Hash.findFirstIn(gPlans).nonEmpty, s"$gate plans hash no md5")
      assert(xxHash.findFirstIn(gPlans).isEmpty,
        s"$gate plans hash with xxhash64: ${xxHash.findFirstIn(gPlans)}")
      assert(xxHash.findFirstIn(pPlans).nonEmpty, s"$prod plans hash no xxhash64")
      assert(md5Hash.findFirstIn(pPlans).isEmpty,
        s"$prod plans hash with md5: ${md5Hash.findFirstIn(pPlans)}")
    }
  }

  test("span and line twins return their gate's rows (md5 and xxhash64 mark the same windows)") {
    Seq("q102_span_dedup", "q103_span_removal", "q104_span_decontam",
        "q112_line_dedup").foreach { gate =>
      val g = rows(build(gate))
      assert(g.nonEmpty, s"$gate is empty")
      assert(rows(build(twin(gate))) == g, s"${twin(gate)} rows differ from $gate's")
    }
  }

  test("split and sampler twins keep their gate's row counts (q116 per source)") {
    Seq("q106_hash_split", "q132_weighted_sample").foreach { gate =>
      val n = build(gate).count()
      assert(n > 0 && build(twin(gate)).count() == n, s"${twin(gate)} count differs")
    }
    def perSource(q: String): Map[String, Long] =
      build(q).groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val g = perSource("q116_sample_per_group")
    assert(g.nonEmpty && perSource("q116p_sample_per_group_prod") == g)
  }

  test("MinHash twins keep their gate's pair set and survivor sets") {
    def pairSet(q: String): Set[(Long, Long)] =
      build(q).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = pairSet("q26_minhash_pairs")
    assert(g.nonEmpty && pairSet("q26p_minhash_prod") == g)
    Seq("q35_dedup_pipeline", "q105_dedup_keepbest",
        "q146_incremental_dedup").foreach { gate =>
      val kept = ids(build(gate), "doc_id")
      assert(kept.nonEmpty && ids(build(twin(gate)), "doc_id") == kept,
        s"${twin(gate)} survivors differ from $gate's")
    }
  }

  test("LSH twins return exact-cosine pairs: q30p never beats brute force, q37p within the exact pairs") {
    val e = Tables(spark, sf001, "embeddings")
    val exact = graft.operators.Similarity.cosineNearDupPairsExact(
        e, "vec_id", "embedding", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Seq("q37_cosine_neardup_lsh", "q37p_neardup_lsh_prod").foreach { q =>
      val got = build(q).collect()
      assert(got.nonEmpty, s"$q is empty")
      got.foreach { case Row(a: Long, b: Long, c: Double) =>
        assert(c >= 0.3, s"$q pair ($a, $b) at cosine $c < 0.3")
        assert(exact.get((a, b)).exists(x => math.abs(x - c) < 1e-6),
          s"$q pair ($a, $b) at $c is not an exact pair (${exact.get((a, b))})")
      }
    }
    // (query, rank) -> (neighbor, cosine rounded to 6 places); an ANN's
    // rank-r neighbor can be no closer than the exact rank-r neighbor
    def ranked(q: String): Map[(Long, Long), (Long, Double)] =
      build(q).collect().map(r =>
        (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3))).toMap
    val brute = ranked("q29_ann_brute")
    val vecs = e.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    Seq("q30_ann_lsh", "q30p_ann_lsh_prod").foreach { q =>
      val got = ranked(q)
      assert(got.nonEmpty, s"$q is empty")
      got.foreach { case ((qid, rank), (nid, c)) =>
        assert(rank >= 1 && rank <= 5 && nid != qid, s"$q row ($qid, $rank, $nid)")
        assert(math.abs(cosine(vecs(qid), vecs(nid)) - c) < 1e-6,
          s"$q ($qid, $nid) reports cosine $c")
        assert(brute.get((qid, rank)).exists(_._2 >= c - 1e-12),
          s"$q ($qid, rank $rank) at $c beats brute force ${brute.get((qid, rank))}")
      }
    }
  }

  test("q90s sketch counts every word trigram of the corpus exactly once") {
    val got = build("q90s_cms_sketch_build").collect()
    assert(got.length == 1)
    val exact = Tables(spark, sf001, "documents")
      .select(explode(graft.functions.TextFunctions.ngrams(col("text"), 3)))
      .count()
    assert(exact > 0 && got.head.getAs[Long]("total_count") == exact)
  }
}
