package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the shared [[Lloyd]] loop against an in-memory reference: a
  * plain Scala fold over the collected rows (argmin by squared L2 with
  * ties to the lowest cell, centroid = mean of its rows, a cell no row
  * chose keeps its centroid). Every vector is integer-valued, so all
  * sums are exact and the centroids compare with `==`.
  */
class LloydSpec extends SparkSpec {
  import spark.implicits._

  private type Vec = Array[Double]

  private def dist(c: Vec, v: Vec): Double =
    c.indices.map { i => val d = v(i) - c(i); d * d }.sum

  private def nearest(cents: Seq[Vec], v: Vec): Int =
    cents.indices.minBy(c => dist(cents(c), v))

  private def mean(vs: Seq[Vec]): Vec =
    Array.tabulate(vs.head.length)(i => vs.map(_(i)).sum / vs.size)

  /** The reference: `iters` flat Lloyd steps of `rows` from `init`. */
  private def reference(rows: Seq[Vec], init: Array[Vec], iters: Int): Array[Vec] =
    (0 until iters).foldLeft(init) { (cents, _) =>
      val members = rows.groupBy(nearest(cents.toSeq, _))
      cents.indices.map(c => members.get(c).fold(cents(c))(mean)).toArray
    }

  private def same(a: Array[Vec], b: Array[Vec]): Boolean =
    a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq

  private def md5Hex(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** `n` integer vectors of width `dim` in [-3, 3], fixed seed. */
  private def randomVecs(n: Int, dim: Int, seed: Int): Seq[Vec] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(dim)((rnd.nextInt(7) - 3).toDouble))
  }

  /** The flat form, seeded by the smallest ids. */
  private def flat(df: DataFrame, vec: String, k: Int, iters: Int): Array[Vec] =
    Lloyd.flat(df, col(vec), col("id"), k, iters)

  test("flat form == reference: an empty cell keeps its centroid, ties go to the lowest cell") {
    // rows 0 and 1 seed identical centroids, so cell 1 loses every tie
    // to cell 0 and goes empty; (5, 0) is 25 from all three seeds
    val rows = Seq(Array(0.0, 0.0), Array(0.0, 0.0), Array(10.0, 0.0),
      Array(4.0, 0.0), Array(5.0, 0.0), Array(12.0, 2.0))
    val df = spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }, 2).toDF("id", "v")
    val one = flat(df, "v", 3, 1)
    assert(same(one, Array(Array(2.25, 0.0), Array(0.0, 0.0), Array(11.0, 1.0))))
    assert(same(one, reference(rows, rows.take(3).toArray, 1)))
    assert(same(flat(df, "v", 3, 4), reference(rows, rows.take(3).toArray, 4)))
    // float vectors (the production path) sum as doubles: same centroids
    val asFloat = df.withColumn("f", col("v").cast("array<float>"))
    assert(same(flat(asFloat, "f", 3, 4), flat(df, "v", 3, 4)))
  }

  test("flat form == reference on random integer rows, and with fewer rows than k") {
    val rows = randomVecs(40, 4, seed = 11)
    val df = spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }, 3).toDF("id", "v")
    assert(same(flat(df, "v", 5, 3), reference(rows, rows.take(5).toArray, 3)))
    val two = df.filter(col("id") < 2)
    val got = flat(two, "v", 4, 2)
    assert(got.length == 2)
    assert(same(got, reference(rows.take(2), rows.take(2).toArray, 2)))
  }

  test("per-super form == reference per super; a super with fewer rows than kChild seeds fewer children") {
    val kSuper = 3
    val kChild = 3
    // super 0: 20 rows, super 1: 2 rows (< kChild), super 2: no rows
    val rows = randomVecs(22, 4, seed = 5).zipWithIndex.map { case (v, i) =>
      (i.toLong, if (i < 20) 0 else 1, v) }
    val df = spark.sparkContext.parallelize(
      rows.map { case (id, s, v) => (id, s, v.toSeq) }, 3).toDF("__id", "__super", "__qv")
    val got = Clustering.childLloydMd5(df, kSuper, kChild, iters = 3)
    val want = Array.tabulate(kSuper) { s =>
      val mine = rows.filter(_._2 == s).sortBy(r => md5Hex(r._1)).map(_._3)
      reference(mine, mine.take(kChild).toArray, 3)
    }
    assert(got.map(_.length).toSeq == Seq(3, 2, 0))
    assert(got.indices.forall(s => same(got(s), want(s))))
  }

  test("per-subspace (PQ) form at m = 4 == one reference Lloyd per subspace") {
    val (m, ksub, dsub) = (4, 3, 2)
    val rows = randomVecs(30, m * dsub, seed = 3).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val q = spark.sparkContext.parallelize(
      rows.map { case (id, v) => (id, v.toSeq) }, 3).toDF("__id", "__qv")
    val got = Clustering.pqCodebooks(q, m, ksub, iters = 2)
    val seeds = rows.sortBy(r => md5Hex(r._1)).take(ksub).map(_._2)
    def sub(v: Vec, s: Int): Vec = v.slice(s * dsub, (s + 1) * dsub)
    val want = Array.tabulate(m)(s =>
      reference(rows.map(r => sub(r._2, s)), seeds.map(sub(_, s)).toArray, 2))
    assert(got.length == m)
    assert(got.indices.forall(s => same(got(s), want(s))))
    assert(intercept[IllegalArgumentException](Clustering.pqCodebooks(q, 3, ksub, 1))
      .getMessage.contains("dim 8 not divisible by m=3"))
  }
}
