package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.spatial.{Healpix, Morton}

/** Every registered `graft_*` kernel gives the same rows through its
  * generated code and through interpreted `eval` (null rows included),
  * and the two paths agree on numeric input casts and on non-finite
  * constants. The codegen runs set `spark.sql.codegen.fallback=false`,
  * so a compile error fails the test instead of quietly running the
  * interpreted path.
  */
class KernelAgreementSpec extends SparkSpec {

  /** Runs `f` with whole-stage codegen (no fallback), then with
    * codegen off everywhere; restores the session's settings. */
  private def bothPaths[T](f: => T): (T, T) = {
    val keys = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode",
      "spark.sql.codegen.wholeStage")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val compiled = f
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      (compiled, f)
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])

  /** Four rows from an RDD (not a local relation, whose projections
    * the optimizer would evaluate up front): two full rows, one all
    * null, one with a single token and only some columns null. */
  private lazy val fixture: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("toks", ArrayType(StringType)), StructField("hashes", ArrayType(LongType)),
      StructField("fv", ArrayType(FloatType)), StructField("fw", ArrayType(FloatType)),
      StructField("dv", ArrayType(DoubleType)), StructField("codes", ArrayType(IntegerType)),
      StructField("scale", DoubleType), StructField("x", DoubleType),
      StructField("y", DoubleType), StructField("pix", LongType)))
    val data = Seq(
      Row(1L, "lower the lowest low", Seq("a", "b", "c", "a", "b"), Seq(5L, -7L, 5L, 11L),
        Seq(1.0f, 2.0f, 0.5f, -1.0f), Seq(0.5f, -2.0f, 1.0f, 3.0f),
        Seq(1.0, -2.0, 0.5, 4.0), Seq(3, -2, 1, 0), 0.25, 12.5, -40.0, 7L),
      Row(2L, "Hello, World! ÄÖ K zzz zzz zzz", Seq("dup", "dup", "dup"),
        Seq(1L, 2L, 3L, 4L, 5L), Seq(0.0f, 0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f, 1.0f),
        Seq(-1.0, 0.0, 3.0, 2.0), Seq(127, -128, 0, 5), 1.5, 359.9, 89.5, 3000L),
      Row(3L, null, null, null, null, null, null, null, null, null, null, null),
      Row(4L, "", Seq("solo"), Seq(9L), Seq(1.0f, 1.0f, 1.0f, 1.0f), null,
        Seq(2.0, 2.0, 2.0, 2.0), null, 1.0, 0.0, null, 0L))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private val cents = "array(array(0.0D, 0.0D, 0.0D, 0.0D), array(1.0D, 1.0D, 1.0D, 1.0D))"
  private val planes = "array(1L, -1L, 2L, 0L, 0L, 1L, 1L, -3L)"

  /** SQL over `fixture` per kernel name. */
  private val fixtures: Map[String, Seq[String]] = Map(
    "graft_morton_key" -> Seq("graft_morton_key(x, y, scale, -100.0D, 500.0D, 4)"),
    "graft_healpix_pix" -> Seq("graft_healpix_pix(x, y, 64)"),
    "graft_healpix_disc" -> Seq("graft_healpix_disc(pix, 16, 5.0D)"),
    "graft_simhash64" -> Seq("graft_simhash64(hashes)"),
    "graft_ngram_hashes" -> Seq("graft_ngram_hashes(hashes, 2)"),
    "graft_minhash_sig" -> Seq("graft_minhash_sig(hashes, 4)"),
    "graft_cosine_int8" -> Seq("graft_cosine_int8(fv, codes, scale)"),
    "graft_cosine" -> Seq("graft_cosine(fv, fw)"),
    "graft_l2norm" -> Seq("graft_l2norm(fv)"),
    "graft_cell_dists" -> Seq(s"graft_cell_dists(fv, $cents)", s"graft_cell_dists(dv, $cents)"),
    "graft_nearest_cell" -> Seq(s"graft_nearest_cell(fv, $cents)",
      s"graft_nearest_cell(dv, $cents)"),
    "graft_dot_q" -> Seq("graft_dot_q(dv, dv)"),
    "graft_pq_encode" -> Seq("graft_pq_encode(fv, " +
      "array(0.0F, 0.0F, 1.0F, 2.0F, 0.5F, -1.0F, 1.0F, 1.0F), 2, 2, 2)"),
    "graft_jl_project" -> Seq(s"graft_jl_project(fv, $planes, 2, 8.0D)",
      s"graft_jl_project(dv, $planes, 2, 8.0D)"),
    "graft_normalize" -> Seq("graft_normalize(text)"),
    "graft_char_entropy" -> Seq("graft_char_entropy(text)"),
    "graft_deflate_len" -> Seq("graft_deflate_len(text, 6)"),
    "graft_rep_signals" -> Seq("graft_rep_signals(text)"),
    "graft_bpe_word" -> Seq("graft_bpe_word(text, array(named_struct('a', 'l', 'b', 'o'), " +
      "named_struct('a', 'lo', 'b', 'w'), named_struct('a', 'z', 'b', 'z')))"),
    "graft_syms_to_ids" -> Seq("graft_syms_to_ids(toks, array('a', 'b', 'dup', 'a'))"),
    "graft_md5_minhash_sig" -> Seq("graft_md5_minhash_sig(toks, 2, 4)"),
    "graft_md5_simhash64" -> Seq("graft_md5_simhash64(toks)"),
    "graft_md5_bucket_counts" -> Seq("graft_md5_bucket_counts(toks, 8)"),
    "graft_md5_sign_sums" -> Seq("graft_md5_sign_sums(toks, 8)"),
    "graft_gram_counts" -> Seq("graft_gram_counts(toks, 2)"),
    "graft_md5_window_hashes" -> Seq("graft_md5_window_hashes(toks, 2)"),
    "graft_xx_window_hashes" -> Seq("graft_xx_window_hashes(toks, 2)"),
    "graft_md5_bucket_entries" -> Seq("graft_md5_bucket_entries(toks, 8)"),
    "graft_xx_bucket_entries" -> Seq("graft_xx_bucket_entries(toks, 8)"),
    "graft_xx_bucket_counts" -> Seq("graft_xx_bucket_counts(toks, 8)"),
    "graft_xx_sign_sums" -> Seq("graft_xx_sign_sums(toks, 8)"))

  test("eval and codegen agree for every registered kernel, null rows included") {
    GraftExtensions.registerAll(spark)
    val kernels = GraftExtensions.descriptors.collect {
      case (id, info, _)
          if classOf[KernelExpr].isAssignableFrom(Class.forName(info.getClassName)) =>
        id.funcName
    }
    assert(kernels.size == 31, kernels)
    assert(kernels.filterNot(fixtures.contains).isEmpty,
      s"registered kernels without a fixture: ${kernels.filterNot(fixtures.contains)}")
    assert(fixtures.keySet == kernels.toSet, "a fixture names no registered kernel")
    kernels.foreach { k =>
      val df = fixture.selectExpr("id" +: fixtures(k): _*)
      val (compiled, interpreted) = bothPaths(rows(df))
      assert(compiled.size == 4, k)
      assert(compiled == interpreted, s"$k: codegen $compiled vs eval $interpreted")
      // the all-null row is null in every column but its id
      assert(compiled(2).tail.forall(_ == null), s"$k: ${compiled(2)}")
    }
    // the one kernel that may return null itself: a doc shorter than n
    val short = rows(fixture.selectExpr("id", "graft_md5_minhash_sig(toks, 2, 4)"))
    assert(short(3)(1) == null && short(0)(1) != null, short)
  }

  test("spatial kernels cast integer inputs: same answer compiled, interpreted and folded") {
    GraftExtensions.registerAll(spark)
    val (c, i) = bothPaths((
      spark.sql("SELECT graft_morton_key(1, 2, 3, 0.0D, 10.0D, 4)").head().getLong(0),
      spark.sql("SELECT graft_healpix_pix(10, 20, 64)").head().getLong(0),
      spark.sql("SELECT id, graft_morton_key(CAST(id AS INT), 2.0D, 3.0D, 0.0D, 10.0D, 4) " +
        "FROM range(5)").collect().map(_.getLong(1)).toSeq,
      spark.sql("SELECT id, graft_healpix_disc(CAST(id AS INT), 64, 1.0D) FROM range(5)")
        .collect().map(_.getSeq[Long](1)).toSeq))
    assert(c == i)
    assert(c._1 == Morton.pointKey(1.0, 2.0, 3.0, 0.0, 10.0, 4))
    assert(c._2 == Healpix.ang2pixNest(64, 10.0, 20.0))
    assert(c._3 == (0 until 5).map(x => Morton.pointKey(x.toDouble, 2.0, 3.0, 0.0, 10.0, 4)))
    assert(c._4 == (0 until 5).map(x =>
      Healpix.discCoverCached(64, x.toLong, 1.0).toLongArray().toSeq))
    // inputs already double/bigint get no cast
    val plan = spark.range(1).selectExpr(
      "graft_healpix_pix(CAST(id AS DOUBLE), 1.0D, 8)", "graft_healpix_disc(id, 8, 1.0D)")
      .queryExecution.analyzed.toString
    assert(plan.contains("graft_healpix_pix(cast(id#") &&
      plan.contains("graft_healpix_disc(id#"), plan)
    assert(!plan.contains("as double) as double)") && !plan.contains("as bigint)"), plan)
  }

  test("non-finite double constants compile and match the interpreted path") {
    GraftExtensions.registerAll(spark)
    val (c, i) = bothPaths((
      rows(spark.sql(
        "SELECT id, graft_healpix_disc(id, 64, CAST('NaN' AS DOUBLE)) FROM range(4)")),
      rows(spark.sql("SELECT id, graft_morton_key(CAST(id AS DOUBLE), 2.0D, 3.0D, " +
        "CAST('Infinity' AS DOUBLE), 10.0D, 4) FROM range(4)"))))
    assert(c == i)
    assert(c._1.size == 4 && c._2.size == 4)
  }
}
