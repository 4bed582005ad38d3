package graft

import org.apache.spark.sql.functions._

/** The round-19 map-side md5 kernels must be BIT-IDENTICAL to the
  * explode → shuffle → aggregate chains they replaced (the DuckDB
  * oracles replay that arithmetic verbatim): each test recomputes the
  * former aggregate form inline and compares row sets exactly on the
  * sf0.001 documents fixture plus planted edge cases (null text,
  * empty text, sub-shingle docs, duplicate tokens).
  */
class Md5KernelsSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val edge = Seq(
      (900001L, null.asInstanceOf[String]),
      (900002L, ""),
      (900003L, "one two"),           // below shingleN=3
      (900004L, "dup dup dup dup"),   // duplicate tokens/shingles
      (900005L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    docs.unionByName(edge)
  }

  test("graft_md5_minhash_sig == explode/groupBy k-min aggregate form") {
    val df = fixture
    val k = 32; val n = 3
    val kernel = graft.operators.Dedup.minhashSignatures(df, "doc_id", "text", n, k,
      graft.operators.HashFamily.Md5)
    // the former aggregate form, verbatim
    val w = split(col("text"), " ")
    val starts = when(size(w) >= n, sequence(lit(1), size(w) - (n - 1)))
      .otherwise(array())
    val shingles = array_distinct(transform(starts,
      i => concat_ws(" ", slice(w, i, lit(n)))))
    val sh = df.select(col("doc_id").as("doc"), explode(shingles).as("s"))
      .select(col("doc"),
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("__hb"))
    val seedMins = (0 until k).map(i =>
      min((lit(graft.operators.DedupHashes.minhashA(i)) * col("__hb") +
        lit(graft.operators.DedupHashes.minhashB(i))) %
        lit(graft.operators.DedupHashes.MinhashP)).as(s"__h$i"))
    val agg = sh.groupBy(col("doc"))
      .agg(seedMins.head, seedMins.tail: _*)
      .select(col("doc"), array((0 until k).map(i => col(s"__h$i")): _*).as("sig"))
    val kRows = kernel.select(col("doc"), col("sig").cast("array<string>"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSet
    val aRows = agg.select(col("doc"), col("sig").cast("array<string>"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSet
    assert(kRows.nonEmpty && kRows == aRows)
    // short/null docs drop in both forms
    assert(!kRows.exists(r => Set(900001L, 900002L, 900003L)(r._1)))
  }

  test("graft_md5_simhash64 == explode/groupBy 64-vote aggregate form") {
    val df = fixture
    val kernel = graft.operators.Dedup.simhashSignaturesMd5(df, "doc_id", "text")
    val tok = df.select(col("doc_id").as("doc"),
      explode(split(col("text"), " ")).as("t"))
    val withNibs = tok.select(col("doc") +: (0 until 16).map(p =>
      conv(substring(md5(col("t")), p + 1, 1), 16, 10).cast("int").as(s"__n$p")): _*)
    val voteAggs = (0 until 64).map { b =>
      val bit = shiftright(col(s"__n${b / 4}"), 3 - b % 4).bitwiseAND(lit(1))
      sum(bit * lit(2) - lit(1)).as(s"__v$b")
    }
    val votes = withNibs.groupBy(col("doc")).agg(voteAggs.head, voteAggs.tail: _*)
    val sigExpr = (0 until 64).map(b =>
        when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    val agg = votes.select(col("doc"), sigExpr.as("sig"))
    val kRows = kernel.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val aRows = agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kRows.nonEmpty && kRows == aRows)
  }

  test("graft_md5_sign_sums embedding == explode/two-agg map form") {
    val df = fixture
    val dim = 64
    val kernel = graft.functions.TextFunctions
      .hashEmbeddingsMd5(df, "doc_id", "text", dim)
    val sums = df
      .select(col("doc_id"), explode(split(col("text"), " ")).as("__t"))
      .select(col("doc_id"),
        (conv(substring(md5(col("__t")), 1, 8), 16, 10).cast("long") % dim).as("__b"),
        when(conv(substring(md5(col("__t")), 9, 1), 16, 10).cast("long") % 2 === 0,
          lit(1.0)).otherwise(lit(-1.0)).as("__s"))
      .groupBy(col("doc_id"), col("__b")).agg(sum(col("__s")).as("__v"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__v")))).as("__m"))
    val agg = sums.select(col("doc_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => coalesce(element_at(col("__m"), i.cast("long")), lit(0.0)))
        .cast("array<float>").as("embedding"))
    val kRows = kernel.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    val aRows = agg.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    assert(kRows.nonEmpty && kRows == aRows)
  }

  test("graft_xx_sign_sums embedding == explode/two-agg xxhash64 form") {
    val df = fixture
    val dim = 64
    val kernel = graft.functions.TextFunctions
      .hashEmbeddings(df, "doc_id", "text", dim)
    val sums = df
      .select(col("doc_id"), explode(split(col("text"), " ")).as("__t"))
      .select(col("doc_id"), pmod(xxhash64(col("__t")), lit(dim.toLong)).as("__b"),
        when(pmod(xxhash64(col("__t"), lit(1)), lit(2L)) === 0L, lit(1.0f))
          .otherwise(lit(-1.0f)).as("__s"))
      .groupBy(col("doc_id"), col("__b")).agg(sum(col("__s")).as("__v"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__v")))).as("__m"),
        sqrt(sum(col("__v") * col("__v"))).cast("float").as("__n"))
    val raw = transform(sequence(lit(0), lit(dim - 1)),
      i => coalesce(element_at(col("__m"), i.cast("long")), lit(0.0)).cast("float"))
    val agg = sums.select(col("doc_id"),
      when(col("__n") > 0, transform(raw, v => v / col("__n"))).otherwise(raw)
        .cast("array<float>").as("embedding"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(
        java.lang.Float.toString))).toSet
    assert(rows(kernel).nonEmpty && rows(kernel) == rows(agg))
  }

  test("hashingTfIdf (both kernels) == explode/groupBy sparse form") {
    val df = fixture
    val dim = 256
    for ((fn, bucket) <- Seq[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      (graft.operators.CorpusStats.hashingTfIdf(df, "doc_id", "text", dim),
        (t: org.apache.spark.sql.Column) => pmod(xxhash64(t), lit(dim.toLong))),
      (graft.operators.CorpusStats.hashingTfIdfMd5(df, "doc_id", "text", dim),
        (t: org.apache.spark.sql.Column) =>
          pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
            lit(dim.toLong))))) {
      // the former sparse form, verbatim
      val nDocs = df.count().toDouble
      val tb = df
        .select(col("doc_id"), explode(split(col("text"), " ")).as("__t"))
        .select(col("doc_id"), bucket(col("__t")).as("__b"))
        .groupBy(col("doc_id"), col("__b")).agg(count(lit(1)).as("__tf"))
      val idf = tb.groupBy(col("__b"))
        .agg(count(lit(1)).as("__df"))
        .select(col("__b"),
          (log((lit(nDocs) + 1.0) / (col("__df") + 1.0)) + 1.0).as("__idf"))
      val sparse = tb.join(broadcast(idf), Seq("__b"))
        .select(col("doc_id"), col("__b"), (col("__tf") * col("__idf")).as("__w"))
      // compare at the q127 fingerprint granularity (covers both the
      // dense and fingerprint consumers)
      val aggFp = sparse.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nnz"),
          md5(concat_ws("|", sort_array(collect_list(
            concat(col("__b").cast("string"), lit(":"),
              round(col("__w") * lit(1e9)).cast("long").cast("string")))))
            .cast("binary")).as("v_fp")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val kFp = (if (fn.columns.contains("v_fp")) fn
        else {
          // dense form → rebuild the fingerprint from non-zero cells
          fn.select(col("doc_id"), posexplode(col("tfidf")).as(Seq("__b", "__w")))
            .filter(col("__w") =!= 0.0)
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("nnz"),
              md5(concat_ws("|", sort_array(collect_list(
                concat(col("__b").cast("string"), lit(":"),
                  round(col("__w") * lit(1e9)).cast("long").cast("string")))))
                .cast("binary")).as("v_fp"))
        }).collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(kFp.nonEmpty && kFp == aggFp)
    }
  }

  test("window-hash kernels == per-window md5/xxhash64 HOF expressions") {
    val df = fixture
    val w = 8
    graft.plans.GraftExtensions.registerAll(spark)
    for ((kernel, hash) <- Seq[(String, org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column)](
      ("graft_md5_window_hashes", c => md5(c)),
      ("graft_xx_window_hashes", c => xxhash64(c)))) {
      val kRows = df.select(col("doc_id"),
          posexplode(call_function(kernel, split(col("text"), " "), lit(w)))
            .as(Seq("pos", "h")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("h").cast("string"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      // the former HOF chain, verbatim
      val winArr = flatten(transform(array(split(col("text"), " ")), tkA =>
        transform(
          when(size(tkA) >= w, sequence(lit(1), size(tkA) - (w - 1)))
            .otherwise(array()),
          i => struct((i - 1).cast("long").as("pos"),
            hash(concat_ws(" ", slice(tkA, i, lit(w)))).as("h")))))
      val aRows = df.select(col("doc_id"), explode(winArr).as("pw"))
        .select(col("doc_id"), col("pw.pos").as("pos"),
          col("pw.h").cast("string").as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(kRows.nonEmpty && kRows == aRows, s"$kernel mismatch")
    }
  }

  test("graft_gram_counts == explode/groupBy(doc, gram) aggregate form") {
    val df = fixture
    graft.plans.GraftExtensions.registerAll(spark)
    for (n <- Seq(1, 2)) {
      val kRows = df.select(col("doc_id"),
          explode(call_function("graft_gram_counts",
            split(col("text"), " "), lit(n))).as("__gc"))
        .select(col("doc_id"), col("__gc.g"), col("__gc.c"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val aRows = df.select(col("doc_id"),
          explode(graft.functions.TextFunctions.ngrams(col("text"), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(kRows.nonEmpty && kRows == aRows, s"n=$n mismatch")
    }
  }

  test("graft_md5_bucket_counts features == explode/two-groupBy form") {
    val df = fixture.filter(col("text").isNotNull)
    val dim = 32
    graft.plans.GraftExtensions.registerAll(spark)
    val kernel = df.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"),
      call_function("graft_md5_bucket_counts",
        split(col("text"), " "), lit(dim)).as("cs"))
      .select(col("doc_id"),
        transform(col("cs"), c => c.cast("double") / col("n")).as("xs"))
    val tok = df.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"),
      explode(split(col("text"), " ")).as("t"))
    val agg = tok
      .select(col("doc_id"), col("n"),
        (conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long") % dim).as("j"))
      .groupBy(col("doc_id"), col("n"), col("j"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n"))
      .agg(map_from_entries(collect_list(struct(col("j"), col("c")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          coalesce(element_at(col("m"), i.cast("long")), lit(0L))
            .cast("double") / col("n")).as("xs"))
    // compare on exact bits: doubles stringified via BigDecimal-exact
    // java.lang.Double.toString round-trips doubles uniquely
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).map(
        java.lang.Double.toString))).toSet
    assert(rows(kernel).nonEmpty && rows(kernel) == rows(agg))
  }

  test("double-vector centroid kernels == the HOF folds they replaced (r20)") {
    // round 20 moved the quantized Lloyd twins' assignment expressions
    // onto graft_cell_dists / graft_nearest_cell / graft_dot_q with
    // array<double> inputs — the kernels must be BIT-identical to the
    // zip_with+aggregate forms (same left-to-right accumulation, same
    // first-position-of-min tie-break), including on tie-heavy and
    // irrational-valued vectors where summation order would show.
    graft.plans.GraftExtensions.registerAll(spark)
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vecs = (1L to 200L).map { i =>
      (i, Seq.fill(16)(math.rint(rng.nextDouble() * 2048) - 1024.0))
    } :+ (201L, Seq.fill(16)(0.0)) :+    // all-zero (ties to every
      (202L, Seq.fill(16)(1.0 / 3.0))    // centroid at equal distance)
    val df = vecs.toDF("id", "v")
    val cents: Seq[Seq[Double]] =
      Seq(Seq.fill(16)(0.0), Seq.fill(16)(0.0),   // duplicate centroid: tie
        Seq.fill(16)(512.0), Seq.tabulate(16)(j => j * 100.0 / 7.0))
    val centLit = typedlit[Seq[Seq[Double]]](cents)
    val hofDists = transform(centLit, ct => aggregate(
      zip_with(col("v"), ct, (x, y) => { val d = x - y; d * d }),
      lit(0.0), (acc, x) => acc + x))
    val hof = df.select(col("id"),
      hofDists.as("ds"),
      (array_position(hofDists, array_min(hofDists)) - 1).cast("int").as("cell"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("dot"))
    val ker = df.select(col("id"),
      call_function("graft_cell_dists", col("v"), centLit).as("ds"),
      call_function("graft_nearest_cell", col("v"), centLit).as("cell"),
      call_function("graft_dot_q", col("v"), col("v")).as("dot"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getLong(0),
        r.getSeq[Double](1).map(java.lang.Double.toString),
        r.getInt(2),
        java.lang.Double.toString(r.getDouble(3)))).toSet
    assert(rows(ker).nonEmpty && rows(ker) == rows(hof))
  }

  test("centroid and dot kernels reject null vector elements by kernel name") {
    // the HOF folds above return null for a vector with a null
    // element; a raw getDouble/getFloat would read it as 0.0 and give
    // a plausible-but-wrong distance, so the kernels refuse by name
    graft.plans.GraftExtensions.registerAll(spark)
    val one = spark.range(1)
    val dbl = one.select(array(lit(1.0), lit(null).cast("double"), lit(3.0)).as("v"))
    val flt = one.select(array(lit(1.0f), lit(null).cast("float"), lit(3.0f)).as("v"))
    val fold = dbl.select(aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)).head()
    assert(fold.isNullAt(0))
    val centLit = typedlit[Seq[Seq[Double]]](Seq(Seq(0.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0)))
    def m(t: Throwable): String =
      Option(t.getMessage).getOrElse("") + Option(t.getCause).map(m).getOrElse("")
    for ((fn, df, other) <- Seq(
        ("graft_cell_dists", dbl, centLit), ("graft_nearest_cell", dbl, centLit),
        ("graft_cell_dists", flt, centLit), ("graft_nearest_cell", flt, centLit),
        ("graft_dot_q", dbl, col("v")))) {
      val e = intercept[Exception] {
        df.select(call_function(fn, col("v"), other)).collect()
      }
      assert(m(e).contains(fn) && m(e).contains("null element"), s"$fn: ${m(e)}")
    }
  }

  test("token kernels reject null array elements with a kernel-named error (r19 ADVICE)") {
    graft.plans.GraftExtensions.registerAll(spark)
    import spark.implicits._
    val bad = Seq((1L, Seq("a", null, "b"))).toDF("id", "toks")
    for (fn <- Seq("graft_md5_simhash64", "graft_md5_bucket_counts",
        "graft_md5_sign_sums", "graft_xx_sign_sums", "graft_xx_bucket_counts")) {
      val args: Seq[org.apache.spark.sql.Column] = fn match {
        case "graft_md5_simhash64" => Seq(col("toks"))
        case _ => Seq(col("toks"), lit(8))
      }
      val e = intercept[Exception] {
        bad.select(call_function(fn, args: _*)).collect()
      }
      def m(t: Throwable): String =
        Option(t.getMessage).getOrElse("") +
          Option(t.getCause).map(m).getOrElse("")
      assert(m(e).contains(fn) && m(e).contains("null element"), s"$fn: ${m(e)}")
    }
    val e2 = intercept[Exception] {
      bad.select(call_function("graft_gram_counts", col("toks"), lit(2))).collect()
    }
    def m2(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(m2).getOrElse("")
    assert(m2(e2).contains("graft_gram_counts"))
  }
}
