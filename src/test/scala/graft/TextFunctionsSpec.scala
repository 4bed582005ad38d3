package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(text).toDF("text")

  test("codegen kernels reject wrong input types at ANALYSIS time") {
    // a mistyped child must fail resolution with the expected-type
    // message, not surface later as a ClassCastException or a
    // generated-Java compile error mid-job
    graft.plans.GraftExtensions.registerAll(spark)
    val nums = Seq(1L).toDF("x")
    def rejected(f: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](f.collect())
      assert(e.getMessage.contains("expects") ||
        e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
    rejected(nums.select(call_function("graft_char_entropy", col("x"))))
    rejected(nums.select(call_function("graft_deflate_len", col("x"), lit(6))))
    rejected(nums.select(call_function("graft_normalize", col("x"))))
    rejected(nums.select(call_function("graft_simhash64", col("x"))))
    rejected(nums.select(call_function("graft_ngram_hashes", col("x"), lit(3))))
    rejected(nums.select(call_function("graft_minhash_sig", col("x"), lit(4))))
    rejected(nums.select(call_function("graft_rep_signals", col("x"))))
    // the valid shapes still resolve (no over-tight check)
    val ok = Seq(("ab", Seq(1L, 2L))).toDF("t", "h")
    assert(ok.select(
      call_function("graft_char_entropy", col("t")),
      call_function("graft_deflate_len", col("t"), lit(6)),
      call_function("graft_simhash64", col("h"))).count() == 1)
  }

  test("tokenCount counts whitespace tokens") {
    val n = one("a b c d").select(tokenCount(col("text"))).first().getLong(0)
    assert(n == 4L)
  }

  test("shingles produces distinct word n-grams") {
    val sh = one("a b c d c d").select(shingles(col("text"), 3)).first()
      .getSeq[String](0)
    assert(sh.toSet == Set("a b c", "b c d", "c d c", "d c d"))
  }

  test("shingles on short doc is empty") {
    val sh = one("a b").select(shingles(col("text"), 3)).first().getSeq[String](0)
    assert(sh.isEmpty)
  }

  test("fingerprint is case/whitespace normalized") {
    val df = Seq("Hello World", "  hello world ").toDF("text")
      .select(fingerprint(col("text")).as("fp"))
    assert(df.distinct().count() == 1)
  }

  test("simhash: identical texts collide, disjoint texts differ") {
    val df = Seq(
      ("a", "spark query engine shuffle partition broadcast join filter"),
      ("b", "spark query engine shuffle partition broadcast join filter"),
      ("c", "zebra yak xylophone walrus vulture termite snake rhino")
    ).toDF("id", "text").select(col("id"), simhash64(col("text")).as("h"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") == m("b"))
    assert(java.lang.Long.bitCount(m("a") ^ m("c")) > 10)
  }

  test("langId picks marker language, und when no markers") {
    val df = Seq("the cat and the dog of the house",
      "el perro de la casa que ladra", "xyzzy plugh").toDF("text")
      .select(langId(col("text")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "es", "und"))
  }

  test("minhash signature: identical sets agree, est jaccard sane") {
    val df = Seq(
      ("x", "a b c d e f g h i j"),
      ("y", "a b c d e f g h i j")
    ).toDF("id", "text")
      .select(col("id"), minhashSignature(shingles(col("text"), 3), 16).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](1))
    assert(sigs(0) == sigs(1))
    assert(sigs(0).length == 16)
  }

  test("hashEmbedding: deterministic, unit-norm, similarity-preserving") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "entirely unrelated words regarding catalyst planner internals")
    ).toDF("id", "text")
    val emb = df.select(col("id"),
      graft.functions.TextFunctions.hashEmbedding(col("text"), 64).as("v"))
    val rows = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    rows.values.foreach { v =>
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-5) // unit norm
    }
    val again = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows == again) // deterministic
    def cos(a: Seq[Float], b: Seq[Float]) = a.zip(b).map { case (x, y) => x * y }.sum
    assert(cos(rows(1L), rows(2L)) > cos(rows(1L), rows(3L)))
    assert(cos(rows(1L), rows(2L)) > 0.5)
    // the corpus-scale aggregation form computes the same vectors
    val agg = graft.functions.TextFunctions.hashEmbeddings(df, "id", "text", 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    rows.foreach { case (id, v) =>
      v.zip(agg(id)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-5) }
    }
  }

  test("hashEmbeddingsMd5 gate: integer-exact, similarity-preserving") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "entirely unrelated words regarding catalyst planner internals")
    ).toDF("id", "text")
    val rows = graft.functions.TextFunctions.hashEmbeddingsMd5(df, "id", "text", 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // every element is a float-EXACT integer sign-sum (the property
    // the q78 oracle's bit-identical cosine replay rests on)
    rows.values.foreach(v => v.foreach(x => assert(x == math.rint(x))))
    // token count bounds the L1 mass; vectors are non-trivial
    assert(rows(1L).map(math.abs(_)).sum <= 9 && rows(1L).exists(_ != 0f))
    // cosine is computed on the unnormalized form — scale invariance
    // keeps the similarity structure of the normalized kernel
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    assert(cos(rows(1L), rows(2L)) > cos(rows(1L), rows(3L)))
    assert(cos(rows(1L), rows(2L)) > 0.5)
  }

  test("repetition signals: planted doc, exact integers") {
    // "ab cd ab cd ab x" — 6 tokens, 11 chars total.
    // 2-grams: "ab cd"×2, "cd ab"×2, "ab x"×1 → max count 2, tie
    // breaks to the smallest gram "ab cd" (4 chars) → top2 = 2×4 = 8.
    val s = one("ab cd ab cd ab x")
      .select(repetitionSignals(col("text"))).first().getSeq[Long](0)
    assert(s(0) == 11L, s"total: ${s(0)}")
    assert(s(10) == 6L, s"tokens: ${s(10)}")
    assert(s(1) == 8L, s"top2: ${s(1)}")
    // 3-grams: "ab cd ab"×2, "cd ab cd"×1, "cd ab x"×1 → 2×6 = 12
    assert(s(2) == 12L, s"top3: ${s(2)}")
    // 4-grams all distinct → count 1; smallest is "ab cd ab cd"
    // (8 chars) → 1×8
    assert(s(3) == 8L, s"top4: ${s(3)}")
    // no 5-gram repeats in 6 tokens (2 grams, distinct) → dup5 = 0
    assert(s(4) == 0L, s"dup5: ${s(4)}")
  }

  test("repetition signals: dup coverage unions overlapping occurrences") {
    // doubled text: every 5-gram of the first copy repeats, so
    // coverage spans ALL tokens → dup5 = total chars; a doc shorter
    // than n yields 0 for that n, and empty text is all-zero
    val doubled = "a bb c dd e f"
    val s = one(doubled + " " + doubled)
      .select(repetitionSignals(col("text"))).first().getSeq[Long](0)
    assert(s(4) == s(0), s"dup5 ${s(4)} != total ${s(0)}")
    val short = one("a b c").select(repetitionSignals(col("text")))
      .first().getSeq[Long](0)
    assert(short(3) == 0L && short(4) == 0L) // top4 and dup5 at L=3
    val empty = one("").select(repetitionSignals(col("text")))
      .first().getSeq[Long](0)
    assert(empty(0) == 0L && empty(10) == 1L) // split('') = [''] — one empty token
    assert(empty.take(10).forall(v => v == 0L || v == empty(0)))
  }

  test("Gopher repetition filter: clean text passes, looped text fails") {
    // the clean doc must be LONG enough that a count-1 top-4-gram is
    // a small char fraction — the thresholds assume real documents,
    // and a 10-token doc's unique 4-gram is already ~40% of its chars
    val df = Seq(
      ("clean", Seq.tabulate(40)(i => f"w$i%02d").mkString(" ")),
      ("loop", Seq.fill(12)("buy now click here").mkString(" ")),
      ("empty", "")
    ).toDF("k", "text")
    val kept = df.filter(passesGopherRepetitionFilter(col("text")))
      .select(col("k")).collect().map(_.getString(0)).toSet
    assert(kept == Set("clean", "empty"), kept.toString)
  }
}
