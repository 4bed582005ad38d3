package graft

import org.apache.spark.sql.functions._
import graft.operators.{HashFamily, Sampling}

/** Token-budget sampling + decontamination semantics. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("sampleToTokenBudget equals the single-window reference result") {
    val df = (0 until 500).map(i => (i.toLong, (i % 37) + 1L)).toDF("id", "n")
    val got = Sampling.sampleToTokenBudget(df, "id", "n", 2000L)
      .select("id").collect().map(_.getLong(0)).toSet
    // reference: one global window (fine at test size)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(md5(col("id").cast("string").cast("binary")).asc, col("id").asc)
    val want = df.withColumn("c", sum(col("n")).over(w))
      .filter(col("c") - col("n") < 2000L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < 500)
  }

  test("stratified budgets sample each stratum independently in one pass") {
    val df = (0 until 600).map { i =>
      (i.toLong, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr",
        (i % 23) + 1L)
    }.toDF("id", "lang", "n")
    val got = Sampling.sampleToTokenBudgetBy(df, "id", "n", "lang",
      Map("en" -> 800L, "de" -> 300L))
    val byLang = got.groupBy("lang").agg(sum("n").as("t"), count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byLang.keySet == Set("en", "de")) // fr dropped
    // each stratum lands within one doc of its budget
    assert(byLang("en")._1 >= 800L && byLang("en")._1 <= 800L + 23)
    assert(byLang("de")._1 >= 300L && byLang("de")._1 <= 300L + 23)
    // per-stratum reference windows agree exactly
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(md5(col("id").cast("string").cast("binary")).asc, col("id").asc)
    val want = df.filter(col("lang").isin("en", "de"))
      .withColumn("c", sum(col("n")).over(w))
      .withColumn("b", when(col("lang") === "en", 800L).otherwise(300L))
      .filter(col("c") - col("n") < col("b"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got.select("id").collect().map(_.getLong(0)).toSet == want)
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text about spark plans"),
      (3L, "quick brown fox jumps over something else entirely"),
      (4L, "tiny")
    ).toDF("doc_id", "text")
    val bench = Seq("a benchmark with the quick brown fox jumps inside").toDF("text")
    val clean = Sampling.decontaminate(train, "doc_id", "text", bench, "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 1 and 3 share the 4-gram "quick brown fox jumps"; 4 is too short
    assert(clean == Set(2L, 4L))
    val flagged = Sampling.contaminatedDocs(train, "doc_id", "text", bench, "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet == Set(1L, 3L))
  }

  test("hashSplit is a deterministic partition with the right proportions") {
    val df = (0 until 5000).map(i => Tuple1(i.toLong)).toDF("id")
    val w = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val s1 = Sampling.hashSplit(df, "id", w)
    // every row lands in exactly one named slice
    assert(s1.count() == 5000)
    val counts = s1.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    // binomial 3-sigma bands at n=5000: train 4000±85, val/test 500±64
    assert(math.abs(counts("train") - 4000L) < 90, s"train=${counts("train")}")
    assert(math.abs(counts("val") - 500L) < 70, s"val=${counts("val")}")
    assert(math.abs(counts("test") - 500L) < 70, s"test=${counts("test")}")
    // stable across runs; weights normalize (8/1/1 == 0.8/0.1/0.1)
    val s2 = Sampling.hashSplit(df, "id", Seq(("train", 8.0), ("val", 1.0), ("test", 1.0)))
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
    // a different seed reassigns a nontrivial fraction
    val s3 = Sampling.hashSplit(df, "id", w, seed = 7L)
    assert(s1.except(s3).count() > 500)
    // the md5 gate twin partitions with the same proportions contract
    val g = Sampling.hashSplit(df, "id", w, family = HashFamily.Md5)
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g.keySet == Set("train", "val", "test"))
    assert(math.abs(g("train") - 4000L) < 90, s"gate train=${g("train")}")
  }

  test("hashSplit refuses empty or non-positive weights") {
    val df = Seq(Tuple1(1L)).toDF("id")
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "id", Nil).collect()
    }
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "id", Seq(("a", 1.0), ("b", 0.0))).collect()
    }
  }

  test("sampleNPerGroup: salted two-phase == naive global top-n, deterministic, growth-stable") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(5000L)
      .select(col("id"), (col("id") % 7).cast("string").as("g"))
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val got = ids(Sampling.sampleNPerGroup(df, "id", Seq("g"), 10)
      .select(col("id"), col("g")))
    // naive single-window reference with the SAME xxhash64 key
    val naive = ids(df
      .withColumn("__k", xxhash64(concat(col("id").cast("string"), lit("#42"))))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("__k").asc, col("id").asc)))
      .filter(col("__r") <= 10).select(col("id"), col("g")))
    assert(got == naive)
    assert(got.groupBy(_._1).view.mapValues(_.size).toMap.values.toSet == Set(10))
    // rerun identical
    assert(got == ids(Sampling.sampleNPerGroup(df, "id", Seq("g"), 10)
      .select(col("id"), col("g"))))
    // growth stability: adding rows only ever displaces a kept id by
    // hashing BELOW it — the new sample is a subset-or-equal blend,
    // never a reshuffle: every id kept in the grown corpus that
    // existed before was kept before too... only if its rank didn't
    // change; the hashSplit-style invariant here is: kept-before ∧
    // still-kept-after ⊆ same hash order, so the overlap is exactly
    // the old sample minus ids displaced by smaller-hashing newcomers
    val grown = df.unionByName(spark.range(5000L, 6000L)
      .select(col("id"), (col("id") % 7).cast("string").as("g")))
    val after = ids(Sampling.sampleNPerGroup(grown, "id", Seq("g"), 10)
      .select(col("id"), col("g")))
    assert((after -- got).forall(_._2 >= 5000L),
      "an old id entered the sample without new data hashing below the cut")
  }

  test("sampleNPerGroupMd5 gate twin uses md5 order (differs only in hash family)") {
    val df = spark.range(100L)
      .select(col("id"), (col("id") % 2).cast("string").as("g"))
    val gate = Sampling.sampleNPerGroup(df, "id", Seq("g"), 3, family = HashFamily.Md5)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    // reference: sort by md5 hex on the driver
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = (0L until 100L).groupBy(i => (i % 2).toString).toSeq.flatMap {
      case (g, is) => is.sortBy(i => (m(s"$i#42"), i)).take(3).map(g -> _)
    }.toSet
    assert(gate == want)
  }

  test("weightedSample: A-ES semantics — weight dominance, monotonicity, determinism") {
    import spark.implicits._
    val base = (0L until 200L).map(i => (i, 10L)).toDF("id", "w")
    // a huge weight pushes ln(u)/w to ~0 (the max possible key):
    // always sampled regardless of its hash draw
    val withGiant = base.union(Seq((999L, 1000000000000L)).toDF("id", "w"))
    val got = Sampling.weightedSample(withGiant, "id", "w", k = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got.contains(999L))
    assert(got.size == 10)
    // monotonicity: raising a sampled row's weight never evicts it
    val sampled = got.filter(_ != 999L).head
    val boosted = withGiant.withColumn("w",
      when(col("id") === sampled, col("w") * 100).otherwise(col("w")))
    val got2 = Sampling.weightedSample(boosted, "id", "w", k = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got2.contains(sampled))
    // partition-layout invariance
    val got3 = Sampling.weightedSample(withGiant.repartition(13), "id", "w", 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got3 == got)
    // non-positive weights are excluded, never sampled
    val withZero = base.union(Seq((777L, 0L), (778L, -5L)).toDF("id", "w"))
    val got4 = Sampling.weightedSample(withZero, "id", "w", k = 200)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!got4.contains(777L) && !got4.contains(778L) && got4.size == 200)
    // md5 twin == independent reimplementation of the key math
    val md = java.security.MessageDigest.getInstance("MD5")
    def key9(id: Long, w: Long): Long = {
      val hex = md.digest(s"$id#42".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16) + 1.0) / 4294967297.0
      math.round(math.log(u) / w * 1e9)
    }
    val twin = Sampling.weightedSample(base, "id", "w", k = 5, family = HashFamily.Md5)
      .select("id", "key9").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (0L until 200L).map(i => (i, key9(i, 10L)))
      .sortBy { case (i, k9) => (-k9, i) }.take(5)
    assert(twin.toSeq == want)
    // plan: top-k lowers to TakeOrderedAndProject, no global sort
    val plan = Sampling.weightedSample(base, "id", "w", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("weightedSample: sub-1e-9 weights clamp to Long.MinValue, order by weight") {
    import spark.implicits._
    // ln(u)/w·1e9 at w=1e-15 is ~1e24 in magnitude — far past Long
    // range; an unclamped cast would be an ANSI runtime error
    val tiny = Seq((1L, 1e-15), (2L, 3e-15), (3L, 2e-15), (4L, 10.0))
      .toDF("id", "w")
    val got = Sampling.weightedSample(tiny, "id", "w", k = 4)
      .select("id", "key9").collect().map(r => (r.getLong(0), r.getLong(1)))
    // the normal-weight row wins outright; the clamped rows all sit at
    // the Long.MinValue floor and order by weight desc (3e-15 > 2e-15
    // > 1e-15) — NOT by id
    assert(got.map(_._1).toSeq == Seq(4L, 2L, 3L, 1L), got.toSeq.toString)
    assert(got.drop(1).forall(_._2 == Long.MinValue), got.toSeq.toString)
    // NaN weights are excluded like the non-positive ones
    val withNaN = tiny.union(Seq((5L, Double.NaN)).toDF("id", "w"))
    val ids = Sampling.weightedSample(withNaN, "id", "w", 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(5L) && ids.size == 4)
  }

  test("prefix sampler refuses id-like and non-atomic strata instead of collecting them") {
    // phase 1 collects (stratum, bucket) totals and driver-groups by
    // the stratum VALUES: an id-like stratum must fail with a named
    // error (limit-bounded collect, never an OOM), and array strata
    // must refuse up front (driver-side grouping would compare them
    // by reference and split one stratum's budget across phantom rows)
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, 10L, s"s$i")).toDF("id", "toks", "strat")
    val budgets = (1L to 40L).map(i => s"s$i" -> 100L).toMap
    spark.conf.set("spark.graft.sampling.maxStrataBuckets", "8")
    try {
      val e = intercept[IllegalArgumentException] {
        Sampling.sampleToTokenBudgetBy(df, "id", "toks", "strat", budgets)
          .count()
      }
      assert(e.getMessage.contains("id-like"), e.getMessage)
      assert(e.getMessage.contains("maxStrataBuckets"), e.getMessage)
      // the budgets front door (temperatureBudgets) is bounded too
      val e2 = intercept[IllegalArgumentException] {
        Sampling.temperatureBudgets(df, "strat", "toks", 1000L, 0.5)
      }
      assert(e2.getMessage.contains("id-like"), e2.getMessage)
    } finally spark.conf.unset("spark.graft.sampling.maxStrataBuckets")
    // under the default cap the same calls just work
    assert(Sampling.sampleToTokenBudgetBy(df, "id", "toks", "strat",
      budgets).count() > 0)
    assert(Sampling.temperatureBudgets(df, "strat", "toks", 1000L, 0.5)
      .size == 40)
    // array strata refuse loudly — either at the budget-key isin
    // (analysis-time type mismatch) or at withCumsum's atomic-type
    // guard (which also protects any future direct prefixSample
    // caller); driver-side grouping would otherwise compare arrays by
    // reference and split one stratum across phantom rows
    val arr = spark.sql(
      "SELECT id, 10L AS toks, array('x') AS strat FROM range(5)")
    val e3 = intercept[Exception] {
      Sampling.sampleToTokenBudgetBy(arr, "id", "toks", "strat",
        Map("WrappedArray(x)" -> 100L)).count()
    }
    assert(e3.getMessage.contains("atomic") ||
      e3.getMessage.toLowerCase.contains("mismatch"), e3.getMessage)
  }

  test("temperatureSqrtBudgets: exact fixed-point twin tracks the double path at alpha=1/2") {
    import spark.implicits._
    val d = Seq.tabulate(600) { i =>
      val lang = if (i % 6 == 0) "de" else if (i % 6 == 1) "fr" else "en"
      (i.toLong, lang, 5L + i % 37)
    }.toDF("id", "lang", "toks")
    val twin = Sampling.temperatureSqrtBudgets(d, "lang", "toks", 3000L)
    val dbl = Sampling.temperatureBudgets(d, "lang", "toks", 3000L, 0.5)
    assert(twin.keySet == dbl.keySet)
    // same semantics up to the fixed-point grain: every stratum's
    // budget within 1 token of the double kernel's
    twin.foreach { case (k, b) =>
      assert(math.abs(b - dbl(k)) <= 1L, s"$k: twin=$b double=${dbl(k)}")
    }
    // never hands a stratum more than it has, never exceeds the total
    val tot = d.groupBy($"lang").agg(org.apache.spark.sql.functions.sum($"toks"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    twin.foreach { case (k, b) => assert(b <= tot(k)) }
    assert(twin.values.sum <= 3000L)
    // and the budgets compose with the sampler (the q138 gate shape)
    val sampled = Sampling.sampleToTokenBudgetBy(d, "id", "toks", "lang", twin)
    val got = sampled.groupBy($"lang")
      .agg(org.apache.spark.sql.functions.sum($"toks")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // each stratum fills its budget exactly, overshooting only by the
    // one straddling document (< max doc length, 41 here)
    got.foreach { case (k, s) =>
      assert(s >= math.min(twin(k), tot(k)) && s < twin(k) + 41L,
        s"$k: sampled=$s budget=${twin(k)} total=${tot(k)}")
    }
  }
}
