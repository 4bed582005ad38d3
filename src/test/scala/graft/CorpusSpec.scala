package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Sampling}

/** Corpus statistics / retrieval / packing operators (round-5 batch):
  * semantics against hand-computable fixtures, the bloom-vs-exact
  * equality, the CMS overestimate guarantee, and plan-shape checks.
  */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "a b c a b c a b", "en", "s0"),
    (1L, "a b c d e f g h", "en", "s0"),
    (2L, "x y z x y z x y", "de", "s1"),
    (3L, "a b c a b c a b", "de", "s1") // exact copy of doc 0
  ).toDF("doc_id", "text", "lang", "source")

  test("topKNgrams matches brute-force counts with deterministic ties") {
    val got = CorpusStats.topKNgrams(docs, "text", 2, 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val brute = docs.collect().flatMap { r =>
      r.getString(1).split(" ").sliding(2).map(_.mkString(" "))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (g, c) => (-c, g) }.take(5)
    assert(got.toSeq == brute)
  }

  test("ngrams keeps multiplicity; shingles dedupes") {
    val row = docs.filter($"doc_id" === 0)
      .select(TextFunctions.ngrams($"text", 2).as("all"),
        TextFunctions.shingles($"text", 2).as("distinct"))
      .head()
    assert(row.getSeq[String](0).length == 7) // 8 tokens → 7 bigrams
    assert(row.getSeq[String](1).toSet == row.getSeq[String](0).toSet)
    assert(row.getSeq[String](1).length < row.getSeq[String](0).length)
  }

  test("vocabStats computes exact per-group token statistics") {
    val got = CorpusStats.vocabStats(docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // s0: docs 0,1 → 16 tokens, distinct {a..h} = 8
    assert(got("s0") == ((2L, 16L, 8L, 0.5)))
    // s1: docs 2,3 → 16 tokens, distinct {x,y,z,a,b,c} = 6
    assert(got("s1") == ((2L, 16L, 6L, 0.375)))
  }

  test("repetitionStats finds the dominant bigram and its coverage") {
    val got = CorpusStats.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 0 "a b c a b c a b": "a b" ×3, frac 6/8
    assert(got(0L) == (("a b", 3L, 0.75)))
    // doc 1 all-distinct bigrams ×1; tie → lexicographically greatest
    assert(got(1L)._2 == 1L && got(1L)._1 == "g h")
  }

  test("chunkDedup keeps first occurrence only and reassembles in order") {
    val d = Seq(
      (0L, "a b c d e f"),     // chunks (w=3): "a b c", "d e f"
      (1L, "a b c g h i"),     // first chunk duplicates doc 0's
      (2L, "a b c d e f")      // both chunks duplicate doc 0's
    ).toDF("doc_id", "text")
    val got = CorpusStats.chunkDedup(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.keySet == Set(0L, 1L)) // doc 2 fully deduped away
    assert(got(0L)._1 == 2L)
    assert(got(1L)._1 == 1L)
    val md5gh = java.security.MessageDigest.getInstance("MD5")
      .digest("g h i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L)._2 == md5gh) // doc 1 reassembles to its surviving chunk
  }

  test("chunkDedup decimal packing survives extreme 64-bit ids (no ANSI overflow)") {
    val d = Seq(
      (Long.MaxValue, "a b c d e f"),
      (Long.MaxValue - 1L, "a b c g h i"),
      (0L, "j k l m n o")
    ).toDF("doc_id", "text")
    val got = CorpusStats.chunkDedup(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ids round-trip exactly through the decimal pack
    assert(got.keySet == Set(Long.MaxValue, Long.MaxValue - 1L, 0L))
    // shared "a b c": first occurrence = min (doc, pos) = MaxValue-1
    assert(got(Long.MaxValue - 1L) == 2L)
    assert(got(Long.MaxValue) == 1L) // kept only its unique "d e f"
    assert(got(0L) == 2L)
  }

  test("normalizeText lowercases, strips punctuation, collapses space; idempotent") {
    val got = Seq(("  Hello,   WORLD!! x-1  ", 0))
      .toDF("t", "i")
      .select(TextFunctions.normalizeText($"t").as("n"))
      .head().getString(0)
    assert(got == "hello world x 1")
    val again = Seq((got, 0)).toDF("t", "i")
      .select(TextFunctions.normalizeText($"t")).head().getString(0)
    assert(again == got)
    // Unicode edge: characters whose LOWERCASE maps into ASCII
    // (U+212A KELVIN → k) must survive in BOTH forms; ordinary
    // non-ASCII (é, 汉) collapses to a space in both
    val uni = Seq(("mix K naïve 汉字 Ab1", 0)).toDF("t", "i")
      .select(TextFunctions.normalizeText($"t").as("re"),
        TextFunctions.normalizeTextNative($"t").as("nat"))
      .head()
    assert(uni.getString(0) == uni.getString(1),
      s"regex='${uni.getString(0)}' native='${uni.getString(1)}'")
    assert(uni.getString(1).startsWith("mix k na"))
  }

  test("PII counting and redaction") {
    val r = Seq(("mail a@b.com and c.d@e.org, site https://x.io/p?q=1 ip 10.0.0.1 ok", 0))
      .toDF("t", "i")
      .select(
        TextFunctions.countMatches($"t", TextFunctions.EmailPattern).as("e"),
        TextFunctions.countMatches($"t", TextFunctions.UrlPattern).as("u"),
        TextFunctions.countMatches($"t", TextFunctions.Ipv4Pattern).as("ip"),
        TextFunctions.redactPii($"t").as("red"))
      .head()
    assert(r.getLong(0) == 2 && r.getLong(1) == 1 && r.getLong(2) == 1)
    assert(r.getString(3) == "mail <EMAIL> and <EMAIL>, site <URL> ip <IP> ok")
  }

  test("bm25 ranks all-terms doc over one-term doc, idf favors rare terms") {
    val d = Seq(
      (0L, "spark join window filler filler filler"), // all three terms
      (1L, "spark filler filler filler filler filler"), // one common term
      (2L, "filler filler filler filler filler filler"), // no terms
      (3L, "spark spark filler filler filler filler")
    ).toDF("doc_id", "text")
    val got = CorpusStats.bm25TopK(d, "doc_id", "text",
      Seq("spark", "join", "window"), 3).collect()
    assert(got.length == 3) // doc 2 scores nothing → absent
    assert(!got.map(_.getLong(0)).contains(2L))
    assert(got.head.getLong(0) == 0L) // superset of matched terms wins
    assert(got.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
    // rare-term weighting: "window" (df=1) outweighs "spark" (df=3)
    // even against doubled tf — doc 3 (spark ×2) stays below doc 0
    assert(got.map(_.getLong(0)).indexOf(3L) > 0)
  }

  test("packSequences: contiguous fill, capacity respected up to one straddler") {
    val d = (0 until 200).map(i => (i.toLong, (i % 29) + 1L)).toDF("id", "n")
    val got = Sampling.packSequences(d, "id", "n", 100L)
    assert(got.count() == 200) // every doc assigned
    // per-bin sums: at most capacity + (last doc − 1) overflow; here a
    // bin's sum minus its largest member must be under capacity
    val bins = got.groupBy("bin").agg(sum("n").as("s"), max("n").as("m"))
      .collect()
    assert(bins.forall(r => r.getLong(1) - r.getLong(2) < 100L))
    // bins are contiguous in the deterministic order: cum bins = 0..B
    val ids = got.select("bin").distinct().collect().map(_.getLong(0)).sorted
    assert(ids.head == 0L && ids.last == ids.length - 1)
  }

  test("temperatureBudgets: alpha interpolates natural -> uniform; composes with sampler") {
    val d = (0 until 900).map { i =>
      val lang = if (i < 600) "en" else if (i < 850) "de" else "fr"
      (i.toLong, lang, 10L)
    }.toDF("id", "lang", "n") // en:6000, de:2500, fr:500 tokens
    val nat = Sampling.temperatureBudgets(d, "lang", "n", 3000L, alpha = 1.0)
    assert(nat("en") == 2000L && nat("de") == 833L && nat("fr") == 166L)
    val uni = Sampling.temperatureBudgets(d, "lang", "n", 900L, alpha = 0.0)
    assert(uni.values.toSet == Set(300L))
    val temp = Sampling.temperatureBudgets(d, "lang", "n", 3000L, alpha = 0.5)
    // up-weights the small stratum relative to natural, stays below uniform share
    assert(temp("fr") > nat("fr") && temp("fr") < temp("en"))
    // a stratum never gets more budget than it has tokens
    val capped = Sampling.temperatureBudgets(d, "lang", "n", 100000L, alpha = 0.0)
    assert(capped("fr") == 500L)
    // composes: the sampled mixture lands within one doc of each budget
    val got = Sampling.sampleToTokenBudgetBy(d, "id", "n", "lang", temp)
      .groupBy("lang").agg(sum("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    temp.foreach { case (k, b) =>
      assert(got(k) >= math.min(b, 10L) && got(k) <= b + 10L, s"$k: ${got(k)} vs $b")
    }
  }

  test("writeShards: whole bins per shard, in-order, lossless") {
    val d = (0 until 300).map(i => (i.toLong, (i % 41) + 1L)).toDF("id", "n")
    val out = java.nio.file.Files.createTempDirectory("graft-shards-").toString
    try {
      Sampling.writeShards(d, "id", "n", maxLen = 200L, out, binsPerShard = 4)
      val back = spark.read.parquet(out)
      // lossless: every doc exactly once
      assert(back.count() == 300)
      assert(back.select("id").distinct().count() == 300)
      // shard ⊇ whole bins: every bin lives in exactly one shard,
      // and shards hold consecutive bins
      val byBin = back.groupBy("bin")
        .agg(countDistinct("shard").as("s"), first("shard").as("sh")).collect()
      assert(byBin.forall(_.getLong(1) == 1L))
      byBin.foreach(r => assert(r.getLong(0) / 4 == r.getAs[Number](2).longValue))
      // packing agrees with packSequences exactly
      val direct = Sampling.packSequences(d, "id", "n", 200L)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      back.collect().foreach { r =>
        assert(direct(r.getAs[Long]("id")) == r.getAs[Long]("bin"))
      }
    } finally {
      import java.nio.file._
      scala.util.Using.resource(Files.walk(Paths.get(out))) { w =>
        w.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
  }

  test("bloom-prefiltered decontamination equals the exact path") {
    val train = Tables(spark, sf001, "documents")
    val bench = train.filter($"doc_id" % 50 === 0).select($"text")
    // the sketch build raises the runtime-bloom-filter conf ceilings;
    // they must come back to their prior values so later queries in the
    // session don't inherit oversized runtime join filters
    val keys = Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    val before = keys.map(k => spark.conf.getOption(k))
    val exact = Sampling.decontaminate(train, "doc_id", "text", bench, "text",
      n = 7, minShared = 2).select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Sampling.decontaminateBloom(train, "doc_id", "text", bench, "text",
      n = 7, minShared = 2).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom == exact)
    assert(exact.nonEmpty)
    assert(keys.map(k => spark.conf.getOption(k)) == before,
      "bloom conf ceilings must be restored after the sketch build")
  }

  test("CMS estimates honor the overestimate guarantee") {
    val d = Tables(spark, sf001, "documents")
    val eps = 0.001
    val total = d.select(explode(TextFunctions.ngrams($"text", 3))).count()
    val rows = CorpusStats.sketchedTopKNgrams(d, "text", 3, 20, eps).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val exact = r.getLong(1); val est = r.getLong(2)
      assert(est >= exact, s"CMS must never underestimate: ${r.getString(0)}")
      assert(est <= exact + (eps * total).toLong + 1,
        s"CMS overestimate beyond eps bound: ${r.getString(0)}")
    }
  }

  test("md5 CMS gate kernel honors the same one-sided bound") {
    val d = Tables(spark, sf001, "documents")
    val width = 2048; val total = d.select(explode(TextFunctions.ngrams($"text", 3))).count()
    val rows = CorpusStats.sketchedTopKNgramsMd5(d, "text", 3, 20).collect()
    assert(rows.length == 20)
    // same top-20 grams/exact counts as the production path
    val exactTop = CorpusStats.topKNgrams(d, "text", 3, 20).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val g = r.getString(0); val exact = r.getLong(1); val est = r.getLong(2)
      assert(exactTop(g) == exact, s"exact count mismatch for $g")
      assert(est >= exact, s"md5 CMS must never underestimate: $g")
      // ε = e/width for the classic bound; generous slack at this width
      assert(est <= exact + (math.E / width * total).toLong + 1,
        s"md5 CMS overestimate beyond eps bound: $g ($est vs $exact)")
    }
  }

  test("kmeans: deterministic, WCSS non-increasing in iterations, recovers blobs") {
    import graft.operators.Clustering
    // two well-separated blobs in 4-d
    val pts = ((0 until 30).map(i =>
      (i.toLong, Array(10.0f + i % 3 * 0.1f, 10f, 10f, 10f).toSeq)) ++
      (30 until 60).map(i =>
        (i.toLong, Array(-10.0f - i % 3 * 0.1f, -10f, -10f, -10f).toSeq)))
      .toDF("id", "v")
    val m1 = Clustering.kmeans(pts, "id", "v", k = 2, iters = 1)
    val m5 = Clustering.kmeans(pts, "id", "v", k = 2, iters = 5)
    assert(m5.wcss <= m1.wcss + 1e-9, s"WCSS rose: ${m1.wcss} -> ${m5.wcss}")
    val asg = m5.assignments.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val blob0 = (0 until 30).map(i => asg(i.toLong)).toSet
    val blob1 = (30 until 60).map(i => asg(i.toLong)).toSet
    assert(blob0.size == 1 && blob1.size == 1 && blob0 != blob1,
      "separated blobs must land in distinct single clusters")
    // determinism: identical rerun
    val again = Clustering.kmeans(pts, "id", "v", k = 2, iters = 5)
    val asg2 = again.assignments.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(asg2 == asg)
    Seq(m1, m5, again).foreach(_.unpersist()) // release the cached index frames
  }

  test("kmeansMd5 gate: partitions the same planted blobs as production kmeans") {
    import graft.operators.Clustering
    val pts = ((0 until 30).map(i =>
      (i.toLong, Array(10.0f + i % 3 * 0.1f, 10f, 10f, 10f).toSeq)) ++
      (30 until 60).map(i =>
        (i.toLong, Array(-10.0f - i % 3 * 0.1f, -10f, -10f, -10f).toSeq)))
      .toDF("id", "v")
    val prod = Clustering.kmeans(pts, "id", "v", k = 2, iters = 3)
    val gate = Clustering.kmeansMd5(pts, "id", "v", k = 2, iters = 3)
    val pAsg = prod.assignments.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gAsg = gate.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // cluster LABELS differ (different inits) but the induced partition of
    // ids must be identical: same blobs, different names
    val pGroups = pAsg.groupBy(_._2).values.map(_.keySet).toSet
    val gGroups = gAsg.groupBy(_._2).values.map(_.keySet).toSet
    assert(pGroups == gGroups,
      "gate and production kmeans must induce the same blob partition")
    // gate distances are in quantized space: dist2 of a point ~0.1 from its
    // centroid at scale 1024 is ~(0.1*1024)^2 per differing dim — nonzero
    assert(gate.collect().forall(_.getDouble(2) >= 0.0))
    prod.unpersist()
  }

  test("invertedIndex: df counts and sorted postings, maxDf cap") {
    val idx = CorpusStats.invertedIndex(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(idx("a")._1 == 3L && idx("a")._2 == Seq(0L, 1L, 3L))
    assert(idx("x")._1 == 1L && idx("x")._2 == Seq(2L))
    idx.values.foreach { case (df, posts) =>
      assert(posts.length == df && posts == posts.sorted)
    }
    // stop-word cap drops ubiquitous terms
    val capped = CorpusStats.invertedIndex(docs, "doc_id", "text", maxDf = 2L)
    assert(!capped.collect().map(_.getString(0)).contains("a"))
    // scale contract: the df gate sits BELOW the posting-list agg — a
    // capped term's ids never enter a collect_list buffer. In the
    // optimized plan the collect_list Aggregate's subtree must contain
    // the df-gate Join (collect-then-filter would place the Join above).
    val collectAggs = capped.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.aggregateExpressions.map(_.sql).exists(_.contains("collect_list")) => a
    }
    assert(collectAggs.nonEmpty, "expected a collect_list aggregate")
    collectAggs.foreach { a =>
      val joinBelow = a.child.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joinBelow.nonEmpty,
        "df-gate join must run before posting-list collection")
    }
  }

  test("lengthProfile: exact quantiles over a known distribution") {
    val d = (1 to 100).map(i => ("s", ("w " * i).trim)).toDF("source", "text")
    val r = CorpusStats.lengthProfile(d, "text", "source").head()
    assert(r.getLong(1) == 100L)        // n_docs
    assert(r.getLong(2) == 1L)          // min
    assert(r.getDouble(4) == 50.5)      // median of 1..100
    assert(r.getLong(7) == 100L)        // max
    assert(r.getDouble(8) == 50.5)      // mean
  }

  test("randomized: ngrams/tokenChunks/normalize agree with independent Scala models") {
    val rnd = new scala.util.Random(7)
    def word() = (0 until 1 + rnd.nextInt(8))
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val texts = (0 until 200).map { i =>
      val toks = (0 until 1 + rnd.nextInt(30)).map(_ => word())
      val raw = toks.mkString(" ")
      // salt some case + punctuation for the normalizer
      val salted = if (i % 3 == 0) raw.toUpperCase + "!! ,-" + raw.take(4) else raw
      (i.toLong, raw, salted)
    }
    val df = texts.toDF("id", "raw", "salted")
    val n = 3; val w = 4
    val got = df.select($"id",
      TextFunctions.ngrams($"raw", n).as("g"),
      TextFunctions.tokenChunks($"raw", w).as("c"),
      TextFunctions.normalizeText($"salted").as("nm"),
      TextFunctions.normalizeTextNative($"salted").as("nmNative"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getSeq[String](2), r.getString(3), r.getString(4))).toMap
    texts.foreach { case (id, raw, salted) =>
      val toks = raw.split(" ").toSeq
      // model 1: sliding-window n-grams keep multiplicity and order
      val wantG = if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      assert(got(id)._1 == wantG, s"ngrams diverged for '$raw'")
      // model 2: grouped chunks cover the tokens exactly
      val wantC = toks.grouped(w).map(_.mkString(" ")).toSeq
      assert(got(id)._2 == wantC, s"chunks diverged for '$raw'")
      // model 3: char-loop normalizer (independent of regex machinery)
      val sb = new StringBuilder
      salted.toLowerCase.foreach { ch =>
        if (ch.isDigit || (ch >= 'a' && ch <= 'z')) sb.append(ch)
        else if (sb.nonEmpty && sb.last != ' ') sb.append(' ')
      }
      assert(got(id)._3 == sb.result().stripSuffix(" "), s"normalize diverged for '$salted'")
      // the native one-pass kernel is byte-identical to the regex form
      assert(got(id)._4 == got(id)._3, s"native normalizer diverged for '$salted'")
    }
  }

  test("randomized: redaction is complete and a no-op on clean text") {
    val rnd = new scala.util.Random(11)
    def word() = (0 until 1 + rnd.nextInt(6))
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val rows = (0 until 100).map { i =>
      val clean = (0 until 5).map(_ => word()).mkString(" ")
      val dirty = i % 4 match {
        case 0 => s"$clean ${word()}@${word()}.com $clean"
        case 1 => s"$clean https://${word()}.io/${word()} $clean"
        case 2 => s"$clean ${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)} $clean"
        case _ => clean
      }
      (i.toLong, clean, dirty)
    }
    val df = rows.toDF("id", "clean", "dirty")
    val red = df.select($"id",
      TextFunctions.redactPii($"clean").as("rc"),
      TextFunctions.redactPii($"dirty").as("rd"),
      (TextFunctions.countMatches(TextFunctions.redactPii($"dirty"),
        TextFunctions.EmailPattern) +
       TextFunctions.countMatches(TextFunctions.redactPii($"dirty"),
        TextFunctions.UrlPattern) +
       TextFunctions.countMatches(TextFunctions.redactPii($"dirty"),
        TextFunctions.Ipv4Pattern)).as("residue"))
      .collect()
    rows.zip(red.sortBy(_.getLong(0))).foreach { case ((i, clean, dirty), r) =>
      assert(r.getString(1) == clean, "redaction must not touch clean text")
      assert(r.getLong(3) == 0L, s"PII survived redaction in '$dirty' -> '${r.getString(2)}'")
      if (i % 4 != 3) assert(r.getString(2) != dirty, "dirty text must change")
    }
  }

  test("bpeTokens: contractions, digit runs, punctuation runs, unicode letters") {
    val r = Seq(("It's  rock-n-roll v2.5, naïve... really!", 0))
      .toDF("t", "i")
      .select(TextFunctions.bpeTokens($"t").as("tk"),
        TextFunctions.bpeTokenCount($"t").as("n"))
      .head()
    val toks = r.getSeq[String](0)
    assert(toks == Seq("It", "'s", "rock", "-", "n", "-", "roll", "v", "2",
      ".", "5", ",", "naïve", "...", "really", "!"), toks.toString)
    assert(r.getLong(1) == toks.length)
  }

  test("bigramLmScore: corpus-typical text outscores shuffled gibberish") {
    // corpus of repetitive natural-ish docs + one doc of rare bigrams
    val base = (0 until 30).map(i =>
      (i.toLong, "the cat sat on the mat and the dog sat on the rug"))
    val odd = Seq((99L, "mat the on rug cat and dog sat the on the"))
    val d = (base ++ odd).toDF("doc_id", "text")
    val got = CorpusStats.bigramLmScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(0L) > got(99L),
      s"typical doc must outscore shuffled doc: ${got(0L)} vs ${got(99L)}")
    // every common doc scores identically (same text)
    assert((0 until 30).map(i => got(i.toLong)).distinct.size == 1)
    // smoothing keeps scores finite even for unseen-heavy docs
    assert(got.values.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("bigramLmScoreAgainst: reference LM ranks in-domain above out-of-domain") {
    val ref = (0 until 30).map(i =>
      (1000L + i, "the cat sat on the mat and the dog sat on the rug"))
      .toDF("doc_id", "text")
    val target = Seq(
      (1L, "the cat sat on the mat"),            // pure in-domain
      (2L, "qq ww ee rr tt yy uu ii"),           // fully reference-unseen
      (3L, "the cat zz qq on the mat")           // mixed
    ).toDF("doc_id", "text")
    val got = CorpusStats.bigramLmScoreAgainst(ref, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // unseen n-grams keep smoothed mass: the out-of-domain doc is
    // PRESENT with a low finite score, not dropped
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) > got(3L) && got(3L) > got(2L),
      s"expected in-domain > mixed > out-of-domain, got $got")
    assert(got.values.forall(v => !v.isNaN && !v.isInfinite))
    // self-scoring parity: ref == target reduces the LEFT joins to the
    // inner form, so the cross kernel must equal bigramLmScore exactly
    val self = CorpusStats.bigramLmScore(ref, "doc_id", "text")
    val cross = CorpusStats.bigramLmScoreAgainst(ref, ref, "doc_id", "text")
    assert(self.except(cross).isEmpty && cross.except(self).isEmpty)
  }

  test("containmentPairs flags the embedded short doc that Jaccard misses") {
    import graft.operators.Dedup
    val long = (0 until 60).map(i => s"w$i").mkString(" ")
    val short = (10 until 22).map(i => s"w$i").mkString(" ") // 12 tokens inside long
    val d = Seq((1L, long), (2L, short),
      (3L, (100 until 140).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(d, "doc_id", "text", 3, 0.9).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(cont.head.getDouble(2) == 1.0) // every short-doc shingle is in long
    // the symmetric measure stays far below any dedup threshold here
    val jac = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5)
    assert(jac.count() == 0)
  }

  test("randomized: containment/jaccard pairs agree with brute-force set models") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(29)
    // small vocab → dense overlaps
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 8 + rnd.nextInt(20)).map(_ => s"v${rnd.nextInt(12)}").mkString(" "))
    }
    val d = docs.toDF("doc_id", "text")
    def shingleSet(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    val wantCont = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      inter = (sets(a) intersect sets(b)).size
      denom = math.min(sets(a).size, sets(b).size)
      if denom > 0 && inter.toDouble / denom >= 0.6
    } yield (a, b)).toSet
    val gotCont = Dedup.containmentPairs(d, "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotCont == wantCont)
    val wantJac = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      inter = (sets(a) intersect sets(b)).size
      union = (sets(a) union sets(b)).size
      if union > 0 && inter.toDouble / union >= 0.4
    } yield (a, b)).toSet
    val gotJac = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotJac == wantJac)
  }

  test("chunkDocuments: stride/overlap coverage, map-side only") {
    val d = Seq((1L, (0 until 50).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = CorpusStats.chunkDocuments(d, "doc_id", "text", width = 20, overlap = 5)
      .orderBy("chunk_id").collect()
    // 50 tokens, stride 15: windows at 0,15,30 → ceil(30/15)+1 = 3
    assert(chunks.length == 3)
    val texts = chunks.map(_.getString(2))
    assert(texts(0).startsWith("t0 ") && texts(1).startsWith("t15 ")
      && texts(2).startsWith("t30 "))
    // consecutive windows overlap by exactly `overlap` tokens mid-doc
    assert(texts(0).split(" ").takeRight(5).toSeq == texts(1).split(" ").take(5).toSeq)
    // every token covered
    assert(chunks.flatMap(_.getString(2).split(" ")).toSet.size == 50)
    // no shuffle in the plan
    val p = CorpusStats.chunkDocuments(d, "doc_id", "text", 20, 5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking must stay map-side:\n$p")
    // chunk token counts are arithmetic: 20, 20, 50 - 2*15 = 20 here
    assert(chunks.map(_.getLong(3)).toSeq == Seq(20L, 20L, 20L))
    // null text yields NO chunks, not a phantom empty one
    val withNull = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = CorpusStats.chunkDocuments(withNull, "doc_id", "text", 2, 0)
    assert(got.filter($"doc_id" === 2L).count() == 0)
    assert(got.filter($"doc_id" === 1L).count() == 2)
  }

  test("deterministic under repartitioning: packing and LM scores match at 3 vs 17 partitions") {
    val d = Tables(spark, sf001, "documents")
    def packed(parts: Int) = Sampling.packSequences(
      d.repartition(parts).select($"doc_id",
        TextFunctions.tokenCount($"text").as("n")), "doc_id", "n", 512L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(packed(3) == packed(17))
    def lm(parts: Int) = CorpusStats.bigramLmScore(d.repartition(parts), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val (a, b) = (lm(3), lm(17))
    assert(a == b, "fixed-point LM scores must be bit-identical under any partitioning")
  }

  test("plan shapes: topKNgrams is TakeOrderedAndProject, vocabStats partial-aggs") {
    val topPlan = CorpusStats.topKNgrams(docs, "text", 2, 5)
      .queryExecution.executedPlan.toString
    assert(topPlan.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n$topPlan")
    val vocabPlan = CorpusStats.vocabStats(docs, "doc_id", "text", "source")
      .queryExecution.executedPlan.toString
    assert(vocabPlan.contains("partial"), s"expect partial agg:\n$vocabPlan")
  }

  test("stupid backoff: all three tiers fire and rank in-domain above out-of-domain") {
    import spark.implicits._
    val ref = Seq((1L, "the cat sat on the mat"), (2L, "the cat ran"))
      .toDF("doc_id", "text")
    val target = Seq(
      (10L, "the cat sat on the mat"), // all trigrams in-reference
      (11L, "the cat sat quickly"),    // "cat sat quickly": bigram "sat quickly" unseen → unigram floor; "the cat sat" full trigram
      (12L, "zz qq ww"))               // nothing seen → pure floor
      .toDF("doc_id", "text")
    val got = CorpusStats.stupidBackoffScoreAgainst(ref, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(10L)._1 == 4L && got(11L)._1 == 2L && got(12L)._1 == 1L)
    assert(got(10L)._2 > got(11L)._2 && got(11L)._2 > got(12L)._2,
      s"backoff ordering violated: $got")
    // exact tier check on the floor doc: S = 0.4^2 * (0+1)/(N+V),
    // N=9 ref tokens, V=6 vocab
    val want = math.log(0.4 * 0.4 * 1.0 / (9.0 + 6.0))
    assert(math.abs(got(12L)._2 - math.rint(want * 1e9) / 1e9) < 1e-6)
    // docs with < 3 tokens have no scorable position and drop
    val tiny = CorpusStats.stupidBackoffScoreAgainst(ref,
      Seq((20L, "only two")).toDF("doc_id", "text"), "doc_id", "text")
    assert(tiny.count() == 0)
  }

  test("round-10 operators refuse misuse loudly (argument guards)") {
    import spark.implicits._
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val vecs = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      CorpusStats.bucketByRank(docs.withColumn("s", lit(1.0)), "doc_id", "s", 1)
    }
    intercept[IllegalArgumentException] {
      CorpusStats.hllRegisters(docs, Seq("doc_id"), "text", b = 2)
    }
    intercept[IllegalArgumentException] {
      Sampling.sampleNPerGroup(docs, "doc_id", Seq("text"), 0)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.removeDuplicatedLines(docs, "doc_id", "text",
        minOccurrences = 1)
    }
    intercept[IllegalArgumentException] {
      CorpusStats.blocklistHits(docs, "doc_id", "text", Nil)
    }
    intercept[IllegalArgumentException] {
      val idx = graft.operators.CompressedAnn.Index(null, vecs, 16, 64)
      graft.operators.CompressedAnn.probe(idx, vecs, vecs, "vec_id",
        "embedding", k = 10, topCandidates = 5)
    }
    // round-12 guards
    intercept[IllegalArgumentException] {
      CorpusStats.hashingTfIdf(docs, "doc_id", "text", dim = 0)
    }
    intercept[IllegalArgumentException] {
      graft.io.ArrowExport.writeArrowIpc(docs, "/tmp/unused", batchRows = 0)
    }
  }

  test("blocklistHits counts occurrences; dropBlocklisted keeps clean docs only") {
    import spark.implicits._
    val df = Seq((1L, "bad word bad"), (2L, "all clean here"),
      (3L, "word soup")).toDF("doc_id", "text")
    val hits = CorpusStats.blocklistHits(df, "doc_id", "text", Seq("bad", "soup"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(hits == Map(1L -> ((2L, true)), 2L -> ((0L, false)), 3L -> ((1L, true))))
    val kept = CorpusStats.dropBlocklisted(df, "doc_id", "text", Seq("bad", "soup"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
    // duplicate terms (multi-file wordlists) must not multiply counts
    val dup = CorpusStats.blocklistHits(df, "doc_id", "text",
        Seq("bad", "bad", "soup"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dup == Map(1L -> 2L, 2L -> 0L, 3L -> 1L))
  }

  test("corpusDiff classifies added/removed/changed and omits unchanged") {
    import spark.implicits._
    val oldV = Seq((1L, "same text"), (2L, "will change"), (3L, "goes away"),
      (4L, "Same  TEXT")).toDF("doc_id", "text")
    val newV = Seq((1L, "same text"), (2L, "has changed"), (5L, "fresh doc"),
      (4L, "same  text")).toDF("doc_id", "text")
    val got = CorpusStats.corpusDiff(oldV, newV, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 4 differs only by case → same fingerprint → omitted, like doc 1
    assert(got == Map(2L -> "changed", 3L -> "removed", 5L -> "added"))
  }

  test("fertilityStats: exact counts and ratios on a planted corpus") {
    import spark.implicits._
    import graft.operators.Bpe
    val df = Seq(("a", "abab ab"), ("b", "cd")).toDF("source", "text")
    val merges = Seq(Bpe.Merge("a", "b", 3L))
    val rows = Bpe.fertilityStats(df, "text", "source", merges)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    // source a: words [abab, ab] → syms [ab,ab],[ab] = 3 symbols, 6 chars
    assert(rows("a") == ((2L, 3L, 6L, 1.5, 2.0)))
    // source b: [cd] stays [c, d] → 2 symbols, 2 chars
    assert(rows("b") == ((1L, 2L, 2L, 2.0, 1.0)))
  }

  test("HLL distinct: error contract on both kernels; registers max-merge exactly") {
    import spark.implicits._
    // 200k values over 4 groups → 50k true distinct per group
    val df = spark.range(200000L)
      .select((col("id") % 4).cast("string").as("g"),
        concat(lit("v"), col("id")).as("v"))
    // production xxhash64 kernel, m=4096: σ = 1.04/√4096 ≈ 1.6%
    val prod = CorpusStats.hllDistinct(df, Seq("g"), "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    prod.values.foreach(e =>
      assert(math.abs(e / 50000.0 - 1.0) < 0.05, s"prod est $e vs 50000"))
    // md5 gate kernel, m=256: σ ≈ 6.5%
    val gate = CorpusStats.hllDistinctMd5(df, Seq("g"), "v")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    gate.foreach { case (g, (e, ex)) =>
      assert(ex == 50000L, s"group $g exact $ex")
      assert(math.abs(e / 50000.0 - 1.0) < 0.2, s"gate est $e vs 50000")
    }
    // mergeability: half-corpus registers max-merge to EXACTLY the
    // whole-corpus registers, hence the identical estimate
    val h1 = CorpusStats.hllRegisters(df.filter(col("v") < "v1"), Seq("g"), "v")
    val h2 = CorpusStats.hllRegisters(df.filter(!(col("v") < "v1")), Seq("g"), "v")
    val merged = h1.unionByName(h2).groupBy(col("g"), col("bucket"))
      .agg(max(col("M")).as("M"))
    val estM = CorpusStats.hllEstimate(merged, Seq("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(estM == prod)
  }

  test("HLL rho is integer-exact at powers of two (no float-log2 mis-floor)") {
    import spark.implicits._
    // values engineered so the rho field lands on exact powers of two
    // would need hash preimages; instead pin the formula itself:
    // 25 - len(bin(w)) over every 24-bit power of two and neighbors
    val w = (0 to 23).flatMap(k => Seq((1L << k) - 1, 1L << k, (1L << k) + 1))
      .filter(x => x > 0 && x < (1L << 24)).distinct.toDF("w")
    val got = w.select(col("w"),
        (lit(25) - length(bin(col("w")))).cast("int").as("rho"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (x, rho) =>
      val expected = 25 - (64 - java.lang.Long.numberOfLeadingZeros(x))
      assert(rho == expected, s"w=$x rho=$rho expected=$expected")
    }
  }

  test("bucketByRank: exact equal-count buckets, best scores first, ties by id") {
    import spark.implicits._
    // 90 rows over 9 distinct scores (ties everywhere — the parallel
    // per-score-group ranking must still cut exact thirds)
    val df = (0L until 90L).map(i => (i, (i % 9).toDouble)).toDF("id", "score")
    val out = CorpusStats.bucketByRank(df, "id", "score", 3).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2))))
    val sizes = out.groupBy(_._2._2).view.mapValues(_.length).toMap
    assert(sizes == Map(0 -> 30, 1 -> 30, 2 -> 30))
    // descending by score: every score-8 row (10 of them) is bucket 0,
    // every score-0 row bucket 2
    out.foreach { case (id, (s, b)) =>
      if (s == 8.0) assert(b == 0, s"id=$id")
      if (s == 0.0) assert(b == 2, s"id=$id")
    }
    // within one tied score spanning a boundary, LOWER ids take the
    // better bucket: score 6.0 ranks 20..29 → all bucket 0; score 5.0
    // ranks 30..39 → bucket 1; check the id tie-break inside 5.0 vs
    // 6.0 boundary is by score first
    val by5 = out.filter(_._2._1 == 5.0).map(_._2._2).toSet
    assert(by5 == Set(1))
  }

  test("bucketByRank: non-divisible counts put the extra rows in earlier buckets") {
    import spark.implicits._
    val df = (0L until 10L).map(i => (i, i.toDouble)).toDF("id", "score")
    // rank0 (score 9) .. rank9 (score 0): (rk*3) DIV 10 → 4/3/3 split
    val sizes = CorpusStats.bucketByRank(df, "id", "score", 3).collect()
      .groupBy(_.getInt(2)).view.mapValues(_.length).toMap
    assert(sizes == Map(0 -> 4, 1 -> 3, 2 -> 3))
  }

  test("bucketByRank: NaN ranks first, nulls last, all-null survives (desc-window parity)") {
    import spark.implicits._
    // the range-slice rewrite must keep Window.orderBy(desc)'s edge
    // semantics: NaN above every finite score, SQL nulls at the end,
    // and a score column with NO finite values must not NPE on the
    // missing min/max
    val df = Seq[(Long, java.lang.Double)](
      (0L, Double.NaN), (1L, 5.0), (2L, 4.0), (3L, 3.0),
      (4L, null), (5L, null)).toDF("id", "score")
    val out = CorpusStats.bucketByRank(df, "id", "score", 3).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    // ranks: NaN(id0)=0, 5.0=1, 4.0=2, 3.0=3, nulls(id4,id5)=4,5
    // buckets of 6 rows over 3: rk 0-1 → 0, 2-3 → 1, 4-5 → 2
    assert(out == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2))
    // all-null scores: rows kept, id-ordered buckets, no NPE
    val nulls = Seq.tabulate[(Long, java.lang.Double)](6)(i => (i.toLong, null))
      .toDF("id", "score")
    val nOut = CorpusStats.bucketByRank(nulls, "id", "score", 3).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(nOut == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2))
  }

  test("bucketByRank: hot score values take the sub-sliced rank path, still exact") {
    import spark.implicits._
    // one score value dominates (60 of 90 rows) — above the lowered
    // cap it must rank through per-(score, hash-slice) windows, not
    // one single-task window over the whole value
    val df = (0L until 90L).map(i =>
      (i, if (i < 60) 5.0 else (i % 5).toDouble)).toDF("id", "score")
    val conf = spark.conf
    conf.set("spark.graft.rank.hotScoreRows", "16")
    try {
      val out = CorpusStats.bucketByRank(df, "id", "score", 3)
      // no window partitioned on the bare score survives in the plan
      // for the hot value's rows (the hot branch keys on (score, slice))
      val got = out.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      // buckets stay EXACT equal-count regardless of tie order
      assert(got.groupBy(_._3).view.mapValues(_.length).toMap ==
        Map(0 -> 30, 1 -> 30, 2 -> 30))
      // cross-score order is still exact: score 5.0 (hot, ranks 0..59)
      // fills buckets 0 and 1 entirely; every other score is bucket 2
      got.foreach { case (id, s, b) =>
        if (s == 5.0) assert(b <= 1, s"id=$id") else assert(b == 2, s"id=$id")
      }
      // deterministic across physical layout (hash order, not
      // partition order)
      val again = CorpusStats.bucketByRank(df.repartition(13), "id", "score", 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
      assert(again == got.toSet)
      // sub-cap values in the same frame keep exact id-order ties:
      // with cap >= 60 the id-ordered oracle assignment returns
      conf.set("spark.graft.rank.hotScoreRows", "60")
      val exact = CorpusStats.bucketByRank(df, "id", "score", 3).collect()
        .map(r => (r.getLong(0), r.getInt(2))).toMap
      (0L until 60L).foreach(i => assert(exact(i) == (i * 3 / 90).toInt))
    } finally conf.unset("spark.graft.rank.hotScoreRows")
  }

  test("stupidBackoffScoreAgainst: empty reference corpus degrades, never NPEs") {
    import spark.implicits._
    val target = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val emptyRef = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // sum() over the empty unigram table is SQL NULL — the scorer must
    // fall back to pure smoothing (vocab=0, total=0), not throw
    val out = CorpusStats.stupidBackoffScoreAgainst(
      emptyRef, target, "doc_id", "text").collect()
    assert(out.length == 1 && out.head.getLong(1) == 2L) // 2 trigrams
  }

  test("naiveBayes: separable vocab classifies correctly; unseen tokens use the floor") {
    import spark.implicits._
    val labeled = Seq(
      (1L, "apple banana apple fruit", "food"),
      (2L, "banana fruit apple apple", "food"),
      (3L, "spark join shuffle plan", "code"),
      (4L, "plan shuffle spark spark", "code")
    ).toDF("doc_id", "text", "label")
    // self-classification recovers every label
    val self = CorpusStats.naiveBayesClassify(labeled, "doc_id", "text", "label")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(self == Map(1L -> "food", 2L -> "food", 3L -> "code", 4L -> "code"))
    // apply to held-out docs: seen-vocab docs classify by content; an
    // all-unseen doc falls back to the prior+floor (both labels have
    // equal priors and totals here -> tie broken by label asc = "code")
    val (model, priors) = CorpusStats.trainNaiveBayes(labeled, "text", "label")
    val held = Seq(
      (10L, "apple banana"), (11L, "shuffle plan spark"),
      (12L, "zzz qqq")).toDF("doc_id", "text")
    val pred = CorpusStats.naiveBayesApply(held, "doc_id", "text", model, priors)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(pred(10L) == "food" && pred(11L) == "code")
    assert(pred(12L) == "code") // deterministic tie-break, not a crash
    // score9 is exact fixed-point: same input twice -> identical longs
    val s1 = CorpusStats.naiveBayesClassify(labeled, "doc_id", "text", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val s2 = CorpusStats.naiveBayesClassify(
        labeled.repartition(7), "doc_id", "text", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(s1 == s2)
  }

  test("hashingTfIdf: dense algebra on a planted corpus; twins share geometry") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry"),
      (3L, "banana banana banana")).toDF("doc_id", "text")
    val dim = 64
    val dense = CorpusStats.hashingTfIdf(docs, "doc_id", "text", dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(dense.values.forall(_.length == dim))
    // doc 1: apple tf=2 (df=2), banana tf=1 (df=2); N=3
    val idf2 = math.log(4.0 / 3.0) + 1.0 // df=2 buckets
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-12
    val v1 = dense(1L)
    assert(v1.count(_ != 0.0) == 2)
    assert(v1.exists(near(_, 2 * idf2)) && v1.exists(near(_, 1 * idf2)))
    // doc 2: cherry appears only there -> idf = ln(4/2)+1
    val v2 = dense(2L)
    assert(v2.exists(near(_, math.log(2.0) + 1.0)))
    // md5 twin: same nnz profile and identical weight MULTISET per doc
    // (bucket ids differ by hash family; the geometry must not)
    val fp = CorpusStats.hashingTfIdfMd5(docs, "doc_id", "text", dim)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp == dense.view.mapValues(_.count(_ != 0.0).toLong).toMap)
    // partition invariance: fingerprints identical at any layout
    val a = CorpusStats.hashingTfIdfMd5(docs, "doc_id", "text", dim)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val b = CorpusStats.hashingTfIdfMd5(docs.repartition(5), "doc_id", "text", dim)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(a == b)
  }

  test("hashingTfIdf feeds the clustering stack end to end") {
    import spark.implicits._
    // two separable vocabularies -> tfidf vectors -> cosine near-dup
    // finds within-topic neighbors only
    val docs = Seq(
      (1L, "spark shuffle plan spark"), (2L, "spark shuffle plan join"),
      (3L, "apple banana fruit salad"), (4L, "banana apple fruit bowl"))
      .toDF("doc_id", "text")
    val vecs = CorpusStats.hashingTfIdf(docs, "doc_id", "text", 256, "vec")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.transform(col("vec"),
          w => w.cast("float")).as("vec"))
    // dim must MATCH the tf-idf width: the old default-64 call worked
    // only because a dim mismatch silently degenerated every row into
    // one LSH bucket (results right, the whole corpus pair-expanded) —
    // the bucket kernel now refuses that loudly
    val pairs = graft.operators.Similarity
      .cosineNearDupPairs(vecs, "doc_id", "vec", threshold = 0.5, dim = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((3L, 4L)))
    assert(!pairs.exists { case (x, y) => Set(x, y) == Set(1L, 3L) ||
      Set(x, y) == Set(2L, 4L) || Set(x, y) == Set(1L, 4L) ||
      Set(x, y) == Set(2L, 3L) })
  }

  test("charEntropy kernel: exact small cases, matches dual form on real docs") {
    import spark.implicits._
    val cases = Seq(
      (1L, "aaaa"),          // single symbol -> 0
      (2L, "abab"),          // two equiprobable -> ln 2
      (3L, "abcd"),          // four equiprobable -> ln 4
      (4L, "")).toDF("id", "t")
    val got = cases.select(col("id"),
      TextFunctions.charEntropy(col("t")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0 && got(4L) == 0.0)
    assert(math.abs(got(2L) - math.log(2.0)) < 1e-12)
    assert(math.abs(got(3L) - math.log(4.0)) < 1e-12)
    // astral symbols count as ONE code point each
    val astral = Seq((1L, "😀😀a")).toDF("id", "t")
      .select(TextFunctions.charEntropy(col("t"))).head().getDouble(0)
    // {emoji: 2, a: 1} over n=3
    val exp = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(math.abs(astral - exp) < 1e-12)
    // kernel == explode-dual-form on the sf corpus within 1e-9
    val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(50)
    val kernel = docs.select(col("doc_id"),
      TextFunctions.charEntropy(col("text")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dual = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      .filter(col("c") =!= "")
      .groupBy("doc_id", "c").agg(count(lit(1)).as("k"))
      .groupBy("doc_id").agg(sum(col("k")).as("n"),
        sum(col("k") * log(col("k"))).as("kl"))
      .select(col("doc_id"), (log(col("n")) - col("kl") / col("n")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    kernel.foreach { case (id, e) =>
      assert(math.abs(e - dual(id)) < 1e-9, s"doc $id: $e vs ${dual(id)}") }
  }

  test("compressionRatio orders repetitive below high-entropy text") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val noisy = (0 until 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val d = Seq(
      (1L, "spam spam spam spam " * 20), // templated
      (2L, noisy)).toDF("id", "t")
    val r = d.select(col("id"),
        TextFunctions.compressionRatio(col("t")).as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) < 0.2, s"templated ratio ${r(1L)}")
    assert(r(2L) > r(1L) * 3, s"noisy ${r(2L)} vs templated ${r(1L)}")
    // empty -> null, not a division blowup
    val e = Seq((1L, "")).toDF("id", "t")
      .select(TextFunctions.compressionRatio(col("t"))).head()
    assert(e.isNullAt(0))
    // level is validated
    intercept[IllegalArgumentException] {
      TextFunctions.compressionRatio(col("t"), level = 11)
    }
  }

  test("bigramKnScore: hand-computed probabilities; mass sums to one per context") {
    import spark.implicits._
    // single-bigram docs expose P(w2|w1) directly via avg_logp
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "b a"))
      .toDF("doc_id", "text")
    // grams: (a b):2 (a c):1 (b a):1; T=3 types
    // ctx(a)=3 fert(a)=2; ctx(b)=1 fert(b)=1; cont(a)=cont(b)=cont(c)=1
    val pAB = (2 - 0.75) / 3 + (0.75 * 2 / 3) * (1.0 / 3) // 0.58333…
    val pAC = (1 - 0.75) / 3 + (0.75 * 2 / 3) * (1.0 / 3) // 0.25
    val pBA = (1 - 0.75) / 1 + (0.75 * 1 / 1) * (1.0 / 3) // 0.5
    val got = CorpusStats.bigramKnScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-6
    assert(near(got(1L), math.log(pAB)) && near(got(2L), math.log(pAB)))
    assert(near(got(3L), math.log(pAC)))
    assert(near(got(4L), math.log(pBA)))
    // the smoothing invariant: seen mass + discounted continuation
    // mass for the UNSEEN types = 1 per context
    val unseenA = (0.75 * 2 / 3) * (1.0 / 3) // cont(a)/T for unseen 'a a'
    assert(near(pAB + pAC + unseenA, 1.0))
    val unseenB = (0.75 * 1 / 1) * (2.0 / 3) // 'b b','b c' share cont(b)+cont(c)
    assert(near(pBA + unseenB, 1.0))
    // KN orders repeated boilerplate above rare constructions within
    // one corpus (higher avg logp for the dominant gram)
    assert(got(1L) > got(3L))
    intercept[IllegalArgumentException] {
      CorpusStats.bigramKnScore(d, "doc_id", "text", discount = 1.5)
    }
  }

  test("bigramKnScoreAgainst: in-domain outranks out-of-domain; unseen floors apply") {
    import spark.implicits._
    val ref = Seq((100L, "the cat sat on the mat"),
      (101L, "the cat ran on the mat")).toDF("doc_id", "text")
    val target = Seq(
      (1L, "the cat sat"),          // fully in-domain
      (2L, "the cat flew"),         // seen context 'cat', unseen cont
      (3L, "zz qq xx")).toDF("doc_id", "text") // fully out-of-domain
    val got = CorpusStats.bigramKnScoreAgainst(ref, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) > got(2L) && got(2L) > got(3L),
      s"expected in-domain > partial > out-of-domain, got $got")
    // out-of-domain is finite (floor, not -inf) and bounded by the
    // continuation floor ln(1/(T+1)) per bigram
    val nTypes = 8.0 // distinct ref bigrams
    assert(got(3L) >= math.log(1.0 / (nTypes + 1.0)) - 1e-6)
    assert(!got(3L).isNegInfinity)
    // self-trained and cross-trained agree when ref == target
    val self = CorpusStats.bigramKnScore(ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val cross = CorpusStats.bigramKnScoreAgainst(ref, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(self == cross)
  }

  test("naiveBayes rejects a non-positive alpha") {
    import spark.implicits._
    val df = Seq((1L, "a", "x")).toDF("doc_id", "text", "label")
    intercept[IllegalArgumentException] {
      CorpusStats.trainNaiveBayes(df, "text", "label", alpha = 0.0)
    }
  }

  test("naiveBayes refuses an id-like label column instead of collecting it") {
    // the label stats collect to the driver (labels are structurally
    // small for a classifier); a near-unique column passed as the
    // label must fail with a named, actionable error — and the limit
    // bounds what reaches the driver BEFORE the check, so the failure
    // can never be an OOM
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"tok$i words here", s"id$i"))
      .toDF("doc_id", "text", "label")
    spark.conf.set("spark.graft.nb.maxLabels", "10")
    try {
      val e = intercept[IllegalArgumentException] {
        CorpusStats.trainNaiveBayes(df, "text", "label")
      }
      assert(e.getMessage.contains("more than 10 distinct values"), e.getMessage)
      assert(e.getMessage.contains("spark.graft.nb.maxLabels"), e.getMessage)
      // at the cap boundary training still works
      spark.conf.set("spark.graft.nb.maxLabels", "50")
      val (model, priors) = CorpusStats.trainNaiveBayes(df, "text", "label")
      assert(priors.count() == 50L && model.count() > 0L)
      // the doc-count collect is guarded INDEPENDENTLY of the token
      // rollup: labels whose text tokenizes to nothing are invisible
      // to the rollup but still count docs, so a corpus with few
      // token-bearing labels and many empty-text labels must refuse
      // rather than silently undercount nDocs (and every prior)
      spark.conf.set("spark.graft.nb.maxLabels", "10")
      val sparse = ((1L to 5L).map(i => (i, s"tok$i words here", s"lab$i")) ++
        (6L to 20L).map(i => (i, "", s"empty$i")))
        .toDF("doc_id", "text", "label")
      val e3 = intercept[IllegalArgumentException] {
        CorpusStats.trainNaiveBayes(sparse, "text", "label")
      }
      assert(e3.getMessage.contains("more than 10 distinct values"),
        e3.getMessage)
      // EXACT boundary: maxLabels+1 distinct labels (invisible to the
      // token rollup because most tokenize to nothing) must refuse —
      // the doc-count guard's bound is <= maxLabels, same documented
      // cardinality as the rollup guard despite its collect carrying
      // no grouping-total row
      val boundary = ((1L to 5L).map(i => (i, s"tok$i words here", s"lab$i")) ++
        (6L to 11L).map(i => (i, "", s"empty$i")))
        .toDF("doc_id", "text", "label")
      val e4 = intercept[IllegalArgumentException] {
        CorpusStats.trainNaiveBayes(boundary, "text", "label")
      }
      assert(e4.getMessage.contains("more than 10 distinct values"),
        e4.getMessage)
      // a null-label GROUP is not a distinct value: exactly maxLabels
      // real labels plus null-label empty-text docs must still train
      // (null docs count toward nDocs; the null group never becomes a
      // prior), not refuse as an 11th label
      val withNull = ((1L to 10L).map(i => (i, s"tok$i words here", s"lab$i")) :+
        ((11L, "", null.asInstanceOf[String])))
        .toDF("doc_id", "text", "label")
      val (_, priorsN) = CorpusStats.trainNaiveBayes(withNull, "text", "label")
      assert(priorsN.count() == 10L)
    } finally spark.conf.unset("spark.graft.nb.maxLabels")
    // array/binary labels would compare by REFERENCE in the driver-side
    // label map (silently emptying the priors) — they must refuse loudly
    val arrLbl = spark.sql(
      "SELECT 1L AS doc_id, 'a b' AS text, array('x') AS label")
    val e2 = intercept[IllegalArgumentException] {
      CorpusStats.trainNaiveBayes(arrLbl, "text", "label")
    }
    assert(e2.getMessage.contains("atomic"), e2.getMessage)
  }
}
