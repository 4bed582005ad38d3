package graft

import graft.operators.Bpe
import graft.operators.Bpe.Merge

/** Pins the three BPE implementations that must agree (module doc of
  * [[graft.operators.Bpe]]): the Scala trainer fold vs the Catalyst
  * `aggregate`-HOF encode kernel, on planted words covering overlap
  * runs, tie-breaks, exhausted vocabularies, and empty-token edges.
  * The third implementation (the DuckDB oracle's recursive CTE) is
  * pinned by the q109/q110 driver gates.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def am(s: Seq[String], a: String, b: String): Vector[String] =
    Bpe.applyMerge(s.toVector, a, b)

  test("applyMerge: greedy left-to-right, overlap runs, no chaining") {
    // textbook overlap behavior on runs
    assert(am(Seq("x", "x", "x", "x"), "x", "x") == Vector("xx", "xx"))
    assert(am(Seq("x", "x", "x"), "x", "x") == Vector("xx", "x"))
    assert(am(Seq("x", "x", "x", "x", "x"), "x", "x") == Vector("xx", "xx", "x"))
    // plain repeated pair
    assert(am(Seq("a", "b", "a", "b"), "a", "b") == Vector("ab", "ab"))
    // a freshly merged "ab" must NOT seed another (a,b) merge
    assert(am(Seq("a", "a", "b", "b"), "a", "b") == Vector("a", "ab", "b"))
    // no occurrence → unchanged; empty → empty
    assert(am(Seq("c", "d"), "a", "b") == Vector("c", "d"))
    assert(am(Vector.empty, "a", "b") == Vector.empty)
  }

  test("trainMerges: deterministic tie-break to smallest (a, b)") {
    // "cd" and "ab" each appear twice → pairs (a,b) and (c,d) both
    // count 2; the pick must be the lexicographically smallest pair
    val df = Seq("cd ab", "cd ab").toDF("text")
    val ms = Bpe.trainMerges(df, "text", numMerges = 2)
    assert(ms == Seq(Merge("a", "b", 2L), Merge("c", "d", 2L)))
  }

  test("trainMerges refuses an unbounded driver-fold vocabulary") {
    // the collect inside trainMerges is driver-bounded ONLY by
    // maxVocab; an effectively-unbounded cap must throw before any
    // job runs, not OOM the driver on a web-scale corpus
    val df = Seq("ab ab").toDF("text")
    val e = intercept[IllegalArgumentException] {
      Bpe.trainMerges(df, "text", 1, maxVocab = Int.MaxValue)
    }
    assert(e.getMessage.contains("driver-fold cap"))
    // the documented ceiling itself is accepted
    assert(Bpe.trainMerges(df, "text", 1, maxVocab = Bpe.MaxTrainVocab).nonEmpty)
  }

  test("trainMerges: stops early on an exhausted vocabulary") {
    // single-char words: no pairs at all → zero merges
    assert(Bpe.trainMerges(Seq("a b c").toDF("text"), "text", 5).isEmpty)
    // one two-char word: exactly one merge possible, then every word
    // is a single symbol — asking for 5 returns 1
    val ms = Bpe.trainMerges(Seq("ab ab c").toDF("text"), "text", 5)
    assert(ms == Seq(Merge("a", "b", 2L)))
  }

  test("trainMerges: maxVocab cap keeps most-frequent words, ties to smallest") {
    // cap 1: only the most frequent word ("zz" ×3) trains; "aa" (×1)
    // is dropped, so the learned pair is (z,z) not (a,a)
    val df = Seq("zz zz zz aa").toDF("text")
    val ms = Bpe.trainMerges(df, "text", numMerges = 1, maxVocab = 1)
    assert(ms == Seq(Merge("z", "z", 3L)))
  }

  /** Scala reference encode: the SAME fold the trainer uses, applied
    * per token, then the kernel's fingerprint shape ('|' within
    * token, '||' between tokens, md5 over UTF-8). */
  private def refEncode(text: String, merges: Seq[Merge]): (Long, String) = {
    val toks = text.split(" ", -1).toSeq.map(w =>
      w.map(_.toString).toVector.filter(_.nonEmpty))
    val merged = toks.map(t =>
      merges.foldLeft(t)((s, m) => Bpe.applyMerge(s, m.a, m.b)))
    val joined = merged.map(_.mkString("|")).mkString("||")
    val md = java.security.MessageDigest.getInstance("MD5")
    val fp = md.digest(joined.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (merged.map(_.size.toLong).sum, fp)
  }

  test("encode kernel == Scala trainer fold on planted words (incl. empty-token edge)") {
    val docs = Seq(
      (1L, "abab abab cd"),      // repeated merge within a token
      (2L, "aaaa aaa"),          // overlap runs [a,a,a,a] / [a,a,a]
      (3L, "aabb"),              // non-chaining edge
      (4L, "x  y"),              // double space → empty token
      (5L, "q"),                 // single char, never merged
      (6L, "abcd dcba abab"))
    val df = docs.toDF("doc_id", "text")
    val merges = Bpe.trainMerges(df, "text", numMerges = 4)
    assert(merges.nonEmpty)
    val got = Bpe.encode(df, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    docs.foreach { case (id, text) =>
      assert(got(id) == refEncode(text, merges),
        s"doc $id: kernel ${got(id)} != reference ${refEncode(text, merges)}")
    }
  }

  test("encode with zero learned merges is raw characters") {
    val df = Seq((1L, "ab c")).toDF("doc_id", "text")
    val got = Bpe.encode(df, "doc_id", "text", Nil).collect().head
    assert(got.getLong(1) == 3L)
    assert(got.getString(2) == refEncode("ab c", Nil)._2)
  }

  /** The pre-round-10 full-recount trainer, kept as the test
    * reference: every round recounts all pairs of all words and picks
    * (max count, lex-smallest (a, b)). The incremental fold must be
    * merge-for-merge identical. */
  private def naiveTrain(vocab0: Seq[(Vector[String], Long)],
                         numMerges: Int): Seq[Merge] = {
    var vocab = vocab0
    val out = Seq.newBuilder[Merge]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        syms.iterator.zip(syms.iterator.drop(1)).foreach { p =>
          pc(p) = pc.getOrElse(p, 0L) + cnt
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val ((a, b), c) = pc.minBy { case ((pa, pb), n) => (-n, pa, pb) }
        out += Merge(a, b, c)
        vocab = vocab.map { case (s, cnt) => Bpe.applyMerge(s, a, b) -> cnt }
        round += 1
      }
    }
    out.result()
  }

  test("incremental trainMerges == naive full recount on random corpora") {
    val rnd = new scala.util.Random(11)
    (0 until 8).foreach { _ =>
      val docs = (0 until 20).map { i =>
        (i.toLong, (0 until 1 + rnd.nextInt(10)).map(_ =>
          (0 until 1 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(3)).toChar)
            .mkString).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val wc = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (w, c) => (-c, w) }.take(10000)
        .map { case (w, c) => w.map(_.toString).toVector -> c }
      // include empty-token handling parity: add docs with "" tokens?
      // split(" ") already yields them for double spaces — none here
      val want = naiveTrain(wc, 12)
      val got = Bpe.trainMerges(df, "text", numMerges = 12)
      assert(got == want, s"docs=${docs.take(3)}…")
    }
  }

  private def fpMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

  test("one-pass kernel == HOF encode on planted words and corpus-trained merges") {
    val docs = Seq(
      (1L, "abab abab cd"), (2L, "aaaa aaa"), (3L, "aabb"),
      (4L, "x  y"), (5L, "q"), (6L, "abcd dcba abab"))
    val df = docs.toDF("doc_id", "text")
    val merges = Bpe.trainMerges(df, "text", numMerges = 4)
    assert(fpMap(Bpe.encodeFast(df, "doc_id", "text", merges))
      == fpMap(Bpe.encode(df, "doc_id", "text", merges)))
    // empty merge table too
    assert(fpMap(Bpe.encodeFast(df, "doc_id", "text", Nil))
      == fpMap(Bpe.encode(df, "doc_id", "text", Nil)))
  }

  test("one-pass kernel == HOF encode on the sf0.001 corpus at 32 merges") {
    val df = Tables(spark, sf001, "documents")
    val merges = Bpe.trainMerges(df, "text", numMerges = 32)
    assert(merges.size == 32)
    assert(fpMap(Bpe.encodeFast(df, "doc_id", "text", merges))
      == fpMap(Bpe.encode(df, "doc_id", "text", merges)))
  }

  test("sequential semantics: a pair re-created by a later merge is NOT revisited") {
    // rank0 = (xy, b) — absent at char level; rank1 = (x, y) creates
    // the symbol "xy", so pair (xy, b) NOW exists but its merge is
    // ranked EARLIER and must stay unapplied (sequential application,
    // unlike GPT-2's re-visiting encoder). Both kernels must yield
    // [xy, b], not [xyb].
    val df = Seq((1L, "xyb")).toDF("doc_id", "text")
    val merges = Seq(Merge("xy", "b", 1L), Merge("x", "y", 1L))
    val syms = Bpe.encodeSymbols(df, "doc_id", "text", merges)
      .collect().head.getSeq[Seq[String]](1)
    assert(syms == Seq(Seq("xy", "b")))
    assert(fpMap(Bpe.encodeFast(df, "doc_id", "text", merges))
      == fpMap(Bpe.encode(df, "doc_id", "text", merges)))
  }

  test("a duplicated pair entry applies again at its later rank") {
    // r0 = (xy, b): no-op on chars; r1 = (x, y) → [xy, xy, b];
    // r2 re-lists (xy, b) and NOW applies → [xy, xyb]
    val df = Seq((1L, "xyxyb")).toDF("doc_id", "text")
    val merges = Seq(Merge("xy", "b", 1L), Merge("x", "y", 1L), Merge("xy", "b", 1L))
    val syms = Bpe.encodeSymbols(df, "doc_id", "text", merges)
      .collect().head.getSeq[Seq[String]](1)
    assert(syms == Seq(Seq("xy", "xyb")))
    assert(fpMap(Bpe.encodeFast(df, "doc_id", "text", merges))
      == fpMap(Bpe.encode(df, "doc_id", "text", merges)))
  }

  test("astral characters degrade to '?' uniformly across trainer, HOF, and kernel") {
    // a lone surrogate half becomes '?' whenever a string crosses
    // UTF8String (Spark's split symbols, plan literals), so the
    // driver trainer and the one-pass kernel sanitize at segmentation
    // — otherwise a real half could never match the '?' merge table
    val emoji = new String(Character.toChars(0x1F600))
    val df = Seq((1L, s"a${emoji}b a${emoji}b c")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(df, "text", numMerges = 3)
    assert(fpMap(Bpe.encodeFast(df, "doc_id", "text", merges))
      == fpMap(Bpe.encode(df, "doc_id", "text", merges)))
    val vocab = Bpe.vocabulary(df, "text", merges)
    val ids = Bpe.encodeIds(df, "doc_id", "text", merges, vocab)
      .collect().head.getSeq[Int](1)
    assert(ids.nonEmpty && ids.forall(_ >= 0), s"unknown ids in $ids")
  }

  test("encodeToIds: chars then merge products, first-wins on duplicates") {
    val df = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(df, "text", numMerges = 1)
    assert(merges == Seq(Merge("a", "b", 2L)))
    val vocab = Bpe.vocabulary(df, "text", merges)
    assert(vocab == Seq("a", "b", "ab"))
    val got = Bpe.encodeToIds(df, "doc_id", "text", merges, vocab).collect().head
    assert(got.getLong(1) == 3L) // [ab, ab, b]
    val md = java.security.MessageDigest.getInstance("MD5")
    val fp = md.digest("2|2|1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.getString(2) == fp)
    // an unknown symbol maps to -1 (not to the first vocabulary id),
    // folded, compiled and interpreted
    import org.apache.spark.sql.functions.{call_function, col, expr}
    graft.plans.GraftExtensions.registerAll(spark)
    val syms = spark.sparkContext.parallelize(Seq(Tuple1(Seq("b", "zz"))), 1).toDF("syms")
    def ids: Seq[Seq[Int]] = Seq(
      spark.sql("SELECT graft_syms_to_ids(array('b','zz'), array('a','b'))"),
      syms.select(call_function("graft_syms_to_ids", col("syms"), expr("array('a','b')"))))
      .map(_.head().getSeq[Int](0))
    Seq(Seq("spark.sql.codegen.fallback" -> "false"),
        Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false")).foreach { mode =>
      val prev = mode.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        mode.foreach { case (k, v) => spark.conf.set(k, v) }
        assert(ids == Seq(Seq(1, -1), Seq(1, -1)), mode)
      } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("save/load tokenizer roundtrip: reloaded artifacts encode identically") {
    val df = Tables(spark, sf001, "documents")
    val merges = Bpe.trainMerges(df, "text", numMerges = 16)
    val vocab = Bpe.vocabulary(df, "text", merges)
    val tmp = tempDir("graft-bpe-art-").toString
    Bpe.save(merges, vocab, tmp)
    val (m2, v2) = Bpe.load(tmp)
    assert(m2 == merges && v2 == vocab)
    def ids(m: Seq[Merge], v: Seq[String]) =
      Bpe.encodeToIds(df, "doc_id", "text", m, v)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(ids(m2, v2) == ids(merges, vocab))
  }

  test("decode(encodeSymbols(text)) == text, including the empty-token edge") {
    val docs = Seq((1L, "abab abab cd"), (2L, "x  y"), (3L, "q"))
    val df = docs.toDF("doc_id", "text")
    val merges = Bpe.trainMerges(df, "text", numMerges = 3)
    val back = Bpe.decode(
        Bpe.encodeSymbols(df, "doc_id", "text", merges), "doc_id", "syms")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) => assert(back(id) == text) }
  }
}
