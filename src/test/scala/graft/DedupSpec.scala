package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, HashFamily}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank now"), // near dup of 1
    (4L, "completely different text about spark catalyst optimizer plans and shuffles"),
    (5L, "another unrelated document mentioning parquet row groups and predicate pushdown")
  ).toDF("doc_id", "text")

  test("exactGroups collapses exact duplicates, keeps lowest id") {
    val g = Dedup.exactGroups(docs, "doc_id", col("text"))
    assert(g.count() == 4)
    val dup = g.filter(col("n_copies") === 2).first()
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("dropExactDuplicates keeps one row per content") {
    val d = Dedup.dropExactDuplicates(docs, "doc_id", col("text"))
    assert(d.count() == 4)
    assert(d.filter(col("doc_id") === 2L).count() == 0)
    assert(d.filter(col("doc_id") === 1L).count() == 1)
  }

  test("jaccardPairs finds exact and near duplicates only") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => a >= 4L || b >= 4L })
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.999)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L).first()
    assert(exact.getAs[Double]("jaccard") == 1.0)
  }

  test("minhashCandidates recall vs exact jaccard on testdata") {
    val d = Tables(spark, sf001, "documents")
    val truth = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidates(d, "doc_id", "text", minEstimate = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    val recall = truth.count(cand.contains).toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall too low (found ${cand.size} candidates)")
  }

  test("md5 gate kernels match the xxhash production kernels' pair sets") {
    val d = Tables(spark, sf001, "documents")
    // MinHash: same parameters, different hash family — on a corpus
    // with clear dup structure both LSH passes must surface the same
    // candidate pairs (est_jaccard values differ per family, so the
    // contract is the PAIR SET)
    val fast = Dedup.minhashCandidates(d, "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, minEstimate = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gate = Dedup.minhashCandidates(d, "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, minEstimate = 0.5, family = HashFamily.Md5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast.nonEmpty && gate == fast,
      s"minhash kernels diverge: md5-only=${gate -- fast} xxhash-only=${fast -- gate}")
    // SimHash: a Hamming<=6 cut over 64 bits is hash-family-sensitive
    // (different token bits -> different distances near the cut), so
    // the gate kernel is judged against its OWN exact baseline: the
    // banded pass with maxHamming+1 disjoint bands must EQUAL a
    // brute-force all-pairs sweep over the same md5 signatures —
    // pigeonhole exactness, the property that justifies the O(n²)
    // DuckDB oracle.
    val gateSim = Dedup.simhashPairsMd5(d, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gateSim.nonEmpty, "gate corpus should contain simhash near-dups")
    val sigs = Dedup.simhashSignaturesMd5(d, "doc_id", "text")
    val brute = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc") < col("b.doc"))
      .filter(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 6)
      .select(col("a.doc"), col("b.doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gateSim == brute,
      s"banded pass not exact: missed=${brute -- gateSim} extra=${gateSim -- brute}")
  }

  test("md5 gate dedup pipeline keeps the same survivors as production") {
    val d = Tables(spark, sf001, "documents")
    val prod = Dedup.dropNearDuplicates(d, "doc_id", "text",
        bands = 8, minEstimate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gate = Dedup.dropNearDuplicates(d, "doc_id", "text",
        bands = 8, minEstimate = 0.5, family = HashFamily.Md5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(prod.nonEmpty && gate == prod,
      s"survivor sets diverge: md5-only=${gate -- prod} xxhash-only=${prod -- gate}")
    assert(gate.size < d.count(), "gate corpus should contain near-dups to drop")
  }

  test("connectedComponents: min-label per component, chains converge") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
    assert(comps(5L) == 5L && comps(6L) == 5L)
    // 4-node chain: label must propagate end to end
    assert(Seq(8L, 9L, 10L, 11L).forall(comps(_) == 8L))
  }

  test("connectedComponentsStar: spark.graft.checkpointDir => reliable checkpoints") {
    // At 100 TB the CC loop is the longest-running dedup stage; with
    // executor-local checkpoints one lost executor fails the job. With
    // the conf set, every round's lineage cut must be a RELIABLE
    // file-backed checkpoint (recoverable from shared storage), and
    // the labels must be unchanged.
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ckpt-")
    spark.conf.set("spark.graft.checkpointDir", ckpt.toString)
    try {
      // a 24-node chain (worst case for label propagation) + an island
      val chain = (0L until 24L).sliding(2).map(w => (w(0), w(1))).toSeq
      val pairs = (chain :+ (100L, 101L)).toDF("doc_a", "doc_b")
      val labels = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
      val lr = labels.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l
      }
      assert(lr.nonEmpty, "expected a checkpointed LogicalRDD leaf")
      // getCheckpointFile is defined ONLY for reliable checkpoints —
      // a localCheckpoint would be isCheckpointed with no file
      lr.foreach { l =>
        assert(l.rdd.isCheckpointed, "labels frame not checkpointed")
        assert(l.rdd.getCheckpointFile.isDefined,
          "checkpoint is executor-local, not reliable — conf ignored")
        assert(l.rdd.getCheckpointFile.get.contains(ckpt.toString),
          s"checkpoint landed outside the configured dir: ${l.rdd.getCheckpointFile}")
      }
      val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((0L until 24L).forall(comps(_) == 0L), s"chain labels off: $comps")
      assert(comps(100L) == 100L && comps(101L) == 100L)
      // REPOINTING the conf must take effect: an isEmpty-only guard
      // would silently keep writing into the stale (possibly deleted)
      // first directory
      val ckpt2 = java.nio.file.Files.createTempDirectory("graft-cc-ckpt2-")
      try {
        spark.conf.set("spark.graft.checkpointDir", ckpt2.toString)
        val labels2 = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
        val lr2 = labels2.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l
        }
        assert(lr2.nonEmpty)
        lr2.foreach { l =>
          assert(l.rdd.getCheckpointFile.exists(_.contains(ckpt2.toString)),
            s"repointed conf ignored — checkpoint at ${l.rdd.getCheckpointFile}")
        }
        assert(labels2.count() == labels.count())
      } finally graft.io.FsUtil.deleteRecursively(ckpt2)
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      graft.io.FsUtil.deleteRecursively(ckpt)
    }
  }

  test("lshParams picks the split whose S-curve midpoint hits the threshold") {
    // exact midpoints: (1/b)^(1/r)
    def mid(b: Int, r: Int) = math.pow(1.0 / b, 1.0 / r)
    val (b1, r1) = Dedup.lshParams(32, 0.7)
    assert(b1 * r1 == 32)
    // no other divisor split sits closer to 0.7
    (1 to 32).filter(32 % _ == 0).foreach { b =>
      assert(math.abs(mid(b1, r1) - 0.7) <= math.abs(mid(b, 32 / b) - 0.7) + 1e-12)
    }
    // low thresholds want many narrow bands; high want few wide ones
    val (bLow, _) = Dedup.lshParams(64, 0.2)
    val (bHigh, _) = Dedup.lshParams(64, 0.95)
    assert(bLow > bHigh)
  }

  test("minhashCandidates default bands come from lshParams, not a constant") {
    // bands=0 (default) must resolve to the lshParams split for the
    // caller's gate — identical output to passing that split explicitly
    val d = Tables(spark, sf001, "documents")
    val (bTuned, _) = Dedup.lshParams(32, 0.5)
    val auto = Dedup.minhashCandidates(d, "doc_id", "text", minEstimate = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val explicit = Dedup.minhashCandidates(d, "doc_id", "text",
      bands = bTuned, minEstimate = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto == explicit)
    // and the un-gated default targets the conventional 0.7 near-dup point
    assert(Dedup.lshParams(32, 0.7)._1 > 1)
  }

  test("connectedComponents: driver union-find == distributed loop") {
    val rnd = new scala.util.Random(3)
    // random graph with chains, cliques, and singleton pairs
    val pairs = ((0 until 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b } ++ Seq((500L, 501L), (501L, 502L)))
      .toDF("doc_a", "doc_b")
    val viaDriver = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
      driverThreshold = 0) // force the distributed path
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaLoop)
    // string ids take the driver path too
    val sPairs = Seq(("b", "a"), ("c", "b")).toDF("doc_a", "doc_b")
    val s = Dedup.connectedComponents(sPairs, "doc_a", "doc_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(s == Map("a" -> "a", "b" -> "a", "c" -> "a"))
    // adversarial long chain through the star path: O(log n) rounds,
    // not O(n) — min-label propagation would need 1000 rounds here
    val chain = (1 until 1000).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val star = Dedup.connectedComponentsStar(chain, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(star.length == 1000)
    assert(star.forall(_._2 == 1L), "chain did not collapse to its minimum")
  }

  test("connectedComponentsStar frees each round's edges: persisted RDDs stay flat") {
    // each round replaces a localCheckpoint'ed edge list; the replaced
    // one must be released, not left registered until a GC. A watcher
    // holds every RDD registered during the call, so a GC cannot reap
    // what the loop failed to release.
    val chain = (1 until 1000).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keysIterator.toSet
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, org.apache.spark.rdd.RDD[_]]
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val watcher = new Thread(() => while (running.get) {
      sc.getPersistentRDDs.foreach { case (id, r) => if (!before(id)) seen.putIfAbsent(id, r) }
      Thread.sleep(5)
    })
    watcher.start()
    val labels = try Dedup.connectedComponentsStar(chain, "doc_a", "doc_b")
      finally { running.set(false); watcher.join() }
    import scala.jdk.CollectionConverters._
    val kept = seen.asScala.filter(_._2.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(seen.size > 5, s"only ${seen.size} edge lists registered: the chain took under 5 rounds")
    assert(kept.size <= 2, s"star CC left ${kept.size} of ${seen.size} persisted RDDs: ${kept.keys}")
    assert(labels.count() == 1000L)
  }

  test("dropNearDuplicates keeps one doc per near-dup cluster") {
    val d = Tables(spark, sf001, "documents")
    val kept = Dedup.dropNearDuplicates(d, "doc_id", "text", minEstimate = 0.5)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // exact near-dup pairs define the clusters we must have collapsed
    val truth = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(kept.count() < d.count(), "nothing was deduplicated")
    val collapsed = truth.count { case (a, b) => !(keptIds(a) && keptIds(b)) }
    assert(collapsed.toDouble / truth.length >= 0.9,
      s"only $collapsed/${truth.length} true near-dup pairs collapsed")
    // exactly one survivor (the min id) per candidate component
    val pairsDf = Dedup.minhashCandidates(d, "doc_id", "text", minEstimate = 0.5)
    val comps = Dedup.connectedComponents(pairsDf, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    comps.groupBy(_._2).foreach { case (label, members) =>
      val survivors = members.map(_._1).filter(keptIds)
      assert(survivors.toSeq == Seq(label),
        s"component $label survivors: ${survivors.mkString(",")}")
    }
  }

  test("dropNearDuplicatesBest keeps argmax-score (ties -> min id), gate == production") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpus = Seq(
      // one near-dup cluster: 10 is the min id but the WORST copy;
      // 11 and 12 tie on quality -> 11 (smaller id) must win
      (10L, base + " today", 1.0),
      (11L, base + " now", 5.0),
      (12L, base + " soon", 5.0),
      // an exact-dup pair where the higher-quality copy has the LARGER
      // id — min-id dedup would keep 20, keep-best must keep 21
      (20L, "spark catalyst optimizer plans shuffles and parquet pushdown end to end", 2.0),
      (21L, "spark catalyst optimizer plans shuffles and parquet pushdown end to end", 7.0),
      // a singleton survives untouched
      (30L, "completely unrelated document about healpix maps and morton keys", 9.0)
    ).toDF("doc_id", "text", "q")
    val kept = Dedup.dropNearDuplicatesBest(corpus, "doc_id", "text",
        col("q"), bands = 8, minEstimate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 21L, 30L), s"survivors were $kept")
    val keptGate = Dedup.dropNearDuplicatesBest(corpus, "doc_id", "text",
        col("q"), bands = 8, minEstimate = 0.5, family = HashFamily.Md5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptGate == kept, "gate and production kernels disagree")
    // min-id policy on the same corpus keeps 10 and 20 instead — the
    // two policies genuinely differ on this input
    val minId = Dedup.dropNearDuplicates(corpus, "doc_id", "text",
        bands = 8, minEstimate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(10L, 20L, 30L))
  }

  test("dropNearDuplicatesBest resolves an all-NULL-score cluster to min id") {
    // max(score) over an all-NULL cluster is NULL; winner matching
    // must be null-safe or the cluster gets no winner and every
    // duplicate silently survives. Expected: NULL-scored cluster
    // falls back to min-id; a mixed cluster still prefers the scored
    // member over the NULL one.
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpus = Seq(
      (10L, base + " today", None),          // all-NULL cluster
      (11L, base + " now", None),
      (20L, "spark catalyst optimizer plans shuffles and parquet pushdown end to end", None),
      (21L, "spark catalyst optimizer plans shuffles and parquet pushdown end to end", Some(3.0)),
      (30L, "completely unrelated document about healpix maps and morton keys", None)
    ).toDF("doc_id", "text", "q")
    val kept = Dedup.dropNearDuplicatesBest(corpus, "doc_id", "text",
        col("q"), bands = 8, minEstimate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 21L, 30L), s"survivors were $kept")
  }

  test("simhashPairs finds planted near-dups on testdata") {
    val d = Tables(spark, sf001, "documents")
    val truth = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(found.contains).toDouble / truth.size
    assert(recall >= 0.8, s"simhash recall $recall (truth=${truth.size}, found=${found.size})")
  }

  test("simhashPairsMd5 refuses a corpus past the gate bound") {
    // the gate's pigeonhole-wide bands are quadratic in corpus size
    // (SCALE.md: measured, skipped at 30x) — it must refuse a
    // production-sized corpus loudly and point at the production kernel
    import spark.implicits._
    val big = spark.range(Dedup.SimhashGateMaxDocs + 1)
      .select(col("id").as("doc_id"), lit("some text").as("text"))
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairsMd5(big, "doc_id", "text")
    }
    assert(e.getMessage.contains("simhashPairs"), e.getMessage)
    assert(e.getMessage.contains("GATE"), e.getMessage)
  }

  test("duplicatedSpans: planted shared spans merge into maximal islands; gate == production") {
    // docs 10/11 share tokens 3..11 (one 9-token run = two overlapping
    // 8-token windows -> ONE merged span of length 9); doc 12 repeats
    // its own 8-token run twice internally (self-duplication also
    // marks); doc 13 shares nothing
    val shared = (0 until 9).map(i => s"dup$i")
    val d10 = (Seq("a0", "a1", "a2") ++ shared ++ Seq("a3", "a4")).mkString(" ")
    val d11 = (Seq("b0", "b1", "b2") ++ shared ++ Seq("b3", "b4")).mkString(" ")
    val rep = (0 until 8).map(i => s"rep$i")
    val d12 = (rep ++ Seq("mid") ++ rep).mkString(" ")
    val d13 = (0 until 20).map(i => s"uniq$i").mkString(" ")
    val df = Seq((10L, d10), (11L, d11), (12L, d12), (13L, d13))
      .toDF("doc_id", "text")
    def spans(out: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gate = spans(Dedup.duplicatedSpans(df, "doc_id", "text", windowTokens = 8,
      family = HashFamily.Md5))
    val prod = spans(Dedup.duplicatedSpans(df, "doc_id", "text", windowTokens = 8))
    assert(gate == prod, s"gate $gate != production $prod")
    // 9 shared tokens at offset 3 -> windows at pos 3 and 4 merge to [3, 12)
    assert(gate((10L, 3L, 12L)) && gate((11L, 3L, 12L)), gate.toString)
    // doc 12: the 8-token run at pos 0 and pos 9 both marked, NOT
    // merged (gap: 9 > 0 + 8 is false... pos 9 > prevEnd 8 -> new span)
    assert(gate((12L, 0L, 8L)) && gate((12L, 9L, 17L)), gate.toString)
    assert(!gate.exists(_._1 == 13L), gate.toString)
    // nothing else marked in 10/11
    assert(gate.count(s => s._1 == 10L) == 1 && gate.count(s => s._1 == 11L) == 1)
  }

  test("removeDuplicatedSpans keeps the first global occurrence, gate == production") {
    val shared = (0 until 9).map(i => s"dup$i")
    val d10 = (Seq("a0", "a1", "a2") ++ shared ++ Seq("a3", "a4")).mkString(" ")
    val d11 = (Seq("b0", "b1", "b2") ++ shared ++ Seq("b3", "b4")).mkString(" ")
    // periodic self-overlap: every window of x*9 shares one hash —
    // the canonical-cover carve-out must leave one full 8-token copy
    val d12 = (0 until 9).map(_ => "x").mkString(" ")
    val d13 = (0 until 20).map(i => s"uniq$i").mkString(" ")
    val df = Seq((10L, d10), (11L, d11), (12L, d12), (13L, d13))
      .toDF("doc_id", "text")
    def out(o: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
      o.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val gate = out(Dedup.removeDuplicatedSpans(df, "doc_id", "text", windowTokens = 8,
      family = HashFamily.Md5))
    val prod = out(Dedup.removeDuplicatedSpans(df, "doc_id", "text", windowTokens = 8))
    assert(gate == prod, s"gate $gate != production $prod")
    // doc 10 holds the canonical copies (lowest id) — untouched
    assert(gate(10L) == (d10, 0L), gate(10L).toString)
    // doc 11 loses exactly the 9 shared tokens
    assert(gate(11L) ==
      ((Seq("b0", "b1", "b2", "b3", "b4").mkString(" "), 9L)), gate(11L).toString)
    // doc 12 keeps one full window (8 of 9 tokens survive)
    assert(gate(12L) == (((0 until 8).map(_ => "x").mkString(" "), 1L)),
      gate(12L).toString)
    assert(gate(13L) == (d13, 0L))
  }

  test("removeContaminatedSpans cuts exactly the benchmark-covered tokens") {
    val leak = (0 until 8).map(i => s"bench$i")
    val bench = Seq((0L, leak.mkString(" "))).toDF("bid", "btext")
    // doc 20 quotes the benchmark verbatim mid-document; 21 is clean;
    // 22 IS the benchmark text exactly (full gut)
    val d20 = (Seq("c0", "c1") ++ leak ++ Seq("c2")).mkString(" ")
    val d21 = (0 until 15).map(i => s"clean$i").mkString(" ")
    val d22 = leak.mkString(" ")
    val df = Seq((20L, d20), (21L, d21), (22L, d22)).toDF("doc_id", "text")
    def out(o: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
      o.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val gate = out(Dedup.removeContaminatedSpans(df, "doc_id", "text",
      bench, "btext", windowTokens = 8, family = HashFamily.Md5))
    val prod = out(Dedup.removeContaminatedSpans(df, "doc_id", "text",
      bench, "btext", windowTokens = 8))
    assert(gate == prod, s"gate $gate != production $prod")
    assert(gate(20L) == (("c0 c1 c2", 8L)), gate(20L).toString)
    assert(gate(21L) == ((d21, 0L)))
    assert(gate(22L) == (("", 8L)), gate(22L).toString)
  }

  test("dropSeenBefore: delta dedups against the snapshot signature table only") {
    def sentence(seed: Int) = {
      val r = new scala.util.Random(seed)
      (0 until 30).map(_ => s"w${r.nextInt(400)}").mkString(" ")
    }
    val corpus = (0 until 20).map(i => (i.toLong, sentence(i))).toDF("doc_id", "text")
    // the persisted artifact — all the snapshot the delta ever sees
    val snapshot = Dedup.minhashSignatures(corpus, "doc_id", "text")
    val exactCopies = (0 until 5).map(i => (100L + i, sentence(i)))
    val nearCopies = (5 until 8).map { i =>
      val toks = sentence(i).split(" "); toks(12) = "CHANGED"
      (200L + i, toks.mkString(" "))
    }
    val fresh = (0 until 5).map(i => (300L + i, sentence(1000 + i)))
    val delta = (exactCopies ++ nearCopies ++ fresh).toDF("doc_id", "text")
    val kept = Dedup.dropSeenBefore(delta, "doc_id", "text", snapshot,
      minEstimate = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == fresh.map(_._1).toSet,
      s"expected only fresh docs to survive, got $kept")
    // gate twin: the md5 kernel against ITS OWN md5 snapshot keeps
    // the same survivor set (the q146/q146p contract)
    val snapshotMd5 = Dedup.minhashSignatures(corpus, "doc_id", "text",
      family = HashFamily.Md5)
    val keptMd5 = Dedup.dropSeenBefore(delta, "doc_id", "text",
      snapshotMd5, bands = 8, minEstimate = 0.5, family = HashFamily.Md5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptMd5 == kept, s"md5 gate $keptMd5 != production $kept")
    // both paths refuse a snapshot built at a different k
    val snapK16 = Dedup.minhashSignatures(corpus, "doc_id", "text", k = 16)
    val eProd = intercept[IllegalArgumentException] {
      Dedup.dropSeenBefore(delta, "doc_id", "text", snapK16).count() }
    assert(eProd.getMessage.contains("rebuild the snapshot"))
    val snapK16Md5 = Dedup.minhashSignatures(corpus, "doc_id", "text", k = 16,
      family = HashFamily.Md5)
    val eGate = intercept[IllegalArgumentException] {
      Dedup.dropSeenBefore(delta, "doc_id", "text", snapK16Md5, bands = 8,
        minEstimate = 0.5, family = HashFamily.Md5).count() }
    assert(eGate.getMessage.contains("rebuild the snapshot"))
  }

  test("removeDuplicatedLines keeps the canonical first line, gate == production") {
    val docs = Seq(
      (1L, "alpha line\nbeta line\ngamma line"),
      (2L, "beta line\ndelta line"),          // beta dup of doc1 pos1
      (3L, "beta line\nbeta line"),           // within-doc repeats too
      (4L, "alpha line"),                     // whole doc goes
      (5L, "unique line"))
    val df = docs.toDF("doc_id", "text")
    def run(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val got = run(Dedup.removeDuplicatedLines(df, "doc_id", "text"))
    assert(got(1L) == (("alpha line\nbeta line\ngamma line", 0L)))
    assert(got(2L) == (("delta line", 1L)))
    assert(got(3L) == (("", 2L)))
    assert(got(4L) == (("", 1L)))
    assert(got(5L) == (("unique line", 0L)))
    assert(got == run(Dedup.removeDuplicatedLines(df, "doc_id", "text",
      family = HashFamily.Md5)))
  }

  test("removeDuplicatedLines: minOccurrences=3 spares a mere pair; roundtrip keeps empties") {
    val df = Seq(
      (1L, "twice\nthrice"), (2L, "twice\nthrice"), (3L, "thrice\n\ntail"),
      (4L, "solo\n\ntail")).toDF("doc_id", "text")
    // "twice" occurs 2 < 3 → untouched; "thrice" ×3 keeps (1,1);
    // "" and "tail" occur twice each < 3 → kept, and the empty line
    // must survive the split/agg roundtrip byte-identically
    val got = Dedup.removeDuplicatedLines(df, "doc_id", "text", minOccurrences = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("twice\nthrice", 0L)))
    assert(got(2L) == (("twice", 1L)))
    assert(got(3L) == (("\ntail", 1L)))
    assert(got(4L) == (("solo\n\ntail", 0L)))
  }

  test("removeDuplicatedLines honors a custom separator literally") {
    // '.' is regex-quoted, not treated as wildcard
    val df = Seq((1L, "a.b.c"), (2L, "b.z")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedLines(df, "doc_id", "text", sep = ".")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a.b.c")
    assert(got(2L) == "z")
  }

  test("hammingBandPairs: exact banding equals brute force incl. bit 63; fixed bands trade recall") {
    // engineered signatures: (1,2) flips 4 bits inside ONE 16-bit
    // production band, (1,3) spreads 4 flips across ALL FOUR — the
    // pigeonhole-exact shape must find both, the fixed-band
    // production shape must miss exactly (1,3); bit 63 pins the
    // unsigned band extraction
    val sigs = Seq(
      1L -> 0L,
      2L -> 0x000000000000000FL,
      3L -> 0x0001000100010001L,
      4L -> 0x8000000000000000L,
      5L -> 0x8000000000000001L).toDF("id", "sig")
    def bf(maxH: Int) = (for {
      (a, sa) <- Seq((1L, 0L), (2L, 0xFL), (3L, 0x0001000100010001L),
        (4L, 0x8000000000000000L), (5L, 0x8000000000000001L))
      (b, sb) <- Seq((1L, 0L), (2L, 0xFL), (3L, 0x0001000100010001L),
        (4L, 0x8000000000000000L), (5L, 0x8000000000000001L))
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= maxH
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    def got(exact: Boolean) =
      Dedup.hammingBandPairs(sigs, "id", "sig", maxHamming = 4, exact = exact)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = got(exact = true)
    assert(exact == bf(4))
    assert(exact.contains((1L, 3L, 4)))
    assert(got(exact = false) == bf(4) - ((1L, 3L, 4)))
  }

  test("hammingBandPairs bits=32: sub-64-bit signatures band over the live range") {
    // 32-bit signatures: with bits=32 the exact bands cover only the
    // live bits, so a pair differing in 3 of them still shares a band
    // (pigeonhole over 4 bands) — while the always-zero high bits
    // never become a bucket-everything band
    val sigs = Seq(1L -> 0L, 2L -> 0x80000001L, 3L -> 0x00010002L)
      .toDF("id", "sig")
    val got = Dedup.hammingBandPairs(sigs, "id", "sig", maxHamming = 3,
      exact = true, bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force: (1,2) h=2, (1,3) h=2, (2,3) h=4 (dropped)
    assert(got == Set((1L, 2L, 2), (1L, 3L, 2)))
  }
}
