package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TwoLevel}

class TwoLevelSpec extends SparkSpec {
  import spark.implicits._

  test("two-level assignment == flat argmin over the same centroids (seeded blobs)") {
    // G well-separated blobs (pairwise distance ≥ 10, intra-blob noise
    // ≤ 0.03): every centroid the quantizer can learn for a blob lives
    // in that blob's super-cell, so the two-level argmin must agree
    // with a FLAT argmin over the reconstructed full centroid set —
    // the judge contract that the hierarchy loses nothing on data it
    // was fitted to.
    val G = 25; val dim = 8; val per = 20
    def centerVal(g: Int, d: Int): Float =
      if (d == g % dim) (g / dim + 1) * 10f else 0f
    val rows = for (g <- 0 until G; i <- 0 until per) yield {
      val id = g.toLong * per + i
      val v = Array.tabulate(dim)(d =>
        centerVal(g, d) + ((id * 31 + d) % 7 - 3) * 0.01f)
      (id, v)
    }
    val df = rows.toDF("id", "vec")
    val tl = TwoLevel.fit(df, "id", "vec", k = G, iters = 2)
    assert(tl.kSuper == 5 && tl.kChild == 5)

    // full centroid set, global cell id = super·kChild + child
    val cents: Array[(Int, Array[Double])] = tl.children.collect().map { r =>
      (r.getAs[Int]("super") * tl.kChild + r.getAs[Int]("child")) ->
        r.getAs[Seq[Double]]("ctr").toArray
    }.sortBy(_._1)
    val assigned = tl.assign(df, "vec").select(col("id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned.size == G * per)

    rows.foreach { case (id, v) =>
      var best = -1; var bestD = Double.PositiveInfinity
      cents.foreach { case (cell, c) =>
        var s = 0.0; var i = 0
        while (i < dim) { val d = v(i).toDouble - c(i); s += d * d; i += 1 }
        if (s < bestD) { bestD = s; best = cell } // ties to lowest id
      }
      assert(assigned(id) == best,
        s"row $id: two-level cell ${assigned(id)} != flat argmin $best")
    }
    tl.unpersist()
  }

  test("two-level IVF probe: recall vs brute force at 16x the usual nlist") {
    // nlist=256 on 2000 vectors is the hierarchical regime (the flat
    // index would plant a 256x64 literal; past 16384 it could not run
    // at all) — recall must stay useful at a probed fraction
    // comparable to the flat ivfTopK spec (which probes 1/4 of 16
    // cells and asserts >= 0.4)
    val e = Tables(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val idx = TwoLevel.buildIvfIndexLarge(e, "vec_id", "embedding", nlist = 256)
    val got = TwoLevel.ivfProbeTwoLevel(idx, q, "vec_id", "embedding", 5,
        nprobeSuper = 8, nprobe = 64)
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val recall = brute.map { case (k, t) =>
      (t & got.getOrElse(k, Set.empty)).size.toDouble / t.size }.sum / brute.size
    idx.unpersist()
    assert(recall >= 0.4, s"two-level ivf recall $recall")
  }

  test("compressed ANN pipeline: project + int8 + two-level + exact rerank recall") {
    import graft.operators.CompressedAnn
    val e = Tables(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val idx = CompressedAnn.build(e, "vec_id", "embedding", nlist = 16,
      outDim = 16)
    val out = CompressedAnn.probe(idx, e, q, "vec_id", "embedding", 5,
        topCandidates = 64, nprobeSuper = 4, nprobe = 8)
      .collect()
    val got = out.groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    // exactness of the rerank: every reported cosine equals the
    // brute-force cosine for that (query, neighbor) pair
    val bruteCos = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 499)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteCos.get(key).foreach(c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9, s"cosine mismatch at $key"))
    }
    // disk roundtrip: a reopened index probes to the identical result
    val tmp = tempDir("graft-cann-spec-").toString
    CompressedAnn.write(idx, tmp)
    val (reopened, openJobs) = withJobCount(CompressedAnn.open(spark, tmp))
    assert(openJobs == 0, s"CompressedAnn.open started $openJobs job(s)")
    assert(reopened.cells.schema == spark.read.parquet(s"$tmp/cells.parquet").schema)
    assert(reopened.cells.columns.contains("cell"))
    assert(reopened.quantizer.children.schema ==
      spark.read.parquet(s"$tmp/children.parquet").schema)
    val again = CompressedAnn.probe(reopened, e, q, "vec_id", "embedding", 5,
        topCandidates = 64, nprobeSuper = 4, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    idx.unpersist()
    // recall: projection loses some geometry (JL at outDim 16), the
    // probed fraction is 8/16-ish cells, and the exact rerank buys
    // back ordering within candidates — the composition must stay
    // comparable to the flat-IVF spec bound
    val recall = brute.map { case (k, t) =>
      (t & got.getOrElse(k, Set.empty)).size.toDouble / t.size }.sum / brute.size
    assert(recall >= 0.4, s"compressed pipeline recall $recall")
  }

  test("q119 gate twin: oracled composition tracks the production recipe") {
    // the md5 gate twin (q119's oracled kernel) must be a
    // REPRESENTATIVE stand-in for CompressedAnn: same output shape,
    // exact-rerank cosines identical to brute force, and recall in
    // the production path's neighborhood (measured 0.44 vs 0.50 on
    // this fixture; the gap is the md5-integer projection + the
    // narrower probe, both deliberate replayability trades)
    import graft.operators.Clustering
    val e = Tables(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val out = Clustering.compressedAnnTopKMd5(e, q, "vec_id", "embedding", 5)
      .collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.size == 10 && byQuery.values.forall(_.length == 5),
      "every query must fill its top-5")
    // rerank exactness: reported cosines == brute-force cosines
    val bruteCos = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 499)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteCos.get(key).foreach(c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9, s"cosine mismatch at $key"))
    }
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val recall = brute.map { case (k, t) =>
      (t & byQuery.getOrElse(k, Array.empty).map(_.getLong(1)).toSet).size.toDouble / t.size
    }.sum / brute.size
    assert(recall >= 0.35, s"gate twin recall $recall drifted from production's regime")
  }

  test("md5 gate twins refuse cluster counts past the flat-literal ceiling") {
    // the gate twins keep child centroids as PLAN LITERALS (gate-scale
    // trade); past MaxAutoClusters cells that literal is the exact
    // blowup the production two-level join-table path avoids — the
    // twin must refuse loudly, pointing at the production path
    import graft.operators.Clustering
    val e = Tables(spark, sf001, "embeddings")
    val err = intercept[IllegalArgumentException] {
      Clustering.semanticDedupLargeMd5(e, "vec_id", "embedding",
        threshold = 0.3, k = graft.operators.Similarity.MaxAutoClusters + 1)
    }
    assert(err.getMessage.contains("flat-literal ceiling"), err.getMessage)
    assert(err.getMessage.contains("semanticDedupLarge"), err.getMessage)
  }

  test("semanticDedupLarge prunes planted duplicates like the flat kernel") {
    // identical embeddings share every kernel distance, so a planted
    // twin always lands in its original's cluster and the dominance
    // rule drops the higher id — same contract the flat kernel pins
    val e = Tables(spark, sf001, "embeddings")
    val planted = e.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    val withDups = e.unionByName(planted)
    val survivors = Similarity.semanticDedupLarge(
      withDups, "vec_id", "embedding", threshold = 0.99, k = 64)
    val ids = survivors.select("vec_id").collect().map(_.getLong(0)).toSet
    (0L until 20L).foreach { id =>
      assert(ids.contains(id), s"original vec $id wrongly dropped")
      assert(!ids.contains(id + 1000000L),
        s"planted duplicate of vec $id survived")
    }
    assert(ids.size.toLong == survivors.count())
  }

  test("semanticDedupLargeMd5 gate twin keeps the same survivors as production") {
    // planted identical twins: whatever clusters each kernel learns
    // (md5 vs xxhash64 init), a twin always shares its original's
    // cluster and the dominance rule drops the higher id — so on a
    // corpus whose only near-dups are exact cliques both kernels must
    // keep the identical survivor set (the q101/q101p contract, here
    // for the two-level pair q101L/q101Lp)
    val e = Tables(spark, sf001, "embeddings")
    val planted = e.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    val withDups = e.unionByName(planted)
    val prod = Similarity.semanticDedupLarge(
        withDups, "vec_id", "embedding", threshold = 0.99, k = 32)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val gate = graft.operators.Clustering.semanticDedupLargeMd5(
        withDups, "vec_id", "embedding", threshold = 0.99, k = 32)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gate == prod,
      s"gate-only: ${(gate -- prod).take(5)}; prod-only: ${(prod -- gate).take(5)}")
    (0L until 20L).foreach { id =>
      assert(gate.contains(id), s"original vec $id wrongly dropped")
      assert(!gate.contains(id + 1000000L), s"planted dup of $id survived")
    }
  }

  test("sharded dedup + survivor merge == whole-corpus survivors on planted cliques") {
    // planted exact-duplicate cliques of 3 whose members hash into
    // DIFFERENT shards: each shard keeps its clique minimum, the merge
    // pass must then keep the global minimum — landing on exactly the
    // whole-corpus survivor set
    val e = Tables(spark, sf001, "embeddings")
    val p1 = e.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    val p2 = e.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + lit(2000000L))
    val withDups = e.unionByName(p1).unionByName(p2)
    val whole = Similarity.semanticDedup(
        withDups, "vec_id", "embedding", threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val sharded = Similarity.semanticDedupSharded(
        withDups, "vec_id", "embedding", threshold = 0.99, shards = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sharded == whole,
      s"sharded-only: ${(sharded -- whole).take(5)}; " +
        s"whole-only: ${(whole -- sharded).take(5)}")
    (0L until 20L).foreach { id =>
      assert(sharded.contains(id))
      assert(!sharded.contains(id + 1000000L) && !sharded.contains(id + 2000000L))
    }
  }

  test("broadcast-ceiling fallback: shuffle-join assign and probe match the broadcast path") {
    // the 64 MiB default is unreachable at test scale, so without this
    // the fallback branches (assign's corpus-shuffle join, the probe's
    // flipped broadcast side) would ship unexecuted; forcing the
    // ceiling to 1 byte drives every join through them and pins
    // result equality with the broadcast path
    val e = Tables(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    def run(): (Map[Long, Int], Map[Long, Set[Long]]) = {
      val tl = TwoLevel.fit(e, "vec_id", "embedding", k = 64, iters = 2)
      val asg = tl.assign(e, "embedding").select(col("vec_id"), col("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val idx = TwoLevel.buildIvfIndexLarge(e, "vec_id", "embedding", nlist = 64)
      val got = TwoLevel.ivfProbeTwoLevel(idx, q, "vec_id", "embedding", 5,
          nprobeSuper = 4, nprobe = 16)
        .collect().groupBy(_.getLong(0))
        .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
      idx.unpersist(); tl.unpersist()
      (asg, got)
    }
    val (asgB, probeB) = run()
    spark.conf.set("spark.graft.twolevel.broadcastBytes", "1")
    try {
      val (asgS, probeS) = run()
      assert(asgS == asgB, "shuffle-path assignment diverged from broadcast path")
      assert(probeS == probeB, "shuffle-path probe diverged from broadcast path")
    } finally spark.conf.unset("spark.graft.twolevel.broadcastBytes")
  }

  test("semanticDedup auto-routes past the flat ceiling and stays correct") {
    // k above MaxAutoClusters must take the two-level path (the flat
    // path would need a >8 MB centroid literal) and still honor the
    // SemDeDup contract — degenerate occupancy (most cells empty on a
    // small corpus) included
    val e = Tables(spark, sf001, "embeddings")
    val planted = e.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    val withDups = e.unionByName(planted)
    val survivors = Similarity.semanticDedup(withDups, "vec_id", "embedding",
      threshold = 0.99, k = Similarity.MaxAutoClusters + 64, iters = 2)
    val ids = survivors.select("vec_id").collect().map(_.getLong(0)).toSet
    (0L until 10L).foreach { id =>
      assert(ids.contains(id), s"original vec $id wrongly dropped")
      assert(!ids.contains(id + 1000000L),
        s"planted duplicate of vec $id survived")
    }
  }
}
