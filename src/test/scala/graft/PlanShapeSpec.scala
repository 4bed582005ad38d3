package graft

import org.apache.spark.sql.functions._
import graft.operators.ScaleOps

/** Plan-shape regression guards: the scale properties SCALE.md claims
  * (pushdown to the scan, broadcast for dims, partial aggregation,
  * no stray shuffles) asserted against the live optimizer output — a
  * silent plan regression fails here before it costs anything at SF.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf001).queryExecution.executedPlan.toString

  test("token-budget sampler never plans a single-partition global window") {
    val p = plan("q71_token_budget_sample")
    // the two-phase prefix sum must distribute over md5-prefix buckets;
    // a SinglePartition exchange here means the whole corpus funnels
    // through one task
    assert(p.contains("Window"), s"no window in sampler plan:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"sampler collapsed to a single partition:\n$p")
  }

  test("perplexity buckets never plan a single-partition window") {
    // round-13 fix: the distinct-score offsets ran through a global
    // Window.orderBy (one task holds every distinct score — ~10⁷ rows
    // on a web corpus); the two-phase slice prefix sum must keep every
    // window partitioned
    val p = plan("q113_perplexity_buckets")
    assert(!p.contains("Exchange SinglePartition"),
      s"rank offsets funneled through one partition:\n$p")
  }

  test("star join: Catalyst auto-broadcasts the unhinted corpus-scaled dimension") {
    // round 13 dropped the FORCED broadcast hint on customer (it
    // scales with the corpus, unlike the constant nation/region dims,
    // so forcing the hint is an OOM at web SF). The optimizer must
    // still pick broadcast joins for ALL THREE dims at test SF from
    // its own size estimates — and no dim join may shuffle
    val p = plan("q9_join_star")
    val nBhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBhj >= 3, s"expected >=3 Catalyst-chosen broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a dimension join fell back to a shuffle at test SF:\n$p")
  }

  test("naive bayes: partial+final aggs, window-group-limit winner, no single-partition funnel") {
    val p = plan("q126_naive_bayes")
    // token/model/doc counts all pre-combine map-side
    assert(p.contains("HashAggregate"), s"no hash agg:\n$p")
    assert(!p.contains("SortAggregate"), s"sort agg crept in:\n$p")
    // the per-doc argmax is a rank-1 filter: must lower to the
    // group-limit optimization, not a full per-doc sort pipeline alone
    assert(p.contains("WindowGroupLimit"),
      s"winner pick lost the group-limit lowering:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"classifier funneled through one partition:\n$p")
  }

  test("decontamination broadcasts the benchmark gram set (semi-join, no corpus shuffle)") {
    val p = plan("q73_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark grams not broadcast-semi-joined:\n$p")
  }

  test("incremental delta dedup: text never shuffles, survivors anti-join broadcasts") {
    // the production daily-delta operator (q146p's kernel): only slim
    // (doc, sig, band, bucket) rows may enter a shuffle — yesterday's
    // 100 TB of text is represented by its signature artifact and the
    // delta's text rides only the final anti-join, whose candidate
    // list is duplicate-sized and must broadcast at test SF
    import graft.operators.Dedup
    val docs = graft.Tables(spark, sf001, "documents")
    val snap = Dedup.minhashSignatures(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text")
    val out = Dedup.dropSeenBefore(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", snap, minEstimate = 0.5)
    val exec = out.queryExecution.executedPlan
    val shuffledCols = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.map(_.name)
    }.flatten
    assert(!shuffledCols.contains("text"),
      s"document text entered a shuffle: ${shuffledCols.distinct}")
    val p = exec.toString
    assert(p.contains("LeftAnti") && p.contains("Broadcast"),
      s"survivor anti-join not broadcast:\n$p")
  }

  test("PQ probe never shuffles the encoded corpus") {
    // the production operator directly (the q75 queries entry is the
    // localCheckpointed md5 gate, whose executed plan is opaque)
    import graft.operators.Pq
    val e = graft.Tables(spark, sf001, "embeddings")
    val (cb, enc) = graft.queries.TextVector.pqIndexFor(spark, sf001)
    val df = Pq.topK(enc, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      cb, k = 5, rerank = 50, rawCorpus = Some(e))
    val p = df.queryExecution.executedPlan.toString
    // queries (with ADC tables) broadcast; the only wide op downstream
    // of the corpus is the final top-k window on query_id
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries not broadcast:\n$p")
  }

  test("multimodal decode pipeline is map-only (no shuffle, no collect)") {
    val df = SparkEntry.queries("q34_multimodal_decode")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    // encode + decode are per-partition transforms over the scan; any
    // Exchange here means payload bytes crossed the network for a
    // row-local operation
    assert(!p.contains("Exchange"), s"multimodal decode shuffles:\n$p")
  }

  test("hash split and int8 codec are map-only (no shuffle)") {
    // both operators' entire value at 100 TB is that they touch each
    // row exactly where it was read; an Exchange would mean the
    // codegen'd hash/CASE (or the quantize HOFs) moved data to do
    // row-local arithmetic
    val split = plan("q106_hash_split")
    assert(!split.contains("Exchange"), s"hash split shuffles:\n$split")
    val q107 = plan("q107_embed_int8")
    assert(!q107.contains("Exchange"), s"int8 codec shuffles:\n$q107")
  }

  test("corpus assembly pipeline never funnels through a single partition") {
    val p = plan("q95_corpus_pipeline")
    assert(p.contains("Window"), s"expected bucketed cumsum windows:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"assembly pipeline collapsed to one task:\n$p")
  }

  test("bigram LM pre-combines counts map-side; no window over the gram") {
    val p = plan("q97_bigram_lm")
    // the skew-safe formulation: partial aggregation everywhere, and
    // NO WindowExec keyed on the gram (which would buffer a hot Zipf
    // gram's entire group in one task)
    assert(p.contains("partial"), s"expected partial aggregation:\n$p")
    assert(!p.contains("Window"), s"gram window reintroduced — Zipf-hostile:\n$p")
  }

  test("LM vocab broadcast hint is size-gated (the 100x-vocab OOM guard)") {
    // The lmvocab ScaleProbe (SCALE.md round 13) proved both regimes at
    // 1.3e7 synthetic types; this pins the MECHANISM in seconds. With
    // the auto-broadcast threshold disabled, the only way a
    // BroadcastHashJoin can appear in the static plan is the forced
    // hint — so below the cap it must be there, and above the cap its
    // presence would be exactly the web-scale driver-OOM bug.
    import graft.operators.CorpusStats
    val docs = Seq.tabulate(64)(i =>
      (i.toLong, s"t${i % 13} t${i % 7} t${(i * 3) % 11} t$i")).toDF("doc_id", "text")
    def planStr: String = CorpusStats.bigramLmScore(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val conf = spark.conf
    val prevAuto = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(planStr.contains("BroadcastHashJoin"),
        "below the cap the vocab join must keep the forced broadcast hint")
      conf.set("spark.graft.lm.broadcastMaxTypes", "1")
      val above = planStr
      assert(!above.contains("BroadcastHashJoin"),
        s"above the cap no LM join may force a broadcast:\n$above")
    } finally {
      prevAuto.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      conf.unset("spark.graft.lm.broadcastMaxTypes")
      // each bigramLmScore call persists its unigram/bigram tables for
      // the session — drop them so cached RDDs don't pile up across
      // the suite
      spark.catalog.clearCache()
    }
  }

  test("bm25 broadcasts document frequencies and top-ks without a global sort") {
    val p = plan("q87_bm25")
    assert(p.contains("BroadcastHashJoin"),
      s"per-term df table must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k must not global-sort:\n$p")
  }

  test("chunk dedup aggregates hash-based end to end (no SortAggregate)") {
    val p = plan("q85_chunk_dedup")
    assert(!p.contains("SortAggregate"),
      s"first-occurrence agg fell back to sort-based:\n$p")
  }

  test("bloom probe is a native codegen'd filter over the sketch literal") {
    // q89's result frame is post-localCheckpoint (the probe already
    // ran), so assert the probe SHAPE directly: a bloom built by the
    // native aggregate, probed by BloomFilterMightContain in a plain
    // Filter — no join, no shuffle on the probing side.
    graft.plans.GraftExtensions.registerAll(spark)
    val keys = spark.range(0, 1000).select(xxhash64($"id").as("g"))
    val sketch = keys.agg(call_function("graft_bloom_agg", $"g",
      lit(1000L), lit(8192L))).head().getAs[Array[Byte]](0)
    val probe = spark.range(0, 2000).select(xxhash64($"id").as("g"))
      .filter(call_function("graft_might_contain", lit(sketch), $"g"))
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"bloom probe not in plan:\n$p")
    assert(!p.contains("Join"), s"probe must be a map-side filter:\n$p")
    // every true member passes (bloom has no false negatives)
    assert(probe.count() >= 1000)
  }

  test("computed-key bound uses the compact native key expression") {
    val p = plan("q52_bound_box")
    // Catalyst collapses the key projection back into the filter — the
    // invariant that matters is that each disjunct carries the ONE-call
    // native expression (whole-stage CSE evaluates it once), never the
    // 3·level-term interleave lowering that overflowed the 64 KB
    // codegen method limit and silently de-codegen'd the stage
    assert(p.contains("mortonkeyexpr"), s"native key expr missing:\n$p")
    assert(!p.contains("shiftleft"),
      s"pure-column interleave leaked into the bound filter:\n$p")
    assert(p.length < 60000,
      s"bound plan is ${p.length} chars — predicate budget regressed?")
    // residual geometry still reaches the scan as pushed filters
    assert(p.contains("PushedFilters: [IsNotNull"), s"pushdown lost:\n$p")
  }

  test("computed-key bound plans stay within the range-predicate budget") {
    // the tiered octree budget: a fragmented region (a sphere at the
    // requested level) over a COMPUTED key must coarsen instead of
    // emitting hundreds of per-row BETWEEN disjuncts. The plan string
    // repeats the key expression once per comparison, so its size is a
    // direct proxy for predicate width; the un-tiered level-4 sphere
    // plan was ~10x this budget.
    val p = plan("q80_bound_sphere")
    assert(p.length < 120000,
      s"sphere bound plan is ${p.length} chars — range budget regressed")
    // the stored-key budget stays wide: classification of the q80
    // sphere at level 4 yields more ranges than the computed budget,
    // which is exactly why the computed path must step down
    import graft.spatial.{Octree, Region}
    val full = Octree.classifyCells(
      Region.Sphere(Region.P3(25.0, 4.0, 4.0), 12.0), 0.0, 52.0, 4)
    assert(full.contained.size + full.boundary.size > Octree.MaxRangesComputed)
  }

  test("filter queries push predicates into the parquet scan") {
    val p = plan("q2_filter")
    assert(p.contains("PushedFilters: [Or(And(GreaterThan(l_quantity"),
      s"predicate not pushed:\n$p")
  }

  test("projection prunes the scan schema") {
    val p = plan("q3_select_derived")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_shipdate"), "unreferenced column read")
    assert(!p.contains("l_returnflag"), "unreferenced column read")
  }

  test("dimension joins broadcast; fact joins do not broadcast the fact") {
    val star = plan("q9_join_star")
    assert(star.contains("BroadcastHashJoin"), s"no broadcast in star join:\n$star")
    val fact = plan("q12_structure_agg")
    // orders⋈lineitem at any SF must not broadcast either side blindly —
    // accept broadcast only if AQE chose it from actual sizes (sf0.001 is
    // tiny); the logical plan must not contain an explicit broadcast hint.
    val logical = SparkEntry.queries("q12_structure_agg")(spark, sf001)
      .queryExecution.logical.toString
    assert(!logical.toLowerCase.contains("broadcast"),
      "fact-fact join has an explicit broadcast hint")
  }

  test("aggregation is partial+final (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"no partial aggregation:\n$p")
  }

  test("top-k compiles to TakeOrderedAndProject (no full sort)") {
    val p = plan("q6_topk")
    assert(p.contains("TakeOrderedAndProject"), s"full sort for top-k:\n$p")
  }

  test("bound query derives storage-level range pushdown from geometry") {
    val p = plan("q52_bound_box")
    assert(p.contains("GreaterThanOrEqual(l_quantity,5"),
      s"no derived range pushdown:\n$p")
  }

  test("salted aggregation equals plain aggregation (skewed key)") {
    // 90% of rows share one key — the salting target.
    val df = ((0 until 9000).map(_ => ("hot", 1.0)) ++
      (0 until 1000).map(i => (s"k$i", 2.0))).toDF("k", "v")
    val salted = ScaleOps.saltedSumCount(df, col("k"), col("v"), salts = 8)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted("hot") == ((9000.0, 9000L)))
    assert(salted("k7") == ((2.0, 1L)))
    // phase-1 spread: the hot key really does split across salts
    val phase1 = df.groupBy(col("k"),
      pmod(xxhash64(monotonically_increasing_id()), lit(8L)).as("salt"))
      .count().filter($"k" === "hot").count()
    assert(phase1 > 1, "hot key not spread across salts")
  }

  test("salted broadcast join equals plain join") {
    val left = ((0 until 5000).map(_ => ("hot", 1)) ++
      (0 until 100).map(i => (s"k$i", 2))).toDF("key", "v")
    val right = (Seq(("hot", 10.0)) ++ (0 until 100).map(i => (s"k$i", 1.0)))
      .toDF("key", "w")
    val got = ScaleOps.saltedBroadcastJoin(left, right, "key")
      .agg(sum($"v" * $"w")).first().getDouble(0)
    val want = left.join(right, "key").agg(sum($"v" * $"w")).first().getDouble(0)
    assert(got == want)
  }

  test("bucketed tables join without an exchange") {
    val wh = tempDir("graft_buckets").toString
    val orders = Tables(spark, sf001, "orders")
    val lineitem = Tables(spark, sf001, "lineitem")
    ScaleOps.writeBucketed(orders.select("o_orderkey", "o_totalprice"),
      "b_orders", s"$wh/b_orders", "o_orderkey", 8)
    ScaleOps.writeBucketed(lineitem.select($"l_orderkey".as("o_orderkey"), $"l_quantity"),
      "b_lineitem", s"$wh/b_lineitem", "o_orderkey", 8)
    // tiny test tables would be broadcast; disable so the plan shows
    // the bucketed sort-merge path a 100 TB fact-fact join would use.
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(joined.count() == lineitem.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("semantic dedup dominance join keys on the cluster — never cartesian") {
    // the SemDeDup scaling claim rests on the pair expansion being
    // cluster-confined: the self-join must plan as an equi-join on the
    // cluster key (hash/sort-merge), not a cartesian or nested-loop
    // product over the corpus
    val e = Tables(spark, sf001, "embeddings")
    val asg = e.select(col("vec_id").as("__id"),
      col("embedding").as("__vec"), (col("vec_id") % 8).cast("int").as("cluster"))
    val surv = graft.operators.Similarity.dominanceSurvivors(asg, 0.9)
    val p = surv.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"dominance join is cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"dominance join is NLJ:\n$p")
    assert(surv.count() > 0)
  }

  test("random projection and BPE fast encode are map-only codegen (no shuffle, no UDF)") {
    val proj = plan("q114_random_projection")
    assert(!proj.contains("Exchange"), s"projection shuffles:\n$proj")
    // executedPlan renders whole-stage codegen spans as "*(id)"
    assert(proj.contains("*("), s"projection not codegen'd:\n$proj")
    val d = Tables(spark, sf001, "documents")
    val merges = graft.operators.Bpe.trainMerges(d, "text", 16)
    val enc = graft.operators.Bpe.encodeFast(d, "doc_id", "text", merges)
    val p = enc.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"one-pass encode shuffles:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"encode fell back to a UDF:\n$p")
  }

  test("HLL registers are ONE pre-combined hash-agg shuffle; estimate adds one more") {
    val d = Tables(spark, sf001, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
    val regs = graft.operators.CorpusStats.hllRegisters(d, Seq("source"), "t")
    val p = regs.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1, s"register build shuffles != 1:\n$p")
    assert(p.contains("partial"), s"no map-side partial agg:\n$p")
  }

  test("line dedup never shuffles document text — only (doc,pos,hash) frames") {
    // the hash-count exchange must carry the slim hashed projection;
    // assert no Exchange's child projects the text/line column itself
    val d = Tables(spark, sf001, "documents")
    val out = graft.operators.Dedup.removeDuplicatedLines(d, "doc_id", "text")
    val p = out.queryExecution.executedPlan.toString
    // every hashpartitioning key in the plan is an id, hash, or
    // line-hash column — never raw text
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .toSeq
    assert(exchanges.nonEmpty)
    exchanges.foreach(e =>
      assert(!e.contains("text#") && !e.contains("line#"),
        s"text shuffles in: $e"))
  }

  test("span and line rewrites keep their left join under count(), production twins included") {
    // each rewrite's output filter must keep count() from eliminating
    // the unique-key left join and pricing the query as a bare scan
    Seq("q103_span_removal", "q103p_span_removal_prod", "q104_span_decontam",
        "q104p_span_decontam_prod", "q112_line_dedup", "q112p_line_dedup_prod")
      .foreach { q =>
        val counted = SparkEntry.queries(q)(spark, sf001).groupBy().count()
          .queryExecution.optimizedPlan
        val leftJoins = counted.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter => j
        }
        assert(leftJoins.nonEmpty, s"$q: count() pruned the rewrite:\n$counted")
      }
  }

  test("per-group sampler plans salted windows, not one global sort") {
    val p = plan("q116_sample_per_group")
    assert(!p.contains("Exchange SinglePartition"),
      s"sampler funnels through one partition:\n$p")
    assert(p.contains("Window"), s"no window in plan:\n$p")
  }

  test("skew profile surfaces the hot key") {
    val df = ((0 until 900).map(_ => "hot") ++ (0 until 100).map(i => s"k$i"))
      .toDF("k")
    val top = ScaleOps.skewProfile(df, col("k"), 1).first()
    assert(top.getString(0) == "hot" && top.getDouble(2) == 0.9)
  }

  test("healpix pixel key is a codegen'd expression, not a UDF") {
    // round-14 verdict item: pixelColumn was the last per-row Scala
    // UDF — opaque to Catalyst (no fusion, no pushdown through it).
    // It must now plan as the graft_healpix_pix expression inside a
    // whole-stage-codegen'd project, and agree with the scalar kernel.
    val df = spark.range(100).select(
      (col("id") % 360).cast("double").as("ra"),
      ((col("id") % 179) - 89).cast("double").as("dec"))
    val keyed = df.select(
      graft.spatial.Healpix.pixelColumn(16, col("ra"), col("dec")).as("pix"),
      col("ra"), col("dec"))
    val p = keyed.queryExecution.executedPlan.toString
    assert(p.contains("graft_healpix_pix"), p)
    assert(!p.contains("UDF"), s"pixel key fell back to a UDF:\n$p")
    // '*(1)' is toString's compact WholeStageCodegen marker: the
    // project carrying the expression fused into a codegen stage
    assert(p.contains("*(1) Project [graft_healpix_pix"), p)
    keyed.collect().foreach { r =>
      assert(r.getLong(0) ==
        graft.spatial.Healpix.ang2pixNest(16, r.getDouble(1), r.getDouble(2)),
        s"expression disagrees with kernel at (${r.getDouble(1)}, ${r.getDouble(2)})")
    }
  }

  test("PQ encode is a codegen'd expression over a flat codeword literal, not a UDF") {
    import graft.operators.Pq
    val e = graft.Tables(spark, sf001, "embeddings")
    val cb = Pq.train(e, "vec_id", "embedding", m = 8, ksub = 16)
    val enc = Pq.encode(e, "embedding", cb)
    val p = enc.queryExecution.executedPlan.toString
    assert(p.contains("graft_pq_encode"), p)
    assert(!p.contains("UDF"), s"encode fell back to a UDF:\n$p")
    assert(p.contains("*(1)"), s"encode not in a codegen stage:\n$p")
    // value parity with the trainer's own nearest-codeword loop on a
    // few rows (same strict-<, lowest-index tie-break)
    enc.select(col("embedding"), col("pq_code")).limit(20).collect().foreach { r =>
      val v = r.getSeq[Float](0).toArray
      val got = r.getSeq[Int](1)
      // FLOAT subtraction/multiply, widened on accumulation — the
      // trainer's exact arithmetic (Pq.nearest); double-precision
      // subtraction here would diverge on rounding-edge ties
      val want = (0 until cb.m).map { sub =>
        val p0 = java.util.Arrays.copyOfRange(v, sub * cb.dsub, (sub + 1) * cb.dsub)
        cb.centers(sub).zipWithIndex.minBy { case (c, i) =>
          (c.zip(p0).map { case (a, b) => val t = a - b; (t * t).toDouble }.sum, i)
        }._2
      }
      assert(got == want)
    }
  }

  test("sky cross-match plans zero UDFs: pixel key and disc cover are expressions") {
    val p = plan("q76_crossmatch")
    assert(p.contains("graft_healpix_pix"), p)
    assert(p.contains("graft_healpix_disc"), p)
    assert(!p.contains("UDF"),
      s"cross-match fell back to a UDF somewhere:\n$p")
  }

  test("bucketByRank: lazy output, one DISK_ONLY snapshot, lineage never truncated") {
    // Round-14's form eagerly localCheckpoint(true)'d BOTH the scored
    // input and the bucketed output: two full corpus-shaped copies on
    // executor-local storage with lineage truncated — a lost executor
    // fails the job instead of recomputing. The DiskSnapshot form must
    // (a) run ONLY the two stats actions at construction (no eager
    // output materialization), (b) persist nothing above DISK_ONLY,
    // and (c) keep every RDD in the result's lineage un-checkpointed.
    import graft.operators.CorpusStats
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.storage.StorageLevel
    val df = spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") % 7).cast("double").as("score"))
    val conf = spark.conf
    val prevAqe = conf.getOption("spark.sql.adaptive.enabled")
    // AQE off for a deterministic job count (AQE stages one action
    // into several jobs); a job group isolates this thread's jobs
    // from any concurrently-running suite
    conf.set("spark.sql.adaptive.enabled", "false")
    val group = "plan-shape-bucket-by-rank"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "bucketByRank construction probe")
    try {
      val out = CorpusStats.bucketByRank(df, "id", "score", 4)
      Thread.sleep(1500) // listener events deliver asynchronously
      assert(jobs.get == 2,
        s"construction ran ${jobs.get} jobs; expected exactly the two " +
          "stats actions — an eager input/output materialization crept back in")
      def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
        r +: r.dependencies.flatMap(d => lineage(d.rdd))
      val rdds = lineage(
        out.queryExecution.toRdd.asInstanceOf[org.apache.spark.rdd.RDD[_]])
      assert(rdds.forall(!_.isCheckpointed),
        "checkpointed RDD in bucketByRank lineage — fault tolerance lost")
      val persisted = rdds.filter(_.getStorageLevel != StorageLevel.NONE)
      assert(persisted.nonEmpty, "the scored-input snapshot is gone")
      persisted.foreach { r =>
        val l = r.getStorageLevel
        // localCheckpoint's implicit level uses memory — DISK_ONLY is
        // the contract for corpus-shaped intermediates
        assert(l.useDisk && !l.useMemory && l.replication == 1,
          s"snapshot persisted at $l, expected DISK_ONLY")
      }
      // and the lazy plan still produces exact equal-count buckets
      val hist = out.groupBy(col("bucket")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(hist == Map(0 -> 250L, 1 -> 250L, 2 -> 250L, 3 -> 250L),
        s"bucket histogram off: $hist")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
      prevAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
        conf.set("spark.sql.adaptive.enabled", _))
    }
  }

  test("CC loop default mode: lineage cut is executor-local, never file-backed") {
    // complement of DedupSpec's reliable-mode case: with no
    // spark.graft.checkpointDir, the loop must keep the zero-external-
    // storage localCheckpoint path (a surprise write to a checkpoint
    // dir on a dev box is as wrong as a missing reliable one at scale)
    assert(spark.conf.getOption("spark.graft.checkpointDir").isEmpty,
      "a prior suite leaked spark.graft.checkpointDir")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val labels = graft.operators.Dedup
      .connectedComponentsStar(pairs, "doc_a", "doc_b")
    val lr = labels.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(lr.nonEmpty, "expected a checkpointed LogicalRDD leaf")
    lr.foreach { l =>
      assert(l.rdd.isCheckpointed, "labels frame not lineage-cut at all")
      assert(l.rdd.getCheckpointFile.isEmpty,
        "default CC mode wrote a reliable checkpoint without the conf")
    }
    assert(labels.count() == 5L)
  }

  test("constant operands of registered SQL kernels fail analysis when non-foldable") {
    // nside/radius/m/dsub/ksub (and the PQ codebook) are extracted
    // once at plan time via eval(null) — a per-row column there used
    // to surface as an executor NPE/ClassCastException; it must be an
    // analysis-time error naming the operand instead.
    graft.plans.GraftExtensions.registerAll(spark)
    val df = spark.range(4).select(col("id"),
      (col("id") * 10).cast("double").as("ra"),
      (col("id") * 5).cast("double").as("dec"),
      (col("id") + 1).cast("int").as("n"))
    def analysisMessage(c: org.apache.spark.sql.Column,
                        on: org.apache.spark.sql.DataFrame = df): String = {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        on.select(c).collect()
      }
      e.getMessage
    }
    val mPix = analysisMessage(
      call_function("graft_healpix_pix", col("ra"), col("dec"), col("n")))
    assert(mPix.contains("plan-time constant") && mPix.contains("nside"), mPix)
    val mDisc = analysisMessage(
      call_function("graft_healpix_disc", col("id"), lit(8), col("ra")))
    assert(mDisc.contains("plan-time constant") && mDisc.contains("radius"), mDisc)
    val mMorton = analysisMessage(
      call_function("graft_morton_key", col("ra"), col("dec"), col("ra"),
        lit(0.0), col("ra"), lit(2)))
    assert(mMorton.contains("plan-time constant") && mMorton.contains("size"), mMorton)
    // the codebook must be a literal too, not just the right type
    val vdf = spark.range(4).select(
      transform(sequence(lit(1), lit(8)), x => x.cast("float")).as("v"))
    val mPq = analysisMessage(
      call_function("graft_pq_encode", col("v"), col("v"),
        lit(2), lit(4), lit(1)), on = vdf)
    assert(mPq.contains("plan-time constant") && mPq.contains("codebook"), mPq)
    // the text kernels share the contract: n/k are eval(null)'d once
    val hdf = spark.range(4).select(
      transform(sequence(lit(1L), lit(6L)), x => x).as("hs"),
      (col("id") + 1).cast("int").as("n"))
    val mNg = analysisMessage(
      call_function("graft_ngram_hashes", col("hs"), col("n")), on = hdf)
    assert(mNg.contains("plan-time constant") && mNg.contains("n"), mNg)
    val mMh = analysisMessage(
      call_function("graft_minhash_sig", col("hs"), col("n")), on = hdf)
    assert(mMh.contains("plan-time constant") && mMh.contains("k"), mMh)
    val mDefl = analysisMessage(call_function("graft_deflate_len",
      col("id").cast("string"), col("n")))
    assert(mDefl.contains("plan-time constant") && mDefl.contains("level"), mDefl)
    // the BPE kernels reject per-row table/vocab arguments too — at
    // EXECUTION via their named lazy-compile requires (an analysis
    // gate there breaks the analyzer's staged HOF-lambda resolution;
    // see the BpeWordExpr Scaladoc)
    val bdf = spark.range(3).select(
      concat(lit("w"), col("id")).as("w"),
      array(concat(lit("v"), col("id"))).as("vocab"),
      split(concat(lit("s"), col("id")), ",").as("syms"))
    val eBpe = intercept[Exception] {
      bdf.select(call_function("graft_bpe_word", col("w"),
        array(struct(col("w").as("_1"), lit("b").as("_2"))))).collect()
    }
    assert(eBpe.getMessage.contains("graft_bpe_word") ||
      (eBpe.getCause != null &&
        eBpe.getCause.getMessage.contains("graft_bpe_word")), eBpe.getMessage)
    val eVoc = intercept[Exception] {
      bdf.select(call_function("graft_syms_to_ids",
        col("syms"), col("vocab"))).collect()
    }
    assert(eVoc.getMessage.contains("graft_syms_to_ids") ||
      (eVoc.getCause != null &&
        eVoc.getCause.getMessage.contains("graft_syms_to_ids")), eVoc.getMessage)
  }
}
