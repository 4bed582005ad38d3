package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DiskSnapshot
import graft.functions.TextFunctions._
import graft.plans.GraftExtensions

/** The md5-family MinHash affine constants — one definition shared by
  * [[HashFamily.Md5]], the oracle SQL builders, and the map-side
  * codegen kernel in [[graft.plans.Md5Kernels]]. Component i of a
  * signature is h_i(x) = (a_i·x + b_i) mod [[MinhashP]] over a 32-bit
  * base hash x — the classic k-hashes-from-one-hash construction,
  * replayable in any SQL engine with 64-bit integers (a_i < 2³¹ and
  * x < 2³² keep every product under 2⁶³, so checked BIGINT
  * arithmetic never overflows).
  */
object DedupHashes {
  val MinhashP: Long = 4294967291L    // largest prime < 2^32
  val MinhashAP: Long = 2147483629L   // largest prime < 2^31
  def minhashA(i: Int): Long = 1 + (((i + 1) * 2654435761L) % MinhashAP)
  def minhashB(i: Int): Long = ((i + 1) * 40503L) % MinhashP
}

/** Deduplication operators for the training-data pipeline: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash. All distributed-first:
  * signatures are computed map-side per row; candidate generation is a
  * single shuffle keyed on content hash / LSH bucket — never an
  * all-pairs cross join, so each stage scales linearly in rows (plus
  * bucket-local pair expansion, controlled by band width).
  */
object Dedup {

  /** Exact dedup on a canonical key: keep the lowest id per group.
    * One hash-aggregate shuffle on the (hashed) key.
    */
  def exactGroups(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(md5(key.cast("binary")).as("content_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup: retain one row per distinct key (lowest id wins). */
  def dropExactDuplicates(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val keep = exactGroups(df, idCol, key).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** All pairs (a<b) whose word-n-gram Jaccard similarity ≥ threshold.
    * Plan: per-doc distinct shingles → explode → shuffle-join on the
    * shingle (co-partitioned equi-join, AQE handles skewed shingles) →
    * per-pair intersection counts → filter. Exact, but the shingle join
    * is quadratic within a shingle's posting list — at 100 TB use
    * `minhashCandidates` first and feed only candidates here.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame =
    shingleIntersections(df, idCol, textCol, n)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Band/row split of a k-value signature whose LSH S-curve midpoint
    * sits nearest a target Jaccard threshold: candidate probability is
    * 1−(1−s^r)^b with midpoint ≈ (1/b)^(1/r) (standard MinHash-LSH
    * analysis, Leskovec-Rajaraman-Ullman ch. 3). Returns (bands,
    * rowsPerBand) with bands·rows = k — feed straight into
    * [[minhashCandidates]] instead of guessing.
    */
  def lshParams(k: Int, threshold: Double): (Int, Int) = {
    require(k > 0 && threshold > 0 && threshold < 1)
    val splits = (1 to k).filter(k % _ == 0).map(b => (b, k / b))
    splits.minBy { case (b, r) =>
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
  }

  /** Per-document MinHash signatures: (doc, sig array<long>) — the
    * map-side kernel stage shared by the self-join candidate pass and
    * the incremental [[dropSeenBefore]] path. Written to parquet this
    * IS the corpus dedup snapshot: tomorrow's batch dedups against it
    * without touching yesterday's text — with the same `family` that
    * wrote it. [[HashFamily.Md5]] signatures replay as SQL (the gate
    * snapshot).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 32,
                        family: HashFamily = HashFamily.Xx): DataFrame =
    family.minhashSignatures(df, idCol, textCol, shingleN, k)

  /** The band count a MinHash operator runs at: an explicit `bands`
    * must divide k — a truncating k/nBands silently leaves signature
    * components unbanded, and bands > k gives rowsPerBand 0: EMPTY
    * band slices, identical bucket keys everywhere, and an O(n²)
    * bucket join. `bands = 0` applies [[lshParams]] at the gating
    * similarity (`minEstimate`, or the conventional 0.7 near-dup
    * target when no gate is set).
    */
  private def bandCount(k: Int, bands: Int, minEstimate: Double): Int = {
    val nBands = if (bands > 0) bands
      else lshParams(k, if (minEstimate > 0) minEstimate else 0.7)._1
    require(nBands >= 1 && nBands <= k && k % nBands == 0,
      s"bands ($nBands) must divide k ($k)")
    nBands
  }

  /** MinHash+LSH candidate pairs: signature (k values) per doc map-side,
    * explode into `bands` bucket keys, shuffle once on the bucket, emit
    * distinct pairs sharing ≥1 bucket with their estimated Jaccard
    * (signature agreement fraction). Linear-scan friendly at scale:
    * no global pairwise comparison ever materializes.
    *
    * `bands = 0` (the default) applies the repo's own tuning contract
    * instead of a static constant: [[lshParams]] picks the band/row
    * split whose S-curve midpoint sits nearest the similarity the
    * caller is actually gating on (`minEstimate`, or the conventional
    * 0.7 near-dup target when no gate is set) — the guessed-constant
    * regime is what SCALE.md measures going quadratic.
    *
    * `family = HashFamily.Md5` is the DuckDB-replayable gate (q26):
    * the same pipeline over md5 signatures and md5 band keys;
    * DedupSpec asserts the two families recover the same candidate
    * pair set on the gate corpus.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 32, bands: Int = 0,
                        minEstimate: Double = 0.0,
                        family: HashFamily = HashFamily.Xx): DataFrame = {
    val nBands = bandCount(k, bands, minEstimate)
    val rowsPerBand = k / nBands
    // Stage the signature through explicit projections (hash each
    // shingle once, then one native one-pass k-min kernel — a
    // codegen'd Catalyst expression, plans/TextKernels.scala and
    // plans/Md5Kernels.scala) and disk-snapshot it — the self-join
    // would otherwise inline and recompute the whole signature
    // expression on both sides. The snapshot (vs the round-14
    // MEMORY_AND_DISK persist) keeps the corpus-sized signature frame
    // OFF the executor heap, keeps lineage, and is ContextCleaner-
    // reaped with the result — no CacheManager entry to unpersist.
    val sigs = DiskSnapshot.diskCached(minhashSignatures(df, idCol, textCol, shingleN, k, family))
    // Candidate pairs carry ONLY ids through the bucket join + distinct;
    // signatures re-attach afterwards (two slim joins on doc id).
    val buckets = sigs.select(col("doc"),
      posexplode(family.bandKeys(col("sig"), nBands, rowsPerBand)).as(Seq("band", "bucket")))
    val a = buckets.as("a"); val b = buckets.as("b")
    val pairs = a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    val scored = pairs
      .join(sigs.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("n_match", aggregate(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v))
      // threshold on the UNROUNDED estimate (the family convention —
      // jaccardPairs and containment do too; filtering the rounded
      // value drops borderline pairs for non-power-of-two k);
      // rounding is display-only on the kept rows
      .filter(col("n_match").cast("double") / lit(k.toDouble) >= minEstimate)
      .withColumn("est_jaccard", round(col("n_match").cast("double") / lit(k.toDouble), 6))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    // Materialize the (small — dup pairs only) candidate list eagerly:
    // downstream consumers (cluster resolution's iterative loop) read
    // it repeatedly, so the banded self-join must price once. The
    // round-14 form localCheckpoint(true)'d here — lineage-truncated
    // executor-local blocks that fail the job on executor loss (the
    // documented cluster caveat). The eager disk snapshot keeps the
    // same price-once behavior with lineage intact: a lost block
    // recomputes (through the sigs snapshot, which now stays
    // referenced on DISK rather than heap until the caller releases
    // the result — ContextCleaner reaps both together).
    DiskSnapshot.diskCachedEager(scored)
  }

  /** (doc, sig) md5-bit SimHash signatures — the map-side kernel of
    * [[simhashPairsMd5]], the DuckDB-replayable gate twin of
    * [[simhashPairs]]: bit b of the 64-bit signature is the sign of
    * the token vote sum, where a token's bits are the first 16 hex
    * chars of md5(token) (nibble-major, high bit of each nibble
    * first). [[simhashPairsMd5]] bands it into `maxHamming + 1`
    * DISJOINT bit ranges, so by pigeonhole every pair at Hamming
    * distance <= maxHamming shares at least one exact band — the LSH
    * pass is EXACT: the output equals the brute-force pair set, which
    * is precisely what the DuckDB oracle computes with an O(n²)
    * self-join. (The production [[simhashPairs]] keeps its fixed four
    * 16-bit bands — a recall trade documented there; the gate shape
    * is exhaustive by construction.) Exposed so specs can brute-force
    * the exact pair set over the same signatures the banded pass uses.
    */
  def simhashSignaturesMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ONE map-side codegen kernel per row (plans/Md5Kernels.scala):
    // the 64 token-vote signs over each token's md5 nibbles,
    // bit-identical to the former explode → groupBy(doc) →
    // 64-sum-aggregate chain (Md5KernelsSpec pins the equality) — the
    // per-document Exchange AND the 64-column aggregate codegen both
    // gone (guide §2.4; the vote sum only ever needed the row's own
    // tokens). Null text → null sig → filtered (the exploded form
    // emitted no row there).
    // NO spread (measured, see HashFamily.Md5.minhashSignatures)
    df.select(col(idCol).as("doc"),
        GraftExtensions.call("graft_md5_simhash64", tokens(col(textCol))).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** [[simhashPairsMd5]]'s corpus bound: the gate's pigeonhole-wide
    * bands (9-bit keys at maxHamming=6) put ~n/512 docs in every
    * bucket, so the bucket join is QUADRATIC in corpus size — measured
    * and skipped at 30× in SCALE.md by intent (the gate exists so a
    * SQL oracle can replay it on driver-table corpora). Nothing else
    * stops a caller pointing it at a production corpus, so the kernel
    * refuses loudly past this bound and names the production kernel.
    */
  val SimhashGateMaxDocs: Long = 50000L

  def simhashPairsMd5(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64)
    // limit-probe, not a full count: one cheap early-terminating job
    // BEFORE the signature build — hammingBandPairs re-checks on the
    // (snapshotted) signatures, but this probe refuses without paying
    // a single md5 and names the text-side production kernel
    val probe = df.select(col(idCol)).limit((SimhashGateMaxDocs + 1).toInt).count()
    require(probe <= SimhashGateMaxDocs,
      s"simhashPairsMd5 is the DuckDB-replayable GATE kernel: its pigeonhole-wide " +
        s"bands are quadratic in corpus size (SCALE.md), and this corpus exceeds the " +
        s"$SimhashGateMaxDocs-doc gate bound — use simhashPairs (16-bit bands) for " +
        s"production corpora")
    hammingBandPairs(simhashSignaturesMd5(df, idCol, textCol), "doc", "sig",
      maxHamming)
  }

  /** Banded Hamming near-dup pairs over PRECOMPUTED ≤64-bit
    * signatures — the shared join kernel behind [[simhashPairsMd5]],
    * [[simhashPairs]], and [[Multimodal.perceptualHash]] image dedup.
    * `exact = true` (the gate shape): maxHamming+1 DISJOINT bit-range
    * bands, so by pigeonhole every pair within maxHamming shares an
    * exact band — the output EQUALS the brute-force pair set (what a
    * SQL oracle computes with an O(n²) self-join). The wide keys make
    * buckets ~n/2^(64/(maxHamming+1)) — quadratic-prone, so the
    * [[SimhashGateMaxDocs]] bound guards this shape (probed on the
    * snapshotted slim (doc, sig) frame, one cheap early-terminating
    * job). `exact = false` (the production shape): four fixed 16-bit
    * bands — a documented recall trade (a pair differing in all four
    * bands is missed even within maxHamming), bucket fan-out stays
    * ~n/65536 per band at any corpus size. Either way the signature
    * frame is disk-snapshotted once and feeds both sides of the
    * self-join; candidates verify on exact Hamming distance. `bits`
    * narrows the banded range for sub-64-bit signatures (e.g. a
    * 32-bin [[Multimodal.audioFingerprint]]): WITHOUT it the bands
    * over the always-zero high bits put EVERY doc in one bucket — a
    * silent O(n²) cross product. Signatures must be zero above
    * `bits`. Output: (doc_a, doc_b, hamming), doc_a < doc_b,
    * hamming ≤ maxHamming.
    */
  def hammingBandPairs(sigsIn: DataFrame, idCol: String, sigCol: String,
                       maxHamming: Int, exact: Boolean = true,
                       bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits $bits outside [1, 64]")
    require(maxHamming >= 0 && maxHamming < bits)
    // snapshot FIRST: the signature build (decode / tokenize+hash)
    // must price once — the bound probe and both join sides read the
    // slim (doc, sig) snapshot
    val sigs = DiskSnapshot.diskCached(sigsIn.select(col(idCol).as("doc"), col(sigCol).as("sig")))
    val nBands = if (exact) {
      val probe = sigs.select(col("doc")).limit((SimhashGateMaxDocs + 1).toInt).count()
      require(probe <= SimhashGateMaxDocs,
        s"hammingBandPairs(exact = true) is the pigeonhole-complete GATE shape: its " +
          s"wide band keys are quadratic in corpus size (SCALE.md), and this corpus " +
          s"exceeds the $SimhashGateMaxDocs-doc gate bound — pass exact = false " +
          s"(four 16-bit bands, the production recall trade) for production corpora")
      maxHamming + 1
    } else 4
    val base = bits / nBands
    val banded = sigs.select(col("doc"), col("sig"),
      posexplode(array((0 until nBands).map { j =>
        val width = if (j == nBands - 1) bits - base * j else base
        val mask = if (width == 64) -1L else (1L << width) - 1
        // unsigned shift: bit 63 set must not sign-extend into the key
        shiftrightunsigned(col("sig"), base * j).bitwiseAND(lit(mask))
      }: _*)).as(Seq("band", "key")))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", graft.functions.TextFunctions.hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Connected components over an undirected pair list (doc_a,
    * doc_b). Output: (node, label) — label = min node id of the
    * component.
    *
    * SCALE-ADAPTIVE: the near-dup pair list is the *filtered
    * survivors* of the LSH gate — usually minuscule next to the
    * corpus. One `take(threshold+1)` probes it: lists that fit on the
    * driver resolve by exact union-find with zero further jobs; larger
    * graphs run the distributed large-star/small-star algorithm
    * ([[connectedComponentsStar]] — O(log n) rounds on any topology,
    * including long chains). Same contract either way.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 50,
                          driverThreshold: Int = 1 << 20): DataFrame = {
    val probe = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .take(driverThreshold + 1)
    if (probe.length <= driverThreshold)
      driverUnionFind(pairs.sparkSession, probe, pairs.schema(aCol).dataType)
    else
      connectedComponentsStar(pairs, aCol, bCol, maxIters)
  }

  /** Alternating large-star / small-star connected components
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"
    * — public algorithm): converges in O(log n) rounds on ANY graph,
    * including the adversarial long chains where min-label propagation
    * needs O(diameter) rounds. Each round is two join+agg passes over
    * the edge list; no step ever materializes a neighborhood wider
    * than the joins' shuffle partitions (hub neighborhoods stream
    * through the join, never collect_set).
    *
    *   large-star: every neighbor v > u links to m(u) = min(Γ(u)∪{u})
    *   small-star: every neighbor v ≤ u (and u) links to that minimum
    *
    * At the fixpoint the edge set IS the star (node → component min).
    * Used automatically by [[connectedComponents]] when the pair list
    * exceeds the driver threshold; exposed for direct use/testing.
    *
    * FAULT TOLERANCE: each round MUST cut lineage (an iterative
    * join's plan doubles per round), and the cut has two modes:
    *  - `spark.graft.checkpointDir` set → reliable `checkpoint()`
    *    into that directory. Blocks live on shared storage, so a lost
    *    executor costs a re-read, not the job — the right mode for a
    *    100 TB corpus build, where the dedup CC loop is the
    *    longest-running stage and an executor loss mid-loop is
    *    routine. (Set `spark.cleaner.referenceTracking.cleanCheckpoints
    *    =true` to have the ContextCleaner delete finished rounds'
    *    files; otherwise they live until the dir is cleaned.)
    *  - unset (the local default) → `localCheckpoint(true)`:
    *    executor-local blocks, zero external storage, fine on a
    *    single box or when the pair list is small.
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIters: Int = 50): DataFrame = {
    val spark = pairs.sparkSession

    // per-round lineage cut — reliable when a checkpoint dir is
    // configured, executor-local otherwise (see scaladoc)
    def roundCheckpoint(df: DataFrame): DataFrame = {
      val dir = spark.conf.get("spark.graft.checkpointDir", "")
      if (dir.nonEmpty) {
        val sc = spark.sparkContext
        // re-point whenever the conf changed: an `isEmpty`-only guard
        // would silently keep writing into a STALE directory after the
        // user repoints the conf. setCheckpointDir stores the
        // FS-qualified path plus a fresh UUID subdir, so compare
        // against the same qualification, prefix-wise with the
        // separator (so /mnt/a never matches /mnt/a2)
        val p = new org.apache.hadoop.fs.Path(dir)
        val qualified = p.getFileSystem(sc.hadoopConfiguration)
          .makeQualified(p).toString
        if (!sc.getCheckpointDir.exists(_.startsWith(qualified + "/"))) {
          sc.setCheckpointDir(dir)
        }
        df.checkpoint() // eager + reliable
      } else df.localCheckpoint(true)
    }

    var edges = roundCheckpoint(pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b")).distinct())

    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("b").as("a"), col("a").as("b")))

    // large-star over symmetric edges: (v, m(u)) for v ∈ Γ(u), v > u
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy(col("a"))
        .agg(least(min(col("b")), first(col("a"))).as("m"))
      s.filter(col("b") > col("a"))
        .join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    // small-star over min-oriented edges: (v, m(u)) for v ∈ Γ≤(u)∪{u}
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val mins = o.groupBy(col("a"))
        .agg(least(min(col("b")), first(col("a"))).as("m"))
      o.join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    var prev = checksum(edges)
    var done = false
    var i = 0
    while (!done && i < maxIters) {
      // one round = large-star then small-star, ONE blocking checksum
      val next = roundCheckpoint(smallStar(largeStar(edges)))
      DiskSnapshot.release(edges)
      edges = next
      val c = checksum(edges)
      if (c._1 == prev._1 && (c._2 == prev._2 ||
          (c._2 != null && prev._2 != null && c._2.compareTo(prev._2) == 0)))
        done = true
      prev = c
      i += 1
    }
    // a loop exhausted WITHOUT reaching the star fixpoint would label
    // from partially-contracted edges — keeping some duplicates and
    // dropping wrong documents with no signal anywhere. Alternating
    // star rounds converge in O(log n) (Kiveris et al.), so 50 rounds
    // covers any real graph; refuse loudly rather than mislabel.
    require(done,
      s"connected components did not converge within $maxIters rounds")
    // fixpoint edges are (node, componentMin); add the roots themselves
    val labels = edges
      .union(edges.select(col("b").as("a"), col("b")))
      .groupBy(col("a").as("node")).agg(min(col("b")).as("label"))
    roundCheckpoint(labels)
  }

  /** Exact union-find over a collected edge list (union-by-min with
    * path compression): the component root IS the minimum node id, so
    * the output contract matches the distributed loop exactly.
    */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
                              edges: Array[org.apache.spark.sql.Row],
                              idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val lt: (Any, Any) => Boolean = (x, y) => (x, y) match {
      case (a: Long, b: Long)     => a < b
      case (a: Int, b: Int)       => a < b
      case (a: String, b: String) => a < b
      case (a: Number, b: Number) => a.doubleValue() < b.doubleValue()
      case other => throw new IllegalArgumentException(s"unorderable ids: $other")
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { r =>
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) {
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = new java.util.HashSet[Any]()
    edges.foreach { r => nodes.add(r.get(0)); nodes.add(r.get(1)) }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](nodes.size())
    nodes.forEach(n => rows.add(org.apache.spark.sql.Row(n, find(n))))
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", idType),
      org.apache.spark.sql.types.StructField("label", idType))))
  }

  /** End-to-end near-duplicate removal: MinHash+LSH candidates above
    * `minEstimate` → connected components → keep the smallest id per
    * component, drop the rest. The full pipeline is: map-side
    * signatures, one bucket shuffle, a few component rounds over the
    * (tiny) pair list, one anti-join back against the corpus.
    *
    * `family = HashFamily.Md5` is the DuckDB-replayable gate (q35):
    * the oracle replays the md5/affine pair CTE and a recursive
    * transitive-closure CTE for the components (a doc is dropped iff
    * it reaches a smaller id); DedupSpec asserts both families keep
    * the same survivor set on the gate corpus.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, k: Int = 32, bands: Int = 0,
                         minEstimate: Double = 0.7,
                         family: HashFamily = HashFamily.Xx): DataFrame = {
    val pairs = minhashCandidates(df, idCol, textCol, shingleN, k, bands,
      minEstimate, family)
    dropByComponents(df, idCol, pairs)
  }

  private def dropByComponents(df: DataFrame, idCol: String,
                               pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs, "doc_a", "doc_b")
    val doomed = comps.filter(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Quality-aware near-duplicate removal — the keep-BEST policy
    * production dedup actually wants (RefinedWeb/FineWeb-style): same
    * candidates → connected-components pipeline as
    * [[dropNearDuplicates]], but each duplicate cluster keeps the row
    * maximizing `score` (ties broken to the smallest id) instead of
    * the smallest id unconditionally — so a boilerplate-free long
    * copy survives and its truncated mirror-site clones drop. `score`
    * is any deterministic Column over `df`'s rows (a length, a
    * [[graft.functions.TextFunctions.qualityScore]], a model score
    * column). Scale shape is unchanged from the min-id pipeline: the
    * component frame holds only docs that appear in a candidate pair
    * (duplicates, a small fraction of the corpus), the winner
    * resolution is two hash-aggs + joins over that small frame keyed
    * on the component label, and the corpus is touched exactly once
    * more by the final anti-join (AQE broadcasts the doomed side when
    * small). The two-stage winner (max score per label, then min id
    * among score-ties) keeps the survivor deterministic without
    * ordering floats inside a struct max.
    *
    * `family = HashFamily.Md5` is the gate (q105, the q35 pattern):
    * the oracle replays the pair CTE, closes the components with the
    * recursive reach CTE, labels each member with its component
    * minimum, and keeps argmax-score/min-id per label; DedupSpec
    * asserts both families keep the same survivors on a planted
    * corpus at equal parameters.
    */
  def dropNearDuplicatesBest(df: DataFrame, idCol: String, textCol: String,
                             score: Column, shingleN: Int = 3, k: Int = 32,
                             bands: Int = 0, minEstimate: Double = 0.7,
                             family: HashFamily = HashFamily.Xx): DataFrame = {
    val pairs = minhashCandidates(df, idCol, textCol, shingleN, k, bands,
      minEstimate, family)
    dropByComponentsBest(df, idCol, score, pairs)
  }

  private def dropByComponentsBest(df: DataFrame, idCol: String,
                                   score: Column, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs, "doc_a", "doc_b")
    // members is duplicate-cluster-sized (tiny next to the corpus) but
    // feeds THREE consumers (the per-label max, the winner join, the
    // doomed join) — without a snapshot each one re-scans the corpus
    // for the (id, score) projection and re-runs the comps join
    val members = DiskSnapshot.diskCachedEager(
      df.select(col(idCol).as("__m"), score.as("__q"))
        .join(comps, col("__m") === col("node"))
        .select(col("__m"), col("__q"), col("label")))
    val best = members.groupBy(col("label")).agg(max(col("__q")).as("__bq"))
    // score equality here is exact even for float scores: __bq is one
    // of the members' own __q values, compared against itself. The
    // null-safe <=> keeps the cluster resolvable when EVERY member's
    // score is NULL (max → NULL): all members tie and min-id picks
    // the winner, instead of no row matching and the whole cluster
    // silently surviving. A member with a NULL score in a mixed
    // cluster still never beats a scored one (NULL <=> non-null is
    // false).
    val winners = members.join(best, Seq("label"))
      .filter(col("__q") <=> col("__bq"))
      .groupBy(col("label")).agg(min(col("__m")).as("__keep"))
    val doomed = members.join(winners, Seq("label"))
      .filter(col("__m") =!= col("__keep"))
      .select(col("__m").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Shared posting-list intersection: per candidate pair, the
    * distinct-shingle intersection size plus both documents' shingle
    * counts — the one-shuffle expansion behind [[jaccardPairs]] and
    * [[containmentPairs]] (fix the expansion here, both operators
    * follow). 64-bit shingle hashes, not strings: ~4× smaller
    * shuffles, and the one-pass ngram kernel (chained token-hash mix,
    * already distinct) never materializes an n-gram string; collisions
    * (~2⁻⁶⁴ per pair) are statistically invisible. Posting-list
    * expansion instead of a self-join: ONE shuffle of (doc, shingle)
    * builds per-shingle doc lists, pair fan-out is then map-side
    * generators; the sorted list keeps expansion deterministic.
    * Columns: doc_a, doc_b, n_inter, n_a, n_b.
    */
  private def shingleIntersections(df0: DataFrame, idCol: String,
                                   textCol: String, n: Int): DataFrame = {
    // spread the one-split gate scan (r20, guide §2.5 input skew):
    // all three consumers below re-run the tokenize+shingle kernel
    // over the INPUT scan, and a gate-scale corpus arrives as ONE
    // parquet split — without the spread every kernel pass runs on a
    // single core. Conditional (partitions < cores), so a production
    // corpus of many splits never takes the shuffle; the pair set is
    // partitioning-independent.
    val df = graft.Tables.spreadDf(df0)
    // three consumers (counts joined twice + the posting-list
    // intersection) RECOMPUTE the shingle kernel deliberately: it is
    // one codegen'd tokenize+xxhash pass, cheaper per consumer than
    // writing and re-reading the EXPLODED shingle frame through a
    // snapshot (measured: snapshotting this cost q25 ~40% at sf0.1 —
    // the opposite trade from the md5-family kernels, whose per-row
    // hashing dwarfs their slim (doc, sig) snapshots)
    val sh = df.select(col(idCol).as("doc"),
      explode(GraftExtensions.call("graft_ngram_hashes",
        transform(tokens(col(textCol)), t => xxhash64(t)), lit(n))).as("s"))
    // per-doc shingle counts are the SIZE of the (already-distinct)
    // kernel array — map-side, no groupBy(doc) Exchange (guide §2.4);
    // rows with zero shingles never appeared in the exploded agg either.
    // CONTRACT (r19 ADVICE): idCol must be UNIQUE per row — the former
    // groupBy(doc) form would have combined duplicate-id rows, while
    // this per-row projection emits one count row per input row (a
    // duplicate id would fan the joins below out). Every corpus here
    // carries a unique document id; the same contract holds for
    // naiveBayesApply's per-doc token count.
    val counts = df.select(col(idCol).as("doc"),
        size(GraftExtensions.call("graft_ngram_hashes",
          transform(tokens(col(textCol)), t => xxhash64(t)), lit(n)))
          .cast("long").as("n_sh"))
      .filter(col("n_sh") > 0)
    val inter = sh.groupBy(col("s"))
      .agg(array_sort(collect_list(col("doc"))).as("docs"))
      .filter(size(col("docs")) > 1)
      .select(posexplode(col("docs")).as(Seq("i", "doc_a")), col("docs"))
      .select(col("doc_a"), explode(slice(col("docs"), col("i") + 2,
        size(col("docs")))).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
  }

  /** Shingle-containment pairs — the asymmetric complement of
    * [[jaccardPairs]]: containment = |A∩B| / min(|A|,|B|), the
    * fraction of the SMALLER document's shingles found in the other.
    * Catches the quote/embedding case symmetric Jaccard structurally
    * misses — a 50-token doc fully contained in a 5000-token doc has
    * J ≈ 0.01 but containment 1.0. Threshold applies to the UNROUNDED
    * value (the jaccardPairs/oracle convention); the output rounds.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double): DataFrame =
    shingleIntersections(df, idCol, textCol, n)
      .withColumn("__c",
        col("n_inter").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("__c") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("__c"), 6).as("containment"))

  /** Incremental dedup — the daily-delta pattern: drop new documents
    * that near-duplicate the EXISTING corpus, represented only by its
    * persisted signature snapshot ([[minhashSignatures]] written to
    * parquet) — yesterday's 100 TB of text is never re-read, only its
    * (doc, sig) table. Plan: new-side signatures map-side; both sides
    * band; one band-keyed shuffle join (new side is the small delta);
    * signature verify kills band-collision false positives; one
    * anti-join back against the delta. Returns the new docs that are
    * NOT already represented in the snapshot. The snapshot must have
    * been written with the same `family`; `HashFamily.Md5` (q146)
    * replays the whole path, persisted snapshot included, as SQL.
    */
  def dropSeenBefore(newDocs: DataFrame, idCol: String, textCol: String,
                     snapshotSigs: DataFrame,
                     shingleN: Int = 3, k: Int = 32, bands: Int = 0,
                     minEstimate: Double = 0.7,
                     family: HashFamily = HashFamily.Xx): DataFrame = {
    // same tuning contract as minhashCandidates; banding only needs to
    // agree WITHIN this call (both sides band here), not with the run
    // that wrote the snapshot — only k must match (guarded below).
    val nBands = bandCount(k, bands, minEstimate)
    val rowsPerBand = k / nBands
    // a snapshot written at a different k would zip against nulls and
    // silently score every candidate 0 — dedup quietly OFF. Refuse.
    // One aggregate over the WHOLE snapshot (min and max of size):
    // a first-row probe would pass a snapshot concatenated from runs
    // with different k and weaken dedup only for the mismatched rows.
    snapshotSigs.agg(min(size(col("sig"))), max(size(col("sig")))).head(1)
      .filterNot(_.isNullAt(0)).foreach { r =>
        val (lo, hi) = (r.getInt(0), r.getInt(1))
        require(lo == k && hi == k,
          s"snapshot signatures have k in [$lo, $hi] but dropSeenBefore was " +
            s"called with k=$k — rebuild the snapshot or pass matching k")
      }
    // no persist: the delta signatures are consumed exactly once
    val newSigs = minhashSignatures(newDocs, idCol, textCol, shingleN, k, family)
    def banded(s: DataFrame) = s.select(col("doc"), col("sig"),
      posexplode(family.bandKeys(col("sig"), nBands, rowsPerBand)).as(Seq("band", "bucket")))
    val candidates = banded(newSigs).as("n")
      .join(banded(snapshotSigs).as("s"),
        col("n.band") === col("s.band") && col("n.bucket") === col("s.bucket"))
      .select(col("n.doc").as("new_doc"), col("n.sig").as("sig_n"),
        col("s.sig").as("sig_s"))
      .distinct()
      .withColumn("est", aggregate(
        zip_with(col("sig_n"), col("sig_s"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / lit(k.toDouble))
      .filter(col("est") >= minEstimate)
      .select(col("new_doc").as(idCol)).distinct()
    newDocs.join(candidates, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs: 64-bit signature map-side; candidates share
    * one of four 16-bit bands (single shuffle on (band, key)); verified
    * by Hamming distance ≤ maxHamming.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 8): DataFrame = {
    // one-pass codegen'd kernel over the token hashes (vs 64 HOF
    // traversals in TextFunctions.simhash64 — same semantics up to
    // the vote tie-break, cross-checked in DedupSpec). The shared
    // [[hammingBandPairs]] production shape snapshots the slim
    // (doc, sig) frame and self-joins on four fixed 16-bit bands.
    hammingBandPairs(
      df.select(col(idCol).as("doc"),
        GraftExtensions.call("graft_simhash64",
          transform(tokens(col(textCol)), t => xxhash64(t))).as("sig")),
      "doc", "sig", maxHamming, exact = false)
  }

  /** SUBSTRING-level exact dedup (Lee et al. 2021, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better" —
    * public paper; the reference has doc-level dedup only): every
    * `windowTokens`-token window whose content occurs ≥ 2 times
    * anywhere in the corpus (another document or the same one) marks
    * its start position, and per document the marked windows merge
    * into MAXIMAL duplicated spans `[span_start, span_end)` in token
    * coordinates (adjacent/overlapping windows coalesce). The paper
    * runs a single-node suffix array; the Spark-first form is a
    * rolling window hash — windows are hashed map-side from each
    * row's own tokens, the only shuffled frames are slim
    * (doc, pos, hash) tuples (one hash-agg to find repeated hashes +
    * one ids-only left-semi join back; text never shuffles), and the
    * island merge shuffles only the marked positions by doc. Linear
    * in total tokens; repeated-boilerplate skew is bounded because
    * the count agg combines map-side and the semi-join never expands
    * rows.
    *
    * Returns (doc_id, span_start, span_end): token-coordinate
    * half-open duplicated spans. Compose with a filter on
    * `span_end - span_start` or aggregate per doc for a duplicated-
    * token fraction.
    *
    * `family = HashFamily.Md5` (the q102 gate) hashes windows with md5
    * so the oracle rebuilds the identical marked set in SQL; the spans
    * are identical unless md5 and xxhash64 disagree on a collision
    * (DedupSpec pins set equality on the gate corpus).
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      windowTokens: Int = 50,
                      family: HashFamily = HashFamily.Xx): DataFrame = {
    val w = windowTokens
    require(w > 0, s"windowTokens=$w must be positive")
    import org.apache.spark.sql.expressions.Window
    // the window-hash kernel (tokenize + one hash per window) is
    // consumed TWICE (the dup-count agg and the marked semi-join) —
    // snapshot the slim (doc, pos, h) frame so the per-row kernel is
    // paid once; ContextCleaner reaps it with the result frame
    val wins = DiskSnapshot.diskCached(windowHashes(df, idCol, textCol, w, family))
    val dup = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val marked = wins.join(dup, Seq("h"), "left_semi")
    // gaps-and-islands merge: a marked window extends the current
    // span unless it starts past the running max end
    val byDoc = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(w.toLong))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("__new", when(prevEnd.isNull || col("pos") > prevEnd, 1)
        .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(byDoc))
      .groupBy(col("doc"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(w.toLong)).as("span_end"))
      .select(col("doc").as(idCol), col("span_start"), col("span_end"))
  }

  /** [[duplicatedSpans]]'s removal companion: rewrite each document
    * with its duplicated content CUT, keeping the first global
    * occurrence of every duplicated window (canonical = smallest
    * (doc, pos) per window hash — deterministic). Removal is
    * token-granular: a token is dropped iff some NON-canonical
    * duplicated window covers it AND no canonical window does — the
    * canonical-cover carve-out keeps exactly one copy even in the
    * pathological self-overlapping case (a periodic token run whose
    * windows all share one hash collapses to one window's worth, not
    * to a single token). Returns (idCol, clean_text, n_removed).
    * `family = HashFamily.Md5` is the DuckDB-replayable gate (q103).
    *
    * Scale shape: only DUPLICATED windows token-explode (×W of the
    * marked rows, not of the corpus); the removed-position sets join
    * back to the full corpus by id and the rebuild is a map-side
    * higher-order filter over each row's own tokens.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            windowTokens: Int = 50,
                            family: HashFamily = HashFamily.Xx): DataFrame = {
    val w = windowTokens
    require(w > 0, s"windowTokens=$w must be positive")
    // consumed twice (canon agg + occ join) — snapshot like
    // duplicatedSpans so the window kernel is paid once
    val wins = DiskSnapshot.diskCached(windowHashes(df, idCol, textCol, w, family))
    // canonical occurrence per duplicated hash = min (doc, pos)
    val dup = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(struct(col("doc"), col("pos"))).as("canon"))
      .filter(col("c") >= 2)
      .select(col("h"), col("canon"))
    val occ = wins.join(dup, Seq("h"))
      .select(col("doc"), col("pos"),
        (col("canon.doc") === col("doc") && col("canon.pos") === col("pos"))
          .as("is_canon"))
    // token-granular cover: duplicated windows only explode ×W
    val cover = occ.select(col("doc"), col("is_canon"),
        explode(sequence(col("pos"), col("pos") + lit((w - 1).toLong))).as("tpos"))
      .groupBy(col("doc"), col("tpos"))
      .agg(max(when(!col("is_canon"), 1).otherwise(0)).as("anyDup"),
        max(when(col("is_canon"), 1).otherwise(0)).as("anyCanon"))
      .filter(col("anyDup") === 1 && col("anyCanon") === 0)
    rebuildWithout(df, idCol, textCol, cover)
  }

  /** Span-level benchmark DECONTAMINATION: cut from every corpus
    * document each token covered by a `windowTokens`-token window
    * whose content appears anywhere in `benchmark` — the span-granular
    * sibling of the n-gram decontam filters (which drop or flag whole
    * documents): a page quoting one benchmark question loses the
    * quote, not the page. No canonical carve-out — benchmark content
    * has no "first occurrence to keep" in the corpus.
    * `family = HashFamily.Md5` is the DuckDB-replayable gate (q104).
    *
    * Scale shape: benchmark windows hash map-side and distinct to an
    * ids-free hash set (benchmarks are small next to the corpus, so
    * the semi-join broadcasts under AQE); corpus text never shuffles.
    */
  def removeContaminatedSpans(df: DataFrame, idCol: String, textCol: String,
                              benchmark: DataFrame, benchTextCol: String,
                              windowTokens: Int = 13,
                              family: HashFamily = HashFamily.Xx): DataFrame = {
    val w = windowTokens
    require(w > 0, s"windowTokens=$w must be positive")
    val benchH = windowHashes(
        benchmark.select(lit(0L).as("__bid"), col(benchTextCol)),
        "__bid", benchTextCol, w, family)
      .select(col("h")).distinct()
    val marked = windowHashes(df, idCol, textCol, w, family)
      .join(benchH, Seq("h"), "left_semi")
    val cover = marked.select(col("doc"),
        explode(sequence(col("pos"), col("pos") + lit((w - 1).toLong))).as("tpos"))
      .distinct()
    rebuildWithout(df, idCol, textCol, cover)
  }

  /** Rebuild each document without its removed token positions.
    * `removedPos` is (doc, tpos) — grouped to one position-set per
    * doc, left-joined back (docs with nothing removed pass through),
    * and the text rebuilt by a map-side indexed filter over the
    * row's own tokens. Returns (idCol, clean_text, n_removed).
    */
  private def rebuildWithout(df: DataFrame, idCol: String, textCol: String,
                             removedPos: DataFrame): DataFrame =
    rebuildWithoutBy(df, idCol, textCol, removedPos, tokens(_), " ")

  /** The generalized form: `splitter` segments each document (tokens
    * for the span family, a literal separator split for line dedup)
    * and `joinSep` re-joins the survivors. One definition of the
    * null-rm passthrough and n_removed contract for both families.
    */
  private def rebuildWithoutBy(df: DataFrame, idCol: String, textCol: String,
                               removedPos: DataFrame,
                               splitter: Column => Column,
                               joinSep: String): DataFrame = {
    val removed = removedPos.groupBy(col("doc"))
      .agg(collect_set(col("tpos")).as("rm"))
    df.select(col(idCol).as("doc"), col(textCol).as("__text"))
      .join(removed, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        concat_ws(joinSep, filter(splitter(col("__text")),
          (_, i) => coalesce(!array_contains(col("rm"), i.cast("long")),
            lit(true)))).as("clean_text"),
        coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed"))
  }

  /** (doc, pos, h) rolling window hashes — shared by the span
    * detection and removal kernels. One codegen'd kernel call per row
    * (plans/Md5Kernels.scala) emits the position-ordered hash array;
    * posexplode recovers (pos, h). The former HOF chain re-built a
    * window STRING through concat_ws+slice per window (no common-
    * subexpression elimination inside lambdas); the kernel hashes the
    * window bytes straight out of the token array — same md5 hex /
    * xxhash64 values bit-for-bit (Md5KernelsSpec pins both), so the
    * marked sets and the oracles are unchanged.
    */
  private def windowHashes(df: DataFrame, idCol: String, textCol: String,
                           w: Int, family: HashFamily): DataFrame = {
    // spread: same one-split rationale as shingleIntersections
    graft.Tables.spreadDf(df).select(col(idCol).as("doc"),
        posexplode(GraftExtensions.call(family.windowKernel, tokens(col(textCol)), lit(w)))
          .as(Seq("pos", "h")))
      .select(col("doc"), col("pos").cast("long").as("pos"), col("h"))
  }

  /** LINE-level corpus dedup (the C4/CCNet boilerplate-removal
    * policy, arXiv:1910.10683 §2.2 shape at line granularity): a line
    * whose content occurs >= `minOccurrences` times ACROSS THE WHOLE
    * CORPUS keeps only its canonical first occurrence (min (doc,
    * pos)); every other occurrence — repeated navigation chrome,
    * cookie banners, boilerplate headers, and within-document
    * repeats alike — is cut, and documents are rebuilt with their
    * surviving lines in order. The doc-level sibling operators
    * (exact/minhash dedup) drop whole documents; the span operators
    * cut token windows; this cuts exact lines, the granularity web
    * boilerplate actually repeats at.
    *
    * Returns (idCol, clean_text, n_removed) where n_removed counts
    * removed LINES. `sep` is a literal separator (regex-quoted), so
    * "\n" or " . " both work; text splits and rebuilds losslessly
    * (split keeps empty segments, so "a\n\n" round-trips). Empty
    * lines are never candidates — they are paragraph separators, not
    * boilerplate, and are always preserved.
    *
    * Scale shape: lines hash map-side where they sit — only slim
    * (doc, pos, hash) frames reach the occurrence-count shuffle; the
    * removed-position sets group to one array per doc and join back
    * by id; the rebuild is a map-side indexed filter over each row's
    * own lines. Linear in total lines, no text shuffle.
    *
    * `family = HashFamily.Md5` is the DuckDB-replayable gate (q112):
    * identical output unless md5 and xxhash64 disagree on a collision
    * (DedupSpec pins equality on the gate corpus).
    */
  def removeDuplicatedLines(df: DataFrame, idCol: String, textCol: String,
                            minOccurrences: Int = 2,
                            sep: String = "\n",
                            family: HashFamily = HashFamily.Xx): DataFrame = {
    require(minOccurrences >= 2, s"minOccurrences=$minOccurrences must be >= 2")
    require(sep.nonEmpty, "sep must be non-empty")
    val sepRe = java.util.regex.Pattern.quote(sep)
    // empty lines are NEVER dedup candidates: blank lines are
    // paragraph separators, and counting them would strip every blank
    // line in the corpus but one (reference line-dedup pipelines skip
    // empty lines for the same reason)
    val hashed = df
      .select(col(idCol).as("doc"),
        posexplode(split(col(textCol), sepRe)).as(Seq("pos", "line")))
      .filter(col("line") =!= lit(""))
      .select(col("doc"), col("pos").cast("long").as("pos"),
        family.lineKey(col("line")).as("h"))
    val dup = hashed.groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(struct(col("doc"), col("pos"))).as("canon"))
      .filter(col("c") >= minOccurrences)
      .select(col("h"), col("canon"))
    val drops = hashed.join(dup, Seq("h"))
      .filter(!(col("canon.doc") === col("doc") && col("canon.pos") === col("pos")))
      .select(col("doc"), col("pos").as("tpos"))
    rebuildWithoutBy(df, idCol, textCol, drops, split(_, sepRe), sep)
  }
}
