package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.DiskSnapshot
import graft.plans.GraftExtensions

/** Corpus-shaping operators for training-data pipelines: deterministic
  * token-budget sampling and train/eval decontamination. No driver
  * loops over data, no all-pairs joins, and — crucially — no global
  * single-partition window: the running token sum is a two-phase
  * distributed prefix sum (range partition → local cumsum + broadcast
  * partition offsets), the textbook scan pattern.
  */
object Sampling {

  /** Deterministic sample hitting a TOKEN budget (not a row count —
    * training corpora are provisioned in tokens): rows are ordered by
    * a content-derived pseudo-random key (md5 of the id — stable
    * across runs and engines, no RNG state), and the sample is the
    * prefix of that order whose running token sum stays under
    * `budget`; the document straddling the line is kept iff it starts
    * under it, so the result is within one document of the target.
    *
    * Plan: ONE range shuffle on the shuffle key (the same machinery as
    * any global sort), a local per-partition cumsum window, and a
    * driver-side prefix over the per-partition totals (≤ one row per
    * partition — KBs). A naive `Window.orderBy` with no partition key
    * would drag the whole corpus into a single task; this never does.
    */
  def sampleToTokenBudget(df: DataFrame, idCol: String, tokenCol: String,
                          budget: Long): DataFrame =
    prefixSample(df, idCol, tokenCol, Nil, _ => budget)

  /** Deterministic train/val/test split — the seeded hash partition
    * every training pipeline needs before anything touches the data:
    * each row lands in exactly one named slice, the assignment is a
    * pure function of (id, seed) so it is stable across runs, engines,
    * re-ingests and row order (no RNG state, unlike
    * `randomSplit`), and membership can be recomputed row-locally by
    * any later consumer. `weights` are relative (normalized over
    * their sum). Map-side only — no shuffle, no sort: the 32-bit
    * content bucket compares against precomputed INTEGER thresholds
    * (`round(cum_i · 2³²)`), so slice boundaries never hinge on float
    * rounding. Production hash is xxhash64 (codegen'd, one pass);
    * `family = HashFamily.Md5` (the q106 gate) buckets on the first 8
    * hex chars of `md5(id || '#' || seed)` so a DuckDB oracle replays
    * every assignment bit-for-bit (`('0x' || substr(md5(…),1,8))::BIGINT`
    * against the same integer thresholds and CASE chain).
    */
  def hashSplit(df: DataFrame, idCol: String, weights: Seq[(String, Double)],
                seed: Long = 42L, splitCol: String = "split",
                family: HashFamily = HashFamily.Xx): DataFrame =
    df.withColumn(splitCol, splitAssign(family.idBucket(seedKey(idCol, seed)), weights))

  /** The per-row string the seeded samplers hash: `id || '#' || seed`. */
  private def seedKey(idCol: String, seed: Long): Column =
    concat(col(idCol).cast("string"), lit("#" + seed))

  private def splitAssign(bucket: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty, "hashSplit needs at least one slice")
    require(weights.forall(_._2 > 0.0),
      s"hashSplit weights must be positive, got $weights")
    val total = weights.map(_._2).sum
    val thresholds = weights.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c / total * 4294967296.0))
    weights.init.map(_._1).zip(thresholds.init)
      .foldRight(lit(weights.last._1): Column) {
        case ((name, thr), rest) => when(bucket < lit(thr), lit(name)).otherwise(rest)
      }
  }

  /** Deterministic uniform sample of `n` documents PER GROUP (eval
    * sets, per-language spot-check panels, labeling batches): keep
    * the n smallest hash-of-id per group — reproducible across runs,
    * engines, and row order, and stable under corpus growth in the
    * same sense as [[hashSplit]] (a kept id stays kept until n other
    * ids hash below it). Two-phase so a giant group never single-sorts:
    * phase 1 takes each (group, 16-way salt)'s local top-n in
    * parallel windows; phase 2 ranks the ≤ 16·n survivors per group.
    * Result is salt-invariant: the global n smallest all survive
    * their salt's local cut. `family = HashFamily.Md5` (the q116 gate)
    * orders by the md5 hex string, replayed by the oracle's
    * `row_number() OVER (… ORDER BY md5(id || '#' || seed), id)`.
    */
  def sampleNPerGroup(df: DataFrame, idCol: String, groupCols: Seq[String],
                      n: Int, seed: Long = 42L,
                      family: HashFamily = HashFamily.Xx): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val keyed = df.withColumn("__k", family.idSortKey(seedKey(idCol, seed)))
      .withColumn("__salt", pmod(xxhash64(col(idCol).cast("string")), lit(16L)))
    val wLocal = Window
      .partitionBy((groupCols.map(col) :+ col("__salt")): _*)
      .orderBy(col("__k").asc, col(idCol).asc)
    val wGroup = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__k").asc, col(idCol).asc)
    keyed
      .withColumn("__lr", row_number().over(wLocal))
      .filter(col("__lr") <= n)
      .withColumn("__r", row_number().over(wGroup))
      .filter(col("__r") <= n)
      .drop("__k", "__salt", "__lr", "__r")
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis
    * & Spirakis 2006, A-ES): each row draws u ∈ (0,1) from a content
    * hash and ranks by ln(u)/w — the top-k ranks are a weighted
    * sample where inclusion tracks weight (the quality-score-weighted
    * corpus subsampler). Deterministic: same ids + weights + seed →
    * same sample, on any engine and row order. Rows with w ≤ 0 are
    * excluded (the estimator is undefined there). The rank key is
    * nano-quantized (ties broken by id) so the cut is engine-stable,
    * and is PART OF THE OUTPUT as `key9` (callers use it to merge or
    * re-rank samples; it is the operator's contract, not an internal).
    * Quantization boundary: for extremely small positive weights
    * (w < ~1e-9·|ln u|) ln(u)/w·1e9 falls below Long range; the key is
    * CLAMPED to Long.MinValue before the cast (an unclamped overflow
    * is an ANSI-mode runtime error), and ties — clamped or genuine —
    * break by weight DESCENDING then id, so saturated rows still
    * order by the weight the exact key would have tracked rather
    * than collapsing to id order. NaN weights are excluded with the
    * non-positive ones.
    *
    * Scale shape: map-side key + TakeOrderedAndProject (per-partition
    * heaps, k rows to the driver) — no global sort, no shuffle of
    * non-winners. `family = HashFamily.Md5` (the q132 gate) draws u
    * from the md5 prefix so a DuckDB oracle replays every key
    * bit-for-bit.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: Long = 42L,
                     family: HashFamily = HashFamily.Xx): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val u = (family.idBucket(seedKey(idCol, seed)) + lit(1.0)) /
      lit(4294967297.0) // (0,1), never 0 or 1
    // clamp BEFORE the long cast: for sub-1e-9 weights ln(u)/w·1e9
    // falls below Long range and the overflowing cast is a runtime
    // error under ANSI (engine-dependent saturation otherwise).
    // Long.MinValue is exactly representable as a double, so the
    // clamped cast is always legal; the weight-desc tie-break below
    // keeps clamped rows in (approximate) A-ES order instead of
    // collapsing them to id order.
    val raw = log(u) / col(weightCol) * lit(1e9)
    df.filter(col(weightCol) > 0 && !isnan(col(weightCol).cast("double")))
      .withColumn("key9",
        round(greatest(raw, lit(Long.MinValue.toDouble))).cast("long"))
      .orderBy(col("key9").desc, col(weightCol).desc, col(idCol).asc)
      .limit(k)
  }

  /** Stratified token-budget sampling: an independent budget per
    * stratum (language, source, …) — the mixture-weighting step of
    * corpus assembly. `budgets` maps stratum value → token budget;
    * strata not listed are dropped. Every stratum samples in the SAME
    * single range shuffle.
    */
  def sampleToTokenBudgetBy(df: DataFrame, idCol: String, tokenCol: String,
                            stratumCol: String,
                            budgets: Map[String, Long]): DataFrame = {
    val in = df.filter(col(stratumCol).isin(budgets.keys.toSeq: _*))
    prefixSample(in, idCol, tokenCol, Seq(stratumCol),
      row => budgets(row.head.toString))
  }

  /** Temperature-weighted mixture budgets (the multilingual-corpus
    * balancing rule: budget_i ∝ tokens_i^α). α = 1 reproduces the
    * natural distribution, α = 0 is uniform, the usual α ≈ 0.3–0.7
    * up-weights small strata without letting them dominate. Driver
    * work is one |strata|-row aggregate; feed the result to
    * [[sampleToTokenBudgetBy]] for the actual one-shuffle sample.
    */
  def temperatureBudgets(df: DataFrame, stratumCol: String, tokenCol: String,
                         totalBudget: Long, alpha: Double): Map[String, Long] = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    // the per-stratum totals collect to the driver: bound it (the
    // limit caps what materializes BEFORE the check — a named error,
    // never an OOM) and refuse an id-like stratum column loudly
    val maxStrata = df.sparkSession.conf
      .getOption("spark.graft.sampling.maxStrataBuckets")
      .map(_.toInt).getOrElse(1 << 22)
    val totalRows = df.groupBy(col(stratumCol))
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
      .limit(maxStrata + 1).collect()
    require(totalRows.length <= maxStrata,
      s"temperatureBudgets: stratum column '$stratumCol' has more than " +
        s"$maxStrata distinct values — an id-like column, not a mixture " +
        "stratum; raise spark.graft.sampling.maxStrataBuckets if intended")
    val totals = totalRows
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val weights = totals.map { case (k, t) => k -> math.pow(t.toDouble, alpha) }
    val z = weights.values.sum
    weights.map { case (k, w) =>
      // never hand a stratum more budget than it has tokens — the
      // surplus would silently under-fill the total
      k -> math.min((totalBudget * w / z).toLong, totals(k))
    }
  }

  /** DuckDB-replayable gate twin of [[temperatureBudgets]] at the
    * common α = 1/2: weights are w9 = floor(sqrt(tokens)·1e9) — sqrt
    * is correctly rounded on BOTH engines (IEEE; Java `Math.sqrt` and
    * DuckDB's C `sqrt`), the ×1e9 multiply rounds once identically,
    * and floor of identical doubles is identical — so every weight is
    * the same exact long on both sides with no half-way round cases.
    * The normalization runs in arbitrary-precision integers (BigInt
    * here, HUGEINT in the oracle): z9 = Σ w9 is an exact integer sum
    * (order-independent, unlike the double path's Σ t^α, whose
    * last-ulp order sensitivity is exactly why the float kernel can't
    * be hash-oracled), and budget_i = min(totalBudget·w9_i ÷ z9, t_i)
    * in integer division. Production callers keep
    * [[temperatureBudgets]] (any α, double weights); the spec pins
    * the twin within 1 token of the double path at α = 1/2.
    */
  def temperatureSqrtBudgets(df: DataFrame, stratumCol: String,
                             tokenCol: String,
                             totalBudget: Long): Map[String, Long] = {
    val maxStrata = df.sparkSession.conf
      .getOption("spark.graft.sampling.maxStrataBuckets")
      .map(_.toInt).getOrElse(1 << 22)
    val rows = df.groupBy(col(stratumCol))
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
      .limit(maxStrata + 1).collect()
    require(rows.length <= maxStrata,
      s"temperatureSqrtBudgets: stratum column '$stratumCol' has more " +
        s"than $maxStrata distinct values — an id-like column, not a " +
        "mixture stratum; raise spark.graft.sampling.maxStrataBuckets")
    require(rows.nonEmpty, "temperatureSqrtBudgets: empty corpus")
    val totals = rows.map(r => r.get(0).toString -> r.getLong(1)).toMap
    val w9 = totals.map { case (k, t) =>
      k -> math.floor(math.sqrt(t.toDouble) * 1e9).toLong
    }
    val z9 = w9.values.foldLeft(BigInt(0))(_ + _)
    require(z9 > 0, "temperatureSqrtBudgets: zero total weight")
    w9.map { case (k, w) =>
      k -> (BigInt(totalBudget) * w / z9).min(BigInt(totals(k))).toLong
    }
  }

  /** Shared two-phase prefix-sum sampler. `strata` columns partition
    * the budget space; `budgetOf` maps a stratum tuple to its budget.
    *
    * The scan is bucketed DETERMINISTICALLY by the leading hex digits
    * of the ordering key itself (a prefix of the key preserves the key
    * order, so per-bucket cumsum + per-bucket offsets == the global
    * cumsum). Deriving the bucket from the data — never from
    * `spark_partition_id()` — matters: runtime partition ids change
    * whenever the plan re-executes or AQE re-lays-out the shuffle, and
    * an offset table keyed on them silently mismatches.
    */
  private val BucketHexDigits = 2 // 256 buckets per stratum

  /** Deterministic greedy sequence packing (the context-window
    * assembly step: concatenate documents into fixed-capacity training
    * sequences): documents are laid out in the same content-derived
    * md5 order the sampler uses, and each document's bin is the
    * capacity-`maxLen` slot its STARTING token offset falls in —
    * contiguous fill, so a bin holds consecutive documents and only
    * its last document may straddle the boundary (bounded overflow of
    * one document, the document-preserving analog of token-exact
    * packing). Same two-phase distributed prefix sum as the sampler —
    * one range-free hash shuffle, no global window.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    maxLen: Long): DataFrame =
    withCumsum(df, idCol, tokenCol, Nil)._1
      .withColumn("bin",
        floor((col("__cum") - col(tokenCol).cast("long")) / lit(maxLen.toDouble)).cast("long"))
      .drop("__key", "__bkt", "__off", "__cum")

  /** Materialize packed sequences as training shards: documents land
    * in `outDir/shard=K/` files where shard K holds `binsPerShard`
    * consecutive bins, rows sorted (bin, position) WITHIN each file —
    * exactly the layout a sequential training reader wants (scan one
    * shard directory = read whole bins in order, no shuffle at read
    * time). One range-partition exchange on the shard id; shard count
    * scales with the corpus, file sizes stay ~binsPerShard·maxLen
    * tokens regardless of SF.
    */
  def writeShards(df: DataFrame, idCol: String, tokenCol: String,
                  maxLen: Long, outDir: String,
                  binsPerShard: Int = 64): Unit = {
    val packed = packSequences(df, idCol, tokenCol, maxLen)
      .withColumn("shard", (col("bin") / binsPerShard).cast("long"))
    packed
      .repartitionByRange(col("shard"))
      .sortWithinPartitions(col("shard"), col("bin"),
        md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  private def prefixSample(df: DataFrame, idCol: String, tokenCol: String,
                           strata: Seq[String],
                           budgetOf: Seq[Any] => Long): DataFrame = {
    // the stratum tuples fall out of the cumsum's own phase-1 totals —
    // no separate distinct() scan of the input
    val (withCum, groups) = withCumsum(df, idCol, tokenCol, strata)
    val budgetCol: Column =
      if (strata.isEmpty) lit(budgetOf(Nil))
      else {
        // budgets realized as a literal column over the stratum value
        groups.foldLeft(lit(null).cast("long")) { (acc, sv) =>
          when(strata.map(col).zip(sv).map { case (c, v) => c === lit(v) }
            .reduce(_ && _), lit(budgetOf(sv))).otherwise(acc)
        }
      }
    withCum
      .filter(col("__cum") - col(tokenCol).cast("long") < budgetCol)
      .drop("__key", "__bkt", "__off", "__cum")
  }

  /** The shared two-phase distributed prefix sum: every row gains
    * `__cum`, its running `tokenCol` total in the global (per-stratum)
    * deterministic md5-of-id order. Helper columns `__key/__bkt/__off`
    * remain for the caller to drop. Also returns the distinct stratum
    * tuples observed in the phase-1 totals (free — no extra scan).
    */
  private def withCumsum(df: DataFrame, idCol: String, tokenCol: String,
                         strata: Seq[String]): (DataFrame, Seq[Seq[Any]]) = {
    val spark = df.sparkSession
    // phase 1 collects one row per (stratum tuple, bucket) and the
    // driver prefix groups them by the stratum VALUES — both driver-
    // side. Array/binary strata would group by REFERENCE there
    // (silently splitting one stratum's budget across phantom groups),
    // and an id-like stratum column would pull #ids × 256 rows onto
    // the driver — refuse both up front, like trainNaiveBayes does
    // for its label column.
    strata.foreach { s =>
      val dt = df.schema(s).dataType
      require(!dt.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
          !dt.isInstanceOf[org.apache.spark.sql.types.MapType] &&
          dt != org.apache.spark.sql.types.BinaryType,
        s"prefix sampler: stratum column '$s' has type ${dt.simpleString}; " +
          "use an atomic (string/numeric/date) stratum")
    }
    val stratCols = strata.map(col)
    // token counts are COUNTS: the long cast keeps phase 1's driver
    // read (getLong) and phase 2's running sum on one integral type
    // whatever width the caller's column carries (a double tokenCol
    // previously ClassCastException'd mid-job)
    val tok = col(tokenCol).cast("long")
    val base = df
      .withColumn("__key", md5(col(idCol).cast("string").cast("binary")))
      .withColumn("__bkt",
        conv(substring(col("__key"), 1, BucketHexDigits), 16, 10).cast("int"))
    val groupCols = stratCols :+ col("__bkt")
    // phase 1: per-(stratum, bucket) token totals — ≤ 256·|strata
    // tuples| rows. The limit bounds what the collect can materialize
    // BEFORE the cardinality check fires (the failure is a named
    // error, never a driver OOM); legitimate mixture sampling uses
    // tens-to-thousands of strata, far under the cap.
    val maxTotals = spark.conf
      .getOption("spark.graft.sampling.maxStrataBuckets")
      .map(_.toInt).getOrElse(1 << 22)
    val totals = base.groupBy(groupCols: _*)
      .agg(sum(tok).as("__t")).limit(maxTotals + 1).collect()
    require(totals.length <= maxTotals,
      s"prefix sampler: strata (${strata.mkString(", ")}) produce more " +
        s"than $maxTotals distinct (stratum, bucket) totals — an id-like " +
        "stratum column; use sampleNPerGroup/hashSplit for per-group " +
        "caps, or raise spark.graft.sampling.maxStrataBuckets")
    // driver prefix within each stratum across ascending buckets
    val byStratum = totals.groupBy(r => (0 until strata.size).map(r.get))
    val offsetRows = byStratum.toSeq.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(strata.size))
      sorted.zip(sorted.scanLeft(0L)((acc, r) => acc + r.getLong(strata.size + 1))).map {
        case (r, off) =>
          // Seq(int, long) would unify to Seq[Long] and silently widen
          // the bucket id — keep the element type at Any
          org.apache.spark.sql.Row.fromSeq(
            (0 until strata.size).map(r.get) ++
              Seq[Any](r.getInt(strata.size), off))
      }
    }
    val offSchema = org.apache.spark.sql.types.StructType(
      strata.map(s => df.schema(s)) ++ Seq(
        org.apache.spark.sql.types.StructField("__bkt",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.LongType)))
    val jlist = new java.util.ArrayList[org.apache.spark.sql.Row](offsetRows.size)
    offsetRows.foreach(jlist.add)
    val offsets = spark.createDataFrame(jlist, offSchema)
    // phase 2: per-bucket local cumsum + broadcast offset join — ONE
    // hash exchange on (strata, bucket), fully parallel
    // ROWS frame, not the default RANGE: rows tying on the full
    // (__key, id) order key are RANGE-peers and would each receive
    // the sum INCLUDING the twin — under a token budget BOTH
    // duplicates then compute a start past the cap and drop, silently
    // under-filling the sample. ROWS gives true sequential prefixes
    // whatever the duplicate structure.
    val w = Window.partitionBy(groupCols: _*)
      .orderBy(col("__key").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = base
      .join(broadcast(offsets), (strata :+ "__bkt").toSeq)
      .withColumn("__cum", sum(tok).over(w) + col("__off"))
    val groups =
      if (strata.isEmpty) Seq(Nil)
      else byStratum.keys.map(_.toSeq: Seq[Any]).toSeq
    (withCum, groups)
  }

  /** Train/eval decontamination (the n-gram-overlap check every
    * training pipeline runs before shipping a corpus): training docs
    * sharing ≥ `minShared` distinct word n-grams with ANY benchmark
    * doc are flagged. Plan: both sides explode to (doc, ngram-hash) —
    * the benchmark side is tiny and its distinct ngram set BROADCASTS
    * — so the match is a map-side semi-join on the training side
    * followed by one hash-agg; the corpus never shuffles its text.
    * Returns (idCol, n_shared) per contaminated training doc.
    */
  def contaminatedDocs(train: DataFrame, trainId: String, trainText: String,
                       bench: DataFrame, benchText: String,
                       n: Int = 13, minShared: Int = 1): DataFrame = {
    def grams(c: Column) = GraftExtensions.call("graft_ngram_hashes",
      transform(split(c, " "), t => xxhash64(t)), lit(n))
    val benchGrams = bench.select(explode(grams(col(benchText))).as("g")).distinct()
    val trainGrams = train.select(col(trainId), explode(grams(col(trainText))).as("g"))
    trainGrams
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .groupBy(col(trainId))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The clean corpus: training docs minus contaminated ones. */
  def decontaminate(train: DataFrame, trainId: String, trainText: String,
                    bench: DataFrame, benchText: String,
                    n: Int = 13, minShared: Int = 1): DataFrame =
    train.join(
      contaminatedDocs(train, trainId, trainText, bench, benchText, n, minShared)
        .select(col(trainId)),
      Seq(trainId), "left_anti")

  /** Bloom-prefiltered contamination check — the 100 TB formulation.
    * [[contaminatedDocs]] broadcasts the benchmark's full distinct-gram
    * table into a hash join; at a few hundred million benchmark grams
    * that broadcast is GBs. Here the first pass over the corpus probes
    * a bloom filter instead (~1.2 bytes/gram at 3% fp — an order of
    * magnitude smaller, built with Spark's native BloomFilterAggregate,
    * probed by the codegen'd BloomFilterMightContain; both registered
    * as functions in [[graft.plans.GraftExtensions]]). False positives
    * are killed by an exact semi-join — which now sees only the
    * candidate sliver, not the corpus — so the result is IDENTICAL to
    * the exact path (same DuckDB oracle applies; the spec asserts
    * equality outright).
    */
  def contaminatedDocsBloom(train: DataFrame, trainId: String, trainText: String,
                            bench: DataFrame, benchText: String,
                            n: Int = 13, minShared: Int = 1,
                            fpp: Double = 0.03): DataFrame = {
    def grams(c: Column) = GraftExtensions.call("graft_ngram_hashes",
      transform(split(c, " "), t => xxhash64(t)), lit(n))
    val benchGrams = DiskSnapshot.diskCached(
      bench.select(explode(grams(col(benchText))).as("g")).distinct())
    try {
      val nGrams = math.max(benchGrams.count(), 1L)
      // standard bloom sizing: m = -n·ln(p)/ln(2)²
      val numBits = math.max(64L,
        math.ceil(-nGrams * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
      // BloomFilterAggregate SILENTLY clamps its arguments to the
      // runtime-filter conf ceilings (maxNumItems=4M, maxNumBits=64Mi
      // by default) — at a few hundred million benchmark grams the
      // clamp would push the false-positive rate toward 1 and the
      // "prefilter" would pass the whole corpus through. Raise the
      // ceilings to what the sizing needs before building.
      val conf = train.sparkSession.conf
      // raise the clamp ceilings only for the sketch build, and restore
      // the session's prior values afterwards — a permanently-raised
      // ceiling would let every LATER query in the session build much
      // larger runtime join filters than the defaults intend
      val keys = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> nGrams,
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits)
      // getAll: getOption reports defaults, which restore would set
      val saved = keys.map { case (k, _) => k -> conf.getAll.get(k) }
      val sketch =
        try {
          keys.foreach { case (k, needed) =>
            if (conf.get(k, "0").toLong < needed) conf.set(k, needed)
          }
          benchGrams
            .agg(GraftExtensions.call("graft_bloom_agg", col("g"), lit(nGrams), lit(numBits)))
            .head().getAs[Array[Byte]](0)
        } finally saved.foreach {
          case (k, Some(v)) => conf.set(k, v)
          case (k, None)    => conf.unset(k)
        }
      require(sketch.length.toLong * 8 >= numBits / 2,
        s"bloom sketch came back ${sketch.length} bytes for $numBits requested bits — " +
          "conf clamp still active; raise spark.sql.optimizer.runtime.bloomFilter.*")
      val trainGrams = train.select(col(trainId), explode(grams(col(trainText))).as("g"))
      val flagged = trainGrams
        .filter(GraftExtensions.call("graft_might_contain", lit(sketch), col("g")))
        // exact fp kill — NO broadcast hint: the whole point of the
        // bloom path is benchmark gram sets too big to broadcast (the
        // prefilter already shrank the STREAM side to the candidate
        // sliver, so the shuffle join is small; AQE still broadcasts
        // automatically when benchGrams is actually tiny)
        .join(benchGrams, Seq("g"), "left_semi")
        .groupBy(col(trainId))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
      // materialize before the release in finally drops the benchmark
      // gram set the plan still references; the eager disk snapshot
      // (vs round-14's localCheckpoint) keeps lineage, so a lost block
      // recomputes through benchGrams' own lineage instead of failing
      // the job
      DiskSnapshot.diskCachedEager(flagged)
    } finally DiskSnapshot.release(benchGrams)
  }

  /** Clean corpus via the bloom path (result equals [[decontaminate]]). */
  def decontaminateBloom(train: DataFrame, trainId: String, trainText: String,
                         bench: DataFrame, benchText: String,
                         n: Int = 13, minShared: Int = 1): DataFrame =
    train.join(
      contaminatedDocsBloom(train, trainId, trainText, bench, benchText, n, minShared)
        .select(col(trainId)),
      Seq(trainId), "left_anti")
}
