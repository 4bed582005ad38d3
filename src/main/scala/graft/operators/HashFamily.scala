package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{lshBands, tokens}
import graft.functions.VectorFunctions
import graft.plans.GraftExtensions

/** The hash family a hashing operator runs on — the ONE place the
  * hash algorithm is chosen, so MinHash, window-hash spans, line dedup,
  * the seeded samplers and the sign-LSH operators (bucket, ANN top-k,
  * cosine near-dup) each keep a single code path:
  *
  *  - [[HashFamily.Xx]]: xxhash64, the production default (codegen'd,
  *    one pass per value);
  *  - [[HashFamily.Md5]]: md5, replayable bit for bit in SQL — the
  *    correctness gate the DuckDB oracle re-runs verbatim.
  *
  * Each family's kernels are pinned against their folds in
  * Md5KernelsSpec and PropertySpec; DedupSpec, SamplingSpec and
  * SimilaritySpec pin the two families' operator outputs against each
  * other on the gate corpus. Keys from different families never mix: a
  * dedup snapshot must be matched with the family that wrote it.
  */
sealed trait HashFamily {

  /** Random-hyperplane (sign) LSH bucket id of `v` from this family's
    * first `nPlanes` planes: bit p = sign(v · plane_p). One long column,
    * map-side only; a `v` whose size is not `dim` fails the query.
    */
  def lshBucket(v: Column, nPlanes: Int, dim: Int): Column = {
    val bits = planeSigns(v, nPlanes, dim).zipWithIndex.map { case (s, p) =>
      when(s, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    VectorFunctions.dimChecked(v, dim, lshBucketName, bits.reduce((a, b) => a.bitwiseOR(b)))
  }

  /** `v · plane_p >= 0` for this family's first `n` LSH planes, and the
    * name a [[lshBucket]] dimension mismatch is reported under. */
  private[operators] def planeSigns(v: Column, n: Int, dim: Int): Seq[Column]
  private[operators] def lshBucketName: String

  /** Per-document MinHash signatures (doc, sig array<long>) over the
    * distinct word-`shingleN`-gram shingles; documents with fewer than
    * `shingleN` tokens emit no row. */
  private[operators] def minhashSignatures(df: DataFrame, idCol: String,
                                           textCol: String, shingleN: Int,
                                           k: Int): DataFrame

  /** One LSH bucket key per band of `r` consecutive signature
    * components (`bands` keys per signature). */
  private[operators] def bandKeys(sig: Column, bands: Int, r: Int): Column

  /** Registered (tokens, w) → position-ordered window-hash kernel. */
  private[operators] def windowKernel: String

  /** Content key of one text line. */
  private[operators] def lineKey(line: Column): Column

  /** 32-bit unsigned bucket in [0, 2³²) of a string key. */
  private[operators] def idBucket(key: Column): Column

  /** Sortable pseudo-random order key of a string key. */
  private[operators] def idSortKey(key: Column): Column
}

object HashFamily {

  /** xxhash64 throughout: token hashes feed the one-pass n-gram and
    * k-min kernels (plans/TextKernels.scala); bands key on xxhash64 of
    * the tagged band slice; LSH planes are [[VectorFunctions.hyperplane]]. */
  case object Xx extends HashFamily {
    private[operators] def planeSigns(v: Column, n: Int, dim: Int): Seq[Column] =
      VectorFunctions.hyperplaneDots(v, n, dim).map(_ >= 0.0)
    private[operators] val lshBucketName = "signLshBucket"
    private[operators] def minhashSignatures(df: DataFrame, idCol: String,
                                             textCol: String, shingleN: Int,
                                             k: Int): DataFrame = {
      df.select(col(idCol).as("doc"),
          GraftExtensions.call("graft_ngram_hashes",
            transform(tokens(col(textCol)), t => xxhash64(t)), lit(shingleN)).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(col("doc"), GraftExtensions.call("graft_minhash_sig", col("hs"), lit(k)).as("sig"))
    }
    private[operators] def bandKeys(sig: Column, bands: Int, r: Int): Column =
      lshBands(sig, bands, r)
    private[operators] val windowKernel = "graft_xx_window_hashes"
    private[operators] def lineKey(line: Column): Column = xxhash64(line)
    private[operators] def idBucket(key: Column): Column =
      pmod(xxhash64(key), lit(4294967296L))
    private[operators] def idSortKey(key: Column): Column = xxhash64(key)
  }

  /** md5 throughout, in forms a SQL engine replays: ONE md5 per
    * distinct shingle gives a 32-bit base (its first 8 hex chars) and
    * the k MinHash components are affine transforms (a_i·base + b_i)
    * mod [[DedupHashes.MinhashP]] over it ([[DedupHashes]] holds the
    * constants — one digest per shingle instead of k); a band key is
    * md5 of the comma-joined band slice; buckets decode the first 8
    * hex chars; sort keys are the md5 hex string; LSH planes are
    * [[VectorFunctions.hyperplaneMd5Int]] under an exact integer dot. */
  case object Md5 extends HashFamily {
    private[operators] def planeSigns(v: Column, n: Int, dim: Int): Seq[Column] =
      VectorFunctions.hyperplaneMd5Dots(v, n, dim).map(_ >= 0L)
    private[operators] val lshBucketName = "signLshBucketMd5"
    private[operators] def minhashSignatures(df: DataFrame, idCol: String,
                                             textCol: String, shingleN: Int,
                                             k: Int): DataFrame = {
      // ONE map-side codegen kernel per row (plans/Md5Kernels.scala):
      // the k affine minima over each shingle's md5 base, bit-identical
      // to the former explode → groupBy(doc) → k-min-aggregate chain
      // (Md5KernelsSpec pins the equality) — with the per-document
      // Exchange removed outright (optimization guide §2.4: a signature
      // derived only from a row's own text never needed a shuffle).
      // Docs with < shingleN tokens return a null sig → filtered, the
      // exact row set the exploded form produced.
      // NO spread here (measured): the signature feeds a bucket-join
      // shuffle chain, and at gate scale the spread's extra exchange +
      // 32-way task fan-out costs more than the parallel hashing buys
      // (q26 1.4 -> 2.0 s, q35 1.1 -> 1.9 s with a spread) — the same
      // trade the windowHashes/denseFeatures kernels measure the other
      // way (their corpora explode ×W / carry dense arrays).
      df.select(col(idCol).as("doc"),
          GraftExtensions.call("graft_md5_minhash_sig",
            tokens(col(textCol)), lit(shingleN), lit(k)).as("sig"))
        .filter(col("sig").isNotNull)
    }
    private[operators] def bandKeys(sig: Column, bands: Int, r: Int): Column =
      array((0 until bands).map(j =>
        md5(array_join(slice(sig, j * r + 1, r).cast("array<string>"), ","))): _*)
    private[operators] val windowKernel = "graft_md5_window_hashes"
    private[operators] def lineKey(line: Column): Column = md5(line)
    private[operators] def idBucket(key: Column): Column =
      conv(substring(md5(key.cast("binary")), 1, 8), 16, 10).cast("long")
    private[operators] def idSortKey(key: Column): Column = md5(key.cast("binary"))
  }
}
