package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import KernelExpr._

/** Map-side one-pass kernels for the md5-family GATE signatures
  * (round-19 optimization): each computes, per row, exactly what the
  * previous explode → shuffle → hash-aggregate chain computed across
  * rows — the md5 digests are real MessageDigest MD5 over the same
  * UTF-8 bytes, the affine/bit/bucket arithmetic is replicated
  * verbatim — so every consumer's output is bit-identical while the
  * per-document Exchange + aggregate disappear from the plan
  * (optimization guide §2.4 "remove shuffles outright": a signature
  * derived only from a row's own text never needed a shuffle). At
  * 100 TB the win is the removed corpus-wide shuffle; at gate scale
  * it is also the removed 32-to-64-column aggregate codegen.
  *
  * Kernel ↔ aggregate-form equality is spec-pinned in
  * Md5KernelsSpec; the DuckDB oracles are unchanged (they replay the
  * md5 arithmetic itself, which these kernels reproduce bit-for-bit).
  */
object Md5Kernels {

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** conv(substring(md5(s), 1, 8), 16, 10): the first 4 digest bytes
    * as an unsigned 32-bit value. */
  @inline private def base32(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)

  /** Null-element guard (r19 ADVICE): every internal call site feeds
    * split()-derived arrays (never null elements), but these kernels
    * are public kernels a user can call on any
    * array<string> — a null element used to NPE inside
    * MessageDigest.update mid-task. Reject by kernel name instead.
    * Callers run it FIRST, before any short-array early return (e.g.
    * minhashSig's `len < n` null result), on purpose: a null token is
    * refused whatever the array's length, so whether a malformed row
    * fails never depends on how many tokens it happens to have.
    */
  @inline private def requireNoNullTokens(tokens: ArrayData, fn: String): Unit = {
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) throw new IllegalArgumentException(
        s"$fn: null element at index $i of the token array " +
          "(null tokens are not supported — filter or coalesce them first)")
      i += 1
    }
  }

  /** The shingle string's UTF-8 bytes: tokens[i..i+n) joined by a
    * single space — exactly concat_ws(" ", slice(w, i+1, n)) over a
    * split(text, " ") array (split never yields nulls, so concat_ws's
    * null-skipping never fires). */
  @inline private def shingleDigest(dig: java.security.MessageDigest,
                                    toks: Array[Array[Byte]], i: Int,
                                    n: Int): Array[Byte] = {
    dig.reset()
    var j = i
    while (j < i + n) {
      if (j > i) dig.update(' '.toByte)
      dig.update(toks(j))
      j += 1
    }
    dig.digest()
  }

  /** [[graft.operators.HashFamily.Md5]]'s MinHash signature kernel:
    * k affine-family minima over the md5 base of every n-token
    * shingle. Returns null when the doc has < n tokens (the aggregate
    * form emitted no row there — callers filter). Duplicate shingles
    * are folded by min() either way, so the array_distinct of the
    * explode form is unnecessary here.
    */
  def minhashSig(tokens: ArrayData, n: Int, k: Int,
                 aVals: Array[Long], bVals: Array[Long], p: Long): ArrayData = {
    requireNoNullTokens(tokens, "graft_md5_minhash_sig")
    val len = tokens.numElements()
    if (len < n) return null
    val toks = new Array[Array[Byte]](len)
    var t = 0
    while (t < len) { toks(t) = tokens.getUTF8String(t).getBytes; t += 1 }
    val mins = Array.fill(k)(Long.MaxValue)
    val dig = md.get()
    var i = 0
    while (i <= len - n) {
      val base = base32(shingleDigest(dig, toks, i, n))
      var s = 0
      while (s < k) {
        val v = (aVals(s) * base + bVals(s)) % p
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** [[graft.operators.Dedup.simhashSignaturesMd5]]'s per-row kernel:
    * bit b of the signature is the sign of the token vote sum, where
    * a token's bit b is bit (3 − b%4) of md5-hex nibble b/4 — read
    * straight from the digest bytes (nibble q = high/low half of
    * byte q/2), identical to the conv(substring(md5hex)) decode.
    */
  def simhash64(tokens: ArrayData): Long = {
    requireNoNullTokens(tokens, "graft_md5_simhash64")
    val votes = new Array[Int](64)
    val dig = md.get()
    val len = tokens.numElements()
    var t = 0
    while (t < len) {
      dig.reset()
      dig.update(tokens.getUTF8String(t).getBytes)
      val d = dig.digest()
      var b = 0
      while (b < 64) {
        val q = b >> 2
        val nib = if ((q & 1) == 0) (d(q >> 1) >> 4) & 0xf else d(q >> 1) & 0xf
        votes(b) += (((nib >> (3 - (b & 3))) & 1) << 1) - 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  /** Hashed bag-of-words bucket counts: count of tokens whose
    * md5-base (mod dim) lands in each bucket — the per-row form of
    * the (doc, bucket) count aggregate behind
    * [[graft.operators.Classifier]] features and md5 TF vectors.
    */
  def bucketCounts(tokens: ArrayData, dim: Int): ArrayData =
    new GenericArrayData(bucketCountsRaw(tokens, dim))

  private def bucketCountsRaw(tokens: ArrayData, dim: Int): Array[Long] = {
    requireNoNullTokens(tokens, "graft_md5_bucket_counts")
    val counts = new Array[Long](dim)
    val dig = md.get()
    val len = tokens.numElements()
    var t = 0
    while (t < len) {
      dig.reset()
      dig.update(tokens.getUTF8String(t).getBytes)
      counts((base32(dig.digest()) % dim).toInt) += 1
      t += 1
    }
    counts
  }

  /** Per-row n-gram occurrence counts: (gram string, count) pairs over
    * tokens[i..i+n) joined by ' ', first-occurrence order — the
    * map-side form of the (doc, gram) count aggregate the LM family
    * shuffled for. Empty when the row has < n tokens. */
  def gramCounts(tokens: ArrayData, n: Int): ArrayData = {
    requireNoNullTokens(tokens, "graft_gram_counts")
    val len = tokens.numElements()
    if (len < n) return new GenericArrayData(new Array[Any](0))
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i <= len - n) {
      val g =
        if (n == 1) tokens.getUTF8String(i)
        else {
          var size = n - 1
          var j = i
          while (j < i + n) { size += tokens.getUTF8String(j).numBytes(); j += 1 }
          val buf = new Array[Byte](size)
          var off = 0
          j = i
          while (j < i + n) {
            if (j > i) { buf(off) = ' '.toByte; off += 1 }
            val tb = tokens.getUTF8String(j).getBytes
            System.arraycopy(tb, 0, buf, off, tb.length)
            off += tb.length
            j += 1
          }
          UTF8String.fromBytes(buf)
        }
      val c = counts.get(g)
      if (c == null) counts.put(g.clone(), Array(1L)) else c(0) += 1
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue()(0))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Sparse (bucket, count) entries — only the NON-ZERO cells of
    * [[bucketCounts]] / [[bucketCountsXx]]: for dim ≫ tokens-per-row
    * the dense array fans posexplode with mostly-zero cells (q127 at
    * dim=256 over ~60-token docs generated 4× the rows it kept). */
  private def sparseEntries(counts: Array[Long]): ArrayData = {
    var nz = 0
    var i = 0
    while (i < counts.length) { if (counts(i) != 0L) nz += 1; i += 1 }
    val out = new Array[Any](nz)
    var k = 0
    i = 0
    while (i < counts.length) {
      if (counts(i) != 0L) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(i, counts(i)); k += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def bucketEntries(tokens: ArrayData, dim: Int): ArrayData =
    sparseEntries(bucketCountsRaw(tokens, dim))

  def bucketEntriesXx(tokens: ArrayData, dim: Int): ArrayData =
    sparseEntries(bucketCountsXxRaw(tokens, dim))

  private val HexChars = "0123456789abcdef".toCharArray

  /** md5 hex string of tokens[i..i+w) joined by ' ' — the window-hash
    * rule of [[graft.operators.Dedup]]'s span family, lowercase hex
    * exactly like Spark's md5() expression. */
  def md5WindowHashes(tokens: ArrayData, w: Int): ArrayData = {
    requireNoNullTokens(tokens, "graft_md5_window_hashes")
    val len = tokens.numElements()
    if (len < w) return new GenericArrayData(new Array[Any](0))
    val toks = new Array[Array[Byte]](len)
    var t = 0
    while (t < len) { toks(t) = tokens.getUTF8String(t).getBytes; t += 1 }
    val dig = md.get()
    val out = new Array[Any](len - w + 1)
    var i = 0
    while (i <= len - w) {
      val d = shingleDigest(dig, toks, i, w)
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = HexChars((d(j) >> 4) & 0xf).toByte
        hex(2 * j + 1) = HexChars(d(j) & 0xf).toByte
        j += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** xxhash64 twin of [[md5WindowHashes]]: Spark's xxhash64 (seed 42)
    * of the window string. */
  def xxWindowHashes(tokens: ArrayData, w: Int): ArrayData = {
    requireNoNullTokens(tokens, "graft_xx_window_hashes")
    val len = tokens.numElements()
    if (len < w) return new GenericArrayData(new Array[Long](0))
    val toks = new Array[Array[Byte]](len)
    var total = 0
    var t = 0
    while (t < len) {
      toks(t) = tokens.getUTF8String(t).getBytes; total += toks(t).length
      t += 1
    }
    val buf = new Array[Byte](total + len) // tokens + separators bound
    val out = new Array[Long](len - w + 1)
    var i = 0
    while (i <= len - w) {
      var off = 0
      var j = i
      while (j < i + w) {
        if (j > i) { buf(off) = ' '.toByte; off += 1 }
        System.arraycopy(toks(j), 0, buf, off, toks(j).length)
        off += toks(j).length
        j += 1
      }
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          off, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** xxhash64 twin of [[bucketCounts]] — bucket = pmod(xxhash64(t),
    * dim), the production hashing-trick rule ([[XXH64.hashUTF8String]]
    * with Spark's default seed 42 is exactly the xxhash64 expression
    * on a string column). */
  def bucketCountsXx(tokens: ArrayData, dim: Int): ArrayData =
    new GenericArrayData(bucketCountsXxRaw(tokens, dim))

  private def bucketCountsXxRaw(tokens: ArrayData, dim: Int): Array[Long] = {
    requireNoNullTokens(tokens, "graft_xx_bucket_counts")
    val counts = new Array[Long](dim)
    val len = tokens.numElements()
    var t = 0
    while (t < len) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(tokens.getUTF8String(t), 42L)
      val m = (h % dim).toInt
      counts(if (m < 0) m + dim else m) += 1
      t += 1
    }
    counts
  }

  /** xxhash64 twin of [[signSums]] — bucket = pmod(xxhash64(t), dim),
    * sign = +1 iff pmod(xxhash64(t, 1), 2) = 0 (the two-child xxhash64
    * chains the int literal 1 through hashInt with the string's hash
    * as seed — replicated exactly). Sums of ±1 accumulate as exact
    * integers in doubles, matching Spark's sum-over-float promotion.
    */
  def signSumsXx(tokens: ArrayData, dim: Int): ArrayData = {
    requireNoNullTokens(tokens, "graft_xx_sign_sums")
    val sums = new Array[Double](dim)
    val len = tokens.numElements()
    var t = 0
    while (t < len) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(tokens.getUTF8String(t), 42L)
      val m = (h % dim).toInt
      val b = if (m < 0) m + dim else m
      val h2 = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(1, h)
      val sign = if (((h2 % 2) + 2) % 2 == 0) 1.0 else -1.0
      sums(b) += sign
      t += 1
    }
    new GenericArrayData(sums)
  }

  /** [[graft.functions.TextFunctions.hashEmbeddingsMd5]]'s per-row
    * kernel: signed bucket sums — bucket = md5 base mod dim, sign =
    * parity of hex char 9 (the high nibble of digest byte 4). Sums of
    * ±1.0 are exact integers in doubles, matching the aggregate form.
    */
  def signSums(tokens: ArrayData, dim: Int): ArrayData = {
    requireNoNullTokens(tokens, "graft_md5_sign_sums")
    val sums = new Array[Double](dim)
    val dig = md.get()
    val len = tokens.numElements()
    var t = 0
    while (t < len) {
      dig.reset()
      dig.update(tokens.getUTF8String(t).getBytes)
      val d = dig.digest()
      val b = (base32(d) % dim).toInt
      val sign = if ((((d(4) >> 4) & 0xf) & 1) == 0) 1.0 else -1.0
      sums(b) += sign
      t += 1
    }
    new GenericArrayData(sums)
  }
}

/** graft_md5_minhash_sig(tokens array<string>, n, k) → array<long>;
  * null when the doc has fewer than n tokens. */
final case class Md5MinhashSigExpr(children: Seq[Expression])
    extends KernelExpr(Seq(tokens), Seq(integral("n"), integral("k"))) {
  private lazy val n = intAt(1)
  private lazy val k = intAt(2)
  // the affine family constants, staged once per plan (not per row)
  private lazy val aVals = Array.tabulate(k)(graft.operators.DedupHashes.minhashA)
  private lazy val bVals = Array.tabulate(k)(graft.operators.DedupHashes.minhashB)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def mayReturnNull = true
  protected def args = Seq(In(0), Const("n", n), Const("k", k), Const("aVals", aVals),
    Const("bVals", bVals), Const("p", graft.operators.DedupHashes.MinhashP))
  protected def method = "graft.plans.Md5Kernels.minhashSig"
  protected def call(a: Args) =
    Md5Kernels.minhashSig(a.array(0), a.int(1), a.int(2), a.ref(3), a.ref(4), a.long(5))
}

/** graft_md5_simhash64(tokens array<string>) → long. */
final case class Md5Simhash64Expr(children: Seq[Expression])
    extends KernelExpr(Seq(tokens)) {
  override def dataType: DataType = LongType
  protected def args = Seq(In(0))
  protected def method = "graft.plans.Md5Kernels.simhash64"
  protected def call(a: Args) = Md5Kernels.simhash64(a.array(0))
}

/** graft_md5_bucket_counts(tokens array<string>, dim) → array<long>. */
final case class Md5BucketCountsExpr(children: Seq[Expression])
    extends KernelExpr(Seq(tokens), Seq(integral("dim"))) {
  private lazy val dim = intAt(1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def args = Seq(In(0), Const("dim", dim))
  protected def method = "graft.plans.Md5Kernels.bucketCounts"
  protected def call(a: Args) = Md5Kernels.bucketCounts(a.array(0), a.int(1))
}

/** graft_gram_counts(tokens array<string>, n) → array<struct<g string,
  * c long>> of per-row n-gram occurrence counts (< n tokens → empty). */
final case class GramCountsExpr(children: Seq[Expression])
    extends KernelExpr(Seq(tokens), Seq(integral("n"))) {
  private lazy val n = intAt(1)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  protected def args = Seq(In(0), Const("n", n))
  protected def method = "graft.plans.Md5Kernels.gramCounts"
  protected def call(a: Args) = Md5Kernels.gramCounts(a.array(0), a.int(1))
}

/** graft_md5_window_hashes(tokens array<string>, w) → array<string>
  * of md5-hex window hashes in position order (< w tokens → empty). */
final case class Md5WindowHashesExpr(children: Seq[Expression])
    extends KernelExpr(Seq(tokens), Seq(integral("w"))) {
  private lazy val w = intAt(1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected def args = Seq(In(0), Const("w", w))
  protected def method = "graft.plans.Md5Kernels.md5WindowHashes"
  protected def call(a: Args) = Md5Kernels.md5WindowHashes(a.array(0), a.int(1))
}

/** graft_xx_window_hashes(tokens array<string>, w) → array<long> of
  * xxhash64 window hashes in position order (< w tokens → empty). */
final case class XxWindowHashesExpr(children: Seq[Expression])
    extends KernelExpr(Seq(tokens), Seq(integral("w"))) {
  private lazy val w = intAt(1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def args = Seq(In(0), Const("w", w))
  protected def method = "graft.plans.Md5Kernels.xxWindowHashes"
  protected def call(a: Args) = Md5Kernels.xxWindowHashes(a.array(0), a.int(1))
}

/** graft_md5_bucket_entries / graft_xx_bucket_entries
  * (tokens array<string>, dim) → array<struct<b int, c long>> of the
  * NON-ZERO bucket counts — the sparse form for dim ≫ tokens-per-row
  * consumers (TF-IDF). */
final case class BucketEntriesExpr(children: Seq[Expression], xx: Boolean)
    extends KernelExpr(Seq(tokens), Seq(integral("dim"))) {
  private lazy val dim = intAt(1)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", IntegerType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  protected def args = Seq(In(0), Const("dim", dim))
  protected def method =
    if (xx) "graft.plans.Md5Kernels.bucketEntriesXx" else "graft.plans.Md5Kernels.bucketEntries"
  protected def call(a: Args) =
    if (xx) Md5Kernels.bucketEntriesXx(a.array(0), a.int(1))
    else Md5Kernels.bucketEntries(a.array(0), a.int(1))
}

/** graft_xx_bucket_counts(tokens array<string>, dim) → array<long>:
  * the xxhash64 production twin. */
final case class XxBucketCountsExpr(children: Seq[Expression])
    extends KernelExpr(Seq(tokens), Seq(integral("dim"))) {
  private lazy val dim = intAt(1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def args = Seq(In(0), Const("dim", dim))
  protected def method = "graft.plans.Md5Kernels.bucketCountsXx"
  protected def call(a: Args) = Md5Kernels.bucketCountsXx(a.array(0), a.int(1))
}

/** graft_xx_sign_sums(tokens array<string>, dim) → array<double>: the
  * xxhash64 production twin. */
final case class XxSignSumsExpr(children: Seq[Expression])
    extends KernelExpr(Seq(tokens), Seq(integral("dim"))) {
  private lazy val dim = intAt(1)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  protected def args = Seq(In(0), Const("dim", dim))
  protected def method = "graft.plans.Md5Kernels.signSumsXx"
  protected def call(a: Args) = Md5Kernels.signSumsXx(a.array(0), a.int(1))
}

/** graft_md5_sign_sums(tokens array<string>, dim) → array<double>. */
final case class Md5SignSumsExpr(children: Seq[Expression])
    extends KernelExpr(Seq(tokens), Seq(integral("dim"))) {
  private lazy val dim = intAt(1)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  protected def args = Seq(In(0), Const("dim", dim))
  protected def method = "graft.plans.Md5Kernels.signSums"
  protected def call(a: Args) = Md5Kernels.signSums(a.array(0), a.int(1))
}
