package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import KernelExpr._

/** Tight-loop JVM kernels for the text-similarity signatures, exposed
  * as codegen'd Catalyst expressions (`graft_simhash64`,
  * `graft_minhash_sig` — registered in [[GraftExtensions]]).
  *
  * The higher-order-function formulations in functions/TextFunctions
  * are correct but traverse the token-hash array once per bit /
  * permutation through interpreted lambda plumbing; these kernels do
  * ONE pass per row inside whole-stage codegen (builder-prompt
  * preference: native `Expression` with `doGenCode` > UDF). Measured
  * at sf0.1: simhash 6.2s → sub-second, minhash similar.
  */
object TextKernels {

  private final val Golden = 0x9E3779B97F4A7C15L

  /** Shannon entropy (nats) over code points; empty → 0. One pass +
    * one pass over the (≤ distinct-cp) count table. */
  def charEntropy(s: org.apache.spark.unsafe.types.UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val counts = new java.util.HashMap[Integer, Array[Int]]()
    var i = 0
    var n = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1)) else slot(0) += 1
      n += 1
      i += Character.charCount(cp)
    }
    var ent = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next()(0).toDouble / n
      ent -= p * math.log(p)
    }
    ent
  }

  /** DEFLATE length of the UTF-8 bytes at `level` (raw deflate, no
    * gzip header — the length is the signal, not the container).
    * Deflaters are THREAD-LOCAL per level and reset() between rows:
    * a fresh native zlib allocation per row would dominate the
    * actual compression work for short documents.
    */
  private val deflaters =
    ThreadLocal.withInitial[Array[java.util.zip.Deflater]](
      () => new Array[java.util.zip.Deflater](10))

  def deflateLen(s: org.apache.spark.unsafe.types.UTF8String, level: Int): Long = {
    val pool = deflaters.get()
    var d = pool(level)
    if (d == null) { d = new java.util.zip.Deflater(level, true); pool(level) = d }
    else d.reset()
    d.setInput(s.getBytes); d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  /** splitmix64 finalizer — the permutation mixer for minhash. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + Golden
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 64-bit SimHash over pre-hashed tokens: one pass, 64 sign votes. */
  def simhash64(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  /** Distinct hashes of order-sensitive word n-grams over pre-hashed
    * tokens: shingle (i..i+n-1) hashes to a chained mix of the token
    * hashes — no string n-gram is ever materialized (the HOF
    * formulation builds each "a b c" string: O(len·n) string copies
    * plus a large codegen'd expression tree; this is one tight loop).
    */
  def ngramHashes(tokenHashes: ArrayData, n: Int): ArrayData = {
    val len = tokenHashes.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](len - n + 1)
    var m = 0
    var i = 0
    while (i <= len - n) {
      var acc = Golden
      var j = 0
      while (j < n) { acc = mix(acc ^ tokenHashes.getLong(i + j)); j += 1 }
      if (seen.add(acc)) { out(m) = acc; m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** One-pass normalizer (see [[NormalizeExpr]]), byte-identical to
    * the lower → [^a-z0-9 ]→' ' → collapse → trim regex composition.
    * ASCII input takes the single byte-loop pass (the hot path). A
    * non-ASCII byte anywhere falls back to a slow path that first
    * lowercases exactly the way Spark's `lower()` does for non-ASCII
    * strings (JDK toLowerCase, default locale) — necessary because a
    * few Unicode characters LOWERCASE INTO ASCII (U+212A KELVIN → k,
    * U+0130 → i+combining dot) and the regex path keeps those letters;
    * a bytes-only loop would wrongly collapse them to a space.
    */
  def normalize(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val in = s.getBytes
    var ascii = true
    var j = 0
    while (ascii && j < in.length) { if (in(j) < 0) ascii = false; j += 1 }
    val bytes = if (ascii) in
      else s.toString.toLowerCase.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Byte](bytes.length)
    var m = 0
    var pendingSpace = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      val c: Byte =
        if (b >= 'A' && b <= 'Z') (b + 32).toByte
        else if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) b
        else 0
      if (c != 0) {
        if (pendingSpace && m > 0) { out(m) = ' '; m += 1 }
        pendingSpace = false
        out(m) = c; m += 1
      } else pendingSpace = true
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(
      java.util.Arrays.copyOf(out, m))
  }

  /** k-permutation MinHash signature over pre-hashed shingles: one
    * pass over the hashes, k mins tracked simultaneously. Permutation
    * i re-mixes with splitmix64(h ^ mix(i)).
    */
  def minhashSig(hashes: ArrayData, k: Int): ArrayData = {
    val n = hashes.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    val seeds = Array.tabulate(k)(i => mix(i.toLong))
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var p = 0
      while (p < k) {
        val v = mix(h ^ seeds(p))
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Gopher within-document repetition signals (arXiv:2112.11446
    * table A1), one tokenize + one hash-count pass per n — all
    * INTEGER outputs so a SQL engine can replay them hash-exactly
    * (the fractions the filter thresholds compare are
    * signal/total_chars, left to the caller):
    *
    *   [0]    total_chars — sum of per-token code-point lengths
    *          (separator spaces excluded)
    *   [1..3] top-{2,3,4}-gram chars — occurrences × gram chars of
    *          the most frequent token n-gram (ties break to the
    *          code-point-smallest gram, the order SQL's
    *          `ORDER BY cnt DESC, gram` replays)
    *   [4..9] dup-{5..10}-gram covered chars — chars of tokens lying
    *          inside ANY occurrence of an n-gram that appears ≥2
    *          times (position-coverage union, so overlapping
    *          occurrences never double-count)
    *   [10]   token count
    *
    * Tokenization is `split(" ", -1)` — identical to
    * `split(text, ' ')` on the Spark side and `string_split(text,
    * ' ')` in DuckDB (empty tokens kept, zero chars each). A doc
    * shorter than n tokens contributes 0 for that n.
    */
  def repSignals(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = s.toString.split(" ", -1)
    val L = toks.length
    val lens = new Array[Int](L)
    var total = 0L
    var i = 0
    while (i < L) {
      lens(i) = toks(i).codePointCount(0, toks(i).length)
      total += lens(i)
      i += 1
    }
    val out = new Array[Long](11)
    out(0) = total
    out(10) = L
    var n = 2
    while (n <= 4) { out(n - 1) = topGramChars(toks, n); n += 1 }
    n = 5
    while (n <= 10) { out(n - 1) = dupCoveredChars(toks, lens, n); n += 1 }
    new GenericArrayData(out)
  }

  /** Code-point order — what binary UTF-8 collation (DuckDB, and
    * UTF8String.compareTo) yields; Java String.compareTo is UTF-16
    * code-UNIT order, which disagrees above the BMP. */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private def gramKeys(toks: Array[String], n: Int): Array[String] = {
    val m = toks.length - n + 1
    val keys = new Array[String](m)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      keys(i) = sb.toString
      i += 1
    }
    keys
  }

  private def countGrams(keys: Array[String]): java.util.HashMap[String, Array[Int]] = {
    val counts = new java.util.HashMap[String, Array[Int]]()
    var i = 0
    while (i < keys.length) {
      val slot = counts.get(keys(i))
      if (slot == null) counts.put(keys(i), Array(1)) else slot(0) += 1
      i += 1
    }
    counts
  }

  private def topGramChars(toks: Array[String], n: Int): Long = {
    if (toks.length < n) return 0L
    val counts = countGrams(gramKeys(toks, n))
    var bestCount = 0
    var bestKey: String = null
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      if (c > bestCount || (c == bestCount && cpCompare(e.getKey, bestKey) < 0)) {
        bestCount = c
        bestKey = e.getKey
      }
    }
    // gram chars = key code points minus the n-1 separator spaces
    val gramChars = bestKey.codePointCount(0, bestKey.length) - (n - 1)
    bestCount.toLong * gramChars
  }

  private def dupCoveredChars(toks: Array[String], lens: Array[Int],
                              n: Int): Long = {
    val L = toks.length
    if (L < n) return 0L
    val keys = gramKeys(toks, n)
    val counts = countGrams(keys)
    val covered = new Array[Boolean](L)
    var i = 0
    while (i < keys.length) {
      if (counts.get(keys(i))(0) >= 2) {
        var k = i
        while (k < i + n) { covered(k) = true; k += 1 }
      }
      i += 1
    }
    var sum = 0L
    i = 0
    while (i < L) { if (covered(i)) sum += lens(i); i += 1 }
    sum
  }
}

/** graft_simhash64(array<long>) → long */
final case class SimHash64Expr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("token_hashes", LongType))) {
  override def dataType: DataType = LongType
  protected def args = Seq(In(0))
  protected def method = "graft.plans.TextKernels.simhash64"
  protected def call(a: Args) = TextKernels.simhash64(a.array(0))
}

/** graft_ngram_hashes(array<long>, n) → array<long> distinct */
final case class NgramHashesExpr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("token_hashes", LongType)), Seq(integral("n"))) {
  private lazy val n = intAt(1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def args = Seq(In(0), Const("n", n))
  protected def method = "graft.plans.TextKernels.ngramHashes"
  protected def call(a: Args) = TextKernels.ngramHashes(a.array(0), a.int(1))
}

/** graft_minhash_sig(array<long>, k) → array<long> */
final case class MinHashSigExpr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("shingle_hashes", LongType)), Seq(integral("k"))) {
  private lazy val k = intAt(1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def args = Seq(In(0), Const("k", k))
  protected def method = "graft.plans.TextKernels.minhashSig"
  protected def call(a: Args) = TextKernels.minhashSig(a.array(0), a.int(1))
}

/** graft_normalize(string) → string: one-pass canonical text
  * normalization — ASCII letters lowered, digits kept, EVERY other
  * byte (punctuation, whitespace, any non-ASCII sequence) becomes a
  * single collapsed space, leading/trailing spaces trimmed. Exactly
  * the semantics of the three-regex composition in
  * `TextFunctions.normalizeText` (lower → [^a-z0-9 ]→' ' → ' +'→' '
  * → trim), which scans the string three times and allocates two
  * intermediates; this is one scan, one output buffer.
  */
final case class NormalizeExpr(children: Seq[Expression])
    extends KernelExpr(Seq(text("text"))) {
  override def dataType: DataType = StringType
  protected def args = Seq(In(0))
  protected def method = "graft.plans.TextKernels.normalize"
  protected def call(a: Args) = TextKernels.normalize(a.string(0))
}

/** graft_char_entropy(text) → double: Shannon entropy (nats) of the
  * text's CODE-POINT distribution, one pass, map-side. The classic
  * gibberish/boilerplate detector — near-zero for repeated filler,
  * high for natural prose (quality-filter input alongside the
  * repetition and stopword signals). Empty string → 0.0.
  */
final case class CharEntropyExpr(children: Seq[Expression])
    extends KernelExpr(Seq(text("text"))) {
  override def dataType: DataType = DoubleType
  protected def args = Seq(In(0))
  protected def method = "graft.plans.TextKernels.charEntropy"
  protected def call(a: Args) = TextKernels.charEntropy(a.string(0))
}

/** graft_deflate_len(text, level) → long: DEFLATE-compressed byte
  * length of the UTF-8 text at the given level. compressed/raw is the
  * compression-ratio quality signal (low ratio ⇒ repetitive/templated
  * text). Deflaters come from a per-thread pool (one per level, reset
  * between rows) — no state is shared ACROSS threads, safe inside
  * codegen.
  */
final case class DeflateLenExpr(children: Seq[Expression])
    extends KernelExpr(Seq(text("text")), Seq(integral("level"))) {
  private lazy val level = {
    val l = intAt(1)
    require(l >= 0 && l <= 9, s"deflate level must be 0..9, got $l")
    l
  }
  override def dataType: DataType = LongType
  protected def args = Seq(In(0), Const("level", level))
  protected def method = "graft.plans.TextKernels.deflateLen"
  protected def call(a: Args) = TextKernels.deflateLen(a.string(0), a.int(1))
}

/** graft_rep_signals(text) → array<long>[11]: the Gopher repetition
  * signals (see [[TextKernels.repSignals]] for the layout). One
  * codegen'd pass per row; integer outputs so the driver oracle can
  * hash-compare the signals themselves rather than float fractions.
  */
final case class RepSignalsExpr(children: Seq[Expression])
    extends KernelExpr(Seq(text("text"))) {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def args = Seq(In(0))
  protected def method = "graft.plans.TextKernels.repSignals"
  protected def call(a: Args) = TextKernels.repSignals(a.string(0))
}
