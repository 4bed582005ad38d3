package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import KernelExpr._

/** One-pass BPE word encoder (reference semantics: the subword-unit
  * merge table of arXiv:1508.07909, applied at encode time).
  *
  * `graft.operators.Bpe.encode` realizes "apply merge r to every
  * word" as ONE nested `aggregate` higher-order function per merge —
  * exactly replayable in the DuckDB oracle, but the expression tree
  * grows linearly with the merge count: fine at the gate's 8 rounds,
  * hopeless at a production tokenizer's 32k merges (Catalyst analysis
  * alone is quadratic-ish in that tree, and codegen splits collapse).
  *
  * This kernel applies the whole merge TABLE to one word in a single
  * JVM pass with identical sequential semantics: merges are applied
  * in rank order, each as one left-to-right greedy fold, and a merge
  * whose pair is absent is a no-op. Instead of scanning all N merges,
  * the loop jumps straight to the lowest-rank pair actually present
  * that is ranked above the last applied merge — a pair re-created by
  * a LATER merge (possible when a merge's product string-equals an
  * earlier pair's left or right side) is correctly skipped, which is
  * where this differs from GPT-2's re-visiting encoder and agrees
  * with the sequential fold (`Bpe.applyMerge`, BpeSpec pins parity).
  * Per-word cost is O(len · merges-applied), independent of table
  * size; the table itself is built once per executor and referenced
  * from generated code, so the expression stays inside whole-stage
  * codegen at any merge count.
  */
object BpeKernel {

  /** Rank table: pair (a, b) → ascending ranks at which that pair
    * is merged (almost always one entry; a pair can in principle be
    * re-learned after re-emerging, so all ranks are kept). Built once
    * per executor from the merges literal; `products(r)` is the
    * merged symbol of rank r.
    */
  final class Table(as: Array[String], bs: Array[String]) extends Serializable {
    val size: Int = as.length
    val products: Array[String] = new Array[String](size)
    // tuple keys, not joined strings: a symbol may contain any char
    // (dirty corpora), so no separator is collision-safe — and a
    // Tuple2 of two live strings is cheaper than concatenating them
    @transient lazy val ranks: java.util.HashMap[(String, String), Array[Int]] = {
      val m = new java.util.HashMap[(String, String), Array[Int]]()
      var r = 0
      while (r < size) {
        val k = (as(r), bs(r))
        val prev = m.get(k)
        m.put(k, if (prev == null) Array(r) else prev :+ r)
        r += 1
      }
      m
    }
    { var r = 0; while (r < size) { products(r) = as(r) + bs(r); r += 1 } }
    def a(r: Int): String = as(r)
    def b(r: Int): String = bs(r)
  }

  /** Encode one word against the table; returns its merged symbol
    * sequence. Semantics == folding `Bpe.applyMerge` over the merges
    * in rank order (see class doc).
    */
  def encodeWord(word: UTF8String, tbl: Table): ArrayData = {
    val s = word.toString
    if (s.isEmpty) return new GenericArrayData(Array.empty[Any])
    // segment by CODE POINT — the same symbols Spark's split(w, "")
    // empty-pattern fast path produces (an astral char is ONE symbol;
    // per-UTF-16-unit charAt would emit surrogate halves that never
    // match the merge table)
    var syms = new Array[String](s.length)
    var len = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      syms(len) = new String(Character.toChars(cp))
      len += 1
      i += Character.charCount(cp)
    }
    // shrink only when astral chars actually collapsed code units
    if (len < s.length) syms = java.util.Arrays.copyOf(syms, len)
    var last = -1
    var continue = len > 1
    while (continue) {
      // lowest rank > last among pairs currently present
      var best = Int.MaxValue
      i = 0
      while (i + 1 < len) {
        val rs = tbl.ranks.get((syms(i), syms(i + 1)))
        if (rs != null) {
          var j = 0
          while (j < rs.length && rs(j) <= last) j += 1
          if (j < rs.length && rs(j) < best) best = rs(j)
        }
        i += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        // one left-to-right greedy pass of merge `best` (applyMerge)
        val a = tbl.a(best); val b = tbl.b(best); val ab = tbl.products(best)
        val out = new Array[String](len)
        var m = 0
        i = 0
        while (i < len) {
          if (m > 0 && out(m - 1) == a && syms(i) == b) out(m - 1) = ab
          else { out(m) = syms(i); m += 1 }
          i += 1
        }
        syms = out; len = m; last = best
        if (len < 2) continue = false
      }
    }
    val arr = new Array[Any](len)
    i = 0
    while (i < len) { arr(i) = UTF8String.fromString(syms(i)); i += 1 }
    new GenericArrayData(arr)
  }

  /** Map a symbol array to vocabulary ids (first-wins on duplicate
    * vocab strings — the id table pre-dedupes, this just looks up).
    * Unknown symbols map to -1 (impossible when the vocabulary was
    * built from the same corpus+merges; kept total instead of
    * throwing so a stale vocab misuse shows up in data, loudly, not
    * as a task abort).
    */
  def symsToIds(syms: ArrayData, vocab: java.util.HashMap[String, Int]): ArrayData = {
    val n = syms.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = vocab.getOrDefault(syms.getUTF8String(i).toString, -1)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_bpe_word(word, merges) → array<string>: the merged symbol
  * sequence of one word. `merges` must be a FOLDABLE
  * array<struct<a:string,b:string>> in rank order — it is evaluated
  * once, compiled into a [[BpeKernel.Table]], and referenced from
  * generated code (never re-evaluated per row).
  *
  * Unlike every other kernel, analysis does NOT check the constant's
  * foldability: these expressions live inside HOF lambdas
  * (transform/aggregate), and making `resolved` depend on foldability
  * during the analyzer's staged lambda resolution broke resolution
  * outright (fertilityStats). The lazy table's named require still
  * rejects a per-row merges argument, just at execution.
  */
final case class BpeWordExpr(children: Seq[Expression])
    extends KernelExpr(Seq(text("word")), Seq(Input("merges",
      "array<struct<string,string>>", {
        case ArrayType(st: StructType, _) =>
          st.length == 2 && st.fields.forall(_.dataType == StringType)
        case _ => false
      }))) {
  // built on first use, not in the constructor: the Column API
  // constructs the kernel on UNRESOLVED children, on which `foldable`
  // is not yet meaningful
  @transient private lazy val table: BpeKernel.Table = {
    require(children(1).foldable, "graft_bpe_word: merges must be foldable")
    val arr = children(1).eval(null).asInstanceOf[ArrayData]
    val n = arr.numElements()
    val as = new Array[String](n); val bs = new Array[String](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      as(i) = row.getUTF8String(0).toString
      bs(i) = row.getUTF8String(1).toString
      i += 1
    }
    new BpeKernel.Table(as, bs)
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def constantsFoldableAtAnalysis = false
  protected def args = Seq(In(0), Const("bpeTable", table))
  protected def method = "graft.plans.BpeKernel.encodeWord"
  protected def call(a: Args) = BpeKernel.encodeWord(a.string(0), a.ref(1))
}

/** graft_syms_to_ids(syms, vocab) → array<int>: vocabulary ids of a
  * symbol array. `vocab` must be a FOLDABLE array<string> whose index
  * IS the id (duplicates resolve first-wins); compiled once into a
  * hash map and referenced from generated code. Its foldability is
  * checked at execution, as for [[BpeWordExpr]].
  */
final case class SymsToIdsExpr(children: Seq[Expression])
    extends KernelExpr(Seq(arrayOf("syms", StringType)), Seq(arrayOf("vocab", StringType))) {
  @transient private lazy val vocabMap: java.util.HashMap[String, Int] = {
    require(children(1).foldable, "graft_syms_to_ids: vocab must be foldable")
    val arr = children(1).eval(null).asInstanceOf[ArrayData]
    val m = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getUTF8String(i).toString
      if (!m.containsKey(s)) m.put(s, i)
      i += 1
    }
    m
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def constantsFoldableAtAnalysis = false
  protected def args = Seq(In(0), Const("bpeVocab", vocabMap))
  protected def method = "graft.plans.BpeKernel.symsToIds"
  protected def call(a: Args) = BpeKernel.symsToIds(a.array(0), a.ref(1))
}
