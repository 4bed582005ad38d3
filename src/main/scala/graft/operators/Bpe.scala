package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.plans.GraftExtensions

/** Distributed BPE tokenizer training + encoding (Sennrich et al.
  * 2016, arXiv:1508.07909 — the subword-vocabulary step every
  * training pipeline runs before anything tokenizes).
  *
  * The scale decomposition is the classic one: BPE never trains on
  * the raw corpus — it trains on the WORD-FREQUENCY table, which is
  * vocabulary-sized by Zipf no matter how large the corpus. So the
  * distributed part is exactly one shuffle (token explode → word hash
  * agg, map-side combined), the per-merge-round state is a bounded
  * `maxVocab`-row table folded in the driver (the same
  * driver-bounded-model contract as Lloyd centroids), and ENCODING is
  * pure map-side work: the learned merge list rides into the plan as
  * literals inside nested `aggregate` HOFs — no UDF, no shuffle, no
  * dictionary join.
  *
  * Merge semantics are the exact greedy left-to-right rule, expressed
  * as a left FOLD over the symbol list: append s, except when the
  * accumulator's last element equals `a` and s equals `b`, in which
  * case replace the last element with `a||b`. The fold IS greedy
  * non-overlapping merging, with no lookahead or "just merged" flag:
  * a freshly merged `a||b` can never start another (a,b) merge
  * because `a||b ≠ a` (b is nonempty). [x,x,x,x] → [xx,xx],
  * [x,x,x] → [xx,x] — the textbook behavior. The same fold runs in
  * three places that must agree: the driver trainer (Scala), the
  * encode kernel (Catalyst `aggregate` HOF), and the DuckDB oracle
  * (one recursive CTE per unrolled round) — BpeSpec pins the first
  * two against each other and the q109/q110 gates pin all three.
  *
  * Determinism: ties in pair counts break to the lexicographically
  * smallest (a, b); the vocabulary cap keeps the most frequent
  * `maxVocab` words with ties to the lexicographically smallest word.
  * Everything is integer counts and string compares — no floats, no
  * hashes, so ONE kernel serves production and the oracle (no md5
  * gate twin needed anywhere in this module).
  */
object Bpe {

  /** Hard ceiling on [[trainMerges]]' driver-collected vocabulary
    * (1M word types ≈ tens of MB of strings plus the fold's
    * pair-index state — comfortably driver-sized, and by Zipf's law
    * far past where extra types change the learned merges). */
  val MaxTrainVocab: Int = 1 << 20

  /** A learned merge: `a` + `b` → `a||b`, with the summed word-count
    * weight of the pair at the time it was picked. */
  final case class Merge(a: String, b: String, pairCount: Long)

  /** Character symbols of one word — one symbol per Unicode CODE
    * POINT. Spark's `split(w, "")` takes UTF8String's empty-pattern
    * fast path, which segments by UTF-8 character (code point), so an
    * astral character is ONE symbol there — a `_.toString` per-UTF-16-
    * unit segmentation would hand the driver trainer (and the
    * one-pass kernel, which applies the same rule) lone surrogate
    * halves that can never match the HOF path's symbols or survive a
    * plan-literal round trip. DuckDB's `string_split(w, '')` is
    * code-point-based too, so the oracles agree for free. BpeSpec
    * pins three-way parity on an astral-character corpus.
    */
  /** Code-point lexicographic comparison (== UTF-8 byte order, the
    * order every SQL oracle's ORDER BY uses). Differs from Java
    * `String.compareTo` (UTF-16 code units) exactly when a
    * supplementary-plane char meets one in U+E000–U+FFFF.
    */
  private[operators] def compareCodePoints(a: String, b: String): Int = {
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

  private def charSyms(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** The greedy fold shared by trainer and (conceptually) the encode
    * kernel and the SQL oracle — see the module doc. */
  private[graft] def applyMerge(syms: Vector[String],
                                a: String, b: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == a && s == b)
        acc.init :+ (a + b)
      else acc :+ s
    }

  /** Word-frequency table of the corpus: ONE token-explode hash agg
    * (map-side combined), capped at the `maxVocab` most frequent
    * words (ties → lexicographically smallest word) so the training
    * state is driver-bounded by construction.
    */
  def wordCounts(df: DataFrame, textCol: String, maxVocab: Int): DataFrame =
    df.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxVocab)

  /** Learn `numMerges` BPE merges from the corpus. Returns them in
    * learning order; the corpus is touched exactly once (the
    * word-count shuffle), everything after is a driver fold over the
    * capped vocabulary.
    *
    * The fold is INCREMENTAL (the learn-BPE structure of the
    * reference implementation accompanying arXiv:1508.07909): a pair
    * → containing-words index plus a lazy-deletion max-heap, so each
    * round touches only the words that actually contain the picked
    * pair instead of recounting every pair of every word. Selection
    * stays the naive rule verbatim — globally max count, ties to the
    * lexicographically smallest (a, b) — so the learned merges are
    * bit-identical to a full recount (the q109 oracle unrolls exactly
    * that rule). Cost per round is O(affected words · word length);
    * at 100k vocab the naive recount pays ~1M pair counts EVERY round
    * (minutes at 8k merges), this pays it once at init.
    */
  def trainMerges(df: DataFrame, textCol: String, numMerges: Int,
                  maxVocab: Int = 10000): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    // The collect below is driver-bounded ONLY by this cap (the
    // guarded-objects() pattern of StructureCollection): Zipf's law
    // makes the top-1M types cover essentially all occurrences of any
    // natural-language corpus (ScaleProbe bpe: 32k merges over 100k
    // vocab folds in ~5 s), so the cap costs nothing in practice —
    // but an effectively-unbounded request here is one parameter away
    // from collecting a web-scale vocabulary onto the driver. Refuse
    // loudly instead; past the cap the escalation path is the
    // distributed learn-BPE sketched in the ScaleProbe bpe notes (one
    // (pair → count) shuffle per round over the vocab TABLE).
    require(maxVocab <= MaxTrainVocab,
      s"maxVocab=$maxVocab exceeds the driver-fold cap $MaxTrainVocab; " +
        "BPE training state must stay driver-bounded")
    val rows = wordCounts(df, textCol, maxVocab).collect()
    val words: Array[Vector[String]] = rows.map(r => charSyms(r.getString(0)))
    val cnts: Array[Long] = rows.map(_.getLong(1))

    // pair keys are (a, b) tuples, not joined strings: a symbol from
    // a dirty web corpus may itself contain any character, so no
    // separator is collision-safe
    def key(a: String, b: String): (String, String) = (a, b)
    val pairCount = new java.util.HashMap[(String, String), Long]()
    val pairWords = new java.util.HashMap[(String, String), java.util.BitSet]()
    // heap pops max count first, then lexicographically SMALLEST
    // (a, b) by CODE POINT — not Java String order (UTF-16 code
    // units): the oracle's ORDER BY compares UTF-8 bytes ≡ code
    // points, and the two orders diverge when supplementary-plane
    // symbols meet U+E000–U+FFFF (same divergence [[vocabulary]]
    // guards against). Entries are lazily deleted — valid iff the
    // stored count equals the pair's current count.
    val heap = new java.util.PriorityQueue[(Long, String, String)](
      11, new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1)
          if (c != 0) c
          else {
            val ca = compareCodePoints(x._2, y._2)
            if (ca != 0) ca else compareCodePoints(x._3, y._3)
          }
        }
      })
    def bump(a: String, b: String, delta: Long, wi: Int): Unit = {
      val k = key(a, b)
      val nv = pairCount.getOrDefault(k, 0L) + delta
      if (nv <= 0L) pairCount.remove(k) else pairCount.put(k, nv)
      if (delta > 0) {
        var set = pairWords.get(k)
        if (set == null) { set = new java.util.BitSet(); pairWords.put(k, set) }
        set.set(wi)
      }
      if (nv > 0L) heap.add((nv, a, b))
    }
    // init populates the count/word maps DIRECTLY (no heap traffic):
    // pushing one lazy-deletion entry per adjacency OCCURRENCE would
    // flood the heap with running partials — at the 1M-word cap that
    // is millions of dead tuples paying log-factor pops before the
    // first merge — when one live entry per DISTINCT pair suffices
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      var i = 0
      while (i + 1 < w.length) {
        val k = (w(i), w(i + 1))
        val nv = pairCount.getOrDefault(k, 0L) + cnts(wi)
        pairCount.put(k, nv)
        var set = pairWords.get(k)
        if (set == null) { set = new java.util.BitSet(); pairWords.put(k, set) }
        set.set(wi)
        i += 1
      }
      wi += 1
    }
    pairCount.forEach((k, n) => if (n > 0L) heap.add((n, k._1, k._2)))

    val merges = Seq.newBuilder[Merge]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      // pop to the first live entry
      var picked: (Long, String, String) = null
      while (picked == null && !heap.isEmpty) {
        val top = heap.poll()
        if (pairCount.getOrDefault(key(top._2, top._3), 0L) == top._1)
          picked = top
      }
      if (picked == null) exhausted = true
      else {
        val (c, a, b) = picked
        merges += Merge(a, b, c)
        val k = key(a, b)
        val members = pairWords.get(k)
        if (members != null) {
          var w = members.nextSetBit(0)
          while (w >= 0) {
            val old = words(w)
            val merged = applyMerge(old, a, b)
            if (merged.length != old.length) {
              var i = 0
              while (i + 1 < old.length) { bump(old(i), old(i + 1), -cnts(w), w); i += 1 }
              i = 0
              while (i + 1 < merged.length) { bump(merged(i), merged(i + 1), cnts(w), w); i += 1 }
              words(w) = merged
            }
            w = members.nextSetBit(w + 1)
          }
          pairWords.remove(k)
        }
        pairCount.remove(k) // the greedy pass leaves no (a, b) adjacency
        round += 1
      }
    }
    merges.result()
  }

  /** [[trainMerges]] as a DataFrame — the q109 gate shape:
    * (round, a, b, pair_count), one row per learned merge. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            maxVocab: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trainMerges(df, textCol, numMerges, maxVocab).zipWithIndex
      .map { case (m, i) => (i + 1, m.a, m.b, m.pairCount) }
      .toDF("round", "a", "b", "pair_count")
  }

  /** The greedy fold as a Catalyst expression: one `aggregate` HOF
    * per merge, the pair riding in as literals — codegen'd, map-side,
    * no UDF. `syms` is an array<string> column. */
  private def mergeCol(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(element_at(acc, -1), s))))
        .otherwise(concat(acc, array(s))))

  /** Character symbols of each token of `text`, as
    * array<array<string>> — `split(w, "")` keeps a trailing ""
    * under Spark's limit=-1 regex split, so empties are filtered. */
  private def tokenChars(text: Column): Column =
    transform(TextFunctions.tokens(text),
      w => filter(split(w, ""), c => c =!= lit("")))

  /** Encode: apply the learned merges to every token of `textCol`,
    * map-side. Returns per-row `n_symbols` (token count after
    * merging — the number the packing/budget operators would consume
    * for a subword vocabulary) and `sym_fp` (md5 over the symbol
    * stream, '|' between symbols and '||' between tokens) so a gate
    * can hash-compare the full encoding, not just its length.
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
             merges: Seq[Merge]): DataFrame = {
    val merged = merges.foldLeft(tokenChars(col(textCol))) { (syms, m) =>
      transform(syms, w => mergeCol(w, m.a, m.b))
    }
    df.select(col(idCol), merged.as("__syms"))
      .select(col(idCol),
        aggregate(col("__syms"), lit(0L), (acc, w) => acc + size(w)).as("n_symbols"),
        md5(concat_ws("||", transform(col("__syms"), w => concat_ws("|", w)))
          .cast("binary")).as("sym_fp"))
  }

  /** Train-then-encode in one call (the q110 gate shape). */
  def trainEncode(df: DataFrame, idCol: String, textCol: String,
                  numMerges: Int, maxVocab: Int = 10000): DataFrame =
    encode(df, idCol, textCol, trainMerges(df, textCol, numMerges, maxVocab))

  /** The merge table as a foldable literal for the one-pass kernel. */
  private def mergesLit(merges: Seq[Merge]): Column =
    if (merges.isEmpty)
      array().cast("array<struct<a:string,b:string>>")
    else
      array(merges.map(m => struct(lit(m.a).as("a"), lit(m.b).as("b"))): _*)

  /** Merged symbol sequences of every token, via the ONE-PASS
    * [[graft.plans.BpeKernel]] expression — the production encode
    * path. [[encode]]'s per-merge HOF chain is oracle-replayable but
    * its expression tree grows with the merge count (fine at the
    * gate's 8 merges, hopeless at a 32k-merge tokenizer); this plan
    * is one codegen'd kernel call per token whatever the table size,
    * with the table built once per executor. BpeSpec pins the two
    * encoders equal symbol-for-symbol, q111 oracles this path.
    * Returns (idCol, syms array<array<string>>), map-side only.
    */
  def encodeSymbols(df: DataFrame, idCol: String, textCol: String,
                    merges: Seq[Merge]): DataFrame = {
    val lit = mergesLit(merges)
    df.select(col(idCol),
      transform(TextFunctions.tokens(col(textCol)),
        w => GraftExtensions.call("graft_bpe_word", w, lit)).as("syms"))
  }

  /** [[encode]]'s exact output shape (n_symbols, sym_fp) computed by
    * the one-pass kernel — drop-in, same fingerprints. */
  def encodeFast(df: DataFrame, idCol: String, textCol: String,
                 merges: Seq[Merge]): DataFrame =
    encodeSymbols(df, idCol, textCol, merges)
      .select(col(idCol),
        aggregate(col("syms"), lit(0L), (acc, w) => acc + size(w)).as("n_symbols"),
        md5(concat_ws("||", transform(col("syms"), w => concat_ws("|", w)))
          .cast("binary")).as("sym_fp"))

  /** Deterministic subword vocabulary: base symbols = the corpus's
    * distinct token characters in lexicographic order, then each
    * merge's product in rank order. Index in the returned sequence IS
    * the token id — the contract [[encodeToIds]], its oracle, and any
    * embedding table downstream all share. Entries stay positional
    * even when two merges produce the same string (or a product
    * equals a base char): the id lookup resolves duplicates
    * first-wins, so every id is stable under any later merge — the
    * property the oracle's `min(id) GROUP BY token` replays. One
    * map-side-combined distinct over corpus chars.
    */
  def vocabulary(df: DataFrame, textCol: String, merges: Seq[Merge]): Seq[String] = {
    // sort by CODE POINT, not Java String order (UTF-16 code units):
    // for a corpus mixing supplementary-plane chars with U+E000–U+FFFF
    // the two orders differ, and the id assignment must match the
    // oracle's (and any other engine's) code-point order exactly
    val chars = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .select(explode(filter(split(col("w"), ""), c => c =!= lit(""))).as("c"))
      .distinct().collect().map(_.getString(0))
      .sortBy(s => s.codePointAt(0)).toSeq
    chars ++ merges.map(m => m.a + m.b)
  }

  /** Token-id encoding of every document: one-pass merge kernel, then
    * a hashed id lookup against the [[vocabulary]] (both compiled
    * into the plan — no dictionary join, no shuffle). Returns
    * (idCol, n_symbols, ids_fp) where ids_fp fingerprints the
    * flattened id stream ('|'-joined) — the driver-gate shape; use
    * [[encodeSymbols]] + graft_syms_to_ids directly when the ids
    * themselves feed a model pipeline.
    */
  def encodeToIds(df: DataFrame, idCol: String, textCol: String,
                  merges: Seq[Merge], vocab: Seq[String]): DataFrame =
    encodeIds(df, idCol, textCol, merges, vocab)
      .select(col(idCol),
        size(col("ids")).cast("long").as("n_symbols"),
        md5(concat_ws("|", transform(col("ids"), _.cast("string")))
          .cast("binary")).as("ids_fp"))

  /** The flat token-id array per document — what a packing/export
    * stage actually consumes ([[encodeToIds]] is its fingerprinted
    * gate shape). Map-side only. */
  def encodeIds(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[Merge], vocab: Seq[String]): DataFrame = {
    val vlit = array(vocab.map(org.apache.spark.sql.functions.lit): _*)
    encodeSymbols(df, idCol, textCol, merges)
      .select(col(idCol), flatten(transform(col("syms"),
        w => GraftExtensions.call("graft_syms_to_ids", w, vlit))).as("ids"))
  }

  /** Tokenizer FERTILITY report (the evaluation a tokenizer change
    * ships with — how many subword symbols per word, how many chars
    * per symbol, per corpus slice): applies the one-pass encode
    * kernel and aggregates. Returns (groupCol, n_words, n_symbols,
    * n_chars, fertility = symbols/word, chars_per_symbol). Map-side
    * encode, one grouped agg — the corpus is touched once.
    */
  def fertilityStats(df: DataFrame, textCol: String, groupCol: String,
                     merges: Seq[Merge]): DataFrame = {
    val mlit = mergesLit(merges)
    df.select(col(groupCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(groupCol),
        size(col("__toks")).cast("long").as("__w"),
        aggregate(col("__toks"), lit(0L), (a, t) => a + length(t)).as("__c"),
        aggregate(transform(col("__toks"),
            w => size(GraftExtensions.call("graft_bpe_word", w, mlit))),
          lit(0L), (a, n) => a + n).as("__s"))
      .groupBy(col(groupCol))
      .agg(sum(col("__w")).as("n_words"), sum(col("__s")).as("n_symbols"),
        sum(col("__c")).as("n_chars"))
      .select(col(groupCol), col("n_words"), col("n_symbols"), col("n_chars"),
        round(col("n_symbols").cast("double") / col("n_words"), 6).as("fertility"),
        round(col("n_chars").cast("double") / col("n_symbols"), 6)
          .as("chars_per_symbol"))
  }

  /** Persist a trained tokenizer (merges in rank order + positional
    * vocabulary) as a JSON artifact — the offline-train /
    * online-encode split every deployment runs (the ANN indexes'
    * write/open pattern applied to the tokenizer). Strings are
    * JSON-escaped, so any corpus symbols round-trip.
    */
  def save(merges: Seq[Merge], vocab: Seq[String], path: String): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    val ms = root.putArray("merges")
    merges.foreach { m =>
      val n = ms.addObject()
      n.put("a", m.a); n.put("b", m.b); n.put("count", m.pairCount)
    }
    val vs = root.putArray("vocab")
    vocab.foreach(vs.add)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "tokenizer.json"), om.writeValueAsString(root))
  }

  /** Load a [[save]]d tokenizer: (merges, vocab). */
  def load(path: String): (Seq[Merge], Seq[String]) = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "tokenizer.json")))
    val ms = root.get("merges")
    val merges = (0 until ms.size()).map { i =>
      val n = ms.get(i)
      Merge(n.get("a").asText(), n.get("b").asText(), n.get("count").asLong())
    }
    val vs = root.get("vocab")
    (merges, (0 until vs.size()).map(vs.get(_).asText()))
  }

  /** Decode = inverse of the merge fold: concatenating a token's
    * merged symbols restores the token, and tokens re-join with
    * single spaces. Exact roundtrip whenever `syms` came from
    * [[encodeSymbols]]/[[encode]] over space-tokenized text (the
    * fixture contract; BpeSpec pins decode(encode(text)) == text).
    */
  def decode(df: DataFrame, idCol: String, symsCol: String): DataFrame =
    df.select(col(idCol),
      concat_ws(" ", transform(col(symsCol), w => concat_ws("", w))).as("text"))
}
