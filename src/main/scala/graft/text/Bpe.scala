package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE-merge tokenizer TRAINING (SURVEY §2.5 #65c' follow-on): learn a
  * byte-pair-encoding merge table from a document corpus, distributed.
  *
  * Reference scope: the reference (gatlin/tubes) has no tokenizer — this
  * is part of the LLM-data-pipeline layer a 100 TB deployment needs
  * (Sennrich et al. 2016's algorithm, re-expressed for Spark).
  *
  * Shape for 100 TB:
  *  - The corpus-sized work is ONE pass: pre-tokenize + `groupBy(word)`
  *    frequency aggregation (partial-agg map-side combine, keyed
  *    shuffle). Everything after runs on the DISTINCT-WORD table, which
  *    is Zipf-bounded — orders of magnitude smaller than the corpus but
  *    still unbounded, so it stays a distributed Dataset (unlike IVF's
  *    provably-bounded 2048-row k-means sample, which collects).
  *  - Each merge iteration is (a) one partial-agg shuffle counting
  *    adjacent symbol pairs weighted by word frequency — output
  *    cardinality ≤ |alive vocab|², tiny — and (b) one narrow map
  *    applying the winning merge to the symbol arrays via a
  *    higher-order `aggregate` fold (no UDF, no object serialization).
  *    A [[graft.core.Pin]] truncates the per-iteration lineage so plan
  *    analysis stays O(1) per merge instead of O(r) (the standard
  *    iterative-algorithm pattern).
  *  - The driver holds only the argmax pair per iteration (one small
  *    `head`) and the final merge table — `numMerges` rows.
  *
  * Determinism: ties on pair frequency break lexicographically on
  * (left, right), so the learned table is a pure function of the corpus.
  */
object Bpe {

  /** One learned merge: at `rank`, the adjacent symbol pair
    * (`left`,`right`) — the corpus-wide most frequent at that point,
    * occurring `pairFreq` times — fuses into `left+right`. */
  final case class Merge(rank: Int, left: String, right: String,
                         pairFreq: Long)

  /** Pre-tokens of the lowercased text: the same `bpeRe` pre-tokenizer
    * as [[TextFunctions.bpeTokenCount]] (alpha runs, single digits,
    * single punctuation marks), so the trained tokenizer refines the
    * counting stand-in rather than diverging from it. */
  def preTokens(c: Column): Column =
    regexp_extract_all(lower(c), lit(TextFunctions.bpeRe), lit(0))

  /** Distinct-word frequency table — the one corpus-sized job. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(preTokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** `w` exploded to one-character symbol strings. (`split(w, "")`
    * keeps a trailing "" under Java's limit=-1 semantics; the
    * `transform(sequence(...))` form is unambiguous.) */
  private def chars(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => substring(w, i, lit(1)))

  /** Adjacent-pair counts over the symbol table, weighted by word
    * frequency. Partial aggregation applies (map-side combine), so the
    * shuffle carries ≤ one row per distinct pair per task. */
  private def pairCounts(words: DataFrame): DataFrame =
    words.where(size(col("syms")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("a"),
                    element_at(col("syms"), i + 1).as("b")))).as("p"),
        col("freq"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("freq").as("cnt"))

  /** Replace every non-overlapping left-to-right occurrence of the
    * adjacent pair (a,b) with the fused symbol — a single fold over the
    * symbol array. After fusing, the accumulator's last element is the
    * fused symbol (strictly longer than `a`), so it can never re-match
    * as the left of another occurrence in the same pass: the fold IS
    * the standard non-overlapping scan, including the a==b run case
    * ("aaa" → ["aa","a"]). `try_element_at` (not `element_at`) keeps
    * the empty-accumulator probe NULL-safe under ANSI mode. */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Learn up to `numMerges` merges from `docs(textCol)`. Stops early
    * when no adjacent pair reaches `minPairFreq` (standard BPE cutoff —
    * a merge seen once generalizes to nothing). `minWordFreq` prunes
    * hapax noise words from the symbol table before training (standard;
    * 1 keeps everything).
    *
    * Path selection (the kmeansOnPv pattern, with an exactness twist):
    * the merge loop's entire working set is the distinct-word table.
    * One `take(limit+1)` probes it — if it fits `driverVocabLimit`
    * (default 2²⁰ words; a pruned tokenizer-training vocabulary fits
    * this even from a 100 TB corpus), the take already IS the whole
    * table and the loop runs driver-local with zero further cluster
    * round-trips. Unlike the k-means sample this is NOT approximate:
    * both paths compute the identical merge sequence (asserted in
    * BpeSpec), the bound only picks where the same loop runs. Beyond
    * the bound, [[trainDistributed]] iterates on the cluster —
    * 2 jobs/merge, unbounded vocab. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            minWordFreq: Long = 1L, minPairFreq: Long = 2L,
            driverVocabLimit: Int = 1 << 20): Seq[Merge] = {
    val wc = wordCounts(docs, textCol).where(col("freq") >= minWordFreq)
    val probe = wc.take(driverVocabLimit + 1)
    if (probe.length <= driverVocabLimit)
      trainInMemory(
        probe.iterator.map(r => (r.getString(0), r.getLong(1))),
        numMerges, minPairFreq)
    else
      trainDistributed(wc, numMerges, minPairFreq)
  }

  /** The merge loop on a driver-resident vocabulary: O(total symbols)
    * per iteration, no Spark jobs. Same sequence as the distributed
    * loop (same counts, same lexicographic tie-break). */
  def trainInMemory(wordFreqs: Iterator[(String, Long)], numMerges: Int,
                    minPairFreq: Long = 2L): Seq[Merge] = {
    var words: Array[(Array[String], Long)] = wordFreqs
      .map { case (w, f) => (w.toArray.map(_.toString), f) }.toArray
    val learned = Vector.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val counts = collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words) {
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), n) =
          counts.minBy { case ((a, b), n) => (-n, a, b) }
        if (n < minPairFreq) exhausted = true
        else {
          learned += Merge(rank, a, b, n)
          words = words.map { case (syms, f) =>
            var has = false
            var i = 0
            while (!has && i < syms.length - 1) {
              has = syms(i) == a && syms(i + 1) == b; i += 1
            }
            if (!has) (syms, f)
            else {
              val out = Array.newBuilder[String]
              var j = 0
              while (j < syms.length) {
                if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                  out += a + b; j += 2
                } else { out += syms(j); j += 1 }
              }
              (out.result(), f)
            }
          }
          rank += 1
        }
      }
    }
    learned.result()
  }

  /** The merge loop on a cluster-resident vocabulary (beyond
    * `driverVocabLimit`): per iteration one partial-agg pair-count
    * shuffle + argmax `head`, then one narrow HOF-fold map applying the
    * merge, pinned to truncate lineage. The truncation is
    * load-bearing: a stacked-cache variant (one lazy fold per level)
    * was measured EXPONENTIAL past ~12 levels — Catalyst re-derives the
    * full nested-lambda tree per iteration — where pinning keeps every
    * iteration O(vocab). Every pin is closed before returning. */
  def trainDistributed(wc: DataFrame, numMerges: Int,
                       minPairFreq: Long = 2L): Seq[Merge] = {
    var words = graft.core.Pin(wc
      .select(chars(col("w")).as("syms"), col("freq")))
    val learned = Vector.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    try {
      while (rank < numMerges && !exhausted) {
        val top = pairCounts(words.df)
          .orderBy(desc("cnt"), asc("a"), asc("b")).head(1)
        if (top.isEmpty || top(0).getLong(2) < minPairFreq) exhausted = true
        else {
          val (a, b, n) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          learned += Merge(rank, a, b, n)
          words = words.advance(words.df
            .select(applyMerge(col("syms"), a, b).as("syms"), col("freq")))
          rank += 1
        }
      }
    } finally words.close()
    learned.result()
  }

  /** Final symbol state of the training table under `merges` — used by
    * specs to assert encode/train agreement; also the honest way to
    * materialize a vocabulary (distinct final symbols + single chars). */
  def segmentWords(docs: DataFrame, textCol: String, merges: Seq[Merge],
                   minWordFreq: Long = 1L): DataFrame = {
    val words = wordCounts(docs, textCol).where(col("freq") >= minWordFreq)
    val enc = encoderUdf(merges)
    words.select(col("w"), enc(col("w")).as("syms"), col("freq"))
  }

  /** Greedy BPE encode of one pre-token: repeatedly fuse the
    * lowest-rank merge present. Equivalent to replaying the merges in
    * rank order (each pass only creates symbols later merges consume),
    * so encoding a training word reproduces training's final state —
    * asserted in BpeSpec. Genuinely imperative per-element work: a UDF
    * over a broadcast rank map is the right tier (no builtin exists). */
  def encodeWord(w: String, rankOf: Map[(String, String), Int])
      : IndexedSeq[String] = {
    var syms: IndexedSeq[String] = w.map(_.toString)
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      var at = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = rankOf.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; at = i }
        i += 1
      }
      if (at < 0) done = true
      else {
        val (a, b) = (syms(at), syms(at + 1))
        val out = IndexedSeq.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
        done = syms.length < 2
      }
    }
    syms
  }

  /** The 256 byte tokens `<0x00>`…`<0xFF>` — always in vocabulary, so
    * byte-fallback encoding can never produce an OOV token (the GPT-2 /
    * SentencePiece `byte_fallback` trick). */
  val byteTokens: IndexedSeq[String] =
    (0 until 256).map(i => f"<0x$i%02X>")

  /** A symbol rendered as its UTF-8 byte tokens. */
  def byteFallback(sym: String): IndexedSeq[String] =
    sym.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => byteTokens(b & 0xff)).toIndexedSeq

  /** The CLOSED vocabulary of a trained tokenizer: the training
    * alphabet (distinct single characters of the pruned word table — a
    * bounded set, collected like any trained artifact), every merge
    * product, and the 256 byte tokens. [[encodeWordFallback]] emits
    * only members of this set — the BpeSpec law. */
  def vocabulary(docs: DataFrame, textCol: String, merges: Seq[Merge],
                 minWordFreq: Long = 1L): Set[String] = {
    val alpha = wordCounts(docs, textCol)
      .where(col("freq") >= minWordFreq)
      .select(explode(chars(col("w"))).as("c")).distinct()
      .collect().map(_.getString(0)).toSet
    alpha ++ merges.map(m => m.left + m.right) ++ byteTokens
  }

  /** [[encodeWord]] with byte fallback: any output symbol outside the
    * trained vocabulary (necessarily a single UTF-16 code unit the
    * training corpus never saw — merge products are vocabulary members
    * by construction) is re-emitted as UTF-8 byte tokens. Fallback
    * operates on MAXIMAL RUNS of out-of-vocab symbols, not symbol by
    * symbol: a supplementary character (emoji) arrives as two
    * surrogate code units, each malformed alone — concatenating the
    * run first makes its UTF-8 encoding (and the byte-level
    * round-trip, gated in BpeSpec) correct. Closed vocabulary in,
    * closed vocabulary out: OOV becomes impossible, the price is
    * sequence expansion on unseen characters (reported exactly by
    * q_oov_rate's n_fallback_bytes/expansion columns). A no-op on any
    * text drawn from the training alphabet — asserted in BpeSpec
    * alongside the no-token-outside-vocab law. */
  def encodeWordFallback(w: String, rankOf: Map[(String, String), Int],
                         vocab: Set[String]): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val run = new java.lang.StringBuilder
    def flush(): Unit = if (run.length > 0) {
      out ++= byteFallback(run.toString); run.setLength(0)
    }
    for (s <- encodeWord(w, rankOf)) {
      if (vocab.contains(s)) { flush(); out += s }
      else run.append(s)
    }
    flush()
    out.result()
  }

  /** Column encoder: pre-token string → trained subword array. */
  def encoderUdf(merges: Seq[Merge])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val rankOf = merges.map(m => (m.left, m.right) -> m.rank).toMap
    udf((w: String) =>
      if (w == null) null else encodeWord(w, rankOf): Seq[String])
  }

  /** Tokens-per-document under the trained merges: pre-tokenize
    * (columnar regex), then encode each pre-token with the broadcast
    * rank map. One scan, no shuffle. Distinct-word token lengths are
    * memoized per task — Zipf repetition means most pre-tokens hit the
    * memo, so the greedy encoder runs ~once per distinct word per
    * partition, not once per occurrence. */
  def tokenCount(text: Column, merges: Seq[Merge]): Column = {
    val rankOf = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val f = new (Seq[String] => java.lang.Long) with Serializable {
      @transient private lazy val memo =
        new java.util.HashMap[String, java.lang.Long]()
      def apply(ws: Seq[String]): java.lang.Long =
        if (ws == null) null
        else {
          var s = 0L
          val it = ws.iterator
          while (it.hasNext) {
            val w = it.next()
            var n = memo.get(w)
            if (n == null) {
              n = Long.box(encodeWord(w, rankOf).length.toLong)
              memo.put(w, n)
            }
            s += n
          }
          Long.box(s)
        }
    }
    val u = udf(f: Seq[String] => java.lang.Long)
    u(preTokens(text))
  }
}
