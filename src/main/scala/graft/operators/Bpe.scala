package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained byte-pair encoding — SUBWORD token accounting for LLM
  * data budgets (round-15 verdict #3). Whitespace/dict token counts
  * (TextFunctions.tokens, q135/q139) are not what a training run pays
  * for; BPE subword counts are. This is the public algorithm (Sennrich,
  * Haddow, Birch 2016, "Neural Machine Translation of Rare Words with
  * Subword Units"): start from characters, repeatedly merge the
  * highest-frequency adjacent symbol pair, N times, with a FIXED tie
  * order (count desc, then lexicographic pair) — so the merge table is a
  * pure deterministic function of the corpus and the whole chain is
  * DuckDB-replayable.
  *
  * Training runs on the WORD-FREQUENCY VOCAB (distinct word, count),
  * the classic formulation: pair statistics are identical to corpus
  * grain (weighted by word count) while each round touches O(|vocab|)
  * rows, not O(corpus). No end-of-word marker: merges stay intra-word
  * (documented divergence from tokenizers that mark word ends — the
  * accounting is per-word either way).
  *
  * ORACLE-REPLAYABLE MERGE APPLICATION: a word's symbol sequence is kept
  * as a SENTINEL-WRAPPED STRING — every symbol wrapped in U+0001, e.g.
  * "abc" → ␁a␁␁b␁␁c␁ — so applying merge (l, r) is ONE
  * `replace(s, ␁l␁␁r␁, ␁lr␁)`: both Spark's and DuckDB's replace() scan
  * left-to-right non-overlapping, which is exactly BPE's application
  * order, and the per-symbol wrapping means adjacent matches share no
  * characters (no missed second occurrence) and a pattern can never
  * match a symbol SUFFIX (no false merges). U+0001 cannot appear in a
  * whitespace token of real text; both engines would follow the same
  * path even if it did.
  *
  * Scale (round-17): training is ONE distributed aggregate (the word-
  * frequency vocab — bounded metadata, deterministically truncated to
  * maxVocab at 100 TB) followed by a DRIVER-LOCAL merge loop — the
  * solveWaterfill shape: distributed aggregate in, driver solve,
  * DataFrame out. The earlier form ran one Spark job per merge, which
  * capped training at accounting-grade (≤256 merges); the local loop
  * trains tokenizer-grade merge counts in milliseconds per round and
  * its semantics are pinned to the same oracle replay (see
  * [[trainLoopLocal]]). Encoding never re-applies merges per document:
  * the trained vocab IS the encoding (word → final symbols), so
  * corpus-grain encoding is a word join — at 100 TB the vocab side is
  * orders of magnitude smaller than the corpus and AQE picks the join
  * strategy. (The sequence-grain variant replays ranked merges per doc
  * instead — see [[seqEncode]].) */
object Bpe {

  /** Symbol sentinel (see class doc). */
  private[graft] val Sep = "\u0001"

  /** tokens(text) — the same whitespace tokenization as every other
    * token-accounting operator, so BPE counts compose with them. */
  private def tokens(text: Column): Column =
    graft.functions.TextFunctions.tokens(text)

  /** One learned merge. */
  final case class Merge(rank: Long, lhs: String, rhs: String, pairCount: Long)

  /** Code-point comparison — the tie order BOTH engines sort strings by
    * (Spark's UTF8String compares UTF-8 bytes, DuckDB's binary collation
    * likewise, and UTF-8 byte order = code-point order). Scala's default
    * String ordering is UTF-16 code-UNIT order, which disagrees above
    * the BMP — the driver-local trainer must never fork from the oracle
    * on an astral-plane tie. */
  private[graft] def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** The DRIVER-LOCAL merge loop (round-17, VERDICT r16 #2): the classic
    * BPE trainer over a weighted symbol-sequence table held in memory.
    * The distributed form ran one Spark aggregation + one driver action
    * PER MERGE — accounting-grade at 16 merges, hopeless at tokenizer
    * vocabulary sizes (32k–100k merges). The training INPUT is bounded
    * metadata by the operator's own argument (a word-frequency vocab, or
    * a bounded document sample — exactly how SentencePiece/HF tokenizers
    * train: one distributed aggregate in, a driver-local solve, frozen
    * artifacts out; the `solveWaterfill` precedent), so the loop belongs
    * on the driver: ~O(rounds · total symbols), microseconds per round
    * at gate scale, and no per-merge job round-trip.
    *
    * SEMANTICS ARE PINNED to the oracle replay: per-round pair counts
    * weight every ADJACENT POSITION (overlaps included) by the
    * sequence's count; the winner is the (count desc, lhs, rhs) argmax
    * with strings compared in code-point order; application is
    * LEFT-TO-RIGHT NON-OVERLAPPING within each sequence (the replace()
    * semantics both engines share). `joiner` is "" at word grain
    * (subwords concatenate) and " " at sequence grain (phrase merges
    * keep the space). Exhaustion before `nMerges` fails loudly — same
    * contract as the old per-round `require`. */
  private[graft] def trainLoopLocal(
      seqs: IndexedSeq[(Array[String], Long)],
      nMerges: Int,
      joiner: String): (Seq[Merge], IndexedSeq[Array[String]]) = {
    val state = seqs.map(_._1.clone()).toArray
    val cnts = seqs.map(_._2)
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    for (r <- 1 to nMerges) {
      val pc = scala.collection.mutable.HashMap[(String, String), Long]()
      var k = 0
      while (k < state.length) {
        val a = state(k); val w = cnts(k)
        var i = 0
        while (i < a.length - 1) {
          val key = (a(i), a(i + 1))
          pc.update(key, pc.getOrElse(key, 0L) + w)
          i += 1
        }
        k += 1
      }
      require(pc.nonEmpty,
        s"BPE training exhausted adjacent pairs before merge $r of $nMerges")
      var best: ((String, String), Long) = null
      pc.foreach { e =>
        if (best == null) best = e
        else {
          val c = java.lang.Long.compare(e._2, best._2)
          val better = c > 0 || (c == 0 && {
            val cl = cpCompare(e._1._1, best._1._1)
            cl < 0 || (cl == 0 && cpCompare(e._1._2, best._1._2) < 0)
          })
          if (better) best = e
        }
      }
      val ((l, rr), c) = best
      merges += Merge(r.toLong, l, rr, c)
      val merged = l + joiner + rr
      k = 0
      while (k < state.length) {
        val a = state(k)
        var hit = false
        var i = 0
        while (!hit && i < a.length - 1) {
          hit = (a(i) == l) && (a(i + 1) == rr); i += 1
        }
        if (hit) {
          val out = scala.collection.mutable.ArrayBuffer[String]()
          i = 0
          while (i < a.length) {
            if (i < a.length - 1 && a(i) == l && a(i + 1) == rr) {
              out += merged; i += 2 // non-overlapping: skip both halves
            } else { out += a(i); i += 1 }
          }
          state(k) = out.toArray
        }
        k += 1
      }
    }
    (merges.toSeq, state.toIndexedSeq)
  }

  /** Split a word into code points (the same unit as Spark's
    * `substring(word, i, 1)` and DuckDB's `substring` — both count
    * characters, i.e. code points). */
  private def codePointSyms(word: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** The distributed word-frequency aggregate feeding [[trainCore]] —
    * exposed for plan tripwires/dumps (the TakeOrderedAndProject claim). */
  private[graft] def wordCountsPlan(docs: DataFrame,
      textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Train `nMerges` rounds; returns (merge table, final vocab state
    * (word, cnt, s)) where `s` is the sentinel-wrapped symbol string.
    * ONE distributed aggregate (the word-frequency vocab — bounded
    * metadata, truncated deterministically to the `maxVocab` highest-
    * count words at 100 TB; inactive at gate SFs where the whole vocab
    * fits), then the driver-local merge loop. Output is bit-identical
    * to the old per-round Spark loop (same counts, ties, application
    * order) — the q179–q182 oracles replay it unchanged. */
  private def trainCore(docs: DataFrame, nMerges: Int, textCol: String,
      maxVocab: Int = 1 << 20): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1 && nMerges <= 65536, s"nMerges out of range: $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    // the maxVocab truncation executes DISTRIBUTED (r18, VERDICT r17 #2):
    // orderBy+limit plans as TakeOrderedAndProject (per-partition top-k +
    // one k-row merge), so the driver only ever receives ≤ maxVocab rows —
    // the old full-vocab collect was a driver OOM at 100 TB (billions of
    // distinct words). The boundary tie order matches the local comparator
    // exactly: Spark's string sort is UTF8 byte order ≡ code-point order
    // (cpCompare); the local re-sort below then bit-pins the final order
    // independent of plan details.
    val vocab = wordCountsPlan(docs, textCol)
      .orderBy(col("cnt").desc, col("word"))
      .limit(maxVocab)
      .as[(String, Long)].collect()
      .sortWith { case ((wa, ca), (wb, cb)) =>
        ca > cb || (ca == cb && cpCompare(wa, wb) < 0) }
      .toIndexedSeq
    val (merges, finals) =
      trainLoopLocal(vocab.map { case (w, c) => (codePointSyms(w), c) },
        nMerges, joiner = "")
    val state = vocab.zip(finals).map { case ((w, c), syms) =>
      (w, c, Sep + syms.mkString(Sep + Sep) + Sep)
    }.toDF("word", "cnt", "s")
    (merges, state)
  }

  /** The learned merge table: (rank, lhs, rhs, pair_count), rank 1..N in
    * learning order. */
  def bpeMerges(docs: DataFrame, nMerges: Int, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, _) = trainCore(docs, nMerges, textCol)
    merges.toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** The encoded vocab: (word, cnt, n_sub, subwords) with `subwords` the
    * space-joined final symbol sequence — the word→subwords dictionary a
    * corpus-grain encode joins against. `maxVocab` caps the trained word
    * space to the (cnt desc, code-point) top-k — inactive at gate SFs,
    * the 100 TB driver-memory bound (see [[trainCore]]). */
  def bpeVocab(docs: DataFrame, nMerges: Int, textCol: String = "text",
      maxVocab: Int = 1 << 20): DataFrame =
    vocabOf(trainCore(docs, nMerges, textCol, maxVocab)._2)

  /** ONE training run, BOTH artifacts: the merge table rows
    * (kind = 'm') unioned with the vocab rows (kind = 'v') under a
    * common schema — the cacheable form (SessionCache holds single
    * DataFrames), so a gate run that needs the merge table AND the
    * vocab trains once, not twice. */
  def trainedTable(docs: DataFrame, nMerges: Int,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, state) = trainCore(docs, nMerges, textCol)
    val m = merges.toDF("rank", "lhs", "rhs", "pair_count")
      .select(lit("m").as("kind"), col("rank"), col("lhs"), col("rhs"),
        col("pair_count"), lit(null).cast("string").as("word"),
        lit(null).cast("long").as("cnt"), lit(null).cast("long").as("n_sub"),
        lit(null).cast("string").as("subwords"))
    val v = vocabOf(state)
      .select(lit("v").as("kind"), lit(null).cast("long").as("rank"),
        lit(null).cast("string").as("lhs"), lit(null).cast("string").as("rhs"),
        lit(null).cast("long").as("pair_count"),
        col("word"), col("cnt"), col("n_sub"), col("subwords"))
    m.unionByName(v)
  }

  private def vocabOf(state: DataFrame): DataFrame =
    state.select(col("word"), col("cnt"),
      split(expr("substring(s, 2, length(s) - 2)"), Sep + Sep).as("sy"))
      .select(col("word"), col("cnt"),
        size(col("sy")).cast("long").as("n_sub"),
        concat_ws(" ", col("sy")).as("subwords"))

  /** Per-document subword token accounting: (idCol, n_words,
    * n_bpe_tokens) — every word OCCURRENCE joined to the trained vocab's
    * subword count. The real token-budget metric for q135/q139-class
    * operators. */
  def bpeTokenCounts(
      docs: DataFrame,
      nMerges: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    tokenCountsFromVocab(docs, bpeVocab(docs, nMerges, textCol), idCol, textCol)

  /** What a frozen-vocab consumer does with a word missing from the vocab:
    * [[Oov.Strict]] fails LOUDLY per row (the KnIngest missing-symbol
    * contract — for self-scoring pipelines, where an OOV is a bug and a
    * silently dropped word would under-count token budgets);
    * [[Oov.CharFallback]] is the standard OOV policy (round-17, VERDICT
    * r16 #3) for corpora DISJOINT from training: the word encodes as its
    * characters, n_sub = length(word) in code points — the GPT-2 /
    * SentencePiece byte-fallback shape at char grain (a character
    * sequence is a valid segmentation under any merge table; we count
    * it, never guess merges the model didn't learn). */
  sealed trait Oov
  object Oov {
    case object Strict extends Oov
    case object CharFallback extends Oov
  }

  /** The [[Oov.Strict]] refusal, naming the missing `word`. */
  private def missingWord: Column =
    raise_error(concat(lit("Bpe: word missing from the trained vocab "
      + "(OOV under a frozen vocab needs an explicit policy): "), col("word")))

  /** [[bpeTokenCounts]] against an ALREADY-TRAINED vocab — the form a
    * pipeline uses when several consumers share one training run (the
    * gates cache the trained vocab per (session, corpus)). A word missing
    * from the vocab follows `oov`: [[Oov.Strict]] (the default) refuses
    * to guess, [[Oov.CharFallback]] counts its characters. Same join
    * shape either way — the policy is the null side of the left join. */
  def tokenCountsFromVocab(
      docs: DataFrame,
      vocab: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      oov: Oov = Oov.Strict): DataFrame = {
    val onMissing = oov match {
      case Oov.Strict => missingWord
      case Oov.CharFallback => length(col("word")).cast("long")
    }
    docs.select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .join(vocab.select(col("word"), col("n_sub")), Seq("word"), "left")
      .withColumn("n_sub", when(col("n_sub").isNull, onMissing).otherwise(col("n_sub")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe_tokens"))
  }

  /** chunkByTokens on the SUBWORD stream: each doc's words are replaced
    * by their trained subword sequences (in word order), then the same
    * clamped-tail sliding windows as Corpus.chunkByTokens run over the
    * subword array. Zero-token docs drop (no subwords to chunk).
    *
    * Scale: one word-grain join against the vocab + one doc-grain
    * reassembly shuffle; the chunk math itself is the doc-local
    * zero-shuffle explode. */
  def bpeChunks(
      docs: DataFrame,
      nMerges: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkSize: Int = 32,
      stride: Int = 24): DataFrame =
    chunksFromVocab(docs, bpeVocab(docs, nMerges, textCol),
      idCol, textCol, chunkSize, stride)

  /** [[bpeChunks]] against an already-trained vocab (see
    * [[tokenCountsFromVocab]]). */
  def chunksFromVocab(
      docs: DataFrame,
      trainedVocab: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkSize: Int = 32,
      stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "need 0 < stride <= chunkSize")
    val vocab = trainedVocab.select(col("word"), col("subwords"))
    val docSubs = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("ord", "word")))
      .join(vocab, Seq("word"), "left")
      // loud on OOV ([[Oov.Strict]]): a silently dropped word would
      // splice the chunk stream with no error
      .withColumn("subwords", when(col("subwords").isNull, missingWord)
        .otherwise(col("subwords")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("ord"), col("subwords")))).as("ps"))
      .select(col(idCol),
        flatten(expr("transform(ps, x -> split(x.subwords, ' '))")).as("_w"))
    chunkWindows(docSubs, idCol, chunkSize, stride)
  }

  /** The clamped-tail sliding-window chunk math over a per-doc symbol
    * array column `_w` — shared by [[chunksFromVocab]] (word-grain
    * subwords) and [[seqChunks]] (sequence-grain subwords). Doc-local
    * zero-shuffle explode. */
  private def chunkWindows(docSyms: DataFrame, idCol: String,
      chunkSize: Int, stride: Int): DataFrame =
    docSyms
      .withColumn("_n", size(col("_w")).cast("long"))
      .withColumn("_k",
        floor(greatest(lit(0L), col("_n") - chunkSize + (stride - 1)) / stride)
          .cast("long"))
      .select(col(idCol), col("_w"), col("_n"),
        explode(sequence(lit(0L), col("_k"))).as("chunk_id"))
      .withColumn("start_tok",
        least(col("chunk_id") * stride, greatest(lit(0L), col("_n") - chunkSize)))
      .select(
        col(idCol), col("chunk_id"), col("start_tok"),
        least(lit(chunkSize.toLong), col("_n") - col("start_tok")).as("n_tok_chunk"),
        md5(concat_ws(" ",
          slice(col("_w"), (col("start_tok") + 1).cast("int"), lit(chunkSize))))
          .as("chunk_fp"))

  // --------------------------------------- sequence-grain (phrase) BPE --

  /** SEQUENCE-GRAIN BPE over a bounded document sample — the
    * tokenizer-grade training path (round-17, VERDICT r16 #2):
    *
    *  - SYMBOL BASE: a document's initial symbols are its whitespace
    *    tokens, and a merge may JOIN ACROSS the token boundary (the
    *    merged symbol keeps the space) — SentencePiece's documented
    *    `--split_by_whitespace=false` formulation. Intra-word merges cap
    *    out at Σ(len(word)−1) over the distinct vocab (107 on this
    *    corpus's 31-word closed vocabulary); sequence-grain merges keep
    *    learning phrase units, so ≥1024 merges are trainable on ANY
    *    corpus — which is the point of the gate.
    *  - SAMPLE: training reads docs with `idCol` < sampleDocs (a
    *    deterministic, oracle-replayable slice). Tokenizer training is
    *    ALWAYS sample-bounded in production (SentencePiece
    *    --input_sentence_size defaults to a 10M-sentence sample; HF
    *    trainers iterate a bounded corpus in memory) — the sample is
    *    driver-scale metadata at any corpus size, the full corpus is
    *    only ever ENCODED (distributed, see [[seqEncode]]).
    *
    * Returns the ranked merge table (rank, lhs, rhs, pair_count). */
  def bpeSeqMerges(
      docs: DataFrame,
      nMerges: Int,
      sampleDocs: Long = 500L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeSeqMergesLocal(docs, nMerges, sampleDocs, idCol, textCol)
      .toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** [[bpeSeqMerges]]' driver-side form — the encode path collects the
    * (bounded) merge table anyway, so gates can reuse one training. */
  def bpeSeqMergesLocal(
      docs: DataFrame,
      nMerges: Int,
      sampleDocs: Long = 500L,
      idCol: String = "doc_id",
      textCol: String = "text"): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val seqs = docs.where(col(idCol) < sampleDocs)
      .select(concat_ws(" ", tokens(col(textCol))).as("seq"))
      .where(length(col("seq")) > 0)
      .groupBy(col("seq")).agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect()
      .sortWith { case ((sa, ca), (sb, cb)) =>
        ca > cb || (ca == cb && cpCompare(sa, sb) < 0) }
      .toIndexedSeq
    trainLoopLocal(seqs.map { case (s, c) => (s.split(" "), c) },
      nMerges, joiner = " ")._1
  }

  /** Distributed REPLAY ENCODE under a sequence-grain merge table: each
    * document's sentinel-wrapped token sequence left-folds through the
    * ranked merges, one `replace` per merge — exactly the training
    * application order, so sampled docs reproduce their training-final
    * states and out-of-sample docs get the frozen model's segmentation.
    * Returns (idCol, syms array<string>); zero-token docs drop (nothing
    * to encode — the q182 contract).
    *
    * Scale: one narrow zero-shuffle projection; the merge table rides
    * the plan as two array literals (driver-bounded by nMerges). The
    * fold costs O(nMerges · len) per doc — the oracle-exact form
    * (DuckDB `list_reduce` replays it verbatim); a 32k+-merge production
    * encoder swaps in the standard per-word heap (O(len log len)) behind
    * the same output contract. */
  def seqEncode(
      docs: DataFrame,
      merges: Seq[Merge],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pats = merges.map(m => Sep + m.lhs + Sep + Sep + m.rhs + Sep)
    val reps = merges.map(m => Sep + m.lhs + " " + m.rhs + Sep)
    val toks0 = tokens(col(textCol))
    val s0 = concat(lit(Sep), concat_ws(Sep + Sep, toks0), lit(Sep))
    docs.where(size(toks0) >= 1)
      .select(col(idCol),
        aggregate(
          zip_with(typedLit(pats), typedLit(reps),
            (p, r) => struct(p.as("pat"), r.as("rep"))),
          s0,
          (acc, m) => replace(acc, m.getField("pat"), m.getField("rep")))
          .as("_s"))
      .select(col(idCol),
        split(expr("substring(_s, 2, length(_s) - 2)"), Sep + Sep).as("syms"))
  }

  /** Per-document subword accounting under a sequence-grain model:
    * (idCol, n_words, n_bpe_tokens) — q180's twin on the tokenizer-grade
    * merge table. */
  def seqTokenCounts(
      docs: DataFrame,
      merges: Seq[Merge],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val nw = docs.where(size(tokens(col(textCol))) >= 1)
      .select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_words"))
    seqEncode(docs, merges, idCol, textCol)
      .select(col(idCol), size(col("syms")).cast("long").as("n_bpe_tokens"))
      .join(nw, Seq(idCol))
      .select(col(idCol), col("n_words"), col("n_bpe_tokens"))
  }

  /** chunkByTokens over the sequence-grain subword stream — q182's twin
    * on the tokenizer-grade merge table (same 32/24 clamped-tail
    * windows + md5 fingerprints). */
  def seqChunks(
      docs: DataFrame,
      merges: Seq[Merge],
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkSize: Int = 32,
      stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "need 0 < stride <= chunkSize")
    chunkWindows(
      seqEncode(docs, merges, idCol, textCol)
        .select(col(idCol), col("syms").as("_w")),
      idCol, chunkSize, stride)
  }
}
