package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained interpolated Kneser–Ney n-gram language models, at
  * order 2 ([[NgramLm.Bigram]]) and order 3 ([[NgramLm.Trigram]]) — the
  * real perplexity quality filter of the CCNet family, one and two model
  * orders up from [[TextProfile.unigramSurprisal]] (q128). CCNet scores
  * documents with an n-gram LM and drops the tails; the unigram surprisal
  * proxy cannot see word ORDER ("the the the the" scores as well as
  * fluent text built from the same words). This is the public formulation
  * (Kneser & Kneser–Ney 1995; Chen & Goodman 1998, interpolated form with
  * one fixed discount at every order), one recursion of a single step:
  *
  *   p(w|ctx) = max(c(ctx,w) − D, 0) / t(ctx)  +  λ(ctx) · p(w|ctx′)
  *   λ(ctx)   = D · N1+(ctx,·) / t(ctx)
  *   p(w)     = N1+(·,w) / B
  *
  * with ctx′ the context minus its first symbol, c the raw count at the
  * top order and the CONTINUATION count below it (c(ctx′,w) = the number
  * of distinct symbols seen before (ctx′,w) — the defining KN property),
  * t(ctx) = Σ_w c(ctx,w), N1+(ctx,·) the number of distinct
  * continuations of ctx, N1+(·,w) the number of distinct contexts w
  * follows at order 2, B the number of distinct bigram types and
  * D = 0.75 (the textbook discount). Self-trained on the scored corpus
  * itself — the same no-external-model stance as q128/q132.
  *
  * VOCABULARY PRUNING (min-count): tokens with corpus count < `minCount`
  * pool into one `<unk>` symbol BEFORE counting, the standard LM recipe
  * and this operator's cap discipline — the model's term space is
  * bounded by the observed-twice vocabulary, never the raw token space,
  * and hapax noise (OCR junk, random ids) shares one distribution.
  * Hapaxes exist at every corpus scale, so the pruning is structurally
  * ACTIVE at the gated SFs. Each document is one <s> … </s> sequence with
  * one <s> per context symbol, so every document produces n_tokens+1
  * scored events (an empty document still scores the single
  * (<s>, …, </s>) event).
  *
  * Sentinels are control characters (U+0001 unk / U+0002 bos /
  * U+0003 eos — the [[Bpe]] sentinel argument: they cannot appear in a
  * whitespace token of real text, and both engines treat them as plain
  * one-char strings even if they did). Outputs render them as `<unk>`,
  * `<s>`, `</s>`.
  *
  * CROSS-ENGINE EXACTNESS (the DuckDB oracle compares hashes): every
  * count is an exact BIGINT below 2^53, so the probability — assembled
  * with ONE fixed parenthesization of IEEE double ops — is bit-identical
  * in Spark and DuckDB; each event's −ln p rounds to 6 dp before an
  * exact DECIMAL per-document summation (q128's discipline — double
  * summation order never matters), and every RATIO of those exact
  * integers is emitted as an integer floor, never a rounded double
  * (integer ratios land on exact decimal .5s, where the engines' round()
  * disagree — see [[knScore]]).
  *
  * Scale: the model is aggregates OF the n-gram TYPE table (each lower
  * table an aggregate of the one above), so it grows with n-gram TYPES,
  * heavily sublinear in corpus tokens — the point the ×10/×100 legs
  * measure. Scoring is ONE equi-join of the corpus stream against the
  * model (one row per type; broadcast when it fits), then a doc-grain
  * aggregate: never doc×doc, no global sort, linear in corpus tokens.
  * The model is localCheckpoint'ed: scoring and the model head both read
  * it, and un-materialized each would re-run the explode and aggregates. */
object NgramLm {

  private[graft] val Unk = "\u0001"
  private[graft] val Bos = "\u0002"
  private[graft] val Eos = "\u0003"

  /** Textbook discount; exactly representable in binary, so the double
    * chain stays engine-exact. */
  val Discount = 0.75

  /** One model order's column contract: the context symbols before `w`,
    * the top-order type-count column, and the per-document event count. */
  final case class Order(ctx: Seq[String], count: String, events: String) {
    private[NgramLm] def keys: Seq[String] = ctx :+ "w"
  }
  val Bigram: Order = Order(Seq("u"), "c", "n_bigrams")
  val Trigram: Order = Order(Seq("u1", "u2"), "c3", "n_trigrams")

  private def tokens(text: Column): Column =
    graft.functions.TextFunctions.tokens(text)

  /** The self-trained corpus stream (doc_id, ctx…, w): [[streamWith]]
    * under the count ≥ minCount vocabulary of `docs`. localCheckpointed —
    * ONE artifact feeding both the model counts and the scoring join (and
    * cacheable per (session, dir) by gate runners, the BPE-vocab
    * discipline: train once, serve every consumer). */
  def stream(docs: DataFrame, order: Order, minCount: Long = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    streamWith(docs, trainVocab(docs, minCount, textCol), order, idCol, textCol)
      .localCheckpoint(true)

  /** The count ≥ minCount vocabulary (tok) — the model's term space; a
    * frozen model persists this next to its bigram counts so arriving
    * text unk-pools under the SAME rule it was trained with. */
  def trainVocab(docs: DataFrame, minCount: Long = 2,
      textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select(col("tok"))
      .localCheckpoint(true)

  /** The stream of `docs` unk-pooled under a GIVEN vocabulary — the
    * scoring-side mapper of a frozen model ([[graft.streaming.KnIngest]]
    * maps each arriving micro-batch with the trained vocab). Framing is
    * one <s> per context symbol before the tokens and one </s> after:
    * at order 3, (<s>, <s>, w1), (<s>, w1, w2), …, (w_{n−1}, w_n, </s>).
    *
    * The frame symbols are exempt from unk pooling BY POSITION, never by
    * VALUE: a data token equal to U+0002/U+0003 (not
    * whitespace, so the tokenizer passes it through) pools by vocab
    * membership like any other — the oracle pools data tokens before
    * concatenating the frame. Context slot i (0-based) is a frame at
    * positions j ≤ ctx.size − i, `w` at the last position only. */
  def streamWith(docs: DataFrame, vocab: DataFrame, order: Order,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val n = order.ctx.size
    val sq = concat(array(Seq.fill(n)(lit(Bos)): _*), tokens(col(textCol)),
      array(lit(Eos)))
    val last = size(sq) - n
    val syms = order.keys
    val raw = docs.select(col(idCol),
        explode(transform(sequence(lit(1), last), j => struct(
          syms.zipWithIndex.flatMap { case (s, i) =>
            Seq(element_at(sq, j + i).as(s),
              (if (i < n) j <= n - i else j === last).as(s"_${s}_frame"))
          }: _*))).as("p"))
      .select(col(idCol) +: syms.flatMap(s => Seq(
        col(s"p.$s").as(s"${s}_raw"), col(s"p._${s}_frame"))): _*)
    syms.foldLeft(raw)((df, s) => df.join(
        vocab.select(col("tok").as(s"${s}_raw"), lit(1).as(s"_${s}_in")),
        Seq(s"${s}_raw"), "left"))
      .select(col(idCol) +: syms.map(s =>
        when(col(s"_${s}_frame") || col(s"_${s}_in").isNotNull,
          col(s"${s}_raw")).otherwise(lit(Unk)).as(s)): _*)
  }

  /** The interpolated-KN step with ONE pinned parenthesization — every
    * order of the model and the frozen-model scorer apply it, so the
    * double chain can never fork. `c`, `total` and `n1f` are exact
    * integer counts; `lower` is the next-lower order's probability. */
  private def interp(c: Column, total: Column, n1f: Column, lower: Column,
      discount: Double): Column = {
    val d = lit(discount)
    (greatest(c.cast("double") - d, lit(0.0)) / total.cast("double")) +
      (((d * n1f.cast("double")) / total.cast("double")) * lower)
  }

  /** The bottom of the recursion: p(w) = N1+(·,w) / B. */
  private def unigram(n1p: Column, b: Column): Column =
    n1p.cast("double") / b.cast("double")

  /** Tables keyed on one symbol are vocab-grain: broadcast them, so the
    * type-grain side is never shuffled for them even when the planner's
    * estimate of a derived aggregate is too big to auto-broadcast.
    * Multi-symbol tables are type-grain, left to the planner. */
  private def keyed(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.size == 1) broadcast(df) else df

  /** The assembled type-grain model (ctx…, w, count, …, p) over a
    * [[stream]]. Level k (k context symbols) joins its context totals
    * (t_k, n1f_k) and the level below's continuation counts c_(k−1)
    * (c_0 = N1+(·,w)) onto the top type table, then B; p folds bottom-up
    * through [[interp]]. */
  def model(stream: DataFrame, order: Order,
      discount: Double = Discount): DataFrame = {
    val n = order.ctx.size
    def cnt(k: Int): String = if (k == n) order.count else s"c$k"
    def down(wide: DataFrame, t: DataFrame, k: Int): DataFrame = {
      val ctx = order.ctx.takeRight(k)
      val below = ctx.tail :+ "w"
      val totals = t.groupBy(ctx.map(col): _*)
        .agg(sum(col(cnt(k))).as(s"t$k"), count(lit(1)).as(s"n1f$k"))
      val lower = t.groupBy(below.map(col): _*)
        .agg(count(lit(1)).as(cnt(k - 1)))
      val joined = wide.join(keyed(totals, ctx), ctx)
      if (k == 1) joined.join(keyed(lower, below), below)
        .crossJoin(broadcast(t.agg(count(lit(1)).as("b"))))
      else {
        val l = lower.localCheckpoint(true)
        down(joined.join(keyed(l, below), below), l, k - 1)
      }
    }
    val top = stream.groupBy(order.keys.map(col): _*)
      .agg(count(lit(1)).as(order.count))
      .localCheckpoint(true)
    val p = (1 to n).foldLeft(unigram(col(cnt(0)), col("b"))) { (lower, k) =>
      interp(col(cnt(k)), col(s"t$k"), col(s"n1f$k"), lower, discount)
    }
    down(top, top, n).withColumn("p", p).localCheckpoint(true)
  }

  /** Per-document cross-entropy (doc_id, events, xent_unats) of a stream
    * carrying each event's p: the integer-µ-nat discipline of
    * [[knScore]]. */
  private def xent(scored: DataFrame, order: Order, idCol: String): DataFrame =
    scored.withColumn("s", round(-log(col("p")), 6).cast("decimal(28,6)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as(order.events), sum(col("s")).as("sum_s"))
      .select(col(idCol), col(order.events),
        expr(s"CAST(sum_s * 1000000 AS BIGINT) div ${order.events}")
          .as("xent_unats"))

  /** Score a bigram stream against FROZEN bigram counts (u, w, c) — the
    * ingest-side scorer: the context/continuation/total tables are
    * re-derived from the frozen counts (type-grain, cheap), the pair
    * join is LEFT (an unseen pair carries the backoff mass alone:
    * max(0−D, 0) = 0, so p = λ(u)·p_cont(w) — real interpolated KN, not
    * a special case), and an arriving context or continuation symbol
    * missing from the model fails LOUDLY per row instead of silently
    * dropping the bigram (only possible when the training corpus had no
    * hapax, i.e. no `<unk>` state — a misuse, not a data condition). */
  def knScoreAgainst(stream: DataFrame, bg: DataFrame,
      discount: Double = Discount, idCol: String = "doc_id"): DataFrame = {
    val ctx = bg.groupBy(col("u"))
      .agg(sum(col("c")).as("cu"), count(lit(1)).as("n1f"))
    val cont = bg.groupBy(col("w")).agg(count(lit(1)).as("n1p"))
    val btot = bg.agg(count(lit(1)).as("b"))
    val guard = (side: String, c: Column) => when(c.isNull,
      raise_error(lit(s"KnIngest: $side symbol missing from the frozen " +
        "model (trained without <unk>?)"))).otherwise(c)
    // ctx/cont broadcast (r18, guide §3.1): they are unigram-grain
    // aggregates of the frozen counts, but as DERIVED plans their size
    // estimate inflates past the auto-broadcast threshold and the planner
    // SMJ'd them — shuffling the full exploded bigram stream twice per
    // micro-batch (the q188 regression's real cost; plans/r18/
    // kn_score_against_{before,after}.txt: 2 SortMergeJoin → 0)
    xent(stream.join(bg, Seq("u", "w"), "left")
      .join(broadcast(ctx), Seq("u"), "left")
      .join(broadcast(cont), Seq("w"), "left")
      .crossJoin(broadcast(btot))
      .withColumn("cu", guard("context", col("cu")))
      .withColumn("n1p", guard("continuation", col("n1p")))
      .withColumn("p", interp(coalesce(col("c"), lit(0L)), col("cu"),
        col("n1f"), unigram(col("n1p"), col("b")), discount)),
      Bigram, idCol)
  }

  /** Per-document KN bigram cross-entropy (doc_id, n_bigrams,
    * xent_unats): the mean over the document's <s>…</s> bigrams of
    * −ln p(w|u), in MICRO-NATS, floored — LOW = fluent/templated, HIGH =
    * disordered or rare-token soup; production screens band on this
    * column exactly as q143 bands q128.
    *
    * Why an integer, not a rounded double: the per-bigram 6 dp surprisal
    * sum is an exact micro-nat integer, so the mean is a RATIONAL whose
    * decimal expansion routinely lands on an exact .5 at any rounding
    * scale — and Spark rounds the binary double down where DuckDB rounds
    * the decimal view up (measured: 94940034/28 µnats → 3.390715 vs
    * 3.390716). Integer floor division has no tie to disagree on. */
  def knScore(docs: DataFrame, minCount: Long = 2, discount: Double = Discount,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val s = stream(docs, Bigram, minCount, idCol, textCol)
    scoreFrom(s, model(s, Bigram, discount), Bigram, idCol)
  }

  /** [[knScore]] at any order over a prebuilt stream + model (so gate
    * runners can train once per corpus and serve both the head and the
    * scoring gate); inner join: self-trained, every stream event is a
    * model type. */
  def scoreFrom(stream: DataFrame, model: DataFrame, order: Order,
      idCol: String = "doc_id"): DataFrame =
    xent(stream.join(model.select((order.keys :+ "p").map(col): _*),
      order.keys), order, idCol)

  private def rendered(c: Column): Column =
    when(c === Unk, "<unk>").when(c === Bos, "<s>").when(c === Eos, "</s>")
      .otherwise(c)

  /** [[modelTopFrom]] of the self-trained bigram model over `docs`. */
  def knModelTop(docs: DataFrame, k: Int, minCount: Long = 2,
      discount: Double = Discount,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    modelTopFrom(model(stream(docs, Bigram, minCount, idCol, textCol),
      Bigram, discount), k, Bigram)

  /** The `k` highest-probability types (ctx…, w, count, p_nano) of a
    * prebuilt model under the (p_nano desc, ctx…, w) total order;
    * `orderBy + limit` plans as TakeOrderedAndProject (per-partition
    * top-k + one k-row merge), never a full global sort. p is emitted in
    * floored NANO-probability (floor(double) is tie-free across engines,
    * unlike round — see [[knScore]]). */
  def modelTopFrom(model: DataFrame, k: Int, order: Order): DataFrame =
    model.select(order.keys.map(s => rendered(col(s)).as(s)) :+
        col(order.count) :+
        floor(col("p") * lit(1000000000.0)).as("p_nano"): _*)
      .orderBy(col("p_nano").desc +: order.keys.map(col): _*)
      .limit(k)
}
