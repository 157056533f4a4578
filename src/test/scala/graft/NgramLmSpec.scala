package graft

import graft.operators.NgramLm
import graft.operators.NgramLm.Trigram

/** Interpolated Kneser–Ney LM at orders 2 and 3: distribution validity,
  * unk pooling, word-order sensitivity, and the model-head ordering. */
class NgramLmSpec extends SparkTestBase {
  import spark.implicits._

  // "a b" x3, "b a" x1, plus a hapax doc: "a z b" — z pools to <unk>
  // under minCount=2 (a:5, b:5, z:1).
  private def corpus = Seq(
    (1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "b a"), (5L, "a z b"))
    .toDF("doc_id", "text")

  test("KN probabilities sum to 1 over each context's continuations") {
    // Interpolated KN is a proper conditional distribution: for every
    // context u, Σ_w p(w|u) over the FULL vocab (all observed w plus the
    // unseen ones, which carry λ(u)·p_cont mass) = 1. Verify on observed
    // continuations plus the analytic unseen tail.
    val bgs = Seq( // hand-built mapped stream of `corpus`
      ("<s>", "a"), ("a", "b"), ("b", "</s>"),
      ("<s>", "a"), ("a", "b"), ("b", "</s>"),
      ("<s>", "a"), ("a", "b"), ("b", "</s>"),
      ("<s>", "b"), ("b", "a"), ("a", "</s>"),
      ("<s>", "a"), ("a", "<unk>"), ("<unk>", "b"), ("b", "</s>"))
    val types = bgs.groupBy(identity).view.mapValues(_.size).toMap
    val b = types.size.toDouble
    val cu = bgs.groupBy(_._1).view.mapValues(_.size).toMap
    val n1f = types.keys.groupBy(_._1).view.mapValues(_.size).toMap
    val n1p = types.keys.groupBy(_._2).view.mapValues(_.size).toMap
    val vocabW = types.keys.map(_._2).toSet // every predictable symbol
    def p(u: String, w: String): Double = {
      val c = types.getOrElse((u, w), 0).toDouble
      math.max(c - 0.75, 0.0) / cu(u) +
        (0.75 * n1f(u) / cu(u)) * (n1p.getOrElse(w, 0) / b)
    }
    for (u <- cu.keys) {
      val total = vocabW.toSeq.map(w => p(u, w)).sum
      assert(math.abs(total - 1.0) < 1e-12, s"context $u sums to $total")
    }
    // and the operator's model head agrees with the hand calc on the
    // top-2: (<s>,a) and (b,</s>) TIE at p = 0.725 — the (u, w)
    // tie-break puts '<s>' (0x3C) before 'b'
    val top = NgramLm.knModelTop(corpus, 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3)))
    assert(p("<s>", "a") === p("b", "</s>"))
    assert(top.toSeq === Seq(
      ("<s>", "a", math.floor(p("<s>", "a") * 1e9).toLong),
      ("b", "</s>", math.floor(p("b", "</s>") * 1e9).toLong)))
  }

  test("min-count pooling maps hapaxes to <unk> and scores every doc") {
    val scored = NgramLm.knScore(corpus)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect()
    assert(scored.map(_._1).toSeq === (1L to 5L))
    // n_bigrams = n_tokens + 1 (the <s>/</s> frame)
    assert(scored.map(_._2).toSeq === Seq(3L, 3L, 3L, 3L, 4L))
    // identical docs score identically
    assert(scored.take(3).map(_._3).distinct.length === 1)
    // the hapax doc routes through <unk>: its xent must exceed the
    // template docs' (rare-token soup scores worse)
    assert(scored(4)._3 > scored(0)._3)
    // word order matters (the q128 unigram proxy can't see this):
    // "b a" has the same unigrams as "a b" but a different score
    assert(scored(3)._3 !== scored(0)._3)
  }

  test("empty documents still score: one (<s>,</s>) bigram") {
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "")).toDF("doc_id", "text")
    val s = NgramLm.knScore(docs).orderBy($"doc_id")
      .as[(Long, Long, Long)].collect()
    assert(s(2)._2 === 1L)
    assert(s(2)._3 > 0L)
  }

  test("model head respects the (p_nano desc, u, w) total order") {
    val rows = NgramLm.knModelTop(corpus, 100).collect()
      .map(r => (r.getLong(3), r.getString(0), r.getString(1)))
    val resorted = rows.sortBy { case (p, u, w) => (-p, u, w) }
    assert(rows.toSeq === resorted.toSeq)
  }

  test("a data token equal to a frame sentinel pools by membership, not value") {
    // ADVICE r16: U+0002 is not whitespace, so the tokenizer passes it
    // through; as a HAPAX it must pool to <unk> like any rare token —
    // the frame exemption is positional, so input data can never claim
    // sentinel identity. The model must contain NO (u = <s>-valued)
    // type beyond the positional frames, i.e. the hapax's bigrams ride
    // <unk>, and every doc still scores.
    val sneaky = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a \u0002 b")).toDF("doc_id", "text")
    val scored = NgramLm.knScore(sneaky).orderBy($"doc_id")
      .as[(Long, Long, Long)].collect()
    assert(scored.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(scored.map(_._2).toSeq === Seq(3L, 3L, 4L))
    // the model head renders the pooled hapax as <unk>: an (a, <s>)
    // type would prove the value-escape leaked data into the frame
    val types = NgramLm.knModelTop(sneaky, 100).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(types.contains(("a", "<unk>")) && types.contains(("<unk>", "b")),
      s"hapax U+0002 must pool to <unk>: $types")
    assert(!types.contains(("a", "<s>")), s"frame identity leaked: $types")
    // the same positional rule at order 3, with both sentinel values as
    // hapax data tokens: every <s>/</s> in the model is a frame position
    // of the double-BOS sequence, and each data token rides <unk>
    val sneaky3 = Seq((1L, "a b"), (2L, "a b"), (3L, "a \u0002 b"),
      (4L, "\u0003 a b")).toDF("doc_id", "text")
    val s3 = NgramLm.stream(sneaky3, Trigram)
    val scored3 = NgramLm.scoreFrom(s3, NgramLm.model(s3, Trigram), Trigram)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect()
    // n_trigrams = n_tokens + 1
    assert(scored3.map(_._2).toSeq === Seq(3L, 3L, 4L, 4L))
    val types3 = NgramLm.modelTopFrom(NgramLm.model(s3, Trigram), 100, Trigram)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(types3 === Set(
      ("<s>", "<s>", "a"), ("<s>", "a", "b"), ("a", "b", "</s>"),
      ("<s>", "a", "<unk>"), ("a", "<unk>", "b"), ("<unk>", "b", "</s>"),
      ("<s>", "<s>", "<unk>"), ("<s>", "<unk>", "a"), ("<unk>", "a", "b")),
      s"frame identity leaked at order 3: $types3")
  }

  // ---- trigram (order 3) ----

  test("trigram KN probabilities sum to 1 over each context's continuations") {
    // the order-3 analogue of the bigram distribution check, on the
    // hand-built mapped trigram stream of `corpus` (double-BOS framing)
    val tgs = Seq(
      ("<s>", "<s>", "a"), ("<s>", "a", "b"), ("a", "b", "</s>"),
      ("<s>", "<s>", "a"), ("<s>", "a", "b"), ("a", "b", "</s>"),
      ("<s>", "<s>", "a"), ("<s>", "a", "b"), ("a", "b", "</s>"),
      ("<s>", "<s>", "b"), ("<s>", "b", "a"), ("b", "a", "</s>"),
      ("<s>", "<s>", "a"), ("<s>", "a", "<unk>"), ("a", "<unk>", "b"),
      ("<unk>", "b", "</s>"))
    val c3 = tgs.groupBy(identity).view.mapValues(_.size).toMap
    val c12 = tgs.groupBy(t => (t._1, t._2)).view.mapValues(_.size).toMap
    val n1f3 = c3.keys.groupBy(t => (t._1, t._2)).view.mapValues(_.size).toMap
    val c2p = c3.keys.groupBy(t => (t._2, t._3)).view.mapValues(_.size).toMap
    val t2 = c2p.keys.groupBy(_._1).view
      .mapValues(ks => ks.toSeq.map(c2p(_)).sum).toMap
    val n1f2 = c2p.keys.groupBy(_._1).view.mapValues(_.size).toMap
    val c1p = c2p.keys.groupBy(_._2).view.mapValues(_.size).toMap
    val b1 = c2p.size.toDouble
    val vocabW = c3.keys.map(_._3).toSet
    def p2(u2: String, w: String): Double =
      math.max(c2p.getOrElse((u2, w), 0) - 0.75, 0.0) / t2(u2) +
        (0.75 * n1f2(u2) / t2(u2)) * (c1p.getOrElse(w, 0) / b1)
    def p3(u1: String, u2: String, w: String): Double =
      math.max(c3.getOrElse((u1, u2, w), 0) - 0.75, 0.0) / c12((u1, u2)) +
        (0.75 * n1f3((u1, u2)) / c12((u1, u2))) * p2(u2, w)
    for (u2 <- t2.keys) { // the mid level is itself a distribution
      val total = vocabW.toSeq.map(w => p2(u2, w)).sum
      assert(math.abs(total - 1.0) < 1e-12, s"p2 context $u2 sums to $total")
    }
    for ((u1, u2) <- c12.keys) {
      val total = vocabW.toSeq.map(w => p3(u1, u2, w)).sum
      assert(math.abs(total - 1.0) < 1e-12, s"p3 context ($u1,$u2) sums to $total")
    }
    // the operator's model head agrees with the hand calc everywhere
    val rows = NgramLm.modelTopFrom(
      NgramLm.model(NgramLm.stream(corpus, Trigram), Trigram), 100, Trigram)
      .collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case ((u1, u2, w), nano) =>
      assert(nano === math.floor(p3(u1, u2, w) * 1e9).toLong,
        s"($u1,$u2,$w): got $nano")
    }
  }

  test("trigram scoring frames with double BOS and scores every doc") {
    val scored = NgramLm.scoreFrom(
        NgramLm.stream(corpus, Trigram),
        NgramLm.model(NgramLm.stream(corpus, Trigram), Trigram), Trigram)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect()
    assert(scored.map(_._1).toSeq === (1L to 5L))
    // n_trigrams = n_tokens + 1 (double-BOS + EOS framing)
    assert(scored.map(_._2).toSeq === Seq(3L, 3L, 3L, 3L, 4L))
    // identical docs score identically; word order still matters
    assert(scored.take(3).map(_._3).distinct.length === 1)
    assert(scored(3)._3 !== scored(0)._3)
    // an empty doc scores the single (<s>,<s>,</s>) event
    val e = NgramLm.scoreFrom(
        NgramLm.stream(Seq((1L, "x y"), (2L, "x y"), (3L, ""))
          .toDF("doc_id", "text"), Trigram),
        NgramLm.model(NgramLm.stream(Seq((1L, "x y"), (2L, "x y"),
          (3L, "")).toDF("doc_id", "text"), Trigram), Trigram), Trigram)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect()
    assert(e(2)._2 === 1L && e(2)._3 > 0L)
  }
}
