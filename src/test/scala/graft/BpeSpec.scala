package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** Corpus-trained BPE: merge order, tie-breaking, encoding, counts. */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  // the classic Sennrich example vocab: low×5, lower×2, newest×3, widest×1
  private def docs = Seq(
    (0L, "low low low low low"),
    (1L, "lower lower"),
    (2L, "newest newest newest"),
    (3L, "widest")).toDF("doc_id", "text")

  test("bpeMerges learns the hand-computed merge sequence with deterministic ties") {
    // round 1: (l,o) and (o,w) tie at 7 → lexicographic lhs wins: (l,o)
    // round 2: (lo,w) 7
    // round 3: (e,s) and (s,t) tie at 4 → (e,s)
    // round 4: (es,t) 4
    val m = Bpe.bpeMerges(docs, 4).orderBy($"rank")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(m === Seq(
      (1L, "l", "o", 7L),
      (2L, "lo", "w", 7L),
      (3L, "e", "s", 4L),
      (4L, "es", "t", 4L)), s"got $m")
  }

  test("maxVocab truncation is the distributed (cnt desc, code-point) top-k (r18)") {
    // corpus vocab = 4 words; maxVocab = 2 keeps low(5) and newest(3) —
    // the truncation now executes as a distributed orderBy+limit
    // (TakeOrderedAndProject) BEFORE the driver collect, so the selected
    // set is the contract under test
    val v = Bpe.bpeVocab(docs, 2, maxVocab = 2)
      .select($"word").as[String].collect().toSet
    assert(v === Set("low", "newest"), s"got $v")
    // tie at the boundary selects by code-point order: aa and bb tie at 2,
    // maxVocab=2 keeps the cnt-3 word plus 'aa' (cp-first of the tie)
    val tie = Seq((0L, "cc cc cc aa aa bb bb")).toDF("doc_id", "text")
    val tv = Bpe.bpeVocab(tie, 1, maxVocab = 2)
      .select($"word").as[String].collect().toSet
    assert(tv === Set("cc", "aa"), s"got $tv")
  }

  test("bpeVocab encodes each word by the learned merges") {
    val v = Bpe.bpeVocab(docs, 4).orderBy($"word")
      .select($"word", $"n_sub", $"subwords")
      .as[(String, Long, String)].collect().toSeq
    assert(v === Seq(
      ("low", 1L, "low"),
      ("lower", 3L, "low e r"),
      ("newest", 4L, "n e w est"),
      ("widest", 4L, "w i d est")), s"got $v")
  }

  test("bpeTokenCounts weights the vocab encoding by word occurrences") {
    val c = Bpe.bpeTokenCounts(docs, 4).orderBy($"doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(c === Seq(
      (0L, 5L, 5L),   // 5 × [low]
      (1L, 2L, 6L),   // 2 × [low, e, r]
      (2L, 3L, 12L),  // 3 × [n, e, w, est]
      (3L, 1L, 4L)),  // 1 × [w, i, d, est]
      s"got $c")
  }

  test("merge application is left-to-right non-overlapping (the 'aaa' case)") {
    // "aaaa"×3 and "aaa"×2: round 1 merges (a,a) — applied left-to-right
    // aaaa → [aa, aa], aaa → [aa, a] (NOT the overlapping middle pair)
    val d = Seq((0L, "aaaa aaaa aaaa"), (1L, "aaa aaa")).toDF("doc_id", "text")
    val v = Bpe.bpeVocab(d, 1).orderBy($"word")
      .select($"word", $"subwords").as[(String, String)].collect().toSeq
    assert(v === Seq(("aaa", "aa a"), ("aaaa", "aa aa")), s"got $v")
  }

  test("bpeChunks windows the subword stream with the chunkByTokens math") {
    // doc 2 = "newest newest newest" → subwords [n,e,w,est]×3 = 12 tokens;
    // chunkSize 8 / stride 4 → k = floor(max(0, 12-8+3)/4) = 1 → chunks at
    // start 0 and 4, both full 8-token windows
    val out = Bpe.bpeChunks(docs, 4, chunkSize = 8, stride = 4)
      .where($"doc_id" === 2L).orderBy($"chunk_id")
      .select($"chunk_id", $"start_tok", $"n_tok_chunk", $"chunk_fp")
      .as[(Long, Long, Long, String)].collect().toSeq
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = Seq.fill(3)(Seq("n", "e", "w", "est")).flatten
    assert(out === Seq(
      (0L, 0L, 8L, md5hex(toks.slice(0, 8).mkString(" "))),
      (1L, 4L, 8L, md5hex(toks.slice(4, 12).mkString(" ")))), s"got $out")
  }

  test("a word missing from a frozen vocab fails loudly, never drops silently") {
    // vocab trained on docs; score a corpus with an unseen word — both
    // the accounting and the chunking forms must refuse (the KnIngest
    // missing-symbol contract), not under-count
    val vocab = Bpe.bpeVocab(docs, 4)
    val alien = Seq((9L, "newest zzzz")).toDF("doc_id", "text")
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val e1 = intercept[Exception] {
      Bpe.tokenCountsFromVocab(alien, vocab).collect()
    }
    assert(chain(e1).exists(_.contains("missing from the trained vocab")))
    val e2 = intercept[Exception] {
      Bpe.chunksFromVocab(alien, vocab).collect()
    }
    assert(chain(e2).exists(_.contains("missing from the trained vocab")))
  }

  test("char-fallback OOV policy counts an unseen word as its characters") {
    // the round-17 standard-policy twin of the loud-refusal test above:
    // the same alien corpus scores with OOV words at char grain while
    // in-vocab words keep their trained subword counts
    val vocab = Bpe.bpeVocab(docs, 4)
    val alien = Seq((9L, "newest zzzzz lower")).toDF("doc_id", "text")
    val out = Bpe.tokenCountsFromVocab(alien, vocab, oov = Bpe.Oov.CharFallback)
      .as[(Long, Long, Long)].collect().toSeq
    // newest → [n,e,w,est] = 4; zzzzz OOV → 5 chars; lower → [low,e,r] = 3
    assert(out === Seq((9L, 3L, 12L)), s"got $out")
  }

  test("sequence-grain BPE learns cross-word phrase merges on the sample") {
    // "x y" dominates: (x, y) merges FIRST and the merged symbol keeps
    // the space — the SentencePiece split_by_whitespace=false shape
    val d = Seq(
      (0L, "x y x y x y"),
      (1L, "x y q"),
      (2L, "q q x")).toDF("doc_id", "text")
    val m = Bpe.bpeSeqMerges(d, 2, sampleDocs = 500L).orderBy($"rank")
      .as[(Long, String, String, Long)].collect().toSeq
    // round 1: (x,y)=4 beats (y,x)=2,(y,q)=1,(q,q)=1,(q,x)=1 → "x y"
    // round 2: doc 0 is now ["x y","x y","x y"] → ("x y","x y")=2 wins
    //   (the merged PHRASE keeps merging — the tokenizer-grade property)
    assert(m.head === (1L, "x", "y", 4L), s"got $m")
    assert(m(1) === (2L, "x y", "x y", 2L), s"got $m")
  }

  test("sequence-grain training reads ONLY the doc_id < sampleDocs slice") {
    val d = Seq(
      (0L, "a b"),
      (1L, "a b"),
      (7L, "z z z z z z z z")).toDF("doc_id", "text")
    val m = Bpe.bpeSeqMerges(d, 1, sampleDocs = 5L)
      .as[(Long, String, String, Long)].collect().toSeq
    // with doc 7 excluded, (a,b)=2 wins; unsampled (z,z) never counted
    assert(m === Seq((1L, "a", "b", 2L)), s"got $m")
  }

  test("seqEncode replays the merge table over in- AND out-of-sample docs") {
    val d = Seq(
      (0L, "x y x y x y"),
      (1L, "x y q")).toDF("doc_id", "text")
    val merges = Bpe.bpeSeqMergesLocal(d, 1, sampleDocs = 500L)
    val fresh = Seq(
      (0L, "x y x y x y"),   // in-sample: reproduces the training state
      (9L, "q x y x")).toDF("doc_id", "text") // out-of-sample: frozen model
    val enc = Bpe.seqEncode(fresh, merges)
      .select($"doc_id", concat_ws("|", $"syms").as("s"))
      .orderBy($"doc_id").as[(Long, String)].collect().toSeq
    assert(enc === Seq((0L, "x y|x y|x y"), (9L, "q|x y|x")), s"got $enc")
  }

  test("seqTokenCounts and seqChunks ride the replay encode") {
    val d = Seq((0L, "x y x y"), (1L, "x y z"), (2L, "   ")).toDF("doc_id", "text")
    val merges = Bpe.bpeSeqMergesLocal(d, 1, sampleDocs = 500L)
    val counts = Bpe.seqTokenCounts(d, merges).orderBy($"doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    // doc 0: 4 words → [x y][x y] = 2 subwords; doc 1: 3 words → [x y][z];
    // doc 2: zero tokens → dropped (the q182 contract)
    assert(counts === Seq((0L, 4L, 2L), (1L, 3L, 2L)), s"got $counts")
    val chunks = Bpe.seqChunks(d, merges, chunkSize = 2, stride = 1)
      .where($"doc_id" === 0L)
      .select($"chunk_id", $"start_tok", $"n_tok_chunk")
      .as[(Long, Long, Long)].collect().toSeq
    // 2 subwords, chunkSize 2 → one full window
    assert(chunks === Seq((0L, 0L, 2L)), s"got $chunks")
  }

  test("trainedTable carries both artifacts of ONE training run") {
    val t = Bpe.trainedTable(docs, 4)
    val m = t.where($"kind" === "m")
      .select($"rank", $"lhs", $"rhs", $"pair_count")
      .orderBy($"rank")
      .as[(Long, String, String, Long)].collect().toSeq
    val want = Bpe.bpeMerges(docs, 4).orderBy($"rank")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(m === want)
    val v = t.where($"kind" === "v")
      .select($"word", $"cnt", $"n_sub", $"subwords")
      .orderBy($"word")
      .as[(String, Long, Long, String)].collect().toSeq
    val wantV = Bpe.bpeVocab(docs, 4).orderBy($"word")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(v === wantV)
  }
}
