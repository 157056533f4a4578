package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.TextProfile
import graft.streaming.{StatefulOps, StreamHarness, Windows}

/** Per-doc profiling (PII / repetition / TF-IDF) + session windows. */
class TextProfileSpec extends SparkTestBase {
  import spark.implicits._

  test("piiProfile redacts emails then IPs and counts each class") {
    val docs = Seq(
      (1L, "mail a@b.co and c.d@e.org plus ip 10.0.0.1 end"),
      (2L, "no pii here at all"),
      (3L, "1.2.3.4 5.6.7.8 and x@y.io")).toDF("doc_id", "text")
    val out = TextProfile.piiProfile(docs).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out.map(r => (r._1, r._2, r._3)) ===
      Array((1L, 2L, 1L), (2L, 0L, 0L), (3L, 1L, 2L)))
    // fingerprint is of the fully-redacted text
    val fp1 = docs.where($"doc_id" === 1)
      .select(md5(lit("mail <EMAIL> and <EMAIL> plus ip <IP> end")))
      .as[String].head()
    assert(out(0)._4 === fp1)
  }

  test("repetitionProfile scores duplicated 3-grams and the top 2-gram share") {
    val docs = Seq(
      (1L, "a b c a b c"),      // 3-grams: abc bca cab abc -> 1 dup of 4
      (2L, "w x y z")).toDF("doc_id", "text") // all 3-grams distinct
    val out = TextProfile.repetitionProfile(docs).orderBy("doc_id")
      .as[(Long, Double, Double)].collect()
    assert(out(0)._2 === 0.25) // 1 - 3/4
    // 2-grams of doc 1: ab bc ca ab bc -> top share 2/5
    assert(out(0)._3 === 0.4)
    assert(out(1)._2 === 0.0)
    assert(out(1)._3 === 0.333333) // 3 distinct 2-grams, each 1/3 (round 6)
  }

  test("gopherFilter fires the right rules and reports auditable reasons") {
    // d1 passes every rule: 30 words, mean len 117/30 = 3.9, two distinct
    // stopwords, no repeated 3-grams
    val good = ((1 to 28).map(i => f"w$i%03d") ++ Seq("the", "of")).mkString(" ")
    // d2: 5 words (< 30) of mean length 2.2 (< 3): words + word_len fire,
    // and with only 4 distinct 2-grams the top share 1/4 > 0.10 fires too
    val short = "the of a to and"
    // d3: alternating 2-token spam: word_len, stopwords, and both
    // repetition caps fire
    val spam = Seq.fill(20)("x y").mkString(" ")
    val docs = Seq((1L, good), (2L, short), (3L, spam)).toDF("doc_id", "text")
    val out = TextProfile.gopherFilter(docs).orderBy("doc_id")
      .select($"doc_id", $"keep", $"reasons")
      .as[(Long, Boolean, String)].collect()
    assert(out(0) === ((1L, true, "-")))
    assert(out(1) === ((2L, false, "words,word_len,top_2gram")))
    assert(out(2) === ((3L, false, "word_len,stopwords,dup_3gram,top_2gram")))
  }

  test("importanceWeight scores target-like docs positive, background-like negative") {
    // target slice = {d1}: "aa aa"; background adds d2: "bb bb".
    // vocab: aa (cb=2, ct=2), bb (cb=2, ct=0); nb=4, nt=2, V=2.
    // aa: ln(((2+1)/(2+2)) / ((2+1)/(4+2))) = ln 1.5 → 405465 µnats;
    // bb: ln 0.5 → −693147 µnats (µ-unit mean, div truncating toward 0 —
    // signed-safe in both engines).
    val docs = Seq((1L, "aa aa", true), (2L, "bb bb", false))
      .toDF("doc_id", "text", "is_t")
    val out = TextProfile.importanceWeight(docs, $"is_t")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(out(0) === ((1L, 2L, 405465L)))
    assert(out(1) === ((2L, 2L, -693147L)))
  }

  test("tfIdfTopK ranks by score desc then term, k bounded") {
    // "rare" appears in 1 doc, "common" in all 3: rare outranks common
    val docs = Seq(
      (1L, "common rare rare"),
      (2L, "common filler filler"),
      (3L, "common other")).toDF("doc_id", "text")
    val out = TextProfile.tfIdfTopK(docs, 2).orderBy("doc_id", "rank")
      .as[(Long, String, Double, Long)].collect()
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq === Seq("rare", "common"))
    assert(d1.forall(_._4 <= 2))
    // per-doc rank is dense 1..k
    assert(out.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._4).sorted.toSeq === (1L to rs.length).toSeq })
  }

  private def ev(id: Long, sec: Long, user: Long): StatefulOps.Event =
    StatefulOps.Event(id, new Timestamp(sec * 1000L), user, "view", 0.0, "{}")

  test("sessionAgg batch: touching windows merge, strict-gap breaks") {
    val events = Seq(
      ev(1, 0, 7), ev(2, 50, 7),          // one session (gap 50 < 60)
      ev(3, 110, 7),                      // gap EXACTLY 60 -> still merges
      ev(4, 171, 7),                      // gap 61 > 60 -> new session
      ev(5, 500, 9)).toDF()
    val out = Windows.agg(events, "ts", Windows.Session("60 seconds"), "0 seconds",
        Seq(col("user_id")), Seq(count(lit(1)).as("n")))
      .select($"user_id", $"stt", $"edt", $"n").orderBy($"user_id", $"stt")
      .as[(Long, String, String, Long)].collect()
    assert(out.length === 3)
    assert(out(0) === ((7L, "1970-01-01 00:00:00", "1970-01-01 00:02:50", 3L)))
    assert(out(1) === ((7L, "1970-01-01 00:02:51", "1970-01-01 00:03:51", 1L)))
    assert(out(2)._1 === 9L)
  }

  test("sessionAgg streaming merges a session split across micro-batches") {
    val b1 = Seq(ev(1, 10, 5), ev(2, 30, 5))
    val b2 = Seq(ev(3, 45, 5), ev(4, 2000, 5)) // 45 continues the session
    val flush = Seq(ev(99, 9000, -1))
    val out = StreamHarness.run(spark, Seq(b1, b2, flush)) { ds =>
      Windows.agg(ds.toDF(), "ts", Windows.Session("60 seconds"), "0 seconds",
        Seq(col("user_id")), Seq(count(lit(1)).as("n")))
    }.where($"user_id" === 5L)
      .select($"stt", $"n").orderBy($"stt")
      .as[(String, Long)].collect()
    // events 1,2,3 merged into ONE session despite the batch split
    assert(out.map(_._2).toSeq === Seq(3L, 1L))
  }

  test("unigram surprisal scores by corpus frequency with decimal-exact per-doc sums") {
    // vocab: a×3, b×3, c×1 over N=7 tokens
    //   s(a) = s(b) = round(-ln(3/7), 6) = 0.847298 → 847298 µnats
    //   s(c) = round(-ln(1/7), 6) = 1.945910 → 1945910 µnats
    val docs = Seq((0L, "a a b"), (1L, "a b b c")).toDF("doc_id", "text")
    val out = graft.operators.TextProfile.unigramSurprisal(docs)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (0L, 3L, 847298L),                         // 3·847298 div 3
      (1L, 4L, 1121951L)))                       // (3·847298 + 1945910) div 4
  }
}
