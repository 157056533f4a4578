package graft

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Bloom-prefiltered cross-batch dedup: exactness must be independent of
  * the bloom filter's false-positive rate. */
class IncrementalDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def fp(t: String): String =
    Seq(t).toDF("text").select(TextFunctions.fingerprint($"text")).as[String].head()

  test("emits only first-per-fingerprint rows not already in the store") {
    val store = Seq("seen one", "seen two").toDF("text")
      .select(TextFunctions.fingerprint($"text").as("fp"))
    val batch = Seq(
      (10L, "seen one"),       // dup of store -> dropped
      (11L, "fresh alpha"),    // new
      (12L, "fresh alpha"),    // in-batch dup -> min id wins
      (13L, "fresh beta")).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, store)
      .select($"doc_id", $"fp").orderBy($"doc_id")
      .as[(Long, String)].collect()
    assert(out.map(_._1).toSeq === Seq(11L, 13L))
    assert(out(0)._2 === fp("fresh alpha"))
  }

  test("null text forms its own dedup class instead of crashing the bloom screen") {
    val store = Seq("seen").toDF("text")
      .select(TextFunctions.fingerprint($"text").as("fp"))
    val batch = Seq((1L, null), (2L, "fresh"), (3L, null))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, store)
      .select($"doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 2L)) // null class keeps min id, like exact()
  }

  test("a saturated (all-positive) bloom filter still yields exact output") {
    // expectedItems=1 with a larger store saturates the filter: every row
    // screens positive and must be rescued by the exact anti-join
    val store = (1 to 200).map(i => s"stored text $i").toDF("text")
      .select(TextFunctions.fingerprint($"text").as("fp"))
    val batch = Seq((1L, "stored text 7"), (2L, "brand new")).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, store, bloom = Dedup.Bloom(1L))
      .select($"doc_id").as[Long].collect()
    assert(out.toSeq === Seq(2L))
  }

  test("paragraph dedup keeps corpus-wide first occurrences and reassembles in order") {
    // 2-word paragraphs: doc 0 = [a b][c d], doc 1 = [a b][x y],
    // doc 2 = [c d][a b] (both seen), doc 3 = [c d] alone (seen),
    // doc 4 = ragged tail [z z][q] (q = 1-word tail paragraph)
    val docs = Seq(
      (0L, "a b c d"),
      (1L, "a b x y"),
      (2L, "c d a b"),
      (3L, "c d"),
      (4L, "z z q")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, wordsPerPara = 2)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (0L, 2L, 2L, "a b c d"), // first occurrence of both paragraphs
      (1L, 2L, 1L, "x y"),     // "a b" already seen in doc 0
      (2L, 2L, 0L, ""),        // both paragraphs seen earlier
      (3L, 1L, 0L, ""),        // "c d" seen in doc 0
      (4L, 2L, 2L, "z z q"))) // ragged tail is its own paragraph
  }

  test("paragraph dedup dedups repeats WITHIN one doc too") {
    val docs = Seq((7L, "a b a b a b")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, wordsPerPara = 2)
      .as[(Long, Long, Long, String)].head()
    assert(out === ((7L, 3L, 1L, "a b")))
  }

  test("boilerplate profile counts distinct paragraphs recurring in >= minDocs docs") {
    // "x y" appears in docs 0,1,2 (boiler at minDocs=3); "a b" in 0,1 only
    val docs = Seq(
      (0L, "x y a b"),
      (1L, "x y a b"),
      (2L, "x y c d"),
      (3L, "e f")).toDF("doc_id", "text")
    val out = Dedup.boilerplateProfile(docs, wordsPerPara = 2, minDocs = 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      (0L, 2L, 1L, 0.5), (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 1L, 0L, 0.0)))
  }

  test("substring profile catches a span straddling line boundaries; merges overlapping windows") {
    // a 32-char block with embedded newlines repeats across docs 0 and 1
    // INSIDE different surrounding text — line/paragraph-grain hashing sees
    // only non-repeating lines, but the character windows covering the
    // block repeat cross-doc. The two occurrences sit at offsets 15 and 20
    // (equal mod stride=5 — the operator's documented alignment condition
    // for strided detection). doc 2 shares nothing.
    val block = "Q" * 10 + "\n" + "R" * 10 + "\n" + "S" * 10
    val docs = Seq(
      (0L, "x" * 15 + block + " tail alpha padding here"),
      (1L, "y" * 20 + block + " different ending words"),
      (2L, "completely unrelated content with no repeats at all......")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupProfile(docs, window = 20, stride = 5)
      .orderBy($"doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    // both carriers report EXACTLY ONE merged span (overlapping windows
    // collapse), doc 2 reports nothing
    assert(out.map(_._1) === Seq(0L, 1L), s"unexpected rows: $out")
    assert(out.forall(_._2 == 1L), s"overlapping windows must merge to one span: $out")
    // the merged span covers the block up to stride slack at each edge
    assert(out.forall(r => r._3 >= block.length - 2 * 5 && r._3 <= block.length + 2 * 20),
      s"$out")
  }

  test("two-phase grid catches a cross-doc block the single-phase grid provably misses") {
    // round-15 verdict #5: occurrences at offsets 10 and 15 with
    // stride 10 — misaligned by stride/2, so the SINGLE-phase grid
    // (offsets 0, 10, 20, …) samples DIFFERENT window texts from the two
    // occurrences and can never mark the block as duplicated.
    // NON-repetitive block (all chars distinct): in-block windows at
    // different relative positions differ, so a cross-doc match needs the
    // SAME relative position sampled in both docs — the alignment
    // condition. (A repetitive block like "D"*30 would match at any
    // alignment and prove nothing.)
    val block = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"
    val d0 = "x" * 10 + block + "abcdefghijklmnop"
    val d1 = "z" * 15 + block + "9876543210klmnop"
    val (w, st) = (20, 10)
    // PROOF the old grid misses it: single-phase windows of the two docs
    // share NO window text at all (computed directly on the strings)
    def phase0Wins(t: String) =
      (0 to (t.length - w) by st).map(o => t.substring(o, o + w)).toSet
    assert(phase0Wins(d0).intersect(phase0Wins(d1)).isEmpty,
      "planted case must be invisible to the single-phase stride-10 grid")
    // the two-phase operator detects one merged span in EACH doc
    val out = Dedup.substringDupProfile(
        Seq((0L, d0), (1L, d1)).toDF("doc_id", "text"), window = w, stride = st)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) === Seq(0L, 1L), s"both carriers must report: $out")
    assert(out.forall(_._2 == 1L), s"one merged span each: $out")
    // detected chars cover most of the block (edge slack ≤ one phase step
    // + window tail on each side)
    assert(out.forall(_._3 >= block.length - st), s"$out")
  }

  test("substring dedup APPLY splices exactly the profiled spans out of the text") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // aligned carriers: block at offset 10 in BOTH docs (mod-stride equal),
    // so the windows covering the block repeat cross-doc exactly
    val block = "B" * 20
    val d0 = "x" * 10 + block + "abcdefghij"
    val d1 = "z" * 10 + block + "0123456789"
    val d2 = "nothing shared here at all, pure unique."
    val docs = Seq((0L, d0), (1L, d1), (2L, d2)).toDF("doc_id", "text")
    val spans = Dedup.substringDupProfile(docs, window = 10, stride = 5)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val out = Dedup.substringDedupApply(docs, window = 10, stride = 5)
      .orderBy($"doc_id")
      .as[(Long, String, Long, Long)].collect()
    out.foreach { case (id, fp, orig, clean) =>
      val t = Seq(d0, d1, d2)(id.toInt)
      assert(orig === t.length.toLong, s"doc $id")
      // chars removed == chars the profile reported as duplicated
      assert(orig - clean === spans.getOrElse(id, 0L), s"doc $id")
    }
    // doc 2 untouched: fingerprint is the original text's
    assert(out(2)._2 === md5hex(d2))
    // exact splice: only windows FULLY inside the block repeat cross-doc
    // (offsets 10/15/20), so the merged span is [10, 30) in both carriers
    assert(out(0)._2 === md5hex(d0.substring(0, 10) + d0.substring(30)))
    assert(out(1)._2 === md5hex(d1.substring(0, 10) + d1.substring(30)))
  }
}
