package graft

import graft.operators.Corpus

/** Corpus composition: mixture interleave schedule semantics. */
class CorpusSpec extends SparkTestBase {
  import spark.implicits._

  test("mixtureInterleave densities follow the weights in the merged order") {
    // 30 docs per stratum; weight 3 vs 1 → in any merged prefix ending at
    // an integer position p, stratum a has contributed 3p docs, b has p
    val docs = ((1 to 30).map(i => (i.toLong, "a")) ++
      (31 to 60).map(i => (i.toLong, "b"))).toDF("doc_id", "stratum")
    val out = Corpus.mixtureInterleave(docs, $"stratum", $"doc_id",
        Map("a" -> 3.0), defaultWeight = 1.0)
      .select($"doc_id", $"stratum", $"mix_pos")
      .orderBy($"mix_pos", $"stratum", $"doc_id")
      .as[(Long, String, Double)].collect()
    (1 to 10).foreach { p =>
      val prefix = out.takeWhile(_._3 <= p.toDouble)
      assert(prefix.count(_._2 == "a") === 3 * p, s"prefix to $p")
      assert(prefix.count(_._2 == "b") === p, s"prefix to $p")
    }
    // deterministic: within a stratum, schedule order == id order
    val aIds = out.filter(_._2 == "a").map(_._1).toSeq
    assert(aIds === aIds.sorted)
  }

  test("temperatureSample keeps the smallest stratum whole and hash-thins the rest") {
    // strata: a = 100 docs, b = 4 docs. α = ½ → ppm(a) = round(1e6·√(4/100))
    // = 200000, ppm(b) = 1e6 (kept whole).
    val docs = ((1 to 100).map(i => (i.toLong, "a")) ++
      (101 to 104).map(i => (i.toLong, "b"))).toDF("doc_id", "stratum")
    val out = Corpus.temperatureSample(docs, $"stratum", $"doc_id")
    val kept = out.select($"doc_id", $"stratum").as[(Long, String)].collect().toSet
    assert((101 to 104).forall(i => kept.contains((i.toLong, "b"))))
    // stratum a's membership is exactly the md5-ppm gate at 200000
    val expectA = docs.where($"stratum" === "a")
      .where(graft.operators.Dedup.md5Long($"doc_id".cast("string")) % 1000000L < 200000L)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.filter(_._2 == "a").map(_._1) === expectA)
    // deterministic: a second run yields the identical set
    val again = Corpus.temperatureSample(docs, $"stratum", $"doc_id")
      .select($"doc_id", $"stratum").as[(Long, String)].collect().toSet
    assert(again === kept)
    // flattened: the kept a:b ratio (≈5:1 in expectation) is far below the
    // natural 25:1 — α = ½ compresses share ratios to their square root
    assert(kept.count(_._2 == "a").toDouble / kept.count(_._2 == "b") < 25.0 / 2)
  }

  test("selectByTokenBudget keeps the exact ranked prefix across partition boundaries") {
    // selection order is (score desc, id asc); budget 10 admits ids
    // 5 (4 tok, cum 4), 1 (3 tok, cum 7), 2 (3 tok, cum 10 — exactly at
    // budget, kept) and stops: id 3 (cum 12) and everything below drop
    val docs = Seq(
      (1L, 0.9, 3L), (2L, 0.9, 3L), (3L, 0.5, 2L),
      (4L, 0.1, 5L), (5L, 1.5, 4L), (6L, 0.4, 1L))
      .toDF("doc_id", "score", "n_tok")
    val kept = Corpus.selectByTokenBudget(docs, "doc_id", "score", "n_tok", 10L)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(5L, 1L, 2L))
    // zero budget keeps nothing; a budget past the total keeps everything
    assert(Corpus.selectByTokenBudget(docs, "doc_id", "score", "n_tok", 0L).count() === 0)
    assert(Corpus.selectByTokenBudget(docs, "doc_id", "score", "n_tok", 100L).count() === 6)
  }

  test("capPerGroup keeps exactly the n smallest-hash ids per group, all columns intact") {
    val docs = (1 to 40).map(i => (i.toLong, if (i <= 30) "big" else "small", s"t$i"))
      .toDF("doc_id", "grp", "payload")
    val out = Corpus.capPerGroup(docs, "grp", "doc_id", 5)
    assert(out.columns.toSeq === Seq("doc_id", "grp", "payload"))
    val kept = out.select($"doc_id", $"grp").as[(Long, String)].collect()
    assert(kept.count(_._2 == "big") === 5)
    assert(kept.count(_._2 == "small") === 5)
    // the kept set IS the 5 smallest md5-hashes per group (exact long sort)
    val expected = docs
      .withColumn("_h", graft.operators.Dedup.md5Long($"doc_id".cast("string")))
      .as[(Long, String, String, Long)].collect()
      .groupBy(_._2).values
      .flatMap(_.sortBy(r => (r._4, r._1)).take(5).map(r => (r._1, r._2)))
      .toSet
    assert(kept.toSet === expected)
    // groups at or under the cap pass through whole
    val tiny = Seq((1L, "g"), (2L, "g")).toDF("doc_id", "grp")
    assert(Corpus.capPerGroup(tiny, "grp", "doc_id", 5).count() === 2)
  }

  test("mixtureInterleave refuses non-positive weights") {
    val docs = Seq((1L, "a")).toDF("doc_id", "stratum")
    intercept[IllegalArgumentException] {
      Corpus.mixtureInterleave(docs, $"stratum", $"doc_id", Map("a" -> 0.0))
    }
  }

  test("weightedSample refuses null and non-positive weights at runtime") {
    // A-ES is defined only for w > 0: a negative weight flips ln(u)/w
    // positive so bad rows would rank FIRST — must fail, never sample.
    val neg = Seq((1L, 2.0), (2L, -1.0)).toDF("doc_id", "w")
    val e1 = intercept[Exception] {
      Corpus.weightedSample(neg, "doc_id", $"w", 1).collect()
    }
    assert(e1.getMessage.contains("weight must be > 0"))
    val nul = Seq((1L, Some(2.0)), (2L, None)).toDF("doc_id", "w")
    val e2 = intercept[Exception] {
      Corpus.weightedSample(nul, "doc_id", $"w", 1).collect()
    }
    assert(e2.getMessage.contains("weight must be > 0"))
    // valid weights still sample exactly k
    val ok = Seq((1L, 2.0), (2L, 1.0), (3L, 5.0)).toDF("doc_id", "w")
    assert(Corpus.weightedSample(ok, "doc_id", $"w", 2).count() === 2L)
  }

  test("crossSourceOverlap counts shared fingerprints and Jaccard across sources") {
    // A: {x, y, z}; B: {x, y, w} (x whitespace-variant — fingerprints
    // normalize); C: {v} disjoint. A∩B = {x, y} → J = 2/(3+3-2) = 0.5.
    // The synthetic gate corpus has only WITHIN-source dups, so the
    // off-diagonal path is pinned here.
    val docs = Seq(
      (0L, "A", "x one"), (1L, "A", "y two"), (2L, "A", "z three"),
      (3L, "B", "x  one "), (4L, "B", "y two"), (5L, "B", "w four"),
      (6L, "B", "y two"), // in-source dup: distinct grain must not double-count
      (7L, "C", "v five")).toDF("doc_id", "source", "text")
    val out = Corpus.crossSourceOverlap(docs)
      .orderBy($"src_a", $"src_b")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out === Seq(
      ("A", "A", 3L, 1.0), ("A", "B", 2L, 0.5), ("B", "B", 3L, 1.0),
      ("C", "C", 1L, 1.0)))
  }
}
