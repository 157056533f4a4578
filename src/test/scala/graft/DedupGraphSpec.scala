package graft

import org.apache.spark.sql.functions._
import graft.operators.{Cap, Dedup}

/** Dedup group resolution (connected components) + contamination audit. */
class DedupGraphSpec extends SparkTestBase {
  import spark.implicits._

  test("connectedComponents: chain, separate component, min-id labels") {
    // 1-2-3-4 is a path (worst diameter), 10-11 separate, 20 isolated pair-less
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.connectedComponentsStar(pairs).orderBy("id")
      .as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L)))
  }

  test("connectedComponents merges components that touch through one node") {
    val pairs = Seq((5L, 9L), (1L, 9L), (2L, 7L), (7L, 5L)).toDF("a", "b")
    val out = Dedup.connectedComponentsStar(pairs)
      .select($"comp").distinct().as[Long].collect()
    assert(out.toSeq === Seq(1L)) // all one group, labeled by the min id
  }

  test("connectedComponentsStar labels each node with its component's min id on an arbitrary graph") {
    // mixed shapes: a chain, a triangle joined to it, a separate pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 9L), (9L, 5L), (5L, 4L),
      (20L, 21L)).toDF("a", "b")
    // min-label propagation's fixpoint: every node labeled by the min id
    // of its component — on both the driver-local and distributed paths
    val expected = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (9L, 1L),
      (20L, 20L), (21L, 20L))
    for (localMax <- Seq(1L << 21, 0L)) {
      val star = Dedup.connectedComponentsStar(pairs, localMaxEdges = localMax)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(star === expected, s"localMaxEdges=$localMax")
    }
  }

  test("connectedComponentsStar needs O(log n) rounds on a high-diameter chain") {
    // a 120-hop chain: min-label propagation would need ~120 rounds, the
    // star algorithm converges well within 16 — the reason it is the
    // 100 TB path for chain-shaped groups. localMaxEdges = 0 forces the
    // DISTRIBUTED loop (the r18 bounded-set fast path would otherwise
    // solve this on the driver and stop pinning the star rounds); one
    // round cannot reach the fixpoint, so the maxIters guard must throw.
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.connectedComponentsStar(chain, maxIters = 1, localMaxEdges = 0)
    }
    val out = Dedup.connectedComponentsStar(chain, maxIters = 16, localMaxEdges = 0)
      .as[(Long, Long)].collect()
    assert(out.length === 121 && out.forall(_._2 == 0L))
  }

  test("cc-star driver-local fast path ≡ distributed star rounds (r18)") {
    // same graph through both paths — long ids and string ids (string min
    // must follow UTF8/code-point order, what Spark's `least` uses)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 9L), (9L, 5L), (5L, 4L),
      (20L, 21L), (7L, 7L)).toDF("a", "b")
    val local = Dedup.connectedComponentsStar(pairs).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    val dist = Dedup.connectedComponentsStar(pairs, localMaxEdges = 0)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(local === dist)
    val spairs = Seq(("b", "aa"), ("aa", "z"), ("x", "y")).toDF("a", "b")
    val slocal = Dedup.connectedComponentsStar(spairs).orderBy("id")
      .as[(String, String)].collect().toSeq
    val sdist = Dedup.connectedComponentsStar(spairs, localMaxEdges = 0)
      .orderBy("id").as[(String, String)].collect().toSeq
    assert(slocal === sdist)
    assert(slocal.filter(_._1 == "z") === Seq(("z", "aa")))
  }

  test("lshCandidates with an inactive Cap.Fixed equals the uncapped form") {
    // 3 near-identical docs + 2 distinct: no bucket can exceed 5 docs, so
    // a cap of 5 must be a no-op — the capped path's screen is pure
    // plumbing until a bucket actually overflows
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "completely different words in this document here"),
      (5L, "unrelated content again nothing shared at all")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs)
    val plain = Dedup.lshCandidates(sigs).as[(Long, Long)].collect().toSet
    val capped = Dedup.lshCandidates(sigs, cap = Cap.Fixed(5))
      .as[(Long, Long)].collect().toSet
    assert(plain.nonEmpty && capped === plain)
  }

  test("lshCandidates with Cap.Fixed bounds a planted degenerate band (all-empty docs)") {
    // 30 empty docs share EVERY band key (identical signatures): uncapped
    // that is 30·29/2 = 435 pure-noise pairs through one bucket per band;
    // capped at 5 the degenerate buckets drop, while a genuine near-dup
    // pair — whose buckets hold only 2 docs — must survive
    val empty = (100L until 130L).map(i => (i, ""))
    val docs = (empty ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today")))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs)
    val uncapped = Dedup.lshCandidates(sigs).count()
    val capped = Dedup.lshCandidates(sigs, cap = Cap.Fixed(5))
      .as[(Long, Long)].collect().toSet
    assert(uncapped >= 435L, s"degenerate band should explode uncapped: $uncapped")
    assert(capped.contains((1L, 2L)), "the real near-dup pair must survive the cap")
    assert(!capped.exists(p => p._1 >= 100L && p._2 >= 100L),
      s"empty-doc noise pairs must be capped away: $capped")
  }

  test("lshCandidates with Cap.Derived kills the degenerate band and keeps real pairs") {
    // same planted scenario as the constant-cap test: 30 empty docs share
    // every band key (pop-30 buckets), the fox pair meets in pop-2
    // buckets, everything else is pop 1 — lower-median pop = 1, so the
    // derived cap is max(2, 2·1) = 2: the degenerate buckets drop, the
    // genuine pair survives, with NO constant tuned by hand — and it is
    // the ONLY pair left: every other bucket holds one doc
    val empty = (100L until 130L).map(i => (i, ""))
    val docs = (empty ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today")))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs)
    val auto = Dedup.lshCandidates(sigs, cap = Cap.Derived(2, 2))
      .as[(Long, Long)].collect().toSet
    assert(auto.contains((1L, 2L)), "the real near-dup pair must survive the derived cap")
    assert(!auto.exists(p => p._1 >= 100L && p._2 >= 100L),
      s"empty-doc noise pairs must be auto-capped away: $auto")
    assert(auto === Set((1L, 2L)))
  }

  test("ngramJaccardPairs with Cap.Derived equals the hand-computed exact Jaccard at the derived cap") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta unrelated tail words here"),
      (4L, "totally different content with no shared shingles at all"),
      (5L, "another unique document nothing in common whatsoever")
    ).toDF("doc_id", "text")
    import graft.functions.TextFunctions
    // the expectation, derived independently on the driver: shingle df,
    // cap = max(2, 2 · lower-median df), candidates = pairs sharing a
    // shingle at or under the cap, scored by EXACT Jaccard over the full
    // shingle sets (Spark's round-6 is HALF_UP on the double)
    val sets = docs.select($"doc_id", array_distinct(TextFunctions.shingles($"text", 3)))
      .as[(Long, Seq[String])].collect().toMap
    val dfs = sets.values.toSeq.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val pops = dfs.values.toSeq.sorted
    val cap = math.max(2L, 2L * pops((pops.size + 1) / 2 - 1))
    assert(dfs.values.exists(_ > cap), s"the derived cap $cap must stop-list a shingle")
    val expected = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a < b && sa.exists(x => sb.contains(x) && dfs(x) <= cap)
      common = sa.intersect(sb).size
      j = BigDecimal(common.toDouble / (sa.size + sb.size - common))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.5
    } yield (a, b, j)).toSet
    val auto = Dedup.ngramJaccardPairs(docs, cap = Cap.Derived(2, 2))
      .as[(Long, Long, Double)].collect().toSet
    assert(auto === expected, s"derived cap $cap")
    assert(auto.exists(p => p._1 == 1L && p._2 == 2L),
      s"the near-identical pair must be found: $auto")
  }

  test("capRecallAudit measures lost edges and component splits exactly") {
    // full graph: 1-2-3-4 one chain component; capped kept only (1,2) —
    // docs 1,2 keep label 1 (agree), 3 and 4 become capped singletons
    // labeled by themselves (disagree with full label 1)
    val full = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val capped = Seq((1L, 2L)).toDF("a", "b")
    val row = Dedup.capRecallAudit(full, capped)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(row === ((3L, 1L, 2L, 0L, 4L, 2L, 1L, 3L)),
      s"(n_pairs_full, n_pairs_capped, lost, extra, n_docs, n_agree, " +
        s"n_comps_full, n_comps_capped) was $row")
  }

  test("capRecallAudit reports full agreement when the cap loses nothing") {
    val full = Seq((1L, 2L), (5L, 6L)).toDF("a", "b")
    val row = Dedup.capRecallAudit(full, full)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(row === ((2L, 2L, 0L, 0L, 4L, 4L, 2L, 2L)), s"$row")
  }

  test("paragraphDedup(fuzzy) removes a date-swapped variant that exact dedup keeps") {
    // p2 = p1 with the final word (a year) swapped: 7 of 9 word-3-grams
    // survive → jaccard 0.777778 ≥ 0.4, so fuzzy groups them and keeps
    // only doc 1's instance; exact hashing sees two distinct paragraphs
    val p1 = "alpha beta gamma delta epsilon zeta eta theta iota 2023"
    val p2 = "alpha beta gamma delta epsilon zeta eta theta iota 2024"
    val docs = Seq(
      (1L, p1), (2L, p2),
      (3L, "completely different content nothing shared here at all ok fine"))
      .toDF("doc_id", "text")
    val fuzzy = Dedup.paragraphDedup(docs, 10, fuzzy = Some(Dedup.Fuzzy(threshold = 0.4)))
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(fuzzy(0) === ((1L, 1L, 1L, p1)))
    assert(fuzzy(1) === ((2L, 1L, 0L, ""))) // variant collapsed into doc 1's
    assert(fuzzy(2)._3 === 1L)              // unrelated doc untouched
    val exact = Dedup.paragraphDedup(docs, 10)
      .where(col("doc_id") === 2L).select("n_kept").as[Long].head()
    assert(exact === 1L, "exact dedup must NOT catch the variant — that gap is the point")
  }

  test("paragraphDedup(fuzzy) at an unreachable threshold equals the exact form row for row") {
    // exact repeats (doc 2 copies doc 1's first paragraph, docs 3 and 4
    // copy its second) plus the date-swapped variant, whose Jaccard with
    // p1 (0.777778) is the highest of any distinct pair: at 0.9 no pair
    // verifies, so every text must keep its own first instance
    val p1 = "alpha beta gamma delta epsilon zeta eta theta iota 2023"
    val p2 = "alpha beta gamma delta epsilon zeta eta theta iota 2024"
    val p3 = "completely different content nothing shared here at all ok fine"
    val docs = Seq((1L, s"$p1 $p3"), (2L, s"$p1 $p2"), (3L, p3), (4L, p3), (5L, ""))
      .toDF("doc_id", "text")
    val exact = Dedup.paragraphDedup(docs, 10).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    val fuzzy = Dedup.paragraphDedup(docs, 10, fuzzy = Some(Dedup.Fuzzy(threshold = 0.9)))
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(fuzzy === exact)
    assert(exact.map(_._3) === Seq(2L, 1L, 0L, 0L, 1L), s"$exact") // the copies were dropped
  }

  test("simhashNearDups: a pair differing only inside the prefix needs the rotation tables") {
    // doc 2 flips 3 bits inside the top 16-bit prefix of doc 1's
    // signature: hamming 3 ≤ 8, but one prefix table buckets them apart.
    // Docs 3 and 4 share the prefix and differ in 2 low bits.
    val s1 = 0x0ABCDEF012345678L
    val sigs = Seq((1L, s1), (2L, s1 ^ (0x7L << 50)), (3L, 0x0123456789ABCDEL),
      (4L, 0x0123456789ABCDEL ^ 0x3L)).toDF("doc_id", "simhash")
    def pairs(tables: Int) = Dedup.simhashNearDups(sigs, tables = tables)
      .select($"a", $"b", $"hamming".cast("long")).as[(Long, Long, Long)].collect().toSet
    val one = pairs(1)
    val four = pairs(4)
    assert(one === Set((3L, 4L, 2L)))
    assert(four.contains((1L, 2L, 3L)), s"$four")
    assert(one.subsetOf(four))
    assert(four.size === four.toSeq.map(p => (p._1, p._2)).distinct.size) // no table repeats a pair
  }

  test("contaminationProfile counts shared distinct shingles against the benchmark") {
    val bench = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val cand = Seq(
      (50L, "alpha beta gamma delta"),   // fully contained: frac 1.0
      (51L, "zz yy xx ww vv")).toDF("doc_id", "text") // disjoint: frac 0.0
    val out = Dedup.contaminationProfile(cand, bench).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(out(0) === ((50L, 2L, 2L, 1.0))) // 2 distinct 3-grams, both hit
    assert(out(1)._4 === 0.0)
  }

  test("bloom-screened contamination equals the exact profile even when the filter saturates") {
    val bench = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val cand = Seq(
      (50L, "alpha beta gamma delta"),
      (51L, "zz yy xx ww vv"),
      (52L, "alpha beta qq rr ss")).toDF("doc_id", "text")
    val exact = Dedup.contaminationProfile(cand, bench).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // expectedItems=1 saturates the filter: every shingle screens positive
    // and must be rescued by the exact join — output still identical
    val bloomSat = Dedup.contaminationProfile(cand, bench, bloom = Some(Dedup.Bloom(1L)))
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(bloomSat === exact)
    // roomy filter (few positives, most shingles skip the join): identical too
    val bloomBig = Dedup.contaminationProfile(cand, bench, bloom = Some(Dedup.Bloom(10000L)))
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(bloomBig === exact)
  }

  test("bloom-screened split contamination equals the exact screen at both filter extremes") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "totally different words that never overlap anything at all ok")
    ).toDF("doc_id", "text")
    val splits = Seq((1L, "train"), (2L, "heldout"), (3L, "heldout"))
      .toDF("doc_id", "split")
    val exact = graft.operators.Corpus.splitContamination(docs, splits)
      .orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(exact.map(_._1) === Seq(2L, 3L))
    assert(exact(0)._3 > 0 && exact(0)._4, "doc 2 shares 8-grams with train")
    assert(exact(1)._3 === 0L && !exact(1)._4)
    Seq(1L, 10000L).foreach { items =>
      val bloom = graft.operators.Corpus.splitContamination(
          docs, splits, bloom = Some(Dedup.Bloom(items)))
        .orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
      assert(bloom === exact, s"expectedItems=$items")
    }
  }

  test("applyDedupBestKeeper keeps the best-scored member, not the min id") {
    val docs = (1 to 6).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
    // component {1,2,3}: doc 3 has the best (lowest) score; {4,5}: tie → min id
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)).toDF("id", "comp")
    val scores = Seq((1L, 5.0), (2L, 4.0), (3L, 1.0), (4L, 2.0), (5L, 2.0), (6L, 9.0))
      .toDF("doc_id", "surprisal_u")
    val kept = Dedup.applyDedupBestKeeper(docs, comps, scores)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(3L, 4L, 6L)) // best of {1,2,3}; tie-min of {4,5}; untouched 6
  }

  test("applyDedupBestKeeper: partial/absent scores never drop a component") {
    val docs = (1 to 5).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
    // component {1,2}: only 2 scored → 2 wins despite higher id;
    // component {3,4}: NO member scored → min-id 3 survives (the old
    // inner-join contract dropped the whole cluster — data loss)
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("id", "comp")
    val scores = Seq((2L, 4.0), (5L, 9.0)).toDF("doc_id", "surprisal_u")
    val kept = Dedup.applyDedupBestKeeper(docs, comps, scores)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 3L, 5L))
  }
}
