package graft

import graft.operators.Corpus

/** Epoch-capped mixture waterfilling + the grouped token-budget cut. */
class MixtureAllocateSpec extends SparkTestBase {
  import spark.implicits._

  test("waterfilling conserves budget, respects caps, redistributes surplus") {
    // a: huge weight but tiny availability → binds at its cap; the
    // surplus re-splits over b/c by weight on later rounds.
    val rows = Seq(("a", 100L, 1000L), ("b", 1000L, 10L), ("c", 1000L, 10L))
    val sol = Corpus.solveWaterfill(rows, budget = 1000L,
      epochCapPpm = 2000000L, rounds = 6)
    val byG = sol.map(s => s.group -> s).toMap
    // caps: floor(a · 2.0)
    assert(sol.map(_.cap_toks) === Seq(200L, 2000L, 2000L))
    // a is bound at 200 (first-round proportional share would be ~980)
    assert(byG("a").alloc_toks === 200L && byG("a").bound)
    // equal-weight b/c split the rest equally; total ≤ budget with only
    // sub-|unbound| integer dust left
    assert(byG("b").alloc_toks === byG("c").alloc_toks)
    val total = sol.map(_.alloc_toks).sum
    assert(total <= 1000L && 1000L - total < 2)
    assert(sol.forall(s => s.alloc_toks <= s.cap_toks))
    // epochs_ppm: a got 200/100 = 2 epochs exactly
    assert(byG("a").epochs_ppm === 2000000L)
  }

  test("unconstrained allocation matches pure proportional split") {
    val rows = Seq(("a", 1000L, 3L), ("b", 1000L, 1L))
    val sol = Corpus.solveWaterfill(rows, 400L, 2000000L, 6)
    val byG = sol.map(s => s.group -> s.alloc_toks).toMap
    assert(byG("a") === 300L && byG("b") === 100L)
    assert(sol.forall(!_.bound))
  }

  test("all-bound leaves the residual budget unspent (no infinite give)") {
    val rows = Seq(("a", 10L, 1L), ("b", 10L, 1L))
    val sol = Corpus.solveWaterfill(rows, 1000L, 1000000L, 6)
    assert(sol.forall(s => s.alloc_toks === 10L && s.bound))
  }

  test("selectByBudgetPerGroup cuts each group's prefix across partitions") {
    // 100 rows per group, token=1 each, ids interleaved so every
    // partition sees both groups; budgets 37 and 100 (whole group).
    val rows = (1 to 200).map(i =>
      (if (i % 2 == 0) "g0" else "g1", i.toLong, 1L))
      .toDF("grp", "id", "t")
      .repartition(7) // scramble before the operator's range partitioning
    val out = Corpus.selectByBudgetPerGroup(rows, "grp", "id", "t",
        Map("g0" -> 37L, "g1" -> 100L))
      .as[(String, Long, Long)].collect()
    val g0 = out.filter(_._1 == "g0").map(_._2).sorted.toSeq
    val g1 = out.filter(_._1 == "g1").map(_._2).sorted.toSeq
    // g0 = first 37 even ids, g1 = all 100 odd ids — PREFIX in id order
    assert(g0 === (1 to 200).filter(_ % 2 == 0).take(37).map(_.toLong))
    assert(g1 === (1 to 200).filter(_ % 2 == 1).map(_.toLong))
  }

  test("selectByBudgetPerGroup stops exactly at the running-total boundary") {
    // tokens 10,20,30,40 in id order; budget 60 keeps ids 1..3 (10+20+30),
    // budget 59 keeps 1..2, budget 0 keeps nothing (all tokens > 0)
    val rows = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 3L, 30L), ("g", 4L, 40L))
      .toDF("grp", "id", "t")
    def ids(b: Long) = Corpus.selectByBudgetPerGroup(rows, "grp", "id", "t",
      Map("g" -> b)).as[(String, Long, Long)].collect().map(_._2).sorted.toSeq
    assert(ids(60L) === Seq(1L, 2L, 3L))
    assert(ids(59L) === Seq(1L, 2L))
    assert(ids(0L) === Seq.empty)
    // a group with no budget entry gets budget 0
    val none = Corpus.selectByBudgetPerGroup(rows, "grp", "id", "t", Map.empty)
    assert(none.count() === 0L)
  }
}
