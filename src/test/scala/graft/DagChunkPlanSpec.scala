package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.entry.GateSupport.DagRun

/** The DAG feed's chunk arithmetic, `DagRun.chunkPlan(corpusBytes)` =
  * (nChunks, cEarly). No Spark session: the plan is a pure function of
  * the input dir's byte count. */
class DagChunkPlanSpec extends AnyFunSuite {
  private val MB = 1000000L

  test("empty and gated-SF-sized inputs feed in exactly two chunks") {
    assert(DagRun.chunkPlan(0L) === ((2, 2)))
    // sf0.1 is ~17.5 MB on disk; every gated SF sits at or below it
    assert(DagRun.chunkPlan(17508506L) === ((2, 2)))
    assert(DagRun.chunkPlan(96 * MB - 1) === ((2, 2)))
  }

  test("each further 48 MB of input adds one chunk") {
    assert(DagRun.chunkPlan(96 * MB)._1 === 3)
    assert(DagRun.chunkPlan(144 * MB - 1)._1 === 3)
    assert(DagRun.chunkPlan(144 * MB)._1 === 4)
    assert(DagRun.chunkPlan(240 * MB)._1 === 6)
  }

  test("the chunk count is clamped at 16") {
    assert(DagRun.chunkPlan(720 * MB)._1 === 16)
    assert(DagRun.chunkPlan(10000 * MB)._1 === 16)
    // 100 TB: the byte count must not overflow the clamp
    assert(DagRun.chunkPlan(100000000L * MB)._1 === 16)
  }

  test("past two chunks the early group completes at cEarly = (2n + 2) / 3") {
    for (n <- 3 to 16) {
      val (got, cEarly) = DagRun.chunkPlan((n - 1) * 48 * MB)
      assert(got === n)
      assert(cEarly === (2 * n + 2) / 3, s"n = $n")
      assert(cEarly >= 2 && cEarly < n, s"n = $n")
    }
  }
}
