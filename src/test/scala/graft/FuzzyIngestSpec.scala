package graft

import java.nio.file.Files
import graft.streaming.FuzzyIngest

/** The incremental-union property q116's sf data cannot isolate: a
  * LATER text that is near BOTH of two previously-separate groups must
  * merge them (relabeling the state), and a replayed epoch must leave
  * the store unchanged (snapshot-chain exactly-once). */
class FuzzyIngestSpec extends SparkTestBase {
  import spark.implicits._

  // A vs B differ at words 1, 2, 10 → 5 of 11 union shingles shared,
  // jaccard 0.4545 < 0.55: SEPARATE groups. C shares A's tail (j 0.7778)
  // and B's head (j 0.6) — near both, so it bridges them.
  private val A = "w1 w2 c3 c4 c5 c6 c7 c8 c9 a10"
  private val B = "x1 x2 c3 c4 c5 c6 c7 c8 c9 b10"
  private val C = "x1 x2 c3 c4 c5 c6 c7 c8 c9 a10"

  private def surv(root: String): Set[(Long, Long)] =
    FuzzyIngest.survivors(spark, root).as[(Long, Long)].collect().toSet

  test("a bridging text merges two prior groups and a replayed epoch is idempotent") {
    val root = Files.createTempDirectory("graft_fuzzy_spec_").toString
    try {
      // encs: doc 1 pos 0 / doc 2 pos 0 / doc 3 pos 0
      FuzzyIngest.processBatch(Seq((100000L, A), (200000L, B)).toDF("enc", "para"),
        root, 0L, threshold = 0.55, bands = 16)
      assert(surv(root) === Set((1L, 0L), (2L, 0L)),
        "A and B are below threshold and must stay separate groups")
      FuzzyIngest.processBatch(Seq((300000L, C)).toDF("enc", "para"),
        root, 1L, threshold = 0.55, bands = 16)
      assert(surv(root) === Set((1L, 0L)),
        "C is near both → the two groups union under the min keeper")
      // crash replay: epoch 1 recomputes from snapshot 0 verbatim
      FuzzyIngest.processBatch(Seq((300000L, C)).toDF("enc", "para"),
        root, 1L, threshold = 0.55, bands = 16)
      assert(surv(root) === Set((1L, 0L)), "replayed epoch must not change the store")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root)); ()
    }
  }

  test("an exact re-arrival in a later batch adds no new text or group") {
    val root = Files.createTempDirectory("graft_fuzzy_spec2_").toString
    try {
      FuzzyIngest.processBatch(Seq((100000L, A)).toDF("enc", "para"), root, 0L)
      FuzzyIngest.processBatch(Seq((500000L, A)).toDF("enc", "para"), root, 1L)
      assert(surv(root) === Set((1L, 0L)))
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root)); ()
    }
  }
}
