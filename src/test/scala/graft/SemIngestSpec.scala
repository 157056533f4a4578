package graft

import java.nio.file.Files
import graft.streaming.SemIngest

/** SemIngest's incremental-union property (the cell-space analogue of
  * FuzzyIngestSpec): a later vector near BOTH of two previously-separate
  * groups merges them, and a replayed epoch leaves the store unchanged. */
class SemIngestSpec extends SparkTestBase {
  import spark.implicits._

  // A ⟂ B (cosine 0 → separate at 0.6); C = normalized A+B is at 0.707
  // from each — near both, so it bridges them.
  private def df(rows: (Long, Array[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  private def surv(root: String): Set[Long] =
    SemIngest.survivors(spark, root).select("vec_id").as[Long].collect().toSet

  test("a bridging vector merges two prior groups; replayed epoch is idempotent") {
    val root = Files.createTempDirectory("graft_sem_spec_").toString
    try {
      SemIngest.processBatch(
        df((1L, Array(1f, 0f), 10), (2L, Array(0f, 1f), 20)),
        root, 0L, nCells = 1, threshold = 0.6)
      assert(surv(root) === Set(1L, 2L), "orthogonal vectors stay separate groups")
      SemIngest.processBatch(
        df((3L, Array(0.7071f, 0.7071f), 30)),
        root, 1L, nCells = 1, threshold = 0.6)
      assert(surv(root) === Set(1L), "the bridge unions both groups under the min id")
      SemIngest.processBatch(
        df((3L, Array(0.7071f, 0.7071f), 30)),
        root, 1L, nCells = 1, threshold = 0.6)
      assert(surv(root) === Set(1L), "replayed epoch must not change the store")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root)); ()
    }
  }

  test("pow-2 cadence fires MID-STREAM and discovers a stale-split pair plain processBatch misses") {
    val rootOn = Files.createTempDirectory("graft_sem_cad_on_").toString
    val rootOff = Files.createTempDirectory("graft_sem_cad_off_").toString
    try {
      // batch 0 (unrepresentative high ids): boundary frozen at y=1
      val b0 = df((100L, Array(0f, 0.9f), 1), (101L, Array(0f, 1.1f), 1))
      // batch 1: the colinear pair 1–2 straddles the stale boundary; the
      // cadence fires AFTER this batch (epoch 1 = 2^0) with a Lloyd round
      // that pulls a centroid onto the (0, y) line, co-celling them
      val b1 = df((1L, Array(0f, 0.999f), 2), (2L, Array(0f, 1.001f), 2),
        (5L, Array(9f, 0f), 3))
      // batch 2 arrives AFTER the firing — the trigger ran mid-stream
      val b2 = df((7L, Array(0f, -5f), 4))
      Seq(rootOn, rootOff).foreach { r =>
        Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
          if (r == rootOn)
            SemIngest.processBatchWithCadence(b, r, i.toLong, nCells = 2,
              threshold = 0.99, lloydRounds = 1)
          else
            SemIngest.processBatch(b, r, i.toLong, nCells = 2, threshold = 0.99)
        }
      }
      assert(surv(rootOff) === Set(1L, 2L, 5L, 7L),
        "without the cadence the stale geometry must keep the dups split")
      assert(surv(rootOn) === Set(1L, 5L, 7L),
        "the mid-stream firing must merge the stale-split pair")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(rootOn))
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(rootOff)); ()
    }
  }

  test("a crash inside recenter's centroid swap is replayed before the next batch needs centroids") {
    val clean = Files.createTempDirectory("graft_sem_swap_clean_").toString
    val crashed = Files.createTempDirectory("graft_sem_swap_crash_").toString
    // the mid-stream cadence feed: epoch 1 recenters with a Lloyd round
    // that moves the centroids
    val batches = Seq(
      df((100L, Array(0f, 0.9f), 1), (101L, Array(0f, 1.1f), 1)),
      df((1L, Array(0f, 0.999f), 2), (2L, Array(0f, 1.001f), 2), (5L, Array(9f, 0f), 3)),
      df((7L, Array(0f, -5f), 4)))
    def ingest(root: String, epoch: Int): Unit =
      SemIngest.processBatchWithCadence(batches(epoch), root, epoch.toLong,
        nCells = 2, threshold = 0.99, lloydRounds = 1)
    def mv(a: String, b: String): Unit =
      assert(new java.io.File(a).renameTo(new java.io.File(b)), s"rename $a -> $b")
    def state(root: String) = (
      spark.read.parquet(s"$root/texts").select("vec_id", "cell", "canon")
        .as[(Long, Long, Long)].collect().toSet,
      spark.read.parquet(s"$root/cents").collect().map(_.toSeq).toSet)
    try {
      (0 to 2).foreach(ingest(clean, _))
      ingest(crashed, 0)
      val preCents = s"$crashed/cents_pre"
      spark.read.parquet(s"$crashed/cents").write.parquet(preCents)
      ingest(crashed, 1)
      // epoch 1 died after recenter's texts upsert, with the refit staged
      // at `cents_new` and the old centroids set aside at `cents_old`
      mv(s"$crashed/cents", s"$crashed/cents_new")
      mv(preCents, s"$crashed/cents_old")
      ingest(crashed, 1) // the replay
      ingest(crashed, 2)
      assert(surv(crashed) === surv(clean))
      assert(state(crashed) === state(clean))
      assert(!new java.io.File(s"$crashed/cents_old").exists())
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(clean))
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(crashed)); ()
    }
  }

  test("cadence-on equals cadence-off at feed end under an id-ascending feed (seed equality)") {
    val rootOn = Files.createTempDirectory("graft_sem_eq_on_").toString
    val rootOff = Files.createTempDirectory("graft_sem_eq_off_").toString
    try {
      // ascending ids: every refit's corpus-lowest seeds == frozen seeds,
      // so the refits are geometric no-ops and the partitions must agree
      val batches = Seq(
        df((1L, Array(1f, 0f), 1), (2L, Array(0f, 1f), 1)),
        df((3L, Array(0.999f, 0.01f), 2), (4L, Array(0.01f, 0.999f), 2)),
        df((5L, Array(-1f, 0f), 3), (6L, Array(0.998f, 0.02f), 3)))
      batches.zipWithIndex.foreach { case (b, i) =>
        SemIngest.processBatchWithCadence(b, rootOn, i.toLong, nCells = 2,
          threshold = 0.9)
        SemIngest.processBatch(b, rootOff, i.toLong, nCells = 2, threshold = 0.9)
      }
      assert(surv(rootOn) === surv(rootOff),
        "ascending-feed cadence must preserve the plain-ingest partition")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(rootOn))
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(rootOff)); ()
    }
  }

  test("recenter discovers dup pairs the frozen batch-1 geometry split, merging (never splitting) groups") {
    val root = Files.createTempDirectory("graft_sem_recenter_").toString
    try {
      // Unrepresentative FIRST batch (high ids): seeds c100=(0,0.9),
      // c101=(0,1.1) put the cell boundary exactly at y=1.
      SemIngest.processBatch(
        df((100L, Array(0f, 0.9f), 1), (101L, Array(0f, 1.1f), 1)),
        root, 0L, nCells = 2, threshold = 0.99)
      // v1=(0,0.999) lands in c100 with v100 (cosine 1 → group {1,100});
      // v2=(0,1.001) lands in c101 with v101 (group {2,101}); the v1–v2
      // pair (cosine 1.0) STRADDLES the stale boundary → never scored.
      // v5=(9,0) is its own far cluster.
      SemIngest.processBatch(
        df((1L, Array(0f, 0.999f), 2), (2L, Array(0f, 1.001f), 2),
           (5L, Array(9f, 0f), 3)),
        root, 1L, nCells = 2, threshold = 0.99)
      assert(surv(root) === Set(1L, 2L, 5L),
        "frozen geometry must have split the colinear dups across cells")
      // refit over the whole corpus: one Lloyd round pulls a centroid to
      // the colinear cluster, co-celling all four (0,y) vectors — the
      // moved×cellmates scoring bridges {1,100} and {2,101} into one group
      SemIngest.recenter(spark, root, nCells = 2, epochId = 2L,
        threshold = 0.99, lloydRounds = 1)
      assert(surv(root) === Set(1L, 5L),
        "recenter must merge the stale-split groups under the min id")
      val store = spark.read.parquet(s"$root/texts")
      assert(store.select("vec_id").as[Long].collect().toSet ===
        Set(1L, 2L, 5L, 100L, 101L), "recenter must not add or drop vectors")
      // a recenter replay (same refit over the merged store) is a no-op
      SemIngest.recenter(spark, root, nCells = 2, epochId = 3L,
        threshold = 0.99, lloydRounds = 1)
      assert(surv(root) === Set(1L, 5L), "replayed recenter must be idempotent")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root)); ()
    }
  }
}
