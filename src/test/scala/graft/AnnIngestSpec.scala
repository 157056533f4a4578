package graft

import graft.operators.Similarity
import graft.streaming.AnnIngest

/** Streaming IVF index maintenance: batch-equivalence, replay
  * idempotence, and the broken-chain guard. */
class AnnIngestSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 16
  private def vec(seed: Long): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextFloat() * 2f - 1f)
  }
  private lazy val corpus =
    (0L until 120L).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def ingest(root: String): Unit = {
    // two id-ascending batches — the first-seen contract under which the
    // frozen seeds equal the batch operator's corpus-wide lowest-id seeds
    AnnIngest.processBatch(corpus.where($"vec_id" < 60), root, 0L, nCells = 8)
    AnnIngest.processBatch(corpus.where($"vec_id" >= 60), root, 1L, nCells = 8)
  }

  test("store-backed search equals batch ivfTopK under an ascending feed") {
    val root = java.nio.file.Files.createTempDirectory("ann_ingest_spec_").toString
    ingest(root)
    val queries = corpus.where($"vec_id" % 40 === 0)
    val streamed = AnnIngest.searchStore(spark, root, queries, 5, nProbe = 3)
      .orderBy($"query_id", $"rank").as[(Long, Long, Double, Int)].collect()
    val batch = Similarity.ivfTopK(corpus, queries, 5, nCells = 8, nProbe = 3)
      .orderBy($"query_id", $"rank").as[(Long, Long, Double, Int)].collect()
    assert(streamed === batch)
    // the store really is cell-partitioned inside each epoch dir
    val cellDirs = new java.io.File(s"$root/data/epoch=0").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cellDirs.nonEmpty)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }

  test("an epoch replay overwrites its own directory — no double-append") {
    val root = java.nio.file.Files.createTempDirectory("ann_ingest_replay_").toString
    ingest(root)
    val before = AnnIngest.searchStore(spark, root,
        corpus.where($"vec_id" % 40 === 0), 5, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect().toSeq
    // crash-replay of epoch 1: same batch folded again
    AnnIngest.processBatch(corpus.where($"vec_id" >= 60), root, 1L, nCells = 8)
    val stored = spark.read.option("basePath", s"$root/data")
      .parquet(s"$root/data")
    assert(stored.count() === 120)
    assert(stored.select($"vec_id").distinct().count() === 120)
    val after = AnnIngest.searchStore(spark, root,
        corpus.where($"vec_id" % 40 === 0), 5, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(after === before)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }

  test("epoch > 0 without centroids fails loudly instead of re-seeding") {
    val root = java.nio.file.Files.createTempDirectory("ann_ingest_chain_").toString
    intercept[IllegalArgumentException] {
      AnnIngest.processBatch(corpus.where($"vec_id" >= 60), root, 1L, nCells = 8)
    }
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }
}
