package graft

import graft.operators.{Corpus, Dedup}
import graft.streaming.CapIngest

/** Per-group cap ON INGEST: feed-order independence, cross-batch
  * eviction, replay idempotence, and the broken-chain guard. */
class CapIngestSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs =
    (1L to 40L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("doc_id", "grp")

  private def run(root: String, batches: Seq[org.apache.spark.sql.DataFrame],
      n: Int): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      CapIngest.processBatch(b, root, i.toLong, n, "grp", "doc_id")
    }

  private def survivors(root: String): Set[(Long, String)] =
    CapIngest.survivors(spark, root, "grp", "doc_id")
      .as[(Long, String)].collect().toSet

  test("ascending and descending feeds both converge to the batch operator's kept set") {
    val expected = Corpus.capPerGroup(docs, "grp", "doc_id", 5)
      .select($"doc_id", $"grp").as[(Long, String)].collect().toSet
    for (batches <- Seq(
        Seq(docs.where($"doc_id" <= 20), docs.where($"doc_id" > 20)),
        Seq(docs.where($"doc_id" > 20), docs.where($"doc_id" <= 20)))) {
      val root = java.nio.file.Files.createTempDirectory("cap_ingest_spec_").toString
      run(root, batches, 5)
      assert(survivors(root) === expected)
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    }
  }

  test("a later smaller-hash arrival evicts an earlier keeper") {
    // n=1, feed ordered so group "even"'s global min-hash id arrives in
    // batch 2: batch 1 installs an interim keeper, batch 2 MUST evict it
    val hashes = docs.select($"doc_id", $"grp",
        Dedup.md5Long($"doc_id".cast("string")).as("h"))
      .as[(Long, String, Long)].collect()
    val gmin = hashes.filter(_._2 == "even").minBy(r => (r._3, r._1))._1
    val (first, second) =
      if (gmin <= 20) (docs.where($"doc_id" > 20), docs.where($"doc_id" <= 20))
      else (docs.where($"doc_id" <= 20), docs.where($"doc_id" > 20))
    val root = java.nio.file.Files.createTempDirectory("cap_ingest_evict_").toString
    run(root, Seq(first), 1)
    val interim = survivors(root).find(_._2 == "even").get._1
    assert(interim !== gmin, "the global winner must not have arrived yet")
    CapIngest.processBatch(second, root, 1L, 1, "grp", "doc_id")
    assert(survivors(root).find(_._2 == "even").get._1 === gmin)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }

  test("replaying a batch is a no-op on the store") {
    val root = java.nio.file.Files.createTempDirectory("cap_ingest_replay_").toString
    run(root, Seq(docs.where($"doc_id" <= 20), docs.where($"doc_id" > 20)), 5)
    val before = survivors(root)
    CapIngest.processBatch(docs.where($"doc_id" > 20), root, 1L, 5, "grp", "doc_id")
    assert(survivors(root) === before)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }

  test("a bucket a crashed swap left set aside is restored before the replayed batch reads state") {
    val (first, second) = (docs.where($"doc_id" <= 20), docs.where($"doc_id" > 20))
    val clean = java.nio.file.Files.createTempDirectory("cap_ingest_clean_").toString
    val crashed = java.nio.file.Files.createTempDirectory("cap_ingest_crash_").toString
    run(clean, Seq(first, second), 1)
    run(crashed, Seq(first), 1)
    // epoch 1's first attempt died between setting aside the bucket that
    // holds group "even"'s keeper and publishing it: the bucket's only
    // copy sits under `keep_old`. Reading state without it would keep a
    // second "even" row beside the keeper the write's recovery restores.
    val keep = s"$crashed/keep"
    val bucket = spark.read.parquet(keep).where($"grp" === "even")
      .select($"_bucket").as[Int].head()
    assert(new java.io.File(s"${keep}_old").mkdirs())
    assert(new java.io.File(s"$keep/_bucket=$bucket")
      .renameTo(new java.io.File(s"${keep}_old/_bucket=$bucket")))
    CapIngest.processBatch(second, crashed, 1L, 1, "grp", "doc_id")
    assert(survivors(crashed) === survivors(clean))
    assert(!new java.io.File(s"${keep}_old").exists())
    Seq(clean, crashed).foreach(r => org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(r)))
  }

  test("epoch > 0 without a store fails loudly instead of restarting cap state") {
    val root = java.nio.file.Files.createTempDirectory("cap_ingest_chain_").toString
    intercept[IllegalArgumentException] {
      CapIngest.processBatch(docs, root, 1L, 5, "grp", "doc_id")
    }
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }
}
