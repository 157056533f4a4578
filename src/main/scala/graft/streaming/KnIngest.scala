package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.NgramLm
import IngestStore.existsDir

/** KN quality scoring ON INGEST — the streaming twin of
  * [[graft.operators.NgramLm.knScore]], in the production shape: the
  * language model is trained OFFLINE and FROZEN (vocab + bigram counts
  * persisted once), then every arriving micro-batch of documents is
  * unk-pooled under the frozen vocabulary and scored against the frozen
  * counts — the CCNet deployment pattern (a KenLM snapshot scores the
  * crawl as it streams in; nobody retrains per batch).
  *
  *  - `model/vocab`, `model/bg`: the frozen artifacts
  *    ([[freezeModel]]) — the vocabulary fixes the unk rule, the bigram
  *    counts fix the distribution; context/continuation/total tables are
  *    re-derived from `bg` at scoring time (type-grain aggregates of a
  *    type-grain table — cheap next to the batch itself).
  *  - `scores/epoch=<id>/`: per-batch score rows written with
  *    `mode(overwrite)` into the batch's OWN epoch directory — the
  *    [[AnnIngest]] idempotent-replay contract (a crash-replayed epoch
  *    overwrites its previous attempt, never double-appends).
  *
  * Unseen data is REAL KN, not a gate trick: a pair the model never saw
  * scores p = λ(u)·p_cont(w) (the discounted term is exactly 0), and an
  * unknown word pools to `<unk>` exactly as training hapaxes did. Under
  * the gate's feed (model frozen from the same corpus the stream
  * delivers) every pair is seen, so the accreted scores are bit-equal to
  * the batch operator's — q188 shares q185's oracle verbatim; the
  * unseen paths are spec-planted instead (KnIngestSpec).
  *
  * Scale: per-batch cost is one vocab join + one bigram-keyed model join
  * over the BATCH — O(batch), independent of how much has been scored
  * before; the model side is type-grain and broadcast when it fits. The
  * store only ever appends epoch directories, so read-back prunes to the
  * epochs asked for. */
object KnIngest {

  /** Train on `docs` and persist the frozen artifacts under
    * `root/model`. */
  def freezeModel(docs: DataFrame, root: String, minCount: Long = 2): Unit = {
    val vocab = NgramLm.trainVocab(docs, minCount)
    vocab.write.mode("overwrite").parquet(s"$root/model/vocab")
    NgramLm.bigramStreamWith(docs, vocab)
      .groupBy(col("u"), col("w")).agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$root/model/bg")
  }

  /** Score one micro-batch of (doc_id, text) rows against the frozen
    * model and land them in the batch's own epoch directory. */
  def processBatch(batch: DataFrame, root: String, epochId: Long): Unit = {
    val spark = batch.sparkSession
    require(existsDir(spark, s"$root/model/bg"),
      s"KnIngest: no frozen model under $root/model — freezeModel first")
    val vocab = spark.read.parquet(s"$root/model/vocab")
    val bg = spark.read.parquet(s"$root/model/bg")
    // widen the chunk (r18): a micro-batch arriving as one staged file
    // scans as ONE task, serializing the whole explode+score pipeline up
    // to the doc aggregate; no-op once batches arrive multi-partition
    NgramLm.knScoreAgainst(
        NgramLm.bigramStreamWith(graft.core.Tables.widen(batch), vocab), bg)
      .write.mode("overwrite").parquet(s"$root/scores/epoch=$epochId")
  }

  /** All scored rows accreted so far (one row per doc under a disjoint
    * feed). */
  def readScores(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/scores")
      .select(col("doc_id"), col("n_bigrams"), col("xent_unats"))
}
