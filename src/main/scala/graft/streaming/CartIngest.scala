package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Classifier
import IngestStore.existsDir

/** CART quality scoring ON INGEST — the streaming twin of
  * [[graft.operators.Classifier.scoreTree]], in the production shape:
  * the tree is trained OFFLINE on the labeled seed slice and FROZEN
  * (the model table persisted once), then every arriving micro-batch of
  * documents is featurized and routed through the frozen splits — the
  * FineWeb deployment pattern (the distilled classifier scores the
  * crawl as it streams; nobody retrains per batch). Same store contract
  * as [[KnIngest]]/[[AnnIngest]]: per-batch scores land in the batch's
  * OWN epoch directory with `mode(overwrite)` — a crash-replayed epoch
  * overwrites its previous attempt, never double-appends.
  *
  * Per-batch cost: one zero-shuffle projection over the BATCH (the tree
  * rides as nested-CASE plan literals after a ≤ 2^depth-row model read)
  * — O(batch), independent of scored history. Under the gate's feed
  * (model frozen from the corpus the stream delivers) the accreted
  * scores are bit-equal to the batch operator's — q201 shares q199's
  * oracle verbatim; CartIngestSpec pins the replay and missing-model
  * paths.
  */
object CartIngest {

  /** Train on `docs`' seed slice and persist the frozen model table. */
  def freezeModel(docs: DataFrame, root: String): Unit = {
    val tree = Classifier.trainTree(Classifier.labeledFeatures(docs))
    Classifier.treeTable(docs.sparkSession, tree)
      .write.mode("overwrite").parquet(s"$root/model/tree")
  }

  /** Score one micro-batch of (doc_id, text) rows under the frozen tree
    * into the batch's own epoch directory. */
  def processBatch(batch: DataFrame, root: String, epochId: Long): Unit = {
    val spark = batch.sparkSession
    require(existsDir(spark, s"$root/model/tree"),
      s"CartIngest: no frozen model under $root/model — freezeModel first")
    val tree = Classifier.nodesFrom(spark.read.parquet(s"$root/model/tree"))
    Classifier.scoreTree(Classifier.labeledFeatures(batch), tree)
      .write.mode("overwrite").parquet(s"$root/scores/epoch=$epochId")
  }

  /** All scored rows accreted so far (one row per doc under a disjoint
    * feed). */
  def readScores(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/scores")
      .select(col("doc_id"), col("leaf"), col("pred"), col("teacher"),
        col("is_seed"))
}
