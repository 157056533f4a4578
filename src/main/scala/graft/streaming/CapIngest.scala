package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Corpus
import IngestStore.readStore

/** Per-group document cap ON INGEST — the streaming twin of
  * [[graft.operators.Corpus.capPerGroup]]: the store holds, per group,
  * the ≤n rows with the smallest md5(id) seen SO FAR; a later batch's
  * smaller-hash arrival evicts a current keeper. Because min-n-by-hash
  * is associative and commutative, the final store equals the batch
  * operator over the whole corpus under ANY feed order (gate q137
  * shares q136's oracle), and replaying a batch is a no-op.
  *
  * Per batch: union the batch's rows with the stored rows of TOUCHED
  * groups only, re-apply `capPerGroup` (the batch operator itself — the
  * twins share one ranking implementation), upsert the keepers and
  * tombstone the evicted rows through the incremental bucketed store
  * ([[Sinks.upsertByKeyPartitioned]], key = (group, id)). Per-batch I/O
  * is O(batch + touched groups·n), never O(corpus); the in-batch ranking
  * is capPerGroup's bounded heap over batch-grain rows.
  */
object CapIngest {

  /** Fold one micro-batch of (groupCol, idCol) rows into the store. */
  def processBatch(
      batch: DataFrame,
      root: String,
      epochId: Long,
      n: Int,
      groupCol: String,
      idCol: String,
      nBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val dir = s"$root/keep"
    val state = readStore(spark, dir)
    require(epochId == 0L || state.isDefined,
      s"CapIngest: store missing at $dir for epoch $epochId — broken chain " +
        "(lost store or non-contiguous feed); refusing to restart cap state")
    val rows = batch.select(col(groupCol), col(idCol))
    val touched = rows.select(col(groupCol)).distinct()
    val stateTouched = state.map(_.join(touched, Seq(groupCol), "left_semi"))
    val candidates = stateTouched match {
      case Some(st) => st.unionByName(rows).distinct()
      case None => rows.distinct()
    }
    val keep = Corpus.capPerGroup(candidates, groupCol, idCol, n)
      .localCheckpoint(true) // consumed by the upsert and the eviction diff
    val evicted = stateTouched.map(_.join(keep, Seq(groupCol, idCol), "left_anti"))
      .filter(!_.isEmpty)
    Sinks.upsertByKeyPartitioned(keep.withColumn("_ver", lit(epochId)),
      Seq(groupCol, idCol), "_ver", dir, nBuckets,
      deleteKeys = evicted.map(_.select(col(groupCol), col(idCol))))
  }

  /** The capped corpus so far — (idCol, groupCol), the batch operator's
    * kept set over everything ingested. */
  def survivors(spark: SparkSession, root: String,
      groupCol: String, idCol: String): DataFrame =
    spark.read.parquet(s"$root/keep").select(col(idCol), col(groupCol))
}
