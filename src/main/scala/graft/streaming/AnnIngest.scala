package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import IngestStore.existsDir

/** IVF index maintenance ON INGEST — the streaming twin of
  * [[graft.operators.Similarity.ivfTopK]]: micro-batches of embeddings
  * accrete into a cell-partitioned vector store that serves the same
  * probe-and-score search ([[Similarity.ivfSearch]]) as the batch plan.
  * The production shape: the index is built once and MAINTAINED as the
  * corpus streams in, not rebuilt per query.
  *
  *  - `cents/`: coarse centroids, frozen from the FIRST batch's lowest-id
  *    seeds (unconditionally overwritten on an epoch-0 replay, so a crash
  *    mid-write can never leave partial centroids a replay would trust) —
  *    the same first-seen contract as [[SemIngest]]: feed id-ascending and
  *    the seeds equal the batch operator's corpus-wide lowest-id seeds, so
  *    the store-backed search is bit-equal to `ivfTopK` (gate q134 shares
  *    q54's oracle under that feed). Refit on corpus doublings with the
  *    same amortization argument as [[SemIngest.recenter]].
  *  - `data/epoch=<id>/cell=<c>/`: the assigned vectors, written with
  *    `mode(overwrite)` into the batch's OWN epoch directory — an epoch
  *    replay overwrites its previous attempt instead of double-appending
  *    (idempotent exactly-once store without a key-matching rewrite), and
  *    the nested `cell=` partitioning means a probe reads only the probed
  *    cells' files, never the whole store.
  *
  * Scale: per-batch cost is one broadcast-centroid assignment pass over
  * the batch plus one partitioned write — O(batch), independent of store
  * size. Search cost matches `ivfTopK`'s: |Q|·nCells probe ranking plus
  * candidates from nProbe/nCells of the corpus, with the cell partition
  * pruning doing at the FILE level what the batch plan's cell equi-join
  * does at the row level.
  */
object AnnIngest {

  /** Fold one micro-batch of (vec_id, embedding) rows into the store. */
  def processBatch(
      batch: DataFrame,
      root: String,
      epochId: Long,
      nCells: Int = 16): Unit = {
    val spark = batch.sparkSession
    val centsDir = s"$root/cents"
    if (epochId == 0L)
      Similarity.kmeansCentroids(batch, nCells, 0)
        .write.mode("overwrite").parquet(centsDir)
    else require(existsDir(spark, centsDir),
      s"AnnIngest: centroids missing at $centsDir for epoch $epochId — " +
        "broken chain (lost store or non-contiguous feed)")
    val cents = spark.read.parquet(centsDir)
    batch.join(Similarity.assignCells(batch, cents), "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/data/epoch=$epochId")
  }

  /** Top-k search against the ingest-maintained store — same math as
    * [[Similarity.ivfTopK]] over the accreted corpus. */
  def searchStore(
      spark: SparkSession,
      root: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$root/cents")
    val corpusCells = Similarity.corpusSide(spark.read
      .option("basePath", s"$root/data").parquet(s"$root/data"),
      "vec_id", "embedding", col("cell"))
    Similarity.ivfSearch(corpusCells, cents, queries, k, nProbe)
  }
}
