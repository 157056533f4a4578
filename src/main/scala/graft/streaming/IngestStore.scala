package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The store helpers the ingest twins share. */
private[streaming] object IngestStore {

  def existsDir(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The [[Sinks.upsertByKeyPartitioned]] store at `dir` without its
    * `_bucket` partition and `_ver` epoch columns; None before its first
    * write. Every caller is the store's own writer, so it replays an
    * interrupted swap first ([[Sinks.recoverStore]]): a bucket left set
    * aside would otherwise be missing from the state the batch is
    * computed against. */
  def readStore(spark: SparkSession, dir: String): Option[DataFrame] = {
    Sinks.recoverStore(spark, dir)
    if (existsDir(spark, dir)) Some(spark.read.parquet(dir).drop("_bucket", "_ver"))
    else None
  }

  /** Merge edges for star components over the (a, b) `pairs`: an
    * endpoint that `groups` (`idCol`, `canon`) knows maps to its group
    * CANON, so components union whole groups; self-edges drop.
    * Materialized ONCE (r18): callers test isEmpty and then run
    * components over it, and each re-ran the whole pair-scoring pipeline
    * without this checkpoint. */
  def canonEdges(pairs: DataFrame, groups: DataFrame, idCol: String): DataFrame = {
    val canonOf = groups.select(col(idCol).as("sp"), col("canon").as("sc"))
    pairs
      .join(canonOf.withColumnRenamed("sp", "a").withColumnRenamed("sc", "ca"),
        Seq("a"), "left")
      .join(canonOf.withColumnRenamed("sp", "b").withColumnRenamed("sc", "cb"),
        Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"),
        coalesce(col("cb"), col("b")).as("b"))
      .where(col("a") =!= col("b"))
      .localCheckpoint(true)
  }
}
