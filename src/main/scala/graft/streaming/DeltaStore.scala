package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Log-structured incremental MERGE store — the production-cadence upsert
  * story [[Sinks.upsertByKeyPartitioned]] alone doesn't give: that sink
  * rewrites every touched bucket PER MICRO-BATCH, so a high-cadence
  * changelog whose keys spray across buckets pays O(store/nBuckets ·
  * touched) I/O every few seconds. The reference sidesteps this by
  * delegating to Kafka log compaction (its upsert-Kafka contract,
  * utils/MyKafkaUtil.java:91-100: keyed topic, compaction retires old
  * values); this is the same design on files — the LSM shape Delta/
  * Iceberg MERGE implements as a managed service:
  *
  *  - [[append]] (per micro-batch): write the batch, compacted by key,
  *    to `path/delta/epoch=E`. O(batch) I/O, no read-modify-write. A
  *    replayed epoch OVERWRITES the same dir — exactly-once per epoch.
  *  - [[read]]: base ∪ deltas with last-writer-wins per key (epoch
  *    order, then `orderCol`, tombstones filtered) — the compacted view
  *    a Kafka compacted-topic consumer materializes. Read cost grows
  *    with un-compacted deltas, which is the LSM trade.
  *  - [[compact]]: squash all delta epochs into one row per key and
  *    MERGE them into the bucketed base via
  *    [[Sinks.upsertByKeyPartitioned]] (only touched buckets rewrite,
  *    crash-safe per-bucket rename-aside swap), then retire the
  *    consumed epoch dirs. Crash anywhere: the per-bucket swap recovers
  *    itself, and re-running compaction re-applies the SAME deltas —
  *    idempotent, since re-upserting identical rows and re-retiring the
  *    same keys is a no-op (single-writer contract, same as the sinks).
  *
  * Changelog deletes ride as tombstones (`_op = "d"`, data columns
  * null): [[read]] hides a key whose newest row is a tombstone;
  * [[compact]] turns them into `deleteKeys` retirement. Within one
  * epoch an upsert of a key wins over that epoch's tombstone — unless
  * the tombstone carries `orderCol` (see [[append]]), in which case
  * in-epoch resolution follows changelog order.
  *
  * Edge: a store emptied of EVERY key compacts to a base with no
  * readable parquet (parquet cannot persist a bare schema), so [[read]]
  * then fails as never-written. Callers whose changelog can retire the
  * whole keyspace should keep retention at the delta layer instead.
  */
object DeltaStore {

  private val OpCol = "_op"

  /** Append one micro-batch of upserts (+ optional delete keys) as the
    * epoch's delta file. Idempotent per epoch: replays overwrite.
    *
    * `deleteKeys` may carry `orderCol` beside the key columns (a CDC
    * changelog's delete carries its ts): the tombstone then competes
    * in-epoch at its true position — a delete AFTER an upsert of the same
    * key within one batch retires the key, an earlier one loses to the
    * newer upsert. Without it (key columns only) the tombstone's null
    * orderCol sorts last and the batch's upsert wins, the
    * [[Sinks.upsertByKeyPartitioned]] batch semantics. Ties on
    * orderCol resolve upsert-wins either way. */
  def append(batch: DataFrame, keyCols: Seq[String], orderCol: String,
      path: String, epochId: Long, deleteKeys: Option[DataFrame] = None): Unit = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc, desc(OpCol)) // "u" > "d": upsert wins on ties
    val upserts = batch.withColumn(OpCol, lit("u"))
    val rows = deleteKeys match {
      case Some(dk) =>
        val dataCols = batch.columns.filterNot(keyCols.contains)
        val carried = dk.columns.toSet
        val tomb = dataCols.foldLeft(
            dk.select((keyCols ++ dk.columns.filter(dataCols.contains))
              .distinct.map(col): _*)) { (df, c) =>
          if (carried.contains(c)) df
          else df.withColumn(c, lit(null).cast(batch.schema(c).dataType))
        }.withColumn(OpCol, lit("d")).select(upserts.columns.map(col): _*)
        upserts.unionByName(tomb)
      case None => upserts
    }
    rows
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
      .write.mode("overwrite").parquet(s"$path/delta/epoch=$epochId")
  }

  /** The compacted view: base ∪ un-compacted deltas, newest row per key
    * (delta epochs beat the base, higher epochs beat lower, `orderCol`
    * breaks ties within an epoch), tombstoned keys hidden. */
  def read(spark: SparkSession, path: String, keyCols: Seq[String],
      orderCol: String): DataFrame =
    merged(spark, path, keyCols, orderCol, asOf = None)

  /** TIME-TRAVEL read: the compacted view as it stood after `epoch` —
    * delta epochs newer than `epoch` are ignored; the bucketed base
    * (epoch −1: everything already compacted away) always participates.
    * The addressable history is therefore exactly the un-compacted delta
    * log: after [[compact]], older versions are squashed and no longer
    * reachable — the same travel-vs-VACUUM contract Delta/Iceberg
    * expose. Scale cost is identical to [[read]] (the epoch cap is a
    * partition filter on the `epoch=` directory layout). */
  def readAsOf(spark: SparkSession, path: String, keyCols: Seq[String],
      orderCol: String, epoch: Long): DataFrame =
    merged(spark, path, keyCols, orderCol, asOf = Some(epoch))

  /** CHANGE-DATA-FEED read: the NET effect of the delta epochs in
    * `(fromEpoch, toEpoch]` — one row per key TOUCHED in the range,
    * newest write wins, with `_op` retained (`u` upsert / `d` delete,
    * data columns null on deletes) — what a downstream incremental
    * consumer applies to stay in sync without re-reading the store
    * (Delta CDF's net-changes form). Same retention contract as
    * [[readAsOf]]: the range must still be in the un-compacted log.
    *
    * Scale: a partition filter on the `epoch=` layout + one keyed
    * window over only the range's rows — cost is O(changes), not
    * O(store). */
  def readChanges(spark: SparkSession, path: String, keyCols: Seq[String],
      orderCol: String, fromEpoch: Long, toEpoch: Long): DataFrame = {
    require(fromEpoch <= toEpoch, "need fromEpoch <= toEpoch")
    val deltas = readDeltas(spark, path).getOrElse(
      throw new java.io.IOException(s"DeltaStore.readChanges: no delta log at $path"))
      .where(col("_epoch") > fromEpoch && col("_epoch") <= toEpoch)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_epoch").desc, desc(OpCol), col(orderCol).desc)
    deltas
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .drop("_rn", "_epoch")
  }

  private def merged(spark: SparkSession, path: String, keyCols: Seq[String],
      orderCol: String, asOf: Option[Long]): DataFrame = {
    val baseOpt = readBase(spark, path)
    val deltaOpt = readDeltas(spark, path)
      .map(d => asOf.fold(d)(e => d.where(col("_epoch") <= e)))
    val all = (baseOpt, deltaOpt) match {
      // allowMissingColumns: ADDITIVE schema evolution — an epoch that
      // introduces a column reads fine against an older base (and vice
      // versa after compaction); absent sides surface null, the
      // Delta-style additive-evolution contract
      case (Some(b), Some(d)) => b.unionByName(d, allowMissingColumns = true)
      case (Some(b), None)    => b
      case (None, Some(d))    => d
      case (None, None) =>
        throw new java.io.IOException(s"DeltaStore.read: nothing at $path")
    }
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_epoch").desc, desc(OpCol), col(orderCol).desc)
    all
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .where(col(OpCol) =!= "d")
      .drop("_rn", "_epoch", OpCol)
  }

  /** Squash every pending delta epoch into the bucketed base (only
    * touched buckets rewrite) and retire the consumed epoch dirs.
    * Safe to re-run after a crash at any point — see object doc. */
  def compact(spark: SparkSession, path: String, keyCols: Seq[String],
      orderCol: String, nBuckets: Int = 64): Unit =
    compactThrough(spark, path, keyCols, orderCol, Long.MaxValue, nBuckets)

  /** RETENTION-AWARE compaction: squash only the epochs `<= upToEpoch`
    * into the base, leaving newer delta dirs in place — so
    * [[readAsOf]]/[[readChanges]] keep the recent history addressable
    * while read amplification stays bounded (Delta's log-retention
    * knob expressed as an epoch cutoff). `compact` is the
    * retain-nothing special case. Correctness is unchanged: epochs fold
    * oldest-first and the base is "epoch −1", so folding a prefix of the
    * log preserves every remaining epoch's merge order. */
  def compactThrough(spark: SparkSession, path: String, keyCols: Seq[String],
      orderCol: String, upToEpoch: Long, nBuckets: Int = 64): Unit = {
    readDeltas(spark, path).map(_.where(col("_epoch") <= upToEpoch)) match {
      case None => ()
      case Some(deltas) =>
        // consume only the epochs present NOW: a concurrent-looking append
        // of a later epoch (single writer, but between list and delete)
        // must survive this compaction's delta retirement
        val epochs = deltas.select(col("_epoch")).distinct()
          .collect().map(_.getLong(0)).sorted
        if (epochs.isEmpty) return // nothing at or below the cutoff
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col("_epoch").desc, desc(OpCol), col(orderCol).desc)
        val squashed = deltas
          .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
          .drop("_rn", "_epoch").persist()
        try {
          val ups = squashed.where(col(OpCol) =!= "d").drop(OpCol)
          val dels = squashed.where(col(OpCol) === "d").select(keyCols.map(col): _*)
          Sinks.upsertByKeyPartitioned(ups, keyCols, orderCol,
            s"$path/base", nBuckets, deleteKeys = Some(dels))
        } finally { squashed.unpersist(); () }
        val root = new org.apache.hadoop.fs.Path(s"$path/delta")
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        epochs.foreach { e =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/delta/epoch=$e"), true)
        }
    }
  }

  /** [[append]] as a streaming sink: one delta epoch per micro-batch,
    * keyed by the batch's epochId — a replayed batch after restart
    * rewrites its own epoch dir, so the store is exactly-once per epoch
    * under the checkpoint (the upsert-Kafka producer contract at
    * production cadence; run [[compact]] on whatever schedule read
    * amplification warrants). */
  def sink(df: DataFrame, keyCols: Seq[String], orderCol: String,
      path: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        append(batch, keyCols, orderCol, path, epochId)
      }
      .start()

  private def readBase(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/base")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try
      Some(spark.read.parquet(p.toString).drop("_bucket")
        .withColumn("_epoch", lit(-1L)).withColumn(OpCol, lit("u")))
    catch {
      // a base emptied of every bucket has no readable parquet — treat as
      // absent (the documented emptied-store edge) instead of surfacing a
      // schema-inference error
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  private def readDeltas(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/delta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("epoch=")))
      // mergeSchema: epochs may carry additively-evolved schemas; without
      // the merge the scan would silently pin one epoch's footer and DROP
      // the newer columns
      Some(spark.read.option("mergeSchema", "true").parquet(p.toString)
        .withColumn("_epoch", col("epoch").cast("long")).drop("epoch"))
    else None
  }
}
