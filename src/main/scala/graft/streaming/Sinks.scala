package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery

/** Sink layer (SURVEY.md §2.2): the reference's Kafka/upsert-Kafka/JDBC/
  * Phoenix sinks re-expressed as `foreachBatch` writers. File-backed (the
  * test/bench environment has no Kafka/ClickHouse); the contracts —
  * keyed upsert, field-order batching, multi-sink fan-out — are the real
  * thing.
  */
object Sinks {

  /** The one rename-aside swap every store writer publishes through: set
    * the live `dst` aside at `aside`, move `staged` into its place, drop
    * the set-aside. Every crash window leaves the full content at `dst`
    * or at `aside`, and [[recover]] (run first here, and by each writer
    * before it reads its store) replays an interrupted swap. A missing
    * `dst` is simply published; a missing `staged` leaves `dst` absent —
    * a bucket the batch's tombstones emptied. Existence checks and renames
    * go through the Hadoop FileSystem the writes use, so a non-local URI
    * (hdfs://, s3a://) swaps correctly. */
  private[graft] def publish(fs: FileSystem, staged: Path, dst: Path,
      aside: Path): Unit = {
    recover(fs, dst, aside) // a stale set-aside must not swallow this one
    if (fs.exists(dst) && !fs.rename(dst, aside))
      throw new java.io.IOException(s"cannot set aside $dst")
    if (fs.exists(staged) && !fs.rename(staged, dst)) {
      fs.rename(aside, dst) // restore
      throw new java.io.IOException(s"cannot publish $staged")
    }
    fs.delete(aside, true)
  }

  /** Replay an interrupted [[publish]]: a set-aside with no `dst` beside
    * it is the only full copy and is restored — a failed restore aborts,
    * since nothing else holds that content; a set-aside beside a
    * published `dst` is a completed swap's leftover and is dropped. */
  private[graft] def recover(fs: FileSystem, dst: Path, aside: Path): Unit =
    if (fs.exists(aside)) {
      if (!fs.exists(dst) && !fs.rename(aside, dst))
        throw new java.io.IOException(s"cannot restore $aside")
      fs.delete(aside, true) // no-op when the restore consumed it
    }

  /** Recovery of the [[upsertByKeyPartitioned]] store at `path`: replay
    * an interrupted resize swap (the store set aside at `_retired`), drop
    * a half-built `_resize` (never the only copy), and replay each bucket
    * swap set aside under `_old` — including buckets the next batch does
    * not touch. The store's writer runs this before it reads or merges
    * the store; a reader that may run beside the writer must not, since
    * recovery renames. */
  private[graft] def recoverStore(spark: SparkSession, path: String): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a resize runs strictly after its batch's bucket swaps completed, so
    // the resize and bucket set-asides never both need restoring
    recover(fs, dst, new Path(path + "_retired"))
    fs.delete(new Path(path + "_resize"), true)
    val oldRoot = new Path(path + "_old")
    if (fs.exists(oldRoot)) {
      fs.listStatus(oldRoot).foreach(st =>
        recover(fs, new Path(dst, st.getPath.getName), st.getPath))
      fs.delete(oldRoot, true)
    }
  }

  /** The store's live bucket count, persisted as `_NBUCKETS` inside the
    * store dir (underscore prefix → invisible to parquet partition
    * discovery, like `_SUCCESS`). The count is STORE state, not caller
    * state: `pmod(hash(keys), n)` is baked into the layout, so every
    * writer must use the count the store was written with — the caller's
    * `nBuckets` argument only seeds a store that has no meta yet (creation,
    * or a store from before this file existed). */
  private def readBucketMeta(fs: FileSystem, path: String): Option[Int] = {
    val p = new Path(s"$path/_NBUCKETS")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
      finally in.close()
    }
  }

  private def writeBucketMeta(fs: FileSystem, path: String, n: Int): Unit = {
    val out = fs.create(new Path(s"$path/_NBUCKETS"), true)
    try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** K4 — keyed upsert sink (upsert-Kafka contract, utils/MyKafkaUtil.java:
    * 91-100): per micro-batch, keep only the LAST row per key (`orderCol`
    * order), then merge into the keyed store at `path`: existing keys are
    * replaced, new keys appended, `deleteKeys` retired (changelog `d` ops —
    * the upsert-Kafka tombstone). Consumers reading `path` see exactly the
    * compacted changelog a Kafka log-compacted topic would give them.
    *
    * The store is hash-partitioned into `_bucket = pmod(hash(keys),
    * nBuckets)` dirs and a micro-batch rewrites ONLY the buckets its keys
    * touch — per-batch I/O is O(store/nBuckets · touched) instead of
    * O(store), the partitioned-store step on the way to a real Delta
    * MERGE (same plan shape). Each touched bucket swaps through
    * [[publish]] (a crash leaves that bucket's full old content under
    * `_old`, restored by [[recoverStore]] at the top of the next call).
    *
    * BUCKET GROWTH (the 100 TB knob): a fixed bucket count means per-batch
    * I/O grows O(corpus/nBuckets) as the store fills. So after each merge,
    * if the average bucket exceeds `targetBucketBytes` the store is
    * re-hashed with the bucket count doubled (repeatedly, until the average
    * fits) — the classic dynamic-hashing resize: whole-store rewrites
    * happen only at geometrically-spaced sizes, so total resize I/O over a
    * store's life is < 2× its final size, amortized O(1) per upserted row,
    * and the steady-state touched-bucket rewrite stays
    * O(touched × targetBucketBytes). The live count persists as `_NBUCKETS`
    * in the store ([[readBucketMeta]]); the resize builds at `_resize` and
    * swaps the whole store through [[publish]] with `_retired` as the
    * set-aside, and the size probe is one driver-side `getContentSummary`
    * of a dir this call just rewrote anyway.
    *
    * REPLAY CONTRACT for `deleteKeys`: recovery restores any set-aside
    * bucket whose publish did not complete — including a bucket a
    * tombstone batch emptied, if the crash hit between its set-aside and
    * the set-aside's delete. The next call's recovery then resurrects the
    * retired keys UNTIL the same batch is replayed (replaying re-retires
    * them; that is what every checkpointed `foreachBatch` caller does on
    * restart, and [[DeltaStore.compact]] re-applies the same deltas). A
    * direct caller that issues deletes WITHOUT replaying the identical
    * batch after a crash can therefore observe deleted rows come back —
    * drive deletes through a replayed changelog, never fire-and-forget.
    * A store whose every bucket was emptied holds no parquet; the next
    * upsert re-creates it at the store's bucket count.
    */
  def upsertByKeyPartitioned(batch: DataFrame, keyCols: Seq[String],
      orderCol: String, path: String, nBuckets: Int = 64,
      deleteKeys: Option[DataFrame] = None,
      targetBucketBytes: Long = 256L << 20): Unit = {
    val spark = batch.sparkSession
    recoverStore(spark, path)
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the STORE's bucket count wins over the caller's (layout is baked in)
    val nB = readBucketMeta(fs, path).getOrElse(nBuckets)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc)
    def bucketed(df: DataFrame) =
      df.withColumn("_bucket", pmod(hash(keyCols.map(col): _*), lit(nB)))
    val compacted = bucketed(batch
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn"))
      .persist() // consumed twice: touched-bucket collect + the merge write
    // tombstones (changelog `d` ops): their keys retire from the store and
    // their buckets count as touched even when the batch upserts nothing
    // there; same-batch upserts win over a tombstone for the same key
    // (they land via `compacted` after the anti-join)
    val tombstones = deleteKeys.map(dk =>
      bucketed(dk.select(keyCols.map(col): _*)).persist())
    try {
      if (!fs.exists(dst) ||
          !fs.listStatus(dst).exists(_.getPath.getName.startsWith("_bucket="))) {
        // a new store, or one whose every key was retired (no bucket dir
        // left, so no schema to read): (re)create it at the store's
        // count. Nothing to create from a tombstone-only batch: an empty
        // partitioned write would leave a dir with no readable parquet
        if (!compacted.isEmpty) {
          compacted.write.partitionBy("_bucket").mode("overwrite").parquet(path)
          writeBucketMeta(fs, path, nB)
        }
        return
      }
      val touchedDf = tombstones match {
        case Some(t) => compacted.select(col("_bucket"))
          .unionByName(t.select(col("_bucket")))
        case None => compacted.select(col("_bucket"))
      }
      val touched = touchedDf.distinct()
        .collect().map(_.getInt(0)).sorted // ≤ nBuckets values, driver-safe
      val retired = tombstones match {
        case Some(t) => compacted.select(keyCols.map(col): _*)
          .unionByName(t.select(keyCols.map(col): _*))
        case None => compacted.select(keyCols.map(col): _*)
      }
      val existing = spark.read.parquet(path)
        .where(col("_bucket").isin(touched.map(Int.box): _*))
      val merged = existing
        .join(retired, keyCols, "left_anti")
        .unionByName(compacted)
      val tmp = path + "_tmp"
      merged.write.partitionBy("_bucket").mode("overwrite").parquet(tmp)
      // per-bucket swap; set-asides live OUTSIDE the store root (a
      // leftover non-`_bucket=N` dir inside `path` would poison partition
      // discovery). A bucket the tombstones emptied has no staged dir:
      // publishing nothing IS its new content (a crash before the
      // set-aside's delete re-runs the same merge on replay)
      val oldRoot = path + "_old"
      fs.mkdirs(new Path(oldRoot))
      touched.foreach { b =>
        publish(fs, new Path(s"$tmp/_bucket=$b"), new Path(s"$path/_bucket=$b"),
          new Path(s"$oldRoot/_bucket=$b"))
      }
      fs.delete(new Path(tmp), true)
      fs.delete(new Path(oldRoot), true)
      // make sure a pre-meta (legacy) store records the count it is
      // actually laid out with before any resize can change it
      if (readBucketMeta(fs, path).isEmpty) writeBucketMeta(fs, path, nB)
      // growth check: double the bucket count until the average bucket
      // fits the target again (geometric resizes → amortized O(1)/row)
      val storeBytes = fs.getContentSummary(dst).getLength
      if (storeBytes / nB > targetBucketBytes) {
        var newN = nB
        while (storeBytes / newN > targetBucketBytes && newN < (1 << 20))
          newN *= 2
        val resizeTmp = path + "_resize"
        spark.read.parquet(path).drop("_bucket")
          .withColumn("_bucket", pmod(hash(keyCols.map(col): _*), lit(newN)))
          .write.partitionBy("_bucket").mode("overwrite").parquet(resizeTmp)
        writeBucketMeta(fs, resizeTmp, newN)
        publish(fs, new Path(resizeTmp), dst, new Path(path + "_retired"))
      }
    } finally {
      compacted.unpersist()
      tombstones.foreach(_.unpersist())
      ()
    }
  }

  /** Target for [[orderedBatchSink]]: a parquet path (this environment's
    * analogue) or a real JDBC table — the reference's ClickHouse binding
    * (utils/MyClickHouseUtil.java:80-129 builds `insert into t values(?,…)`
    * over declaration-ordered bean fields; `df.write.jdbc` issues the same
    * ordered INSERT batches, with key dedup delegated to the target
    * engine, e.g. ClickHouse ReplacingMergeTree in the reference's DDL). */
  sealed trait BatchTarget
  final case class ParquetTarget(path: String) extends BatchTarget
  final case class JdbcTarget(url: String, table: String,
      properties: java.util.Properties = new java.util.Properties) extends BatchTarget

  /** K5 — batch sink honoring declared field order (the reference maps bean
    * fields to JDBC `?`s by declaration order, utils/MyClickHouseUtil.java:
    * 97-118, skipping @TransientSink fields). Encoder schema order is the
    * Scala analogue; `transientCols` = the annotation. The projection (and
    * its order) is identical for every target — [[JdbcTarget]] is the
    * production binding, executed and oracle-gated against embedded Derby
    * (q174; the batched-INSERT path is the same for any server target,
    * only the URL/dialect change). */
  def orderedBatchSink[T](ds: Dataset[T], transientCols: Seq[String],
      target: BatchTarget): Unit = {
    val cols = ds.schema.fieldNames.filterNot(transientCols.contains)
    val projected = ds.toDF().select(cols.map(col): _*)
    target match {
      case ParquetTarget(p) => projected.write.mode("append").parquet(p)
      case JdbcTarget(url, table, props) =>
        projected.write.mode("append").jdbc(url, table, props)
    }
  }

  /** P7 multi-sink fan-out: run one streaming query whose every micro-batch
    * is persisted once and written to N sinks — the Spark replacement for
    * Flink side outputs (SURVEY §7.3 #4: N independent queries would
    * re-execute the source N times). Each epoch overwrites its own
    * `epoch=N` subdir per sink, so a replayed micro-batch (or a crash
    * mid-fan-out) re-writes the same dirs instead of appending duplicates
    * — exactly-once per (sink, epoch). This is the K1-K3 append path (the
    * Kafka producer analogue): a restart on the same checkpoint resumes
    * after the last committed epoch.
    *
    * READER CONTRACT: each sink path is an epoch-partitioned store
    * (`path/epoch=N`, partition column `epoch`) — the analogue of a Kafka
    * topic, where `epoch` plays the offset. Like a topic it needs
    * RETENTION at production cadence or the epoch dirs accumulate without
    * bound: pass `retainEpochs = Some(n)` to drop epochs older than
    * `current − n` once their consumers are past them (the Kafka
    * `retention.ms` analogue; deletion is idempotent and crash-safe —
    * a replayed batch only ever rewrites epochs inside the retained
    * window). Sinks needing the full compacted history instead of a
    * retention window are keyed stores — route them through
    * [[upsertByKeyPartitioned]], which rewrites only touched buckets.
    * The default `None` (keep everything) is for bounded test/gate runs.
    * The query runs on the DAG's shared trigger,
    * [[graft.apps.GmallApp.DagTrigger]]. */
  def fanOut(df: DataFrame, checkpoint: String, retainEpochs: Option[Int] = None)(
      sinks: (String, DataFrame => DataFrame, String)*): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(graft.apps.GmallApp.DagTrigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        batch.persist()
        try sinks.foreach { case (_, transform, path) =>
          transform(batch).write.mode("overwrite").parquet(s"$path/epoch=$epochId")
          retainEpochs.foreach { keep =>
            val root = new Path(path)
            val fs = root.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
            if (fs.exists(root)) fs.listStatus(root).foreach { st =>
              val name = st.getPath.getName
              if (name.startsWith("epoch=") &&
                  name.drop(6).toLongOption.exists(_ < epochId - keep))
                fs.delete(st.getPath, true)
            }
          }
        } finally batch.unpersist()
        ()
      }
      .start()
}
