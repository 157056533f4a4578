package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
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

  /** K4 — keyed upsert sink (upsert-Kafka contract, utils/MyKafkaUtil.java:
    * 91-100): per micro-batch, keep only the LAST row per key (Maxwell `ts`
    * order), then merge into the keyed store at `path`: existing keys are
    * replaced, new keys appended. Consumers reading `path` see exactly the
    * compacted changelog a Kafka log-compacted topic would give them.
    *
    * Scale: the per-batch compaction is a window over the key — one shuffle
    * of batch-sized data; the merge rewrites only the store, which at real
    * scale becomes a Delta MERGE on the same keys (same plan shape).
    */
  def upsertByKey(batch: DataFrame, keyCols: Seq[String], orderCol: String,
      path: String, deleteKeys: Option[DataFrame] = None): Unit = {
    val spark = batch.sparkSession
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc)
    val compacted = batch
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
    // existence check and swap go through the SAME Hadoop FileSystem the
    // writes use — a java.nio check is wrong on any non-local URI
    // (hdfs://, s3a://) and would silently overwrite the first batch
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    // crash recovery FIRST: a previous run that died between set-aside and
    // publish left the only full copy at `_old` and no `dst` — restore it
    // before the `!exists(dst)` check below could mistake the store for
    // fresh and truncate it to one batch. A failed restore must ABORT
    // (the set-aside is the only copy).
    if (!fs.exists(dst) && fs.exists(old) && !fs.rename(old, dst))
      throw new java.io.IOException(s"upsertByKey: cannot restore $old")
    if (!fs.exists(dst)) {
      compacted.write.mode("overwrite").parquet(path)
      return
    }
    val existing = spark.read.parquet(path)
    // retired keys: rows upserted this batch (replaced) or explicitly
    // deleted (changelog `d` ops — the upsert-Kafka tombstone analogue)
    val retired = deleteKeys match {
      case Some(dk) => compacted.select(keyCols.map(col): _*)
        .unionByName(dk.select(keyCols.map(col): _*))
      case None => compacted.select(keyCols.map(col): _*)
    }
    val merged = existing
      .join(retired, keyCols, "left_anti")
      .unionByName(compacted)
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    merged.write.mode("overwrite").parquet(tmp.toString)
    // swap via rename-aside (single-writer micro-batch contract): every
    // crash window leaves either `dst` or `_old` holding the full store,
    // and the recovery above replays an interrupted swap
    fs.delete(old, true)
    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"upsertByKey: cannot set aside $dst")
    if (!fs.rename(tmp, dst)) {
      fs.rename(old, dst) // restore
      throw new java.io.IOException(s"upsertByKey: cannot publish $tmp")
    }
    fs.delete(old, true)
  }

  /** The store's live bucket count, persisted as `_NBUCKETS` inside the
    * store dir (underscore prefix → invisible to parquet partition
    * discovery, like `_SUCCESS`). The count is STORE state, not caller
    * state: `pmod(hash(keys), n)` is baked into the layout, so every
    * writer must use the count the store was written with — the caller's
    * `nBuckets` argument only seeds a store that has no meta yet (creation,
    * or a store from before this file existed). */
  private def readBucketMeta(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_NBUCKETS")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
      finally in.close()
    }
  }

  private def writeBucketMeta(fs: org.apache.hadoop.fs.FileSystem,
      path: String, n: Int): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/_NBUCKETS"), true)
    try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** [[upsertByKey]] for stores too big to rewrite per batch: the store is
    * hash-partitioned into `_bucket = pmod(hash(keys), nBuckets)` dirs and a
    * micro-batch rewrites ONLY the buckets its keys touch — per-batch I/O is
    * O(store/nBuckets · touched) instead of O(store), the partitioned-store
    * step the round-1 review asked for on the way to a real Delta MERGE.
    * Each touched bucket swaps via the same rename-aside protocol (crash
    * leaves that bucket's full old content at `_old`, recoverable).
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
    * in the store ([[readBucketMeta]]); the resize swap is its own
    * rename-aside (`_resize` build → set the store aside at `_retired` →
    * publish → drop), recovered at the top of every call, and the size
    * probe is one driver-side `getContentSummary` of a dir this call just
    * rewrote anyway.
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
    */
  def upsertByKeyPartitioned(batch: DataFrame, keyCols: Seq[String],
      orderCol: String, path: String, nBuckets: Int = 64,
      deleteKeys: Option[DataFrame] = None,
      targetBucketBytes: Long = 256L << 20): Unit = {
    val spark = batch.sparkSession
    val dst0 = new org.apache.hadoop.fs.Path(path)
    val fs = dst0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resize-crash recovery FIRST (a resize runs strictly after the bucket
    // swaps of its batch completed, so the two recovery scans never both
    // apply): `_retired` is the pre-resize store set aside during the swap
    val retiredRoot = new org.apache.hadoop.fs.Path(path + "_retired")
    val resizeTmp = new org.apache.hadoop.fs.Path(path + "_resize")
    if (fs.exists(retiredRoot)) {
      if (!fs.exists(dst0) && !fs.rename(retiredRoot, dst0))
        throw new java.io.IOException(
          s"upsertByKeyPartitioned: cannot restore $retiredRoot")
      fs.delete(retiredRoot, true) // no-op if the rename above consumed it
    }
    fs.delete(resizeTmp, true) // a half-built resize is never the only copy
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
    // (they land via `compacted` after the anti-join), matching
    // [[upsertByKey]].
    val tombstones = deleteKeys.map(dk =>
      bucketed(dk.select(keyCols.map(col): _*)).persist())
    try {
      val dst = dst0
      // crash recovery FIRST: restore any bucket whose previous swap died
      // between set-aside and publish (bDst missing, set-aside present) —
      // including buckets the CURRENT batch does not touch
      val oldRoot = new org.apache.hadoop.fs.Path(path + "_old")
      if (fs.exists(oldRoot)) {
        fs.listStatus(oldRoot).foreach { st =>
          val bDst = new org.apache.hadoop.fs.Path(s"$path/${st.getPath.getName}")
          // a failed restore must ABORT: the set-aside is that bucket's
          // only copy, and the delete below would erase it
          if (!fs.exists(bDst) && !fs.rename(st.getPath, bDst))
            throw new java.io.IOException(
              s"upsertByKeyPartitioned: cannot restore ${st.getPath}")
        }
        fs.delete(oldRoot, true) // remaining set-asides were completed swaps
      }
      if (!fs.exists(dst)) {
        // nothing to create from a tombstone-only batch: an empty
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
      val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
      merged.write.partitionBy("_bucket").mode("overwrite").parquet(tmp.toString)
      // per-bucket rename-aside swap; set-asides live OUTSIDE the store
      // root (a leftover non-`_bucket=N` dir inside `path` would poison
      // partition discovery), and every crash window leaves each bucket's
      // full content at either its dst or its set-aside for the recovery
      // scan above
      fs.mkdirs(oldRoot)
      touched.foreach { b =>
        val bNew = new org.apache.hadoop.fs.Path(s"$tmp/_bucket=$b")
        val bDst = new org.apache.hadoop.fs.Path(s"$path/_bucket=$b")
        val bOld = new org.apache.hadoop.fs.Path(s"$oldRoot/_bucket=$b")
        if (fs.exists(bDst) && !fs.rename(bDst, bOld))
          throw new java.io.IOException(s"upsertByKeyPartitioned: cannot set aside $bDst")
        if (fs.exists(bNew)) {
          if (!fs.rename(bNew, bDst)) {
            fs.rename(bOld, bDst) // restore
            throw new java.io.IOException(s"upsertByKeyPartitioned: cannot publish $bNew")
          }
        }
        // else: tombstones emptied the bucket — publishing nothing IS the
        // new content (a crash before the delete below re-runs the same
        // merge, so the set-aside is never the only copy of live keys)
        fs.delete(bOld, true)
      }
      fs.delete(tmp, true)
      fs.delete(oldRoot, true)
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
        val rehashed = spark.read.parquet(path).drop("_bucket")
        rehashed
          .withColumn("_bucket", pmod(hash(keyCols.map(col): _*), lit(newN)))
          .write.partitionBy("_bucket").mode("overwrite")
          .parquet(resizeTmp.toString)
        writeBucketMeta(fs, resizeTmp.toString, newN)
        // whole-store rename-aside swap; every crash window leaves a full
        // copy at dst or _retired, replayed by the recovery at call start
        if (!fs.rename(dst, retiredRoot))
          throw new java.io.IOException(
            s"upsertByKeyPartitioned: cannot set aside $dst for resize")
        if (!fs.rename(resizeTmp, dst)) {
          fs.rename(retiredRoot, dst) // restore
          throw new java.io.IOException(
            s"upsertByKeyPartitioned: cannot publish resized $resizeTmp")
        }
        fs.delete(retiredRoot, true)
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

  /** [[orderedBatchSink]] to parquet (the original signature). */
  def orderedBatchSink[T](ds: Dataset[T], transientCols: Seq[String],
      path: String): Unit =
    orderedBatchSink(ds, transientCols, ParquetTarget(path))

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
            val root = new org.apache.hadoop.fs.Path(path)
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
