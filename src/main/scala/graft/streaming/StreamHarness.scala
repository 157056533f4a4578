package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{concat_ws, hash}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Drives a genuinely-streaming (micro-batch) query over a sequence of
  * batches and hands back the collected sink as a DataFrame. This is how the
  * correctness gate exercises the *incremental* code paths
  * ([[StatefulOps]]) against the same DuckDB oracles as the batch forms:
  * state must carry correctly across micro-batch boundaries and event-time
  * timeouts must fire off the advancing watermark — exactly the semantics
  * the reference's Flink jobs rely on.
  *
  * One feed path, and the harness starts every query: batches stay
  * DATASETS end to end — each is written to parquet by an executor-side job
  * and streamed back through Spark's real file source, one chunk per
  * micro-batch (`feedFiles`). No rows pass through the driver and task
  * closures stay constant-size at every SF (the round-5 review measured
  * the old collect-fed closures at 9.3 MiB at sf0.1, growing linearly
  * with SF). The feed is a directory of files, so it can be replayed into
  * a fresh query. Two sink kinds:
  *  - [[runFiles]]: a memory sink the caller reads back ([[run]] wraps it
  *    for driver-held spec feeds);
  *  - [[runBatches]]: a checkpointed `foreachBatch` sink, returning the
  *    engine's epochIds.
  */
object StreamHarness {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Clone the session for one harness run: caller's runtime conf carried
    * over, shuffle partitions capped, RocksDB state store. The clone
    * (`newSession`: same SparkContext + cache, isolated SQLConf) is the
    * only session these settings touch, so concurrent harness runs never
    * race on shared session state and the caller's conf is never mutated.
    *
    * Shuffle partitions are capped at 8 for the query's lifetime: each
    * stateful operator commits one state-store instance PER shuffle
    * partition PER micro-batch, so a 32-partition session pays 4× the
    * store-commit overhead for gate-sized feeds (≤300k rows) with zero
    * parallelism gain — measured 2-3× wall-clock on the DWS window gates,
    * with 4 and 16 both slower than 8 at sf0.1/local[32]. Results are
    * partition-count independent; production sizing is the deployment's
    * own concern.
    *
    * The state store is ALWAYS RocksDB, whatever the caller set: it is the
    * only provider `transformWithState` runs on, and the store that holds
    * state > heap at production scale ([[graft.apps.GmallApp]] pins it
    * too). Gate results are provider-independent. */
  private[graft] def prepared(spark: SparkSession): SparkSession = {
    val session = spark.newSession()
    // newSession starts from the BUILDER's options; carry over any conf the
    // caller set at runtime so the clone behaves exactly like the caller's
    // session. Static confs are already shared and unsettable — skip them.
    spark.conf.getAll.foreach { case (k, v) =>
      if (!session.conf.getOption(k).contains(v)) {
        try session.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
    }
    val cap = 8
    val parts = session.conf.get("spark.sql.shuffle.partitions").toIntOption
    session.conf.set("spark.sql.shuffle.partitions",
      math.min(parts.getOrElse(cap), cap).toString)
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Caller-set values win over the defaults below (getAll holds only
    // explicitly-set entries; getOption would see the SQLConf default and
    // always look "set").
    val callerSet = spark.conf.getAll
    def default(k: String, v: String): Unit =
      if (!callerSet.contains(k)) session.conf.set(k, v)
    // Maintenance OFF the gate's critical path (r18, guide §5): the default
    // 60 s interval fires mid-gate, and a 4-join query at 8 partitions holds
    // 128 RocksDB instances whose concurrent snapshot uploads storm the
    // disk/CPU exactly while later batches commit (measured: commitTimeMs
    // 2.3 s/op on early batches → 10-20 s/op once maintenance kicks in).
    // Harness gates run minutes and their checkpoints are deleted on
    // return, so snapshot cadence buys nothing here; production tunes this
    // to its recovery RPO.
    default("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    // concurrent streaming queries on a saturated local[N] host can queue
    // a broadcast-exchange job past the 300 s default (observed: the
    // 17-query DAG gate at the ×10 bench leg); the timeout exists to
    // catch hung exchanges, not healthy queueing — give it an hour.
    default("spark.sql.broadcastTimeout", "3600")
    // RocksDB commit cost: in snapshot mode every commit checkpoints each
    // store's SST files, and row tracking reads every key before its
    // write. Changelog checkpointing writes only the batch's changes, and
    // the tracked row count feeds nothing but the numRowsTotal progress
    // metric (which then reads 0). The warehouse-DAG settle at
    // sf0.1/local[4], cold JVM, measured 384 s with neither (median of 3),
    // 293 s with changelog alone (1 run) and 175 s with both (median of 3);
    // the HDFS-backed store took 307 s (median of 3).
    default("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    default("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    session
  }

  /** [[runFiles]] over driver-held batches (specs, tiny literal feeds):
    * each `Seq` becomes one Dataset, then rides the same file feed. */
  def run[T](spark: SparkSession, batches: Seq[Seq[T]])(
      build: Dataset[T] => DataFrame)(implicit enc: Encoder[T]): DataFrame =
    runFiles(spark, batches.map(spark.createDataset(_)))(build)

  /** Unload every state-store provider the stopped query leaves loaded
    * (r18): with the long maintenance interval below, nothing else unloads
    * them until the next tick, so 40+ sequential streaming gates would
    * accumulate hundreds of live RocksDB instances (native memory +
    * background threads) across a bench run. Providers of a CONCURRENTLY
    * running query (the DAG settle's own members call this only after all
    * 17 stop) reload from their checkpoint on the next batch — the
    * engine's designed recovery path — so this is safe, just never free
    * for them; the harness runs gates sequentially. */
  private def unloadStateStores(): Unit =
    try org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess.unloadAll()
    catch { case e: Throwable =>
      System.err.println(s"[harness] StateStore.unloadAll failed (non-fatal): $e") }

  /** Stream EXECUTOR-fed batches into a memory sink: each batch Dataset is
    * written once to a parquet chunk (a distributed write job — no driver
    * collect, no rows in the task closure), then picked up by a REAL
    * `readStream.parquet` file source. Batch boundaries are exact: chunk i
    * is moved into the watched dir only after batch i−1's
    * `processAllAvailable` returns, so each chunk is one micro-batch in
    * feed order — the file-source analogue of Kafka offsets
    * ([[Sources.kafkaValues]] is the production binding;
    * utils/MyKafkaUtil.java:21-50).
    *
    * Within-batch row order is deterministically HASH-SCRAMBLED at write
    * time (the old driver feeds' explicit scramble, applied uniformly):
    * every [[StatefulOps]] processor re-sorts its group by
    * (event-time µs, id) per batch, and the scramble keeps the gates
    * proving that re-sort exists — callers control only batch
    * COMPOSITION, the thing that exercises cross-batch state.
    */
  def runFiles[T](spark: SparkSession, batches: Seq[Dataset[T]],
      stageKeyCols: Seq[String] = Nil)(
      build: Dataset[T] => DataFrame)(implicit enc: Encoder[T]): DataFrame = {
    val name = s"graft_mem_sink_${counter.incrementAndGet()}"
    val session = feedFiles(spark, batches.map(_.toDF()), enc.schema, stageKeyCols) {
      (stream, ckpt) =>
        build(stream.as[T](enc))
          .writeStream.format("memory").queryName(name).outputMode("append")
          .option("checkpointLocation", ckpt)
          .start()
    }
    session.table(name)
  }

  /** [[runFiles]]' feed into a checkpointed `foreachBatch` sink: each batch
    * DataFrame lands as exactly one micro-batch, in order, and `sink` sees
    * it under the engine's own epochId. The feed schema is the batches'
    * (positional, like [[runFiles]]' encoder schema). Returns the epochIds
    * in commit order — a crash-replay simulation re-delivers under the id
    * the engine actually assigned, never a guess about feed/batch
    * alignment. These sinks hold no state stores, yet they keep the
    * partition cap: a 1-2k-row ingest micro-batch runs dozens of jobs
    * whose 32-task shuffles would be pure task-launch overhead. */
  def runBatches(spark: SparkSession, batches: Seq[DataFrame])(
      sink: (DataFrame, Long) => Unit): Seq[Long] = {
    val epochs = scala.collection.mutable.ArrayBuffer.empty[Long]
    feedFiles(spark, batches, batches.head.schema) { (stream, ckpt) =>
      stream.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, epochId: Long) =>
          epochs.synchronized { epochs += epochId }
          sink(b, epochId)
        }
        .start()
    }
    epochs.synchronized(epochs.toList)
  }

  private def feedFiles(spark: SparkSession, batches: Seq[DataFrame],
      schemaOf: => StructType, stageKeyCols: Seq[String] = Nil)(
      start: (DataFrame, String) => StreamingQuery): SparkSession = {
    require(batches.nonEmpty, "file feed needs at least one batch")
    // file sources need an explicit schema; the feed's schema with relaxed
    // nullability (parquet stores everything nullable — runFiles' .as[T]
    // re-asserts non-null primitives exactly like any table read)
    val schema = StructType(schemaOf.fields.map(_.copy(nullable = true)))
    val session = prepared(spark)
    val root = java.nio.file.Paths.get(graft.core.TempDirs.scratch("graft_feed_"))
    try {
      val watched = root.resolve("in")
      Files.createDirectories(watched)
      val query = start(
        session.readStream.schema(schema).parquet(watched.toString),
        root.resolve("ckpt").toString)
      try batches.zipWithIndex.foreach { case (b, i) =>
        val stage = root.resolve(s"stage_$i")
        // write under the FEED's field names (parquet resolves by name): a
        // tuple Dataset built from a select keeps the select's column
        // names, not _1/_2 — the positional rename bridges the two. Rows
        // land in a deterministic HASH-SCRAMBLED order (the old driver
        // feeds' explicit scramble): a chunk written in source order would
        // let a processor that dropped its per-batch (µs, id) re-sort
        // still pass every gate.
        val named = b.toDF(schema.fieldNames.toIndexedSeq: _*)
        val scramble = hash(schema.fieldNames.map(named(_)): _*)
        if (stageKeyCols.isEmpty)
          named.coalesce(1)
            .sortWithinPartitions(scramble)
            .write.parquet(stage.toString)
        else {
          // OPT r18 (guide §2.4/§6): callers whose pipeline references the
          // file source many times and filters each reference by a staged
          // tag (q164's five-leg `ptable`) stage one FILE PER KEY instead
          // of one per chunk — each file is single-valued in the key, so
          // parquet row-group stats prune every other leg's bytes at the
          // scan, and the staging write itself runs wide (the coalesce(1)
          // path drags the whole upstream projection into one task —
          // measured 24 s single-task for q164's chunk 3). Determinism:
          // row→file is the key itself (dynamic-partition split after a
          // key repartition), within-file order is (scramble, every
          // column) — a total order up to fully-identical rows, so the
          // staged bytes never depend on task scheduling.
          val keyed = named.withColumn("_stage_key",
            concat_ws("\u0000", stageKeyCols.map(named(_)): _*))
          keyed.repartition(stageKeyCols.map(named(_)): _*)
            .sortWithinPartitions(
              (scramble +: schema.fieldNames.map(named(_))): _*)
            .write.partitionBy("_stage_key").parquet(stage.toString)
        }
        val parts = Files.walk(stage).iterator().asScala
          .map(_.toFile)
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .toArray.sortBy(_.getPath: String)
        parts.zipWithIndex.foreach { case (p, j) =>
          Files.move(p.toPath, watched.resolve(f"chunk-$i%05d-$j%03d.parquet"))
        }
        query.processAllAvailable()
      } finally query.stop()
    } finally {
      unloadStateStores()
      // one cleanup for every exit: feed-loop errors, stop() errors, AND
      // a start() that throws before any query exists
      org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile)
      // clone-keyed SessionCache entries (built by `start`'s plan under
      // this throwaway session) can never be reused once the query stops —
      // unpersist now; the memory sink the caller reads is materialized
      // rows, independent of the cached source plans
      graft.core.SessionCache.evictOwnedExactly(session)
    }
    session
  }
}
