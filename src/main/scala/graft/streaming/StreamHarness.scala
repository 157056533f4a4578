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

  /** Clone the session for one harness run: the caller's runtime conf
    * carried over, then [[graft.core.Engine.harness]]'s values set over it
    * (partitions capped at [[graft.core.Engine.HarnessPartitions]]). The
    * clone (`newSession`: same SparkContext + cache, isolated SQLConf) is
    * the only session these settings touch, so concurrent harness runs
    * never race on shared session state and the caller's conf is never
    * mutated. Every other setting is the caller's, which every entry
    * point builds through [[graft.core.Engine.configure]]. */
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
    val cap = graft.core.Engine.HarnessPartitions
    val parts = session.conf.get("spark.sql.shuffle.partitions").toIntOption
    graft.core.Engine.harness(session, math.min(parts.getOrElse(cap), cap))
  }

  /** [[runFiles]] over driver-held batches (specs, tiny literal feeds):
    * each `Seq` becomes one Dataset, then rides the same file feed. */
  def run[T](spark: SparkSession, batches: Seq[Seq[T]])(
      build: Dataset[T] => DataFrame)(implicit enc: Encoder[T]): DataFrame =
    runFiles(spark, batches.map(spark.createDataset(_)))(build)

  /** Unload every state-store provider the stopped query leaves loaded
    * (r18): with the harness's long maintenance interval nothing else unloads
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
