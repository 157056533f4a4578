package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X2 — TTL'd lookup-dimension cache. The reference bounds dim staleness
  * with a JDBC lookup cache TTL of at most one hour
  * (utils/MysqlUtil.java:22-23, `'lookup.cache.ttl' = '1 hour'`); here a
  * loader re-materializes the dim DataFrame once the TTL lapses and hands
  * back the cached (persisted, broadcast-ready) frame otherwise. Call
  * [[get]] inside `foreachBatch` — every micro-batch sees dim data at most
  * `ttlMillis` stale, and the dim source is NOT re-scanned per batch
  * within the TTL.
  *
  * The clock is injectable so tests can drive expiry deterministically.
  */
class DimCache(
    loader: () => DataFrame,
    ttlMillis: Long,
    clock: () => Long = () => System.currentTimeMillis()) {

  @volatile private var cached: (Long, DataFrame) = _
  @volatile private var loads = 0

  /** Number of times the loader has actually run (observability + spec). */
  def loadCount: Int = loads

  def get(): DataFrame = {
    val c = cached
    if (c == null || clock() - c._1 >= ttlMillis) synchronized {
      val c2 = cached
      if (c2 == null || clock() - c2._1 >= ttlMillis) {
        // localCheckpoint (eager): materializes AND truncates lineage, so
        // the snapshot no longer references the source — a concurrent
        // overwrite of the dim path can neither corrupt a half-read batch
        // nor silently early-refresh it via catalog cache invalidation.
        // Replaced generations are NOT manually unpersisted: a reader may
        // still be mid-batch on ANY older generation (however many TTLs
        // have lapsed), and a lineage-truncated frame has no recompute
        // path if its blocks vanish. Dropping our reference instead
        // delegates cleanup to Spark's ContextCleaner, which unpersists a
        // checkpoint's blocks only once no live reference remains —
        // i.e. exactly when the last reader is done with it.
        val df = loader().localCheckpoint(true)
        cached = (clock(), df)
        loads += 1
      }
    }
    cached._2
  }
}

/** Dynamic DIM sink-table management — the Spark analogue of the
  * reference's Phoenix-side half of the DIM pipeline
  * (app/func/TableProcessFunction.java:215-274 `checkAndCreateTable` +
  * app/func/DimSinkFunction.java upsert): each configured sink table is a
  * keyed, bucketed parquet store under `root`, CREATED on first sight with
  * exactly the configured sink columns (+ the Maxwell ts as the upsert
  * order column), then upserted per micro-batch on the configured primary
  * key by [[mergeBatch]] (the Phoenix UPSERT contract).
  *
  * Scale: each table's store is independent; the per-batch work is one
  * key-compaction shuffle per touched table over batch-sized data, and it
  * rewrites only the buckets the batch's keys hash into.
  */
object DimSink {

  /** One row of the reference's table_process config
    * (sink_table/sink_columns/sink_pk, TableProcessFunction.java:187-193). */
  case class TableConfig(sinkTable: String, sinkColumns: Seq[String], sinkPk: String)

  /** Sink one micro-batch of [[graft.apps.GmallPipelines.dimRouter]] output
    * (sink_table, data, type, ts) into the bucketed layout [[readDelta]]
    * reads: for each configured table the batch touches, the pruned `data`
    * map is projected to the declared columns and upserted on the declared
    * pk. Tables appear dynamically — a config row added mid-stream gets
    * its store created at its first non-empty batch. The rows merge
    * straight into `<table>/base` through [[Sinks.upsertByKeyPartitioned]]
    * and leave no delta epoch behind — the production DIM path
    * ([[graft.apps.GmallApp.dimQuery]]). One action
    * over the persisted batch finds the touched tables. A touched table's
    * pending delta epochs (a [[processBatchDelta]] store, or one a crash
    * left between its append and its compaction) fold into the base
    * first with [[DeltaStore.compact]], so they can never shadow the
    * newer rows merged here; with nothing pending that is one listing.
    * A replayed batch re-merges the same rows, which is idempotent. */
  def mergeBatch(batch: DataFrame, root: String, configs: Seq[TableConfig]): Unit = {
    val spark = batch.sparkSession
    batch.persist()
    try {
      val touched = batch.select(col("sink_table")).distinct()
        .collect().map(_.getString(0)).toSet
      configs.filter(c => touched(c.sinkTable)).foreach { cfg =>
        val path = s"$root/${cfg.sinkTable}"
        DeltaStore.compact(spark, path, Seq(cfg.sinkPk), "ts")
        Sinks.upsertByKeyPartitioned(pruned(batch, cfg), Seq(cfg.sinkPk), "ts",
          s"$path/base")
      }
    } finally { batch.unpersist(); () }
  }

  /** One configured table's pruned projection of a router batch. */
  private def pruned(batch: DataFrame, cfg: TableConfig): DataFrame =
    batch.where(col("sink_table") === cfg.sinkTable)
      .select(cfg.sinkColumns.map(c => element_at(col("data"), c).as(c)) :+
        col("ts"): _*)

  /** [[mergeBatch]]'s routing with each dim table written through the
    * [[DeltaStore]] LSM path: a batch costs one O(batch) epoch append per
    * touched table instead of a bucket rewrite; run [[DeltaStore.compact]]
    * on whatever schedule read amplification warrants. Replayed epochs
    * overwrite their own delta dir, so restart semantics stay
    * exactly-once per (table, epoch). Read the compacted view with
    * [[readDelta]]. The production DIM query merges with [[mergeBatch]]
    * instead; the remaining callers are DimSinkSpec and the perfbench
    * layer replay. The same LSM path still backs [[processBatchCdc]]. */
  def processBatchDelta(batch: DataFrame, root: String,
      configs: Seq[TableConfig], epochId: Long): Unit = {
    batch.persist()
    try configs.foreach { cfg =>
      val rows = pruned(batch, cfg)
      if (!rows.isEmpty)
        DeltaStore.append(rows, Seq(cfg.sinkPk), "ts",
          s"$root/${cfg.sinkTable}", epochId)
    } finally { batch.unpersist(); () }
  }

  /** Compacted current state of a [[processBatchDelta]]-backed dim table
    * (base ∪ pending deltas, newest row per pk). */
  def readDelta(spark: SparkSession, root: String, cfg: TableConfig): DataFrame =
    DeltaStore.read(spark, s"$root/${cfg.sinkTable}", Seq(cfg.sinkPk), "ts")

  /** S4 DATA PLANE — per-record CDC dim maintenance: route one micro-batch
    * of parsed Debezium row envelopes
    * ([[graft.core.Envelopes.parseDebeziumRows]]) into each routed dim's
    * [[DeltaStore]] epoch. Record→config routing by `source.table` and the
    * prune to the configured sink columns mirror the reference's broadcast
    * lookup + filterColumn (app/func/TableProcessFunction.java:287-298,
    * 306-325); the op split adds the delete leg the reference's Maxwell
    * dim path drops on the floor (app/dim/DimApp.java:142-160 filters
    * deletes out before they reach Phoenix): op c/r/u upserts the `after`
    * row, op d rides as a tombstone keyed by `before[sinkPk]` (a Debezium
    * delete carries its row image in `before`), so an upstream-deleted dim
    * row disappears from [[readDelta]]. Exactly-once per (table, epoch):
    * a replayed batch overwrites its own epoch dir — including its
    * tombstones — so crash-redelivery cannot resurrect a deleted key. Call
    * it from a checkpointed `foreachBatch` with the engine's epochId (q100
    * drives it through [[StreamHarness.runBatches]]). */
  def processBatchCdc(parsed: DataFrame, root: String,
      routes: Map[String, TableConfig], epochId: Long): CdcBatchStats = {
    parsed.persist()
    try {
      val tables = routes.keys.toSeq
      val corrupt =
        if (parsed.columns.contains(graft.core.Envelopes.Corrupt))
          col(graft.core.Envelopes.Corrupt).isNotNull
        else lit(false)
      // a clean row with a NULL/unknown source.table has no route — the
      // coalesce keeps the null case counted (isin(null) is null, not true)
      val unrouted = !corrupt && (
        if (tables.isEmpty) lit(true)
        else coalesce(!col("source.table").isin(tables: _*), lit(true)))
      // ONE aggregate action carries the dirty-side observability counts
      // AND every routed table's emptiness probe — this used to be two
      // extra Spark actions per (table, epoch)
      val aggs =
        count(lit(1)).as("_total") +:
          count(when(corrupt, 1)).as("_corrupt") +:
          count(when(unrouted, 1)).as("_unrouted") +:
          tables.zipWithIndex.flatMap { case (t, i) =>
            Seq(
              count(when(col("source.table") === t
                && col("op").isin("c", "r", "u"), 1)).as(s"_u$i"),
              count(when(col("source.table") === t
                && col("op") === "d", 1)).as(s"_d$i"))
          }
      val st = parsed.agg(aggs.head, aggs.tail: _*).head()
      val stats = CdcBatchStats(st.getLong(0), st.getLong(1), st.getLong(2))
      // the reference keeps a dirty side output (TableProcessFunction's
      // unrouted records just vanish; BaseLogApp routes dirty JSON to a
      // side topic) — surface the drop instead of silently eating it
      if (stats.corrupt > 0 || stats.unrouted > 0)
        log.warn(s"processBatchCdc epoch $epochId: dropping ${stats.corrupt} " +
          s"corrupt + ${stats.unrouted} unrouted of ${stats.total} rows")
      tables.zipWithIndex.foreach { case (sourceTable, i) =>
        if (st.getLong(3 + 2 * i) > 0 || st.getLong(4 + 2 * i) > 0) {
          val cfg = routes(sourceTable)
          val forTable = parsed.where(col("source.table") === sourceTable)
          val ups = forTable.where(col("op").isin("c", "r", "u"))
            .select(cfg.sinkColumns.map(c => element_at(col("after"), c).as(c)) :+
              col("ts_ms").as("ts"): _*)
          // the tombstone carries ts_ms so a delete landing in the SAME
          // micro-batch as an earlier upsert of its key still retires it —
          // in-epoch resolution follows changelog order (DeltaStore.append)
          val dels = forTable.where(col("op") === "d")
            .select(element_at(col("before"), cfg.sinkPk).as(cfg.sinkPk),
              col("ts_ms").as("ts"))
          DeltaStore.append(ups, Seq(cfg.sinkPk), "ts",
            s"$root/${cfg.sinkTable}", epochId, deleteKeys = Some(dels))
        }
      }
      stats
    } finally { parsed.unpersist(); () }
  }

  /** [[processBatchCdc]]'s per-batch routing observability: `corrupt` =
    * JSON-parse failures, `unrouted` = clean rows whose `source.table` has
    * no configured route — both logged (the reference keeps a dirty side
    * output) and returned for specs/monitors. */
  final case class CdcBatchStats(total: Long, corrupt: Long, unrouted: Long)

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.DimSink")

  /** K6 on a JDBC target: the same pruned, column-ordered projection
    * written through `df.write.jdbc` — the binding a Phoenix/ClickHouse
    * deployment plugs its URL into (reference upsert contract:
    * app/func/DimSinkFunction.java builds per-row UPSERTs;
    * ClickHouse-style engines dedup on the sort key instead). Executed and
    * oracle-gated against embedded Derby (q175), including the replay
    * hazard below.
    *
    * REPLAY HAZARD (unlike [[mergeBatch]]/[[processBatchDelta]], which
    * are replay-idempotent): this writes `mode("append")` rows, NOT keyed
    * upserts — on checkpointed `foreachBatch` replay after a crash, the
    * re-delivered batch lands twice on any target that does not collapse
    * duplicates on `cfg.sinkPk`. Safe only against targets with key-merge
    * semantics (Phoenix UPSERT VALUES, ClickHouse ReplacingMergeTree on
    * the pk sort key — the reference's two actual sinks). To make replays
    * self-identifying for anything else, every row carries the batch's
    * `epochId` in the `_epoch` column: a staging-table MERGE keyed on
    * (pk, _epoch) — or a `DELETE WHERE _epoch = ?` pre-pass — restores
    * exactly-once. `cfg.sinkPk` is required non-empty so the key contract
    * is visible at the call site even though this binding can't enforce
    * it server-side. */
  def processBatchJdbc(batch: DataFrame, url: String, configs: Seq[TableConfig],
      epochId: Long,
      properties: java.util.Properties = new java.util.Properties): Unit = {
    batch.persist()
    try configs.foreach { cfg =>
      require(cfg.sinkPk.nonEmpty,
        s"processBatchJdbc(${cfg.sinkTable}): sinkPk must name the upsert key " +
          "— append-mode JDBC replay is only exactly-once on a key-merging target")
      val rows = pruned(batch, cfg)
      if (!rows.isEmpty)
        rows.withColumn("_epoch", lit(epochId))
          .write.mode("append").jdbc(url, cfg.sinkTable, properties)
    } finally { batch.unpersist(); () }
  }
}
