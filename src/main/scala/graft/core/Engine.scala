package graft.core

import org.apache.spark.sql.SparkSession

/** The engine policy, in one place. Every entry point that builds a
  * session passes its builder through [[configure]] once; the gate
  * harness's clones then set only [[HarnessKeys]] over their caller
  * ([[harness]]). So production differs from the gates in two values: the
  * maintenance interval (Spark's 60 s against [[HarnessMaintenance]]) and
  * the shuffle partitions (Spark's 200 against [[HarnessPartitions]] or
  * [[DagPartitions]]). Deployment settings stay with each entry point:
  * master, CPU count and the batch partitions sized from it, the FAIR
  * pool file and the UI switch. */
object Engine {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val PartitionsKey = "spark.sql.shuffle.partitions"
  private val MaintenanceKey = "spark.sql.streaming.stateStore.maintenanceInterval"

  /** The session defaults every entry point shares. */
  val Defaults: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    // the graft SQL functions and the GlobalWindowTopK optimizer rule in
    // every session; harness clones (`newSession`) inherit them
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // the only provider transformWithState runs on, and the store that
    // holds state larger than the heap at production scale
    ProviderKey -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // RocksDB commit cost: in snapshot mode every commit checkpoints each
    // store's SST files, and row tracking reads every key before its
    // write. Changelog checkpointing writes only the batch's changes, and
    // the tracked row count feeds nothing but the numRowsTotal progress
    // metric (which then reads 0). When these were chosen, the
    // warehouse-DAG settle at sf0.1/local[4], cold JVM, took 384 s with
    // neither (median of 3), 293 s with changelog alone (1 run), 175 s
    // with both (median of 3) and 307 s on the HDFS store (median of 3).
    // Later pipeline changes slowed it: with both, a re-measure (q110
    // cold, 4 runs) took 260-330 s.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
    // concurrent streaming queries on a saturated local[N] host can queue
    // a broadcast-exchange job past the 300 s default (observed: the
    // 17-query DAG gate at the ×10 bench leg, even under FAIR
    // scheduling); the timeout exists to catch hung exchanges, not
    // healthy queueing — give it an hour.
    "spark.sql.broadcastTimeout" -> "3600",
    // Spark's generated-class cache keeps 100 classes, fewer than the
    // warehouse DAG's concurrent queries use, so every round evicts and
    // recompiles them (Janino, then C2 on the new bytecode): a perfbench
    // dag_trickle round compiled 674-690 classes at 100 and 68-74 (mostly
    // per-batch watermark predicates) at 1000, and q110's sf0.1 settle
    // 2087-2450 against 939-951.
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** Apply [[Defaults]] to a session builder. A key given as a JVM system
    * property (`-Dspark.…`, or spark-submit's `--conf`, which it passes on
    * as one) keeps that value, so deployments and A/B runs can still
    * override a default. */
  def configure(builder: SparkSession.Builder): SparkSession.Builder =
    builder.config(Defaults.filter { case (k, _) => !sys.props.contains(k) })

  /** Shuffle-partition cap of a harness gate's clone. Each stateful
    * operator commits one state-store instance PER shuffle partition PER
    * micro-batch, so a 32-partition session pays 4× the store-commit
    * overhead for gate-sized feeds (≤300k rows) with no parallelism gain:
    * measured 2-3× wall-clock on the DWS window gates, with 4 and 16 both
    * slower than 8 at sf0.1/local[32]. Results do not depend on it. */
  val HarnessPartitions = 8

  /** Shuffle partitions of the warehouse-DAG settle. Its ~17 queries run
    * concurrently, so cross-query parallelism already fills the host and
    * per-query partitions only multiply state-store commits: interleaved
    * A/B on a clean host measured the whole sf0.1 charge at 75.7/76.2 s
    * with 4 partitions against 103.3/88.5 s with 8, on the HDFS-backed
    * store. On RocksDB (changelog on, row tracking off), q110's cold run
    * (charge plus read-back) at sf0.1/local[4], three alternating JVMs per
    * side, took 260/303/278 s with 4 partitions against 308/313/330 s
    * with 8: 4 was faster in every pair, by 11 % in the medians. */
  val DagPartitions = 4

  /** State-store maintenance interval of a harness clone: maintenance off
    * the gate's critical path. Spark's 60 s default fires mid-gate, and a
    * 4-join query at 8 partitions holds 128 RocksDB instances whose
    * concurrent snapshot uploads storm the disk and CPU exactly while
    * later batches commit (measured: commitTimeMs 2.3 s/op on early
    * batches, 10-20 s/op once maintenance kicks in). Harness gates run
    * minutes and their checkpoints are deleted on return, so snapshot
    * cadence buys nothing there; production keeps the default, which
    * bounds its recovery replay. */
  val HarnessMaintenance = "3600s"

  /** The keys in which a harness clone differs from a caller built through
    * [[configure]] (the provider [[harness]] forces is that caller's own). */
  val HarnessKeys: Set[String] = Set(PartitionsKey, MaintenanceKey)

  /** Set the harness values on a harness-owned session clone. The provider
    * is forced back to RocksDB even where the caller chose another: the
    * harness's `transformWithState` gates run on nothing else (gate results
    * are provider-independent). */
  private[graft] def harness(session: SparkSession, partitions: Int): SparkSession = {
    session.conf.set(PartitionsKey, partitions.toLong)
    session.conf.set(MaintenanceKey, HarnessMaintenance)
    session.conf.set(ProviderKey, Defaults(ProviderKey))
    session
  }
}
