package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-loop per-micro-batch profiler: one stderr line per progress event
  * (batch id, input rows, trigger/addBatch durations, per-operator state
  * rows + commit ms). Registered via the STATIC conf
  * `spark.sql.streaming.streamingQueryListeners=graft.tools.ProgressLog`,
  * which — unlike `spark.streams.addListener` — also binds inside
  * [[graft.streaming.StreamHarness]]'s cloned sessions (`newSession`
  * re-reads the static conf; a listener registered on the parent's
  * per-session manager never sees the clone's queries). Not wired into
  * any gate: purely a measurement tool, zero cost when the conf is
  * absent. The harness turns RocksDB row tracking off, so `rows=` reads 0
  * there unless `spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows=true`
  * is set too. */
class ProgressLog extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val state = p.stateOperators.map { s =>
      val cm = s.customMetrics
      def c(k: String) = Option(cm.get(k)).map(v => s",$k=$v").getOrElse("")
      s"${s.operatorName}:rows=${s.numRowsTotal},upd=${s.allUpdatesTimeMs}ms," +
        s"rm=${s.allRemovalsTimeMs}ms,commit=${s.commitTimeMs}ms" +
        c("rocksdbCommitFlushLatency") + c("rocksdbCommitCheckpointLatency") +
        c("rocksdbCommitFileSyncLatencyMs") + c("rocksdbCommitCompactLatency")
    }.mkString(" ")
    System.err.println(
      s"[progress] ${p.name} batch=${p.batchId} rows=${p.numInputRows} " +
        s"trigger=${d.get("triggerExecution")}ms addBatch=${d.get("addBatch")}ms " +
        s"walCommit=${d.getOrDefault("walCommit", -1L)}ms $state")
  }
}
