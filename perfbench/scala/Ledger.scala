package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished micro-batch, as `StreamingQueryProgress` reports it. */
final case class Batch(queryId: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long, rowsEvicted: Long,
    stateCommitMs: Long, stateRows: Long, stateBytes: Long, lateDropped: Long) {
  def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects the progress of every micro-batch that ran. Registered on
  * every run: the freshness metrics are read from it. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // idle progress reports carry no addBatch phase: no batch ran
    if (d.contains("addBatch")) {
      val ops = p.stateOperators.toSeq
      def opSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        ops.map(f).sum
      batches.add(Batch(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows,
        opSum(_.numRowsRemoved),
        opSum(_.commitTimeMs),
        opSum(_.numRowsTotal), opSum(_.memoryUsedBytes),
        opSum(_.numRowsDroppedByWatermark)))
    }
  }

  def all: Seq[Batch] = batches.asScala.toSeq
}

/** Task-level engine counters per group. Jobs are attributed to a group
  * by their `sql.streaming.queryId` property; jobs without one belong to
  * the [[Spans]] span that was open on the thread that started them (the
  * curation pass and layer replays), read from the job's properties. */
final class EngineLog(groupOf: String => Option[String], spanGroup: String => String)
    extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  // jobs, tasks, executor_cpu_ms, shuffle_write_bytes, spill_bytes
  private def acc(g: String) = sums.computeIfAbsent(g, _ => new Array[Long](5))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val g = prop("sql.streaming.queryId").flatMap(groupOf)
      .getOrElse(spanGroup(prop(Spans.Property).getOrElse("driver")))
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val a = acc(g)
    a.synchronized { a(0) += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(Option(stageGroup.get(e.stageId)).getOrElse("other"))
      a.synchronized {
        a(1) += 1
        a(2) += m.executorCpuTime / 1000000L
        a(3) += m.shuffleWriteMetrics.bytesWritten
        a(4) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def reset(): Unit = sums.clear()

  def snapshot: Map[String, Seq[Long]] =
    sums.asScala.map { case (g, a) => g -> a.synchronized(a.toSeq) }.toMap
}

/** Catalyst phase times of every action. The listener bus delivers an
  * action's callback after the action returned, so each phase is
  * attributed by its start time to the span that was open when it ran
  * ([[Spans.at]]), not to the span open at delivery. */
final class PlanLog extends QueryExecutionListener {
  private val Phases = Seq("analysis", "optimization", "planning")
  // (phase index, start epoch ms, duration ms)
  private val seen = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    synchronized {
      for ((p, i) <- Phases.zipWithIndex; s <- ph.get(p))
        seen += ((i, s.startTimeMs, s.durationMs))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def reset(): Unit = synchronized(seen.clear())

  /** Phase sums (analysis, optimization, planning) per span name. */
  def snapshot(spanAt: Long => String): Map[String, Seq[Double]] = synchronized {
    val sums = mutable.Map.empty[String, Array[Double]]
    for ((i, startMs, ms) <- seen)
      sums.getOrElseUpdate(spanAt(startMs), new Array[Double](3))(i) += ms
    sums.map { case (k, v) => k -> v.toSeq }.toMap
  }
}

object Spans {
  /** SparkContext local property holding the innermost open span's name.
    * Spark copies it into the properties of every job the thread starts. */
  val Property = "perfbench.span"
}

/** Benchmark-side spans around calls into the program's layers. Spans
  * stay in memory and are written out once, at the end of a traced run.
  * An open span tags the jobs its thread starts ([[Spans.Property]]). */
final class Spans(enabled: Boolean, sc: SparkContext) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
      startMs: Long, endMs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long, Long)]
  private var nextId = 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized {
        val i = nextId; nextId += 1
        stack = (i, name, System.nanoTime(), System.currentTimeMillis()) :: stack
        i
      }
      val outer = sc.getLocalProperty(Spans.Property)
      sc.setLocalProperty(Spans.Property, name)
      try body
      finally {
        sc.setLocalProperty(Spans.Property, outer)
        synchronized {
          val (_, n, t0, ms0) = stack.head
          stack = stack.tail
          done += Span(id, n, stack.headOption.map(_._1).getOrElse(0), t0, System.nanoTime(),
            ms0, System.currentTimeMillis())
        }
      }
    }

  /** Name of the innermost finished span that was open at epoch ms `ms`,
    * or "driver". */
  def at(ms: Long): String = synchronized(
    done.filter(s => s.startMs <= ms && ms <= s.endMs)
      .maxByOption(s => (s.startMs, s.id)).map(_.name).getOrElse("driver"))

  /** Total milliseconds spent in spans of each name that began at or
    * after `fromNs` (so set-up spans can be left out). */
  def totalsMs(fromNs: Long): Map[String, Double] = synchronized(
    done.filter(_.startNs >= fromNs).groupBy(_.name)
      .map { case (n, s) => n -> s.map(x => x.endNs - x.startNs).sum / 1e6 })

  def asRows: Seq[Map[String, Any]] = synchronized(done.toSeq.map(s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}
