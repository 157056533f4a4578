package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

object Json {
  private val writer = new ObjectMapper().registerModule(DefaultScalaModule)

  private def meta(path: String): java.util.Map[String, Object] =
    new ObjectMapper().readValue(Files.readAllBytes(Paths.get(path)),
      classOf[java.util.Map[String, Object]])

  /** Per-round cumulative expected counts written by `gen.py`. */
  def readExpected(path: String): IndexedSeq[Map[String, Long]] =
    meta(path).get("expected").asInstanceOf[java.util.List[java.util.Map[String, Number]]]
      .asScala.toIndexedSeq.map(_.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  /** Envelopes per round written by `gen.py`. */
  def envelopes(path: String): IndexedSeq[Long] =
    meta(path).get("envelopes").asInstanceOf[java.util.List[Number]]
      .asScala.toIndexedSeq.map(_.longValue)

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), writer.writeValueAsBytes(v))
}

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * with the pinned settings, then checks and prints what it writes.
  *
  * Args: workload inputsDir workDir seconds trace(0|1) launchEpochMs
  * shufflePartitions outFile
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secs, traceArg, launchArg, parts, outFile) = args
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sinceLaunch = (System.currentTimeMillis() - launchArg.toLong) / 1000.0
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("session_s") = sinceLaunch
    out("settings") = Map(
      "master" -> s"local[$cores]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "state_store" -> spark.conf.get("spark.sql.streaming.stateStore.providerClass"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "scratch" -> work,
      "spark_version" -> spark.version)
    val spans = new Spans(trace, spark.sparkContext)
    val log = new ProgressLog
    spark.streams.addListener(log)
    var dag: Dag = null
    // jobs outside the DAG's queries belong to the span that started them
    val engine = new EngineLog(id => Option(dag).flatMap(_.groupOf(id)),
      span => if (span.startsWith("operators.")) "curation_batch" else span)
    val plans = new PlanLog
    if (trace) {
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(plans)
    }
    val errors = mutable.ArrayBuffer.empty[String]
    var measureFromNs = 0L
    try workload match {
      case "dag_trickle" =>
        dag = new Dag(spark, s"$inputs/$workload", work, secs.toInt, log, spans)
        try {
          dag.setUp()
          out("setup_s") = sinceLaunch
          measureFromNs = System.nanoTime()
          engine.reset()
          dag.measure()
          Thread.sleep(500) // let the listener bus deliver the last progress
          out("round_s") = dag.roundSeconds
          out("fresh_ms") = dag.freshMs
          out("dwd_fresh_ms") = dag.dwdFreshMs
          out("dws_emit_ms") = dag.dwsEmitMs
          out("records_per_s") = dag.envelopesPerS
          out("rounds_done") = dag.roundsDone
          val t0 = System.nanoTime()
          out("actual") = dag.actual()
          System.err.println(f"[perfbench] outputs read in ${(System.nanoTime() - t0) / 1e9}%.2f s")
          if (trace) {
            out("streaming") = dag.streamingLedger
            out("slowest_cover") = dag.slowestCover
          }
        } catch {
          case e: Throwable =>
            errors += s"dag: $e"
            dag.failedQueries.foreach(errors += _)
        } finally dag.stop()
        if (trace) dag.replay(1, s"$work/replay-dim")
      case "curation_batch" =>
        // set-up ends with the corpus read and cached; the first pass runs
        // cold, as a batch curation job does
        val cur = new Curation(spark.read.parquet(s"$inputs/$workload/docs.parquet"),
          spark.read.parquet(s"$inputs/$workload/vecs.parquet"), spans)
        out("setup_s") = sinceLaunch
        measureFromNs = System.nanoTime()
        engine.reset()
        plans.reset()
        val deadline = System.currentTimeMillis() + secs.toInt * 1000L
        val times = mutable.ArrayBuffer.empty[Double]
        times += cur.pass()
        while (System.currentTimeMillis() < deadline) times += cur.pass()
        out("round_s") = times.toSeq
        out("fresh_ms") = cur.freshMs.toSeq
        out("records_per_s") = cur.records * times.size / times.sum
        out("passes") = times.size
        out("actual") = cur.actual.toMap
        if (trace) out("cand_per_kept") = cur.candPerKept
    } catch {
      case e: Throwable => errors += e.toString
    } finally {
      if (trace) {
        Thread.sleep(1000) // let the listener bus deliver the last actions
        out("engine") = engine.snapshot
        out("plans") = plans.snapshot(spans.at)
        out("spans_ms") = spans.totalsMs(measureFromNs)
        Json.write(s"$work/spans.json", spans.asRows)
      }
      out("errors") = errors.toSeq
      out("rss_peak_mb") = peakRssMb
      Json.write(outFile, out)
      spark.stop()
    }
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}
