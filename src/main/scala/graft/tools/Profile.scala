package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Dev tool: run one SparkEntry query by name with plan + timing.
  * `runMain graft.tools.Profile <query> [sfDir] [explain]` */
object Profile {
  def main(args: Array[String]): Unit = {
    // dev profiling runs gates at arbitrary SFs with no oracle in sight —
    // same explicit out-of-band declaration as Bench
    val qs = graft.SparkEntry.queriesFor(oracleRun = false)
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val builder = graft.core.Engine.configure(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("PROFILE_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", sys.env.getOrElse("PROFILE_UI", "false")))
    // PROFILE_EVENTLOG=<dir> → Spark event log for offline per-stage/task
    // attribution (guide §7.1's UI data, greppable without a live UI)
    sys.env.get("PROFILE_EVENTLOG").foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      builder.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", dir)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.contains("explain"))
      qs(name)(spark, sfDir).explain("formatted")
    // construction INSIDE the timer: harness-driven queries (StreamHarness)
    // do their streaming work at construction, exactly as Bench times them
    (1 to sys.env.getOrElse("PROFILE_ITERS", "2").toInt).foreach { i =>
      val (t0, c0) = (System.nanoTime(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val n = qs(name)(spark, sfDir).count()
      println(f"[profile] $name run$i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
        s"${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0} classes compiled")
    }
    spark.stop()
  }
}
