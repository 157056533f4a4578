package graft

import org.apache.spark.sql.SparkSession
import graft.core.Engine
import graft.streaming.StreamHarness

/** One engine configuration for every entry point: the specs' session,
  * production's builder and the harness clones agree on
  * [[Engine.Defaults]], and a harness clone differs from its caller only
  * in [[Engine.HarnessKeys]]. */
class EngineSpec extends SparkTestBase {

  /** A builder that records every option it is given. */
  private class Recording extends SparkSession.Builder {
    def recorded: Map[String, String] = options.toMap
  }

  /** Keys whose values differ between two sessions, either side unset
    * included. */
  private def diff(a: SparkSession, b: SparkSession): Set[String] = {
    val (x, y) = (a.conf.getAll, b.conf.getAll)
    (x.keySet ++ y.keySet).filter(k => x.get(k) != y.get(k))
  }

  test("the specs' session and GmallApp.main's builder resolve every shared default alike") {
    val prod = graft.apps.GmallApp.setup(new Recording) match {
      case r: Recording => r.recorded
      case other => fail(s"setup returned another builder: $other")
    }
    Engine.Defaults.foreach { case (k, v) =>
      assert(prod.get(k) === Some(v), k)
      assert(spark.conf.get(k) === v, k)
    }
  }

  test("the specs' session sizes the generated-class cache for the DAG, not Spark's 100") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
    assert(org.apache.spark.sql.internal.SQLConf.get.codegenCacheMaxEntries === 1000)
  }

  test("a harness clone differs from its caller only in the named harness keys") {
    val clone = StreamHarness.prepared(spark)
    assert(diff(spark, clone) subsetOf Engine.HarnessKeys)
    assert(clone.conf.get("spark.sql.streaming.stateStore.maintenanceInterval") ===
      Engine.HarnessMaintenance)
    val callerParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(clone.conf.get("spark.sql.shuffle.partitions").toInt ===
      math.min(callerParts, Engine.HarnessPartitions))
  }

  test("a harness clone resolves the graft SQL functions through the inherited extension") {
    val clone = StreamHarness.prepared(spark)
    assert(clone.sql("SELECT graft_dot(CAST(array(3, 4) AS ARRAY<FLOAT>), " +
      "CAST(array(1, 0) AS ARRAY<FLOAT>)) AS d").head().getDouble(0) === 3.0)
  }

  test("the warehouse-DAG settle's session differs from its caller only in the named harness keys") {
    val dag = graft.entry.GateSupport.DagRun.session(spark)
    assert(diff(spark, dag) subsetOf Engine.HarnessKeys)
    assert(dag.conf.get("spark.sql.shuffle.partitions").toInt === Engine.DagPartitions)
    assert(dag.conf.get("spark.sql.streaming.stateStore.maintenanceInterval") ===
      Engine.HarnessMaintenance)
  }
}
