package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Envelopes, TempDirs}
import graft.streaming.{DimSink, StreamHarness}

/** The harness's `foreachBatch` sink ([[StreamHarness.runBatches]]) and the
  * scratch-store lifecycle ([[TempDirs.withScratch]]) the store-backed
  * gates run under. */
class StreamHarnessSpec extends SparkTestBase {
  import spark.implicits._

  test("runBatches lands N chunks as N micro-batches, in order, under the engine's epochIds") {
    val chunks = (0 until 3).map(i =>
      ((0 until 5 + i).map(j => (i * 100L + j, s"b$i"))).toDF("id", "tag"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String], Long)]
    val epochs = StreamHarness.runBatches(spark, chunks) { (b, epochId) =>
      val tags = b.select("tag").distinct().as[String].collect().toSeq
      seen.synchronized { seen += ((epochId, tags, b.count())) }
    }
    assert(epochs === seen.map(_._1).toSeq)
    assert(epochs === Seq(0L, 1L, 2L)) // a fresh checkpoint numbers from 0
    assert(seen.map(_._2).toSeq === Seq(Seq("b0"), Seq("b1"), Seq("b2")))
    assert(seen.map(_._3).toSeq === Seq(5L, 6L, 7L))
  }

  test("a processBatchCdc replay under a runBatches epochId keeps the delete tombstones") {
    val cfg = DimSink.TableConfig("dim_user", Seq("id", "uname"), "id")
    val routes = Map("user_info" -> cfg)
    def env(op: String, id: String, name: String, ts: Long): String = {
      val row = s"""{"id":"$id","uname":"$name"}"""
      val (b, a) = if (op == "d") (row, "null") else ("null", row)
      s"""{"before":$b,"after":$a,"source":{"table":"user_info"},"op":"$op","ts_ms":$ts}"""
    }
    val inserts = Seq(env("c", "u1", "alice", 1L), env("c", "u2", "bob", 2L)).toDF("value")
    val epoch1 = Seq(env("u", "u2", "BOB", 3L), env("c", "u3", "carol", 4L)).toDF("value")
    val deletes = Seq(env("d", "u1", "alice", 5L)).toDF("value")
    val state = TempDirs.withScratch("graft_harness_cdc_") { root =>
      def maintain(b: DataFrame, epochId: Long): Unit =
        DimSink.processBatchCdc(Envelopes.parseDebeziumRows(b), root, routes, epochId)
      val epochs = StreamHarness.runBatches(spark, Seq(inserts, epoch1, deletes))(maintain)
      assert(epochs.size === 3)
      // crash replay of the second chunk AFTER the delete: it overwrites
      // its own epoch dir, so u1 stays deleted and nothing doubles
      maintain(epoch1, epochs(1))
      DimSink.readDelta(spark, root, cfg).select("id", "uname")
    }
    assert(state.as[(String, String)].collect().sorted.toSeq ===
      Seq(("u2", "BOB"), ("u3", "carol")))
  }

  test("withScratch deletes its root on a throw, and its result outlives the root") {
    var failedRoot = ""
    val e = intercept[IllegalStateException] {
      TempDirs.withScratch("graft_harness_fail_") { root =>
        failedRoot = root
        spark.range(3).write.parquet(s"$root/t")
        throw new IllegalStateException("gate failed")
      }
    }
    assert(e.getMessage === "gate failed")
    assert(failedRoot.nonEmpty && !Files.exists(Paths.get(failedRoot)))

    var root0 = ""
    val out = TempDirs.withScratch("graft_harness_ok_") { root =>
      root0 = root
      spark.range(5).write.parquet(s"$root/t")
      spark.read.parquet(s"$root/t").select((col("id") * 2).as("x"))
    }
    assert(!Files.exists(Paths.get(root0)))
    assert(out.as[Long].collect().sorted.toSeq === Seq(0L, 2L, 4L, 6L, 8L))
  }
}
