package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import graft.streaming.DeltaStore

/** The log-structured MERGE store: O(batch) epoch appends, merged reads,
  * crash-safe compaction into the bucketed base. */
class DeltaStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_delta_").toString
  private val keys = Seq("k")

  private def df(rows: (Long, String, Long)*) = rows.toDF("k", "v", "ts")

  private def snapshot(path: String): Map[Long, (String, Long)] =
    DeltaStore.read(spark, path, keys, "ts")
      .select($"k", $"v", $"ts").as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap

  test("read merges epochs last-writer-wins; replayed epoch is idempotent") {
    val path = tmp()
    DeltaStore.append(df((1L, "a1", 10L), (2L, "b1", 10L)), keys, "ts", path, 0L)
    DeltaStore.append(df((1L, "a2", 5L), (3L, "c1", 10L)), keys, "ts", path, 1L)
    val expected = Map(
      1L -> (("a2", 5L)), // epoch 1 beats epoch 0 even with a LOWER ts
      2L -> (("b1", 10L)), 3L -> (("c1", 10L)))
    assert(snapshot(path) === expected)
    // replay epoch 1 (crash-and-rerun of the same micro-batch)
    DeltaStore.append(df((1L, "a2", 5L), (3L, "c1", 10L)), keys, "ts", path, 1L)
    assert(snapshot(path) === expected)
  }

  test("readAsOf reconstructs each epoch's view; compaction squashes the history") {
    val path = tmp()
    def asOf(e: Long): Map[Long, (String, Long)] =
      DeltaStore.readAsOf(spark, path, keys, "ts", e)
        .select($"k", $"v", $"ts").as[(Long, String, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    DeltaStore.append(df((1L, "a1", 10L), (2L, "b1", 10L)), keys, "ts", path, 0L)
    DeltaStore.append(df((1L, "a2", 20L)), keys, "ts", path, 1L,
      deleteKeys = Some(Seq(Tuple1(2L)).toDF("k")))
    DeltaStore.append(df((1L, "a3", 30L), (3L, "c1", 30L)), keys, "ts", path, 2L)
    assert(asOf(0L) === Map(1L -> (("a1", 10L)), 2L -> (("b1", 10L))))
    assert(asOf(1L) === Map(1L -> (("a2", 20L)))) // key 2 tombstoned at 1
    assert(asOf(2L) === snapshot(path))           // as-of head == read
    // travel-vs-VACUUM: after compaction the old versions are squashed —
    // every as-of resolves to the compacted head (base = epoch −1)
    DeltaStore.compact(spark, path, keys, "ts", nBuckets = 4)
    assert(asOf(0L) === snapshot(path))
  }

  test("additive schema evolution: a new column appears with nulls for old rows") {
    val path = tmp()
    DeltaStore.append(df((1L, "a1", 10L), (2L, "b1", 10L)), keys, "ts", path, 0L)
    // epoch 1 evolves the schema: adds `src`
    DeltaStore.append(
      Seq((3L, "c1", 20L, "web")).toDF("k", "v", "ts", "src"), keys, "ts", path, 1L)
    val out = DeltaStore.read(spark, path, keys, "ts")
      .select($"k", $"v", $"src").as[(Long, String, Option[String])]
      .collect().map(r => r._1 -> r._3).toMap
    assert(out === Map(1L -> None, 2L -> None, 3L -> Some("web")))
    // time travel to BEFORE the evolution still reads (no src values exist)
    val before = DeltaStore.readAsOf(spark, path, keys, "ts", 0L)
    assert(!before.columns.contains("src") ||
      before.select($"src").as[Option[String]].collect().forall(_.isEmpty))
  }

  test("compactThrough squashes only the prefix; the retained tail stays addressable") {
    val path = tmp()
    def asOf(e: Long): Map[Long, (String, Long)] =
      DeltaStore.readAsOf(spark, path, keys, "ts", e)
        .select($"k", $"v", $"ts").as[(Long, String, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    DeltaStore.append(df((1L, "a1", 10L), (2L, "b1", 10L)), keys, "ts", path, 0L)
    DeltaStore.append(df((1L, "a2", 20L)), keys, "ts", path, 1L)
    DeltaStore.append(df((1L, "a3", 30L), (3L, "c1", 30L)), keys, "ts", path, 2L)
    val headBefore = snapshot(path)
    DeltaStore.compactThrough(spark, path, keys, "ts", upToEpoch = 1L, nBuckets = 4)
    // head view unchanged; epoch 2 still addressable as itself; epochs
    // 0/1 squashed into the base (as-of 1 now resolves to the base view)
    assert(snapshot(path) === headBefore)
    assert(asOf(2L) === headBefore)
    assert(asOf(1L) === Map(1L -> (("a2", 20L)), 2L -> (("b1", 10L))))
    // a cutoff below every remaining epoch is a no-op
    DeltaStore.compactThrough(spark, path, keys, "ts", upToEpoch = 1L, nBuckets = 4)
    assert(snapshot(path) === headBefore)
  }

  test("readChanges emits the net per-key effect of exactly the epoch range") {
    val path = tmp()
    DeltaStore.append(df((1L, "a1", 10L), (2L, "b1", 10L)), keys, "ts", path, 0L)
    DeltaStore.append(df((1L, "a2", 20L)), keys, "ts", path, 1L,
      deleteKeys = Some(Seq(Tuple1(2L)).toDF("k")))
    DeltaStore.append(df((3L, "c1", 30L)), keys, "ts", path, 2L)
    def changes(from: Long, to: Long): Map[Long, (Option[String], String)] =
      DeltaStore.readChanges(spark, path, keys, "ts", from, to)
        .select($"k", $"v", $"_op").as[(Long, Option[String], String)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(changes(0L, 2L) === Map(
      1L -> ((Some("a2"), "u")), 2L -> ((None, "d")), 3L -> ((Some("c1"), "u"))))
    assert(changes(1L, 2L) === Map(3L -> ((Some("c1"), "u"))))
    // untouched keys never appear; epoch-0 state is outside every range above
  }

  test("compact folds deltas into the bucketed base; view unchanged; epochs retired") {
    val path = tmp()
    DeltaStore.append(df((1L, "a1", 10L), (2L, "b1", 10L)), keys, "ts", path, 0L)
    DeltaStore.append(df((2L, "b2", 11L), (3L, "c1", 10L)), keys, "ts", path, 1L)
    val before = snapshot(path)
    DeltaStore.compact(spark, path, keys, "ts", nBuckets = 4)
    assert(snapshot(path) === before)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$path/base")))
    assert(!fs.exists(new Path(s"$path/delta/epoch=0")))
    assert(!fs.exists(new Path(s"$path/delta/epoch=1")))
    // post-compaction appends keep merging over the base
    DeltaStore.append(df((1L, "a3", 12L)), keys, "ts", path, 2L)
    assert(snapshot(path)(1L) === (("a3", 12L)))
  }

  test("tombstones hide keys on read and retire them at compaction") {
    val path = tmp()
    DeltaStore.append(df((1L, "a1", 10L), (2L, "b1", 10L)), keys, "ts", path, 0L)
    DeltaStore.compact(spark, path, keys, "ts", nBuckets = 4)
    // epoch 1: delete k=1, upsert+delete k=2 in the SAME epoch (upsert wins),
    // delete k=9 (absent -> no-op)
    DeltaStore.append(df((2L, "b2", 11L)), keys, "ts", path, 1L,
      deleteKeys = Some(Seq(1L, 2L, 9L).toDF("k")))
    assert(snapshot(path) === Map(2L -> (("b2", 11L))))
    DeltaStore.compact(spark, path, keys, "ts", nBuckets = 4)
    assert(snapshot(path) === Map(2L -> (("b2", 11L))))
    // a LATER epoch's tombstone beats an earlier upsert after compaction too
    // (k=3 stays alive: a store emptied of EVERY key is indistinguishable
    // from never-written — documented edge)
    DeltaStore.append(df((3L, "c1", 12L)), keys, "ts", path, 2L,
      deleteKeys = Some(Seq(2L).toDF("k")))
    DeltaStore.compact(spark, path, keys, "ts", nBuckets = 4)
    assert(snapshot(path) === Map(3L -> (("c1", 12L))))
  }

  test("tombstone-only history compacts to an absent store, not a corrupt one") {
    val path = tmp()
    DeltaStore.append(df(), keys, "ts", path, 0L, deleteKeys = Some(Seq(1L, 2L).toDF("k")))
    assert(DeltaStore.read(spark, path, keys, "ts").count() === 0) // deltas only
    DeltaStore.compact(spark, path, keys, "ts", nBuckets = 4)
    // nothing live -> base never materializes; read now reports never-written
    intercept[java.io.IOException] { DeltaStore.read(spark, path, keys, "ts") }
    // and the store recovers cleanly when real data arrives later
    DeltaStore.append(df((1L, "a1", 10L)), keys, "ts", path, 1L)
    DeltaStore.compact(spark, path, keys, "ts", nBuckets = 4)
    assert(snapshot(path) === Map(1L -> (("a1", 10L))))
  }

  test("sink: streaming changelog lands one epoch per micro-batch, exactly-once across restarts") {
    val base = Files.createTempDirectory("graft_delta_sink_").toString
    val (src, store, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")
    import org.apache.spark.sql.types._
    val schema = new StructType().add("k", LongType).add("v", StringType).add("ts", LongType)
    df((1L, "a1", 10L), (2L, "b1", 10L)).write.json(src)
    def runOnce(): Unit = {
      val q = DeltaStore.sink(
        spark.readStream.schema(schema).json(src), keys, "ts", store, ckpt)
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(snapshot(store) === Map(1L -> (("a1", 10L)), 2L -> (("b1", 10L))))
    // restart, unchanged input: committed epochs must not replay as new ones
    runOnce()
    assert(snapshot(store) === Map(1L -> (("a1", 10L)), 2L -> (("b1", 10L))))
    // new changelog rows after restart land as a later epoch and win
    df((1L, "a2", 11L)).write.mode("append").json(src)
    runOnce()
    assert(snapshot(store) === Map(1L -> (("a2", 11L)), 2L -> (("b1", 10L))))
    // the merged view survives compaction of the streamed epochs
    DeltaStore.compact(spark, store, keys, "ts", nBuckets = 4)
    assert(snapshot(store) === Map(1L -> (("a2", 11L)), 2L -> (("b1", 10L))))
  }

  test("compaction recovers from a crash mid-bucket-swap and replays deltas idempotently") {
    val path = tmp()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // seed a 4-bucket base
    DeltaStore.append(df((1L, "a1", 10L), (2L, "b1", 10L), (3L, "c1", 10L),
      (4L, "d1", 10L), (5L, "e1", 10L), (6L, "f1", 10L)), keys, "ts", path, 0L)
    DeltaStore.compact(spark, path, keys, "ts", nBuckets = 4)
    // pending deltas touching several buckets
    DeltaStore.append(df((1L, "a2", 11L), (4L, "d2", 11L)), keys, "ts", path, 1L)
    val expected = snapshot(path)

    // simulate the double crash: (a) compaction ran upsert partially — one
    // bucket got set aside but never published (crash between renames);
    // (b) the consumed delta epochs were never retired
    val base = s"$path/base"
    val bucket = fs.listStatus(new Path(base))
      .map(_.getPath.getName).find(_.startsWith("_bucket=")).get
    fs.mkdirs(new Path(base + "_old"))
    assert(fs.rename(new Path(s"$base/$bucket"), new Path(s"${base}_old/$bucket")))
    // the wounded store still has its set-aside, so a re-run must first
    // restore the bucket, then re-apply the same deltas (idempotent)
    DeltaStore.compact(spark, path, keys, "ts", nBuckets = 4)
    assert(snapshot(path) === expected)
    assert(!fs.exists(new Path(base + "_old")))
    assert(!fs.exists(new Path(s"$path/delta/epoch=1")))
    // a second compaction with nothing pending is a no-op
    DeltaStore.compact(spark, path, keys, "ts", nBuckets = 4)
    assert(snapshot(path) === expected)
  }
}
