package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.{DimCache, DimSink}

/** X2 lookup-cache TTL refresh + dynamic DIM sink-table management
  * (TableProcessFunction.checkAndCreateTable analogue). */
class DimSinkSpec extends SparkTestBase {
  import spark.implicits._

  /** Every parquet file under `dir`, relative path → (length, mtime). */
  private def fileState(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val base = new java.io.File(dir)
    walk(base).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getAbsolutePath.stripPrefix(base.getAbsolutePath),
        (f.length(), f.lastModified()))).toMap
  }

  /** The `_bucket=N` dir of a [[fileState]] path. */
  private def bucketOf(rel: String): String =
    rel.split('/').takeWhile(!_.startsWith("part-")).mkString("/")

  test("DimCache re-reads the dim only after the TTL lapses (X2)") {
    val dir = Files.createTempDirectory("graft_dim_").toString + "/dim"
    Seq(("1101", "alipay")).toDF("code", "name").write.parquet(dir)
    var now = 0L
    val cache = new DimCache(() => spark.read.parquet(dir), ttlMillis = 3600L, clock = () => now)

    assert(cache.get().count() === 1L)
    assert(cache.loadCount === 1)

    // dim mutates; within the TTL the cache must serve the stale snapshot
    Seq(("1101", "alipay"), ("1102", "wechat")).toDF("code", "name")
      .write.mode("overwrite").parquet(dir)
    now = 3599L
    assert(cache.get().count() === 1L, "refreshed before TTL lapsed")
    assert(cache.loadCount === 1)

    // TTL lapsed → next batch sees the new dim
    now = 3600L
    assert(cache.get().count() === 2L, "stale after TTL lapsed")
    assert(cache.loadCount === 2)

    // and the refreshed snapshot is cached again
    now = 7100L
    assert(cache.get().count() === 2L)
    assert(cache.loadCount === 2)
  }

  test("lookupJoin + DimCache: TTL-refreshed dim on the shuffle path, no broadcast (J4 at scale)") {
    // the foreachBatch shape for a dim PAST the broadcast threshold: each
    // micro-batch enriches via Relational.lookupJoin against the
    // DimCache-refreshed snapshot — staleness bounded by the TTL exactly
    // like the broadcast form, plan broadcast-free by hint
    val dir = Files.createTempDirectory("graft_dimlkp_").toString + "/dim"
    Seq(("1101", "alipay")).toDF("dic_code", "dic_name").write.parquet(dir)
    var now = 0L
    val cache = new DimCache(() => spark.read.parquet(dir), ttlMillis = 1000L, clock = () => now)
    def enrich(batch: org.apache.spark.sql.DataFrame) =
      graft.operators.Relational.lookupJoin(batch, cache.get(),
        col("payment_type") === col("dic_code"), "left")
    val batch = Seq(("o1", "1101"), ("o2", "1102")).toDF("order_id", "payment_type")

    val b1 = enrich(batch)
    assert(!b1.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    assert(b1.select("order_id", "dic_name").as[(String, String)].collect().toMap
      === Map("o1" -> "alipay", "o2" -> null))

    // dim gains 1102 mid-stream; within the TTL the stale snapshot serves
    Seq(("1101", "alipay"), ("1102", "wechat")).toDF("dic_code", "dic_name")
      .write.mode("overwrite").parquet(dir)
    now = 999L
    assert(enrich(batch).where(col("dic_name").isNotNull).count() === 1L)
    // TTL lapsed: the next batch resolves the new code
    now = 1000L
    assert(enrich(batch).select("order_id", "dic_name").as[(String, String)]
      .collect().toMap === Map("o1" -> "alipay", "o2" -> "wechat"))
  }

  test("DimSink creates sink tables on demand and upserts on the configured pk") {
    val root = Files.createTempDirectory("graft_dimsink_").toString
    val userCfg = DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id")
    val skuCfg = DimSink.TableConfig("dim_sku_info", Seq("id", "price"), "id")

    def batch(rows: Seq[(String, Map[String, String], Long)]) =
      rows.toDF("sink_table", "data", "ts")

    // batch 1: only user rows — only the user table may exist afterwards
    DimSink.mergeBatch(batch(Seq(
      ("dim_user_info", Map("id" -> "u1", "name" -> "ann", "junk" -> "x"), 1L),
      ("dim_user_info", Map("id" -> "u2", "name" -> "bob"), 1L))),
      root, Seq(userCfg, skuCfg))
    val users1 = DimSink.readDelta(spark, root, userCfg)
    assert(users1.schema.fieldNames.toSeq === Seq("id", "name", "ts"))
    assert(users1.count() === 2L)
    assert(!new java.io.File(s"$root/dim_sku_info").exists(),
      "table created without any rows routed to it")

    // batch 2: user UPDATE (same pk, later ts) + first sku row → dynamic
    // table creation mid-stream, upsert replaces u1
    DimSink.mergeBatch(batch(Seq(
      ("dim_user_info", Map("id" -> "u1", "name" -> "ANN"), 2L),
      ("dim_sku_info", Map("id" -> "s1", "price" -> "9.99"), 2L))),
      root, Seq(userCfg, skuCfg))
    val users2 = DimSink.readDelta(spark, root, userCfg)
      .select("id", "name").as[(String, String)].collect().toMap
    assert(users2 === Map("u1" -> "ANN", "u2" -> "bob"))
    val skus = DimSink.readDelta(spark, root, skuCfg)
    assert(skus.schema.fieldNames.toSeq === Seq("id", "price", "ts"))
    assert(skus.select("id", "price").as[(String, String)].collect().toSeq ===
      Seq(("s1", "9.99")))
  }

  test("Delta-backed DimSink: O(batch) epoch appends, replay-idempotent, compaction-stable") {
    val root = Files.createTempDirectory("graft_dimdelta_").toString
    val userCfg = DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id")
    val skuCfg = DimSink.TableConfig("dim_sku_info", Seq("id", "price"), "id")
    def batch(rows: Seq[(String, Map[String, String], Long)]) =
      rows.toDF("sink_table", "data", "ts")
    def users: Map[String, String] =
      DimSink.readDelta(spark, root, userCfg)
        .select("id", "name").as[(String, String)].collect().toMap

    val b0 = batch(Seq(
      ("dim_user_info", Map("id" -> "u1", "name" -> "ann", "junk" -> "x"), 1L),
      ("dim_user_info", Map("id" -> "u2", "name" -> "bob"), 1L)))
    val b1 = batch(Seq(
      ("dim_user_info", Map("id" -> "u1", "name" -> "ANN"), 2L),
      ("dim_sku_info", Map("id" -> "s1", "price" -> "9.99"), 2L)))
    DimSink.processBatchDelta(b0, root, Seq(userCfg, skuCfg), epochId = 0L)
    DimSink.processBatchDelta(b1, root, Seq(userCfg, skuCfg), epochId = 1L)
    assert(users === Map("u1" -> "ANN", "u2" -> "bob"))
    assert(DimSink.readDelta(spark, root, skuCfg)
      .select("id", "price").as[(String, String)].collect().toSeq === Seq(("s1", "9.99")))

    // crash replay: the restarted query re-delivers epoch 1 — the delta
    // dir is overwritten in place, the compacted view must not change
    DimSink.processBatchDelta(b1, root, Seq(userCfg, skuCfg), epochId = 1L)
    assert(users === Map("u1" -> "ANN", "u2" -> "bob"))

    // compaction folds the deltas into the bucketed base; view unchanged
    graft.streaming.DeltaStore.compact(spark, s"$root/dim_user_info", Seq("id"), "ts")
    assert(users === Map("u1" -> "ANN", "u2" -> "bob"))

    // post-compaction updates keep landing as new epochs
    DimSink.processBatchDelta(
      batch(Seq(("dim_user_info", Map("id" -> "u2", "name" -> "BOB"), 3L))),
      root, Seq(userCfg, skuCfg), epochId = 2L)
    assert(users === Map("u1" -> "ANN", "u2" -> "BOB"))
  }

  test("compaction rewrites only the buckets the pending deltas touch") {
    val root = Files.createTempDirectory("graft_dimcompact_").toString
    val cfg = DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id")
    def batch(rows: Seq[(String, Map[String, String], Long)]) =
      rows.toDF("sink_table", "data", "ts")

    // seed a base spread over most of 16 buckets, fully compacted
    DimSink.processBatchDelta(
      batch((0 until 120).map(i =>
        ("dim_user_info", Map("id" -> s"u$i", "name" -> s"n$i"), 1L))),
      root, Seq(cfg), epochId = 0L)
    graft.streaming.DeltaStore.compact(spark, s"$root/dim_user_info",
      Seq("id"), "ts", nBuckets = 16)
    val before = fileState(s"$root/dim_user_info/base")
    assert(before.keys.map(bucketOf).toSet.size >= 12,
      "seed keys must spread over most buckets for the assertion to bite")

    // one updated key → one dirty bucket; everything else byte-identical
    DimSink.processBatchDelta(
      batch(Seq(("dim_user_info", Map("id" -> "u7", "name" -> "N7"), 2L))),
      root, Seq(cfg), epochId = 1L)
    graft.streaming.DeltaStore.compact(spark, s"$root/dim_user_info",
      Seq("id"), "ts", nBuckets = 16)
    val after = fileState(s"$root/dim_user_info/base")
    val changed = (after.keySet ++ before.keySet)
      .filter(k => before.get(k) != after.get(k)).map(bucketOf)
    assert(changed.size <= 1,
      s"a one-key delta must compact into ≤ 1 dirty bucket, touched: $changed")
    val untouched = before.keySet.filter(k => !changed.contains(bucketOf(k)))
    assert(untouched.nonEmpty && untouched.forall(k => before(k) == after(k)),
      "clean buckets must be byte-identical after compaction (no table rewrite)")
    assert(DimSink.readDelta(spark, root, cfg)
      .where(col("id") === "u7").select("name").as[String].collect().toSeq
      === Seq("N7"))
  }

  test("mergeBatch folds a pending delta epoch first; the newer batch wins on a shared key") {
    val root = Files.createTempDirectory("graft_dimmerge_").toString
    val userCfg = DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id")
    def batch(rows: Seq[(String, Map[String, String], Long)]) =
      rows.toDF("sink_table", "data", "ts")
    def users: Map[String, String] =
      DimSink.readDelta(spark, root, userCfg)
        .select("id", "name").as[(String, String)].collect().toMap
    def epochDirs: Seq[String] =
      Option(new java.io.File(s"$root/dim_user_info/delta").listFiles()).toSeq
        .flatten.map(_.getName).filter(_.startsWith("epoch="))

    // the LSM layout a crash leaves between append and compaction: one
    // pending delta epoch and no base
    DimSink.processBatchDelta(batch(Seq(
        ("dim_user_info", Map("id" -> "u1", "name" -> "ann"), 1L),
        ("dim_user_info", Map("id" -> "u2", "name" -> "bob"), 1L))),
      root, Seq(userCfg), epochId = 0L)
    assert(epochDirs === Seq("epoch=0"))

    // a batch with an OLDER ts on u1: it is newer in changelog order, so
    // it must win even though it lands straight in the base — the
    // pending epoch must be folded first, or it would shadow the merge
    val b1 = batch(Seq(
      ("dim_user_info", Map("id" -> "u1", "name" -> "ANN"), 0L),
      ("dim_user_info", Map("id" -> "u3", "name" -> "cat"), 0L)))
    DimSink.mergeBatch(b1, root, Seq(userCfg))
    assert(users === Map("u1" -> "ANN", "u2" -> "bob", "u3" -> "cat"))
    assert(epochDirs.isEmpty, "the pending epoch was not folded")

    // crash replay of the same batch: the resolved view does not change
    DimSink.mergeBatch(b1, root, Seq(userCfg))
    assert(users === Map("u1" -> "ANN", "u2" -> "bob", "u3" -> "cat"))
  }

  test("mergeBatch leaves no delta epoch and rewrites only the touched buckets") {
    val root = Files.createTempDirectory("graft_dimmerge_buckets_").toString
    val cfg = DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id")
    val skuCfg = DimSink.TableConfig("dim_sku_info", Seq("id", "price"), "id")
    def batch(rows: Seq[(String, Map[String, String], Long)]) =
      rows.toDF("sink_table", "data", "ts")
    def hasEpochs(table: String): Boolean =
      Option(new java.io.File(s"$root/$table/delta").listFiles()).toSeq
        .flatten.exists(_.getName.startsWith("epoch="))

    DimSink.mergeBatch(
      batch((0 until 120).map(i =>
        ("dim_user_info", Map("id" -> s"u$i", "name" -> s"n$i"), 1L))),
      root, Seq(cfg, skuCfg))
    val before = fileState(s"$root/dim_user_info/base")
    assert(before.keys.map(bucketOf).toSet.size >= 32,
      "seed keys must spread over most buckets for the assertion to bite")
    assert(!new java.io.File(s"$root/dim_sku_info").exists(),
      "store created for a table the batch did not touch")

    // one updated key → one dirty bucket; everything else byte-identical
    DimSink.mergeBatch(
      batch(Seq(("dim_user_info", Map("id" -> "u7", "name" -> "N7"), 2L))),
      root, Seq(cfg, skuCfg))
    assert(!hasEpochs("dim_user_info"), "a merge must leave no delta epoch")
    val after = fileState(s"$root/dim_user_info/base")
    val changed = (after.keySet ++ before.keySet)
      .filter(k => before.get(k) != after.get(k)).map(bucketOf)
    assert(changed.size === 1, s"a one-key batch must dirty one bucket, touched: $changed")
    assert(before.keySet.filter(k => !changed.contains(bucketOf(k)))
      .forall(k => before(k) == after(k)),
      "clean buckets must be byte-identical after the merge (no table rewrite)")
    assert(DimSink.readDelta(spark, root, cfg).count() === 120L)
    assert(DimSink.readDelta(spark, root, cfg)
      .where(col("id") === "u7").select("name").as[String].collect().toSeq
      === Seq("N7"))
  }

  test("processBatchCdc routes Debezium c/u/d ops; delete tombstones survive epoch replay") {
    val root = Files.createTempDirectory("graft_cdc_spec_").toString
    val cfg = DimSink.TableConfig("dim_user", Seq("id", "uname"), "id")
    val routes = Map("user_info" -> cfg)
    def parsed(rows: Seq[String]) =
      graft.core.Envelopes.parseDebeziumRows(rows.toDF("value"))
    def env(op: String, id: String, name: String, ts: Long): String = {
      val row = s"""{"id":"$id","uname":"$name"}"""
      val (b, a) = if (op == "d") (row, "null") else ("null", row)
      s"""{"before":$b,"after":$a,"source":{"table":"user_info"},"op":"$op","ts_ms":$ts}"""
    }
    def state(): Map[String, String] =
      DimSink.readDelta(spark, root, cfg)
        .select("id", "uname").as[(String, String)].collect().toMap

    // epoch 0: snapshot reads + an insert; epoch 1: update + insert;
    // epoch 2: delete u1
    DimSink.processBatchCdc(parsed(Seq(
      env("r", "u1", "alice", 1L), env("c", "u2", "bob", 2L))), root, routes, 0L)
    assert(state() === Map("u1" -> "alice", "u2" -> "bob"))
    DimSink.processBatchCdc(parsed(Seq(
      env("u", "u2", "BOB", 3L), env("c", "u3", "carol", 4L))), root, routes, 1L)
    assert(state() === Map("u1" -> "alice", "u2" -> "BOB", "u3" -> "carol"))
    DimSink.processBatchCdc(parsed(Seq(env("d", "u1", "alice", 5L))), root, routes, 2L)
    assert(state() === Map("u2" -> "BOB", "u3" -> "carol"))

    // crash replay of epoch 1 AFTER the delete: the re-delivered batch
    // overwrites its own delta dir — it must neither double rows nor
    // resurrect u1
    DimSink.processBatchCdc(parsed(Seq(
      env("u", "u2", "BOB", 3L), env("c", "u3", "carol", 4L))), root, routes, 1L)
    assert(state() === Map("u2" -> "BOB", "u3" -> "carol"))

    // a dirty record routes to _corrupt and must not poison the batch
    DimSink.processBatchCdc(parsed(Seq(
      "{not json", env("c", "u4", "dave", 6L))), root, routes, 3L)
    assert(state() === Map("u2" -> "BOB", "u3" -> "carol", "u4" -> "dave"))

    // SAME-batch changelog order: insert-then-delete retires the key
    // (the tombstone carries ts_ms, so it wins in-epoch), while
    // delete-then-reinsert keeps the newer row
    DimSink.processBatchCdc(parsed(Seq(
      env("c", "u5", "eve", 7L), env("d", "u5", "eve", 8L),
      env("d", "u4", "dave", 9L), env("c", "u4", "dave2", 10L))), root, routes, 4L)
    assert(state() === Map("u2" -> "BOB", "u3" -> "carol", "u4" -> "dave2"))
  }
}
