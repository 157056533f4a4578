package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import graft.apps.{GmallApp, GmallPipelines}
import graft.core.TopicDb
import graft.streaming.Sources

/** Executes the PRODUCTION DAG (GmallApp.wire — the exact graph `start`
  * deploys against Kafka) end-to-end through MemoryStream: DIM routing
  * with dynamic table creation, the stateless DWD fan-outs, the TRADE
  * family as cross-batch stream-stream interval joins, the log 5-way
  * split, and both DWS windows, all as real streaming queries writing a
  * real warehouse directory.
  *
  * The CDC feed is deliberately SPLIT across two micro-batches by a
  * deterministic hash, so an order's detail/info/payment/refund rows
  * usually arrive in different batches — the trade outputs must still
  * match the batch pipelines exactly (the joins carry state across the
  * boundary); a far-future sentinel per joined table then advances every
  * watermark to flush the left-join tails. */
class GmallAppSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def sentinel(table: String, typ: String, data: String, old: String = "null") =
    s"""{"database":"gmall","table":"$table","type":"$typ","ts":4000000000,"data":$data,"old":$old}"""

  test("GmallApp.wire runs the full warehouse DAG with cross-batch trade joins") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = Files.createTempDirectory("graft_app_").toString
    // one MemoryStream per factory call = one consumer per app, exactly
    // like the production Kafka binding; every stream gets every record
    val dbIns = scala.collection.mutable.ArrayBuffer.empty[MemoryStream[String]]
    val logIns = scala.collection.mutable.ArrayBuffer.empty[MemoryStream[String]]
    def dbSource() = {
      val s = MemoryStream[String]; dbIns += s
      Sources.topicDb(s.toDS().toDF())
    }
    def logSource() = {
      val s = MemoryStream[String]; logIns += s
      Sources.topicLog(s.toDS().toDF())
    }

    // join TTL covers the whole synthetic key range (Maxwell ts = order
    // key here), so nothing is late until the 4e9 sentinels flush
    val queries = GmallApp.wire(spark, dbSource _, logSource _, wh,
      joinTtlSec = 10000000L)
    def dbAdd(rows: Seq[String]): Unit = dbIns.foreach(_.addData(rows))
    def logAdd(rows: Seq[String]): Unit = logIns.foreach(_.addData(rows))
    try {
      val envelopes = TopicDb.raw(spark, sf).as[String].collect().toSeq
      // deterministic split: constituent rows of one order straddle batches
      val (b1, b2) = envelopes.partition(e => math.abs(e.hashCode) % 2 == 0)
      def pageRow(ts: Long, mid: String, item: String) =
        s"""{"common":{"mid":"$mid","vc":"v1","ch":"app","ar":"1","is_new":"0"},""" +
          s""""page":{"page_id":"good_list","last_page_id":"search","item":"$item","item_type":"keyword","during_time":1000},"ts":$ts}"""
      val logs = Seq(
        pageRow(1000L, "m1", "hello world"),
        pageRow(2000L, "m2", "hello spark"),
        """{"common":{"mid":"m3","vc":"v1","ch":"app","ar":"1","is_new":"1"},"start":{"entry":"icon"},"ts":3000}""",
        """{"common":{"mid":"m1","vc":"v1","ch":"app","ar":"1","is_new":"0"},"err":{"error_code":1,"msg":"boom"},"page":{"page_id":"home","during_time":5},"ts":4000}""")

      dbAdd(b1)
      logAdd(logs)
      queries.foreach(_.processAllAvailable())
      dbAdd(b2)
      queries.foreach(_.processAllAvailable())
      // flush: one far-future row through EVERY watermarked side (ids join
      // nothing), plus the DWS window sentinel
      dbAdd(Seq(
        sentinel("order_detail", "insert",
          """{"id":"zzod","order_id":"zzo1","sku_id":"1","sku_num":"1","source_type":"2401","split_total_amount":"0.00"}"""),
        sentinel("order_info", "update",
          """{"id":"zzo2","order_status":"1005","province_id":"1"}""",
          """{"order_status":"1001"}"""),
        sentinel("order_info", "update",
          """{"id":"zzo3","order_status":"1006","user_id":"1","province_id":"1"}""",
          """{"order_status":"1001"}"""),
        sentinel("order_detail_activity", "insert",
          """{"order_detail_id":"zzact","activity_id":"a","activity_rule_id":"r"}"""),
        sentinel("order_detail_coupon", "insert",
          """{"order_detail_id":"zzcou","coupon_id":"c"}"""),
        sentinel("payment_info", "update",
          """{"user_id":"1","order_id":"zzpay","payment_type":"1101","payment_status":"1602","callback_time":"2096-01-01 00:00:00","total_amount":"1"}""",
          """{"payment_status":"1601"}"""),
        sentinel("order_refund_info", "insert",
          """{"id":"zzri","user_id":"1","order_id":"zzro","sku_id":"1","refund_type":"1501","refund_num":"1","refund_amount":"1","refund_reason_type":"1301","refund_reason_txt":"t","create_time":"2096-01-01"}"""),
        sentinel("refund_payment", "update",
          """{"id":"zzrp","order_id":"zzrpo","sku_id":"1","payment_type":"1101","refund_status":"0702","callback_time":"2096-01-01 00:00:00","total_amount":"1"}""",
          """{"refund_status":"0701"}""")))
      logAdd(Seq(pageRow(4102444800000L, "zz", "zzflush")))
      queries.foreach(_.processAllAvailable())
      // one more (inert) micro-batch: the left-join tails emit in the
      // watermark-advanced batch AFTER the sentinels' batch, and
      // processAllAvailable can return between the two
      dbAdd(Seq("""{"database":"gmall","table":"zz_inert","type":"insert","ts":4000000001,"data":{},"old":null}"""))
      queries.foreach(_.processAllAvailable())
      queries.foreach(_.processAllAvailable())

      // ---- DIM: routed, pruned, dynamically-created keyed store --------
      val dimUsers = graft.streaming.DimSink.readDelta(spark, s"$wh/dim",
        graft.streaming.DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id"))
      assert(dimUsers.schema.fieldNames.toSeq === Seq("id", "name", "ts"))
      assert(dimUsers.count() === Tables.customer(spark, sf).count())

      // ---- DWD trade family: cross-batch joins == batch pipelines ------
      val dbBatch = TopicDb(spark, sf)
      val dicB = TopicDb.baseDic(spark)
      val preBatch = GmallPipelines.tradeOrderPreProcess(dbBatch, dicB)
        .localCheckpoint(true)
      def streamed(name: String): Long = spark.read.parquet(s"$wh/dwd/$name").count()
      assert(streamed("order_pre") === preBatch.count())
      assert(streamed("cancel") === GmallPipelines.tradeCancel(preBatch).count())
      assert(streamed("pay_success") ===
        GmallPipelines.tradePaySuccess(dbBatch, dicB).count())
      assert(streamed("order_refund") ===
        GmallPipelines.tradeOrderRefund(dbBatch, dicB).count())
      assert(streamed("refund_pay_suc") ===
        GmallPipelines.tradeRefundPaySuccess(dbBatch, dicB).count())

      // ---- DWD stateless family --------------------------------------
      assert(streamed("cart_add") === GmallPipelines.tradeCartAdd(dbBatch, dicB).count())
      assert(streamed("user_register") === Tables.customer(spark, sf).count())
      assert(streamed("comment") === GmallPipelines.comment(dbBatch, dicB).count())

      // ---- DWD log family: 5-way split branches ------------------------
      assert(streamed("traffic_page") === 4L) // 3 pages + sentinel
      assert(streamed("traffic_start") === 1L)
      assert(streamed("traffic_err") === 1L)

      // ---- DWS: windows flushed by the sentinel's watermark ------------
      val kw = spark.read.parquet(s"$wh/dws/keyword")
      assert(kw.where($"word" === "hello").count() === 1L) // one 10s window, ct 2
      assert(spark.read.parquet(s"$wh/dws/traffic").count() > 0)
    } finally queries.foreach(_.stop())
  }

  test("dim routing config is DYNAMIC: a Debezium config row takes effect next batch (S4/U3)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = Files.createTempDirectory("graft_dyncfg_").toString
    val dbIn = MemoryStream[String]
    val cfgIn = MemoryStream[String]
    val db = Sources.topicDb(dbIn.toDS().toDF())
    val cfg = Sources.configStream(cfgIn.toDS().toDF())
    val dimQ = GmallApp.dimQuery(db, wh, Seq.empty, s"$wh/ckpt/dim")
    val cfgQ = GmallApp.configQuery(cfg, wh, s"$wh/ckpt/cfg")
    try {
      def commentEnv(i: Int) =
        s"""{"database":"gmall","table":"comment_info","type":"insert","ts":$i,""" +
          s""""data":{"id":"cm$i","appraise":"1201","comment_txt":"x"},"old":null}"""
      // batch 1: comment rows BEFORE any config → nothing routed
      dbIn.addData(Seq(commentEnv(1), commentEnv(2)))
      dimQ.processAllAvailable()
      assert(!new java.io.File(s"$wh/dim/dim_comment_info").exists(),
        "routed without any config")
      // the config row arrives (Debezium create op; null sink_pk must
      // default to "id" and a malformed row must be ignored, not poison)
      cfgIn.addData(Seq(
        """{"op":"c","ts_ms":10,"after":{"source_table":"comment_info","sink_table":"dim_comment_info","sink_columns":"id,appraise"}}""",
        """{"op":"c","ts_ms":11,"after":{"source_table":"broken_no_sink"}}"""))
      cfgQ.processAllAvailable()
      // batch 2: rows route from the NEXT micro-batch on
      dbIn.addData(Seq(commentEnv(3), commentEnv(4)))
      dimQ.processAllAvailable()
      val commentCfg = graft.streaming.DimSink.TableConfig(
        "dim_comment_info", Seq("id", "appraise"), "id")
      val routed = graft.streaming.DimSink.readDelta(spark, s"$wh/dim", commentCfg)
      assert(routed.schema.fieldNames.toSeq === Seq("id", "appraise", "ts"))
      assert(routed.select("id").as[String].collect().toSet === Set("cm3", "cm4"))
      // the config row is DELETED (Debezium d op: row in `before`) →
      // routing stops; already-routed rows stay
      cfgIn.addData(Seq(
        """{"op":"d","ts_ms":20,"before":{"source_table":"comment_info","sink_table":"dim_comment_info","sink_columns":"id,appraise"},"after":null}"""))
      cfgQ.processAllAvailable()
      dbIn.addData(Seq(commentEnv(5)))
      dimQ.processAllAvailable()
      assert(graft.streaming.DimSink.readDelta(spark, s"$wh/dim", commentCfg)
        .select("id").as[String].collect().toSet === Set("cm3", "cm4"),
        "routing continued after the config row was deleted")
      // re-adding the route to the store the delete emptied routes again
      cfgIn.addData(Seq(
        """{"op":"c","ts_ms":30,"after":{"source_table":"comment_info","sink_table":"dim_comment_info","sink_columns":"id,appraise"}}"""))
      cfgQ.processAllAvailable()
      dbIn.addData(Seq(commentEnv(6)))
      dimQ.processAllAvailable()
      assert(graft.streaming.DimSink.readDelta(spark, s"$wh/dim", commentCfg)
        .select("id").as[String].collect().toSet === Set("cm3", "cm4", "cm6"),
        "a route re-added after a delete did not take effect")
    } finally { dimQ.stop(); cfgQ.stop() }
  }

  test("startFromFiles runs the DAG over file-drop directories (data-lake replay mode)") {
    val root = Files.createTempDirectory("graft_app_files_").toString
    val (in, wh) = (s"$root/in", s"$root/wh")
    Seq("topic_db", "topic_log", "table_process_config")
      .foreach(t => Files.createDirectories(java.nio.file.Paths.get(s"$in/$t")))
    def drop(topic: String, rows: Seq[String]): Unit =
      rows.toDF("value").coalesce(1).write.mode("append").parquet(s"$in/$topic")
    def userEnv(i: Int) =
      s"""{"database":"gmall","table":"user_info","type":"insert","ts":$i,"data":{"id":"u$i","name":"n$i"},"old":null}"""
    def commentEnv(i: Int) =
      s"""{"database":"gmall","table":"comment_info","type":"insert","ts":$i,"data":{"id":"cm$i","appraise":"1201","comment_txt":"x"},"old":null}"""
    def pageRow(ts: Long, mid: String, item: String) =
      s"""{"common":{"mid":"$mid","vc":"v1","ch":"app","ar":"1","is_new":"0"},""" +
        s""""page":{"page_id":"good_list","last_page_id":"search","item":"$item","item_type":"keyword","during_time":1000},"ts":$ts}"""

    val queries = GmallApp.startFromFiles(spark, in, wh)
    try {
      // every query of the DAG runs on the one shared trigger
      queries.foreach { q =>
        val trigger = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger
        assert(trigger === GmallApp.DagTrigger, s"query ${q.id} runs on $trigger")
      }
      // chunk 1: the dynamic config row lands first (takes effect from the
      // NEXT db micro-batch, exactly like the broadcast-state reference)
      drop("table_process_config", Seq(
        """{"op":"c","ts_ms":10,"after":{"source_table":"comment_info","sink_table":"dim_comment_info","sink_columns":"id,appraise"}}"""))
      queries.foreach(_.processAllAvailable())
      // chunk 2: CDC rows — static route (user_info) + dynamic (comment)
      drop("topic_db", (1 to 3).map(userEnv) ++ Seq(commentEnv(7)))
      drop("topic_log", Seq(pageRow(1000L, "m1", "hello world"),
        pageRow(2000L, "m2", "hello spark")))
      queries.foreach(_.processAllAvailable())
      // chunk 3: far-future log row flushes the DWS windows
      drop("topic_log", Seq(pageRow(4102444800000L, "zz", "zzflush")))
      queries.foreach(_.processAllAvailable())
      queries.foreach(_.processAllAvailable())

      assert(graft.streaming.DimSink.readDelta(spark, s"$wh/dim",
          graft.streaming.DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id"))
        .select("id").as[String].collect().toSet === Set("u1", "u2", "u3"))
      assert(graft.streaming.DimSink.readDelta(spark, s"$wh/dim",
          graft.streaming.DimSink.TableConfig("dim_comment_info", Seq("id", "appraise"), "id"))
        .select("id").as[String].collect().toSet === Set("cm7"))
      assert(spark.read.parquet(s"$wh/dwd/traffic_page").count() === 3L)
      assert(spark.read.parquet(s"$wh/dws/keyword")
        .where($"word" === "hello").count() === 1L)
    } finally queries.foreach(_.stop())
  }

  test("dimQuery re-reads the routing table when the config store is rewritten") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = Files.createTempDirectory("graft_cfgcache_").toString
    val dbIn = MemoryStream[String]
    val cfgIn = MemoryStream[String]
    val db = Sources.topicDb(dbIn.toDS().toDF())
    val cfg = Sources.configStream(cfgIn.toDS().toDF())
    val dimQ = GmallApp.dimQuery(db, wh, Seq.empty, s"$wh/ckpt/dim")
    val cfgQ = GmallApp.configQuery(cfg, wh, s"$wh/ckpt/cfg")
    def cfgRow(ts: Long, op: String, columns: String) =
      s"""{"op":"$op","ts_ms":$ts,"after":{"source_table":"comment_info","sink_table":"dim_comment_info","sink_columns":"$columns"}}"""
    def commentEnv(i: Int) =
      s"""{"database":"gmall","table":"comment_info","type":"insert","ts":$i,""" +
        s""""data":{"id":"cm$i","appraise":"1201","comment_txt":"x"},"old":null}"""
    try {
      cfgIn.addData(Seq(cfgRow(10, "c", "id,appraise")))
      cfgQ.processAllAvailable()
      // a DIM batch that routes nothing still loads the routing table
      dbIn.addData(Seq(
        """{"database":"gmall","table":"other","type":"insert","ts":1,"data":{"id":"o"},"old":null}"""))
      dimQ.processAllAvailable()
      assert(!new java.io.File(s"$wh/dim/dim_comment_info").exists())
      // the store is rewritten with the same row count but new columns
      cfgIn.addData(Seq(cfgRow(20, "u", "id,comment_txt")))
      cfgQ.processAllAvailable()
      assert(spark.read.parquet(GmallApp.configStore(wh)).count() === 1L)
      dbIn.addData(Seq(commentEnv(3)))
      dimQ.processAllAvailable()
      val routed = graft.streaming.DimSink.readDelta(spark, s"$wh/dim",
        graft.streaming.DimSink.TableConfig("dim_comment_info", Seq("id", "comment_txt"), "id"))
      assert(routed.schema.fieldNames.toSeq === Seq("id", "comment_txt", "ts"),
        "the DIM batch projected the stale routing table's columns")
      assert(routed.select("id", "comment_txt").as[(String, String)].collect().toSeq
        === Seq(("cm3", "x")))
    } finally { dimQ.stop(); cfgQ.stop() }
  }

  test("dimQuery restores a config-store bucket a crashed swap left set aside") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = Files.createTempDirectory("graft_cfgcrash_").toString
    val dbIn = MemoryStream[String]
    val cfgIn = MemoryStream[String]
    val db = Sources.topicDb(dbIn.toDS().toDF())
    val cfg = Sources.configStream(cfgIn.toDS().toDF())
    val dimQ = GmallApp.dimQuery(db, wh, Seq.empty, s"$wh/ckpt/dim")
    val cfgQ = GmallApp.configQuery(cfg, wh, s"$wh/ckpt/cfg")
    try {
      cfgIn.addData(Seq(
        """{"op":"c","ts_ms":10,"after":{"source_table":"comment_info","sink_table":"dim_comment_info","sink_columns":"id,appraise"}}"""))
      cfgQ.processAllAvailable()
      // a config write died between setting the route's bucket aside and
      // publishing its rewrite: the route's only copy is under `_old`
      val store = GmallApp.configStore(wh)
      val buckets = new java.io.File(store).listFiles().map(_.getName)
        .filter(_.startsWith("_bucket="))
      assert(buckets.length === 1)
      assert(new java.io.File(s"${store}_old").mkdirs())
      assert(new java.io.File(s"$store/${buckets.head}")
        .renameTo(new java.io.File(s"${store}_old/${buckets.head}")))
      dbIn.addData(Seq(
        s"""{"database":"gmall","table":"comment_info","type":"insert","ts":3,""" +
          s""""data":{"id":"cm3","appraise":"1201","comment_txt":"x"},"old":null}"""))
      dimQ.processAllAvailable()
      val routed = graft.streaming.DimSink.readDelta(spark, s"$wh/dim",
        graft.streaming.DimSink.TableConfig("dim_comment_info", Seq("id", "appraise"), "id"))
      assert(routed.select("id").as[String].collect().toSeq === Seq("cm3"),
        "the DIM batch routed without the set-aside route")
      assert(!new java.io.File(s"${store}_old").exists())
    } finally { dimQ.stop(); cfgQ.stop() }
  }

  test("a steady-state DIM batch touching one table runs few Spark jobs") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val wh = Files.createTempDirectory("graft_dimjobs_").toString
    val dbIn = MemoryStream[String]
    val db = Sources.topicDb(dbIn.toDS().toDF())
    val static = Seq(graft.streaming.DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id"))
    val dimQ = GmallApp.dimQuery(db, wh, static, s"$wh/ckpt/dim")
    val marker = s"graft-dimjobs-${System.nanoTime()}"
    // (query id, batch id) of every job start, plus the marker job's arrival
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty("spark.job.description") == marker) markerSeen = true
        else if (p != null && p.getProperty("sql.streaming.queryId") != null)
          jobs.add(p.getProperty("sql.streaming.queryId") ->
            p.getProperty("streaming.sql.batchId"))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def userEnv(i: Int, name: String) =
      s"""{"database":"gmall","table":"user_info","type":"insert","ts":$i,"data":{"id":"u$i","name":"$name"},"old":null}"""
    try {
      // batches 0 and 1 create the store and reach the steady state
      dbIn.addData((1 to 50).map(userEnv(_, "a")))
      dimQ.processAllAvailable()
      dbIn.addData((1 to 5).map(userEnv(_, "b")))
      dimQ.processAllAvailable()
      dbIn.addData(Seq(userEnv(7, "c")))
      dimQ.processAllAvailable()
      // listener events arrive in order: once a job started after the
      // batch is seen, every job of the batch has been seen too
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000L
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(markerSeen)
      val batches = jobs.asScala.toSeq.collect { case (q, b) if q == dimQ.id.toString => b.toLong }
      val batchId = batches.max // the last batch: the steady-state one
      val n = batches.count(_ == batchId)
      info(s"DIM batch $batchId ran $n jobs")
      // the same batch ran 17 jobs when the DIM query appended a delta
      // epoch, compacted it in the same batch and re-read the routing
      // table; merging straight into the bucketed base with the routes
      // cached runs 10
      assert(n > 0 && n < 17, s"DIM batch ran $n jobs")
      assert(graft.streaming.DimSink.readDelta(spark, s"$wh/dim", static.head)
        .where(col("id") === "u7").select("name").as[String].collect().toSeq === Seq("c"))
    } finally { dimQ.stop(); spark.sparkContext.removeSparkListener(listener) }
  }

  private def Tables = graft.core.Tables
}
