package graft.entry

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Envelopes, Tables, TempDirs, TopicDb}
import graft.apps.GmallPipelines
import graft.operators.{Relational, Sketches}
import graft.streaming.{DimSink, SketchStream, StatefulOps, StreamHarness}

import GateSupport._
import OracleSupport._

/** The gmall DWD/DWS reference pipelines over the shared topic_db parse.
  *
  * One gate family of [[graft.SparkEntry]]: `queries` runs each operator
  * over the driver's parquet tables; `oracleSql` is the DuckDB twin the
  * driver hash-compares against (columns aliased identically on both
  * sides — the compare sorts columns by name before hashing). */
private[graft] object PipelineGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------ envelope parse + pipeline plumbing -----------------

    // Maxwell CDC envelope → parse → type-filter → map-access projection →
    // aggregate (S3/P1/P2/P3) over the FULL synthesized topic_db stream
    // (every business table, graft.core.TopicDb): per-(table, type) route
    // counts + a lexicographic max over data['id'] + a ts checksum prove
    // the parse, the delete filter (cart_info deletes vanish), and the
    // map-access projection at once. The parse runs ONCE per session and
    // is shared by every q4x pipeline gate (SURVEY §7.3 #4).
    "q26_cdc_route" -> ((s, d) =>
      Envelopes.cdcUpserts(TopicDb(s, d))
        .groupBy(col("table"), col("type"))
        .agg(count(lit(1)).as("n_rows"),
          // coalesce: the two id-less tables would emit NULL, and a null
          // cell is the one thing the driver's pandas hasher may treat
          // differently than the local checker — keep golden outputs
          // null-free
          coalesce(max(element_at(col("data"), "id")), lit("-")).as("max_id"),
          sum(col("ts")).as("sum_ts"))
        .orderBy(col("table"), col("type"))),

    // Behavior-log envelope → parse → 5-way split → explode (P1/P6/P7):
    // JSON built deterministically from `events`.
    "q27_log_split" -> ((s, d) => {
      val env = Tables.events(s, d)
        .select(to_json(struct(
        struct(concat(lit("mid_"), col("user_id")).as("mid"),
          col("event_type").as("ch")).as("common"),
        when(col("event_id") % 7 === 0,
          struct(lit("icon").as("entry"))).as("start"),
        when(col("event_id") % 7 =!= 0, struct(
          col("event_type").as("page_id"),
          when(col("event_id") % 3 === 0, lit(null).cast("string"))
            .otherwise(lit("home")).as("last_page_id"),
          (col("value") * 1000).cast("long").as("during_time"))).as("page"),
        when(col("event_id") % 2 === 0, array(
          struct(lit("promo").as("item"), lit(0L).as("pos_id")),
          struct(lit("rec").as("item"), lit(1L).as("pos_id")))).as("displays"),
        when(col("event_id") % 11 === 0,
          struct(lit(42L).as("error_code"), lit("boom").as("msg"))).as("err"),
        unix_millis(col("ts")).as("ts"))).as("value"))
      val (clean, _) = Envelopes.cleanDirty(Envelopes.parseLog(env))
      val branches = GmallPipelines.baseLogSplit(clean)
      Seq("page", "start", "display", "action", "err")
        .map(b => branches(b).select(lit(b).as("branch")))
        .reduce(_ union _)
        .groupBy(col("branch")).agg(count(lit(1)).as("n_rows"))
        .orderBy(col("branch"))
    }),

    // DwdTradeOrderPreProcess end-to-end (the reference's most complex app:
    // od ⋈ oi LEFT⋈ activity LEFT⋈ coupon ⋈ dic, J1/J2/J4) over the ONE
    // shared topic_db stream — all four views carved out of the same
    // persisted parse every other pipeline gate reads, exactly like the
    // reference's apps all consuming one Kafka topic. The wide result is
    // itself materialized once per session (tradeOrderPreProcessCached):
    // the reference writes it to the dwd_trade_order_pre_process topic
    // ONCE (DwdTradeOrderPreProcess.java:275) and q42/q92 consume it.
    "q39_dwd_order_pre" -> ((s, d) =>
      orderPreAgg(GmallPipelines.tradeOrderPreProcessCached(s, d))),

    // DWS keyword window end-to-end (the reference's flagship hybrid app,
    // SURVEY §3.3): behavior-log JSON → parse → search-hit filter →
    // tokenizer UDF + explode (U1/J5) → 10 s tumbling event-time window
    // count (A1/W1/W3/W6), run as a REAL streaming query; a far-future
    // sentinel search hit flushes the append-mode tail windows.
    "q37_dws_keyword" -> ((s, d) => {
      import s.implicits._
      // to_json(struct(...)), not string concat: a token containing a quote
      // or backslash must be escaped, or Spark would route the row to the
      // dirty stream while the DuckDB oracle still counts it
      val logs = keywordLogJson(Tables.documents(s, d)).as[(Long, String)]
      // event time is doc_id·3000 — an id-midpoint split IS a time split
      val mm = logs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (midId, maxId) = (mm.getLong(0) / 2 + mm.getLong(1) / 2, mm.getLong(1))
      val sentinel = Seq((maxId + 1, keywordSentinelJson(maxId))).toDS()
      val batches = Seq(logs.where(col("doc_id") <= midId),
        logs.where(col("doc_id") > midId), sentinel)
      keywordWindowSelect(StreamHarness.runFiles(s, batches) { ds =>
        val (clean, _) = Envelopes.cleanDirty(Envelopes.parseLog(ds.toDF()
          .withColumnRenamed("_2", "value")))
        graft.streaming.Windows.keywordCount(GmallPipelines.keywordHits(clean))
      })
    }),

    // DWS traffic page-view window (A2/X7/W9): behavior-log JSON → page
    // branch → 0/1 counter encode (pv/sv/dur) → multi-key 1 h tumbling
    // event-time window sums, streamed with a sentinel-flushed tail.
    "q40_dws_traffic" -> ((s, d) => {
      import s.implicits._
      def toLogs(df: DataFrame): Dataset[(Long, String)] =
        trafficLogJson(df).as[(Long, String)]
      val sentinel = Seq((-1L, TrafficLogSentinel)).toDS()
      val batches = timeSplitDs(Tables.events(s, d), "ts").map(toLogs) :+ sentinel
      trafficWindowSelect(StreamHarness.runFiles(s, batches) { ds =>
        val (clean, _) = Envelopes.cleanDirty(Envelopes.parseLog(
          ds.toDF().withColumnRenamed("_2", "value")))
        val page = GmallPipelines.baseLogSplit(clean)("page")
        graft.streaming.Windows.tumblingAgg(
          GmallPipelines.trafficCounters(page), "rt", "1 hour", "14 seconds",
          Seq(col("vc"), col("ch"), col("ar"), col("is_new")),
          Seq(sum(col("pv")).as("pv_ct"), sum(col("sv")).as("sv_ct"),
            sum(col("dur")).as("dur_sum")))
      })
    }),

    // DwdTradeCartAdd end-to-end over the shared topic_db cart_info stream
    // (insert + quantity-delta update + delete filtering, P4/P5 + the J4
    // dic join). The aggregation touches every column of the full
    // 14-column reference projection (DwdTradeCartAdd.java:58-76) so the
    // oracle gates the whole select-list, not a slice.
    "q36_dwd_cart" -> ((s, d) =>
      cartAddAgg(GmallPipelines.tradeCartAdd(TopicDb(s, d), TopicDb.baseDic(s)))),

    // ------- the remaining reference DWD apps, all over the ONE shared ----
    // ------- persisted topic_db parse (graft.core.TopicDb)            ----

    // DwdTradePayDetailSuc (DwdTradePayDetailSuc.java:23-34,94-98):
    // successful payments ⋈ order_detail ⋈ order_info, LEFT⋈ activity/
    // coupon, ⋈ dic. It runs its own joins rather than reading the
    // session-cached pre-process table: the same function feeds the
    // production stream (q119), where chaining through the pre-process
    // output would lose its watermark-flushed left-join tails.
    "q41_dwd_pay_success" -> ((s, d) =>
      paySuccessAgg(GmallPipelines.tradePaySuccess(TopicDb(s, d), TopicDb.baseDic(s)))),

    // DwdTradeOrderDetail (DwdTradeOrderDetail.java:91-92): order detail
    // facts = inserts from the session-cached pre-process wide table.
    "q92_dwd_order_detail" -> ((s, d) =>
      GmallPipelines.tradeOrderDetail(
          GmallPipelines.tradeOrderPreProcessCached(s, d))
        .groupBy(col("source_type_name"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("split_total_amount").cast("decimal(18,2)")).cast("double").as("sum_amount"),
          count(col("activity_id")).as("n_act"),
          count(col("coupon_id")).as("n_cpn"))
        .orderBy(col("source_type_name"))),

    // DwdTradeCancelDetail (DwdTradeCancelDetail.java:65-92): cancelled
    // orders filtered from the session-cached pre-process wide table.
    "q42_dwd_cancel" -> ((s, d) =>
      cancelAgg(GmallPipelines.tradeCancel(
        GmallPipelines.tradeOrderPreProcessCached(s, d)))),

    // DwdTradeOrderRefund (DwdTradeOrderRefund.java:53-114): refund
    // requests ⋈ order_info(1005) ⋈ dic twice.
    "q43_dwd_order_refund" -> ((s, d) =>
      orderRefundAgg(GmallPipelines.tradeOrderRefund(
        TopicDb(s, d), TopicDb.baseDic(s)))),

    // DwdTradeRefundPaySuc (DwdTradeRefundPaySuc.java:54-130): refund
    // payments done — two-key (order_id, sku_id) join.
    "q44_dwd_refund_pay_suc" -> ((s, d) =>
      refundPayAgg(GmallPipelines.tradeRefundPaySuccess(
        TopicDb(s, d), TopicDb.baseDic(s)))),

    // DwdToolCouponGet (DwdToolCouponGet.java:51-52).
    "q45_dwd_coupon_get" -> ((s, d) =>
      GmallPipelines.couponGet(TopicDb(s, d))
        .groupBy(col("coupon_id"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          max(col("date_id")).as("max_date"))
        .orderBy(col("coupon_id"))),

    // DwdToolCouponOrder (DwdToolCouponOrder.java:52-64): 1401→1402.
    "q46_dwd_coupon_order" -> ((s, d) =>
      GmallPipelines.couponOrder(TopicDb(s, d))
        .groupBy(col("coupon_id"))
        .agg(count(lit(1)).as("n_rows"), sum(col("ts")).as("sum_ts"))
        .orderBy(col("coupon_id"))),

    // DwdToolCouponPay (DwdToolCouponPay.java:45-56): used_time set.
    "q47_dwd_coupon_pay" -> ((s, d) =>
      GmallPipelines.couponPay(TopicDb(s, d))
        .groupBy(col("coupon_id"))
        .agg(count(lit(1)).as("n_rows"), sum(col("ts")).as("sum_ts"))
        .orderBy(col("coupon_id"))),

    // DwdInteractionFavorAdd (DwdInteractionFavorAdd.java:54-56).
    "q48_dwd_favor_add" -> ((s, d) =>
      GmallPipelines.favorAdd(TopicDb(s, d))
        .groupBy(col("create_time"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("create_time"))),

    // DwdInteractionComment (DwdInteractionComment.java:56-87): appraise
    // dictionary lookup join.
    "q49_dwd_comment" -> ((s, d) =>
      GmallPipelines.comment(TopicDb(s, d), TopicDb.baseDic(s))
        .groupBy(col("appraise_name"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("order_id")).as("n_orders"),
          max(col("date_id")).as("max_date"))
        .orderBy(col("appraise_name"))),

    // DwdUserRegister (DwdUserRegister.java:54-55).
    "q50_dwd_user_register" -> ((s, d) =>
      GmallPipelines.userRegister(TopicDb(s, d))
        .groupBy(col("date_id")).agg(count(lit(1)).as("n_rows"))
        .orderBy(col("date_id"))),

    // DimApp config router (J3/P8/P9, DimApp.java:178-187 +
    // TableProcessFunction.java:169-324): broadcast-config routing +
    // sink-column pruning over the shared CDC stream; the (sink_table,
    // type) counts plus pruned-map width sum and max id prove both the
    // route and the map_filter pruning.
    "q51_dim_router" -> ((s, d) => {
      import s.implicits._
      val config = Seq(
        ("user_info", "dim_user_info", "id,name"),
        ("order_info", "dim_order_info", "id,user_id,total_amount,order_status"),
        ("cart_info", "dim_cart_info", "id,sku_id,sku_num"),
        ("comment_info", "dim_comment_info", "id,appraise"),
      ).toDF("source_table", "sink_table", "sink_columns")
      GmallPipelines.dimRouter(TopicDb(s, d), config)
        .groupBy(col("sink_table"), col("type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(size(col("data"))).as("sum_cols"),
          max(element_at(col("data"), "id")).as("max_id"))
        .orderBy(col("sink_table"), col("type"))
    }),

    // "User register window" — a staple DWS app of the gmall curriculum
    // this reference belongs to (its own app/dws/ stops at the 3 traffic
    // windows): user_info inserts → 10 s tumbling register count, run as a
    // REAL append-mode streaming window (sentinel-flushed tail like q34).
    "q62_dws_register_window" -> ((s, d) => {
      import s.implicits._
      val regs = Tables.customer(s, d).select(
          col("c_custkey").as("event_id"),
          timestamp_millis((col("c_custkey") + 1) * 1000L).as("ts"),
          col("c_custkey").as("user_id"), lit("register").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .as[StatefulOps.Event]
      val sentinel = sentinelBatch(s,
        maxTsMillis(regs, "ts") + 100000L * 1000L)
      val batches = timeSplitDs(regs, "ts") :+ sentinel
      StreamHarness.runFiles(s, batches) { ds =>
        graft.streaming.Windows.tumblingAgg(ds.toDF(), "ts", "10 seconds", "2 seconds",
          Seq(col("event_type")), Seq(count(lit(1)).as("register_ct")))
      }.where(col("event_type") =!= "flush")
        .select(col("stt"), col("edt"), col("register_ct"))
        .orderBy(col("stt"))
    }),

    // "Cart-add unique-user window" — the gmall-curriculum DWS pattern
    // (not in this reference's app/dws/, which has only traffic windows);
    // built from its cited primitives A4+W1: cart adds → per-user
    // first-of-day dedup state → 10 s tumbling UU count — the dedup and
    // the window CHAINED in one streaming query.
    // Users are split across micro-batches by hash (a user's rows stay
    // together; the A4 state is arrival-order per user, as in q28).
    "q63_dws_cart_uu" -> ((s, d) => {
      import s.implicits._
      val ev = GmallPipelines.tradeCartAdd(TopicDb(s, d), TopicDb.baseDic(s))
        .select(
          (col("ts") * 8 + split(col("id"), "-").getItem(1).cast("long")).as("event_id"),
          timestamp_millis((col("ts") + 1) * 1000L).as("ts"),
          col("user_id").cast("long").as("user_id"),
          lit("cart").as("event_type"), lit(0.0).as("value"), lit("{}").as("props"))
        .as[StatefulOps.Event]
      val userHash = pmod(hash(col("user_id")), lit(2))
      // the two user-batches are NOT time-ordered relative to each other,
      // so the watermark delay must span the whole OBSERVED key range
      // (otherwise batch-2 windows below batch-1's watermark drop as
      // late) — derived from the data, not a constant, so the gate holds
      // at every SF; the sentinel then sits beyond delay + every window
      val maxSec = maxTsMillis(ev, "ts") / 1000L
      val delaySec = maxSec + 10L
      val sentinel = sentinelBatch(s, (maxSec + delaySec + 20L) * 1000L)
      val batches = Seq(ev.where(userHash === 0), ev.where(userHash === 1), sentinel)
      StreamHarness.runFiles(s, batches) { ds =>
        graft.streaming.Windows.tumblingAgg(
          StatefulOps.dedupDaily(ds).toDF(), "ts", "10 seconds", s"$delaySec seconds",
          Seq(col("event_type")), Seq(count(lit(1)).as("uu_ct")))
      }.where(col("event_type") =!= "flush")
        .select(col("stt"), col("edt"), col("uu_ct"))
        .orderBy(col("stt"))
    }),

    // "Payment-success unique-user window" — gmall-curriculum DWS pattern
    // (beyond this reference's 3 traffic windows): successful payments →
    // per-user first-of-day state → 10 s tumbling payment-UU count, dedup
    // chained into the window like q63.
    "q64_dws_pay_suc_uu" -> ((s, d) => {
      import s.implicits._
      val ev = TopicDb(s, d).where(col("table") === "payment_info" &&
          element_at(col("data"), "payment_status") === "1602")
        .select(col("ts").as("event_id"),
          timestamp_millis((col("ts") + 1) * 1000L).as("ts"),
          element_at(col("data"), "user_id").cast("long").as("user_id"),
          lit("pay").as("event_type"), lit(0.0).as("value"), lit("{}").as("props"))
        .as[StatefulOps.Event]
      val userHash = pmod(hash(col("user_id")), lit(2))
      // delay spans the observed key range (see q63) so the gate holds at
      // every SF, not just where all keys fit one watermark window
      val maxSec = maxTsMillis(ev, "ts") / 1000L
      val delaySec = maxSec + 10L
      val sentinel = sentinelBatch(s, (maxSec + delaySec + 20L) * 1000L)
      StreamHarness.runFiles(s,
          Seq(ev.where(userHash === 0), ev.where(userHash === 1), sentinel)) { ds =>
        graft.streaming.Windows.tumblingAgg(
          StatefulOps.dedupDaily(ds).toDF(), "ts", "10 seconds", s"$delaySec seconds",
          Seq(col("event_type")), Seq(count(lit(1)).as("uu_ct")))
      }.where(col("event_type") =!= "flush")
        .select(col("stt"), col("edt"), col("uu_ct"))
        .orderBy(col("stt"))
    }),

    // "SKU order window" — the heaviest DWS shape in the gmall curriculum
    // (this reference's app/dws/ carries only the 3 traffic windows; the
    // X7 keyed-reduce shape is the one in
    // app/dws/DwsTrafficVcChArIsNewPageViewWindow.java:97-130):
    // order_detail stream → sku-keyed 10 s tumbling windows summing order
    // count / quantity / amount, run as a real append-mode streaming
    // window.
    "q66_dws_sku_order_window" -> ((s, d) => {
      import s.implicits._
      // ⅛ key sample: the window-state machinery is the thing under test,
      // not the feed volume (oracle mirrors)
      val rows = GmallPipelines.orderDetail(TopicDb(s, d))
        .where(col("ts") % 8 === 0)
        .select(timestamp_millis((col("ts") + 1) * 1000L).as("ts"),
          col("sku_id"), col("sku_num").cast("long").as("num"),
          col("split_total_amount"))
        .as[(Timestamp, String, Long, String)]
      val sentinel = Seq((
        new Timestamp(maxTsMillis(rows, "ts") + 7200L * 1000L), "zz", 0L, "0.00"))
        .toDS()
      StreamHarness.runFiles(s, timeSplitDs(rows, "ts") :+ sentinel) { ds =>
        graft.streaming.Windows.tumblingAgg(
          ds.toDF("ts", "sku_id", "num", "amt"), "ts", "10 seconds", "10 seconds",
          Seq(col("sku_id")),
          Seq(count(lit(1)).as("order_ct"), sum(col("num")).as("sku_num_sum"),
            sum(col("amt").cast("decimal(18,2)")).cast("double").as("amount_sum")))
      }.where(col("sku_id") =!= "zz")
        .select(col("stt"), col("edt"), col("sku_id"), col("order_ct"),
          col("sku_num_sum"), col("amount_sum"))
        .orderBy(col("stt"), col("sku_id"))
    }),

    // "Order unique-user window" — gmall-curriculum DWS pattern (beyond
    // this reference's 3 traffic windows), composed from its cited A5
    // dual-flag state (DwsTrafficPageViewWindow.java:67-137): purchases →
    // per-user (first-of-day, first-ever) state pair → hourly window with
    // order-UU and NEW-order-user counts, dedup+flags chained into the
    // window over the real multi-day events table; time-ordered feed
    // (first-ever is arrival-order state, the reference's assumption).
    "q65_dws_order_window" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).where(col("event_type") === "purchase")
        .as[StatefulOps.Event]
      val sentinel = sentinelBatch(s, maxTsMillis(ev, "ts") + 7200L * 1000L)
      StreamHarness.runFiles(s, timeSplitDs(ev, "ts") :+ sentinel) { ds =>
        import ds.sparkSession.implicits._
        val flagged = StatefulOps.dedupDailyFlags(ds)
          .map { case (e, isNew) => (e.ts, e.event_type, isNew.toLong) }
          .toDF("ts", "event_type", "is_new")
        graft.streaming.Windows.tumblingAgg(flagged, "ts", "1 hour", "10 seconds",
          Seq(col("event_type")),
          Seq(count(lit(1)).as("uu_ct"), sum(col("is_new")).as("new_ct")))
      }.where(col("event_type") =!= "flush")
        .select(col("stt"), col("edt"), col("uu_ct"), col("new_ct"))
        .orderBy(col("stt"))
    }),

    // The DWS-UU-window shape at 100 TB (VERDICT r3 "missing" #2): unique
    // users per (hourly window, event_type) as HLL registers in
    // transformWithState — constant 64 ints per (window, group) key vs the
    // exact seen-set state of q63-q66, mergeable across micro-batches.
    // The register math is oracle-replicated per window exactly like q81.
    "q85_dws_uu_hll_window" -> ((s, d) => {
      import s.implicits._
      val (bucket, rho) = Sketches.hllObs(col("user_id").cast("string"))
      val obs = Tables.events(s, d)
        .select(concat(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss"),
            lit("|"), col("event_type")).as("g"),
          bucket.as("bucket"), rho.as("rho"),
          pmod(col("event_id"), lit(3)).as("slice"))
      val batches = (0 to 2).map(i => obs.where(col("slice") === i)
        .select(col("g"), col("bucket"), col("rho")).as[SketchStream.HllRow])
      val snaps = StreamHarness.runFiles(s, batches)(ds =>
        SketchStream.hllSketchStream(ds).toDF())
      val latest = snaps.groupBy(col("_1").as("g"))
        .agg(max_by(col("_3"), col("_2")).as("regs"))
      Sketches.hllStats(latest, col("regs"))
        .select(substring_index(col("g"), "|", 1).as("stt"),
          substring_index(col("g"), "|", -1).as("event_type"),
          col("n_buckets_hit"), col("reg_sum"), col("est_distinct"))
        .orderBy(col("stt"), col("event_type"))
    }),

    // q43's refund pipeline on the SHUFFLE lookup-join strategy
    // (Relational.lookupJoin): the J4 plan for a dim PAST the broadcast
    // threshold — both dic enrichments hash-partition the dim instead of
    // broadcasting it (PlanSpec pins "no BroadcastExchange" for the dic
    // joins even at autoBroadcastJoinThreshold defaults). Shares q43's
    // oracle verbatim: the strategy must not change a single row.
    "q94_lookup_join_shuffle" -> ((s, d) =>
      orderRefundAgg(GmallPipelines.tradeOrderRefund(
        TopicDb(s, d), TopicDb.baseDic(s), GmallPipelines.shuffleDim))),

    // S4 DATA PLANE (VERDICT r5 #2) — per-record Debezium CDC dim
    // maintenance: a full insert/update/delete changelog of a real
    // dimension (customer), synthesized as Debezium row envelopes, parsed
    // by the REAL envelope parser (Envelopes.parseDebeziumRows) and
    // maintained by DimSink.processBatchCdc → DeltaStore in the harness's
    // checkpointed per-batch sink (StreamHarness.runBatches) across three
    // file-fed micro-batches: inserts split across epochs 0/1, updates
    // (later ts_ms) riding with epoch 1, deletes last. A crash is then
    // simulated by re-delivering epoch 1 verbatim under the epochId
    // runBatches returned for it (the replay contract: same epochId →
    // overwrite its own delta dir): the replay must neither double rows
    // nor resurrect the epoch-2 delete tombstones. The oracle replays the
    // same changelog relationally.
    "q100_cdc_dim_maintain" -> ((s, d) => TempDirs.withScratch("graft_cdc_dim_") { root =>
      val cust = Tables.customer(s, d).select(col("c_custkey").as("k"),
        col("c_name").as("nm"), col("c_mktsegment").as("seg"))
      val maxK = cust.agg(max(col("k"))).head().getLong(0)
      val noMap = lit(null).cast("map<string,string>")
      def env(op: String, before: Column, after: Column, ts: Column): Column =
        to_json(struct(before.as("before"), after.as("after"),
          struct(lit("user_dim").as("table")).as("source"),
          lit(op).as("op"), ts.as("ts_ms"))).as("value")
      val fullRow = map(lit("id"), col("k").cast("string"),
        lit("uname"), col("nm"), lit("city"), col("seg"))
      def inserts(p: Int) = cust.where(pmod(col("k"), lit(2)) === p)
        .select(env("c", noMap, fullRow, col("k")))
      val updates = cust.where(col("k") % 3 === 0)
        .select(env("u", noMap,
          map(lit("id"), col("k").cast("string"),
            lit("uname"), concat(col("nm"), lit("_v2")), lit("city"), col("seg")),
          col("k") + maxK))
      val deletes = cust.where(col("k") % 5 === 0)
        .select(env("d", map(lit("id"), col("k").cast("string")), noMap,
          col("k") + 2L * maxK))
      val epoch1 = inserts(1).unionByName(updates)
      val cfg = DimSink.TableConfig("dim_user", Seq("id", "uname", "city"), "id")
      val routes = Map("user_dim" -> cfg)
      def maintain(b: DataFrame, epochId: Long): Unit =
        DimSink.processBatchCdc(Envelopes.parseDebeziumRows(b), root, routes, epochId)
      val epochs = StreamHarness.runBatches(s, Seq(inserts(0), epoch1, deletes))(maintain)
      require(epochs.size == 3,
        s"q100: expected 3 micro-batches (one per feed chunk), saw $epochs — " +
          "the harness's chunk-per-trigger contract changed")
      // simulated crash replay of the second chunk under the epochId the
      // engine actually assigned it (idempotent overwrite of its own
      // epoch dir)
      maintain(epoch1, epochs(1))
      DimSink.readDelta(s, root, cfg).orderBy(col("id").cast("long"))
    }),

    // K5 EXECUTED — the ordered-field JDBC batch sink against a real SQL
    // engine: embedded Derby (on the Spark classpath; the same
    // `df.write.jdbc` binding a ClickHouse/Postgres deployment points its
    // URL at — only the URL and dialect change, the projection, field
    // order, and batched-INSERT path are identical). The transient column
    // must never reach the table, and the declared field order must
    // survive the round trip — both required before the read-back.
    "q174_jdbc_batch_sink" -> ((s, d) => withDerby("graft_derby_") { (url, props) =>
      val src = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
        Relational.money(col("c_acctbal")).cast("double").as("c_acctbal"),
        col("c_mktsegment"))
      graft.streaming.Sinks.orderedBatchSink(src, Seq("c_mktsegment"),
        graft.streaming.Sinks.JdbcTarget(url, "customer_sink", props))
      val back = s.read.jdbc(url, "customer_sink", props)
      require(back.columns.toSeq == Seq("c_custkey", "c_name", "c_acctbal"),
        s"q174: field order / transient contract broken: ${back.columns.toSeq}")
      back.orderBy(col("c_custkey"))
    }),

    // K6 EXECUTED — the dim-upsert JDBC binding driven through real
    // checkpointed micro-batches into embedded Derby, INCLUDING the
    // crash-replay hazard its docs call out: the last chunk is re-delivered
    // under its real engine epochId (append-mode JDBC lands it twice), and
    // the read side applies the documented (pk, _epoch) staging-merge —
    // exact-duplicate collapse + newest-epoch-wins — to restore the
    // upsert semantics a Phoenix/ReplacingMergeTree target enforces
    // server-side.
    "q175_jdbc_dim_upsert" -> ((s, d) => withDerby("graft_derby_dim_") { (url, props) =>
      val cust = Tables.customer(s, d)
      val maxK = cust.agg(max(col("c_custkey"))).head().getLong(0)
      // the feed carries `data` as JSON (the harness's deterministic
      // chunk scramble hashes every column, and MAP columns are
      // unhashable); the sink re-parses it to the router's map shape
      def routed(rows: DataFrame): DataFrame =
        rows.withColumn("data", from_json(col("data"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
      def chunk(p: Int) = cust.where(pmod(col("c_custkey"), lit(2)) === p)
        .select(lit("dim_user_jdbc").as("sink_table"),
          to_json(map(lit("id"), col("c_custkey").cast("string"),
            lit("uname"), col("c_name"),
            lit("city"), col("c_mktsegment"))).as("data"),
          col("c_custkey").cast("long").as("ts"))
      val updates = cust.where(col("c_custkey") % 3 === 0)
        .select(lit("dim_user_jdbc").as("sink_table"),
          to_json(map(lit("id"), col("c_custkey").cast("string"),
            lit("uname"), concat(col("c_name"), lit("_v2")),
            lit("city"), col("c_mktsegment"))).as("data"),
          (col("c_custkey") + maxK).as("ts"))
      val cfg = DimSink.TableConfig("dim_user_jdbc", Seq("id", "uname", "city"), "id")
      def upsert(b: DataFrame, epochId: Long): Unit =
        DimSink.processBatchJdbc(routed(b), url, Seq(cfg), epochId, props)
      val epochs = StreamHarness.runBatches(s, Seq(chunk(0), chunk(1), updates))(upsert)
      require(epochs.size == 3, s"q175: expected 3 micro-batches, saw $epochs")
      // crash replay of the update chunk under its REAL epoch id
      upsert(updates, epochs(2))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("_epoch").desc)
      s.read.jdbc(url, "dim_user_jdbc", props)
        .select(col("id"), col("uname"), col("city"), col("_epoch"))
        .distinct() // replayed rows are bit-identical → collapse
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1) // newest epoch wins per pk
        .select(col("id"), col("uname"), col("city"))
        .orderBy(col("id").cast("long"))
    }),
  )

  def oracleSql: Map[String, String] = Map(

    // Relational replay of the q100 changelog: every customer inserted
    // (ts = k), k%3=0 updated to name_v2 (ts = k+maxK), k%5=0 deleted
    // (ts = k+2·maxK, the newest op) — survivors are the non-deleted keys
    // at their newest version.
    "q100_cdc_dim_maintain" ->
      """WITH mk AS (SELECT max(c_custkey) AS m FROM customer)
        |SELECT CAST(c_custkey AS VARCHAR) AS id,
        | CASE WHEN c_custkey % 3 = 0 THEN c_name || '_v2' ELSE c_name END AS uname,
        | c_mktsegment AS city,
        | CAST(CASE WHEN c_custkey % 3 = 0 THEN c_custkey + (SELECT m FROM mk)
        |      ELSE c_custkey END AS BIGINT) AS ts
        |FROM customer WHERE c_custkey % 5 <> 0
        |ORDER BY c_custkey""".stripMargin,

    // Replicates graft.core.TopicDb's per-table derivations (see its
    // Scaladoc): one UNION branch per (table, type); deletes (cart R rows)
    // are dropped by the Spark-side cdcUpserts filter, so no branch here.
    "q26_cdc_route" ->
      """WITH li AS (SELECT *,
        |  CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS lnid
        | FROM lineitem)
        |SELECT * FROM (
        | SELECT 'order_info' AS "table",
        |  CASE WHEN o_orderstatus='O' THEN 'insert' ELSE 'update' END AS type,
        |  count(*) AS n_rows, max(CAST(o_orderkey AS VARCHAR)) AS max_id,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_ts
        | FROM orders GROUP BY 2
        | UNION ALL SELECT 'payment_info', 'update', count(*),
        |  max(CAST(o_orderkey AS VARCHAR)), CAST(sum(o_orderkey) AS BIGINT)
        | FROM orders WHERE o_orderkey%3=0 HAVING count(*) > 0
        | UNION ALL SELECT 'coupon_use', 'insert', count(*),
        |  max('cu' || CAST(o_orderkey AS VARCHAR)), CAST(sum(o_orderkey) AS BIGINT)
        | FROM orders WHERE o_orderkey%4=0 HAVING count(*) > 0
        | UNION ALL SELECT 'coupon_use', 'update', count(*),
        |  max('cu' || CAST(o_orderkey AS VARCHAR)), CAST(sum(o_orderkey) AS BIGINT)
        | FROM orders WHERE o_orderkey%4 IN (1,2) HAVING count(*) > 0
        | UNION ALL SELECT 'user_info', 'insert', count(*),
        |  max(CAST(c_custkey AS VARCHAR)), CAST(sum(c_custkey) AS BIGINT)
        | FROM customer HAVING count(*) > 0
        | UNION ALL SELECT 'order_detail', 'insert', count(*), max(lnid),
        |  CAST(sum(l_orderkey) AS BIGINT) FROM li HAVING count(*) > 0
        | UNION ALL SELECT 'order_detail_activity', 'insert', count(*),
        |  '-', CAST(sum(l_orderkey) AS BIGINT)
        | FROM li WHERE l_linenumber%3=0 HAVING count(*) > 0
        | UNION ALL SELECT 'order_detail_coupon', 'insert', count(*),
        |  '-', CAST(sum(l_orderkey) AS BIGINT)
        | FROM li WHERE l_partkey%4=0 HAVING count(*) > 0
        | UNION ALL SELECT 'cart_info', 'insert', count(*), max(lnid),
        |  CAST(sum(l_orderkey) AS BIGINT) FROM li WHERE l_returnflag='N' HAVING count(*) > 0
        | UNION ALL SELECT 'cart_info', 'update', count(*), max(lnid),
        |  CAST(sum(l_orderkey) AS BIGINT) FROM li WHERE l_returnflag='A' HAVING count(*) > 0
        | UNION ALL SELECT 'order_refund_info', 'insert', count(*), max(lnid || 'r'),
        |  CAST(sum(l_orderkey) AS BIGINT) FROM li WHERE l_returnflag='R' HAVING count(*) > 0
        | UNION ALL SELECT 'refund_payment', 'update', count(*), max(lnid || 'rp'),
        |  CAST(sum(l_orderkey) AS BIGINT)
        | FROM li WHERE l_returnflag='R' AND l_linenumber%2=0 HAVING count(*) > 0
        | UNION ALL SELECT 'favor_info', 'insert', count(*), max('f' || lnid),
        |  CAST(sum(l_orderkey) AS BIGINT)
        | FROM li WHERE l_partkey%5=0 AND l_orderkey%2=0 HAVING count(*) > 0
        | UNION ALL SELECT 'favor_info', 'update', count(*), max('f' || lnid),
        |  CAST(sum(l_orderkey) AS BIGINT)
        | FROM li WHERE l_partkey%5=0 AND l_orderkey%2=1 HAVING count(*) > 0
        | UNION ALL SELECT 'comment_info', 'insert', count(*),
        |  max('cm' || CAST(l_orderkey AS VARCHAR)), CAST(sum(l_orderkey) AS BIGINT)
        | FROM li WHERE l_linenumber=1 AND l_partkey%2=0 HAVING count(*) > 0
        |) ORDER BY 1, 2""".stripMargin,

    "q27_log_split" ->
      """SELECT 'display' AS branch, 2 * count(*) AS n_rows FROM events
        | WHERE event_id % 7 <> 0 AND event_id % 2 = 0
        |UNION ALL SELECT 'err', count(*) FROM events WHERE event_id % 11 = 0
        |UNION ALL SELECT 'page', count(*) FROM events WHERE event_id % 7 <> 0
        |UNION ALL SELECT 'start', count(*) FROM events WHERE event_id % 7 = 0
        |ORDER BY 1""".stripMargin,

    "q37_dws_keyword" -> keywordWindowOracle,

    "q40_dws_traffic" -> trafficWindowOracle,

    "q36_dwd_cart" -> cartAddOracle,

    "q39_dwd_order_pre" -> orderPreOracle,

    // q39's insert branch only (o_orderstatus = 'O'), grouped by source
    "q92_dwd_order_detail" ->
      """WITH det AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(l_extendedprice AS DECIMAL(18,2)) AS amt,
        |  concat('240', l_linenumber % 2 + 1) AS source_type FROM lineitem),
        |act AS (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linenumber % 3 = 0),
        |cpn AS (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_partkey % 4 = 0)
        |SELECT CASE WHEN d.source_type = '2401' THEN 'promo' ELSE 'search' END AS source_type_name,
        | count(*) AS n_rows,
        | CAST(sum(d.amt) AS DOUBLE) AS sum_amount,
        | count(a.l_orderkey) AS n_act,
        | count(c.l_orderkey) AS n_cpn
        |FROM det d JOIN orders o ON d.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'O'
        |LEFT JOIN act a ON d.l_orderkey = a.l_orderkey AND d.l_linenumber = a.l_linenumber
        |LEFT JOIN cpn c ON d.l_orderkey = c.l_orderkey AND d.l_linenumber = c.l_linenumber
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // ---- q41+ replicate graft.core.TopicDb's derivations (see its
    // ---- Scaladoc) composed with the reference pipelines' filters/joins.

    "q41_dwd_pay_success" -> paySuccessOracle,

    "q42_dwd_cancel" -> cancelOracle,

    "q43_dwd_order_refund" -> orderRefundOracle,

    // the shuffle lookup-join twin computes the identical relation — one
    // shared oracle so the two J4 strategies can never silently diverge
    "q94_lookup_join_shuffle" -> orderRefundOracle,

    "q44_dwd_refund_pay_suc" -> refundPayOracle,

    "q45_dwd_coupon_get" ->
      """SELECT 'cpn_' || CAST(o_orderkey%7 AS VARCHAR) AS coupon_id,
        | count(*) AS n_rows, count(DISTINCT o_custkey) AS n_users,
        | max(strftime(o_orderdate, '%Y-%m-%d')) AS max_date
        |FROM orders WHERE o_orderkey%4=0 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q46_dwd_coupon_order" ->
      """SELECT 'cpn_' || CAST(o_orderkey%7 AS VARCHAR) AS coupon_id,
        | count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_ts
        |FROM orders WHERE o_orderkey%8=1 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q47_dwd_coupon_pay" ->
      """SELECT 'cpn_' || CAST(o_orderkey%7 AS VARCHAR) AS coupon_id,
        | count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_ts
        |FROM orders WHERE o_orderkey%8=2 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q48_dwd_favor_add" ->
      """SELECT strftime(l_shipdate, '%Y-%m-%d') AS create_time,
        | count(*) AS n_rows, count(DISTINCT l_suppkey) AS n_users
        |FROM lineitem WHERE l_partkey%5=0 AND (l_orderkey%2=0 OR l_linenumber%2=0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q49_dwd_comment" ->
      """SELECT CASE l_partkey%3 WHEN 0 THEN 'good' WHEN 1 THEN 'mid' ELSE 'bad' END AS appraise_name,
        | count(*) AS n_rows, count(DISTINCT l_suppkey) AS n_users,
        | count(DISTINCT l_orderkey) AS n_orders,
        | max(strftime(l_shipdate, '%Y-%m-%d')) AS max_date
        |FROM lineitem WHERE l_linenumber=1 AND l_partkey%2=0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q50_dwd_user_register" ->
      """SELECT '2023-04-' || lpad(CAST(c_custkey%28+1 AS VARCHAR), 2, '0') AS date_id,
        | count(*) AS n_rows
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "q62_dws_register_window" ->
      """SELECT strftime(make_timestamp((c_custkey+1)//10*10*1000000), '%Y-%m-%d %H:%M:%S') AS stt,
        | strftime(make_timestamp(((c_custkey+1)//10*10+10)*1000000), '%Y-%m-%d %H:%M:%S') AS edt,
        | count(*) AS register_ct
        |FROM customer GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // TopicDb order_detail = one row per lineitem (ts=k, sku=partkey,
    // num=qty, amount=extendedprice 2-dec)
    "q66_dws_sku_order_window" ->
      """SELECT strftime(make_timestamp((l_orderkey+1)//10*10*1000000), '%Y-%m-%d %H:%M:%S') AS stt,
        | strftime(make_timestamp(((l_orderkey+1)//10*10+10)*1000000), '%Y-%m-%d %H:%M:%S') AS edt,
        | CAST(l_partkey AS VARCHAR) AS sku_id, count(*) AS order_ct,
        | CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS sku_num_sum,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS amount_sum
        |FROM lineitem WHERE l_orderkey % 8 = 0
        |GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,

    // hourly windows of each user's first purchase per day; new_ct counts
    // the users whose first-EVER purchase falls in the window
    "q65_dws_order_window" ->
      """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |fd AS (SELECT user_id, CAST(ts AS DATE) AS d, min(ts) AS fts FROM p GROUP BY 1, 2),
        |fe AS (SELECT user_id, min(ts) AS ets FROM p GROUP BY 1)
        |SELECT strftime(date_trunc('hour', fts), '%Y-%m-%d %H:%M:%S') AS stt,
        | strftime(date_trunc('hour', fts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
        | count(*) AS uu_ct,
        | CAST(sum(CASE WHEN fts = ets THEN 1 ELSE 0 END) AS BIGINT) AS new_ct
        |FROM fd JOIN fe USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // first successful payment per (user, DAY): TopicDb payment = orders
    // with k%3=0 ∧ k%5≠0 (see its Scaladoc); event time is (k+1) s, so the
    // day bucket is (k+1)//86400 — day-aware so the oracle stays exact at
    // any SF (keys span multiple 1970 days from sf0.1 up)
    "q64_dws_pay_suc_uu" ->
      """WITH pay AS (SELECT o_orderkey AS k, o_custkey AS u FROM orders
        | WHERE o_orderkey%3=0 AND o_orderkey%5<>0),
        |firsts AS (SELECT u, min(k) AS fk FROM pay GROUP BY u, (k+1)//86400)
        |SELECT strftime(make_timestamp((fk+1)//10*10*1000000), '%Y-%m-%d %H:%M:%S') AS stt,
        | strftime(make_timestamp(((fk+1)//10*10+10)*1000000), '%Y-%m-%d %H:%M:%S') AS edt,
        | count(*) AS uu_ct
        |FROM firsts GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // first cart-add per (user, DAY): event time is (k+1) s, id = k*8+n;
    // within a day min (ts, id) ordering collapses to min(k*8+n) since k
    // dominates (n ≤ 7); day bucket (k+1)//86400 keeps the oracle exact
    // when keys span multiple 1970 days (sf0.1+)
    "q63_dws_cart_uu" ->
      """WITH cart AS (SELECT l_orderkey AS k, l_linenumber AS n, l_suppkey AS u
        | FROM lineitem
        | WHERE l_returnflag='N' OR (l_returnflag='A' AND (l_linenumber%4) IN (2, 3))),
        |firsts AS (SELECT u, min(k*8+n) AS fid FROM cart GROUP BY u, (k+1)//86400)
        |SELECT strftime(make_timestamp(((fid//8)+1)//10*10*1000000), '%Y-%m-%d %H:%M:%S') AS stt,
        | strftime(make_timestamp((((fid//8)+1)//10*10+10)*1000000), '%Y-%m-%d %H:%M:%S') AS edt,
        | count(*) AS uu_ct
        |FROM firsts GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "q51_dim_router" ->
      """SELECT * FROM (
        | SELECT 'dim_user_info' AS sink_table, 'insert' AS type, count(*) AS n_rows,
        |  CAST(count(*)*2 AS BIGINT) AS sum_cols, max(CAST(c_custkey AS VARCHAR)) AS max_id
        | FROM customer HAVING count(*) > 0
        | UNION ALL SELECT 'dim_order_info',
        |  CASE WHEN o_orderstatus='O' THEN 'insert' ELSE 'update' END,
        |  count(*), CAST(count(*)*4 AS BIGINT), max(CAST(o_orderkey AS VARCHAR))
        | FROM orders GROUP BY 2
        | UNION ALL SELECT 'dim_cart_info', 'insert', count(*), CAST(count(*)*3 AS BIGINT),
        |  max(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))
        | FROM lineitem WHERE l_returnflag='N' HAVING count(*) > 0
        | UNION ALL SELECT 'dim_cart_info', 'update', count(*), CAST(count(*)*3 AS BIGINT),
        |  max(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))
        | FROM lineitem WHERE l_returnflag='A' HAVING count(*) > 0
        | UNION ALL SELECT 'dim_comment_info', 'insert', count(*), CAST(count(*)*2 AS BIGINT),
        |  max('cm' || CAST(l_orderkey AS VARCHAR))
        | FROM lineitem WHERE l_linenumber=1 AND l_partkey%2=0 HAVING count(*) > 0
        |) ORDER BY 1, 2""".stripMargin,

    // q81's register replication per (hourly window, event_type) over
    // events — the windowed streaming HLL UU gate
    "q85_dws_uu_hll_window" ->
      s"""WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
         |  event_type,
         |  ${hexLongSql("CAST(user_id AS VARCHAR)")} AS h FROM events),
         |b AS (SELECT stt, event_type, h >> 54 AS bucket,
         |  h & ${(1L << 54) - 1} AS low FROM h),
         |r AS (SELECT stt, event_type, bucket,
         |  CASE WHEN low = 0 THEN 55 ELSE 55 - length(bin(low)) END AS rho FROM b),
         |regs AS (SELECT stt, event_type, bucket, max(rho) AS mx FROM r GROUP BY 1, 2, 3),
         |allb AS (SELECT d.stt, d.event_type, gs.range AS bucket
         |  FROM (SELECT DISTINCT stt, event_type FROM regs) d CROSS JOIN range(0, 64) gs),
         |filled AS (SELECT allb.stt, allb.event_type, coalesce(regs.mx, 0) AS mx
         |  FROM allb LEFT JOIN regs ON allb.stt = regs.stt
         |    AND allb.event_type = regs.event_type AND allb.bucket = regs.bucket),
         |agg AS (SELECT stt, event_type, sum(CAST(1 AS BIGINT) << (55 - mx)) AS s,
         |    CAST(sum(CAST(mx AS BIGINT)) AS BIGINT) AS reg_sum,
         |    count(*) FILTER (WHERE mx > 0) AS hit
         |  FROM filled GROUP BY stt, event_type),
         |est AS (SELECT stt, event_type, hit, reg_sum,
         |    ${SketchesOracle.numLit} / CAST(s AS DOUBLE) AS raw FROM agg)
         |SELECT stt, event_type, hit AS n_buckets_hit, reg_sum,
         |  round(CASE WHEN raw <= 160.0e0 AND (64 - hit) > 0
         |    THEN 64.0e0 * ln(64.0e0 / CAST(64 - hit AS DOUBLE)) ELSE raw END, 6)
         |    AS est_distinct
         |FROM est ORDER BY stt, event_type""".stripMargin,

    // the Derby round trip must be lossless: same projection, same order
    "q174_jdbc_batch_sink" ->
      """SELECT c_custkey, c_name,
        | CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // relational replay of the q175 changelog: every customer inserted,
    // k%3=0 updated to name_v2 in a later epoch (newest-epoch-wins), the
    // replayed update chunk collapsed by the (pk, _epoch) merge
    "q175_jdbc_dim_upsert" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        | CASE WHEN c_custkey % 3 = 0 THEN c_name || '_v2' ELSE c_name END AS uname,
        | c_mktsegment AS city
        |FROM customer ORDER BY c_custkey""".stripMargin,
  )
}
