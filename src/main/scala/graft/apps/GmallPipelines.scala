package graft.apps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Envelopes, SessionCache, TopicDb}
import graft.functions.Tokenizer

/** The reference warehouse's 20 pipelines (SURVEY.md §0, §2) re-expressed as
  * pure `DataFrame => DataFrame` functions over parsed envelopes. Sources
  * and sinks are injected by the caller (MemoryStream/parquet in tests,
  * Kafka in production), so every pipeline runs identically in batch and
  * streaming — same declarative plan, Catalyst optimizes both. The one
  * mode-dependent part: on a stream, the trade join pipelines give every
  * joined side a watermark and every join a ±ttl event-time bound (see
  * the trade section); a batch frame gets neither.
  *
  * Inputs: `db` = Envelopes.parseMaxwell(topic_db), `log` =
  * Envelopes.parseLog(topic_log), both clean (post [[Envelopes.cleanDirty]]).
  *
  * Scale: all filters are pushed to the scan; map-access projections are
  * codegen'd `element_at`; the trade pipelines shuffle only on join keys;
  * dimension lookups broadcast (J4).
  */
object GmallPipelines {

  /** J4 dim-enrichment strategy: (fact, dimProjection, joinCond, joinType)
    * → joined. [[broadcastDim]] is the default everywhere (base_dic is the
    * reference's 10-row cacheable dict, utils/MysqlUtil.java:22-23);
    * [[shuffleDim]] is the scale path for a dim past the broadcast
    * threshold ([[graft.operators.Relational.lookupJoin]]). */
  type DimJoin = (DataFrame, DataFrame, Column, String) => DataFrame
  val broadcastDim: DimJoin = (fact, dim, cond, how) =>
    fact.join(broadcast(dim), cond, how)
  val shuffleDim: DimJoin = (fact, dim, cond, how) =>
    graft.operators.Relational.lookupJoin(fact, dim, cond, how)

  /** `fact` with base_dic's name for its code column `code`, as `name`. */
  private def withDic(fact: DataFrame, baseDic: DataFrame, code: String,
      name: String, how: String, dicJoin: DimJoin = broadcastDim): DataFrame =
    dicJoin(fact, baseDic.select(col("dic_code"), col("dic_name").as(name)),
      col(code) === col("dic_code"), how).drop("dic_code")

  private def d(k: String): Column = element_at(col("data"), k)
  private def o(k: String): Column = element_at(col("old"), k)
  private def tbl(t: String, typ: String*): Column = {
    val base = col("table") === t
    if (typ.isEmpty) base else base && col("type").isin(typ: _*)
  }

  // ================================================================= DWD ==
  // ----------------------------------------------------- traffic (log) ----

  /** BaseLogApp 5-way split (P7, app/dwd/BaseLogApp.java:93-156): one parsed
    * log stream → page / start / display / action / err branches. Branches
    * are filters over ONE shared plan — callers persist the parsed input per
    * micro-batch to avoid recomputing the parse (SURVEY §7.3 #4). Display
    * and action branches explode their arrays, carrying common/page_id/ts
    * (P6, BaseLogApp.java:123-147). */
  def baseLogSplit(log: DataFrame): Map[String, DataFrame] = {
    val err = log.where(col("err").isNotNull)
    val noErr = log // reference keeps err section on other branches
    val start = noErr.where(col("start").isNotNull)
      .select(col("common"), col("start"), col("ts"))
    val page = noErr.where(col("start").isNull && col("page").isNotNull)
    val display = page.where(col("displays").isNotNull)
      .select(col("common"), col("page.page_id").as("page_id"), col("ts"),
        explode(col("displays")).as("display"))
      .select(col("common"), col("page_id"), col("ts"), col("display.*"))
    // the action's OWN ts replaces the row ts, exactly like the reference
    // (BaseLogApp.java:139 puts action.ts over the envelope ts)
    val action = page.where(col("actions").isNotNull)
      .select(col("common"), col("page.page_id").as("page_id"),
        explode(col("actions")).as("action"))
      .select(col("common"), col("page_id"), col("action.*"))
    Map("page" -> page.select(col("common"), col("page"), col("ts")),
      "start" -> start, "display" -> display, "action" -> action,
      "err" -> err.select(col("common"), col("err"), col("ts")))
  }

  // ------------------------------------------------------ trade (db) ------

  /** DwdTradeCartAdd (P4/P5+J4, app/dwd/DwdTradeCartAdd.java:25-76): cart
    * inserts plus quantity-increasing updates; sku_num = delta for updates.
    * Full reference projection (is_checked/operate_time/is_ordered/
    * order_time/source_* included) + the base_dic lookup for
    * source_type_name — the reference's inner FOR SYSTEM_TIME join. */
  def tradeCartAdd(db: DataFrame, baseDic: DataFrame,
      dicJoin: DimJoin = broadcastDim): DataFrame = {
    val cart = db.where(tbl("cart_info") && (col("type") === "insert" ||
        (col("type") === "update" && o("sku_num").isNotNull &&
          d("sku_num").cast("int") > o("sku_num").cast("int"))))
      .select(d("id").as("id"), d("user_id").as("user_id"),
        d("sku_id").as("sku_id"), d("cart_price").as("cart_price"),
        when(col("type") === "insert", d("sku_num"))
          .otherwise((d("sku_num").cast("int") - o("sku_num").cast("int"))
            .cast("string")).as("sku_num"),
        d("sku_name").as("sku_name"), d("is_checked").as("is_checked"),
        d("create_time").as("create_time"),
        d("operate_time").as("operate_time"),
        d("is_ordered").as("is_ordered"), d("order_time").as("order_time"),
        d("source_type").as("source_type_id"),
        d("source_id").as("source_id"), col("ts"))
    withDic(cart, baseDic, "source_type_id", "source_type_name", "inner", dicJoin)
  }

  /** DwdTradeOrderDetail / order_detail view (DwdTradeOrderPreProcess.java:
    * 25-43): order_detail inserts. */
  def orderDetail(db: DataFrame): DataFrame =
    db.where(tbl("order_detail", "insert"))
      .select(d("id").as("id"), d("order_id").as("order_id"),
        d("sku_id").as("sku_id"), d("sku_name").as("sku_name"),
        d("sku_num").as("sku_num"), d("create_time").as("create_time"),
        d("source_id").as("source_id"), d("source_type").as("source_type"),
        d("split_activity_amount").as("split_activity_amount"),
        d("split_coupon_amount").as("split_coupon_amount"),
        d("split_total_amount").as("split_total_amount"), col("ts"))

  // Each trade join pipeline below serves a batch frame and a stream alike.
  // On an unbounded stream the CDC rows of one order arrive in DIFFERENT
  // micro-batches, so there every joined side carries a watermarked event
  // time and every join a ±`ttlSec` interval bound, like the reference's
  // per-join TTLs (DwdTradeOrderPreProcess.java setStateRetentionTime
  // ±15 min, DwdTradePayDetailSuc.java:94-98 905 s): the bound is what lets
  // Spark evict join state. A batch join keeps no state, so a batch frame
  // gets neither. Right-side join keys carry a side prefix (`oi_order_id`,
  // …) so the string-named conditions stay unambiguous; each join drops
  // them, and the right side's event time, right away — a stream may carry
  // only one watermarked column into the next stateful operator.

  /** `cols` of `src`, plus on a stream the event-time column `et`
    * watermarked `ttlSec` behind. Event time is the Maxwell `ts` (epoch
    * seconds) shifted +1 s: a row at exactly epoch 0 sits ON Spark's
    * initial watermark and is dropped as late; the shift is identical on
    * every side, so all relative join bounds are preserved. */
  private def timed(src: DataFrame, et: String, ttlSec: Long)(cols: Column*): DataFrame =
    if (!src.isStreaming) src.select(cols: _*)
    else src.select(cols :+ timestamp_seconds(col("ts") + 1).as(et): _*)
      .withWatermark(et, s"$ttlSec seconds")

  /** On a stream, event time `r` within ±`ttlSec` of `l`; on a batch frame
    * no bound (the optimizer folds the `true` away). */
  private def within(streaming: Boolean, l: String, r: String, ttlSec: Long): Column =
    if (!streaming) lit(true)
    else col(r) >= col(l) - expr(s"INTERVAL $ttlSec SECONDS") &&
      col(r) <= col(l) + expr(s"INTERVAL $ttlSec SECONDS")

  /** `facts` (order_detail's `id`/`order_id`, event time `t`) ⋈ order_info
    * LEFT⋈ order_detail_activity LEFT⋈ order_detail_coupon — the joins
    * DwdTradeOrderPreProcess.java:46-173 and DwdTradePayDetailSuc share.
    * order_info is insert+update and carries every attribute the
    * synthesized CDC stream has (the reference's remaining oi columns —
    * consignee, payment_way, … — exist only in its MySQL schema, not in
    * any test feed). On a stream the left joins' unmatched rows emit once
    * the watermark passes their window — drive a far-future row through
    * every side to flush the tails in bounded runs. */
  private def orderJoins(facts: DataFrame, db: DataFrame, t: String, ttlSec: Long): DataFrame = {
    val s = db.isStreaming
    val oi = timed(db.where(tbl("order_info", "insert", "update")), "oit", ttlSec)(
      d("id").as("oi_order_id"), d("user_id").as("user_id"),
      d("province_id").as("province_id"),
      d("operate_time").as("operate_time"),
      d("total_amount").as("total_amount"),
      d("order_status").as("order_status"), col("type").as("op_type"),
      o("order_status").as("old_order_status"), col("ts").as("oi_ts"))
    val act = timed(db.where(tbl("order_detail_activity", "insert")), "actt", ttlSec)(
      d("order_detail_id").as("act_od_id"), d("activity_id").as("activity_id"),
      d("activity_rule_id").as("activity_rule_id"))
    val cou = timed(db.where(tbl("order_detail_coupon", "insert")), "cout", ttlSec)(
      d("order_detail_id").as("cou_od_id"), d("coupon_id").as("coupon_id"))
    facts.join(oi, col("order_id") === col("oi_order_id") && within(s, t, "oit", ttlSec))
      .drop("oi_order_id", "oit")
      .join(act, col("id") === col("act_od_id") && within(s, t, "actt", ttlSec), "left")
      .drop("act_od_id", "actt")
      .join(cou, col("id") === col("cou_od_id") && within(s, t, "cout", ttlSec), "left")
      .drop("cou_od_id", "cout")
  }

  /** DwdTradeOrderPreProcess (J1/J2/J4, DwdTradeOrderPreProcess.java:
    * 120-173): od ⋈ oi LEFT⋈ activity LEFT⋈ coupon LEFT⋈ base_dic. The
    * dic side is small → broadcast; od⋈oi shuffles on order_id only. */
  def tradeOrderPreProcess(db: DataFrame, baseDic: DataFrame,
      ttlSec: Long = 900L): DataFrame = {
    val od = timed(orderDetail(db), "odt", ttlSec)(col("*"))
    withDic(orderJoins(od, db, "odt", ttlSec), baseDic,
        "source_type", "source_type_name", "left")
      // the reference's wide table publishes the raw code as
      // source_type_id next to the resolved name (DwdTradeOrderPreProcess
      // .java:129-130)
      .withColumnRenamed("source_type", "source_type_id")
      .drop("odt") // internal event-time column, not part of the contract
  }

  /** [[tradeOrderPreProcess]] built from the session's [[TopicDb]] parse
    * and materialized ONCE per (session, sfDir) — the reference writes this
    * wide table to Kafka once (DwdTradeOrderPreProcess.java:275,
    * dwd_trade_order_pre_process topic) and the order-detail and cancel
    * apps consume the topic instead of re-running the 5-way join;
    * re-deriving it per query executed the same join for each (q39/q42/q92). */
  def tradeOrderPreProcessCached(spark: SparkSession, sfDir: String): DataFrame =
    SessionCache(spark, "trade_order_pre|" + sfDir) {
      tradeOrderPreProcess(TopicDb(spark, sfDir), TopicDb.baseDic(spark))
    }

  /** DwdTradeOrderDetail (DwdTradeOrderDetail.java:91-92,122): order
    * DETAIL facts — the pre-process wide table filtered to inserts (the
    * reference consumes the dwd_order_pre topic with `type='insert'`). */
  def tradeOrderDetail(orderPre: DataFrame): DataFrame =
    orderPre.where(col("op_type") === "insert")

  /** DwdTradeCancelDetail (P5, DwdTradeCancelDetail.java:65-92): cancelled
    * order DETAIL rows — the reference filters the PRE-PROCESS wide table
    * (`from dwd_order_pre where type='update' and old['order_status'] is
    * not null and order_status='1003'`), so pass [[tradeOrderPreProcess]]
    * output, not the raw stream. */
  def tradeCancel(orderPre: DataFrame): DataFrame =
    orderPre.where(col("op_type") === "update" &&
      col("old_order_status").isNotNull && col("order_status") === "1003")

  /** DwdTradePayDetailSuc (P5+J1+J4, DwdTradePayDetailSuc.java:23-34,94-98):
    * successful payments (1602) ⋈ order_detail ⋈ order_info (reference:
    * 905 s + 15 min TTLs), then LEFT activity/coupon, then the dics.
    * Rebuilt from the primitive views rather than consuming
    * [[tradeOrderPreProcess]]'s output — the reference does chain through
    * the dwd_order_pre TOPIC, but an in-query chain on a stream would feed
    * the pre-process left-join TAILS (which only emit when the watermark
    * advances) into a downstream join whose state that same watermark just
    * evicted. Inner joins first (emit inline), left joins LAST (their
    * watermark-flushed tails go straight to the sink) is the stable shape;
    * each app re-consuming the topic is exactly the reference's layout
    * anyway. */
  def tradePaySuccess(db: DataFrame, baseDic: DataFrame, ttlSec: Long = 900L): DataFrame = {
    val pay = timed(db.where(tbl("payment_info", "update") &&
        d("payment_status") === "1602"), "pt", ttlSec)(
      d("user_id").as("pay_user_id"), d("order_id").as("pay_order_id"),
      d("payment_type").as("payment_type"),
      d("callback_time").as("callback_time"), col("ts").as("pay_ts"))
    val od = timed(orderDetail(db), "odt", ttlSec)(col("*"))
    val paid = pay.join(od, col("pay_order_id") === col("order_id") &&
        within(db.isStreaming, "pt", "odt", ttlSec))
      .drop("pay_order_id", "odt") // `pt` stays the one event-time column
    withDic(withDic(orderJoins(paid, db, "pt", ttlSec), baseDic,
        "payment_type", "payment_type_name", "left"),
      baseDic, "source_type", "source_type_name", "left")
      .drop("pt") // internal event-time column
  }

  /** DwdTradeOrderRefund (P5+J4, DwdTradeOrderRefund.java:53-114): refund
    * requests — order_refund_info inserts ⋈ order_info refund updates
    * (1005, old not null) ⋈ base_dic twice (refund_type + reason_type).
    * `dicJoin` selects the J4 strategy — broadcast (default) or the
    * shuffle lookup join for a non-broadcastable dim. */
  def tradeOrderRefund(
      db: DataFrame, baseDic: DataFrame,
      dicJoin: DimJoin = broadcastDim, ttlSec: Long = 900L): DataFrame = {
    val refundInfo = timed(db.where(tbl("order_refund_info", "insert")), "rit", ttlSec)(
      d("id").as("id"), d("user_id").as("user_id"),
      d("order_id").as("order_id"), d("sku_id").as("sku_id"),
      d("refund_type").as("refund_type"), d("refund_num").as("refund_num"),
      d("refund_amount").as("refund_amount"),
      d("refund_reason_type").as("refund_reason_type"),
      d("refund_reason_txt").as("refund_reason_txt"),
      // try_to_timestamp: a malformed date yields NULL rather than failing
      // the job (ANSI casts throw)
      date_format(try_to_timestamp(d("create_time")), "yyyy-MM-dd").as("date_id"),
      d("create_time").as("create_time"), col("ts"))
    val oiRefund = timed(db.where(tbl("order_info", "update") &&
        d("order_status") === "1005" && o("order_status").isNotNull), "oit", ttlSec)(
      d("id").as("oi_order_id"), d("province_id").as("province_id"))
    val joined = refundInfo.join(oiRefund, col("order_id") === col("oi_order_id") &&
        within(db.isStreaming, "rit", "oit", ttlSec))
      .drop("oi_order_id", "oit")
    withDic(withDic(joined, baseDic, "refund_type", "refund_type_name", "inner", dicJoin),
      baseDic, "refund_reason_type", "refund_reason_type_name", "inner", dicJoin)
      .drop("rit") // internal event-time column
  }

  /** DwdTradeRefundPaySuc (P5+J1+J4, DwdTradeRefundPaySuc.java:54-130):
    * refund payments done — refund_payment updates (0702, old not null)
    * ⋈ order_info updates (1006, old not null) ⋈ order_refund_info (NO
    * type/status filter — the reference's is commented out, its
    * refund_status is always null there) on (order_id, sku_id) ⋈ base_dic. */
  def tradeRefundPaySuccess(db: DataFrame, baseDic: DataFrame,
      ttlSec: Long = 900L): DataFrame = {
    val s = db.isStreaming
    val refundPay = timed(db.where(tbl("refund_payment", "update") &&
        d("refund_status") === "0702" && o("refund_status").isNotNull), "rpt", ttlSec)(
      d("id").as("id"), d("order_id").as("order_id"),
      d("sku_id").as("sku_id"), d("payment_type").as("payment_type"),
      date_format(try_to_timestamp(d("callback_time")), "yyyy-MM-dd").as("date_id"),
      d("callback_time").as("callback_time"),
      d("total_amount").as("total_amount"), col("ts"))
    val oi = timed(db.where(tbl("order_info", "update") &&
        d("order_status") === "1006" && o("order_status").isNotNull), "oit", ttlSec)(
      d("id").as("oi_order_id"), d("user_id").as("user_id"),
      d("province_id").as("province_id"))
    val refundInfo = timed(db.where(tbl("order_refund_info")), "rit", ttlSec)(
      d("order_id").as("ri_order_id"), d("sku_id").as("ri_sku_id"),
      d("refund_num").as("refund_num"))
    val joined = refundPay.join(oi, col("order_id") === col("oi_order_id") &&
        within(s, "rpt", "oit", ttlSec))
      .drop("oi_order_id", "oit")
      .join(refundInfo, col("order_id") === col("ri_order_id") &&
        col("sku_id") === col("ri_sku_id") && within(s, "rpt", "rit", ttlSec))
      .drop("ri_order_id", "ri_sku_id", "rit")
    withDic(joined, baseDic, "payment_type", "payment_type_name", "inner")
      .drop("rpt") // internal event-time column
  }

  // ------------------------------------------------------- tool / misc ----

  /** DwdToolCouponGet (DwdToolCouponGet.java:51-52): coupon grants. */
  def couponGet(db: DataFrame): DataFrame =
    db.where(tbl("coupon_use", "insert"))
      .select(d("id").as("id"), d("coupon_id").as("coupon_id"),
        d("user_id").as("user_id"),
        date_format(d("get_time").cast("timestamp"), "yyyy-MM-dd").as("date_id"),
        d("get_time").as("get_time"), col("ts"))

  /** DwdToolCouponOrder (DwdToolCouponOrder.java:52-64): coupon applied to
    * an order — update with coupon_status 1401→1402. */
  def couponOrder(db: DataFrame): DataFrame =
    db.where(tbl("coupon_use", "update") && d("coupon_status") === "1402" &&
        o("coupon_status") === "1401")
      .select(d("id").as("id"), d("coupon_id").as("coupon_id"),
        d("user_id").as("user_id"), d("order_id").as("order_id"),
        date_format(d("using_time").cast("timestamp"), "yyyy-MM-dd").as("date_id"),
        d("using_time").as("using_time"), col("ts"))

  /** DwdToolCouponPay (DwdToolCouponPay.java:45-56): coupon consumed at
    * payment. The reference filters ONLY `data['used_time'] is not null`
    * (no old-map predicate) — an update that changes used_time
    * non-null→non-null is emitted. */
  def couponPay(db: DataFrame): DataFrame =
    db.where(tbl("coupon_use", "update") && d("used_time").isNotNull)
      .select(d("id").as("id"), d("coupon_id").as("coupon_id"),
        d("user_id").as("user_id"), d("order_id").as("order_id"),
        date_format(d("used_time").cast("timestamp"), "yyyy-MM-dd").as("date_id"),
        d("used_time").as("used_time"), col("ts"))

  /** DwdInteractionFavorAdd (DwdInteractionFavorAdd.java:54-56): favor adds
    * — inserts, or any update with is_cancel='0' (the reference has NO
    * old-map predicate; an is_cancel=0→0 touch re-emits). */
  def favorAdd(db: DataFrame): DataFrame =
    db.where(tbl("favor_info") && (col("type") === "insert" ||
        (col("type") === "update" && d("is_cancel") === "0")))
      .select(d("id").as("id"), d("user_id").as("user_id"),
        d("sku_id").as("sku_id"), d("create_time").as("create_time"), col("ts"))

  /** DwdInteractionComment (DwdInteractionComment.java:56-87): comment
    * inserts enriched with the appraise dictionary — the reference's
    * INNER `for system_time` join, with the derived date_id
    * (DwdInteractionComment.java:74-87). */
  def comment(db: DataFrame, baseDic: DataFrame): DataFrame =
    withDic(db.where(tbl("comment_info", "insert"))
      .select(d("id").as("id"), d("user_id").as("user_id"),
        d("sku_id").as("sku_id"), d("order_id").as("order_id"),
        date_format(d("create_time").cast("timestamp"), "yyyy-MM-dd").as("date_id"),
        d("create_time").as("create_time"), d("appraise").as("appraise"),
        d("comment_txt").as("comment_txt"), col("ts")),
      baseDic, "appraise", "appraise_name", "inner")

  /** DwdUserRegister (DwdUserRegister.java:54-55): user_info inserts. */
  def userRegister(db: DataFrame): DataFrame =
    db.where(tbl("user_info", "insert"))
      .select(d("id").as("user_id"),
        date_format(d("create_time").cast("timestamp"), "yyyy-MM-dd").as("date_id"),
        d("create_time").as("create_time"), col("ts"))

  // ================================================================= DIM ==

  /** DimApp config router (J3/P8/P9, app/dim/DimApp.java:178-187 +
    * app/func/TableProcessFunction.java:169-324): route CDC rows whose
    * `table` appears in the config, prune `data` to the configured
    * sink_columns, and stamp the sink table name. Config is broadcast —
    * the CDC side never shuffles. */
  def dimRouter(db: DataFrame, config: DataFrame): DataFrame =
    Envelopes.cdcUpserts(db)
      .join(broadcast(config.select(
          col("source_table"), col("sink_table"),
          split(col("sink_columns"), ",").as("cfg_cols"))),
        col("table") === col("source_table"))
      .select(col("sink_table"),
        map_filter(col("data"), (k, _) => array_contains(col("cfg_cols"), k))
          .as("data"),
        col("type"), col("ts"))

  // ================================================================= DWS ==

  /** DwsTrafficSourceKeywordPageViewWindow source filter + tokenize (J5/U1,
    * DwsTrafficSourceKeywordPageViewWindow.java:123-141): search-page hits,
    * keyword split into one row per token. Window agg is applied by the
    * caller ([[graft.operators.EventOps.tumblingAgg]] batch /
    * [[Windows.tumblingCount]] streaming). */
  def keywordHits(log: DataFrame): DataFrame =
    log.where(col("page.last_page_id") === "search" &&
        col("page.item_type") === "keyword" && col("page.item").isNotNull)
      .select(Tokenizer.tokenizeGen(col("page.item")).as("word"),
        timestamp_millis(col("ts")).as("rt"))

  /** DwsTrafficVcChArIsNewPageViewWindow pre-aggregation encode (X7/A2,
    * DwsTrafficVcChArIsNewPageViewWindow.java:43-81): page views as 0/1
    * counter rows keyed by (vc,ch,ar,is_new); uv/sv flags derived from
    * per-mid dedup and session starts (W9). uniqueVisitorFlags = output of
    * the A4 dedup marking each row's first-of-day status. */
  def trafficCounters(page: DataFrame): DataFrame =
    page.select(
      col("common.vc").as("vc"), col("common.ch").as("ch"),
      col("common.ar").as("ar"), col("common.is_new").as("is_new"),
      col("common.mid").as("mid"),
      lit(1L).as("pv"),
      col("page.during_time").as("dur"),
      when(col("page.last_page_id").isNull, lit(1L)).otherwise(lit(0L)).as("sv"),
      timestamp_millis(col("ts")).as("rt"))
}
