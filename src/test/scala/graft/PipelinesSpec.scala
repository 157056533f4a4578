package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Envelopes
import graft.apps.GmallPipelines

/** The 20 reference pipelines over synthetic Maxwell / behavior-log
  * envelopes: each test encodes the semantics cited in SURVEY.md §2 from
  * the reference source (file:line in the pipeline's Scaladoc). */
class PipelinesSpec extends SparkTestBase {
  import spark.implicits._

  private def maxwell(rows: (String, String, Map[String, String], Map[String, String])*): DataFrame = {
    val json = rows.zipWithIndex.map { case ((table, typ, data, old), i) =>
      val d = data.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
      val o =
        if (old == null) "null"
        else old.map { case (k, v) =>
          if (v == null) s""""$k":null""" else s""""$k":"$v""""
        }.mkString("{", ",", "}")
      s"""{"database":"gmall","table":"$table","type":"$typ","ts":${1000 + i},"data":$d,"old":$o}"""
    }
    Envelopes.cleanDirty(Envelopes.parseMaxwell(json.toDF("value")))._1
  }

  test("corrupt records route to the dirty stream, never fail the job (P1/X11)") {
    val raw = Seq("""{"table":"t","type":"insert","data":{"id":"1"}}""", "{not json").toDF("value")
    val (clean, dirty) = Envelopes.cleanDirty(Envelopes.parseMaxwell(raw))
    assert(clean.count() === 1)
    assert(dirty.count() === 1)
    assert(dirty.select("_raw").as[String].head === "{not json")
  }

  test("cdcUpserts keeps insert/update/bootstrap-insert, drops delete (P2)") {
    val db = maxwell(
      ("t", "insert", Map("id" -> "1"), null),
      ("t", "update", Map("id" -> "2"), Map("id" -> "1")),
      ("t", "bootstrap-insert", Map("id" -> "3"), null),
      ("t", "delete", Map("id" -> "4"), null))
    assert(Envelopes.cdcUpserts(db).select("type").as[String].collect().sorted
      === Array("bootstrap-insert", "insert", "update"))
  }

  test("tradeCartAdd: inserts plus quantity-increasing updates with delta sku_num (P4/P5)") {
    val db = maxwell(
      ("cart_info", "insert", Map("id" -> "a", "user_id" -> "u1", "sku_id" -> "s1",
        "cart_price" -> "5", "sku_num" -> "2", "sku_name" -> "x", "create_time" -> "t",
        "is_checked" -> "1", "source_type" -> "2401", "source_id" -> "7"), null),
      ("cart_info", "update", Map("id" -> "b", "user_id" -> "u1", "sku_id" -> "s1",
        "cart_price" -> "5", "sku_num" -> "7", "sku_name" -> "x", "create_time" -> "t",
        "source_type" -> "2402"),
        Map("sku_num" -> "3")),
      ("cart_info", "update", Map("id" -> "c", "sku_num" -> "1", "source_type" -> "2401"),
        Map("sku_num" -> "4")), // decrease: dropped
      ("cart_info", "update", Map("id" -> "d", "sku_num" -> "9", "source_type" -> "2401"),
        Map("other" -> "1")),   // sku_num not in old: dropped
      ("other_table", "insert", Map("id" -> "e", "sku_num" -> "1"), null))
    val dic = Seq(("2401", "promo"), ("2402", "search")).toDF("dic_code", "dic_name")
    val full = GmallPipelines.tradeCartAdd(db, dic)
    val out = full.select("id", "sku_num").as[(String, String)].collect().toMap
    assert(out === Map("a" -> "2", "b" -> "4")) // update delta = 7 - 3
    // full reference column set incl. the resolved dic name
    val a = full.where(col("id") === "a")
      .select("is_checked", "source_type_id", "source_type_name", "source_id")
      .as[(String, String, String, String)].head()
    assert(a === ("1", "2401", "promo", "7"))
  }

  test("tradeOrderPreProcess joins detail+info and left-joins activity/coupon/dic (J1/J2/J4)") {
    val db = maxwell(
      ("order_detail", "insert", Map("id" -> "d1", "order_id" -> "o1", "sku_id" -> "s1",
        "sku_name" -> "n", "sku_num" -> "1", "create_time" -> "t", "source_id" -> "src",
        "source_type" -> "2401", "split_activity_amount" -> "0",
        "split_coupon_amount" -> "0", "split_total_amount" -> "9"), null),
      ("order_detail", "insert", Map("id" -> "d2", "order_id" -> "o_missing", "sku_id" -> "s2",
        "source_type" -> "9999"), null),
      ("order_info", "insert", Map("id" -> "o1", "user_id" -> "u1", "province_id" -> "p1",
        "operate_time" -> "t", "order_status" -> "1001"), null),
      ("order_detail_activity", "insert", Map("order_detail_id" -> "d1",
        "activity_id" -> "act1", "activity_rule_id" -> "r1"), null))
    val dic = Seq(("2401", "user buy")).toDF("dic_code", "dic_name")
    val out = GmallPipelines.tradeOrderPreProcess(db, dic)
    val rows = out.select("id", "order_id", "activity_id", "coupon_id", "source_type_name")
      .collect()
    assert(rows.length === 1) // d2 has no matching order_info → inner join drops it
    val r = rows.head
    assert(r.getString(0) === "d1")
    assert(r.getString(2) === "act1")
    assert(r.isNullAt(3))                  // no coupon → left-join null
    assert(r.getString(4) === "user buy")  // dic lookup
  }

  test("refund pipelines keep a row with a malformed date on a batch frame, date_id null") {
    val db = maxwell(
      ("order_refund_info", "insert", Map("id" -> "r1", "user_id" -> "u1", "order_id" -> "o1",
        "sku_id" -> "s1", "refund_type" -> "1501", "refund_num" -> "1",
        "refund_amount" -> "5", "refund_reason_type" -> "1301",
        "create_time" -> "not-a-date"), null),
      ("order_refund_info", "insert", Map("id" -> "r2", "user_id" -> "u1", "order_id" -> "o1",
        "sku_id" -> "s2", "refund_type" -> "1501", "refund_num" -> "2",
        "refund_amount" -> "7", "refund_reason_type" -> "1301",
        "create_time" -> "2022-06-01 10:00:00"), null),
      ("order_info", "update", Map("id" -> "o1", "order_status" -> "1005",
        "province_id" -> "p1"), Map("order_status" -> "1004")),
      ("refund_payment", "update", Map("id" -> "rp1", "order_id" -> "o2", "sku_id" -> "s3",
        "payment_type" -> "1101", "refund_status" -> "0702", "callback_time" -> "2022-13-45 99",
        "total_amount" -> "3"), Map("refund_status" -> "0701")),
      ("order_info", "update", Map("id" -> "o2", "order_status" -> "1006", "user_id" -> "u2",
        "province_id" -> "p2"), Map("order_status" -> "1005")),
      ("order_refund_info", "insert", Map("id" -> "r3", "order_id" -> "o2", "sku_id" -> "s3",
        "refund_num" -> "1"), null),
      // one bad date per tool / interaction / user pipeline
      ("coupon_use", "insert", Map("id" -> "cg1", "coupon_id" -> "c1", "user_id" -> "u1",
        "get_time" -> "bad-date"), null),
      ("coupon_use", "update", Map("id" -> "co1", "coupon_status" -> "1402",
        "using_time" -> "bad-date"), Map("coupon_status" -> "1401")),
      ("coupon_use", "update", Map("id" -> "cp1", "used_time" -> "bad-date"),
        Map("used_time" -> null)),
      ("comment_info", "insert", Map("id" -> "cm1", "appraise" -> "1201",
        "create_time" -> "bad-date"), null),
      ("user_info", "insert", Map("id" -> "u9", "create_time" -> "bad-date"), null))
    val dic = Seq(("1501", "refund_full"), ("1301", "reason_quality"), ("1101", "alipay"),
      ("1201", "good")).toDF("dic_code", "dic_name")
    val refunds = GmallPipelines.tradeOrderRefund(db, dic)
      .select("id", "date_id").as[(String, String)].collect().toMap
    assert(refunds === Map("r1" -> null, "r2" -> "2022-06-01"))
    val refundPays = GmallPipelines.tradeRefundPaySuccess(db, dic)
      .select("id", "date_id").as[(String, String)].collect().toSeq
    assert(refundPays === Seq(("rp1", null)))
    def dates(df: DataFrame, id: String = "id") =
      df.select(col(id), col("date_id")).as[(String, String)].collect().toSeq
    assert(dates(GmallPipelines.couponGet(db)) === Seq(("cg1", null)))
    assert(dates(GmallPipelines.couponOrder(db)) === Seq(("co1", null)))
    assert(dates(GmallPipelines.couponPay(db)) === Seq(("cp1", null)))
    assert(dates(GmallPipelines.comment(db, dic)) === Seq(("cm1", null)))
    assert(dates(GmallPipelines.userRegister(db), "user_id") === Seq(("u9", null)))
  }

  test("couponPay: updates with used_time set (reference has no old-map predicate)") {
    val db = maxwell(
      ("coupon_use", "update", Map("id" -> "1", "coupon_id" -> "c", "user_id" -> "u",
        "order_id" -> "o", "used_time" -> "2022-01-01"), Map("used_time" -> null)),
      ("coupon_use", "update", Map("id" -> "2", "used_time" -> "2022-01-02"),
        Map("coupon_status" -> "1401")),
      ("coupon_use", "update", Map("id" -> "3", "coupon_status" -> "1402"), null),
      ("coupon_use", "insert", Map("id" -> "4", "used_time" -> "2022-01-03"), null))
    // rows 1-2 kept (used_time set); row 3 no used_time; row 4 not an update
    assert(GmallPipelines.couponPay(db).select("id").as[String].collect().sorted
      === Array("1", "2"))
  }

  test("favorAdd: inserts and is_cancel='0' updates (reference has no old-map predicate)") {
    val db = maxwell(
      ("favor_info", "insert", Map("id" -> "1", "user_id" -> "u", "sku_id" -> "s",
        "create_time" -> "t"), null),
      ("favor_info", "update", Map("id" -> "2", "is_cancel" -> "0"), Map("is_cancel" -> "1")),
      ("favor_info", "update", Map("id" -> "3", "is_cancel" -> "1"), Map("is_cancel" -> "0")))
    assert(GmallPipelines.favorAdd(db).select("id").as[String].collect().sorted
      === Array("1", "2"))
  }

  test("dimRouter prunes data to configured sink_columns and stamps sink_table (J3/P8/P9)") {
    val db = maxwell(
      ("user_info", "insert", Map("id" -> "1", "name" -> "n", "secret" -> "x"), null),
      ("unconfigured", "insert", Map("id" -> "9"), null))
    val config = Seq(("user_info", "dim_user_info", "id,name")).toDF(
      "source_table", "sink_table", "sink_columns")
    val out = GmallPipelines.dimRouter(db, config)
    val rows = out.collect()
    assert(rows.length === 1) // unconfigured table dropped
    assert(rows.head.getAs[String]("sink_table") === "dim_user_info")
    val data = rows.head.getAs[Map[String, String]]("data")
    assert(data === Map("id" -> "1", "name" -> "n")) // secret pruned
  }

  test("baseLogSplit: 5-way split with display explosion (P6/P7)") {
    val logs = Seq(
      """{"common":{"mid":"m1"},"page":{"page_id":"home","last_page_id":null,"during_time":5},
         "displays":[{"item":"a","pos_id":1},{"item":"b","pos_id":2}],"ts":1}""".replaceAll("\n\\s*", ""),
      """{"common":{"mid":"m2"},"start":{"entry":"icon"},"ts":2}""",
      """{"common":{"mid":"m3"},"page":{"page_id":"cart"},"err":{"error_code":1,"msg":"x"},"ts":3}""")
      .toDF("value")
    val (clean, _) = Envelopes.cleanDirty(Envelopes.parseLog(logs))
    val b = GmallPipelines.baseLogSplit(clean)
    assert(b("page").count() === 2)     // m1, m3 (m2 is a start log)
    assert(b("start").count() === 1)    // m2
    assert(b("display").count() === 2)  // m1's two displays exploded
    assert(b("action").count() === 0)
    assert(b("err").count() === 1)      // m3 carries err
    assert(b("display").select("item").as[String].collect().sorted === Array("a", "b"))
  }

  test("keywordHits tokenizes search-page items (J5/U1)") {
    val logs = Seq(
      """{"common":{"mid":"m1"},"page":{"page_id":"good_list","last_page_id":"search","item":"iphone 手机壳","item_type":"keyword"},"ts":1000}""",
      """{"common":{"mid":"m2"},"page":{"page_id":"good_list","last_page_id":"home","item":"tv","item_type":"keyword"},"ts":2000}""")
      .toDF("value")
    val (clean, _) = Envelopes.cleanDirty(Envelopes.parseLog(logs))
    val words = GmallPipelines.keywordHits(clean).select("word").as[String].collect().sorted
    assert(words === Array("iphone", "手机壳")) // FMM: longest dictionary match wins
  }
}
