package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONE synthesized Maxwell CDC stream carrying every business table the
  * reference's DWD/DIM apps consume — the Spark analogue of the single
  * `topic_db` Kafka topic every reference app reads
  * (utils/MyKafkaUtil.java:79-89). Built deterministically from the
  * driver's TPC-H tables so every pipeline gate has a DuckDB-expressible
  * oracle; parsed ONCE per (session, sfDir) and persisted, exactly like
  * one consumer group sharing a topic.
  *
  * Table derivations (all arithmetic deterministic in the keys, mirrored
  * literally by the oracle SQL in [[graft.SparkEntry.oracleSql]]):
  *
  *  - order_info        ← orders (insert if 'O', else update; update
  *                        status = ['1002','1003','1005','1006','1004'][k%5],
  *                        old = {order_status:'1001'})
  *  - payment_info      ← orders where k%3=0 (update; status '1602' unless
  *                        k%5=0 → '1601')
  *  - coupon_use        ← orders: k%4=0 insert(get) / k%4=1 update(order,
  *                        old coupon_status '1401' iff k%8=1) / k%4=2
  *                        update(pay, used_time present iff k%8=2)
  *  - user_info         ← customer (insert)
  *  - order_detail(+activity/coupon) ← lineitem (q39 scheme, verbatim)
  *  - cart_info         ← lineitem (q36 scheme, verbatim)
  *  - order_refund_info ← lineitem where l_returnflag='R' (insert)
  *  - refund_payment    ← lineitem where rf='R' ∧ n%2=0 (update; status
  *                        '0702' unless p%3=0; old present unless p%5=4)
  *  - favor_info        ← lineitem where p%5=0 (insert if k%2=0 else
  *                        update with is_cancel = n%2=0 ? '0' : '1')
  *  - comment_info      ← lineitem where n=1 ∧ p%2=0 (insert)
  *
  * Scale: the synthesis is a narrow projection over two scans (orders,
  * lineitem, customer), repartitioned before the CPU-heavy to_json so
  * JSON work spreads over all cores; the single from_json pass is
  * persisted and reused by all ~13 pipeline gates instead of re-parsing
  * per query (SURVEY §7.3 #4).
  */
object TopicDb {

  /** Literal base_dic dimension (the reference's MySQL lookup table,
    * utils/MysqlUtil.java getBaseDicLookUpDDL). */
  def baseDic(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      "1101" -> "alipay", "1102" -> "wechat",
      "1201" -> "good", "1202" -> "mid", "1203" -> "bad",
      "1301" -> "reason_quality", "1302" -> "reason_other",
      "1501" -> "refund_full", "1502" -> "refund_part",
      "2401" -> "promo", "2402" -> "search",
    ).toDF("dic_code", "dic_name")
  }

  /** The parsed, clean, persisted topic_db stream for a scale-factor dir
    * (one [[SessionCache]] entry per session — one consumer group sharing
    * a topic). */
  def apply(spark: SparkSession, sfDir: String): DataFrame =
    SessionCache(spark, "topic_db|" + sfDir) {
      graft.streaming.Sources.topicDb(raw(spark, sfDir))
    }

  /** Every table [[raw]] synthesizes, in leg order. */
  val allTables: Seq[String] = Seq(
    "order_info", "payment_info", "coupon_use",
    "order_detail", "order_detail_activity", "order_detail_coupon",
    "cart_info", "order_refund_info", "refund_payment", "favor_info",
    "comment_info", "user_info")

  /** The unparsed envelope stream (one `value` JSON string column). */
  def raw(spark: SparkSession, sfDir: String): DataFrame =
    rawFor(spark, sfDir, allTables.toSet)

  /** [[raw]] restricted to `tables` — the producer-side filter pushdown a
    * per-pipeline gate uses so a feed that only joins N tables never
    * synthesizes, stages, or parses the other legs (round-11 verdict #2:
    * q164 paid the whole topic four times). Legs union in [[allTables]]
    * order, so `rawFor(_, _, allTables.toSet)` is bit-identical to the
    * historical `raw`. Source scans not feeding a requested leg are never
    * read. */
  def rawFor(spark: SparkSession, sfDir: String, tables: Set[String]): DataFrame = {
    val unknown = tables.diff(allTables.toSet)
    require(unknown.isEmpty, s"rawFor: unknown topic_db tables $unknown")
    require(tables.nonEmpty, "rawFor: empty table set")
    val sp = spark.conf.get("spark.sql.shuffle.partitions").toInt
    lazy val ord = Tables.orders(spark, sfDir).repartition(sp)
    lazy val li = Tables.lineitem(spark, sfDir).repartition(sp)
    lazy val cust = Tables.customer(spark, sfDir).repartition(sp)
    val legs: Seq[(String, () => DataFrame)] =
      orderLegs(() => ord) ++ lineitemLegs(() => li) ++ customerLegs(() => cust)
    require(legs.map(_._1) == allTables, "leg order must match allTables")
    legs.collect { case (t, mk) if tables(t) => mk() }
      .reduce(_.unionByName(_))
  }

  /** Maxwell envelope JSON for one change row. */
  private def env(table: String, typ: Column, ts: Column, data: Column,
      old: Column = lit(null).cast("map<string,string>")): Column =
    to_json(struct(lit("gmall").as("database"), lit(table).as("table"),
      typ.as("type"), ts.as("ts"), data.as("data"), old.as("old")))

  /** Drop null-valued entries so "field absent" is expressible inside one
    * static map(...) call. */
  private def sparseMap(kv: (String, Column)*): Column =
    map_filter(
      map(kv.flatMap { case (k, v) => Seq(lit(k), v.cast("string")) }: _*),
      (_, v) => v.isNotNull)

  private def orderLegs(ord: () => DataFrame): Seq[(String, () => DataFrame)] = {
    val k = col("o_orderkey")
    val date = date_format(col("o_orderdate"), "yyyy-MM-dd")
    val price = col("o_totalprice").cast("decimal(18,2)").cast("string")
    val orderInfo = () => ord().select(env("order_info",
      when(col("o_orderstatus") === "O", "insert").otherwise("update"), k,
      sparseMap(
        "id" -> k, "user_id" -> col("o_custkey"),
        "province_id" -> (col("o_custkey") % 34),
        "operate_time" -> date, "total_amount" -> price,
        "order_status" -> when(col("o_orderstatus") === "O", lit("1001"))
          .otherwise(element_at(
            array(lit("1002"), lit("1003"), lit("1005"), lit("1006"), lit("1004")),
            (k % 5 + 1).cast("int")))),
      when(col("o_orderstatus") =!= "O", map(lit("order_status"), lit("1001"))))
      .as("value"))
    val payment = () => ord().where(k % 3 === 0).select(env("payment_info",
      lit("update"), k,
      sparseMap(
        "id" -> k, "user_id" -> col("o_custkey"), "order_id" -> k,
        "payment_type" -> concat(lit("110"), k % 2 + 1),
        "payment_status" -> when(k % 5 =!= 0, lit("1602")).otherwise(lit("1601")),
        "callback_time" -> concat(date, lit(" 12:00:00")),
        "total_amount" -> price),
      map(lit("payment_status"), lit("1601"))).as("value"))
    val couponGet = () => ord().where(k % 4 === 0).select(env("coupon_use",
      lit("insert"), k,
      sparseMap(
        "id" -> concat(lit("cu"), k), "coupon_id" -> concat(lit("cpn_"), k % 7),
        "user_id" -> col("o_custkey"), "get_time" -> date)).as("value"))
    val couponOrder = () => ord().where(k % 4 === 1).select(env("coupon_use",
      lit("update"), k,
      sparseMap(
        "id" -> concat(lit("cu"), k), "coupon_id" -> concat(lit("cpn_"), k % 7),
        "user_id" -> col("o_custkey"), "order_id" -> k,
        "coupon_status" -> lit("1402"), "using_time" -> date),
      map(lit("coupon_status"),
        when(k % 8 === 1, lit("1401")).otherwise(lit("1402")))).as("value"))
    val couponPay = () => ord().where(k % 4 === 2).select(env("coupon_use",
      lit("update"), k,
      sparseMap(
        "id" -> concat(lit("cu"), k), "coupon_id" -> concat(lit("cpn_"), k % 7),
        "user_id" -> col("o_custkey"), "order_id" -> k,
        "used_time" -> when(k % 8 === 2, concat(date, lit(" 10:00:00")))),
      map(lit("used_time"), lit(null).cast("string"))).as("value"))
    Seq(
      "order_info" -> orderInfo, "payment_info" -> payment,
      // CombineUnions flattens nested unions, so grouping the three
      // coupon_use branches under one leg keeps the plan (and row order)
      // identical to the historical five-way union
      "coupon_use" -> (() => couponGet().unionByName(couponOrder())
        .unionByName(couponPay())))
  }

  private def lineitemLegs(li: () => DataFrame): Seq[(String, () => DataFrame)] = {
    val k = col("l_orderkey"); val n = col("l_linenumber")
    val p = col("l_partkey"); val s = col("l_suppkey")
    val lnId = concat(k, lit("-"), n)
    val ship = date_format(col("l_shipdate"), "yyyy-MM-dd")
    val price = col("l_extendedprice").cast("decimal(18,2)").cast("string")
    val qty = col("l_quantity").cast("int")
    // ----- q39's four order tables, scheme unchanged -----
    val detail = () => li().select(env("order_detail", lit("insert"), k,
      sparseMap(
        "id" -> lnId, "order_id" -> k, "sku_id" -> p,
        "sku_name" -> concat(lit("sku_"), p), "sku_num" -> qty,
        "create_time" -> ship, "source_id" -> s,
        "source_type" -> concat(lit("240"), n % 2 + 1),
        "split_activity_amount" -> lit("0.00"),
        "split_coupon_amount" -> lit("0.00"),
        "split_total_amount" -> price)).as("value"))
    val activity = () => li().where(n % 3 === 0)
      .select(env("order_detail_activity", lit("insert"), k,
        sparseMap(
          "order_detail_id" -> lnId,
          "activity_id" -> concat(lit("act_"), s % 5),
          "activity_rule_id" -> lit("r1"))).as("value"))
    val coupon = () => li().where(p % 4 === 0)
      .select(env("order_detail_coupon", lit("insert"), k,
        sparseMap(
          "order_detail_id" -> lnId,
          "coupon_id" -> concat(lit("cpn_"), p % 7))).as("value"))
    // ----- q36's cart_info (full DwdTradeCartAdd.java:27-39 field set;
    //       order_time sparse — present only on ordered carts) -----
    val cart = () => li().select(env("cart_info",
      when(col("l_returnflag") === "N", "insert")
        .when(col("l_returnflag") === "A", "update").otherwise("delete"), k,
      sparseMap(
        "id" -> lnId, "user_id" -> s, "sku_id" -> p, "cart_price" -> price,
        "sku_num" -> qty, "sku_name" -> concat(lit("sku_"), p),
        "is_checked" -> (p % 2), "create_time" -> ship,
        "operate_time" -> concat(ship, lit(" 09:00:00")),
        "is_ordered" -> (k % 2),
        "order_time" -> when(k % 2 === 1, concat(ship, lit(" 11:00:00"))),
        "source_type" -> concat(lit("240"), n % 2 + 1),
        "source_id" -> s),
      when(col("l_returnflag") === "A",
        map(lit("sku_num"), (qty - (n % 4 - 1)).cast("string")))).as("value"))
    // ----- refund / interaction tables -----
    val rf = col("l_returnflag") === "R"
    val refundInfo = () => li().where(rf).select(env("order_refund_info",
      lit("insert"), k,
      sparseMap(
        "id" -> concat(lnId, lit("r")), "user_id" -> s, "order_id" -> k,
        "sku_id" -> p, "refund_type" -> concat(lit("150"), n % 2 + 1),
        "refund_num" -> qty, "refund_amount" -> price,
        "refund_reason_type" -> concat(lit("130"), p % 2 + 1),
        "refund_reason_txt" -> concat(lit("reason "), p),
        "create_time" -> ship)).as("value"))
    val refundPay = () => li().where(rf && n % 2 === 0).select(env("refund_payment",
      lit("update"), k,
      sparseMap(
        "id" -> concat(lnId, lit("rp")), "order_id" -> k, "sku_id" -> p,
        "payment_type" -> concat(lit("110"), p % 2 + 1),
        "refund_status" -> when(p % 3 =!= 0, lit("0702")).otherwise(lit("0701")),
        "callback_time" -> concat(ship, lit(" 14:00:00")),
        "total_amount" -> price),
      when(p % 5 =!= 4, map(lit("refund_status"), lit("0701")))).as("value"))
    val favor = () => li().where(p % 5 === 0).select(env("favor_info",
      when(k % 2 === 0, "insert").otherwise("update"), k,
      sparseMap(
        "id" -> concat(lit("f"), lnId), "user_id" -> s, "sku_id" -> p,
        "is_cancel" -> when(n % 2 === 0, lit("0")).otherwise(lit("1")),
        "create_time" -> ship)).as("value"))
    val comment = () => li().where(n === 1 && p % 2 === 0).select(env("comment_info",
      lit("insert"), k,
      sparseMap(
        "id" -> concat(lit("cm"), k), "user_id" -> s, "sku_id" -> p,
        "order_id" -> k, "appraise" -> concat(lit("120"), p % 3 + 1),
        "comment_txt" -> concat(lit("comment "), k),
        "create_time" -> ship)).as("value"))
    Seq(
      "order_detail" -> detail, "order_detail_activity" -> activity,
      "order_detail_coupon" -> coupon, "cart_info" -> cart,
      "order_refund_info" -> refundInfo, "refund_payment" -> refundPay,
      "favor_info" -> favor, "comment_info" -> comment)
  }

  private def customerLegs(cust: () => DataFrame): Seq[(String, () => DataFrame)] = {
    val c = col("c_custkey")
    val user = () => cust().select(env("user_info", lit("insert"), c,
      sparseMap(
        "id" -> c, "name" -> col("c_name"),
        "create_time" -> concat(lit("2023-04-"),
          lpad((c % 28 + 1).cast("string"), 2, "0"), lit(" 08:30:00")))).as("value"))
    Seq("user_info" -> user)
  }
}
