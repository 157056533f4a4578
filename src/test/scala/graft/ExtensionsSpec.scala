package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SQL registration of the native expressions through the
  * SparkSessionExtensions entry point — the spec session, like every
  * entry point's, is built with `spark.sql.extensions` set by
  * [[graft.core.Engine.configure]]. */
class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("GraftExtensions injects without error and the session extension exposes SQL functions") {
    // injection path (what spark.sql.extensions invokes at session build)
    new GraftExtensions().apply(new SparkSessionExtensions)

    Seq((1L, Array(3.0f, 4.0f), Array(1.0f, 0.0f)))
      .toDF("id", "a", "b").createOrReplaceTempView("vecs")

    val row = spark.sql(
      "SELECT graft_dot(a, b) AS d, graft_l2norm(a) AS n FROM vecs")
      .as[(Double, Double)].head()
    assert(row === ((3.0, 5.0)))

    val bkt = spark.sql("SELECT graft_bucket64(a, 4) AS bkt FROM vecs")
      .as[Long].head()
    assert(bkt >= 0L && bkt < 16L)

    Seq((1L, "hello spark 引擎测试 world"))
      .toDF("doc_id", "text").createOrReplaceTempView("docs")
    val words = spark.sql(
      "SELECT word FROM docs LATERAL VIEW graft_tokenize(text) t AS word")
      .as[String].collect().toSeq
    // FMM: two dictionary words, no overlapping bigrams; ASCII passes through
    assert(words === Seq("hello", "spark", "引擎", "测试", "world"))

    // hash signatures from SQL match the Column-API expressions
    val (mh, sh) = spark.sql(
      "SELECT graft_minhash(array('a', 'b'), 4) AS mh, graft_simhash(array('a', 'b'), 60) AS sh")
      .as[(Array[Long], Long)].head()
    val viaApi = Seq("x").toDF("t").select(
      org.apache.spark.sql.graftshim.ColumnBridge.column(
        graft.functions.HashExpressions.MinHashSig(
          org.apache.spark.sql.graftshim.ColumnBridge.expression(
            org.apache.spark.sql.functions.array(
              org.apache.spark.sql.functions.lit("a"),
              org.apache.spark.sql.functions.lit("b"))), 4)).as("mh"))
      .as[Array[Long]].head()
    assert(mh.toSeq === viaApi.toSeq)
    assert(mh.length === 4 && sh >= 0L)

    val red = spark.sql(
      "SELECT graft_redact_pii('mail a@b.co ip 10.0.0.1 end') AS r")
      .as[String].head()
    assert(red === "mail <EMAIL> ip <IP> end")
  }

  test("HLL sketch from pure SQL equals Sketches.hllSketch register for register") {
    val df = (0 until 2000).map(i => ("g", s"v${i % 331}")).toDF("g", "v")
    df.createOrReplaceTempView("hll_in")
    // obs → per-bucket max(rho) → fill absent buckets with 0, via SQL only
    val sqlRegs = spark.sql(
      """WITH o AS (SELECT g, graft_hll_bucket(v) AS bucket,
        |                  graft_hll_rho(v) AS rho FROM hll_in),
        |r AS (SELECT g, bucket, max(rho) AS mx
        |      FROM o GROUP BY g, bucket),
        |full AS (SELECT g, b.bucket FROM (SELECT DISTINCT g FROM r)
        |         CROSS JOIN (SELECT explode(sequence(0, 63)) AS bucket) b)
        |SELECT full.g,
        |  array_sort(collect_list(struct(full.bucket, coalesce(r.mx, 0) AS mx)))
        |    AS pairs
        |FROM full LEFT JOIN r ON full.g = r.g AND full.bucket = r.bucket
        |GROUP BY full.g""".stripMargin)
      .select($"g", org.apache.spark.sql.functions.transform(
        $"pairs", p => p.getField("mx")).as("regs"))
      .as[(String, Seq[Int])].head()
    val apiRegs = graft.operators.Sketches
      .hllSketch(df, Seq($"g"), $"v")
      .as[(String, Seq[Int])].head()
    assert(sqlRegs === apiRegs)
    // merge: SQL element-wise max equals merging the API sketch with itself
    val merged = spark.sql(
      "SELECT graft_hll_merge(array(1, 5, 0), array(3, 2, 0)) AS m")
      .as[Seq[Int]].head()
    assert(merged === Seq(3, 5, 0))
  }

  test("GlobalWindowTopK rewrites global row_number top-k to a distributed TakeOrdered") {
    val df = (1 to 1000).map(i => (i.toLong, ((i * 7919) % 1000).toDouble))
      .toDF("id", "v")
    df.createOrReplaceTempView("topk_t")
    val sql =
      """SELECT id, v, rn FROM (
        |  SELECT id, v, row_number() OVER (ORDER BY v DESC, id) AS rn FROM topk_t)
        |WHERE rn <= 50""".stripMargin
    val rewritten = spark.sql(sql)
    val phys = rewritten.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"),
      "global top-k must plan as partial heaps, not a full single-task sort:\n" + phys)
    // identical rows to the in-memory reference ((v desc, id) totally orders)
    val expect = df.as[(Long, Double)].collect()
      .sortBy { case (id, v) => (-v, id) }.take(50)
      .zipWithIndex.map { case ((id, v), i) => (id, v, i + 1) }.toSeq
    assert(rewritten.orderBy($"rn").as[(Long, Double, Int)].collect().toSeq === expect)
    // narrowness: a PARTITIONED row_number (already parallel) is untouched
    val keyed = spark.sql(
      """SELECT * FROM (
        |  SELECT id, v, row_number() OVER (PARTITION BY id % 7 ORDER BY v DESC) AS rn
        |  FROM topk_t) WHERE rn <= 3""".stripMargin)
    assert(!keyed.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    // narrowness: rank() needs peers of row k — untouched
    val ranked = spark.sql(
      """SELECT * FROM (
        |  SELECT id, v, rank() OVER (ORDER BY v DESC) AS rn FROM topk_t)
        |WHERE rn <= 50""".stripMargin)
    assert(!ranked.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("tokenizer FMM: multi-char dictionary words tokenize as words, not bigrams") {
    import graft.functions.Tokenizer.tokenize
    // longest match wins over a shorter prefix entry (手机 ⊂ 手机壳)
    assert(tokenize("手机壳") === Seq("手机壳"))
    assert(tokenize("手机支架") === Seq("手机", "支架"))
    assert(tokenize("手机吊坠") === Seq("手机", "吊", "坠")) // OOV chars → singles
    // 4-char compounds beat their 2-char constituents
    assert(tokenize("人工智能模型") === Seq("人工智能", "模型"))
    assert(tokenize("机器学习") === Seq("机器学习"))
    // greedy forward scan: no overlapping output, every char covered once
    val toks = tokenize("自然语言处理和深度学习")
    assert(toks.mkString === "自然语言处理和深度学习")
    assert(toks === Seq("自然语言", "处理", "和", "深度学习"))
    // mixed latin/CJK token: runs split, non-CJK run passes through intact
    assert(tokenize("iphone15手机 case") === Seq("iphone15", "手机", "case"))
    assert(tokenize("  spaced   out  ") === Seq("spaced", "out"))
    assert(tokenize(null) === Seq.empty)
  }

  test("tokenizer dictionary: production-size band and sentinel entries pinned") {
    import graft.functions.Tokenizer
    val d = Tokenizer.dictForTest
    // size band, not exact count: growth is fine, accidental truncation
    // (or a 1-char entry, which FMM would never use) fails loudly
    assert(d.size >= 1000, s"dict shrank to ${d.size} entries")
    assert(d.forall(_.length >= 2), "single-char dict entries are dead weight")
    val sentinels = Seq("手机壳", "人工智能", "机器学习", "深度学习",
      "自然语言", "优惠券", "购物车", "大数据", "支架", "充电宝")
    sentinels.foreach(w => assert(d.contains(w), s"sentinel $w missing"))
  }

  test("tokenizer FMM: real product-search phrases segment as words") {
    import graft.functions.Tokenizer.tokenize
    assert(tokenize("华为手机壳包邮") === Seq("华为", "手机壳", "包邮"))
    assert(tokenize("苹果笔记本优惠券") === Seq("苹果", "笔记本", "优惠券"))
    assert(tokenize("小米充电宝秒杀活动") === Seq("小米", "充电宝", "秒杀", "活动"))
    assert(tokenize("冬天羽绒服女士外套") === Seq("冬天", "羽绒服", "女士", "外套"))
    assert(tokenize("购物车满减红包") === Seq("购物车", "满减", "红包"))
  }

  test("tokenizeGen generator matches the UDF tokenizer on the documents table") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions._
    val viaGen = docs.select(col("doc_id"),
        graft.functions.Tokenizer.tokenizeGen(col("text")).as("word"))
      .as[(Long, String)].collect().toSeq.sorted
    val viaUdf = docs.select(col("doc_id"),
        explode(graft.functions.Tokenizer.tokenizeUdf(col("text"))).as("word"))
      .as[(Long, String)].collect().toSeq.sorted
    assert(viaGen === viaUdf)
    assert(viaGen.nonEmpty)
  }
}
