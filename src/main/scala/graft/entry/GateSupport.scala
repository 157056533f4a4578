package graft.entry

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Engine, Tables, TempDirs, TopicDb}
import graft.apps.GmallApp
import graft.operators.Dedup
import graft.functions.TextFunctions
import graft.streaming.{StatefulOps, StreamHarness}

/** Shared runtime plumbing for the gate families split out of the old
  * monolithic SparkEntry (round-9 verdict ask #5): micro-batch feed
  * composition, log-JSON synthesis, window finishers, and the cached
  * warehouse-DAG run. Doc comments travel with each member. */
private[graft] object GateSupport {

  /** Point derby.log at a STABLE tmp location, once. derby.system.home is
    * only honored at engine boot (the first connection in the JVM), so a
    * per-gate value would pin derby.log inside whichever gate's scratch
    * dir booted the engine — a dir that gate then deletes, leaving the
    * log writing to an unlinked file. The JVM tmp dir outlives every
    * gate; set-if-absent keeps an operator-supplied home authoritative. */
  def derbyHome(): Unit =
    if (System.getProperty("derby.system.home") == null) {
      System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
      ()
    }

  /** An embedded Derby database on a [[TempDirs.withScratch]] root: `body`
    * gets its JDBC url and driver properties. The result is materialized
    * before the database shuts down (withScratch's own checkpoint then
    * only re-reads those cached rows), and the root is deleted on every
    * exit. */
  def withDerby(prefix: String)(
      body: (String, java.util.Properties) => DataFrame): DataFrame =
    TempDirs.withScratch(prefix) { dir =>
      derbyHome() // derby.log to a stable tmp dir, not the repo
      val props = new java.util.Properties
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      try body(s"jdbc:derby:$dir/db;create=true", props).localCheckpoint(true)
      finally
        try { java.sql.DriverManager.getConnection(s"jdbc:derby:$dir/db;shutdown=true"); () }
        catch { case _: java.sql.SQLException => () } // 08006 = clean db shutdown
    }

  // Streaming-gate feeds are DATASETS end to end (StreamHarness.runFiles):
  // batch composition is declared as filters and the rows never pass
  // through the driver — the r5 review measured the old collect()-fed
  // driver closures at 9.3 MiB per task at sf0.1, growing linearly
  // with SF. Every StatefulOps processor re-sorts its group by (µs, id)
  // per batch, so only batch COMPOSITION matters, not row order.

  /** Two micro-batches for the dedup gates: even UTC epoch-days first, odd
    * second — so a user's EARLIER day can arrive in the LATER micro-batch
    * while each (user, day) stays within one batch. Arithmetic on epoch-µs
    * (not `dayofmonth`) so the split is session-timezone independent. */
  def disorderedDayBatchesDs(
      ev: Dataset[StatefulOps.Event]): Seq[Dataset[StatefulOps.Event]] = {
    val parity = pmod(floor(unix_micros(col("ts")) / 86400000000L), lit(2))
    Seq(ev.where(parity === 0), ev.where(parity === 1))
  }

  /** Two time-ordered micro-batches split at the midpoint of the observed
    * `tsCol` range — the Dataset form of the old sorted-splitAt(n/2) feed:
    * every batch-2 event is later than every batch-1 event, so watermarks
    * never late-drop across the boundary. */
  def timeSplitDs[T](ds: Dataset[T], tsCol: String): Seq[Dataset[T]] = {
    val mm = ds.agg(
      min(unix_micros(col(tsCol))), max(unix_micros(col(tsCol)))).head()
    require(!mm.isNullAt(0),
      s"timeSplitDs: empty feed — no rows with a non-null '$tsCol' to split on")
    val mid = mm.getLong(0) / 2 + mm.getLong(1) / 2
    Seq(ds.where(unix_micros(col(tsCol)) <= mid),
      ds.where(unix_micros(col(tsCol)) > mid))
  }

  /** Midpoint of an already-computed (min, max) aggregate row, with the
    * empty-feed guard the raw `getLong` lacks (a null aggregate would
    * otherwise surface as an opaque NPE): `what` names the feed in the
    * failure message. */
  def midOf(mm: org.apache.spark.sql.Row, what: String): Long = {
    require(!mm.isNullAt(0), s"empty feed — $what produced no rows to split")
    mm.getLong(0) / 2 + mm.getLong(1) / 2
  }

  /** Max event time of `ds.tsCol` in epoch millis (one scalar aggregate —
    * the only driver-side value a sentinel batch needs). */
  def maxTsMillis(ds: Dataset[_], tsCol: String): Long = {
    val mm = ds.agg(max(unix_millis(col(tsCol)))).head()
    require(!mm.isNullAt(0),
      s"maxTsMillis: empty feed — no rows with a non-null '$tsCol'")
    mm.getLong(0)
  }

  /** One-row far-future flush sentinel batch (advances the watermark past
    * every real window/timeout so append mode emits the tail). */
  def sentinelBatch(
      s: SparkSession, tsMillis: Long): Dataset[StatefulOps.Event] = {
    import s.implicits._
    Seq(StatefulOps.Event(-1L, new Timestamp(tsMillis), -1L, "flush", 0.0, "{}"))
      .toDS()
  }

  /** (band, bandkey) bucket df cap shared by the q112 gate and its oracle
    * — chosen ACTIVE at the gate SFs (sf0.01 has 7 buckets of 3 docs). */
  val LshBucketCap = 2

  /** events → behavior-log JSON (event_id, value) rows — ONE synthesis
    * shared by the q40 harness gate and the q110/q114 warehouse-DAG feed,
    * so their traffic windows can share one oracle. to_json(struct(...)),
    * not string concat: null fields drop and escaping is handled. */
  /** The JSON-value expression alone (for callers that pair it with other
    * columns of the same events row, e.g. the DAG's staged chunk id). */
  val trafficLogValue: Column = to_json(struct(
    struct(concat(lit("m"), col("user_id")).as("mid"),
      concat(lit("v"), col("user_id") % 3).as("vc"),
      col("event_type").as("ch"),
      (col("user_id") % 5).cast("string").as("ar"),
      (col("event_id") % 2).cast("string").as("is_new")).as("common"),
    struct(lit("home").as("page_id"),
      when(col("event_id") % 3 =!= 0, lit("search")).as("last_page_id"),
      round(col("value")).cast("long").as("during_time")).as("page"),
    unix_millis(col("ts")).as("ts")))

  def trafficLogJson(df: DataFrame): DataFrame =
    df.select(col("event_id"), trafficLogValue.as("value"))

  /** documents → keyword-search log JSON (doc_id, value) rows — ONE
    * synthesis shared by the q37 harness gate and the q110/q117 DAG feed
    * (to_json escaping; no vc/ch/ar so these rows never reach the gated
    * traffic keys). */
  /** The JSON-value expression alone (see [[trafficLogValue]]). */
  val keywordLogValue: Column = to_json(struct(
    struct(concat(lit("m"), col("doc_id")).as("mid")).as("common"),
    struct(lit("good_list").as("page_id"), lit("search").as("last_page_id"),
      concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 3)).as("item"),
      lit("keyword").as("item_type")).as("page"),
    (col("doc_id") * 3000).as("ts")))

  def keywordLogJson(df: DataFrame): DataFrame =
    df.select(col("doc_id"), keywordLogValue.as("value"))

  /** Far-future keyword search hit: flushes the keyword windows; gates
    * strip `word = 'zzsentinel'`. */
  def keywordSentinelJson(maxId: Long): String =
    s"""{"common":{"mid":"zz"},"page":{"page_id":"good_list","last_page_id":"search","item_type":"keyword","item":"zzsentinel"},"ts":${(maxId + 1000000) * 3000}}"""

  /** Sentinel-stripped column/order contract of the keyword window gates
    * (q37 + the q117 DAG replay — one oracle). */
  def keywordWindowSelect(df: DataFrame): DataFrame =
    df.where(col("word") =!= "zzsentinel")
      .select(col("stt"), col("edt"), col("word"), col("keyword_count"))
      .orderBy(col("stt"), col("word"))

  /** Far-future (9999999999999 ms) vc="zz" log row: flushes every traffic
    * window; [[trafficWindowSelect]] excludes it from gated output. */
  val TrafficLogSentinel: String =
    """{"common":{"mid":"zz","vc":"zz","ch":"zz","ar":"zz","is_new":"9"},"page":{"page_id":"home","during_time":0},"ts":9999999999999}"""

  /** Sentinel-stripped column/order contract of the traffic window gates
    * (q40 + the q114 DAG replay — one oracle). */
  def trafficWindowSelect(df: DataFrame): DataFrame =
    df.where(col("vc") =!= "zz")
      .select(col("stt"), col("edt"), col("vc"), col("ch"), col("ar"),
        col("is_new"), col("pv_ct"), col("sv_ct"), col("dur_sum"))
      .orderBy(col("stt"), col("vc"), col("ch"), col("ar"), col("is_new"))

  /** The q39 aggregate over a trade-order-pre-process-shaped frame —
    * shared with the q115 DAG replay so both pin one oracle. */
  def orderPreAgg(df: DataFrame): DataFrame =
    df.groupBy(col("op_type"), col("source_type_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("split_total_amount").cast("decimal(18,2)")).cast("double").as("sum_amount"),
        sum(col("total_amount").cast("decimal(18,2)")).cast("double").as("sum_oi_amount"),
        count(col("activity_id")).as("n_act"),
        count(col("coupon_id")).as("n_cpn"))
      .orderBy(col("op_type"), col("source_type_name"))

  /** q41's aggregate over a tradePaySuccess-shaped frame — shared with
    * the q119 DAG replay. */
  def paySuccessAgg(df: DataFrame): DataFrame =
    df.groupBy(col("payment_type_name"), col("source_type_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("split_total_amount").cast("decimal(18,2)")).cast("double").as("sum_amount"),
        count(col("activity_id")).as("n_act"),
        count(col("coupon_id")).as("n_cpn"))
      .orderBy(col("payment_type_name"), col("source_type_name"))

  /** q42's aggregate over a tradeCancel-shaped frame — shared with the
    * q120 DAG replay. */
  def cancelAgg(df: DataFrame): DataFrame =
    df.groupBy(col("source_type_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("split_total_amount").cast("decimal(18,2)")).cast("double").as("sum_amount"),
        count(col("activity_id")).as("n_act"),
        count(col("coupon_id")).as("n_cpn"))
      .orderBy(col("source_type_name"))

  /** q43/q94's aggregate over a tradeOrderRefund-shaped frame — shared
    * with the q121 DAG replay. */
  def orderRefundAgg(df: DataFrame): DataFrame =
    df.groupBy(col("refund_type_name"), col("refund_reason_type_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("refund_amount").cast("decimal(18,2)")).cast("double").as("sum_amount"),
        sum(col("refund_num").cast("int")).cast("long").as("sum_num"))
      .orderBy(col("refund_type_name"), col("refund_reason_type_name"))

  /** q44's aggregate over a tradeRefundPaySuccess-shaped frame — shared
    * with the q122 DAG replay. */
  def refundPayAgg(df: DataFrame): DataFrame =
    df.groupBy(col("payment_type_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("total_amount").cast("decimal(18,2)")).cast("double").as("sum_amount"),
        sum(col("refund_num").cast("int")).cast("long").as("sum_num"))
      .orderBy(col("payment_type_name"))

  /** The q36 full-select-list aggregate over a tradeCartAdd-shaped frame
    * — shared with the q113 DAG replay so both pin one oracle. */
  def cartAddAgg(df: DataFrame): DataFrame =
    df.groupBy(col("source_type_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("sku_num").cast("int")).as("sum_num"),
        sum(col("cart_price").cast("decimal(18,2)")).cast("double").as("sum_price"),
        sum(col("is_checked").cast("int")).as("sum_checked"),
        sum(col("is_ordered").cast("int")).as("sum_ordered"),
        count(col("order_time")).as("n_order_time"),
        max(col("operate_time")).as("max_operate_time"),
        countDistinct(col("source_id")).as("n_sources"))
      .orderBy(col("source_type_name"))

  /** ONE full `GmallApp.startFromFiles` warehouse run per (JVM, sf dir),
    * shared by the three DAG gates (q110 DIM stores, q113 DWD topic dir,
    * q114 DWS window) — the whole ods→dwd→dws production graph executed
    * as real streaming queries over file-drop chunks, then gated against
    * composed DuckDB oracles (VERDICT r6 #2: this was spec-only).
    *
    * Feed: the full topic_db envelope stream hash-split across two
    * micro-batches (constituent rows of one order straddle the boundary —
    * the joins must carry state across it), the q40 log synthesis
    * time-split the same way, a dynamic comment_info DIM route dropped
    * BEFORE any data (next-batch visibility), then the far-future flush
    * sentinels + one inert batch so watermark tails emit. Replay
    * joinTtl = 10⁷ s covers the whole synthetic ts (= order key) span at
    * every test SF while staying below the 4·10⁹ s sentinels. */
  object DagRun {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()

    def apply(s: SparkSession, d: String): String =
      cache.computeIfAbsent(d, _ => run(s, d))

    private def sentinelEnv(table: String, typ: String, data: String,
        old: String = "null") =
      s"""{"database":"gmall","table":"$table","type":"$typ","ts":4000000000,"data":$data,"old":$old}"""

    /** One far-future row through EVERY watermarked trade side (ids join
      * nothing real). Shared with the q164 production-TTL gate, which
      * flushes the same trade-side watermarks. */
    private[entry] val flushSentinels: Seq[String] = Seq(
      sentinelEnv("order_detail", "insert",
        """{"id":"zzod","order_id":"zzo1","sku_id":"1","sku_num":"1","source_type":"2401","split_total_amount":"0.00"}"""),
      sentinelEnv("order_info", "update",
        """{"id":"zzo2","order_status":"1005","province_id":"1"}""",
        """{"order_status":"1001"}"""),
      sentinelEnv("order_info", "update",
        """{"id":"zzo3","order_status":"1006","user_id":"1","province_id":"1"}""",
        """{"order_status":"1001"}"""),
      sentinelEnv("order_detail_activity", "insert",
        """{"order_detail_id":"zzact","activity_id":"a","activity_rule_id":"r"}"""),
      sentinelEnv("order_detail_coupon", "insert",
        """{"order_detail_id":"zzcou","coupon_id":"c"}"""),
      sentinelEnv("payment_info", "update",
        """{"user_id":"1","order_id":"zzpay","payment_type":"1101","payment_status":"1602","callback_time":"2096-01-01 00:00:00","total_amount":"1"}""",
        """{"payment_status":"1601"}"""),
      sentinelEnv("order_refund_info", "insert",
        """{"id":"zzri","user_id":"1","order_id":"zzro","sku_id":"1","refund_type":"1501","refund_num":"1","refund_amount":"1","refund_reason_type":"1301","refund_reason_txt":"t","create_time":"2096-01-01"}"""),
      sentinelEnv("refund_payment", "update",
        """{"id":"zzrp","order_id":"zzrpo","sku_id":"1","payment_type":"1101","refund_status":"0702","callback_time":"2096-01-01 00:00:00","total_amount":"1"}""",
        """{"refund_status":"0701"}"""))

    /** Tables whose sentinels (and last real rows) ride chunk cEarly−1:
      * the refund family plus the order_info side both refund joins
      * need — together they fully sentinel the two refund queries'
      * views, so those queries flush early. order_detail/activity/
      * coupon/payment_info stay to the end (the pre/pay/cancel joins
      * consume them through the last chunk). */
    private val earlySentinelTables =
      Set("order_info", "order_refund_info", "refund_payment")

    private def sentinelTable(json: String): String =
      "\"table\":\"([^\"]+)\"".r.findFirstMatchIn(json).map(_.group(1)).getOrElse("")

    /** Phase wall-clock to stderr when GRAFT_DAG_TIMING=1 — attribution
      * for the DAG charge's fixed micro-batch cost (round-9 ask #2). */
    private val timing = sys.env.get("GRAFT_DAG_TIMING").contains("1")
    private def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      if (timing) System.err.println(
        f"[dag] $phase%-18s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    /** The feed's chunk plan for an input dir of `corpusBytes`:
      * (nChunks, cEarly).
      *
      * Corpus-scaled chunking: ONE micro-batch must never carry more than
      * ~two sf0.1-corpora of envelope rows through the ~17 concurrent
      * queries — at the ×10 up-scale leg a fixed 2-chunk feed put 5
      * sf0.1-corpora of in-flight JSON strings per batch on the heap and
      * died on GC overhead (at 48g). So nChunks grows with the input
      * dir's bytes, clamped to [2, 16], and per-batch heap stays BOUNDED
      * at any scale (the production micro-batch discipline). The divisor,
      * 48 MB ≈ two sf0.1-corpora per chunk, trades that heap bound against
      * the per-round FIXED cost (state-store commit cycles across ~17
      * queries, ~110 s a round at the ×10 corpus): cold-JVM quiet-host
      * settles measured 1001.8 s at 8 chunks, 672.3 s at 5 and 518.1 s at
      * 4 (this divisor), identical outputs, with 2.5× heap margin below
      * the 5-corpora death load.
      *
      * Staggered tail flushing: the refund-family tables
      * (order_refund_info, refund_payment) and the order_info side they
      * join COMPLETE at chunk cEarly−1, where their flush sentinels ride —
      * so the two refund queries' watermark tails (and the keyword
      * window's) emit ~⅓ of the feed EARLY, while the remaining drop
      * rounds still run, instead of every query flushing in one final
      * settle round. Safe for the still-running trade joins: a sentinel
      * advances only ITS view's watermark, and each query evicts on the
      * MIN across its views, so order_info state stays live for
      * order_detail/payment rows arriving through the last chunk.
      *
      * Every gated SF (≤ sf0.1) derives exactly (2, 2) — layout and
      * sentinel rounds bit-identical to the gated behavior. */
    private[graft] def chunkPlan(corpusBytes: Long): (Int, Int) = {
      val n = math.max(2L, math.min(16L, corpusBytes / 48000000L + 1)).toInt
      (n, (2 * n + 2) / 3) // n = 2 gives cEarly = 2: one flush round
    }

    /** The settle's session: a harness clone of `s` at
      * [[Engine.DagPartitions]]. */
    private[graft] def session(s: SparkSession): SparkSession =
      Engine.harness(StreamHarness.prepared(s), Engine.DagPartitions)

    private def run(s: SparkSession, d: String): String = {
      val session = this.session(s)
      import session.implicits._
      // TempDirs, not a bare createTempDirectory: `wh` is read by every
      // later DAG gate in this JVM, so the root can only die at exit —
      // without the hook each Verify/Bench run leaked 1–14 GB per charge
      val root = graft.core.TempDirs.create("graft_dag_")
      val in = s"$root/in"
      val wh = s"$root/wh"
      Seq("topic_db", "topic_log", "table_process_config").foreach(t =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$in/$t")))
      // executor-side chunk writes (no coalesce: the JSON synthesis stays
      // parallel; the file source takes all new files as ONE micro-batch)
      def drop(topic: String, df: DataFrame): Unit =
        df.select(col("value")).write.mode("append").parquet(s"$in/$topic")
      // (typed curation feeds now arrive via the staged chunks below)
      // ---- one-pass feed staging: each source is synthesized ONCE and
      // written partitioned by its micro-batch chunk id to a staging dir
      // BEFORE the ~17 queries start (full host, no concurrent streams);
      // a data drop then just MOVES the chunk's files into the watched
      // dir — a rename. The old shape synthesized every source twice
      // (chunk filters over a persisted plan) WHILE the queries ran: at
      // the ×10 bench leg those second passes were ~390 s of the charge.
      val stageRoot = s"$root/stage"
      val corpusBytes = {
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.isDirectory(p)) {
          val st = java.nio.file.Files.walk(p)
          try st.filter(q => java.nio.file.Files.isRegularFile(q))
            .mapToLong(q => java.nio.file.Files.size(q)).sum
          finally st.close()
        } else 0L
      }
      val (nChunks, cEarly) = chunkPlan(corpusBytes)
      if (timing) System.err.println(
        s"[dag] feed chunks: $nChunks, early-complete at ${cEarly - 1} ($corpusBytes bytes)")
      // ascending equal-width buckets over [lo, hi] → 0..n-1 (the N-chunk
      // generalization of the midpoint time-split; products stay < 2^53 so
      // the double division is exact)
      def chunkOf(v: Column, lo: Long, hi: Long, n: Int): Column =
        least(lit(n - 1), floor(((v - lit(lo)).cast("long") * n) / lit(hi - lo + 1)))
          .cast("int")
      // `df` must carry a `__chunk` column; partitionBy moves it into the
      // directory name, so the staged files hold exactly the feed schema
      def stagePre(topic: String, df: DataFrame): Unit =
        df.write.partitionBy("__chunk").parquet(s"$stageRoot/$topic")
      def stage(topic: String, df: DataFrame, chunk: Column): Unit =
        stagePre(topic, df.withColumn("__chunk", chunk))
      def moveChunk(topic: String, c: Int): Unit = {
        val src = java.nio.file.Paths.get(s"$stageRoot/$topic/__chunk=$c")
        val dst = java.nio.file.Paths.get(s"$in/$topic")
        java.nio.file.Files.createDirectories(dst)
        if (java.nio.file.Files.isDirectory(src)) {
          val files = java.nio.file.Files.list(src)
          try files.forEach { f =>
            // chunk prefix: one partitionBy job writes the SAME part-file
            // name under every __chunk= dir (same task id, same job UUID),
            // so a bare move of chunk 1 collides with chunk 0's files
            if (f.getFileName.toString.endsWith(".parquet"))
              java.nio.file.Files.move(f, dst.resolve(s"c$c-${f.getFileName}"))
          } finally files.close()
        }
      }
      // the curation leg's feeds: q116's paragraph instances and q118's
      // embeddings, each split at its id midpoint into two ascending
      // micro-batches exactly like the harness gates — so the DAG stores
      // share q116/q118/q102's oracles verbatim
      val (embCount, kwMaxId) = timed("stage_feeds") {
        val paras = Dedup.explodeParagraphs(Tables.documents(session, d), 10)
          .select(Dedup.encodePos(col("doc_id"), col("pos")).as("enc"), col("para"))
        val paraMid = midOf(paras.agg(min(col("enc")), max(col("enc"))).head(),
          "exploded paragraphs (DAG curation)")
        val emb = Tables.embeddings(session, d)
          .select(col("vec_id"), col("embedding"), col("label"))
        val embMm = emb.agg(min(col("vec_id")), max(col("vec_id")),
          count(lit(1))).head()
        val embMid = midOf(embMm, "embeddings (DAG curation)")
        // topic_db: same hash split as the old two filtered drops (every
        // chunk spans the full ts range; the 10⁷ s join watermark covers
        // the whole span, so chunk membership never drops a row). The
        // early-completing tables hash over cEarly buckets instead, so
        // their last real row precedes their chunk-(cEarly−1) sentinel.
        val dbTable = get_json_object(col("value"), "$.table")
        stage("topic_db", TopicDb.raw(session, d),
          when(dbTable.isin(earlySentinelTables.toSeq: _*),
            pmod(hash(col("value")), lit(cEarly)))
            .otherwise(pmod(hash(col("value")), lit(nChunks))))
        // topic_log: traffic rows chunked at the events ts midpoint
        // (timeSplitDs's boundary), keyword rows at the doc_id midpoint —
        // one union, one pass (keyword rows carry no vc → they never reach
        // the gated traffic keys; traffic rows carry no item_type → they
        // never reach the keyword filter)
        val ev = Tables.events(session, d)
        val tmm = ev.agg(min(unix_micros(col("ts"))),
          max(unix_micros(col("ts")))).head()
        val tmid = midOf(tmm, "events (DAG traffic logs)")
        val docs = Tables.documents(session, d)
        val kmm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val kwMid = midOf(kmm, "documents keyword logs (DAG)")
        // ascending chunks (disjoint ranges) keep the traffic legs' short
        // 14 s watermark safe at ANY chunk count: chunk k+1's min key is
        // ≥ chunk k's max, so an advanced watermark never passes a later
        // row. n==2 keeps the exact historical midpoint expressions so
        // the gated SFs stay bit-identical.
        val trafficChunk =
          if (nChunks == 2) when(unix_micros(col("ts")) <= tmid, 0).otherwise(1)
          else chunkOf(unix_micros(col("ts")), tmm.getLong(0), tmm.getLong(1), nChunks)
        // keyword rows complete with the early group: their window query
        // reads only them (traffic rows carry no item_type), so the
        // keyword sentinel can flush its windows at chunk cEarly−1
        val kwChunk =
          if (nChunks == 2) when(col("doc_id") <= kwMid, 0).otherwise(1)
          else chunkOf(col("doc_id"), kmm.getLong(0), kmm.getLong(1), cEarly)
        stagePre("topic_log",
          ev.select(trafficLogValue.as("value"), trafficChunk.as("__chunk"))
            .unionByName(docs.select(keywordLogValue.as("value"),
              kwChunk.as("__chunk"))))
        stage("doc_paras", paras,
          when(col("enc") <= paraMid, 0).otherwise(1))
        stage("embeddings", emb,
          when(col("vec_id") <= embMid, 0).otherwise(1))
        (embMm.getLong(2), kmm.getLong(1))
      }
      val queries = timed("start_queries")(GmallApp.startFromFiles(session, in, wh,
        joinTtlSec = 10000000L, semCells = semDedupCells(embCount)))
      try {
        // parallel settle: every wire()/curation query consumes the ods
        // topic DIRS (or its own feed dir) directly — no query reads
        // another query's output — so within a drop round their
        // processAllAvailable waits are independent and can overlap. The
        // queries run on their own engine threads either way; the serial
        // foreach merely WAITED serially, leaving a 32-core host running
        // one 8-partition micro-batch at a time (measured: the whole-DAG
        // charge drops ~2× with the parallel settle). The one write-read
        // edge (configQuery's store → dimQuery's router) is already
        // serialized by the config drop's OWN sync() round below, before
        // any data chunk is dropped.
        def sync(): Unit = {
          import scala.concurrent.{Await, ExecutionContext, Future, blocking}
          import scala.concurrent.duration.Duration
          implicit val ec: ExecutionContext = ExecutionContext.global
          Await.result(
            Future.traverse(queries)(q => Future(blocking(q.processAllAvailable()))),
            Duration.Inf)
        }
        // payment_info, not e.g. comment_info: the lineitem-derived tables
        // carry COLLIDING synthetic ids (duplicate (orderkey, linenumber)
        // rows in the test data) whose equal-ts upsert tie-break is
        // partition-order dependent — an orders-derived id is unique, so
        // the dynamic store is fully value-gateable
        drop("table_process_config", Seq(
          """{"op":"c","ts_ms":10,"after":{"source_table":"payment_info","sink_table":"dim_payment_info","sink_columns":"id,payment_type"}}""")
          .toDF("value"))
        timed("sync_config")(sync())
        // data drops are now file MOVES of the pre-staged chunks (see
        // stage_feeds above)
        val topics = Seq("topic_db", "topic_log", "doc_paras", "embeddings")
        // the far-future flush sentinels RIDE data chunks (round-9 ask
        // #2 — no extra settle rounds): watermarks are computed at batch
        // END and applied to the NEXT batch, so a chunk's joins/windows
        // still run under the prior chunk's watermark, and the sentinel-
        // advanced watermark emits the window/left-join tails in later
        // rounds — identical outputs (q110–q124 hash-gated). STAGGERED
        // (round-10 ask #3): the early group's sentinels ride chunk
        // cEarly−1, so the refund queries' join tails and the keyword
        // windows flush while the remaining chunks still feed; the rest
        // ride the last chunk as before. At nChunks == 2 the two rounds
        // coincide — the gated SFs' behavior is unchanged. The curation
        // topics only ever stage chunks 0/1 (their 2-chunk midpoint
        // split is the q116/q118 store contract); moveChunk no-ops past
        // them.
        val (earlySent, lateSent) =
          flushSentinels.partition(s => earlySentinelTables(sentinelTable(s)))
        for (c <- 0 until nChunks) {
          timed(s"drop_data$c") {
            topics.foreach(moveChunk(_, c))
            if (c == cEarly - 1) {
              drop("topic_db", earlySent.toDF("value"))
              drop("topic_log", Seq(keywordSentinelJson(kwMaxId)).toDF("value"))
            }
            if (c == nChunks - 1) {
              drop("topic_db", lateSent.toDF("value"))
              drop("topic_log", Seq(TrafficLogSentinel).toDF("value"))
            }
          }
          timed(s"sync_data$c")(sync())
        }
        // left-join tails emit in the watermark-advanced batch AFTER the
        // sentinels' own batch
        drop("topic_db", Seq(
          """{"database":"gmall","table":"zz_inert","type":"insert","ts":4000000001,"data":{},"old":null}""")
          .toDF("value"))
        timed("sync_inert1")(sync()); timed("sync_inert2")(sync())
      } finally {
        timed("stop_queries")(queries.foreach(_.stop()))
        // unload the stopped queries' state-store providers NOW (r18):
        // with the harness's long maintenance interval nothing else
        // unloads them, and ~17 queries × partitions × 4 stores of live
        // RocksDB instances (native memory + background threads) would
        // otherwise linger under the whole main-leg query loop
        try org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess.unloadAll()
        catch { case e: Throwable =>
          System.err.println(s"[dag] StateStore.unloadAll failed (non-fatal): $e") }
        // the clone's SessionCache entries (documents/events/embeddings/
        // topic_db under THIS throwaway session) are unreachable once the
        // charge finishes — unpersist now instead of pinning them for the
        // rest of the leg
        graft.core.SessionCache.evictOwnedExactly(session)
        // the feed bytes (staged chunks + moved drops) are dead once the
        // queries stop — they are the bulk of the charge's temp footprint
        // (~10 GB at the ×10 leg); only `wh` must outlive this call, and
        // it rides TempDirs' exit hook with the rest of `root`
        graft.core.TempDirs.deleteNow(in)
        graft.core.TempDirs.deleteNow(stageRoot)
      }
      wh
    }
  }

  /** SemDeDup cell count scaled with the corpus (q102/q118): ~√N cells
    * keeps docs-per-cell ~√N, so the within-cell pair space stays
    * ~O(N·√N) — the paper's clusters-grow-with-corpus regime (~10⁵ cells
    * web-scale). A FIXED cell count silently degenerates to O(N²/k) pair
    * volume at 100 TB. SimilaritySpec bounds the measured pair volume. */
  def semDedupCells(n: Long): Int =
    math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
}
