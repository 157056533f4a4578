package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.TopicDb
import graft.streaming.{DimCache, DimSink, Sinks, Sources, Windows}

/** The reference warehouse's full production DAG, assembled from the SAME
  * transform functions every correctness gate exercises — the deployment
  * `main` for a cluster that HAS Kafka. With no broker in the build/test
  * environment, [[startFromFiles]] runs the identical wiring over
  * file-drop directories: GmallAppSpec, the warehouse-DAG gates
  * (`GateSupport.DagRun`, q110 and q113–q124) and perfbench's
  * `dag_trickle` workload all execute it.
  *
  *   spark-submit --class graft.apps.GmallApp graft.jar kafka:9092 /warehouse
  *
  * (no `--conf` needed: [[setup]] applies the engine policy).
  *
  * Mirrors the reference app-per-pipeline layout (ods→dwd→dws,
  * app/dim/DimApp.java + the app/dwd and app/dws packages): one shared topic_db
  * consumer per JVM, branch-per-pipeline fan-out with persist-once
  * semantics ([[Sinks.fanOut]]), DIM routing with TTL'd config+dict
  * lookups, windowed DWS aggregations with the reference's watermarks.
  */
object GmallApp {

  /** The trigger of every query [[wire]], [[configQuery]] and
    * [[curationWire]] start. On the default 0 ms trigger an idle
    * file-source query re-lists its directory every
    * `spark.sql.streaming.pollingDelay` (10 ms), building a fresh file
    * index each time; in a DAG of a dozen mostly idle queries that
    * polling took over a quarter of the driver's CPU. A 500 ms interval
    * adds at most half a second before a drop is picked up, against
    * micro-batches that take seconds. */
  val DagTrigger: Trigger = Trigger.ProcessingTime(500L)

  /** The production session's builder: [[graft.core.Engine.configure]]
    * under the app's name; master and CPU count stay with `spark-submit`. */
  def setup(builder: SparkSession.Builder): SparkSession.Builder =
    graft.core.Engine.configure(builder.appName("gmall-graft"))

  def main(args: Array[String]): Unit = {
    val bootstrap = args.headOption.getOrElse("localhost:9092")
    val warehouse = if (args.length > 1) args(1) else "/tmp/gmall"
    val spark = setup(SparkSession.builder()).getOrCreate()
    start(spark, bootstrap, warehouse)
    spark.streams.awaitAnyTermination()
  }

  /** Bind the Kafka sources and wire every pipeline. Each query gets its
    * OWN consumer (fresh readStream per factory call) — the reference's
    * one-consumer-group-per-app layout; sharing one source instance across
    * queries also breaks multi-scan watermark accounting. */
  def start(spark: SparkSession, bootstrap: String, warehouse: String): Seq[StreamingQuery] = {
    def kafka(topic: String) = Sources.kafkaValues(spark, bootstrap, topic, "gmall_graft")
    wire(spark,
      () => Sources.topicDb(kafka("topic_db")),
      () => Sources.topicLog(kafka("topic_log")),
      warehouse) :+
      configQuery(Sources.configStream(kafka("table_process_config")),
        warehouse, s"$warehouse/ckpt/config")
  }

  /** [[start]] over FILE-DROP directories instead of Kafka — the
    * data-lake replay deployment this sandbox CAN execute (GmallAppSpec
    * does, end to end): envelope-JSON parquet chunks dropped into
    * `<inRoot>/topic_db`, `<inRoot>/topic_log` and
    * `<inRoot>/table_process_config` flow through the IDENTICAL wiring,
    * one fresh file-source consumer per query exactly like the Kafka
    * binding ([[Sources.fileValues]]). `joinTtlSec` sizes the trade
    * joins' event-time bound for the replayed data's timestamp span (a
    * REPLAY's event-time range is the whole history, not the reference's
    * live ±15 min). */
  def startFromFiles(spark: SparkSession, inRoot: String, warehouse: String,
      joinTtlSec: Long = 900L, semCells: Int = 16): Seq[StreamingQuery] = {
    def files(topic: String) = Sources.fileValues(spark, s"$inRoot/$topic")
    (wire(spark,
      () => Sources.topicDb(files("topic_db")),
      () => Sources.topicLog(files("topic_log")),
      warehouse, joinTtlSec) :+
      configQuery(Sources.configStream(files("table_process_config")),
        warehouse, s"$warehouse/ckpt/config")) ++
      curationWire(spark, inRoot, warehouse, semCells)
  }

  /** The CURATION leg of the DAG — the LLM-data-pipeline extension
    * running beside the reference warehouse graph: paragraph-grain fuzzy
    * dedup ([[graft.streaming.FuzzyIngest]]) over a `doc_paras` feed of
    * (enc, para) instances and SemDeDup ([[graft.streaming.SemIngest]])
    * over an `embeddings` feed of (vec_id, embedding, label) — each a
    * checkpointed foreachBatch query folding micro-batches into its
    * incremental bucketed store under `warehouse/curation/`. `semCells`
    * sizes the frozen quantizer from the expected corpus scale (the
    * deployment knob; gates pass ~√N). Input dirs are created empty so
    * the leg can idle until a producer starts dropping chunks. */
  def curationWire(spark: SparkSession, inRoot: String, warehouse: String,
      semCells: Int = 16): Seq[StreamingQuery] = {
    import org.apache.spark.sql.types._
    val hconf = spark.sparkContext.hadoopConfiguration
    def ensure(dir: String): String = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(hconf).mkdirs(p)
      dir
    }
    val paraSchema = StructType(Seq(
      StructField("enc", LongType), StructField("para", StringType)))
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val fuzzy = spark.readStream.schema(paraSchema)
      .parquet(ensure(s"$inRoot/doc_paras"))
      .writeStream.option("checkpointLocation", s"$warehouse/ckpt/curation_fuzzy")
      .trigger(DagTrigger)
      .foreachBatch { (b: DataFrame, epochId: Long) =>
        graft.streaming.FuzzyIngest.processBatch(
          b, s"$warehouse/curation/fuzzy", epochId)
      }.start()
    val sem = spark.readStream.schema(embSchema)
      .parquet(ensure(s"$inRoot/embeddings"))
      .writeStream.option("checkpointLocation", s"$warehouse/ckpt/curation_sem")
      .trigger(DagTrigger)
      .foreachBatch { (b: DataFrame, epochId: Long) =>
        graft.streaming.SemIngest.processBatch(
          b, s"$warehouse/curation/sem", epochId, semCells)
      }.start()
    Seq(fuzzy, sem)
  }

  /** The full DAG over ANY parsed clean (db, log) streaming frames — the
    * production path binds Kafka ([[start]]), [[startFromFiles]] binds
    * file drops; GmallAppSpec also drives it through MemoryStream (with
    * CDC rows deliberately split across micro-batches) and asserts the
    * warehouse contents. Returns the running queries (production awaits,
    * tests stop them).
    *
    * The trade family runs as watermarked stream-stream interval joins
    * (the `GmallPipelines.trade*` functions, which bound their joins on a
    * streaming input; one query per app exactly like the
    * reference's one-Flink-job-per-app layout — each re-consumes the
    * topic): an order's detail/info/payment rows may arrive in DIFFERENT
    * micro-batches and still join, with state bounded by `joinTtlSec`
    * (reference: 905 s / ±15 min). The stateless row-filter pipelines run
    * per-batch through [[Sinks.fanOut]], whose writes are epoch-idempotent
    * (a replayed micro-batch cannot duplicate rows).
    *
    * Every query runs on the shared [[DagTrigger]], so an idle query
    * checks its source twice a second instead of busy-polling it. */
  def wire(spark: SparkSession, dbSource: () => DataFrame, logSource: () => DataFrame,
      warehouse: String, joinTtlSec: Long = 900L): Seq[StreamingQuery] = {
    // X2: dic + routing config refresh at most hourly, exactly the
    // reference's JDBC lookup-cache TTL (utils/MysqlUtil.java:22-23)
    val dic = new DimCache(() => TopicDb.baseDic(spark), ttlMillis = 3600L * 1000L)
    val dimConfigs = Seq(
      DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id"),
      DimSink.TableConfig("dim_base_dic", Seq("dic_code", "dic_name"), "dic_code"))
    def ckpt(name: String) = s"$warehouse/ckpt/$name"
    def out(name: String) = s"$warehouse/dwd/$name"

    // ---- DIM: route + prune + dynamic keyed stores; the routing table
    // ---- is re-read whenever the config store has been rewritten -------
    val dim = dimQuery(dbSource(), warehouse, dimConfigs, ckpt("dim"))

    // ---- DWD log family: 5-way split, persist-once fan-out ------------
    def to(name: String, f: DataFrame => DataFrame) = (name, f, out(name))
    val dwdLog = Sinks.fanOut(logSource(), ckpt("base_log"))(
      Seq("page", "start", "display", "action", "err").map(b =>
        to(s"traffic_$b", GmallPipelines.baseLogSplit(_)(b))): _*)

    // ---- DWD db, stateless family: per-row filters where the batch
    // ---- boundary is irrelevant; each branch reads the TTL'd dic -------
    val dwdStateless = Sinks.fanOut(dbSource(), ckpt("dwd_db"))(
      to("cart_add", GmallPipelines.tradeCartAdd(_, dic.get())),
      to("coupon_get", GmallPipelines.couponGet),
      to("coupon_order", GmallPipelines.couponOrder),
      to("coupon_pay", GmallPipelines.couponPay),
      to("favor_add", GmallPipelines.favorAdd),
      to("comment", GmallPipelines.comment(_, dic.get())),
      to("user_register", GmallPipelines.userRegister))

    // ---- DWD db, trade family: cross-batch stream-stream joins --------
    val dicStatic = TopicDb.baseDic(spark)
    val orderPreQ = Sinks.fanOut(
        GmallPipelines.tradeOrderPreProcess(dbSource(), dicStatic, joinTtlSec),
        ckpt("order_pre"))(
      to("order_pre", identity), to("cancel", GmallPipelines.tradeCancel))
    // the watermarked joins and windows append their closed rows
    def appendQ(name: String, path: String, df: DataFrame): StreamingQuery =
      df.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt(name)).trigger(DagTrigger)
        .format("parquet").option("path", path).start()
    val payQ = appendQ("pay_success", out("pay_success"),
      GmallPipelines.tradePaySuccess(dbSource(), dicStatic, joinTtlSec))
    val refundQ = appendQ("order_refund", out("order_refund"),
      GmallPipelines.tradeOrderRefund(dbSource(), dicStatic, ttlSec = joinTtlSec))
    val refundPayQ = appendQ("refund_pay_suc", out("refund_pay_suc"),
      GmallPipelines.tradeRefundPaySuccess(dbSource(), dicStatic, joinTtlSec))

    // ---- DWS: windowed aggregations (reference watermarks) ------------
    val keyword = appendQ("dws_keyword", s"$warehouse/dws/keyword",
      Windows.keywordCount(GmallPipelines.keywordHits(logSource())))
    val traffic = appendQ("dws_traffic", s"$warehouse/dws/traffic",
      Windows.agg(
        GmallPipelines.trafficCounters(GmallPipelines.baseLogSplit(logSource())("page")),
        "rt", Windows.Tumble("1 hour"), "14 seconds",
        Seq(col("vc"), col("ch"), col("ar"), col("is_new")),
        Seq(sum(col("pv")).as("pv_ct"), sum(col("sv")).as("sv_ct"),
          sum(col("dur")).as("dur_sum"))))

    Seq(dim, dwdLog, dwdStateless, orderPreQ, payQ, refundQ, refundPayQ,
      keyword, traffic)
  }

  /** Path of the dynamic routing table under a warehouse root. */
  def configStore(warehouse: String): String = s"$warehouse/config/table_process"

  /** Serializes config-store WRITES ([[configQuery]]'s bucket swaps,
    * which briefly leave a bucket absent) against per-batch READS
    * ([[dimQuery]], which also replays an interrupted swap) within the
    * driver JVM — the two queries run
    * concurrently in production. A cross-JVM split deployment would need
    * the store on a rename-atomic FS and tolerates one batch of
    * staleness. */
  private val configLock = new Object

  /** S4/U3 — the Debezium `table_process` config stream folded into the
    * routing table: `c`/`u`/`r` ops upsert by source_table (last-write-wins
    * on ts_ms), `d` ops DELETE the entry (decommissioning a dim table must
    * stop its routing, exactly like removing the reference's broadcast
    * state, TableProcessFunction.java:169-213). Null sink_pk defaults to
    * "id" (the reference's defaultSinkPk); rows missing their routing
    * fields are dropped at this boundary so a malformed config row can
    * never poison the DIM query. The table is a keyed store
    * ([[Sinks.upsertByKeyPartitioned]], key `source_table`). Input shape:
    * [[graft.streaming.Sources.configStream]]. */
  def configQuery(cfg: DataFrame, warehouse: String, checkpoint: String): StreamingQuery =
    cfg.writeStream.option("checkpointLocation", checkpoint).trigger(DagTrigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val valid = batch.where(col("source_table").isNotNull &&
            (col("op") === "d" ||
              (col("op").isin("c", "u", "r") &&
                col("sink_table").isNotNull && col("sink_columns").isNotNull)))
          .select(col("op"), col("source_table"), col("sink_table"),
            col("sink_columns"), coalesce(col("sink_pk"), lit("id")).as("sink_pk"),
            col("ts_ms"))
          .localCheckpoint(true) // tiny; consumed three times below
        if (!valid.isEmpty) {
          // the LAST op per source_table within the batch decides its fate
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("source_table")).orderBy(col("ts_ms").desc)
          val last = valid.withColumn("_rn",
              org.apache.spark.sql.functions.row_number().over(w))
            .where(col("_rn") === 1).drop("_rn")
          configLock.synchronized {
            Sinks.upsertByKeyPartitioned(last.where(col("op") =!= "d").drop("op"),
              Seq("source_table"), "ts_ms", configStore(warehouse),
              deleteKeys = Some(last.where(col("op") === "d")
                .select(col("source_table"))))
          }
        }
      }.start()

  /** The DIM routing query: per micro-batch, merge the DYNAMIC routing
    * table (written by [[configQuery]], absent until the first config row)
    * with the static bootstrap configs, route + prune the CDC batch, and
    * merge each touched table's rows straight into its bucketed keyed
    * store ([[DimSink.mergeBatch]]; created on first sight, like
    * checkAndCreateTable): only the buckets the batch's keys hash into are
    * rewritten, so a high-churn dim batch never rewrites a whole table. A
    * config row added mid-stream takes effect from the NEXT micro-batch,
    * exactly like the reference's broadcast state. The parsed routing
    * table is kept in the driver and re-read only when the config store's
    * part files change (every [[configQuery]] rewrite writes new ones in
    * the buckets it touches); a store with no part file — never written,
    * or emptied by `d` ops — holds no dynamic route. A replayed epoch
    * re-merges the same rows, which is idempotent; read the resolved view
    * with [[DimSink.readDelta]]. */
  def dimQuery(db: DataFrame, warehouse: String, static: Seq[DimSink.TableConfig],
      checkpoint: String): StreamingQuery = {
    // (config store part-file names, routes parsed from them)
    var routes: Option[(Seq[String], Seq[(String, DimSink.TableConfig)])] = None
    db.writeStream.option("checkpointLocation", checkpoint).trigger(DagTrigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val dynamic: Seq[(String, DimSink.TableConfig)] = configLock.synchronized {
          // a config writer that died mid-swap left a bucket set aside:
          // restore it rather than routing without its rows. Existence is
          // probed through the Hadoop FS instead of catching
          // AnalysisException, so a corrupt store FAILS the batch instead
          // of silently disabling dynamic DIM routing.
          val store = configStore(warehouse)
          Sinks.recoverStore(s, store)
          val dir = new org.apache.hadoop.fs.Path(store)
          val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
          val key = if (!fs.exists(dir)) Seq.empty[String] else {
            val files = fs.listFiles(dir, true)
            Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
              .filter(_.getName.startsWith("part-")).map(_.toString).toSeq.sorted
          }
          if (key.isEmpty) Seq.empty
          else {
            if (!routes.exists(_._1 == key))
              routes = Some(key -> s.read.parquet(store).collect().toSeq.map { r =>
                r.getAs[String]("source_table") -> DimSink.TableConfig(
                  r.getAs[String]("sink_table"),
                  r.getAs[String]("sink_columns").split(",").toSeq,
                  r.getAs[String]("sink_pk"))
              })
            routes.get._2
          }
        }
        val all = (static.map(c => c.sinkTable.replace("dim_", "") -> c) ++ dynamic)
          .toMap // dynamic overrides static per source_table
        val cfgDf = s.createDataFrame(
          all.toSeq.map { case (src, c) => (src, c.sinkTable, c.sinkColumns.mkString(",")) })
          .toDF("source_table", "sink_table", "sink_columns")
        DimSink.mergeBatch(GmallPipelines.dimRouter(batch, cfgDf), s"$warehouse/dim",
          all.values.toSeq)
      }.start()
  }
}
