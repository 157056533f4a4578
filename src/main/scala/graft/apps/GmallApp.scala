package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.{Envelopes, TopicDb}
import graft.streaming.{DimCache, DimSink, Sinks, Sources, Windows}

/** The reference warehouse's full production DAG, assembled from the SAME
  * transform functions every correctness gate exercises — the deployment
  * `main` for a cluster that HAS Kafka (this build/test environment does
  * not, so nothing here runs in CI; the gates drive identical plans
  * through MemoryStream instead — see SURVEY §8).
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions \
  *     --class graft.apps.GmallApp graft.jar kafka:9092 /warehouse
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

  def main(args: Array[String]): Unit = {
    val bootstrap = args.headOption.getOrElse("localhost:9092")
    val warehouse = if (args.length > 1) args(1) else "/tmp/gmall"
    val spark = SparkSession.builder()
      .appName("gmall-graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    val queries = start(spark, bootstrap, warehouse)
    queries.foreach(_ => ())
    spark.streams.awaitAnyTermination()
  }

  /** Bind the Kafka sources and wire every pipeline. Each query gets its
    * OWN consumer (fresh readStream per factory call) — the reference's
    * one-consumer-group-per-app layout; sharing one source instance across
    * queries also breaks multi-scan watermark accounting. */
  def start(spark: SparkSession, bootstrap: String, warehouse: String): Seq[StreamingQuery] =
    wire(spark,
      () => Sources.topicDb(spark, bootstrap, "gmall_graft"),
      () => Sources.topicLog(spark, bootstrap, "gmall_graft"),
      warehouse) :+
      configQuery(spark,
        Sources.configStream(spark, bootstrap, "gmall_graft"),
        warehouse, s"$warehouse/ckpt/config")

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
      joinTtlSec: Long = 900L, semCells: Int = 16): Seq[StreamingQuery] =
    (wire(spark,
      () => Envelopes.cleanDirty(Envelopes.parseMaxwell(
        Sources.fileValues(spark, s"$inRoot/topic_db")))._1,
      () => Envelopes.cleanDirty(Envelopes.parseLog(
        Sources.fileValues(spark, s"$inRoot/topic_log")))._1,
      warehouse, joinTtlSec) :+
      configQuery(spark, Sources.projectConfig(Envelopes.cleanDirty(
          Envelopes.parseDebeziumConfig(
            Sources.fileValues(spark, s"$inRoot/table_process_config")))._1),
        warehouse, s"$warehouse/ckpt/config")) ++
      curationWire(spark, inRoot, warehouse, semCells)

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
    * production path binds Kafka ([[start]]); GmallAppSpec drives the
    * IDENTICAL wiring through MemoryStream (with CDC rows deliberately
    * split across micro-batches) and asserts the warehouse contents, so
    * the deployment graph itself is executed in CI. Returns the running
    * queries (production awaits, tests stop them).
    *
    * The trade family runs as watermarked stream-stream interval joins
    * (`GmallPipelines.*Stream`, one query per app exactly like the
    * reference's one-Flink-job-per-app layout — each re-consumes the
    * topic): an order's detail/info/payment rows may arrive in DIFFERENT
    * micro-batches and still join, with state bounded by `joinTtlSec`
    * (reference: 905 s / ±15 min). The stateless row-filter pipelines run
    * per-batch with EPOCH-IDEMPOTENT writes (each epoch overwrites its own
    * `epoch=N` dir, so a replayed micro-batch cannot duplicate rows).
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
    val dim = dimQuery(spark, dbSource(), warehouse, dimConfigs, ckpt("dim"))

    // ---- DWD log family: 5-way split, persist-once fan-out ------------
    val dwdLog = Sinks.fanOut(logSource(), ckpt("base_log"))(
      Seq("page", "start", "display", "action", "err").map(b =>
        (b, (d: DataFrame) => GmallPipelines.baseLogSplit(d)(b), out(s"traffic_$b"))): _*)

    // ---- DWD db, stateless family: per-row filters where the batch
    // ---- boundary is irrelevant; every epoch overwrites its own dir ----
    val dwdStateless = dbSource().writeStream.option("checkpointLocation", ckpt("dwd_db"))
      .trigger(DagTrigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        batch.persist()
        try {
          val d = dic.get()
          Seq(
            "cart_add" -> GmallPipelines.tradeCartAdd(batch, d),
            "coupon_get" -> GmallPipelines.couponGet(batch),
            "coupon_order" -> GmallPipelines.couponOrder(batch),
            "coupon_pay" -> GmallPipelines.couponPay(batch),
            "favor_add" -> GmallPipelines.favorAdd(batch),
            "comment" -> GmallPipelines.comment(batch, d),
            "user_register" -> GmallPipelines.userRegister(batch),
          ).foreach { case (name, df) =>
            df.write.mode("overwrite").parquet(s"${out(name)}/epoch=$epochId")
          }
        } finally { batch.unpersist(); () }
      }.start()

    // ---- DWD db, trade family: cross-batch stream-stream joins --------
    val dicStatic = TopicDb.baseDic(spark)
    val pre = GmallPipelines.tradeOrderPreProcessStream(dbSource(), dicStatic, joinTtlSec)
    val orderPreQ = pre.writeStream
      .option("checkpointLocation", ckpt("order_pre")).trigger(DagTrigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        batch.persist()
        try {
          batch.write.mode("overwrite").parquet(s"${out("order_pre")}/epoch=$epochId")
          GmallPipelines.tradeCancel(batch)
            .write.mode("overwrite").parquet(s"${out("cancel")}/epoch=$epochId")
        } finally { batch.unpersist(); () }
      }.start()
    def tradeQ(name: String, df: DataFrame): StreamingQuery =
      df.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt(name)).trigger(DagTrigger)
        .format("parquet").option("path", out(name)).start()
    val payQ = tradeQ("pay_success",
      GmallPipelines.tradePaySuccessStream(dbSource(), dicStatic, joinTtlSec))
    val refundQ = tradeQ("order_refund",
      GmallPipelines.tradeOrderRefundStream(dbSource(), dicStatic, joinTtlSec))
    val refundPayQ = tradeQ("refund_pay_suc",
      GmallPipelines.tradeRefundPaySuccessStream(dbSource(), dicStatic, joinTtlSec))

    // ---- DWS: windowed aggregations (reference watermarks) ------------
    val keyword = Windows.keywordCount(GmallPipelines.keywordHits(logSource()))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt("dws_keyword")).trigger(DagTrigger)
      .format("parquet").option("path", s"$warehouse/dws/keyword").start()
    val traffic = Windows.tumblingAgg(
        GmallPipelines.trafficCounters(GmallPipelines.baseLogSplit(logSource())("page")),
        "rt", "1 hour", "14 seconds",
        Seq(col("vc"), col("ch"), col("ar"), col("is_new")),
        Seq(sum(col("pv")).as("pv_ct"), sum(col("sv")).as("sv_ct"),
          sum(col("dur")).as("dur_sum")))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt("dws_traffic")).trigger(DagTrigger)
      .format("parquet").option("path", s"$warehouse/dws/traffic").start()

    Seq(dim, dwdLog, dwdStateless, orderPreQ, payQ, refundQ, refundPayQ,
      keyword, traffic)
  }

  /** Path of the dynamic routing table under a warehouse root. */
  def configStore(warehouse: String): String = s"$warehouse/config/table_process"

  /** Serializes config-store WRITES ([[configQuery]]'s rename-aside swap,
    * which briefly leaves the path absent) against per-batch READS
    * ([[dimQuery]]) within the driver JVM — the two queries run
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
    * never poison the DIM query. Input shape:
    * [[graft.streaming.Sources.configStream]]. */
  def configQuery(spark: SparkSession, cfg: DataFrame, warehouse: String,
      checkpoint: String): StreamingQuery =
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
            Sinks.upsertByKey(last.where(col("op") =!= "d").drop("op"),
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
    * part files change (every [[configQuery]] rewrite writes new ones). A
    * replayed epoch re-merges the same rows, which is idempotent; read
    * the resolved view with [[DimSink.readDelta]]. */
  def dimQuery(spark: SparkSession, db: DataFrame, warehouse: String,
      static: Seq[DimSink.TableConfig], checkpoint: String): StreamingQuery = {
    // (config store part-file names, routes parsed from them)
    var routes: Option[(Seq[String], Seq[(String, DimSink.TableConfig)])] = None
    db.writeStream.option("checkpointLocation", checkpoint).trigger(DagTrigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val dynamic: Seq[(String, DimSink.TableConfig)] = configLock.synchronized {
          // probe existence through the Hadoop FS (as Sinks.upsertByKey
          // does) instead of catching AnalysisException: "store never
          // created" is the only legitimate fallback to static routing —
          // a corrupt or partially-written store must FAIL the batch, not
          // silently disable dynamic DIM routing. Mirror upsertByKey's
          // crash recovery first: a writer that died mid-swap leaves the
          // only full copy at `_old` — restore it rather than mistaking
          // the store for never-created.
          val dir = new org.apache.hadoop.fs.Path(configStore(warehouse))
          val old = new org.apache.hadoop.fs.Path(configStore(warehouse) + "_old")
          val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (!fs.exists(dir) && fs.exists(old) && !fs.rename(old, dir))
            throw new java.io.IOException(s"dimQuery: cannot restore $old")
          if (!fs.exists(dir)) Seq.empty
          else {
            val key = fs.listStatus(dir).map(_.getPath.getName)
              .filter(_.startsWith("part-")).sorted.toSeq
            if (!routes.exists(_._1 == key))
              routes = Some(key -> s.read.parquet(dir.toString).collect().toSeq.map { r =>
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
