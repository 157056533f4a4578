package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.apps.{GmallApp, GmallPipelines}
import graft.core.{Envelopes, TopicDb}
import graft.streaming.{DeltaStore, DimSink, FuzzyIngest, SemIngest}

/** The warehouse DAG workloads: `GmallApp.startFromFiles` run as a
  * service, fed by a closed-loop producer that drops one generated round
  * of files, waits until every query has committed it, and drops the
  * next. */
final class Dag(spark: SparkSession, inputs: String, work: String,
    seconds: Int, log: ProgressLog, spans: Spans) {

  /** The 12 queries in `startFromFiles` return order, by role. */
  val groupNames: Seq[String] = Seq("dim", "dwd_log", "dwd_db", "dwd_trade",
    "dwd_trade", "dwd_trade", "dwd_trade", "dws", "dws", "dim", "curation", "curation")
  val Topics = Seq("topic_db", "topic_log", "table_process_config", "doc_paras", "embeddings")
  private val inRoot = s"$work/in"
  private val wh = s"$work/wh"
  private val expected = Json.readExpected(s"$inputs/expected.json")
  val nRounds: Int = expected.size

  var queries: Seq[StreamingQuery] = Nil
  private var groupById = Map.empty[String, String]
  def groupOf(queryId: String): Option[String] = groupById.get(queryId)

  final case class Round(r: Int, dropMs: Long, doneMs: Long, envelopes: Long)
  val rounds = mutable.ArrayBuffer.empty[Round]

  private val pool = Executors.newFixedThreadPool(12)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  /** Move round `r`'s files into the watched dirs: one file per topic, so
    * each query sees a topic's whole drop in one listing. */
  private def drop(r: Int): Unit = Topics.foreach { t =>
    val src = Paths.get(inputs, "rounds", f"r$r%04d", s"$t.parquet")
    if (Files.exists(src))
      Files.move(src, Paths.get(inRoot, t, f"r$r%04d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
  }

  /** Wait until every query has processed everything dropped so far. */
  private def sync(): Unit =
    Await.result(Future.traverse(queries)(q => Future(q.processAllAvailable())), 150.seconds)

  /** DWS window rows written so far: an append-mode aggregation emits
    * exactly the window keys it evicts from state. */
  private def dwsRows: Long = {
    val ids = queries.zip(groupNames).collect { case (q, "dws") => q.id.toString }.toSet
    log.all.filter(b => ids(b.queryId)).map(_.rowsEvicted).sum
  }

  /** The DWS windows a drop closes are written by the no-data batch that
    * follows it; wait for their rows too. */
  private def awaitDws(r: Int): Unit = {
    val want = expected(r).getOrElse("dws_keyword_rows", 0L) +
      expected(r).getOrElse("dws_traffic_rows", 0L)
    val limit = System.currentTimeMillis() + 60000L
    while (dwsRows < want && System.currentTimeMillis() < limit) Thread.sleep(2)
    if (dwsRows < want) throw new IllegalStateException(
      s"round $r: DWS wrote ${dwsRows} window rows, expected $want")
  }

  /** Queries started → priming round committed by every query. */
  def setUp(): Unit = {
    val t0 = System.nanoTime()
    Topics.foreach(t => Files.createDirectories(Paths.get(inRoot, t)))
    queries = spans("setup.start_queries")(GmallApp.startFromFiles(spark, inRoot, wh))
    System.err.println(f"[perfbench] queries started in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    groupById = queries.zip(groupNames).map { case (q, g) => q.id.toString -> g }.toMap
    // round 0 carries no payment rows, so the routing config it adds
    // may land after its DIM batch: it takes effect from the next one
    spans("setup.prime") {
      drop(0)
      sync()
      awaitDws(0)
    }
    System.err.println(f"[perfbench] DAG set up in ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  private val envelopes = Json.envelopes(s"$inputs/expected.json")

  def round(r: Int): Unit = spans(s"round") {
    val t = System.currentTimeMillis()
    drop(r)
    sync()
    awaitDws(r)
    rounds += Round(r, t, System.currentTimeMillis(), envelopes(r))
    System.err.println(s"[perfbench] round $r: ${System.currentTimeMillis() - t} ms; last batch ms " +
      queries.zip(groupNames).map { case (q, g) =>
        s"$g:" + Option(q.lastProgress).map(_.durationMs.get("triggerExecution")).orNull
      }.mkString(" "))
  }

  /** Closed-loop rounds while less than `seconds` have gone by. */
  def measure(): Unit = {
    val deadline = System.currentTimeMillis() + seconds * 1000L
    var r = 1
    while (System.currentTimeMillis() < deadline && r < nRounds) {
      round(r)
      r += 1
    }
  }

  def roundsDone: Int = rounds.size

  // ------------------------------------------------------------ metrics --

  /** The micro-batch phases `StreamingQueryProgress.durationMs` reports. */
  private val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets")

  private def batchesOf(group: String => Boolean): Seq[(Batch, String)] =
    log.all.flatMap(b => groupById.get(b.queryId).filter(group).map(g => (b, g)))

  /** Per round: drop → every query has committed it (`processAllAvailable`
    * returned) and the DWS windows it closed are written. */
  def roundSeconds: Seq[Double] = rounds.toSeq.map(rd => (rd.doneMs - rd.dropMs) / 1000.0)

  /** Per round and per DIM/DWD query: drop → commit of the batch that
    * read the drop. The config query sees no data after priming. */
  def dwdFreshMs: Seq[Double] = {
    val dwd = Set("dim", "dwd_log", "dwd_db", "dwd_trade")
    val bs = batchesOf(dwd)
    rounds.toSeq.flatMap { rd =>
      bs.filter { case (b, _) => b.inputRows > 0 && b.commitMs >= rd.dropMs &&
          b.startMs <= rd.doneMs }
        .groupBy(_._1.queryId).values
        .map(v => (v.map(_._1.commitMs).min - rd.dropMs).toDouble)
    }
  }

  /** Per round and per DWS query: drop → commit of the batch that wrote
    * the windows the drop closed. */
  def dwsEmitMs: Seq[Double] = {
    val bs = batchesOf(_ == "dws")
    rounds.toSeq.flatMap { rd =>
      bs.filter { case (b, _) => b.rowsEvicted > 0 && b.commitMs >= rd.dropMs &&
          b.startMs <= rd.doneMs }
        .groupBy(_._1.queryId).values
        .map(v => (v.map(_._1.commitMs).max - rd.dropMs).toDouble)
    }
  }

  /** Per round and per query that read the drop: drop → commit of the
    * batch that read it (DIM/DWD) or wrote the windows it closed (DWS). */
  def freshMs: Seq[Double] = dwdFreshMs ++ dwsEmitMs

  def envelopesPerS: Double =
    rounds.map(_.envelopes).sum / roundSeconds.sum

  /** Share of each round's time that the slowest query's batch phases
    * account for (the ledger's coverage of `round_s`). */
  def slowestCover: Seq[Double] = rounds.toSeq.zip(roundSeconds).map { case (rd, rs) =>
    // batches committed within the round (listener times may trail by ms)
    val in = log.all.filter(b => b.commitMs >= rd.dropMs && b.commitMs <= rd.doneMs + 100)
    if (in.isEmpty || rs <= 0) 0.0
    else {
      val slowest = in.maxBy(_.commitMs).queryId
      val phases = in.filter(_.queryId == slowest).map(b =>
        Phases.map(b.durations.getOrElse(_, 0L)).sum).sum
      phases / 1000.0 / rs
    }
  }

  /** Per measured round: phase sums, batch counts and state of each
    * group (state size as at the end of the run). */
  def streamingLedger: Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val n = math.max(1, rounds.size).toDouble
    val from = rounds.headOption.map(_.dropMs).getOrElse(Long.MaxValue)
    val all = batchesOf(_ => true).filter(_._1.commitMs >= from)
    for (g <- groupNames.distinct) {
      val bs = all.collect { case (b, `g`) => b }
      def sum(f: Batch => Long) = bs.map(f).sum / n
      for (p <- Phases)
        out(s"streaming.$g.${p}_ms") = sum(_.durations.getOrElse(p, 0L))
      val batches = bs.size / n
      val nodata = bs.count(_.inputRows == 0) / n
      out(s"streaming.$g.batches") = batches
      out(s"streaming.$g.nodata_batches") = nodata
      out(s"streaming.$g.nodata_batch_share") = if (batches > 0) nodata / batches else 0.0
      out(s"streaming.$g.input_rows") = sum(_.inputRows)
      if (Set("dwd_trade", "dws")(g)) {
        out(s"streaming.$g.state_commit_ms") = sum(_.stateCommitMs)
        // state size at the end of the run: the last batch of each query
        val last = bs.groupBy(_.queryId).values.map(_.maxBy(_.batchId)).toSeq
        out(s"streaming.$g.state_rows") = last.map(_.stateRows).sum.toDouble
        out(s"streaming.$g.state_bytes") = last.map(_.stateBytes).sum.toDouble
        out(s"streaming.$g.late_dropped") = sum(_.lateDropped)
      }
    }
    out.toMap
  }

  // -------------------------------------------------------------- check --

  /** Output counts, read through the program's own readers. */
  def actual(): Map[String, Long] = {
    val s = spark
    def l(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    val dwd = Seq("traffic_page", "traffic_start", "traffic_display", "traffic_action",
      "traffic_err", "cart_add", "coupon_get", "coupon_order", "coupon_pay", "favor_add",
      "comment", "user_register", "order_pre", "cancel", "pay_success", "order_refund",
      "refund_pay_suc").map(d => Future(Seq(d -> s.read.parquet(s"$wh/dwd/$d").count())))
    val rest = Seq(
      Future {
        val u = DimSink.readDelta(s, s"$wh/dim",
            DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id"))
          .agg(count(lit(1)), sum(crc32(concat_ws("|", col("id"), col("name"))))).head()
        Seq("dim_user_info" -> u.getLong(0), "dim_user_info_crc" -> l(u, 1))
      },
      Future(Seq("dim_payment_info" -> DimSink.readDelta(s, s"$wh/dim",
        DimSink.TableConfig("dim_payment_info", Seq("id", "payment_type"), "id")).count())),
      Future {
        val kw = s.read.parquet(s"$wh/dws/keyword")
          .agg(count(lit(1)), sum(col("keyword_count"))).head()
        Seq("dws_keyword_rows" -> kw.getLong(0), "dws_keyword_sum" -> l(kw, 1))
      },
      Future {
        val tr = s.read.parquet(s"$wh/dws/traffic")
          .agg(count(lit(1)), sum(col("pv_ct")), sum(col("sv_ct")), sum(col("dur_sum"))).head()
        Seq("dws_traffic_rows" -> tr.getLong(0), "dws_traffic_pv" -> l(tr, 1),
          "dws_traffic_sv" -> l(tr, 2), "dws_traffic_dur" -> l(tr, 3))
      },
      Future(Seq("fuzzy_survivors" -> FuzzyIngest.survivors(s, s"$wh/curation/fuzzy").count())),
      Future(Seq("sem_survivors" -> SemIngest.survivors(s, s"$wh/curation/sem").count())))
    Await.result(Future.sequence(dwd ++ rest), 150.seconds).flatten.toMap
  }

  def stop(): Unit = {
    Await.ready(Future.traverse(queries)(q => Future(q.stop())), 60.seconds)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }

  /** Queries that died, with their exceptions. */
  def failedQueries: Seq[String] =
    queries.flatMap(q => q.exception.map(e => s"${q.name}: ${e.getMessage.take(300)}"))

  // ------------------------------------------------------ layer replay --

  /** Replay round `r`'s files through the public layer functions, one
    * span per call (traced runs only). */
  def replay(r: Int, root: String): Unit = spans("replay") {
    val s = spark
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val db = s.read.parquet(s"$inRoot/topic_db/" + f"r$r%04d.parquet")
    val lg = s.read.parquet(s"$inRoot/topic_log/" + f"r$r%04d.parquet")
    val clean = spans("core.parse") {
      val d = Envelopes.cleanDirty(Envelopes.parseMaxwell(db))._1.localCheckpoint(true)
      noop(Envelopes.cleanDirty(Envelopes.parseLog(lg))._1)
      d
    }
    val dic = TopicDb.baseDic(s)
    spans("apps.dwd") {
      Seq(GmallPipelines.tradeCartAdd(clean, dic), GmallPipelines.couponGet(clean),
        GmallPipelines.couponOrder(clean), GmallPipelines.couponPay(clean),
        GmallPipelines.favorAdd(clean), GmallPipelines.comment(clean, dic),
        GmallPipelines.userRegister(clean)).foreach(noop)
    }
    val configs = Seq(
      DimSink.TableConfig("dim_user_info", Seq("id", "name"), "id"),
      DimSink.TableConfig("dim_payment_info", Seq("id", "payment_type"), "id"))
    val cfgDf = s.createDataFrame(configs.map(c =>
        (c.sinkTable.stripPrefix("dim_"), c.sinkTable, c.sinkColumns.mkString(","))))
      .toDF("source_table", "sink_table", "sink_columns")
    val routed = spans("apps.dim_route") {
      GmallPipelines.dimRouter(clean, cfgDf).localCheckpoint(true)
    }
    // two epochs: the second upserts over the first, as a running DIM does
    for (epoch <- 0L to 1L) {
      spans("streaming.dim_upsert")(DimSink.processBatchDelta(routed, root, configs, epoch))
      spans("streaming.compact")(configs.foreach(c =>
        DeltaStore.compact(s, s"$root/${c.sinkTable}", Seq(c.sinkPk), "ts")))
    }
  }
}
