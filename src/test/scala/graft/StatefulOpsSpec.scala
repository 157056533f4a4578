package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.EventOps
import graft.streaming.{StatefulOps, StreamHarness}
import graft.streaming.StatefulOps.Event

/** Streaming twins vs batch semantics: the stateful operators must produce
  * exactly the batch (oracle) answers when driven through real
  * micro-batches, including state carried across batch boundaries and
  * event-time timeouts fired by the advancing watermark (SURVEY.md §2.5
  * A4/A5/A6, §2.6 W8). */
class StatefulOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(id: Long, user: Long, sec: Long, typ: String = "view"): Event =
    Event(id, new Timestamp(sec * 1000L), user, typ, 1.0, "{}")

  private val events = Seq(
    ev(1, 1, 10), ev(2, 1, 20), ev(3, 1, 86410),          // u1: two days
    ev(4, 2, 15), ev(5, 2, 16), ev(6, 2, 17),             // u2: one day, dups
    ev(7, 3, 86420))                                       // u3: day 2 only

  test("streaming dedupDaily equals batch dedupDaily across batch boundaries (A4)") {
    val batches = Seq(events.take(4), events.drop(4))
    val streamed = StreamHarness.run(spark, batches)(ds => StatefulOps.dedupDaily(ds).toDF())
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    val batch = EventOps.dedupDaily(events.toDF())
      .join(events.toDF(), Seq("user_id"))
      .where(col("ts") === col("first_ts"))
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(streamed === Set((1L, 1L), (1L, 3L), (2L, 4L), (3L, 7L)))
    assert(streamed === batch)
  }

  test("streaming visitorRepair demotes revisits on later days (A6)") {
    val batches = Seq(events.take(3), events.drop(3))
    val out = StreamHarness.run(spark, batches)(ds =>
      StatefulOps.visitorRepair(ds).toDF("event", "fixed_is_new"))
      .select(col("event.event_id"), col("fixed_is_new")).as[(Long, Int)]
      .collect().toMap
    assert(out === Map(1L -> 1, 2L -> 1, 3L -> 0, 4L -> 1, 5L -> 1, 6L -> 1, 7L -> 1))
  }

  test("streaming jumpDetect matches the batch lead() semantics incl. timeouts (W8)") {
    // u1: entry at 10 followed by entry at 20 (match), entry at 20 followed
    // by non-entry at 25 within horizon (not a bounce); u2: entry at 100 and
    // silence (timeout); u3: entry at 50 then next event at 200 (> horizon).
    val evs = Seq(
      ev(1, 1, 10), ev(2, 1, 20), ev(3, 1, 25, "click"),
      ev(4, 2, 100),
      ev(5, 3, 50), ev(6, 3, 200, "click"))
    val sentinel = ev(99, -1, 5000, "flush")
    val streamed = StreamHarness.run(spark, Seq(evs, Seq(sentinel)))(ds =>
      StatefulOps.jumpDetect(ds.withWatermark("ts", "2 seconds"),
        _.event_type == "view", 30L).toDF())
      .where(col("user_id") =!= -1L)
      .select("event_id").as[Long].collect().toSet
    val batch = EventOps.jumpDetect(
      evs.toDF(), col("event_type") === "view", 30L)
      .select("event_id").as[Long].collect().toSet
    assert(streamed === Set(1L, 4L, 5L))
    assert(streamed === batch)
  }

  test("transformWithState dedup (RocksDB + 1-day state TTL) keeps each user's first event per day") {
    val batches = Seq(events.take(4), events.drop(4))
    val tws = StreamHarness.run(spark, batches)(ds => StatefulOps.dedupDaily(ds).toDF())
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(tws === Set((1L, 1L), (1L, 3L), (2L, 4L), (3L, 7L)))
  }

  test("streaming dualFlagUv equals the batch per-day counts when an earlier day arrives later (A5)") {
    // u1 views on day 0 and day 1 and buys on day 1; u2 views twice on day
    // 0; u3 buys on day 0 and views on day 1. Batch 1 carries only day 1,
    // batch 2 brings the EARLIER day 0 — state must not swallow it.
    val day0 = Seq(ev(1, 1, 10), ev(2, 2, 20), ev(3, 2, 30),
      ev(4, 3, 40, "purchase"), ev(5, 1, 50, "click"))
    val day1 = Seq(ev(6, 1, 86410), ev(7, 1, 86420, "purchase"),
      ev(8, 1, 86430, "purchase"), ev(9, 3, 86440))
    val streamed = StreamHarness.run(spark, Seq(day1, day0))(ds =>
        StatefulOps.dualFlagUv(ds, "view", "purchase").toDF("visit_date", "a", "b"))
      .groupBy("visit_date").agg(sum("a"), sum("b"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val batch = EventOps.dualFlagUv((day0 ++ day1).toDF(), "view", "purchase")
      .select(col("visit_date").cast("string"), col("a_uv_ct"), col("b_uv_ct"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(streamed === Seq(("1970-01-01", 2L, 1L), ("1970-01-02", 2L, 1L)))
    assert(streamed === batch)
  }

  test("dedupDailyFlags sets isNew only on each user's first emitted day") {
    // day-ordered feed (the operator's contract): u1 on days 0, 1 and 2
    // across both batches, u2 first seen on day 1 in batch 2
    val b1 = Seq(ev(1, 1, 10), ev(2, 1, 20), ev(3, 1, 86410))
    val b2 = Seq(ev(4, 1, 86420), ev(5, 2, 86430), ev(6, 1, 172810), ev(7, 2, 172820))
    val out = StreamHarness.run(spark, Seq(b1, b2))(ds =>
        StatefulOps.dedupDailyFlags(ds).toDF("event", "is_new"))
      .select(col("event.event_id"), col("is_new")).as[(Long, Int)]
      .collect().toMap
    assert(out === Map(1L -> 1, 3L -> 0, 5L -> 1, 6L -> 0, 7L -> 0))
  }

  test("a harness gate leaves the caller's state-store provider alone") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    // getAll holds only explicitly-set entries: an `unset` would fall back
    // to the SQLConf default, which is this same HDFS-backed provider
    val before = spark.conf.getAll.get(key)
    spark.conf.set(key, hdfs)
    try {
      val rows = SparkEntry.queries("q38_stream_dedup_tws")(
        spark, "/root/testdata/sf0.001").count()
      assert(rows > 0L)
      assert(spark.conf.getAll.get(key) === Some(hdfs))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming funnel survives a late earlier step-1 event that rewrites the chain") {
    // u1 batch 1: view@100, click@105, purchase@106 → chain complete (3).
    // u1 batch 2: LATE view@10 → t₁ drops to 10; click@105 now violates the
    //   20 s horizon, but click@25 (also late) re-qualifies; purchase@106 is
    //   > 25+20 → chain truncates to 2. A one-scalar-per-step state would
    //   keep the stale 3.
    // u2: clicks only → never converts step 1 (max_step 0).
    val b1 = Seq(ev(1, 1, 100), ev(2, 1, 105, "click"), ev(3, 1, 106, "purchase"),
      ev(10, 2, 50, "click"))
    val b2 = Seq(ev(4, 1, 10), ev(5, 1, 25, "click"))
    val latest = StreamHarness.run(spark, Seq(b1, b2))(ds =>
        StatefulOps.funnelStream(ds, Seq("view", "click", "purchase"),
          horizonSec = Some(20L)).toDF())
      .groupBy(col("_1")).agg(max_by(col("_3"), col("_2")).as("m"))
      .as[(Long, Int)].collect().toMap
    assert(latest === Map(1L -> 2, 2L -> 0))
    // batch form on the union agrees: u1 converts view+click only
    val counts = EventOps.funnel((b1 ++ b2).toDF(), Seq("view", "click", "purchase"),
      horizonSec = Some(20L))
      .select("step_idx", "n_users").as[(Long, Long)].collect().toMap
    assert(counts === Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
  }

  test("batch jumpDetect horizon boundary is exclusive (> horizon, not >=)") {
    val evs = Seq(ev(1, 1, 0), ev(2, 1, 30, "click"), // exactly 30 s later → within
      ev(3, 2, 0), ev(4, 2, 31, "click"))             // 31 s → silence → bounce
    val out = EventOps.jumpDetect(evs.toDF(), col("event_type") === "view", 30L)
      .select("event_id").as[Long].collect().toSet
    assert(out === Set(3L))
  }

  test("firstPerKey suppresses cross-batch duplicates via STATE, not in-batch grouping") {
    val out = StreamHarness.run(spark, Seq(
        Seq(("fpA", 3L), ("fpA", 1L), ("fpB", 2L)), // in-batch min wins
        Seq(("fpA", 9L), ("fpC", 7L))))             // fpA seen → suppressed
      { ds => StatefulOps.firstPerKey(ds).toDF() }
      .as[(String, Long)].collect().toSet
    assert(out === Set(("fpA", 1L), ("fpB", 2L), ("fpC", 7L)))
  }

  test("firstPerKeyRetention: event-time window slides from SUPPRESSED sightings; gap > ttl re-admits") {
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val ttl = java.time.Duration.ofSeconds(10)
    // Batches are event-time-ordered ts-range chunks (the feed contract).
    // ts starts at 1, not 0: the engine's late-row filter drops rows at or
    // below the watermark, and the INITIAL watermark is epoch 0 — an edge
    // only a synthetic epoch-0 feed can hit.
    val out = StreamHarness.run(spark, Seq(
        Seq(("k1", 1L, t(1)), ("k1", 2L, t(4)), ("k2", 3L, t(5))),
        // k1@12: gap from FIRST ADMIT (1) is 11 > 10, but from the last
        // (suppressed) sighting (4) is 8 ≤ 10 → still suppressed: the
        // window slides from every sighting. k2@20: gap 15 > 10 → re-admit.
        Seq(("k1", 4L, t(12)), ("k2", 5L, t(20))),
        // k1 silent; watermark reaches 30 → k1's GC timer (12+10=22) fires
        Seq(("k3", 6L, t(30))),
        // k1 returns after the timer dropped its state → first-sighting admit
        Seq(("k1", 7L, t(40)))))
      { ds => StatefulOps.firstPerKeyRetention(ds, ttl).toDF() }
      .as[(String, Long)].collect().toSet
    assert(out === Set(("k1", 1L), ("k2", 3L), ("k2", 5L), ("k3", 6L), ("k1", 7L)))
  }

  test("firstPerKeyRetention equals the batch LAG oracle on a multi-key feed") {
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val ttl = java.time.Duration.ofSeconds(7)
    // Deterministic pseudo-random feed: 5 keys × 30 sightings, gaps 1..13 s
    // (both sides of the 7 s window), ids unique, ts-ordered batch split.
    val rows = (0 until 5).flatMap { k =>
      var ts = k.toLong
      (0 until 30).map { i =>
        ts += 1 + (k * 31 + i * 17) % 13
        (s"k$k", (k * 100 + i).toLong, ts)
      }
    }
    val sortedAll = rows.sortBy(_._3)
    val batches = sortedAll.grouped(50).toSeq
      .map(_.map { case (k, id, s) => (k, id, t(s)) })
    val streamed = StreamHarness.run(spark, batches)(
        ds => StatefulOps.firstPerKeyRetention(ds, ttl).toDF())
      .as[(String, Long)].collect().toSet
    val oracle = rows.groupBy(_._1).values.flatMap { ks =>
      val s = ks.sortBy(r => (r._3, r._2))
      s.zip((None: Option[Long]) +: s.map(r => Some(r._3))).collect {
        case ((k, id, ts), prev) if prev.forall(p => ts - p > 7) => (k, id)
      }
    }.toSet
    assert(streamed === oracle)
    assert(streamed.size > 50 && streamed.size < rows.size,
      s"feed must exercise both admits and suppressions (got ${streamed.size}/${rows.size})")
  }

  test("firstPerKey TTL: an expired fingerprint re-admits (dedup-within-retention)") {
    // With a processing-time GroupState timeout armed, the micro-batch
    // engine busy-loops (timeout-pending batches) and `processAllAvailable`
    // never settles — so progress is observed by POLLING the memory sink
    // with generous deadlines; the continuously-running engine drains each
    // addData and fires lapsed timers on its own.
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "2")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import session.implicits._
    val stream = MemoryStream[(String, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fpk_ttl_").toString
    val ttlSec = 8L
    val query = StatefulOps.firstPerKey(stream.toDS(),
        ttl = Some(java.time.Duration.ofSeconds(ttlSec))).toDF()
      .writeStream.format("memory").queryName("graft_fpk_ttl")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def awaitRows(n: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (session.table("graft_fpk_ttl").count() < n
          && System.nanoTime() < deadline) Thread.sleep(100)
      assert(session.table("graft_fpk_ttl").count() >= n,
        s"sink never reached $n rows")
    }
    try {
      stream.addData(Seq(("fpA", 1L), ("fpB", 2L)))
      awaitRows(2)
      // fpA's retention clock armed no earlier than this instant
      val armed = System.nanoTime()
      stream.addData(Seq(("fpA", 5L))) // within retention → suppressed
      stream.addData(Seq(("fpC", 6L)))
      // fpC's OUTPUT gates the step: its batch commits at or after fpA@5's,
      // so seeing fpC proves the suppressed row was consumed — and the
      // elapsed check below proves it was consumed INSIDE the retention
      // window. On a host stalled past the TTL the test is inconclusive
      // (the timeout legitimately fired first) — cancel, don't flake.
      awaitRows(3)
      val lapsedSec = (System.nanoTime() - armed) / 1e9
      assume(lapsedSec < ttlSec - 1,
        f"engine stalled $lapsedSec%.1f s before consuming the suppressed row " +
          s"— TTL semantics unobservable on this host (ttl = $ttlSec s)")
      Thread.sleep((ttlSec + 3) * 1000) // let the retention lapse + fire
      stream.addData(Seq(("fpA", 9L))) // forgotten → re-admitted, fresh min
      awaitRows(4)
      val out = session.table("graft_fpk_ttl").as[(String, Long)].collect().toSeq
      assert(out.sorted ===
        Seq(("fpA", 1L), ("fpA", 9L), ("fpB", 2L), ("fpC", 6L)))
    } finally {
      try query.stop()
      finally {
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(ckpt)); ()
      }
    }
  }
}
