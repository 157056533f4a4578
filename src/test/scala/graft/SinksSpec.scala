package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.Sinks

/** Sink contracts (SURVEY.md §2.2): keyed upsert compaction (K4) and
  * declaration-order batch sink (K5). */
class SinksSpec extends SparkTestBase {
  import spark.implicits._

  test("fanOut retention drops epochs older than current - n, keeps the rest") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val ckpt = Files.createTempDirectory("graft_fanout_ckpt_").toString
    val out = Files.createTempDirectory("graft_fanout_out_").toString + "/sink"
    val q = Sinks.fanOut(stream.toDF(), ckpt, retainEpochs = Some(1))(
      ("only", identity[org.apache.spark.sql.DataFrame] _, out))
    try (0 until 4).foreach { i =>
      stream.addData(Seq(i))
      q.processAllAvailable()
    } finally q.stop()
    val epochs = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("epoch=")).map(_.drop(6).toLong).sorted
    // after epoch 3 with n=1: epochs < 2 dropped, {2, 3} retained
    assert(epochs.toSeq === Seq(2L, 3L))
    // retained data still readable through the partitioned layout
    val rows = spark.read.parquet(out).select("value").as[Int].collect().sorted
    assert(rows.toSeq === Seq(2, 3))
  }

  test("upsertByKeyPartitioned keeps last row per key within a batch and merges across batches (K4)") {
    val dir = Files.createTempDirectory("graft_upsert_").toString + "/store"
    val b1 = Seq(("k1", 1L, "v1a"), ("k1", 2L, "v1b"), ("k2", 1L, "v2a"))
      .toDF("id", "ts", "payload")
    Sinks.upsertByKeyPartitioned(b1, Seq("id"), "ts", dir)
    val s1 = spark.read.parquet(dir).select("id", "payload").as[(String, String)].collect().toMap
    assert(s1 === Map("k1" -> "v1b", "k2" -> "v2a")) // last-by-ts wins in batch

    val b2 = Seq(("k2", 5L, "v2new"), ("k3", 1L, "v3")).toDF("id", "ts", "payload")
    Sinks.upsertByKeyPartitioned(b2, Seq("id"), "ts", dir)
    val s2 = spark.read.parquet(dir).select("id", "payload").as[(String, String)].collect().toMap
    assert(s2 === Map("k1" -> "v1b", "k2" -> "v2new", "k3" -> "v3")) // upsert semantics
  }

  test("upsertByKeyPartitioned merges like upsertByKey but rewrites only touched buckets") {
    val dir = Files.createTempDirectory("graft_upsertp_").toString + "/store"
    val b1 = (0 until 40).map(i => (s"k$i", 1L, s"v$i")).toDF("id", "ts", "payload")
    Sinks.upsertByKeyPartitioned(b1, Seq("id"), "ts", dir, nBuckets = 4)
    val s1 = spark.read.parquet(dir).select("id", "payload")
      .as[(String, String)].collect().toMap
    assert(s1.size === 40)

    def bucketFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.getName.startsWith("_bucket=")).map { d =>
        d.getName -> d.listFiles().map(f => f.getName + ":" + f.lastModified()).toSet
      }.toMap
    }
    val before = bucketFiles()
    assert(before.keySet.size > 1, "need >1 bucket for the untouched-bucket check")

    // batch 2 touches exactly one key → exactly one bucket dir may change
    val touchedBucket = spark.range(1)
      .select(pmod(hash(lit("k1")), lit(4)).cast("int")).as[Int].head()
    Sinks.upsertByKeyPartitioned(
      Seq(("k1", 5L, "v1NEW")).toDF("id", "ts", "payload"), Seq("id"), "ts", dir, nBuckets = 4)
    val s2 = spark.read.parquet(dir).select("id", "payload")
      .as[(String, String)].collect().toMap
    assert(s2.size === 40)
    assert(s2("k1") === "v1NEW")
    assert(s2("k2") === "v2")
    val after = bucketFiles()
    before.keySet.filterNot(_ == s"_bucket=$touchedBucket").foreach { b =>
      assert(after(b) === before(b), s"untouched bucket $b was rewritten")
    }
    assert(after(s"_bucket=$touchedBucket") !== before(s"_bucket=$touchedBucket"))
  }

  test("fanOut is exactly-once across restarts (K2: checkpoint + idempotent epoch files)") {
    // on fanOut, the production append path
    val base = Files.createTempDirectory("graft_k2_").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    import org.apache.spark.sql.types._
    val schema = new StructType().add("id", LongType).add("v", StringType)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.json(src)
    // drain the input, then stop: a restart resumes on the same checkpoint
    def runOnce(): Unit = {
      val q = Sinks.fanOut(spark.readStream.schema(schema).json(src), ckpt)(
        ("only", identity[org.apache.spark.sql.DataFrame] _, out))
      try q.processAllAvailable() finally q.stop()
    }
    def ids(): Seq[Long] =
      spark.read.parquet(out).select("id").as[Long].collect().toSeq.sorted
    // every epoch dir's parquet files, with length and mtime
    def epochFiles(): Map[String, Set[(String, Long, Long)]] =
      new java.io.File(out).listFiles().filter(_.getName.startsWith("epoch=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length(), f.lastModified())).toSet
      }.toMap

    runOnce()
    assert(ids() === Seq(1L, 2L))
    val first = epochFiles()
    assert(first.size === 1)
    // restart with the same checkpoint and unchanged input: the processed
    // epochs must NOT replay — no epoch dir rewritten or added
    runOnce()
    assert(epochFiles() === first, "restart rewrote or duplicated committed epochs")
    assert(ids() === Seq(1L, 2L), "restart duplicated committed epochs")
    // new input after restart: only the delta lands, in a new epoch
    Seq((3L, "c")).toDF("id", "v").write.mode("append").json(src)
    runOnce()
    assert(ids() === Seq(1L, 2L, 3L))
    val third = epochFiles()
    assert(third.size === 2)
    assert(first.forall { case (k, v) => third(k) == v })
  }

  test("orderedBatchSink writes declared field order minus transient columns (K5)") {
    val dir = Files.createTempDirectory("graft_ordered_").toString + "/out"
    val ds = Seq(SinksSpec.Bean("s", "e", "w", 1L, "x")).toDS()
    Sinks.orderedBatchSink(ds, Seq("debugOnly"), dir)
    val written = spark.read.parquet(dir)
    assert(written.schema.fieldNames.toSeq === Seq("stt", "edt", "word", "ct"))
  }

  test("orderedBatchSink JdbcTarget routes through df.write.jdbc (plumbing)") {
    // no JDBC server/driver exists in this environment; the spec pins that
    // the JDBC leg is reached with the projection applied — the write
    // fails at driver resolution for the given URL, not before it
    val ds = Seq(SinksSpec.Bean("s", "e", "w", 1L, "x")).toDS()
    val err = intercept[Exception] {
      Sinks.orderedBatchSink(ds, Seq("debugOnly"),
        Sinks.JdbcTarget("jdbc:clickhouse://nowhere:8123/default", "dws_keyword"))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(m =>
      m.contains("suitable driver") || m.contains("No suitable driver") ||
        m.contains("clickhouse")), messages(err).mkString(" | "))
  }

  test("orderedBatchSink JdbcTarget round-trips through embedded Derby (K5)") {
    val dir = Files.createTempDirectory("graft_derby_spec_").toString
    graft.entry.GateSupport.derbyHome()
    val url = s"jdbc:derby:$dir/db;create=true"
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val ds = Seq(
      SinksSpec.Bean("s1", "e1", "w1", 1L, "x"),
      SinksSpec.Bean("s2", "e2", "w2", 2L, "y")).toDS()
    Sinks.orderedBatchSink(ds, Seq("debugOnly"),
      Sinks.JdbcTarget(url, "dws_keyword", props))
    val back = spark.read.jdbc(url, "dws_keyword", props)
    // transient column absent, declared field order preserved end-to-end
    assert(back.schema.fieldNames.toSeq === Seq("stt", "edt", "word", "ct"))
    assert(back.orderBy("ct").collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      === Seq(("s1", "e1", "w1", 1L), ("s2", "e2", "w2", 2L)))
    // append mode appends (the replay hazard processBatchJdbc documents)
    Sinks.orderedBatchSink(ds, Seq("debugOnly"),
      Sinks.JdbcTarget(url, "dws_keyword", props))
    assert(spark.read.jdbc(url, "dws_keyword", props).count() === 4L)
    try { java.sql.DriverManager.getConnection(s"jdbc:derby:$dir/db;shutdown=true"); () }
    catch { case _: java.sql.SQLException => () }
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
  }
}

object SinksSpec {
  case class Bean(stt: String, edt: String, word: String, ct: Long, debugOnly: String)
}
