package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables, TempDirs}
import graft.operators.Multimodal
import graft.streaming.StreamHarness

import OracleSupport._

/** Multimodal blobs, DeltaStore time travel, expectations contracts.
  *
  * One gate family of [[graft.SparkEntry]]: `queries` runs each operator
  * over the driver's parquet tables; `oracleSql` is the DuckDB twin the
  * driver hash-compares against (columns aliased identically on both
  * sides — the compare sorts columns by name before hashing). */
private[graft] object MiscGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --------------------------- multimodal --------------------------------

    "q30_media_meta" -> ((s, d) =>
      Multimodal.resizePlan(Multimodal.decodeMeta(
          Multimodal.ingestDocsAsMedia(Tables.documents(s, d))))
        .select(col("media_id"), col("mime"), col("n_bytes"), col("width"),
          col("height"), col("out_w"), col("out_h"), col("duration_ms"))
        .orderBy(col("media_id"))),

    "q31_media_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.decodeMeta(
          Multimodal.ingestDocsAsMedia(Tables.documents(s, d))))
        .orderBy(col("media_id"), col("frame_no"))),

    // batched per-partition decode (mapInPandas analogue). The raw
    // array<float> features column is not hashable by the driver's oracle
    // (pandas can't sort ndarray cells), so the gate projects each feature
    // to a rounded scalar column; the DuckDB oracle replicates
    // StubDecoder's byte statistics from hex(encode(text)).
    "q32_media_features" -> ((s, d) => {
      val feats = Multimodal.extractFeatures(
        Multimodal.ingestDocsAsMedia(Tables.documents(s, d)))
      val fCols = (0 until 8).map(i =>
        round(element_at(col("features"), i + 1).cast("double"), 6).as(s"f$i"))
      feats.select((col("media_id") +: col("mime") +: fCols): _*)
        .orderBy(col("media_id"))
    }),

    // REAL image decode (javax.imageio — the last formerly-stubbed
    // component): deterministic gradient PNGs are ImageIO-ENCODED on the
    // executors, round-tripped through ImageIoDecoder, and every channel
    // statistic is pinned against a SQL oracle that recomputes the
    // closed-form pixel pattern — plus dirty rows (non-PNG bytes under an
    // image mime) that must ROUTE to the stub path with decode_ok=0.
    // Features land as floor(f*4096) BIGINTs: integer-exact for dims/
    // min/max/flag, and for the means both engines run the identical
    // IEEE chain (int-sum → double divide → REAL → double → floor).
    "q163_media_imageio" -> ((s, d) => {
      val feats = Multimodal.extractFeatures(
        Multimodal.synthesizeImages(Tables.documents(s, d)),
        Multimodal.ImageIoDecoder)
      val q = (0 until 9).map(i =>
        floor(element_at(col("features"), i + 1).cast("double") * 4096)
          .cast("long").as(s"f${i}_q"))
      feats.select((col("media_id") +: col("mime") +: q): _*)
        .orderBy(col("media_id"))
    }),

    // REAL audio decode (javax.sound.sampled — the JDK's own PCM/WAV
    // reader, same move as q163's ImageIO): deterministic PCM-16 WAVs
    // are AudioSystem-ENCODED on the executors, round-tripped through
    // WavDecoder, and every sample statistic is pinned against a SQL
    // oracle that recomputes the closed-form sample pattern — plus
    // dirty rows (non-WAV bytes under an audio mime) that must ROUTE
    // to the stub path with decode_ok=0. Same floor(f*4096) BIGINT
    // projection as q163.
    "q165_media_wav" -> ((s, d) => {
      val feats = Multimodal.extractFeatures(
        Multimodal.synthesizeWavs(Tables.documents(s, d)),
        Multimodal.WavDecoder)
      val q = (0 until 9).map(i =>
        floor(element_at(col("features"), i + 1).cast("double") * 4096)
          .cast("long").as(s"f${i}_q"))
      feats.select((col("media_id") +: col("mime") +: q): _*)
        .orderBy(col("media_id"))
    }),

    // REAL MP4 container metadata (pure JDK byte reading — the ISO BMFF
    // box walk needs no codec, round-11 verdict #6): minimal valid MP4s
    // (ftyp + moov(mvhd, trak(tkhd)) + mdat) are assembled on the
    // executors with every header field closed-form in doc_id,
    // round-tripped through Mp4MetaDecoder's box walk, and pinned
    // against a SQL oracle that recomputes all nine features with
    // integer arithmetic — plus dirty rows (non-MP4 bytes under a video
    // mime) that must ROUTE to the stub path with decode_ok=0. Same
    // floor(f*4096) BIGINT projection as q163/q165.
    "q166_media_mp4_meta" -> ((s, d) => {
      val feats = Multimodal.extractFeatures(
        Multimodal.synthesizeMp4s(Tables.documents(s, d)),
        Multimodal.Mp4MetaDecoder)
      val q = (0 until 9).map(i =>
        floor(element_at(col("features"), i + 1).cast("double") * 4096)
          .cast("long").as(s"f${i}_q"))
      feats.select((col("media_id") +: col("mime") +: q): _*)
        .orderBy(col("media_id"))
    }),

    // Blob-store dedup accounting per mime: payload counts, distinct
    // payloads by content md5, and the CAS byte savings — content bytes
    // hashed at the scan, never shuffled.
    "q149_media_dedup_accounting" -> ((s, d) =>
      Multimodal.dedupAccounting(
          Multimodal.ingestDocsAsMedia(Tables.documents(s, d)))
        .orderBy(col("mime"))),

    // DeltaStore TIME TRAVEL: epochs 0-2 upsert the events changelog
    // (sliced by event_id % 3), epoch 3 is a tombstone-only batch
    // retiring user_id % 7 == 0, epoch 4 re-upserts those keys. Then
    // readAsOf(3) must show the retired keys HIDDEN (their newest ≤3 row
    // is the tombstone) and the epoch-4 resurrection INVISIBLE (epoch
    // cap) — both travel behaviors in one view.
    "q151_delta_time_travel" -> ((s, d) => TempDirs.withScratch("graft_tt_") { root =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("ts_us"),
          pmod(col("event_id"), lit(3)).as("_ep"))
      (0L to 2L).foreach { e =>
        graft.streaming.DeltaStore.append(
          ev.where(col("_ep") === e).drop("_ep"), Seq("user_id"), "ts_us", root, e)
      }
      val sevens = ev.where(col("user_id") % 7 === 0)
      graft.streaming.DeltaStore.append(
        ev.where(lit(false)).drop("_ep"), Seq("user_id"), "ts_us", root, 3L,
        deleteKeys = Some(sevens.select(col("user_id")).distinct()))
      graft.streaming.DeltaStore.append(
        sevens.where(col("_ep") === 0).drop("_ep"), Seq("user_id"), "ts_us", root, 4L)
      graft.streaming.DeltaStore
        .readAsOf(s, root, Seq("user_id"), "ts_us", epoch = 3L)
        .orderBy(col("user_id"))
    }),

    // DeltaStore CHANGE DATA FEED over the same changelog: the net
    // effect of epochs (1, 3] — every key's newest epoch-2 upsert,
    // except the %7 keys whose epoch-3 tombstone wins and surfaces as an
    // op='d' row (nulled data) for downstream incremental consumers.
    "q152_delta_cdf" -> ((s, d) => TempDirs.withScratch("graft_cdf_") { root =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("ts_us"),
          pmod(col("event_id"), lit(3)).as("_ep"))
      (0L to 2L).foreach { e =>
        graft.streaming.DeltaStore.append(
          ev.where(col("_ep") === e).drop("_ep"), Seq("user_id"), "ts_us", root, e)
      }
      graft.streaming.DeltaStore.append(
        ev.where(lit(false)).drop("_ep"), Seq("user_id"), "ts_us", root, 3L,
        deleteKeys = Some(ev.where(col("user_id") % 7 === 0)
          .select(col("user_id")).distinct()))
      graft.streaming.DeltaStore
        .readChanges(s, root, Seq("user_id"), "ts_us", fromEpoch = 1L, toEpoch = 3L)
        .withColumnRenamed("_op", "op")
        .orderBy(col("user_id"))
    }),

    // Declared data-quality EXPECTATIONS over lineitem: not-null / unique
    // key / ranges / enums / FK-to-orders, exact violation counts — two
    // of them (price range, single-status enum) intentionally FAIL so
    // the counting path is pinned, not just the all-green one. All
    // scalar checks fold into ONE aggregate pass.
    "q154_expectations" -> ((s, d) => {
      import graft.operators.Expectations._
      check(Tables.lineitem(s, d), Seq(
          NotNull("l_orderkey"),
          UniqueKey(Seq("l_orderkey", "l_linenumber")),
          InRange("l_quantity", 1, 50),
          InRange("l_extendedprice", 0, 1000),
          InSet("l_returnflag", Seq("A", "N", "R")),
          InSet("l_linestatus", Seq("O")),
          RefIntegrity("l_orderkey", Tables.orders(s, d), "o_orderkey")))
        .orderBy(col("expectation"))
    }),

    // Expectations ON INGEST: the same contract checks run per
    // micro-batch inside the harness's batch sink, audit rows landing per epoch —
    // the fail-fast data-quality monitor a streaming pipeline runs on
    // every drop. Three event slices; per-epoch counts must equal the
    // batch operator on each slice.
    // Row-level contract ROUTING (round-9 ask #6): q154's seven
    // expectations applied per ROW — every row annotated with the sorted
    // names of the expectations it fails. The gate aggregates the routed
    // frame back to per-expectation violating-row counts plus the clean
    // count, which must reconcile exactly with q154's audit (same
    // predicates; UniqueKey's per-row marks telescope to rows − distinct
    // tuples). uniqueTieBreak = the non-key measure columns, so which
    // duplicate escapes the flag is deterministic under the hash gate.
    "q161_expectations_route" -> ((s, d) => {
      import graft.operators.Expectations._
      val li = Tables.lineitem(s, d)
      route(li, Seq(
          NotNull("l_orderkey"),
          UniqueKey(Seq("l_orderkey", "l_linenumber")),
          InRange("l_quantity", 1, 50),
          InRange("l_extendedprice", 0, 1000),
          InSet("l_returnflag", Seq("A", "N", "R")),
          InSet("l_linestatus", Seq("O")),
          RefIntegrity("l_orderkey", Tables.orders(s, d), "o_orderkey")),
          uniqueTieBreak = Seq(col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax"), col("l_returnflag"), col("l_linestatus"),
            col("l_shipdate")))
        .select(explode(when(size(col("violated")) === 0, array(lit("_clean")))
          .otherwise(col("violated"))).as("expectation"))
        .groupBy(col("expectation"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("expectation"))
    }),

    // Quarantine routing ON INGEST (round-9 ask #6): per micro-batch,
    // violating rows land in a quarantine store keyed by their violation
    // set, clean rows pass through to the clean store — the reference's
    // dirty-side-output idiom (P1) applied to declared contracts. The
    // gate reads BOTH stores back and pins per-(epoch, status,
    // violation-set) row counts AND id sums, so the exact membership of
    // each route is hash-gated; q155's audit counts are recoverable from
    // the same frame.
    "q162_stream_quarantine" -> ((s, d) => TempDirs.withScratch("graft_quar_") { root =>
      import graft.operators.Expectations._
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      StreamHarness.runBatches(s,
          (0 to 2).map(i => ev.where(pmod(col("event_id"), lit(3)) === i))) {
        (b, epochId) =>
          val routed = route(b, Seq(
              NotNull("user_id"),
              InRange("value", 0, 100),
              InSet("event_type", Seq("view", "click", "purchase"))))
            .withColumn("violated_csv", concat_ws(",", col("violated")))
            .drop("violated")
          routed.where(col("violated_csv") =!= "")
            .write.mode("overwrite").parquet(s"$root/quarantine/epoch_id=$epochId")
          routed.where(col("violated_csv") === "").drop("violated_csv")
            .write.mode("overwrite").parquet(s"$root/clean/epoch_id=$epochId")
      }
      val q = s.read.parquet(s"$root/quarantine")
        .select(col("epoch_id"), lit("quarantine").as("status"),
          col("violated_csv"), col("event_id"))
      val c = s.read.parquet(s"$root/clean")
        .select(col("epoch_id"), lit("clean").as("status"),
          lit("").as("violated_csv"), col("event_id"))
      q.unionByName(c)
        .groupBy(col("epoch_id").cast("long").as("epoch"), col("status"),
          col("violated_csv"))
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("sum_ids"))
        .orderBy(col("epoch"), col("status"), col("violated_csv"))
    }),

    "q155_stream_expectations" -> ((s, d) => TempDirs.withScratch("graft_exp_") { root =>
      import graft.operators.Expectations._
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      StreamHarness.runBatches(s,
          (0 to 2).map(i => ev.where(pmod(col("event_id"), lit(3)) === i))) {
        (b, epochId) =>
          check(b, Seq(
              NotNull("user_id"),
              InRange("value", 0, 100),
              InSet("event_type", Seq("view", "click", "purchase"))))
            .withColumn("epoch", lit(epochId))
            .write.mode("overwrite").parquet(s"$root/audit/epoch_id=$epochId")
      }
      s.read.parquet(s"$root/audit")
        .select(col("epoch"), col("expectation"), col("n_checked"),
          col("n_violations"), col("pass"))
        .orderBy(col("epoch"), col("expectation"))
    }),
  )

  def oracleSql: Map[String, String] = Map(

    "q30_media_meta" ->
      s"""WITH $mediaCte,
         |r AS (SELECT *, 224.0 / CAST(greatest(width, height) AS DOUBLE) AS scale FROM m)
         |SELECT media_id, mime, n_bytes, width, height,
         | greatest(1, CAST(floor(CAST(width AS DOUBLE) * scale) AS BIGINT)) AS out_w,
         | greatest(1, CAST(floor(CAST(height AS DOUBLE) * scale) AS BIGINT)) AS out_h,
         | CASE WHEN mime <> 'image/png' THEN n_bytes * 10 END AS duration_ms
         |FROM r ORDER BY media_id""".stripMargin,

    "q32_media_features" ->
      """WITH b AS (
        | SELECT doc_id AS media_id,
        |  (['image/png', 'audio/wav', 'video/mp4'])[CAST(doc_id % 3 + 1 AS INT)] AS mime,
        |  hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        | FROM documents),
        |bl AS (
        | SELECT media_id, mime, n,
        |  list_transform(range(n), i ->
        |   (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS BIGINT), 1)) - 1) * 16
        |   + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS BIGINT), 1)) - 1)) AS bs
        | FROM b),
        |st AS (SELECT *, CAST(list_reduce(bs, (a, x) -> a + x) AS DOUBLE) / n AS mean FROM bl),
        |v AS (SELECT *,
        |  list_reduce(list_transform(bs, x -> (x - mean) * (x - mean)), (a, x) -> a + x) / n AS varr
        | FROM st)
        |SELECT media_id, mime,
        | round(CAST(CAST(n AS FLOAT) AS DOUBLE), 6) AS f0,
        | round(CAST(CAST(mean AS FLOAT) AS DOUBLE), 6) AS f1,
        | round(CAST(CAST(sqrt(varr) AS FLOAT) AS DOUBLE), 6) AS f2,
        | round(CAST(CAST(bs[1] AS FLOAT) AS DOUBLE), 6) AS f3,
        | round(CAST(CAST(bs[n] AS FLOAT) AS DOUBLE), 6) AS f4,
        | round(CAST(CAST(list_aggregate(bs, 'min') AS FLOAT) AS DOUBLE), 6) AS f5,
        | round(CAST(CAST(list_aggregate(bs, 'max') AS FLOAT) AS DOUBLE), 6) AS f6,
        | round(CAST(CAST(len(mime) AS FLOAT) AS DOUBLE), 6) AS f7
        |FROM v ORDER BY media_id""".stripMargin,

    // mirrors Multimodal.synthesizeImages' closed-form pixel pattern
    // (w=16+id%17, h=8+id%13, R=(x+id)%256, G=(y+2id)%256, B=(x+y+3id)%256)
    // and ImageIoDecoder's feature layout; the corrupt branch replays
    // StubDecoder's byte statistics over the deterministic dirty payload
    "q163_media_imageio" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id AS media_id,
        |         16 + doc_id % 17 AS w, 8 + doc_id % 13 AS h
        |  FROM documents WHERE doc_id % 97 <> 0),
        |px AS (
        |  SELECT media_id, w, h,
        |         (x + doc_id) % 256 AS r,
        |         (y + 2*doc_id) % 256 AS g,
        |         (x + y + 3*doc_id) % 256 AS b
        |  FROM d, LATERAL (SELECT unnest(range(w)) AS x) xs,
        |          LATERAL (SELECT unnest(range(h)) AS y) ys),
        |ok AS (
        |  SELECT media_id, 'image/png' AS mime,
        |    CAST(any_value(w) * 4096 AS BIGINT) AS f0_q,
        |    CAST(any_value(h) * 4096 AS BIGINT) AS f1_q,
        |    CAST(3 * 4096 AS BIGINT) AS f2_q,
        |    CAST(min(least(r, g, b)) * 4096 AS BIGINT) AS f3_q,
        |    CAST(max(greatest(r, g, b)) * 4096 AS BIGINT) AS f4_q,
        |    CAST(floor(CAST(CAST(CAST(sum(r) AS DOUBLE) / (any_value(w) * any_value(h)) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f5_q,
        |    CAST(floor(CAST(CAST(CAST(sum(g) AS DOUBLE) / (any_value(w) * any_value(h)) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f6_q,
        |    CAST(floor(CAST(CAST(CAST(sum(b) AS DOUBLE) / (any_value(w) * any_value(h)) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f7_q,
        |    CAST(4096 AS BIGINT) AS f8_q
        |  FROM px GROUP BY media_id),
        |cb AS (
        |  SELECT doc_id AS media_id, 'image/png' AS mime,
        |         hex(encode('corrupt:' || CAST(doc_id AS VARCHAR))) AS hx,
        |         octet_length(encode('corrupt:' || CAST(doc_id AS VARCHAR))) AS n
        |  FROM documents WHERE doc_id % 97 = 0),
        |cbl AS (
        |  SELECT media_id, mime, n, list_transform(range(n), i ->
        |    (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS BIGINT), 1)) - 1) * 16
        |    + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS BIGINT), 1)) - 1)) AS bs
        |  FROM cb),
        |cst AS (SELECT *, CAST(list_reduce(bs, (a, x) -> a + x) AS DOUBLE) / n AS mean FROM cbl),
        |cv AS (SELECT *,
        |  list_reduce(list_transform(bs, x -> (x - mean) * (x - mean)), (a, x) -> a + x) / n AS varr
        |  FROM cst),
        |bad AS (
        |  SELECT media_id, mime,
        |    CAST(floor(CAST(CAST(n AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f0_q,
        |    CAST(floor(CAST(CAST(mean AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f1_q,
        |    CAST(floor(CAST(CAST(sqrt(varr) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f2_q,
        |    CAST(floor(CAST(CAST(bs[1] AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f3_q,
        |    CAST(floor(CAST(CAST(bs[n] AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f4_q,
        |    CAST(floor(CAST(CAST(list_aggregate(bs, 'min') AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f5_q,
        |    CAST(floor(CAST(CAST(list_aggregate(bs, 'max') AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f6_q,
        |    CAST(floor(CAST(CAST(len(mime) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f7_q,
        |    CAST(0 AS BIGINT) AS f8_q
        |  FROM cv)
        |SELECT * FROM ok UNION ALL SELECT * FROM bad ORDER BY media_id""".stripMargin,

    "q165_media_wav" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id AS media_id,
        |         64 + doc_id % 97 AS n,
        |         8000 + (doc_id % 5) * 1000 AS rate,
        |         521 + 97 * (doc_id % 23) AS k
        |  FROM documents WHERE doc_id % 97 <> 0),
        |sm AS (
        |  SELECT media_id, n, rate,
        |         (t * k + doc_id) % 65536 - 32768 AS s
        |  FROM d, LATERAL (SELECT unnest(range(n)) AS t) ts),
        |ok AS (
        |  SELECT media_id, 'audio/wav' AS mime,
        |    CAST(any_value(rate) * 4096 AS BIGINT) AS f0_q,
        |    CAST(1 * 4096 AS BIGINT) AS f1_q,
        |    CAST(16 * 4096 AS BIGINT) AS f2_q,
        |    CAST(any_value(n) * 4096 AS BIGINT) AS f3_q,
        |    CAST(min(s) * 4096 AS BIGINT) AS f4_q,
        |    CAST(max(s) * 4096 AS BIGINT) AS f5_q,
        |    CAST(floor(CAST(CAST(CAST(sum(s) AS DOUBLE) / any_value(n) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f6_q,
        |    CAST(floor(CAST(CAST(sqrt(CAST(sum(s * s) AS DOUBLE) / any_value(n)) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f7_q,
        |    CAST(4096 AS BIGINT) AS f8_q
        |  FROM sm GROUP BY media_id),
        |cb AS (
        |  SELECT doc_id AS media_id, 'audio/wav' AS mime,
        |         hex(encode('notawav:' || CAST(doc_id AS VARCHAR))) AS hx,
        |         octet_length(encode('notawav:' || CAST(doc_id AS VARCHAR))) AS n
        |  FROM documents WHERE doc_id % 97 = 0),
        |cbl AS (
        |  SELECT media_id, mime, n, list_transform(range(n), i ->
        |    (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS BIGINT), 1)) - 1) * 16
        |    + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS BIGINT), 1)) - 1)) AS bs
        |  FROM cb),
        |cst AS (SELECT *, CAST(list_reduce(bs, (a, x) -> a + x) AS DOUBLE) / n AS mean FROM cbl),
        |cv AS (SELECT *,
        |  list_reduce(list_transform(bs, x -> (x - mean) * (x - mean)), (a, x) -> a + x) / n AS varr
        |  FROM cst),
        |bad AS (
        |  SELECT media_id, mime,
        |    CAST(floor(CAST(CAST(n AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f0_q,
        |    CAST(floor(CAST(CAST(mean AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f1_q,
        |    CAST(floor(CAST(CAST(sqrt(varr) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f2_q,
        |    CAST(floor(CAST(CAST(bs[1] AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f3_q,
        |    CAST(floor(CAST(CAST(bs[n] AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f4_q,
        |    CAST(floor(CAST(CAST(list_aggregate(bs, 'min') AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f5_q,
        |    CAST(floor(CAST(CAST(list_aggregate(bs, 'max') AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f6_q,
        |    CAST(floor(CAST(CAST(len(mime) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f7_q,
        |    CAST(0 AS BIGINT) AS f8_q
        |  FROM cv)
        |SELECT * FROM ok UNION ALL SELECT * FROM bad ORDER BY media_id""".stripMargin,

    // mirrors Multimodal.synthesizeMp4s' closed-form header fields
    // (w=160+(id%28)*16, h=96+(id%17)*16, ts=125*2^(id%4), dur=100+id%9000,
    // mdat=id%41 bytes, file=248+mdat) and Mp4MetaDecoder's all-integer
    // feature layout; duration_ms = dur*1000/ts is exact long arithmetic
    // (ts divides 1000 by construction). The corrupt branch replays
    // StubDecoder's byte statistics over the deterministic dirty payload.
    "q166_media_mp4_meta" ->
      """WITH ok AS (
        |  SELECT doc_id AS media_id, 'video/mp4' AS mime,
        |    (160 + (doc_id % 28) * 16) * 4096 AS f0_q,
        |    (96 + (doc_id % 17) * 16) * 4096 AS f1_q,
        |    (125 * (1 << CAST(doc_id % 4 AS INT))) * 4096 AS f2_q,
        |    (100 + doc_id % 9000) * 4096 AS f3_q,
        |    ((100 + doc_id % 9000) * 1000
        |      // (125 * (1 << CAST(doc_id % 4 AS INT)))) * 4096 AS f4_q,
        |    CAST(3 * 4096 AS BIGINT) AS f5_q,
        |    (doc_id % 41) * 4096 AS f6_q,
        |    (248 + doc_id % 41) * 4096 AS f7_q,
        |    CAST(4096 AS BIGINT) AS f8_q
        |  FROM documents WHERE doc_id % 97 <> 0),
        |cb AS (
        |  SELECT doc_id AS media_id, 'video/mp4' AS mime,
        |         hex(encode('notanmp4:' || CAST(doc_id AS VARCHAR))) AS hx,
        |         octet_length(encode('notanmp4:' || CAST(doc_id AS VARCHAR))) AS n
        |  FROM documents WHERE doc_id % 97 = 0),
        |cbl AS (
        |  SELECT media_id, mime, n, list_transform(range(n), i ->
        |    (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS BIGINT), 1)) - 1) * 16
        |    + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS BIGINT), 1)) - 1)) AS bs
        |  FROM cb),
        |cst AS (SELECT *, CAST(list_reduce(bs, (a, x) -> a + x) AS DOUBLE) / n AS mean FROM cbl),
        |cv AS (SELECT *,
        |  list_reduce(list_transform(bs, x -> (x - mean) * (x - mean)), (a, x) -> a + x) / n AS varr
        |  FROM cst),
        |bad AS (
        |  SELECT media_id, mime,
        |    CAST(floor(CAST(CAST(n AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f0_q,
        |    CAST(floor(CAST(CAST(mean AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f1_q,
        |    CAST(floor(CAST(CAST(sqrt(varr) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f2_q,
        |    CAST(floor(CAST(CAST(bs[1] AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f3_q,
        |    CAST(floor(CAST(CAST(bs[n] AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f4_q,
        |    CAST(floor(CAST(CAST(list_aggregate(bs, 'min') AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f5_q,
        |    CAST(floor(CAST(CAST(list_aggregate(bs, 'max') AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f6_q,
        |    CAST(floor(CAST(CAST(len(mime) AS REAL) AS DOUBLE) * 4096) AS BIGINT) AS f7_q,
        |    CAST(0 AS BIGINT) AS f8_q
        |  FROM cv)
        |SELECT * FROM ok UNION ALL SELECT * FROM bad ORDER BY media_id""".stripMargin,

    "q31_media_frames" ->
      s"""WITH $mediaCte,
         |vid AS (SELECT media_id, text, n_bytes, 1 + n_bytes % 7 AS n_frames
         |  FROM m WHERE mime = 'video/mp4')
         |SELECT media_id, frame_no,
         | md5(substr(text, CAST(frame_no * (n_bytes // n_frames) + 1 AS BIGINT), 32)) AS frame_fp
         |FROM (SELECT media_id, text, n_bytes, n_frames,
         |  unnest(range(n_frames)) AS frame_no FROM vid)
         |ORDER BY media_id, frame_no""".stripMargin,

    // the routed frame re-aggregated: per-expectation violating-row
    // counts (same predicates as q154's audit — the reconciliation the
    // round-9 ask names) plus the clean-row count; the unique flag's
    // row_number carries the gate's full tie-break so which duplicate
    // escapes is identical in both engines. Zero-violation expectations
    // emit no group in Spark, hence the n_rows > 0 filter.
    "q161_expectations_route" ->
      """WITH dk AS (SELECT DISTINCT o_orderkey FROM orders),
        |f AS (SELECT
        |  (l_orderkey IS NULL) AS v_nn,
        |  (l_orderkey IS NULL OR l_linenumber IS NULL OR
        |   row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |     ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice,
        |       l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate) > 1) AS v_uq,
        |  (l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50) AS v_rq,
        |  (l_extendedprice IS NULL OR l_extendedprice < 0 OR l_extendedprice > 1000) AS v_rp,
        |  (l_returnflag IS NULL OR l_returnflag NOT IN ('A', 'N', 'R')) AS v_rf,
        |  (l_linestatus IS NULL OR l_linestatus NOT IN ('O')) AS v_ls,
        |  (dk.o_orderkey IS NULL) AS v_ref
        | FROM lineitem l LEFT JOIN dk ON l.l_orderkey = dk.o_orderkey)
        |SELECT * FROM (
        | SELECT 'not_null_l_orderkey' AS expectation, count(*) FILTER (v_nn) AS n_rows FROM f
        | UNION ALL SELECT 'unique_l_orderkey_l_linenumber', count(*) FILTER (v_uq) FROM f
        | UNION ALL SELECT 'range_l_quantity', count(*) FILTER (v_rq) FROM f
        | UNION ALL SELECT 'range_l_extendedprice', count(*) FILTER (v_rp) FROM f
        | UNION ALL SELECT 'in_set_l_returnflag', count(*) FILTER (v_rf) FROM f
        | UNION ALL SELECT 'in_set_l_linestatus', count(*) FILTER (v_ls) FROM f
        | UNION ALL SELECT 'ref_l_orderkey', count(*) FILTER (v_ref) FROM f
        | UNION ALL SELECT '_clean', count(*) FILTER (NOT (v_nn OR v_uq OR v_rq
        |     OR v_rp OR v_rf OR v_ls OR v_ref)) FROM f
        |) WHERE n_rows > 0 ORDER BY expectation""".stripMargin,

    // route membership replayed per slice: the violation-set csv built in
    // the same sorted (alphabetical) order, clean = empty set; counts AND
    // id sums per (epoch, status, set) — exact membership, both stores
    "q162_stream_quarantine" ->
      """WITH b AS (SELECT event_id % 3 AS epoch, event_id,
        |  (user_id IS NULL) AS v_nn,
        |  (value IS NULL OR value < 0 OR value > 100) AS v_rv,
        |  (event_type IS NULL OR event_type NOT IN ('view', 'click', 'purchase')) AS v_is
        | FROM events),
        |r AS (SELECT epoch, event_id, concat_ws(',',
        |    CASE WHEN v_is THEN 'in_set_event_type' END,
        |    CASE WHEN v_nn THEN 'not_null_user_id' END,
        |    CASE WHEN v_rv THEN 'range_value' END) AS violated_csv
        | FROM b)
        |SELECT epoch,
        |  CASE WHEN violated_csv = '' THEN 'clean' ELSE 'quarantine' END AS status,
        |  violated_csv, count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM r GROUP BY 1, 2, 3 ORDER BY epoch, status, violated_csv""".stripMargin,

    // per-epoch slices recomputed with the same CASE predicates — the
    // ingest audit must equal the batch operator on every slice
    "q155_stream_expectations" ->
      """WITH b AS (SELECT event_id % 3 AS ep, user_id, event_type, value FROM events)
        |SELECT ep AS epoch, expectation, n_checked, n_violations,
        |  n_violations = 0 AS pass FROM (
        | SELECT ep, 'not_null_user_id' AS expectation, count(*) AS n_checked,
        |   CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        | FROM b GROUP BY ep
        | UNION ALL SELECT ep, 'range_value', count(*),
        |   CAST(sum(CASE WHEN value IS NULL OR value < 0 OR value > 100
        |     THEN 1 ELSE 0 END) AS BIGINT)
        | FROM b GROUP BY ep
        | UNION ALL SELECT ep, 'in_set_event_type', count(*),
        |   CAST(sum(CASE WHEN event_type IS NULL
        |     OR event_type NOT IN ('view', 'click', 'purchase')
        |     THEN 1 ELSE 0 END) AS BIGINT)
        | FROM b GROUP BY ep
        |) ORDER BY epoch, expectation""".stripMargin,

    // each audit row recomputed as written; violation semantics (NULL
    // violates range/enum/FK) mirrored in the CASE predicates
    "q154_expectations" ->
      """SELECT expectation, n_checked, n_violations, n_violations = 0 AS pass
        |FROM (
        | SELECT 'not_null_l_orderkey' AS expectation, count(*) AS n_checked,
        |   CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        | FROM lineitem
        | UNION ALL SELECT 'unique_l_orderkey_l_linenumber', count(*),
        |   count(*) - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber
        |     FROM lineitem WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL))
        | FROM lineitem
        | UNION ALL SELECT 'range_l_quantity', count(*),
        |   CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
        |     THEN 1 ELSE 0 END) AS BIGINT)
        | FROM lineitem
        | UNION ALL SELECT 'range_l_extendedprice', count(*),
        |   CAST(sum(CASE WHEN l_extendedprice IS NULL OR l_extendedprice < 0
        |     OR l_extendedprice > 1000 THEN 1 ELSE 0 END) AS BIGINT)
        | FROM lineitem
        | UNION ALL SELECT 'in_set_l_returnflag', count(*),
        |   CAST(sum(CASE WHEN l_returnflag IS NULL
        |     OR l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT)
        | FROM lineitem
        | UNION ALL SELECT 'in_set_l_linestatus', count(*),
        |   CAST(sum(CASE WHEN l_linestatus IS NULL
        |     OR l_linestatus NOT IN ('O') THEN 1 ELSE 0 END) AS BIGINT)
        | FROM lineitem
        | UNION ALL SELECT 'ref_l_orderkey', count(*),
        |   CAST(sum(CASE WHEN o._k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        | FROM lineitem l LEFT JOIN
        |   (SELECT DISTINCT o_orderkey AS _k FROM orders) o ON l.l_orderkey = o._k
        |) ORDER BY expectation""".stripMargin,

    // the epochs ≤ 3 changelog replayed in one window: (ep DESC, op DESC,
    // ord DESC NULLS LAST) — the store's cross-epoch merge; the
    // tombstone-only epoch 3 tops every %7 key (hidden), epoch 4 is
    // beyond the cap and never enters
    "q151_delta_time_travel" ->
      """WITH ch AS (SELECT event_id % 3 AS ep, user_id, value,
        |    epoch_us(ts) AS ts_us, 'u' AS op FROM events),
        |tmb AS (SELECT DISTINCT 3 AS ep, user_id, CAST(NULL AS DOUBLE) AS value,
        |    CAST(NULL AS BIGINT) AS ts_us, 'd' AS op FROM events WHERE user_id % 7 = 0),
        |al AS (SELECT * FROM ch UNION ALL SELECT * FROM tmb),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ep DESC, op DESC, ts_us DESC NULLS LAST) AS rn FROM al)
        |SELECT user_id, value, ts_us FROM r WHERE rn = 1 AND op <> 'd'
        |ORDER BY user_id""".stripMargin,

    // the net-change window over epochs (1, 3]: epoch-2 upserts for every
    // touched key, the %7 keys' epoch-3 tombstones on top as 'd' rows
    "q152_delta_cdf" ->
      """WITH ch AS (SELECT event_id % 3 AS ep, user_id, value,
        |    epoch_us(ts) AS ts_us, 'u' AS op FROM events),
        |tmb AS (SELECT DISTINCT 3 AS ep, user_id, CAST(NULL AS DOUBLE) AS value,
        |    CAST(NULL AS BIGINT) AS ts_us, 'd' AS op FROM events WHERE user_id % 7 = 0),
        |al AS (SELECT * FROM ch WHERE ep = 2 UNION ALL SELECT * FROM tmb),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ep DESC, op DESC, ts_us DESC NULLS LAST) AS rn FROM al)
        |SELECT user_id, value, ts_us, op FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    // same mime cycle, same md5-of-bytes fingerprint, same two-level
    // (mime, fp) → mime aggregation as Multimodal.dedupAccounting
    "q149_media_dedup_accounting" ->
      """WITH b AS (SELECT doc_id AS media_id,
        |   (['image/png', 'audio/wav', 'video/mp4'])[CAST(doc_id % 3 + 1 AS INT)] AS mime,
        |   md5(text) AS fp, octet_length(encode(text)) AS len FROM documents),
        |g AS (SELECT mime, fp, count(*) AS c, max(len) AS blen FROM b GROUP BY 1, 2)
        |SELECT mime, CAST(sum(c) AS BIGINT) AS n_blobs, count(*) AS n_distinct,
        |  CAST(sum(c * blen) AS BIGINT) AS bytes_total,
        |  CAST(sum(blen) AS BIGINT) AS bytes_distinct,
        |  round(1.0 - CAST(sum(blen) AS DOUBLE) / CAST(sum(c * blen) AS DOUBLE), 6)
        |    AS savings_frac
        |FROM g GROUP BY mime ORDER BY mime""".stripMargin,
  )
}
