package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables, TempDirs}
import graft.operators.{Dedup, Sketches}
import graft.streaming.{SketchStream, StreamHarness}

import OracleSupport._

/** Sketches + monitoring: HLL, histograms, CMS, PSI drift.
  *
  * One gate family of [[graft.SparkEntry]]: `queries` runs each operator
  * over the driver's parquet tables; `oracleSql` is the DuckDB twin the
  * driver hash-compares against (columns aliased identically on both
  * sides — the compare sorts columns by name before hashing). */
private[graft] object SketchGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Streaming histogram twin: per-group fixed-width bin counts as
    // transformWithState registers (counts ADD across micro-batches),
    // digested with the same interpolation — q82's oracle verbatim.
    "q91_hist_quantile_stream" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val Row2 = ev.agg(min(col("value")).cast("double"),
        max(col("value")).cast("double")).head()
      val (lo, hi) = (Row2.getDouble(0), Row2.getDouble(1))
      if (hi == lo) {
        // degenerate range: every quantile = lo — the same early return as
        // the batch guard (Sketches.histogramQuantiles); binOf would
        // divide by (hi − lo) and cast NaN
        ev.groupBy(col("event_type"))
          .agg(round(max(lit(lo)), 6).as("p50"), round(max(lit(lo)), 6).as("p90"),
            round(max(lit(lo)), 6).as("p99"))
          .orderBy(col("event_type"))
      } else {
        val obs = ev.select(col("event_type").as("g"),
            Sketches.binOf(col("value"), lo, hi, 128).cast("int").as("bin"),
            pmod(col("event_id"), lit(3)).as("slice"))
        // split on the source key so the same (g, bin) register keeps
        // ADDING across batches (see q83)
        val batches = (0 to 2).map(i => obs.where(col("slice") === i)
          .select(col("g"), col("bin")).as[SketchStream.BinRow])
        val snaps = StreamHarness.runFiles(s, batches)(ds =>
          SketchStream.histSketchStream(ds, 128).toDF())
        val counted = snaps.groupBy(col("_1").as("event_type"))
          .agg(max_by(col("_3"), col("_2")).as("counts"))
          .select(col("event_type"), posexplode(col("counts")).as(Seq("bin", "c")))
          .where(col("c") > 0)
          .select(col("event_type"), col("bin").cast("long").as("bin"), col("c"))
        Sketches.quantilesFromBinCounts(counted, "event_type", lo, hi, 128,
            Seq(0.5, 0.9, 0.99))
          .orderBy(col("event_type"))
      }
    }),

    // HLL distinct-count sketch (Sketches.hllDistinct): 64 md5-derived
    // registers per group, integer-exact digests + the standard estimate —
    // the constant-bytes-per-group answer to count_distinct at 100 TB.
    "q81_hll_distinct" -> ((s, d) =>
      Sketches.hllDistinct(
          Tables.lineitem(s, d),
          Seq(col("l_returnflag")),
          col("l_orderkey").cast("string"))
        .select(col("l_returnflag"), col("n_buckets_hit"), col("reg_sum"),
          col("est_distinct"))
        .orderBy(col("l_returnflag"))),

    // Histogram-CDF quantile sketch (Sketches.histogramQuantiles): q74's
    // percentiles from ONE mergeable 128-bin pass instead of a per-group
    // sort — exact same output shape so the two plans compare directly.
    "q82_hist_quantile" -> ((s, d) =>
      Sketches.histogramQuantiles(
          Tables.events(s, d), col("event_type"), "event_type",
          col("value"), 128, Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"))),

    // Streaming HLL twin (SketchStream.hllSketchStream): the SAME 64
    // registers as q81, but maintained as per-group transformWithState
    // state across 3 micro-batches (RocksDB) — constant bytes per key,
    // the 100 TB replacement for exact seen-key dedup state in the DWS
    // UU windows. Latest snapshot per group digested with the identical
    // hllStats math → gated against the identical DuckDB oracle.
    "q83_hll_distinct_stream" -> ((s, d) => {
      import s.implicits._
      val (bucket, rho) = Sketches.hllObs(col("l_orderkey").cast("string"))
      val obs = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("g"), bucket.as("bucket"), rho.as("rho"),
          pmod(col("l_orderkey"), lit(3)).as("slice"))
      // 3-way split on the SOURCE key, not the register fields: the same
      // (g, bucket) register must keep point-maxing across batches
      val batches = (0 to 2).map(i => obs.where(col("slice") === i)
        .select(col("g"), col("bucket"), col("rho")).as[SketchStream.HllRow])
      val snaps = StreamHarness.runFiles(s, batches)(ds =>
        SketchStream.hllSketchStream(ds).toDF())
      val latest = snaps.groupBy(col("_1").as("l_returnflag"))
        .agg(max_by(col("_3"), col("_2")).as("regs"))
      Sketches.hllStats(latest, col("regs"))
        .select(col("l_returnflag"), col("n_buckets_hit"), col("reg_sum"),
          col("est_distinct"))
        .orderBy(col("l_returnflag"))
    }),

    // Count-min sketch heavy hitters: 4×256 counter table over the token
    // stream, point estimates vs exact counts — est ≥ exact pinned in the
    // output (overcount column), sketch size O(d·w) at any corpus.
    "q145_cms_heavyhitters" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      graft.operators.Sketches.cmsEstimate(
          graft.operators.Sketches.cmsTable(toks, col("tok")),
          exact.select(col("tok")), col("tok"))
        .join(exact.select(col("tok").as("key"), col("exact")), Seq("key"))
        .select(col("key"), col("est"), col("exact"),
          (col("est") - col("exact")).as("overcount"))
        .orderBy(col("key"))
    }),

    // q145's CMS built ON INGEST: counter cells are additive, so the
    // per-key histogram state processor (q91's HistSketchProcessor, keyed
    // by hash row) IS a streaming count-min — no new operator, pure
    // composition. Three doc-hash micro-batches accrete the cells; the
    // latest snapshot per row must estimate exactly like the one-pass
    // batch table. Shares q145's oracle verbatim.
    "q146_cms_stream" -> ((s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d).select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      // all 4 row-hashes in one pass over the cached tokens (posexplode,
      // not a 4-way union) — mirrors the cmsTable one-pass shape
      val obs = toks.select(
          posexplode(array((0 until 4).map(j =>
            pmod(Dedup.md5Long(concat_ws(":", lit(j.toString), col("tok"))),
              lit(256L)).cast("int")): _*)).as(Seq("j", "bin")),
          pmod(col("doc_id"), lit(3)).as("slice"))
        .select(concat(lit("cms"), col("j")).as("g"), col("bin"), col("slice"))
      val batches = (0 to 2).map(i => obs.where(col("slice") === i)
        .select(col("g"), col("bin")).as[SketchStream.BinRow])
      val snaps = StreamHarness.runFiles(s, batches)(ds =>
        SketchStream.histSketchStream(ds, 256).toDF())
      val sketch = snaps.groupBy(col("_1").as("g"))
        .agg(max_by(col("_3"), col("_2")).as("cells"))
        .select(substring(col("g"), 4, 10).cast("int").as("j"),
          posexplode(col("cells")).as(Seq("b", "c")))
        .where(col("c") > 0)
        .select(col("j"), col("b").cast("long").as("b"), col("c"))
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      graft.operators.Sketches.cmsEstimate(sketch, exact.select(col("tok")), col("tok"))
        .join(exact.select(col("tok").as("key"), col("exact")), Seq("key"))
        .select(col("key"), col("est"), col("exact"),
          (col("est") - col("exact")).as("overcount"))
        .orderBy(col("key"))
    }),

    // Distribution-drift monitor: PSI of the value distribution per
    // event_type between the first and second half of the time range —
    // 32 global bins, add-1 smoothing over the full grid, DECIMAL-exact
    // term summation. One scan of the corpus; O(groups·bins) beyond it.
    "q148_drift_psi" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      Sketches.driftPsi(ev, col("event_type"), "event_type", col("value"),
          unix_micros(col("ts")) <= mid)
        .orderBy(col("event_type"))
    }),

    // ONLINE drift monitor: the events stream in three time-tercile
    // micro-batches; epoch 0 freezes the reference distribution, every
    // later epoch computes its per-event-type PSI against it under
    // FIXED global bin bounds (data-derived bounds would move the grid
    // under the comparison) — the production data-drift alarm, one audit
    // row per (epoch, group).
    "q157_stream_drift" -> ((s, d) => TempDirs.withScratch("graft_drift_") { root =>
      val ev = Tables.events(s, d).select(col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      val mm = ev.agg(min(col("ts_us")), max(col("ts_us")),
        min(col("value")).cast("double"), max(col("value")).cast("double")).head()
      val (tlo, thi) = (mm.getLong(0), mm.getLong(1))
      val (vlo, vhi) = (mm.getDouble(2), mm.getDouble(3))
      // integer `div`, not `/`: Column `/` is DOUBLE division and a
      // boundary row could floor differently from the oracle's exact `//`
      val terc = expr(s"((ts_us - ${tlo}L) * 3L) div ${thi - tlo + 1}L")
      StreamHarness.runBatches(s, (0 to 2).map(e =>
          ev.where(terc === e.toLong).select(col("event_type"), col("value")))) {
        (b, epochId) =>
          if (epochId == 0L)
            b.write.mode("overwrite").parquet(s"$root/ref")
          else {
            val ref = b.sparkSession.read.parquet(s"$root/ref")
            graft.operators.Sketches.driftPsiBounded(
                ref.withColumn("_ra", lit(true))
                  .unionByName(b.withColumn("_ra", lit(false))),
                col("event_type"), "event_type", col("value"), col("_ra"),
                vlo, vhi, 32)
              .withColumn("epoch", lit(epochId))
              .write.mode("overwrite").parquet(s"$root/audit/epoch_id=$epochId")
          }
      }
      s.read.parquet(s"$root/audit")
        .select(col("epoch"), col("event_type"), col("n_a"), col("n_b"), col("psi"))
        .orderBy(col("epoch"), col("event_type"))
    }),
  )

  def oracleSql: Map[String, String] = Map(

    // Replicates Sketches.hllDistinct register by register: same 60-bit
    // md5 hash, same bucket/rank split, same exact integer harmonic sum,
    // same single division (numerator literal injected from Scala).
    "q81_hll_distinct" -> hllDistinctOracle,

    // The streaming twin produces the SAME registers (point max is
    // order/batch independent), so the oracle is shared verbatim.
    "q83_hll_distinct_stream" -> hllDistinctOracle,

    // Replicates Sketches.histogramQuantiles float-for-float: global
    // [min,max] edges, identical bin index, rank position p·n, and
    // in-bin linear interpolation. Shared by the streaming register twin
    // (counts add across micro-batches → identical bin counts).
    "q82_hist_quantile" -> histQuantileOracle,
    "q91_hist_quantile_stream" -> histQuantileOracle,

    // the 4×256 counter table + min-over-rows point estimates, salted
    // row hashes replayed via the shared hexLong form
    "q145_cms_heavyhitters" -> cmsOracle,

    // the ingest-accreted CMS cells must estimate exactly like the
    // one-pass batch table — counters are additive, so feed slicing is
    // invisible; one shared oracle with q145
    "q146_cms_stream" -> cmsOracle,

    // same global [min,max] 32-bin grid, slice at the integer-µs time
    // midpoint, add-1 smoothing over the FULL grid (empty bins count),
    // per-term 6 dp round into DECIMAL before the sum
    "q148_drift_psi" ->
      """WITH mm AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid,
        |    CAST(min(value) AS DOUBLE) AS lo, CAST(max(value) AS DOUBLE) AS hi
        |  FROM events),
        |bb AS (SELECT event_type AS g, epoch_us(ts) <= mid AS sl,
        |    least(CAST(floor((CAST(value AS DOUBLE) - lo) / (hi - lo) * 32.0e0)
        |      AS BIGINT), 31) AS bin
        |  FROM events, mm),
        |cnt AS (SELECT g, sl, bin, count(*) AS c FROM bb GROUP BY 1, 2, 3),
        |tot AS (SELECT g, sl, sum(c) AS n FROM cnt GROUP BY 1, 2),
        |grid AS (SELECT g, t.bin FROM (SELECT DISTINCT g FROM bb) CROSS JOIN range(32) t(bin)),
        |j AS (SELECT grid.g, grid.bin,
        |    COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb,
        |    COALESCE(na.n, 0) AS na, COALESCE(nb.n, 0) AS nb
        |  FROM grid
        |  LEFT JOIN (SELECT g, bin, c FROM cnt WHERE sl) ca
        |    ON grid.g = ca.g AND grid.bin = ca.bin
        |  LEFT JOIN (SELECT g, bin, c FROM cnt WHERE NOT sl) cb
        |    ON grid.g = cb.g AND grid.bin = cb.bin
        |  LEFT JOIN (SELECT g, n FROM tot WHERE sl) na ON grid.g = na.g
        |  LEFT JOIN (SELECT g, n FROM tot WHERE NOT sl) nb ON grid.g = nb.g),
        |t2 AS (SELECT g, na, nb,
        |    CAST(round(
        |      (CAST(ca + 1 AS DOUBLE) / CAST(na + 32 AS DOUBLE)
        |        - CAST(cb + 1 AS DOUBLE) / CAST(nb + 32 AS DOUBLE))
        |      * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + 32 AS DOUBLE))
        |        / (CAST(cb + 1 AS DOUBLE) / CAST(nb + 32 AS DOUBLE))), 6)
        |      AS DECIMAL(28,6)) AS term
        |  FROM j)
        |SELECT g AS event_type,
        |  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  round(CAST(sum(term) AS DOUBLE), 6) AS psi
        |FROM t2 GROUP BY g ORDER BY event_type""".stripMargin,

    // q148's smoothed-grid PSI parameterized over the (ref=tercile-0,
    // epoch) pairs; global value bounds + exact integer terciling
    "q157_stream_drift" ->
      """WITH mm AS (SELECT epoch_us(min(ts)) AS tlo, epoch_us(max(ts)) AS thi,
        |    CAST(min(value) AS DOUBLE) AS lo, CAST(max(value) AS DOUBLE) AS hi
        |  FROM events),
        |base AS (SELECT event_type AS g, value,
        |    ((epoch_us(ts) - tlo) * 3) // (thi - tlo + 1) AS terc FROM events, mm),
        |eps AS (SELECT 1 AS ep UNION ALL SELECT 2),
        |bb AS (SELECT e.ep, b.g, (b.terc = 0) AS sl,
        |    least(CAST(floor((CAST(value AS DOUBLE) - lo) / (hi - lo) * 32.0e0)
        |      AS BIGINT), 31) AS bin
        |  FROM base b CROSS JOIN mm JOIN eps e ON b.terc = 0 OR b.terc = e.ep),
        |cnt AS (SELECT ep, g, sl, bin, count(*) AS c FROM bb GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT ep, g, sl, sum(c) AS n FROM cnt GROUP BY 1, 2, 3),
        |grid AS (SELECT gg.ep, gg.g, t.bin FROM
        |  (SELECT DISTINCT ep, g FROM bb) gg CROSS JOIN range(32) t(bin)),
        |j AS (SELECT grid.ep, grid.g, grid.bin,
        |    COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb,
        |    COALESCE(na.n, 0) AS na, COALESCE(nb.n, 0) AS nb
        |  FROM grid
        |  LEFT JOIN (SELECT ep, g, bin, c FROM cnt WHERE sl) ca
        |    ON grid.ep = ca.ep AND grid.g = ca.g AND grid.bin = ca.bin
        |  LEFT JOIN (SELECT ep, g, bin, c FROM cnt WHERE NOT sl) cb
        |    ON grid.ep = cb.ep AND grid.g = cb.g AND grid.bin = cb.bin
        |  LEFT JOIN (SELECT ep, g, n FROM tot WHERE sl) na
        |    ON grid.ep = na.ep AND grid.g = na.g
        |  LEFT JOIN (SELECT ep, g, n FROM tot WHERE NOT sl) nb
        |    ON grid.ep = nb.ep AND grid.g = nb.g),
        |t2 AS (SELECT ep, g, na, nb,
        |    CAST(round(
        |      (CAST(ca + 1 AS DOUBLE) / CAST(na + 32 AS DOUBLE)
        |        - CAST(cb + 1 AS DOUBLE) / CAST(nb + 32 AS DOUBLE))
        |      * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + 32 AS DOUBLE))
        |        / (CAST(cb + 1 AS DOUBLE) / CAST(nb + 32 AS DOUBLE))), 6)
        |      AS DECIMAL(28,6)) AS term
        |  FROM j)
        |SELECT CAST(ep AS BIGINT) AS epoch, g AS event_type,
        |  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  round(CAST(sum(term) AS DOUBLE), 6) AS psi
        |FROM t2 GROUP BY ep, g ORDER BY epoch, event_type""".stripMargin,
  )
}
