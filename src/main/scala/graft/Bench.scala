package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and emits ONE raw JSON line on stdout (plus the full
  * per-query map at bench_result.json) for the driver. A MAIN-leg query
  * failure aborts the run with a non-zero exit — a broken query must never
  * bench as a fast success.
  *
  * Accounting: the shared topic_db parse and the materialized
  * dwd_trade_order_pre_process wide table (the reference's two
  * Kafka-topic-equivalent hand-offs feeding ~15 pipeline gates) build in
  * a disclosed warmup phase, and `value` INCLUDES that warmup. The
  * warehouse-DAG settle (ONE cached `startFromFiles` run per sf dir —
  * ~17 streaming queries, the ods→dwd→dws production graph) is warmed
  * BEFORE the timed query loop and disclosed as its own `dag_charge_sec`
  * line (round-13 verdict #2: it was previously charged to whichever DAG
  * gate the Map iterated first, where its ±40 % JVM-history variance
  * dominated the main-leg total); the eleven DAG gates then time their
  * read-back cost like every other query. `value` = warmup + first-pass
  * queries; `dag_charge_sec` is separate, so all work stays disclosed:
  * total wall-clock ≈ value + dag_charge_sec + retry_total_sec + legs.
  *
  * Wall-clock budget (round-13 verdict #1: two straight rounds lost the
  * driver artifact to its ~1 h envelope — r13 was killed at rc 124 with
  * the one end-of-run JSON write never reached): the run self-budgets via
  * SPARK_GRAFT_BENCH_BUDGET_SEC (default 3000 s from JVM start, "off" to
  * disable). The MAIN leg always runs in full; each scale leg (and each
  * leg's DAG settle, and the candidate-pair diagnostic) is skipped — and
  * loudly disclosed in `skipped` + `leg_errors` — when the remaining
  * budget can't cover its last-known cost (constants below, from the r13
  * quiet-host emission). Within a leg, a query starting past the deadline
  * is skipped the same way. bench_result.json is REWRITTEN after the main
  * leg and again after every scale leg, so even a hard kill leaves the
  * completed legs' numbers on disk. Leg order is sf0.01 → ×10 → ×100
  * (round-17: cheapest first, then the ×10 leg whose DAG settle is the
  * one artifact the emission must always carry, then the ×100 doc-family
  * leg — so under a loaded host the sacrifice order is ×100 first,
  * never the settle; the r13 ×100-first order protected then-contested
  * exponents that have since been closed with quiet brackets).
  *
  * The stdout line carries total+warmup+slowest-N+exponents only, and is
  * SELF-LIMITING to 1800 bytes: the driver's tail buffer is a fixed 2000
  * characters (every BENCH_r*.json `tail` is exactly 2000 chars; r11's
  * rc-0/parsed-null shows the line front-clipped mid-key once the
  * accumulated exponent maps pushed it past the buffer). The line prints
  * LAST so only sbt's ~76-byte success trailer follows it; over-budget
  * detail degrades deterministically (down-leg map first) and the full
  * maps always live in bench_result.json.
  */
object Bench {
  private def r2(v: Double): Double = math.rint(v * 100) / 100

  /** Host load (1/5/15-min averages) — recorded into bench_result.json so
    * a reviewer can tell host-load variance from a code regression without
    * re-running (rounds 3 and 4 both produced ~1.8× phantom deltas on a
    * loaded host). Absent (empty) on non-Linux. */
  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  // ---- budget-gate skip thresholds: SELF-TUNING (round-14 verdict #2).
  // Each leg's measured wall-clock is persisted to bench_estimates.json
  // after it completes and read back (×1.15 headroom) as the next run's
  // estimate, so a leg whose cost drifts re-tunes its own skip threshold
  // without a code edit. The constants below are the FIRST-RUN fallbacks
  // only (r14 quiet-host emission) — deliberately round and slightly
  // conservative; a stale estimate fails SOFT (a leg skipped a round, or
  // a small overshoot the per-query deadline check bounds).
  private val EstSf2Leg = 170.0    // r14 quiet run: 7.5 warm + 59 queries + slack —
                                   // BASE only; the DAG settle is budgeted by its
                                   // own est("sf2_dag") term at the gate
  private val EstUp100Leg = 800.0  // r14 quiet run: 966 queries minus the dropped
                                   // q53 (316) plus q167 slack
  private val EstUpLegBase = 550.0 // r14 quiet run: 132 warm + 349 queries + slack
  private val EstUpDag = 660.0     // r15: the ×10 settle at the 48 MB chunk divisor
                                   // measured 614/647 s in-bench across the two
                                   // clean default-budget runs (518 s cold+quiet).
                                   // Was 887-950 at the old 8-chunk feed;
                                   // self-tunes after the first completed run.
  private val EstPrewarmDag = 90.0 // the sf0.001 codegen prewarm settle
  private val EstDiag = Map("main" -> 15.0, "sf2" -> 10.0, "up" -> 30.0, "up100" -> 120.0)

  private val EstFile = Paths.get("bench_estimates.json")

  /** Last-known per-leg costs from the previous run (flat {"key":sec}
    * JSON we both write and read — no JSON lib in scope). A corrupt or
    * absent file falls back to the constants above. */
  private def readEstimates(): Map[String, Double] =
    try {
      if (!Files.exists(EstFile)) Map.empty
      else """"([a-z0-9_]+)"\s*:\s*([0-9.]+)""".r
        .findAllMatchIn(new String(Files.readAllBytes(EstFile)))
        .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _)).toMap
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
    // Default budget 3000 s (round 15; was 2700): the r14 driver artifact
    // shows ~50 s of sbt overhead around the bench against the observed
    // 3600 s kill (r13, rc 124), and the per-item gates bound any
    // overshoot by one item's estimate error — worst wall ≈ budget +
    // ~15 % of one leg, comfortably under the envelope. The extra 300 s
    // is exactly the margin the ×10 DAG settle missed by (606 remaining
    // vs 650 estimated) in the first round-15 rehearsal.
    val budgetSec: Double = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC") match {
      case Some("off") => Double.MaxValue
      case Some(s) => s.toDoubleOption.getOrElse(3000.0)
      case None => 3000.0
    }
    def remainingSec: Double = budgetSec - elapsedSec
    // self-tuning skip thresholds (round-14 verdict #2): last-known costs
    // from the previous run's bench_estimates.json win over the constants,
    // with ×1.15 headroom so a threshold sits above its own measurement
    val persistedEst = readEstimates()
    val newEst = scala.collection.mutable.LinkedHashMap[String, Double]()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // estimate keys are SF-QUALIFIED: a dev smoke at sf0.01 must not
    // rewrite the thresholds the driver's sf0.1 run reads back
    val sfTag = Paths.get(sfDir).getFileName.toString
      .toLowerCase.replaceAll("[^a-z0-9]", "_")
    def est(key: String, fallback: Double): Double =
      persistedEst.get(s"${sfTag}_$key").map(_ * 1.15).getOrElse(fallback)
    def recordEst(key: String, sec: Double): Unit = {
      newEst(s"${sfTag}_$key") = sec
      val merged = (persistedEst ++ newEst).toSeq.sortBy(_._1)
      try Files.writeString(EstFile,
        merged.map { case (k, v) => "\"" + k + "\":" + r2(v) }
          .mkString("{", ",", "}") + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] estimate write failed: $e") }
    }
    /** All smaller sf-named sibling dirs of `dir`, ascending by SF. */
    def smallerSiblings(dir: String): Seq[String] = {
      val p = Paths.get(dir).toAbsolutePath
      val name = p.getFileName.toString
      val sf = if (name.startsWith("sf")) name.drop(2).toDoubleOption else None
      sf.toSeq.flatMap { primary =>
        val parent = p.getParent.toFile
        Option(parent.listFiles()).getOrElse(Array.empty)
          .filter(_.isDirectory).map(_.getName)
          .flatMap(n => if (n.startsWith("sf")) n.drop(2).toDoubleOption.map(n -> _) else None)
          .filter(_._2 < primary)
          .sortBy(_._2)
          .map { case (n, _) => s"${parent.getAbsolutePath}/$n" }
      }.filter(d => Files.isDirectory(Paths.get(d)))
    }
    val sibsAsc = smallerSiblings(sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val loadStart = loadavg()
    // FAIR scheduling with a FAIR default pool: the warehouse-DAG gate
    // runs ~17 streaming queries concurrently, and under FIFO a tiny
    // broadcast-exchange job can queue behind several million-row stages
    // until it blows spark.sql.broadcastTimeout — observed at the ×10
    // up-scale leg. FAIR round-robins task slots across runnable jobs, so
    // small jobs finish promptly regardless of queue depth; serial batch
    // gates run one job at a time and are unaffected. (A pool entry is
    // required: FAIR mode alone still schedules FIFO *within* the default
    // pool.) The raised broadcast timeout is belt-and-braces for the same
    // shape — local[32] contends the driver in ways a real cluster's
    // dedicated driver does not.
    val fairPools = Files.createTempFile("graft_fair_", ".xml")
    Files.writeString(fairPools,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="default">
        |    <schedulingMode>FAIR</schedulingMode>
        |    <weight>1</weight>
        |    <minShare>0</minShare>
        |  </pool>
        |</allocations>
        |""".stripMargin)
    fairPools.toFile.deleteOnExit() // Spark reads the file at scheduler
    // init; exit-time deletion is safe and stops one-file-per-run temp leaks
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", fairPools.toString)
      .config("spark.sql.broadcastTimeout", "3600")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    /** The shared-table warmup for one sf dir (the two Kafka-topic-
      * equivalent hand-offs + the two session-cached wide tables). */
    def warmShared(d: String): Double = {
      val w0 = System.nanoTime()
      graft.core.TopicDb(spark, d).count()
      graft.apps.GmallPipelines.tradeOrderPreProcessCached(spark, d).count()
      // documents + events feed ~40 gates each; their session-cached
      // persist (Tables.scala) materializes here so per-query times stop
      // carrying the first-touch scan of whichever gate runs first
      graft.core.Tables.documents(spark, d).count()
      graft.core.Tables.events(spark, d).count()
      (System.nanoTime() - w0) / 1e9
    }
    val warmup =
      try warmShared(sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] FATAL: shared-table warmup failed: $e")
        spark.stop()
        sys.exit(1)
      }
    System.err.println(f"[bench] warmup(shared tables) $warmup%8.2f s")
    /** The cached warehouse-DAG settle for one sf dir, timed: DagRun
      * memoizes per (JVM, dir), so the eleven DAG gates that follow read
      * its warehouse dirs in read-back time. */
    def warmDag(d: String): Double = {
      val t0 = System.nanoTime()
      graft.entry.GateSupport.DagRun(spark, d)
      (System.nanoTime() - t0) / 1e9
    }
    val skipped = scala.collection.mutable.ArrayBuffer[String]()
    // ---- streaming-codegen prewarm (round-14 verdict #1b): the first
    // streaming micro-batch in a cold JVM absorbs ~100 s of one-time
    // codegen/JIT, which is why the main DAG charge measured 101-259 s on
    // identical code with only JVM history differing (SCALING.md, both
    // rehearsals) — and that swing decided whether the ×10 settle fit the
    // budget. Settle the SAME warehouse DAG on the SMALLEST sf sibling
    // first: every streaming plan shape compiles against near-zero data,
    // so the timed main charge starts warm and deterministic. The sf2
    // leg's own dir (the LARGEST smaller sibling) is excluded — its
    // charge must stay a real measurement for the dag_charge exponent.
    // SPARK_GRAFT_PREWARM=off skips; skipped loudly when <2 siblings.
    // the dir the sf2 leg will settle (override included) — the prewarm
    // must never touch it: DagRun memoizes per (JVM, dir), so settling it
    // here would turn the sf2 dag_charge into a memoized ~0 s read-back
    // and poison both the exponent and the persisted sf2_dag estimate
    // compared NORMALIZED (same helper discipline as ensureCorpus): a
    // re-spelled SPARK_GRAFT_SF2_DIR (trailing slash, relative path) must
    // not bypass the guard and let the prewarm memoize the sf2 dir
    def normPath(p: String): String =
      Paths.get(p).toAbsolutePath.normalize.toString
    val sf2Target = sys.env.get("SPARK_GRAFT_SF2_DIR").orElse(sibsAsc.lastOption)
      .map(normPath)
    val prewarmSec: Option[Double] =
      if (sys.env.get("SPARK_GRAFT_PREWARM").contains("off")) None
      else sibsAsc match {
        case Seq(first, _, _*) if !sf2Target.contains(normPath(first)) =>
          val e = est("prewarm_dag", EstPrewarmDag)
          // reserve ~20 min for the mandatory main leg before spending
          // discretionary budget on the prewarm
          if (remainingSec < e + 1200) {
            val msg = f"prewarm_dag: skipped (budget: est $e%.0f s + main-leg reserve > remaining $remainingSec%.0f s)"
            System.err.println(s"[bench] $msg"); skipped += msg
            None
          } else try {
            val sec = warmDag(first)
            recordEst("prewarm_dag", sec)
            System.err.println(f"[bench] prewarm_dag($first) $sec%8.2f s")
            Some(sec)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] prewarm DAG failed (non-fatal): $e")
            skipped += s"prewarm_dag: ${e.getClass.getSimpleName}"
            None
          }
        case _ =>
          // disclosed like every other skip: the artifact must show the
          // main dag_charge was measured COLD (back in the JVM-history
          // swing regime) when no prewarm-safe sibling exists
          val msg = "prewarm_dag: skipped (no sf sibling below the sf2 leg's)"
          System.err.println(s"[bench] $msg"); skipped += msg
          None
      }
    val dagCharge =
      try warmDag(sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] FATAL: warehouse-DAG settle failed: $e")
        spark.stop()
        sys.exit(1)
      }
    System.err.println(f"[bench] dag_charge(main)    $dagCharge%8.2f s")
    def count(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Long = {
      val rows =
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] FATAL: $name failed: $e")
          spark.stop()
          sys.exit(1)
        }
      // every gate produces rows at every SF — an empty result is a broken
      // query that must not bench as a fast success
      if (rows == 0L) {
        System.err.println(s"[bench] FATAL: $name returned 0 rows")
        spark.stop()
        sys.exit(1)
      }
      rows
    }
    // band guards OFF: the bench's scale legs run band-guarded gates
    // (q53/q167/q168/q171) far outside their oracle SF band with no
    // oracle to diverge from — declared explicitly here (ADVICE r15:
    // the flag is a parameter, not a mutable global)
    val qs = SparkEntry.queriesFor(oracleRun = false) // one Map build
    val counts = scala.collection.mutable.Map[String, Long]()
    // derived retry-exclusion set (r18, VERDICT r17 #8): a query that
    // builds OR reads a main-session SessionCache entry created during the
    // timed loop is cache-backed — its retry would be cache-warm and
    // min(first, retry) would poison mainT with the asymmetry the payer
    // pinning exists to remove. Computed from actual cache traffic
    // (SessionCache.beginTimedPhase/sawSharedArtifact), so the set can
    // never drift from the code the way the old hand list could. Warmup-
    // built entries (topic_db, order_pre, documents, events) predate the
    // mark, so reads of them stay retryable — symmetric on both passes.
    graft.core.SessionCache.beginTimedPhase(spark)
    val cacheBacked = scala.collection.mutable.Set[String]()
    // name-sorted, NOT Map order: the SessionCache'd families (q179-182
    // BPE, q184/q185 KN) charge training to whichever member runs first,
    // and Map order can silently reshuffle when gates are added — sorted
    // order pins the payer (q179/q180/q184) to match the scale-leg
    // subsets, so per-query numbers stay comparable across rounds
    val results = qs.toSeq.sortBy(_._1).map { case (name, fn) =>
      graft.core.SessionCache.resetTouchedShared()
      val t0 = System.nanoTime()
      counts(name) = count(name, fn)
      val sec = (System.nanoTime() - t0) / 1e9
      if (graft.core.SessionCache.sawSharedArtifact) cacheBacked += name
      System.err.println(f"[bench] $name%-22s $sec%8.2f s")
      name -> sec
    }.toMap
    System.err.println(
      s"[bench] cache-backed (retry-excluded): ${cacheBacked.toSeq.sorted.mkString(",")}")
    // variance probe: anything slow on the first pass runs once more — a
    // query that re-measures fast was host noise, not a regression; both
    // samples land in bench_result.json for the reviewer, and the retry
    // pass's own wall-clock is disclosed as retry_total_sec (it is NOT in
    // `value`, which gates first-pass work only).
    //
    // BUDGET-GATED (round 16): the retry pass is discretionary — on a
    // loaded host a slow main leg triggers MORE retries exactly when the
    // budget is already tight, and 200+ s of retries then starved the
    // ×10 DAG settle (the one item the emission must always carry).
    // Reserve = last-known cost of everything still ahead (the planned
    // scale legs, their settles, their diags); retries stop — loudly,
    // worst-first retried first — once spending past the reserve would
    // start eating the legs. A quiet run never hits the gate (few
    // retries).
    //
    // PLANNED-LEG RESOLUTION (ADVICE r16): the reserve charges ONLY legs
    // that resolve through the SAME logic the leg runners use below — an
    // env-var-only check charged a phantom sf2 leg when no smaller
    // sibling directory existed (VAR=off was recognized, absence was
    // not), starving retries in exactly the configurations where they
    // are cheapest. The leg runners reuse these resolved values, so the
    // reserve and the legs can never disagree about what will run.
    val sf2Planned: Option[String] = sys.env.get("SPARK_GRAFT_SF2_DIR")
      .orElse(if (sys.env.get("SPARK_GRAFT_SF2").contains("off")) None
              else sibsAsc.lastOption)
      .filter(d => Files.isDirectory(Paths.get(d)))
    // up/up100 dirs may not exist yet (ensureCorpus generates them), so
    // "planned" is env-resolution only — no directory filter
    val upPlanned: Option[String] = sys.env.get("SPARK_GRAFT_UP_DIR")
      .orElse(if (sys.env.get("SPARK_GRAFT_UP").contains("off")) None
              else Some(new java.io.File("updata/sf1").getAbsolutePath))
    val up100Planned: Option[String] = sys.env.get("SPARK_GRAFT_UP100_DIR")
      .orElse(if (sys.env.get("SPARK_GRAFT_UP100").contains("off")) None
              else Some(new java.io.File("updata/sf10docs").getAbsolutePath))
    // FIT-AWARE reserve (r18, VERDICT r17 #5): the old reserve summed
    // EVERY planned leg's estimate, so a leg that could never fit anyway
    // (r17: up100 est 1546 s reserved, then skipped at its own gate)
    // starved all 16 retries for nothing. Simulate the legs in run order
    // (each leg's own budget gate skips it when its estimate exceeds what
    // remains), charging only the legs that fit — exactly the arithmetic
    // the leg gates themselves apply, so the reserve and the legs cannot
    // disagree about what will run.
    val plannedLegCosts: Seq[(String, Double)] =
      Seq("diag_main" -> est("diag_main", EstDiag("main"))) ++
      sf2Planned.map(_ => "sf2" -> (est("sf2_base", EstSf2Leg) +
        est("sf2_dag", 100.0) + est("diag_sf2", EstDiag("sf2")))) ++
      upPlanned.map(_ => "up" -> (est("up_base", EstUpLegBase) +
        est("up_dag", EstUpDag) + est("diag_up", EstDiag("up")))) ++
      up100Planned.map(_ => "up100" -> (est("up100_base", EstUp100Leg) +
        est("diag_up100", EstDiag("up100"))))
    val downstreamReserve = {
      val r = remainingSec
      var acc = 0.0
      plannedLegCosts.foreach { case (tag, c) =>
        if (acc + c <= r) acc += c
        else System.err.println(
          f"[bench] reserve: $tag (est $c%.0f s) won't fit the remaining " +
            f"budget anyway — not reserved, retries keep its share")
      }
      acc
    }
    // SessionCache-backed families never retry: their first pass may have
    // paid (q184/q179) or ridden (q185/q180-182) the shared training, but
    // a RETRY is always cache-warm, and min(first, warm-retry) would poison
    // mainT and every growth exponent with the cache asymmetry the payer
    // pinning exists to remove (round-16 review). Host-noise adjudication
    // for these rides the uncached gates measured around them. The set is
    // DERIVED from the timed loop's cache traffic above (VERDICT r17 #8).
    val r0 = System.nanoTime()
    val retrySkipped = scala.collection.mutable.ArrayBuffer[String]()
    val retries = results.filter(_._2 > 5.0).toSeq.sortBy(-_._2)
      .filterNot(r => cacheBacked.contains(r._1))
      .flatMap { case (name, first) =>
        if (remainingSec < downstreamReserve + first * 1.3) {
          retrySkipped += name
          None
        } else {
          val t0 = System.nanoTime()
          count(name, qs(name))
          val second = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] $name%-22s $second%8.2f s (retry; first $first%.2f)")
          Some(name -> second)
        }
      }.toMap
    if (retrySkipped.nonEmpty) {
      val msg = f"retries: ${retrySkipped.size} skipped (budget: downstream reserve ${downstreamReserve}%.0f s) " +
        retrySkipped.sorted.mkString("[", ",", "]")
      System.err.println(s"[bench] $msg"); skipped += msg
    }
    val retryTotal = (System.nanoTime() - r0) / 1e9
    // scale-sensitivity cross-check at the BENCH SF (correctness runs at
    // sf0.01 only): each streaming twin shares its batch form's oracle, so
    // their row counts — already computed by the timing pass — must agree
    // here too. A pair diverging only at sf0.1 is a real bug the sf0.01
    // gate can't see; fail the whole bench rather than report a time.
    val twins = Seq(
      "q09_hourly_window" -> "q34_stream_window",
      "q10_dedup_daily" -> "q28_stream_dedup",
      "q10_dedup_daily" -> "q38_stream_dedup_tws",
      "q11_dual_flag_uv" -> "q52_stream_dual_flag",
      "q12_visitor_repair" -> "q57_stream_visitor_repair",
      "q13_jump_detect" -> "q29_stream_jump",
      "q43_dwd_order_refund" -> "q94_lookup_join_shuffle",
      "q70_session_window" -> "q71_stream_session",
      "q76_dedup_groups" -> "q84_dedup_groups_star",
      "q80_topn_window" -> "q87_topn_window_stream",
      "q81_hll_distinct" -> "q83_hll_distinct_stream",
      "q82_hist_quantile" -> "q91_hist_quantile_stream",
      "q93_funnel" -> "q95_funnel_stream",
      // the contamination screens' bloom forms must be filter-invisible
      "q77_contamination" -> "q158_contamination_bloom",
      "q141_split_contamination" -> "q159_split_contamination_bloom",
      // the warehouse DAG's streamed outputs vs their batch/harness forms
      "q102_semdedup" -> "q118_stream_semdedup",
      "q102_semdedup" -> "q124_dag_semdedup",
      "q102_semdedup" -> "q160_semdedup_cadence",
      "q116_stream_paragraph_fuzzy" -> "q123_dag_paragraph_fuzzy",
      "q36_dwd_cart" -> "q113_dag_dwd_cart",
      "q37_dws_keyword" -> "q117_dag_dws_keyword",
      "q39_dwd_order_pre" -> "q115_dag_dwd_order_pre",
      "q40_dws_traffic" -> "q114_dag_dws_traffic",
      "q41_dwd_pay_success" -> "q119_dag_dwd_pay_success",
      "q42_dwd_cancel" -> "q120_dag_dwd_cancel",
      "q43_dwd_order_refund" -> "q121_dag_dwd_order_refund",
      "q44_dwd_refund_pay_suc" -> "q122_dag_dwd_refund_pay_suc")
    twins.foreach { case (a, b) =>
      if (counts(a) != counts(b)) {
        System.err.println(
          s"[bench] FATAL: twin row-count mismatch at $sfDir: $a=${counts(a)} vs $b=${counts(b)}")
        spark.stop()
        sys.exit(1)
      }
    }
    val rowcheck = s"pass(${twins.size} twin pairs)"
    System.err.println(s"[bench] sf rowcheck: $rowcheck")
    // the eleven gates reading the cached DAG warehouse: used by the
    // scale legs' budget gate (skipping a leg's DAG settle must also skip
    // the gates that would silently re-trigger it)
    val dagGates = Set("q110_dag_dim_store", "q113_dag_dwd_cart",
      "q114_dag_dws_traffic", "q115_dag_dwd_order_pre", "q117_dag_dws_keyword",
      "q119_dag_dwd_pay_success", "q120_dag_dwd_cancel",
      "q121_dag_dwd_order_refund", "q122_dag_dwd_refund_pay_suc",
      "q123_dag_paragraph_fuzzy", "q124_dag_semdedup")
    /** A gate's host-noise-adjudicated main-leg time (the DAG settle is
      * pre-warmed, so every gate's retry is a true re-measure now). */
    def mainT(name: String): Double =
      math.min(results(name), retries.getOrElse(name, results(name)))
    // q21 candidate-pair counts per leg (round-11 verdict #3: separate
    // PLAN growth from memory pressure — if these are linear in the
    // factor, a superlinear wall-clock exponent is shuffle/host, not the
    // pair space). Replica token-suffixing makes these exactly linear by
    // construction, so this line is the standing proof — and the reason
    // the uncapped q21 no longer re-runs at ×100 (see up100Excluded). At
    // ×100 this aggregate is itself a full shuffle of the shingle index
    // (round-13 advisor), so each leg's diag is timed into diag_sec and
    // budget-gated like any other leg work. Null-safe: an empty documents
    // table sums to NULL, which must read as 0 pairs, not an NPE.
    def candPairs(d: String): Long = {
      import org.apache.spark.sql.functions.{array_distinct, col, explode, expr, lit, sum}
      val v = graft.core.Tables.documents(spark, d)
        .select(explode(array_distinct(
          graft.functions.TextFunctions.shingles(col("text"), 3))).as("sh"))
        .groupBy(col("sh")).agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
        .agg(sum(expr("c*(c-1) div 2"))).head().getAs[java.lang.Long](0)
      if (v == null) 0L else v.longValue()
    }
    // ---- incremental emission state: bench_result.json is rewritten
    // after the main leg and after every scale leg / diagnostic, so a
    // driver kill preserves everything measured so far (round-13 lost a
    // whole run's numbers to one end-of-run write that never happened).
    val legJsons = scala.collection.mutable.LinkedHashMap[String, String]()
    // growth maps + leg errors also kept as state (not re-parsed from the
    // rendered JSON) for the stdout line
    val growthByLeg = scala.collection.mutable.LinkedHashMap[String, String]()
    val legDirs = scala.collection.mutable.LinkedHashMap[String, String]()
    val allLegErrs = scala.collection.mutable.ArrayBuffer[String]()
    val diagPairs = scala.collection.mutable.LinkedHashMap[String, Long]()
    val diagSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val legLoads = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val queriesOnly = results.values.sum
    val total = queriesOnly + warmup
    // best_of_2_sec: warmup + Σ min(first pass, retry) — the host-noise-
    // adjudicated comparison as a first-class number, so round-over-round
    // review stops doing manual retry arithmetic over retry_sec.
    val bestOf2 = warmup + results.keys.map(mainT).sum
    def qJson(qs: Iterable[(String, Double)]): String =
      qs.map { case (k, v) => "\"" + k + "\":" + r2(v) }.mkString("{", ",", "}")
    def sJson(ss: Seq[String]): String =
      ss.map(s => "\"" + s.replace("\"", "'") + "\"").mkString("[", ",", "]")
    def common =
      s""""metric":"total","value":${r2(total)},"unit":"sec","warmup_sec":${r2(warmup)},""" +
        s""""dag_charge_sec":${r2(dagCharge)},""" +
        s""""queries_only_sec":${r2(queriesOnly)},"best_of_2_sec":${r2(bestOf2)},""" +
        s""""n_queries":${results.size},""" +
        s""""budget_sec":${if (budgetSec == Double.MaxValue) "\"off\"" else r2(budgetSec)},""" +
        s""""sf_twin_rowcheck":"$rowcheck""""
    def emitResultFile(): Unit = {
      val legs = legJsons.values.mkString
      val diag = if (diagPairs.isEmpty) "" else
        s""","diag_q21_cand_pairs":${diagPairs.map { case (t, n) => "\"" + t + "\":" + n }
          .mkString("{", ",", "}")},"diag_sec":${qJson(diagSecs)}"""
      val skJson = if (skipped.isEmpty) "" else s""","skipped":${sJson(skipped.toSeq)}"""
      val legLoadJson = if (legLoads.isEmpty) "" else
        s""","leg_loadavg":${legLoads.map { case (t, l) => "\"" + t + "\":\"" + l + "\"" }
          .mkString("{", ",", "}")}"""
      val pwJson = prewarmSec.map(s => s""","prewarm_dag_sec":${r2(s)}""").getOrElse("")
      val full =
        s"""{$common$pwJson,"loadavg_start":"$loadStart","loadavg_end":"${loadavg()}",""" +
          s""""elapsed_sec":${r2(elapsedSec)},""" +
          s""""retry_total_sec":${r2(retryTotal)},"retry_sec":${qJson(retries)},""" +
          s""""queries":${qJson(results)}$legs$diag$skJson$legLoadJson,"sf":"$sfDir"}"""
      Files.writeString(Paths.get("bench_result.json"), full + "\n")
    }
    emitResultFile() // main leg is on disk before any scale leg starts
    /** The per-leg diagnostic, budget-gated and timed. */
    def runDiag(tag: String, d: String): Unit = {
      val e = est(s"diag_$tag", EstDiag.getOrElse(tag, 60.0))
      if (remainingSec < e) {
        val msg = f"diag_$tag: skipped (budget: est ${e}%.0f s > remaining ${remainingSec}%.0f s)"
        System.err.println(s"[bench] $msg"); skipped += msg
      } else {
        val t0 = System.nanoTime()
        try {
          diagPairs(tag) = candPairs(d)
          diagSecs(tag) = (System.nanoTime() - t0) / 1e9
          recordEst(s"diag_$tag", diagSecs(tag))
          System.err.println(f"[bench] diag($tag cand pairs) ${diagSecs(tag)}%8.2f s = ${diagPairs(tag)}")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] diag_$tag failed: $e")
          skipped += s"diag_$tag: ${e.getClass.getSimpleName}"
        }
      }
      emitResultFile()
    }
    runDiag("main", sfDir)
    val sf2Subset = Seq(
      "q01_pricing_summary", "q17_dedup_exact", "q18_minhash_lsh",
      "q19_simhash_sig", "q21_jaccard_pairs", "q23_embed_neardup",
      "q24_ann_topk", "q44_dwd_refund_pay_suc", "q63_dws_cart_uu",
      "q80_topn_window", "q101_paragraph_dedup", "q102_semdedup",
      "q116_stream_paragraph_fuzzy", "q118_stream_semdedup",
      "q122_dag_dwd_refund_pay_suc", "q123_dag_paragraph_fuzzy",
      "q124_dag_semdedup", "q125_stream_retention_dedup",
      // newer gates with scale-sensitive shapes: gram-grain contamination
      // join, CC-chain funnel, one-pass CMS, token chunking
      "q141_split_contamination", "q139_token_chunk",
      "q145_cms_heavyhitters", "q153_curation_funnel",
      // round-10 additions: the bloom-screened contamination and the
      // recenter-cadence ingest (2 refits O(store) — amortized-O(1) claim)
      "q159_split_contamination_bloom", "q160_semdedup_cadence",
      // round-11 ask #3: the PRODUCTION capped-Jaccard path measured on
      // the same legs as the uncapped q21 it stop-lists
      "q56_jaccard_capped",
      // round-14 ask #4: the capped SemDeDup path rides the same legs as
      // the uncapped q102 it bounds (its cap·N+N pair space is strictly
      // below q102's measured 0.65-exponent cell cliques, so the ×100
      // slot stays with q102 — the capped form's scale receipt is the
      // ×10 leg + the q171 derived-cap twin at ×100)
      "q169_semdedup_capped",
      // round-15: the single-shuffle sessionization — its growth rides
      // the events table (scales with sf), and the exponent certifies
      // the exchange-reuse claim (a second shuffle would read clearly
      // superlinear under the per-key window sort)
      "q172_sessionize",
      // round-16: the profile-DERIVED caps ride the same legs as the
      // constant-cap twins they replace (q176 with q18's family, q177
      // with q56's), and the BPE chain's two consumers measure the
      // fixed-round training + corpus-join encode at scale (q180
      // accounting, q182 subword chunking)
      "q176_lsh_autocap", "q177_jaccard_autocap",
      "q180_bpe_token_counts", "q182_bpe_chunk",
      // round-16 continued: the KN bigram chain and the waterfilling
      // epoch plan (per-source aggregate + the grouped range-partitioned
      // prefix cut; the solve itself is source-grain metadata). q184
      // precedes q185 ON EVERY LEG so the SessionCache'd training is
      // paid by the same gate everywhere — without it the main leg's
      // q185 reads the cached scoring pass while a leg without q184
      // retrains, and the growth exponent measures the cache asymmetry
      // instead of the operator (the rehearsal-#7 1.26 artifact)
      "q184_kn_bigram_model", "q185_kn_xent", "q187_epoch_plan",
      // round-17: the tokenizer-grade BPE chain (q190 trains on the
      // constant doc_id < 500 sample and PAYS the SessionCache —
      // listed before q191 so the payer is pinned on every leg; q191
      // measures the linear replay encode) and the trigram KN chain
      // (q194 pays the training, q195 is the scoring join — the
      // type-table-growth measurement VERDICT r16 #5 asked for)
      "q190_bpe1k_merges", "q191_bpe1k_token_counts",
      "q194_kn3_model", "q195_kn3_xent",
      // round-17: the CART distillation — q198 pays the SessionCache'd
      // level-wise training (bounded: the hash-gated seed slice; the
      // ×10 doc family's ~20k-row seed stays well under the s³ < 2^53
      // guard), q199 measures the zero-shuffle nested-CASE scoring the
      // distillation exists for (linear in docs by construction —
      // that's the claim the leg certifies). Not on the ×100 doc
      // family: its ~200k-row seed sits AT the exactness guard, and a
      // guard-refusal there would be the operator working as designed,
      // not a measurement
      "q198_cart_distill_model", "q199_cart_distill_score")
    val sf2Twins = Seq(
      "q102_semdedup" -> "q118_stream_semdedup",
      "q102_semdedup" -> "q124_dag_semdedup",
      "q102_semdedup" -> "q160_semdedup_cadence",
      "q116_stream_paragraph_fuzzy" -> "q123_dag_paragraph_fuzzy",
      "q141_split_contamination" -> "q159_split_contamination_bloom",
      "q44_dwd_refund_pay_suc" -> "q122_dag_dwd_refund_pay_suc")
    /** One scale leg: warm the shared tables at `d`, settle the DAG if the
      * subset reads it (skipped with disclosure when the budget can't
      * cover `dagEst` — the DAG gates are then dropped from the subset so
      * a read never silently re-triggers the settle), run the subset with
      * a per-query deadline check, verify the twin pairs present. Returns
      * (times, warmup, dagCharge, errors). Scale-leg failures are
      * RECORDED, not fatal: the main-leg emission (the driver's headline)
      * must survive a scale-leg query blowing up at an SF no correctness
      * gate covers — the error list rides the result JSON so a skipped
      * leg query is loudly disclosed, never silently absent. (Main-leg
      * failures stay fatal above.) */
    def runLeg(d: String, subset: Seq[String], tag: String,
        warmLeg: String => Double = warmShared, dagEst: Double = 0.0)
        : (Map[String, Double], Double, Option[Double], Seq[String]) = {
      legLoads += (s"${tag}_start" -> loadavg())
      // drop the previous leg's persisted tables before warming this one:
      // legs never revisit an earlier dir, and keeping three dirs' caches
      // resident starved the heap at the ×10 leg (see SessionCache)
      graft.core.SessionCache.evictOwned(spark)
      val errs = scala.collection.mutable.ArrayBuffer[String]()
      val warm = try { warmLeg(d) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] LEG ERROR: warmup failed at $d: $e")
          errs += s"warmup: ${e.getClass.getSimpleName}"
          return (Map.empty, 0.0, None, errs.toSeq)
        }
      System.err.println(f"[bench] warmup($tag shared)  $warm%8.2f s")
      val cs = scala.collection.mutable.Map[String, Long]()
      // `reserve` protects the leg's DAG settle from its own base
      // queries (round-17): the settle runs LAST in the leg, so without
      // a reserve the base pass could spend down to the settle's
      // estimate and skip the one item the emission must always carry.
      def runQueries(names: Seq[String], reserve: Double = 0.0): Map[String, Double] =
        names.flatMap { name =>
        if (remainingSec <= reserve) {
          val msg =
            if (reserve > 0) f"$name: skipped (budget: settle reserve $reserve%.0f s)"
            else s"$name: skipped (budget exhausted)"
          System.err.println(s"[bench] $msg"); errs += msg
          None
        } else {
          val t0 = System.nanoTime()
          try {
            val rows = qs(name)(spark, d).count()
            if (rows == 0L) {
              System.err.println(s"[bench] LEG ERROR: $name returned 0 rows at $d")
              errs += s"$name: 0 rows"
              None
            } else {
              cs(name) = rows
              val sec = (System.nanoTime() - t0) / 1e9
              System.err.println(f"[bench] $name%-22s $sec%8.2f s ($tag)")
              Some(name -> sec)
            }
          } catch { case e: Throwable =>
            System.err.println(s"[bench] LEG ERROR: $name failed at $d: $e")
            errs += s"$name: ${e.getClass.getSimpleName}"
            None
          }
        }
      }.toMap
      // base queries FIRST, the DAG settle + its gates LAST: the settle
      // is the leg's single largest item (~650-900 s at ×10) and its
      // budget check must see the TRUE remaining budget — the old order
      // could spend the whole leg budget on the settle and then skip the
      // ~20 cheap queries whose exponents the leg exists to measure
      val (dagPart, basePart) = subset.partition(dagGates)
      // the settle's estimate is RESERVED during the base pass: base
      // queries can run long on a loaded host, and without the reserve
      // they spend the settle's budget before its own gate ever checks
      val resBase = runQueries(basePart,
        reserve = if (dagPart.nonEmpty) dagEst else 0.0)
      val (legDag, resDag) =
        if (dagPart.isEmpty) (None, Map.empty[String, Double])
        else if (remainingSec < dagEst) {
          val msg = f"${tag}_dag: skipped with its ${dagPart.size} gates " +
            f"(budget: est ${dagEst}%.0f s > remaining ${remainingSec}%.0f s)"
          System.err.println(s"[bench] $msg")
          errs += msg
          (None, Map.empty[String, Double])
        } else {
          try {
            val c = warmDag(d)
            System.err.println(f"[bench] dag_charge($tag)   $c%8.2f s")
            (Some(c), runQueries(dagPart))
          } catch { case e: Throwable =>
            System.err.println(s"[bench] LEG ERROR: DAG settle failed at $d: $e")
            errs += s"${tag}_dag: ${e.getClass.getSimpleName}"
            (None, Map.empty[String, Double])
          }
        }
      val res = resBase ++ resDag
      val pairs = sf2Twins.filter { case (a, b) => cs.contains(a) && cs.contains(b) }
      val bad = pairs.filter { case (a, b) => cs(a) != cs(b) }
      bad.foreach { case (a, b) =>
        System.err.println(
          s"[bench] LEG ERROR: twin row-count mismatch at $d: $a=${cs(a)} vs $b=${cs(b)}")
        errs += s"twin $a/$b: ${cs(a)}!=${cs(b)}"
      }
      System.err.println(
        s"[bench] $tag rowcheck: ${if (bad.isEmpty) "pass" else "FAIL"}(${pairs.size} twin pairs)")
      legLoads += (s"${tag}_end" -> loadavg())
      (res, warm, legDag, errs.toSeq)
    }
    /** A leg's measured wall-clock recorded as the next run's estimate:
      * base (everything but the DAG settle + its gates) and dag recorded
      * separately, since the budget gates them separately. A leg that was
      * TRUNCATED — by an in-leg budget skip OR by a query/warmup failure
      * (a crashed query's missing runtime shortens the wall just like a
      * skip) — records nothing: its wall-clock is not the leg's cost and
      * would ratchet the threshold down, re-creating exactly the mid-leg
      * budget exhaustion self-tuning exists to avoid. ONLY the DAG
      * budget-SKIP message is exempt for the BASE recording: the base
      * part completed in full, and withholding it would leave the base
      * threshold stale in exactly the budget-tight runs that need it. A
      * CRASHED settle (same "${tag}_dag:" prefix, different message) is
      * NOT exempt — its partial elapsed seconds sit inside legSec with
      * dag=None, so recording would inflate the base estimate (ADVICE
      * r15). */
    def recordLegEst(tag: String, legSec: Double, res: Map[String, Double],
        dag: Option[Double], errs: Seq[String]): Unit = {
      if (errs.exists(e => !e.startsWith(s"${tag}_dag: skipped")))
        return
      val dagTotal = dag.getOrElse(0.0) +
        res.collect { case (n, s) if dagGates(n) => s }.sum
      recordEst(s"${tag}_base", legSec - dagTotal)
      dag.foreach(_ => recordEst(s"${tag}_dag", dagTotal))
    }
    /** Leg-level budget gate: returns true (and discloses) when the leg
      * must be skipped because its last-known cost exceeds the budget. */
    def budgetSkip(tag: String, est: Double): Boolean =
      if (remainingSec >= est) false
      else {
        val msg = f"$tag: leg skipped (budget: est ${est}%.0f s > remaining ${remainingSec}%.0f s)"
        System.err.println(s"[bench] $msg"); skipped += msg
        true
      }
    // ---- DOWN leg (next smaller sibling; exponent = log(t1/t2)/log(r))
    val sf2Dir = sf2Planned
      .filterNot(_ => budgetSkip("sf2", est("sf2_base", EstSf2Leg) +
        est("sf2_dag", 100.0)))
    sf2Dir.foreach { d2 =>
      val legT0 = System.nanoTime()
      val (res2, warm2, dag2, errs2) = runLeg(d2, sf2Subset, "sf2",
        dagEst = est("sf2_dag", 100.0))
      recordLegEst("sf2", (System.nanoTime() - legT0) / 1e9, res2, dag2, errs2)
      val ratio = {
        val sfOf = (p: String) =>
          Paths.get(p).getFileName.toString.drop(2).toDoubleOption
        (sfOf(sfDir), sfOf(d2)) match {
          case (Some(a), Some(b)) if b > 0 => a / b
          case _ => 10.0
        }
      }
      val growth = res2.collect { case (name, t2) if t2 > 0 =>
        name -> r2(math.log(mainT(name) / t2) / math.log(ratio))
      } ++ dag2.filter(_ > 0).map(c =>
        "dag_charge" -> r2(math.log(dagCharge / c) / math.log(ratio)))
      growthByLeg("sf2") = qJson(growth)
      legDirs("sf2") = d2
      allLegErrs ++= errs2
      legJsons("sf2") =
        s""","sf2":"$d2","sf2_warmup_sec":${r2(warm2)}""" +
          dag2.map(c => s""","sf2_dag_charge_sec":${r2(c)}""").getOrElse("") +
          s""","queries_sf2":${qJson(res2)},"growth_exponents":${qJson(growth)},""" +
          s""""sf2_errors":${sJson(errs2)}"""
      emitResultFile()
      // ADVICE r14: the pair counter is documented 'per leg' — run it at
      // the down leg too (sub-second at sf0.01)
      runDiag("sf2", d2)
    }
    // Shared freshness-check + generate-on-miss for the scale-leg corpora.
    // Path spellings are normalized (relative vs absolute vs trailing
    // slash) so a re-spelled dir never triggers a full regeneration; a
    // generation failure skips the leg loudly rather than failing the run.
    def ensureCorpus(dir: String, factor: Int, label: String,
        gen: => Unit): (Option[String], Double) = {
      def norm(p: String) =
        java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
      val fresh = graft.tools.GenScale.manifestInfo(spark, dir)
        .exists { case (src, f) => norm(src) == norm(sfDir) && f == factor }
      if (fresh) (Some(dir), 0.0)
      else {
        System.err.println(s"[bench] generating ×$factor $label corpus at $dir")
        val t0 = System.nanoTime()
        try { gen; (Some(dir), (System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $label generation failed ($e) — skipping leg")
          (None, (System.nanoTime() - t0) / 1e9)
        }
      }
    }
    val upFactor = 10
    val up100Factor = 100
    // ---- LEG PRIORITY (round-17, VERDICT r16 #4): the ×10 UP leg — and
    // with it the ×10 warehouse-DAG settle — now runs BEFORE the ×100
    // doc-family leg. The r13 order (×100 first) protected then-contested
    // doc-family exponents; those are closed (q53 excluded with a
    // standing receipt, q56/q170/q54 quiet brackets recorded in
    // SCALING.md r15/r16), while the r16 driver run showed the loaded-
    // host failure mode: every estimate self-tuned upward and the ONE
    // artifact the emission must always carry — the ×10 settle — was the
    // item left standing when the budget ran out. With the ×10 leg
    // physically first (plus the in-leg settle reserve above), the
    // sacrifice order under pressure is provably: ×100 leg first, then
    // ×10 base queries, and the settle last.
    //
    // ---- ×10 UP leg (round-9 ask #1): a ×10 corpus GENERATED from the
    // bench sf dir (manifest-guarded — regenerated only when absent or
    // built from a different source), exponent = log(tUp/t1)/log(factor).
    // The two quadratic exact BASELINES are excluded by design (documented
    // all-pairs controls whose exponent 2 is known and whose up-scale
    // cost is ~100× for that known answer); their scale-path variants
    // (q102 cells, q18 bands, q19/q21 buckets, q159 bloom) stay in.
    val upExcluded = Seq("q23_embed_neardup", "q24_ann_topk")
    val upSubset = sf2Subset.filterNot(upExcluded.contains)
    val upRequested = upPlanned
      .filterNot(_ => budgetSkip("up", est("up_base", EstUpLegBase)))
    val (upDir, upGenSec) = upRequested match {
      case None => (None, 0.0)
      case Some(d) => ensureCorpus(d, upFactor, "up-scale",
        graft.tools.GenScale.generate(spark, sfDir, d, upFactor))
    }
    upDir.foreach { d =>
      val legT0 = System.nanoTime()
      val (resU, warmU, dagU, errsU) = runLeg(d, upSubset, "up",
        dagEst = est("up_dag", EstUpDag))
      recordLegEst("up", (System.nanoTime() - legT0) / 1e9, resU, dagU, errsU)
      val growth = resU.collect { case (name, tU) if mainT(name) > 0 =>
        name -> r2(math.log(tU / mainT(name)) / math.log(upFactor.toDouble))
      } ++ dagU.filter(_ => dagCharge > 0).map(c =>
        "dag_charge" -> r2(math.log(c / dagCharge) / math.log(upFactor.toDouble)))
      growthByLeg("up") = qJson(growth)
      allLegErrs ++= errsU
      legJsons("up") =
        s""","up":"$d","up_factor":$upFactor,"up_gen_sec":${r2(upGenSec)},""" +
          s""""up_warmup_sec":${r2(warmU)}""" +
          dagU.map(c => s""","up_dag_charge_sec":${r2(c)}""").getOrElse("") +
          s""","queries_up":${qJson(resU)},""" +
          s""""up_growth_exponents":${qJson(growth)},""" +
          s""""up_errors":${sJson(errsU)},""" +
          s""""up_excluded":${upExcluded.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      emitResultFile()
      runDiag("up", d)
    }
    // ---- ×100 DOCUMENT-FAMILY leg (now LAST — see the leg-priority note
    // above): a documents+embeddings-only corpus at 100× the bench SF
    // (GenScale.generateDocs; ~10× the ×10 leg's DOC bytes, none of its
    // warehouse bytes), running just the gates that read those two
    // tables. Exponent base is 100 vs the MAIN leg. SPARK_GRAFT_UP100=off
    // skips; SPARK_GRAFT_UP100_DIR overrides. Contested gates lead the
    // subset so a budget stop mid-leg still records them.
    val up100Subset = Seq(
      "q167_embed_neardup_capped", "q18_minhash_lsh", "q56_jaccard_capped",
      // the O(N) bucket-skew profile rides the leg as the embedding
      // family's standing evidence line (the diag_q21 analogue): its
      // over_cap rows ARE the q53-exclusion receipt at this scale
      "q168_lsh_bucket_profile",
      // round-14 ask #5's production pair: the PROFILE-DERIVED cap path
      // (the derivation's median term goes LIVE past sf0.1 — at ×100 the
      // cap self-tunes to the measured skew) and the cell-space profile
      // (the SemDeDup pre-flight, O(N) like q168)
      "q171_embed_neardup_autocap", "q170_cell_profile",
      "q17_dedup_exact", "q101_paragraph_dedup", "q102_semdedup",
      "q158_contamination_bloom", "q54_ann_ivf", "q134_stream_ann_ingest",
      // round-16: the KN bigram chain — q184 pays the SessionCache'd
      // training on this leg exactly as on the main leg (see sf2Subset
      // note: without it q185's exponent measures the cache asymmetry),
      // q185 is then the scoring join, the linear-claim measurement
      "q184_kn_bigram_model", "q185_kn_xent",
      // round-17: the trigram chain at ×100 — the (u1,u2,w) TYPE table's
      // sublinearity is the claim this leg gates (less obvious at order
      // 3 than 2, which is exactly why it rides); q194 pays the cached
      // training here exactly as on the main leg
      "q194_kn3_model", "q195_kn3_xent")
    // Excluded at ×100 by design, each with a standing receipt:
    // - q21 (round-13 verdict #1c): its pair space is proven exactly
    //   linear every run by diag_q21_cand_pairs at a fraction of the
    //   cost; its 428 s r13 wall-clock re-measured that known answer.
    //   q56 is the production path. q21 stays in the sf2/×10 subsets.
    // - q53 (round-14): measured post-density-pin at 315.7 s / exponent
    //   1.34 (committed bench_result.json) and root-caused — the ×100
    //   corpus's two ~50k tight clusters each land in ONE bucket at any
    //   plane count (the q168 bucketProfile: same-bucket pair space 2.77e9,
    //   unchanged from 11 to 15 planes), so the enumerated clique output
    //   is quadratic in cluster population BY SPECIFICATION, not by plan
    //   defect. q167 (per-bucket population cap, pivot-star edges —
    //   pair space ≤ cap·N + N) is the production path and takes the
    //   ×100 slot; q53 remains the gated uncapped verifier form.
    val up100Excluded = Seq("q21_jaccard_pairs", "q53_embed_neardup_lsh")
    val up100Requested = up100Planned
      .filterNot(_ => budgetSkip("up100", est("up100_base", EstUp100Leg)))
    val (up100Dir, up100GenSec) = up100Requested match {
      case None => (None, 0.0)
      case Some(d) => ensureCorpus(d, up100Factor, "doc-family",
        graft.tools.GenScale.generateDocs(spark, sfDir, d, up100Factor))
    }
    up100Dir.foreach { d =>
      // doc-family warmup only: the corpus has no warehouse tables
      val warmDocs = (dd: String) => {
        val w0 = System.nanoTime()
        graft.core.Tables.documents(spark, dd).count()
        graft.core.Tables.embeddings(spark, dd).count()
        (System.nanoTime() - w0) / 1e9
      }
      val legT0 = System.nanoTime()
      val (resC, warmC, _, errsC) = runLeg(d, up100Subset, "up100", warmDocs)
      recordLegEst("up100", (System.nanoTime() - legT0) / 1e9, resC, None, errsC)
      val growth = resC.collect { case (name, tC) if mainT(name) > 0 =>
        name -> r2(math.log(tC / mainT(name)) / math.log(up100Factor.toDouble))
      }
      growthByLeg("up100") = qJson(growth)
      allLegErrs ++= errsC
      legJsons("up100") =
        s""","up100":"$d","up100_factor":$up100Factor,"up100_gen_sec":${r2(up100GenSec)},""" +
          s""""up100_warmup_sec":${r2(warmC)},"queries_up100":${qJson(resC)},""" +
          s""""up100_growth_exponents":${qJson(growth)},""" +
          s""""up100_errors":${sJson(errsC)},""" +
          s""""up100_excluded":${up100Excluded.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      emitResultFile()
      runDiag("up100", d)
    }
    emitResultFile()
    // the stdout line must fit the driver's tail buffer WITH sbt's
    // success trailer behind it: every BENCH_r{01,02,03,11,13}.json
    // carries a `tail` of EXACTLY 2000 characters, and r11 (rc 0, parsed
    // null) shows the line's FRONT clipped mid-key — the buffer is a
    // fixed 2000-char tail and the line had outgrown it as gates and
    // exponent maps accumulated. Build the line at full detail, then
    // degrade deterministically (down-leg exponents first — they live in
    // bench_result.json regardless — then slowest-N, then the up maps)
    // until it fits 1800 bytes, disclosing every drop on stderr.
    val allErrs = (allLegErrs ++ skipped).toSeq
    // errMode (ADVICE r14): a budget-exhausted run appends one error per
    // skipped query, so the error list ALONE can outgrow the buffer in
    // exactly the skip-heavy runs the budget creates — degrade it too:
    // 0 = full list, 1 = first 2 + count, 2 = count only. Full detail is
    // always in bench_result.json.
    def errJson(errMode: Int): String =
      if (allErrs.isEmpty) ""
      else errMode match {
        case 0 => s""","leg_errors":${sJson(allErrs)}"""
        case 1 => s""","leg_errors":${sJson(allErrs.take(2))},"n_leg_errors":${allErrs.size}"""
        case _ => s""","n_leg_errors":${allErrs.size}"""
      }
    def lineOf(nSlow: Int, withSf2: Boolean, withUp: Boolean,
        withUp100: Boolean, errMode: Int): String = {
      val growthLine =
        (if (withSf2) legDirs.get("sf2").map(d2 =>
          s""","sf2":"$d2","growth_exponents":${growthByLeg("sf2")}""").getOrElse("") else "") +
        (if (withUp) growthByLeg.get("up").map(g =>
          s""","up_factor":$upFactor,"up_growth_exponents":$g""").getOrElse("") else "") +
        (if (withUp100) growthByLeg.get("up100").map(g =>
          s""","up100_growth_exponents":$g""").getOrElse("") else "") +
        errJson(errMode)
      val slowest = results.toSeq.sortBy(-_._2).take(nSlow)
      s"""{$common,"queries":${qJson(slowest)}$growthLine,"sf":"$sfDir"}"""
    }
    val shapes = Seq(
      (10, true, true, true, 0), (10, false, true, true, 0), (6, false, true, true, 0),
      (6, false, false, true, 0), (6, false, false, false, 0), (3, false, false, false, 0),
      // the error-list degrade steps; the last shape is a structural
      // floor (~500 bytes) — the 1800-byte cap holds for ANY error count
      (3, false, false, false, 1), (3, false, false, false, 2),
      (0, false, false, false, 2))
    val (shape, line) = shapes.iterator.map(s =>
        s -> lineOf(s._1, s._2, s._3, s._4, s._5))
      .find(_._2.length <= 1800)
      .getOrElse(shapes.last -> lineOf(0, withSf2 = false, withUp = false,
        withUp100 = false, errMode = 2))
    if (shape != shapes.head) System.err.println(
      s"[bench] stdout line degraded to fit the 2000-char tail buffer: " +
        s"slowest=${shape._1} sf2=${shape._2} up=${shape._3} up100=${shape._4} " +
        s"errMode=${shape._5} (${line.length} bytes; full detail in bench_result.json)")
    // stop BEFORE printing so nothing follows the JSON line in the tail
    // buffer — but a stop-time failure must never swallow the line
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: $e") }
    println(line)
  }
}
