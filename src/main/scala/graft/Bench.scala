package graft
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.entry.DagGates

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
  * BEFORE the timed query loop and disclosed as its own `dag_charge_sec`,
  * so its ±40 % JVM-history variance never lands on whichever DAG gate
  * runs first; the eleven DAG gates time their read-back cost like every
  * other query. `value` = warmup + first-pass queries, so all work stays
  * disclosed: total wall-clock ≈ value + dag_charge_sec + retry_total_sec
  * + legs.
  *
  * Wall-clock budget: the run self-budgets via SPARK_GRAFT_BENCH_BUDGET_SEC
  * (default 3000 s from JVM start, "off" to disable). The MAIN leg always
  * runs in full; then the scale legs of [[Bench.plan]] run in plan order,
  * and each leg (each leg's DAG settle, each candidate-pair diagnostic) is
  * skipped — and loudly disclosed in `skipped` + `leg_errors` — when the
  * remaining budget can't cover its last-known cost. Within a leg, a query
  * starting past the deadline is skipped the same way. bench_result.json
  * is REWRITTEN after the main leg and again after every scale leg, so
  * even a hard kill leaves the completed legs' numbers on disk.
  *
  * The stdout line carries total+warmup+slowest-N+exponents only, and is
  * SELF-LIMITING to 1800 bytes (see [[stdoutLine]]); the full maps always
  * live in bench_result.json.
  */
object Bench {
  private def r2(v: Double): Double = math.rint(v * 100) / 100
  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    secsSince(t0)
  }

  /** Host load (1/5/15-min averages) — recorded into bench_result.json so
    * a reviewer can tell host-load variance from a code regression without
    * re-running. Absent (empty) on non-Linux. */
  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  // ---- budget-gate skip thresholds are SELF-TUNING: each measured cost is
  // persisted to bench_estimates.json and read back (×1.15 headroom) as the
  // next run's estimate, so a cost that drifts re-tunes its own skip
  // threshold without a code edit. The constants here and in `plan` are
  // FIRST-RUN fallbacks only — deliberately round and slightly
  // conservative; a stale estimate fails SOFT (a leg skipped for one run, or a
  // small overshoot the per-query deadline check bounds).
  private val EstPrewarmDag = 90.0 // the sf0.001 codegen prewarm settle
  private val EstDiagMain = 15.0

  private val EstFile = Paths.get("bench_estimates.json")

  /** Last-known costs from the previous run (flat {"key":sec} JSON we both
    * write and read — no JSON lib in scope). A corrupt or absent file falls
    * back to the constants. */
  private def readEstimates(): Map[String, Double] =
    try {
      if (!Files.exists(EstFile)) Map.empty
      else """"([a-z0-9_]+)"\s*:\s*([0-9.]+)""".r
        .findAllMatchIn(new String(Files.readAllBytes(EstFile)))
        .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _)).toMap
    } catch { case _: Throwable => Map.empty }

  /** Path spellings (relative vs absolute vs trailing slash) compared as
    * one: a re-spelled dir must neither regenerate a corpus nor slip past
    * the prewarm guard. */
  private def normPath(p: String): String =
    Paths.get(p).toAbsolutePath.normalize.toString

  private def sfOf(p: String): Option[Double] = {
    val n = Paths.get(p).getFileName.toString
    if (n.startsWith("sf")) n.drop(2).toDoubleOption else None
  }

  /** All smaller sf-named sibling dirs of `dir`, ascending by SF. */
  private def smallerSiblings(dir: String): Seq[String] =
    sfOf(dir).toSeq.flatMap { primary =>
      val parent = Paths.get(dir).toAbsolutePath.getParent.toFile
      Option(parent.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName)
        .flatMap(n => sfOf(n).map(n -> _))
        .filter(_._2 < primary)
        .sortBy(_._2)
        .map { case (n, _) => s"${parent.getAbsolutePath}/$n" }
    }

  /** Streaming/batch twins: each streaming form shares its batch form's
    * oracle, so their row counts must agree at every SF. Correctness runs
    * at sf0.01 only; a pair diverging only at the bench SF is a real bug
    * that gate can't see. */
  private[graft] val twins = Seq(
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

  /** The down leg's gates (the ×10 leg runs them too, minus
    * [[UpExcluded]]). SessionCache'd families list their payer first
    * (q184 before q185, q190 before q191, q194 before q195, q198 before
    * q199), matching the name-sorted main leg: a leg where the consumer ran
    * first would retrain, and its exponent would measure the cache
    * asymmetry instead of the operator. */
  private[graft] val DownSubset = Seq(
    "q01_pricing_summary", "q17_dedup_exact", "q18_minhash_lsh",
    "q19_simhash_sig", "q21_jaccard_pairs", "q23_embed_neardup",
    "q24_ann_topk", "q44_dwd_refund_pay_suc", "q63_dws_cart_uu",
    "q80_topn_window", "q101_paragraph_dedup", "q102_semdedup",
    "q116_stream_paragraph_fuzzy", "q118_stream_semdedup",
    "q122_dag_dwd_refund_pay_suc", "q123_dag_paragraph_fuzzy",
    "q124_dag_semdedup", "q125_stream_retention_dedup",
    // scale-sensitive shapes: gram-grain contamination join, CC-chain
    // funnel, one-pass CMS, token chunking
    "q141_split_contamination", "q139_token_chunk",
    "q145_cms_heavyhitters", "q153_curation_funnel",
    // the bloom-screened contamination and the recenter-cadence ingest
    // (2 refits O(store) — the amortized-O(1) claim)
    "q159_split_contamination_bloom", "q160_semdedup_cadence",
    // the PRODUCTION capped-Jaccard path, beside the uncapped q21 it
    // stop-lists
    "q56_jaccard_capped",
    // the capped SemDeDup path beside the uncapped q102 it bounds (its
    // cap·N+N pair space is strictly below q102's cell cliques, so the
    // ×100 slot stays with q102)
    "q169_semdedup_capped",
    // single-shuffle sessionization: a second shuffle would read clearly
    // superlinear under the per-key window sort
    "q172_sessionize",
    // the profile-DERIVED caps beside the constant-cap twins they replace
    // (q176 with q18's family, q177 with q56's); the BPE chain's training
    // + corpus-join encode (q180 accounting, q182 subword chunking)
    "q176_lsh_autocap", "q177_jaccard_autocap",
    "q180_bpe_token_counts", "q182_bpe_chunk",
    // the KN bigram chain and the waterfilling epoch plan (per-source
    // aggregate + the grouped range-partitioned prefix cut)
    "q184_kn_bigram_model", "q185_kn_xent", "q187_epoch_plan",
    // the tokenizer-grade BPE chain (q190 trains on the constant
    // doc_id < 500 sample; q191 is the linear replay encode) and the
    // trigram KN chain (q194 training, q195 the scoring join)
    "q190_bpe1k_merges", "q191_bpe1k_token_counts",
    "q194_kn3_model", "q195_kn3_xent",
    // the CART distillation: bounded level-wise training on the
    // hash-gated seed slice, and zero-shuffle nested-CASE scoring that is
    // linear in docs by construction. Not on the ×100 doc family: its
    // ~200k-row seed sits AT the s³ < 2^53 exactness guard, and a refusal
    // there would be the guard working as designed, not a measurement
    "q198_cart_distill_model", "q199_cart_distill_score")

  /** Off the ×10 leg by design: the two quadratic exact BASELINES are
    * documented all-pairs controls whose exponent 2 is known and whose
    * up-scale cost is ~100× for that known answer. Their scale-path
    * variants (q102 cells, q18 bands, q19/q21 buckets, q159 bloom) stay. */
  private[graft] val UpExcluded = Seq("q23_embed_neardup", "q24_ann_topk")

  /** The ×100 document-family gates: only those reading documents and
    * embeddings, the corpus's two tables. Contested gates lead, so a
    * budget stop mid-leg still records them. */
  private[graft] val Up100Subset = Seq(
    "q167_embed_neardup_capped", "q18_minhash_lsh", "q56_jaccard_capped",
    // the O(N) bucket-skew profile is the embedding family's standing
    // evidence line: its over_cap rows ARE the q53-exclusion receipt
    "q168_lsh_bucket_profile",
    // the PROFILE-DERIVED cap path (its median term goes live past sf0.1,
    // so at ×100 the cap self-tunes to the measured skew) and the
    // cell-space profile (the SemDeDup pre-flight, O(N) like q168)
    "q171_embed_neardup_autocap", "q170_cell_profile",
    "q17_dedup_exact", "q101_paragraph_dedup", "q102_semdedup",
    "q158_contamination_bloom", "q54_ann_ivf", "q134_stream_ann_ingest",
    // the KN chains, payer first as on every leg: the (u1,u2,w) TYPE
    // table's sublinearity at order 3 is the claim this leg gates
    "q184_kn_bigram_model", "q185_kn_xent",
    "q194_kn3_model", "q195_kn3_xent")

  /** Off the ×100 leg by design, each with a standing receipt:
    * - q21: its pair space is proven exactly linear every run by
    *   diag_q21_cand_pairs at a fraction of the cost, so its ×100
    *   wall-clock re-measures a known answer. q56 is the production path.
    * - q53: the ×100 corpus's two ~50k tight clusters each land in ONE
    *   bucket at any plane count (q168's bucket profile), so the
    *   enumerated clique output is quadratic in cluster population BY
    *   SPECIFICATION, not by plan defect. q167 (per-bucket population cap,
    *   pair space ≤ cap·N + N) is the production path and takes the slot. */
  private[graft] val Up100Excluded = Seq("q21_jaccard_pairs", "q53_embed_neardup_lsh")

  /** The shared-table warmup for one sf dir (the two Kafka-topic-
    * equivalent hand-offs + the two session-cached wide tables). */
  private def warmShared(spark: SparkSession, d: String): Double = timed {
    graft.core.TopicDb(spark, d).count()
    graft.apps.GmallPipelines.tradeOrderPreProcessCached(spark, d).count()
    // documents + events feed ~40 gates each; their session-cached
    // persist (Tables.scala) materializes here so per-query times stop
    // carrying the first-touch scan of whichever gate runs first
    graft.core.Tables.documents(spark, d).count()
    graft.core.Tables.events(spark, d).count()
  }

  /** The doc-family warmup: that corpus has no warehouse tables. */
  private def warmDocs(spark: SparkSession, d: String): Double = timed {
    graft.core.Tables.documents(spark, d).count()
    graft.core.Tables.embeddings(spark, d).count()
  }

  /** A generated scale-up corpus (manifest-guarded: regenerated only when
    * absent or built from a different source or factor). */
  private[graft] final case class Corpus(label: String,
      gen: (SparkSession, String, String, Int) => Unit)

  /** One scale leg as data. `factor` = sf_leg / sf_main, the base of the
    * leg's growth exponents. Estimates are resolved (persisted or
    * fallback) seconds; `gateWithDag` makes the leg-level budget gate cover
    * the DAG settle too — otherwise the settle is gated on its own inside
    * the leg. `lineKeys` are the leg's bench_result.json keys that the
    * stdout line also carries. */
  private[graft] final case class Leg(tag: String, dir: Option[String],
      subset: Seq[String], factor: Double, warm: (SparkSession, String) => Double,
      baseEst: Double, dagEst: Double, diagEst: Double, gateWithDag: Boolean,
      corpus: Option[Corpus], excluded: Seq[String],
      growthKey: String, lineKeys: Seq[String]) {
    def gateEst: Double = baseEst + (if (gateWithDag) dagEst else 0.0)
    def reserveEst: Double = baseEst + dagEst + diagEst
  }

  /** The scale legs in run order. The down leg (next smaller sf sibling)
    * is cheapest; the ×10 leg follows because its DAG settle is the one
    * artifact the emission must always carry; the ×100 doc-family leg is
    * last — so under budget pressure the sacrifice order is the ×100 leg
    * first, then the ×10 base queries, and the settle last. A leg's dir
    * is SPARK_GRAFT_<KEY>_DIR, else its default unless
    * SPARK_GRAFT_<KEY>=off; the down leg's dir must exist, the up legs
    * generate theirs. `est(key, fallback)` resolves each estimate. */
  private[graft] def plan(env: Map[String, String], sfDir: String,
      est: (String, Double) => Double): Seq[Leg] = {
    def dir(key: String, default: => Option[String]): Option[String] =
      env.get(s"SPARK_GRAFT_${key}_DIR")
        .orElse(if (env.get(s"SPARK_GRAFT_$key").contains("off")) None else default)
    def updata(name: String) = Some(new java.io.File(s"updata/$name").getAbsolutePath)
    val downDir = dir("SF2", smallerSiblings(sfDir).lastOption)
      .filter(d => Files.isDirectory(Paths.get(d)))
    val downFactor = (sfOf(sfDir), downDir.flatMap(sfOf)) match {
      case (Some(a), Some(b)) if a > 0 && b > 0 => b / a
      case _ => 0.1
    }
    Seq(
      // base = warm + queries; the settle is budgeted by its own dag term
      Leg("sf2", downDir, DownSubset, downFactor, warmShared,
        est("sf2_base", 170.0), est("sf2_dag", 100.0), est("diag_sf2", 10.0),
        gateWithDag = true, None, Nil,
        "growth_exponents", Seq("sf2", "growth_exponents")),
      Leg("up", dir("UP", updata("sf1")), DownSubset.filterNot(UpExcluded.contains),
        10.0, warmShared,
        est("up_base", 550.0), est("up_dag", 660.0), est("diag_up", 30.0),
        gateWithDag = false, Some(Corpus("up-scale", graft.tools.GenScale.generate)),
        UpExcluded, "up_growth_exponents", Seq("up_factor", "up_growth_exponents")),
      // no DAG reader in the subset, so no settle to estimate
      Leg("up100", dir("UP100", updata("sf10docs")), Up100Subset, 100.0, warmDocs,
        est("up100_base", 800.0), 0.0, est("diag_up100", 120.0),
        gateWithDag = false, Some(Corpus("doc-family", graft.tools.GenScale.generateDocs)),
        Up100Excluded, "up100_growth_exponents", Seq("up100_growth_exponents")))
  }

  /** Charge each (tag, cost) in order, but only when it fits what remains
    * after the ones charged before it — the arithmetic each leg's own
    * budget gate applies, so the reserve never holds back budget for a leg
    * that will be skipped anyway. Returns (reserved, the costs left out). */
  private[graft] def fitReserve(remaining: Double, costs: Seq[(String, Double)])
      : (Double, Seq[(String, Double)]) =
    costs.foldLeft((0.0, Seq.empty[(String, Double)])) { case ((acc, out), (tag, c)) =>
      if (acc + c <= remaining) (acc + c, out) else (acc, out :+ (tag -> c))
    }

  private def qJson(qs: Iterable[(String, Double)]): String =
    qs.map { case (k, v) => "\"" + k + "\":" + r2(v) }.mkString("{", ",", "}")
  private def sJson(ss: Seq[String]): String =
    ss.map(s => "\"" + s.replace("\"", "'") + "\"").mkString("[", ",", "]")
  private def fieldsJson(fs: Seq[(String, String)]): String =
    fs.map { case (k, v) => s""","$k":$v""" }.mkString

  /** A completed leg: its bench_result.json fields in order, and its errors. */
  private[graft] final case class LegRun(leg: Leg, fields: Seq[(String, String)],
      errs: Seq[String]) {
    def line: String = fieldsJson(fields.filter(f => leg.lineKeys.contains(f._1)))
  }

  /** A leg's bench_result.json fields; the generated-corpus legs also
    * carry their factor, generation time and excluded gates. */
  private[graft] def legFields(leg: Leg, dir: String, genSec: Double, warm: Double,
      dag: Option[Double], res: Map[String, Double], growth: Map[String, Double],
      errs: Seq[String]): Seq[(String, String)] = {
    val t = leg.tag
    Seq(t -> ("\"" + dir + "\"")) ++
      leg.corpus.toSeq.flatMap(_ => Seq(s"${t}_factor" -> s"${leg.factor.toInt}",
        s"${t}_gen_sec" -> s"${r2(genSec)}")) ++
      Seq(s"${t}_warmup_sec" -> s"${r2(warm)}") ++
      dag.map(c => s"${t}_dag_charge_sec" -> s"${r2(c)}") ++
      Seq(s"queries_$t" -> qJson(res), leg.growthKey -> qJson(growth),
        s"${t}_errors" -> sJson(errs)) ++
      leg.corpus.map(_ => s"${t}_excluded" -> sJson(leg.excluded))
  }

  /** Degrade shapes in order: (slowest-N queries, last k legs of the plan
    * kept, error mode). The down-leg exponents go first — they live in
    * bench_result.json regardless — then slowest-N shrinks, then the up
    * maps go. Error modes: 0 = full list, 1 = first 2 + count, 2 = count
    * only, since a budget-exhausted run appends one error per skipped
    * query and the list ALONE can outgrow the buffer. The last shape is a
    * structural floor (~500 bytes), so the cap holds for any error count. */
  private[graft] val Shapes = Seq((10, 3, 0), (10, 2, 0), (6, 2, 0), (6, 1, 0),
    (6, 0, 0), (3, 0, 0), (3, 0, 1), (3, 0, 2), (0, 0, 2))
  private[graft] val LineCap = 1800

  /** The stdout line at the first shape that fits [[LineCap]] bytes. The
    * harness that reads it keeps a fixed 2000-character tail of the
    * output, and a longer line is clipped at its front; the line prints LAST, so only sbt's
    * ~76-byte success trailer follows it. `legLines` holds one entry per
    * plan leg ("" for a leg that did not run). */
  private[graft] def stdoutLine(common: String, results: Map[String, Double],
      legLines: Seq[String], errs: Seq[String], sfDir: String): ((Int, Int, Int), String) = {
    def errJson(errMode: Int): String =
      if (errs.isEmpty) ""
      else errMode match {
        case 0 => s""","leg_errors":${sJson(errs)}"""
        case 1 => s""","leg_errors":${sJson(errs.take(2))},"n_leg_errors":${errs.size}"""
        case _ => s""","n_leg_errors":${errs.size}"""
      }
    def lineOf(shape: (Int, Int, Int)): String = {
      val (nSlow, k, errMode) = shape
      val slowest = results.toSeq.sortBy(-_._2).take(nSlow)
      s"""{$common,"queries":${qJson(slowest)}${legLines.takeRight(k).mkString}""" +
        s"""${errJson(errMode)},"sf":"$sfDir"}"""
    }
    Shapes.iterator.map(s => s -> lineOf(s)).find(_._2.length <= LineCap)
      .getOrElse(Shapes.last -> lineOf(Shapes.last))
  }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedSec: Double = secsSince(benchT0)
    // Default budget 3000 s: the bench harness kills the run at 3600 s,
    // with ~50 s of sbt overhead around it, and the per-item gates bound
    // any overshoot by one item's estimate error — worst wall ≈ budget +
    // ~15 % of one leg, comfortably under the envelope.
    val budgetSec: Double = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC") match {
      case Some("off") => Double.MaxValue
      case Some(s) => s.toDoubleOption.getOrElse(3000.0)
      case None => 3000.0
    }
    def remainingSec: Double = budgetSec - elapsedSec
    val persistedEst = readEstimates()
    val newEst = mutable.LinkedHashMap[String, Double]()
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
    val legs = plan(sys.env, sfDir, est)
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
    // pool.) The raised broadcast timeout (graft.core.Engine.Defaults) is
    // belt-and-braces for the same shape.
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
    val spark = graft.core.Engine.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", fairPools.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def fatal(msg: String): Nothing = {
      System.err.println(s"[bench] FATAL: $msg")
      spark.stop()
      sys.exit(1)
    }
    val warmup =
      try warmShared(spark, sfDir)
      catch { case e: Throwable => fatal(s"shared-table warmup failed: $e") }
    System.err.println(f"[bench] warmup(shared tables) $warmup%8.2f s")
    /** The cached warehouse-DAG settle for one sf dir, timed: DagRun
      * memoizes per (JVM, dir), so the DAG gates that follow read its
      * warehouse dirs in read-back time. */
    def warmDag(d: String): Double = timed(graft.entry.GateSupport.DagRun(spark, d))
    val skipped = mutable.ArrayBuffer[String]()
    // ---- streaming-codegen prewarm: the first streaming micro-batch in a
    // cold JVM absorbs ~100 s of one-time codegen/JIT, so the main DAG
    // charge swung with JVM history alone — and that swing decided whether
    // the ×10 settle fit the budget. Settle the SAME warehouse DAG on the
    // SMALLEST sf sibling first: every streaming plan shape compiles
    // against near-zero data, so the timed main charge starts warm.
    // The down leg's own dir is never prewarmed: DagRun memoizes per
    // (JVM, dir), so settling it here would turn that leg's dag_charge
    // into a ~0 s read-back and poison both its exponent and its persisted
    // estimate. SPARK_GRAFT_PREWARM=off skips; skipped loudly when <2
    // siblings.
    val downTarget = legs.find(_.tag == "sf2").flatMap(_.dir).map(normPath)
    val prewarmSec: Option[Double] =
      if (sys.env.get("SPARK_GRAFT_PREWARM").contains("off")) None
      else smallerSiblings(sfDir) match {
        case Seq(first, _, _*) if !downTarget.contains(normPath(first)) =>
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
          // main dag_charge was measured COLD when no prewarm-safe sibling
          // exists
          val msg = "prewarm_dag: skipped (no sf sibling below the sf2 leg's)"
          System.err.println(s"[bench] $msg"); skipped += msg
          None
      }
    val dagCharge =
      try warmDag(sfDir)
      catch { case e: Throwable => fatal(s"warehouse-DAG settle failed: $e") }
    System.err.println(f"[bench] dag_charge(main)    $dagCharge%8.2f s")
    // band guards OFF: the scale legs run band-guarded gates (q53/q167/
    // q168/q171) far outside their oracle SF band with no oracle to
    // diverge from
    val qs = SparkEntry.queriesFor(oracleRun = false) // one Map build
    /** The one place a query is timed: Right(rows, seconds), or
      * Left(recorded error, stderr detail). Every gate produces rows at
      * every SF — an empty result is a broken query that must not bench as
      * a fast success. */
    def timedCount(name: String, d: String): Either[(String, String), (Long, Double)] = {
      val t0 = System.nanoTime()
      try {
        val rows = qs(name)(spark, d).count()
        if (rows == 0L) Left(s"$name: 0 rows" -> s"$name returned 0 rows at $d")
        else Right(rows -> secsSince(t0))
      } catch { case e: Throwable =>
        Left(s"$name: ${e.getClass.getSimpleName}" -> s"$name failed at $d: $e")
      }
    }
    def mainCount(name: String): (Long, Double) =
      timedCount(name, sfDir).fold(e => fatal(e._2), identity)
    val counts = mutable.Map[String, Long]()
    // retry exclusion is DERIVED from cache traffic: a query that builds OR
    // reads a main-session SessionCache entry created during the timed
    // loop is cache-backed — its retry would be cache-warm, and
    // min(first, retry) would poison mainT and every growth exponent with
    // the asymmetry the payer pinning exists to remove. Warmup-built
    // entries (topic_db, order_pre, documents, events) predate the mark,
    // so reads of them stay retryable — symmetric on both passes.
    graft.core.SessionCache.beginTimedPhase(spark)
    val cacheBacked = mutable.Set[String]()
    // name-sorted, NOT Map order: the SessionCache'd families (q179-182
    // BPE, q184/q185 KN) charge training to whichever member runs first,
    // and Map order can silently reshuffle when gates are added — sorted
    // order pins the payer (q179/q180/q184) to match the scale-leg
    // subsets, so per-query numbers stay comparable across runs
    val results = qs.keys.toSeq.sorted.map { name =>
      graft.core.SessionCache.resetTouchedShared()
      val (rows, sec) = mainCount(name)
      counts(name) = rows
      if (graft.core.SessionCache.sawSharedArtifact) cacheBacked += name
      System.err.println(f"[bench] $name%-22s $sec%8.2f s")
      name -> sec
    }.toMap
    System.err.println(
      s"[bench] cache-backed (retry-excluded): ${cacheBacked.toSeq.sorted.mkString(",")}")
    // variance probe: anything slow on the first pass runs once more — a
    // query that re-measures fast was host noise, not a regression; both
    // samples land in bench_result.json, and the retry pass's own
    // wall-clock is disclosed as retry_total_sec (NOT in `value`).
    //
    // The retry pass is discretionary: on a loaded host a slow main leg
    // triggers MORE retries exactly when the budget is already tight.
    // Reserve = last-known cost of the planned legs that will fit
    // ([[fitReserve]]); retries stop — loudly, worst-first retried first —
    // once spending past the reserve would start eating the legs.
    val (downstreamReserve, unreserved) = fitReserve(remainingSec,
      ("diag_main" -> est("diag_main", EstDiagMain)) +:
        legs.filter(_.dir.isDefined).map(l => l.tag -> l.reserveEst))
    unreserved.foreach { case (tag, c) => System.err.println(
      f"[bench] reserve: $tag (est $c%.0f s) won't fit the remaining " +
        f"budget anyway — not reserved, retries keep its share") }
    val r0 = System.nanoTime()
    val retrySkipped = mutable.ArrayBuffer[String]()
    val retries = results.filter(_._2 > 5.0).toSeq.sortBy(-_._2)
      .filterNot(r => cacheBacked.contains(r._1))
      .flatMap { case (name, first) =>
        if (remainingSec < downstreamReserve + first * 1.3) {
          retrySkipped += name
          None
        } else {
          val (_, second) = mainCount(name)
          System.err.println(f"[bench] $name%-22s $second%8.2f s (retry; first $first%.2f)")
          Some(name -> second)
        }
      }.toMap
    if (retrySkipped.nonEmpty) {
      val msg = f"retries: ${retrySkipped.size} skipped (budget: downstream reserve ${downstreamReserve}%.0f s) " +
        retrySkipped.sorted.mkString("[", ",", "]")
      System.err.println(s"[bench] $msg"); skipped += msg
    }
    val retryTotal = secsSince(r0)
    // the twin row counts, already computed by the timing pass, must agree
    // at the bench SF too; fail the whole bench rather than report a time
    twins.find { case (a, b) => counts(a) != counts(b) }.foreach { case (a, b) =>
      fatal(s"twin row-count mismatch at $sfDir: $a=${counts(a)} vs $b=${counts(b)}")
    }
    val rowcheck = s"pass(${twins.size} twin pairs)"
    System.err.println(s"[bench] sf rowcheck: $rowcheck")
    /** A gate's host-noise-adjudicated main-leg time (the DAG settle is
      * pre-warmed, so every gate's retry is a true re-measure). */
    def mainT(name: String): Double =
      math.min(results(name), retries.getOrElse(name, results(name)))
    // q21 candidate-pair counts per leg: separates PLAN growth from memory
    // pressure — if these are linear in the factor, a superlinear
    // wall-clock exponent is shuffle/host, not the pair space. Replica
    // token-suffixing makes these exactly linear by construction, so this
    // line is the standing proof (and the reason q21 is off the ×100 leg).
    // At ×100 this aggregate is itself a full shuffle of the shingle
    // index, so each leg's diag is timed into diag_sec and budget-gated
    // like any other leg work. Null-safe: an empty documents table sums to
    // NULL, which must read as 0 pairs, not an NPE.
    def candPairs(d: String): Long = {
      import org.apache.spark.sql.functions.{array_distinct, col, explode, expr, lit, sum}
      val v = graft.core.Tables.documents(spark, d)
        .select(explode(array_distinct(
          graft.functions.TextFunctions.shingles(col("text"), 3))).as("sh"))
        .groupBy(col("sh")).agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
        .agg(sum(expr("c*(c-1) div 2"))).head().getAs[java.lang.Long](0)
      if (v == null) 0L else v.longValue()
    }
    val legRuns = mutable.ArrayBuffer[LegRun]()
    val diagPairs = mutable.LinkedHashMap[String, Long]()
    val diagSecs = mutable.LinkedHashMap[String, Double]()
    val legLoads = mutable.ArrayBuffer[(String, String)]()
    val queriesOnly = results.values.sum
    val total = queriesOnly + warmup
    // best_of_2_sec: warmup + Σ min(first pass, retry) — the host-noise-
    // adjudicated comparison as a first-class number
    val bestOf2 = warmup + results.keys.map(mainT).sum
    def common =
      s""""metric":"total","value":${r2(total)},"unit":"sec","warmup_sec":${r2(warmup)},""" +
        s""""dag_charge_sec":${r2(dagCharge)},""" +
        s""""queries_only_sec":${r2(queriesOnly)},"best_of_2_sec":${r2(bestOf2)},""" +
        s""""n_queries":${results.size},""" +
        s""""budget_sec":${if (budgetSec == Double.MaxValue) "\"off\"" else r2(budgetSec)},""" +
        s""""sf_twin_rowcheck":"$rowcheck""""
    def emitResultFile(): Unit = {
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
          s""""queries":${qJson(results)}${legRuns.map(r => fieldsJson(r.fields)).mkString}""" +
          s"""$diag$skJson$legLoadJson,"sf":"$sfDir"}"""
      Files.writeString(Paths.get("bench_result.json"), full + "\n")
    }
    emitResultFile() // main leg is on disk before any scale leg starts
    /** The per-leg diagnostic, budget-gated and timed. */
    def runDiag(tag: String, d: String, e: Double): Unit = {
      if (remainingSec < e) {
        val msg = f"diag_$tag: skipped (budget: est ${e}%.0f s > remaining ${remainingSec}%.0f s)"
        System.err.println(s"[bench] $msg"); skipped += msg
      } else {
        try {
          diagSecs(tag) = timed { diagPairs(tag) = candPairs(d) }
          recordEst(s"diag_$tag", diagSecs(tag))
          System.err.println(f"[bench] diag($tag cand pairs) ${diagSecs(tag)}%8.2f s = ${diagPairs(tag)}")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] diag_$tag failed: $e")
          skipped += s"diag_$tag: ${e.getClass.getSimpleName}"
        }
      }
      emitResultFile()
    }
    runDiag("main", sfDir, est("diag_main", EstDiagMain))
    /** One scale leg: warm the shared tables at `d`, settle the DAG if the
      * subset reads it (skipped with disclosure when the budget can't
      * cover its estimate — the DAG gates are then dropped from the subset
      * so a read never silently re-triggers the settle), run the subset
      * with a per-query deadline check, verify the twin pairs present.
      * Returns (times, warmup, dagCharge, errors). Scale-leg failures are
      * RECORDED, not fatal: the main-leg emission (the driver's headline)
      * must survive a scale-leg query blowing up at an SF no correctness
      * gate covers — the error list rides the result JSON so a skipped
      * leg query is loudly disclosed, never silently absent. */
    def runLeg(d: String, leg: Leg)
        : (Map[String, Double], Double, Option[Double], Seq[String]) = {
      val tag = leg.tag
      legLoads += (s"${tag}_start" -> loadavg())
      // drop the previous leg's persisted tables before warming this one:
      // legs never revisit an earlier dir, and keeping three dirs' caches
      // resident starved the heap at the ×10 leg (see SessionCache)
      graft.core.SessionCache.evictOwned(spark)
      val errs = mutable.ArrayBuffer[String]()
      val warm = try { leg.warm(spark, d) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] LEG ERROR: warmup failed at $d: $e")
          return (Map.empty, 0.0, None, Seq(s"warmup: ${e.getClass.getSimpleName}"))
        }
      System.err.println(f"[bench] warmup($tag shared)  $warm%8.2f s")
      val cs = mutable.Map[String, Long]()
      // `reserve` protects the leg's DAG settle from its own base queries:
      // the settle runs LAST in the leg, so without a reserve the base
      // pass could spend down to the settle's estimate and skip the one
      // item the emission must always carry.
      def runQueries(names: Seq[String], reserve: Double = 0.0): Map[String, Double] =
        names.flatMap { name =>
          if (remainingSec <= reserve) {
            val msg =
              if (reserve > 0) f"$name: skipped (budget: settle reserve $reserve%.0f s)"
              else s"$name: skipped (budget exhausted)"
            System.err.println(s"[bench] $msg"); errs += msg
            None
          } else timedCount(name, d) match {
            case Left((err, detail)) =>
              System.err.println(s"[bench] LEG ERROR: $detail"); errs += err
              None
            case Right((rows, sec)) =>
              cs(name) = rows
              System.err.println(f"[bench] $name%-22s $sec%8.2f s ($tag)")
              Some(name -> sec)
          }
        }.toMap
      // base queries FIRST, the DAG settle + its gates LAST: the settle is
      // the leg's single largest item and its budget check must see the
      // TRUE remaining budget, or it could spend the whole leg budget and
      // skip the cheap queries whose exponents the leg exists to measure
      val (dagPart, basePart) = leg.subset.partition(DagGates.readers)
      val resBase = runQueries(basePart,
        reserve = if (dagPart.nonEmpty) leg.dagEst else 0.0)
      val (legDag, resDag) =
        if (dagPart.isEmpty) (None, Map.empty[String, Double])
        else if (remainingSec < leg.dagEst) {
          val msg = f"${tag}_dag: skipped with its ${dagPart.size} gates " +
            f"(budget: est ${leg.dagEst}%.0f s > remaining ${remainingSec}%.0f s)"
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
      val pairs = twins.filter { case (a, b) => cs.contains(a) && cs.contains(b) }
      val bad = pairs.filter { case (a, b) => cs(a) != cs(b) }
      bad.foreach { case (a, b) =>
        System.err.println(
          s"[bench] LEG ERROR: twin row-count mismatch at $d: $a=${cs(a)} vs $b=${cs(b)}")
        errs += s"twin $a/$b: ${cs(a)}!=${cs(b)}"
      }
      System.err.println(
        s"[bench] $tag rowcheck: ${if (bad.isEmpty) "pass" else "FAIL"}(${pairs.size} twin pairs)")
      legLoads += (s"${tag}_end" -> loadavg())
      (resBase ++ resDag, warm, legDag, errs.toSeq)
    }
    /** A leg's measured wall-clock recorded as the next run's estimate:
      * base (everything but the DAG settle + its gates) and dag recorded
      * separately, since the budget gates them separately. A leg that was
      * TRUNCATED — by an in-leg budget skip OR by a query/warmup failure
      * (a crashed query's missing runtime shortens the wall just like a
      * skip) — records nothing: its wall-clock is not the leg's cost and
      * would ratchet the threshold down, re-creating the mid-leg budget
      * exhaustion self-tuning exists to avoid. ONLY the DAG budget-SKIP
      * message is exempt for the BASE recording: the base part completed
      * in full, and withholding it would leave the base threshold stale in
      * exactly the budget-tight runs that need it. A CRASHED settle (same
      * "${tag}_dag:" prefix, different message) is NOT exempt — its
      * partial elapsed seconds sit inside legSec with dag=None, so
      * recording would inflate the base estimate. */
    def recordLegEst(tag: String, legSec: Double, res: Map[String, Double],
        dag: Option[Double], errs: Seq[String]): Unit = {
      if (errs.exists(e => !e.startsWith(s"${tag}_dag: skipped")))
        return
      val dagTotal = dag.getOrElse(0.0) +
        res.collect { case (n, s) if DagGates.readers(n) => s }.sum
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
    /** Generate-on-miss for a leg's corpus: Some(generation seconds, 0
      * when the manifest is fresh), or None — the leg is skipped loudly
      * rather than failing the run — when generation fails. */
    def ensureCorpus(dir: String, factor: Int, c: Corpus): Option[Double] = {
      val fresh = graft.tools.GenScale.manifestInfo(spark, dir)
        .exists { case (src, f) => normPath(src) == normPath(sfDir) && f == factor }
      if (fresh) Some(0.0)
      else {
        System.err.println(s"[bench] generating ×$factor ${c.label} corpus at $dir")
        try Some(timed(c.gen(spark, sfDir, dir, factor)))
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${c.label} generation failed ($e) — skipping leg")
          None
        }
      }
    }
    for {
      leg <- legs
      d <- leg.dir if !budgetSkip(leg.tag, leg.gateEst)
      genSec <- leg.corpus.fold(Option(0.0))(ensureCorpus(d, leg.factor.toInt, _))
    } {
      val legT0 = System.nanoTime()
      val (res, warm, dag, errs) = runLeg(d, leg)
      recordLegEst(leg.tag, secsSince(legT0), res, dag, errs)
      def exponent(tLeg: Double, tMain: Double) =
        r2(math.log(tLeg / tMain) / math.log(leg.factor))
      val growth = res.collect { case (n, t) if t > 0 && mainT(n) > 0 =>
        n -> exponent(t, mainT(n))
      } ++ dag.filter(c => c > 0 && dagCharge > 0).map(c => "dag_charge" -> exponent(c, dagCharge))
      legRuns += LegRun(leg, legFields(leg, d, genSec, warm, dag, res, growth, errs), errs)
      emitResultFile()
      runDiag(leg.tag, d, leg.diagEst)
    }
    emitResultFile()
    val (shape, line) = stdoutLine(common, results,
      legs.map(l => legRuns.find(_.leg.tag == l.tag).fold("")(_.line)),
      legRuns.flatMap(_.errs).toSeq ++ skipped, sfDir)
    if (shape != Shapes.head) System.err.println(
      s"[bench] stdout line degraded to fit the 2000-char tail buffer: " +
        s"slowest=${shape._1} legs=${legs.takeRight(shape._2).map(_.tag).mkString(",")} " +
        s"errMode=${shape._3} (${line.length} bytes; full detail in bench_result.json)")
    // stop BEFORE printing so nothing follows the JSON line in the tail
    // buffer — but a stop-time failure must never swallow the line
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: $e") }
    println(line)
  }
}
