package graft.entry

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Envelopes, Tables, TopicDb}
import graft.apps.{GmallApp, GmallPipelines}
import graft.operators.{Cap, Dedup, EventOps, Multimodal, Relational, Similarity, Sketches, TextProfile}
import graft.functions.TextFunctions
import graft.streaming.{DimSink, SketchStream, StatefulOps, StreamHarness}

import GateSupport._
import OracleSupport._

/** Embedding similarity: ANN (brute/LSH/IVF/PQ), k-means, SemDeDup.
  *
  * One gate family of [[graft.SparkEntry]]: `queries` runs each operator
  * over the driver's parquet tables; `oracleSql` is the DuckDB twin the
  * driver hash-compares against (columns aliased identically on both
  * sides — the compare sorts columns by name before hashing). */
private[graft] object SimilarityGates {

  /** Fail-closed default: band guards active. The only legitimate
    * out-of-band runners (Bench scale legs, tools.Profile) must opt out
    * EXPLICITLY via [[graft.SparkEntry.queriesFor]] — there is no mutable
    * flag left to forget (ADVICE r15). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queries(oracleRun = true)

  /** The 4-plane band check of the gates whose oracle inlines the fixed
    * 4-plane matrix (q53/q167/q168/q171/q178/q189/q197): exact only while
    * autoPlanes(n) == 4 — i.e. n ≤ 2000 (2000 sits exactly on the
    * log₂(16) boundary, held in-band by autoPlanes' 1e-9 guard). On an
    * ORACLE run, a new verification SF above the band must fail with this
    * instruction instead of a bare hash mismatch (round-13 advisor); bench
    * scale legs run the same queries far outside the band with no oracle
    * to diverge from, so they pass through. Returns the plane count. */
  private def fourPlanes(oracleRun: Boolean, gate: String, n: Long): Int = {
    require(!oracleRun || Similarity.autoPlanes(n) == 4,
      s"$gate's DuckDB oracle inlines a 4-plane matrix (valid while autoPlanes(n)==4, " +
        s"i.e. n<=2000 embeddings); got n=$n => ${Similarity.autoPlanes(n)} planes - " +
        s"re-derive the inlined plane literals in SimilarityGates.oracleSql before " +
        s"gating this SF")
    Similarity.autoPlanes(n)
  }

  /** @param oracleRun true when a DuckDB oracle will hash-compare the
    * result: gates whose oracle inlines SF-band-dependent literals
    * (q53/q167/q168/q171's 4-plane matrix) require their band HERE —
    * where a violation means a wrong-answer hash mismatch — while bench
    * scale legs run the same queries far outside the band with no oracle
    * to diverge from. */
  def queries(oracleRun: Boolean): Map[String, (SparkSession, String) => DataFrame] = Map(

    // -------------------- embedding similarity / ANN -----------------------

    "q23_embed_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), 0.35, 64)
        .orderBy(col("a"), col("b"))),

    "q24_ann_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") % 50 === 0), 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // scale path: multi-probe LSH-bucketed ANN. Recall < 1 vs q24 by
    // design, but the bucketing itself is deterministic, so the oracle
    // replicates planes + probes and the result is hash-exact.
    "q25_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb.where(col("vec_id") % 50 === 0), 10, 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // int8-quantized ANN: quantize the store (4× memory cut), dequantize
    // to float, same brute-force top-k — the oracle replicates the
    // quantize/dequantize float ops verbatim, so ranks are hash-exact.
    // Recall vs the float q24 is a SimilaritySpec assertion.
    "q89_ann_quantized" -> ((s, d) => {
      val qd = Similarity.quantizeInt8(Tables.embeddings(s, d))
      val deq = qd.select(col("vec_id"),
        Similarity.dequantizeF(col("q_vec"), col("q_scale")).as("embedding"))
      Similarity.bruteForceTopK(deq, deq.where(col("vec_id") % 50 === 0), 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Product-quantization ADC ANN: 8 subspaces × 16 codes (32×
    // compression of the scored store); codebook/assignment/LUT/ADC sum
    // all replicated verbatim by the oracle (explicit pivoted addition,
    // never an order-free float sum). Recall vs float is spec-asserted.
    "q90_ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb, emb.where(col("vec_id") % 50 === 0), 10, 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF ANN scale path, oracle-gated: iterations=0 keeps the
    // deterministic lowest-id seed centroids (pure nearest-seed
    // partitioning) so DuckDB replicates assignment + probing bit-for-bit;
    // the kmeans-trained variant (iterations>0) is recall-asserted in
    // SimilaritySpec.
    "q54_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") % 50 === 0), 10,
          nCells = 16, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // k-means cell assignment as a first-class clustering op (corpus
    // bucketing / mixture analysis); seed centroids (iterations=0) are
    // oracle-replicable, the trained variant is recall-spec'd via q54.
    "q59_kmeans_cells" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.assignCells(emb, Similarity.kmeansCentroids(emb, 16, 0))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_ids"))
        .orderBy(col("cell"))
    }),

    // ITERATED k-means (VERDICT r6 #6) — one REAL Lloyd round under the
    // oracle gate (q59/q102 run iterations=0 for determinism; the update
    // step was spec-only until now). The input embeddings are quantized to
    // INTEGER-valued floats (round(x·8)) so the Lloyd mean's sums are
    // exact in every summation order — the one float hazard that made
    // iterations un-oracle-able — while round-2 assignment's dot products
    // stay fixed-fold-order doubles both engines replay bit-equal.
    "q111_kmeans_lloyd" -> ((s, d) => {
      val q = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 8).cast("float")).as("embedding"))
      Similarity.assignCells(q, Similarity.kmeansCentroids(q, 16, 1))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_ids"))
        .orderBy(col("cell"))
    }),

    // The SCALE path of q23: same-bucket candidate pairs only (16
    // hyperplane-LSH buckets) — the plan you'd run at 100 TB. The oracle
    // replicates the deterministic plane matrix bit-for-bit (inlined as
    // DOUBLE[] literals), so candidate scores are exact-checked; recall vs
    // the exact q23 pair set is asserted in SimilaritySpec (single-table
    // LSH recall < 1 by construction).
    // nPlanes is AUTO-sized (= 4 at both gated SFs, so the inlined
    // 4-plane oracle matrix stays pinned; grows as log2(N) at the bench
    // up-legs so the bucketed pair space stays linear — a fixed count
    // would be quadratic at ×100, see Similarity.autoPlanes)
    "q53_embed_neardup_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val planes = fourPlanes(oracleRun, "q53", emb.count())
      Similarity.nearDupPairs(emb, 0.35, 64,
          nPlanes = planes)
        .orderBy(col("a"), col("b"))
    }),

    // The PRODUCTION form of q53 at corpus scale (round-14): hyperplane
    // LSH with a per-bucket population cap — over-full buckets (the two
    // ~30 %-of-corpus tight label clusters no plane count splits, see
    // Similarity.nearDupPairs' doc + q168's bucketProfile) contribute
    // pivot-star edges instead of their quadratic clique, bounding the
    // pair space at cap·N + N. Cap 64 is ACTIVE at both gated SFs, so the
    // star path is exercised and hash-gated, not just spec'd. Same
    // 4-plane-band require as q53 (shared inlined oracle matrix).
    "q167_embed_neardup_capped" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val planes = fourPlanes(oracleRun, "q167", emb.count())
      Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = planes,
          cap = Cap.Fixed(64))
        .orderBy(col("a"), col("b"))
    }),

    // The LSH bucket-population profile — the O(N) pre-flight that makes
    // q167's cap a measured choice instead of a guess: per bucket, the
    // population, the clique pair count an uncapped q53 run would pay,
    // whether the cap trips, and the capped run's actual pair count.
    // All-integer output → exact oracle. Same 4-plane band as q53/q167.
    "q168_lsh_bucket_profile" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val planes = fourPlanes(oracleRun, "q168", emb.count())
      Similarity.bucketProfile(emb, 64, planes,
          maxBucketPop = 64L)
        .orderBy(col("bucket"))
    }),

    // The cap DERIVED from the bucket profile instead of a constant
    // (round-14 ask #5): cap = max(64, 4 × lower-median bucket
    // population), so the operator self-tunes to the measured skew — at
    // sf0.01 the floor dominates (median 8 → cap 64), at sf0.1 the
    // derived term is live (median 41 → cap 164 < the 570/603 tight
    // clusters), so BOTH the derivation arms and the star path are
    // hash-gated. The full integer chain (buckets → median → cap → star
    // filter) is replayed by the oracle. Same 4-plane band as q53/q167.
    "q171_embed_neardup_autocap" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val planes = fourPlanes(oracleRun, "q171", emb.count())
      Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = planes,
          cap = Cap.Derived(64, 4))
        .orderBy(col("a"), col("b"))
    }),

    // The cap's recall trade MEASURED, not asserted (round-15 verdict
    // #4): q53 (uncapped) vs q167 (pivot-star cap, ACTIVE at both gated
    // SFs) diffed at pair AND component grain — lost edges, extra edges
    // (0 by construction, computed as the honesty check), and
    // component-membership agreement (docs whose dedup-group label the
    // cap left unchanged; capped ⊆ full, so capping can only split).
    // The oracle replays BOTH pair chains and BOTH transitive closures.
    // Same 4-plane band as q53/q167 (shared inlined matrix).
    "q178_cap_recall_audit" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val planes = fourPlanes(oracleRun, "q178", emb.count())
      Dedup.capRecallAudit(
        Similarity.nearDupPairs(emb, 0.35, 64,
          nPlanes = planes),
        Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = planes,
          cap = Cap.Fixed(64)))
    }),

    // The same recall audit over the SemDeDup twins: q102's uncapped
    // within-cell pairs vs q169's cell cap 24 — the cap discipline is
    // uniform across LSH buckets and k-means cells (VERDICT r15), so
    // its recall measurement is too. No plane-band guard: the √N seed
    // cells scale identically in both engines at any N.
    "q183_semdedup_cap_audit" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.kmeansCentroids(emb, semDedupCells(emb.count()), 0)
      Dedup.capRecallAudit(
        Similarity.cellNearDupPairs(emb, cents, 0.35),
        Similarity.cellNearDupPairs(emb, cents, 0.35, cap = Cap.Fixed(24)))
    }),

    // q183's audit with the CELL cap's star generalized to the pivot
    // block — the q189 recovery applied uniformly across both capped
    // pair generators (the r14 cap discipline was uniform; its round-17
    // fix is too).
    "q196_semdedup_blockcap_audit" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.kmeansCentroids(emb, semDedupCells(emb.count()), 0)
      Dedup.capRecallAudit(
        Similarity.cellNearDupPairs(emb, cents, 0.35),
        Similarity.cellNearDupPairs(emb, cents, 0.35, cap = Cap.Fixed(24),
          pivots = 256))
    }),

    // q178's audit with the 1-pivot star generalized to the PIVOT BLOCK
    // (round-17, VERDICT r16 #1 — "act on the number the audit
    // produced"): over-cap buckets score every member against the
    // bucket's 256 min-id members instead of one pivot, so recall
    // scales with the block while pair space stays ≤ (256+64)·N.
    // Measured at sf0.1: label agreement 196/1303 (star) → 926/1303
    // (block 256), vs the q183 cell cap's 414/782 — the 15 % → 71 %
    // recovery the round-16 verdict asked for, gated. q196 is the cell
    // twin. Same 4-plane band guard as q178 (shared inlined matrix).
    "q189_blockcap_audit" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val planes = fourPlanes(oracleRun, "q189", emb.count())
      Dedup.capRecallAudit(
        Similarity.nearDupPairs(emb, 0.35, 64,
          nPlanes = planes),
        Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = planes,
          cap = Cap.Fixed(64), pivots = 256))
    }),

    // The two round-17 disciplines COMPOSED into the self-tuning
    // production default: cap DERIVED from the bucket profile (q171's
    // floor ∨ 4·lower-median) AND over-cap buckets kept as pivot BLOCKS
    // (q189's recall recovery) — then the recall audit run on exactly
    // that composition, so the default path's trade is itself a gated
    // number. Same 4-plane band guard as q171/q178.
    "q197_autocap_block_audit" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val planes = fourPlanes(oracleRun, "q197", emb.count())
      Dedup.capRecallAudit(
        Similarity.nearDupPairs(emb, 0.35, 64,
          nPlanes = planes),
        Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = planes,
          cap = Cap.Derived(64, 4), pivots = 256))
    }),

    // kNN label purity — the standard embedding-quality probe over the
    // labeled embeddings table: fraction of each query's exact top-10
    // cosine neighbors sharing its label, aggregated per label. Reuses
    // q24's bit-exact scoring/ranking (bounded TopKAggregator); the
    // purity itself is a ratio of integer counts → oracle-safe.
    "q99_knn_label_purity" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val lbl = emb.select(col("vec_id"), col("label"))
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") % 50 === 0), 10)
        .join(lbl.select(col("vec_id").as("query_id"), col("label").as("q_lbl")),
          Seq("query_id"))
        .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("n_lbl")),
          Seq("neighbor_id"))
        .groupBy(col("q_lbl").as("label"))
        .agg(countDistinct(col("query_id")).as("n_queries"),
          count(when(col("n_lbl") === col("q_lbl"), 1)).as("n_match"),
          count(lit(1)).as("n_pairs"))
        .withColumn("purity",
          round(col("n_match").cast("double") / col("n_pairs"), 6))
        .orderBy(col("label"))
    }),

    // SemDeDup (VERDICT r5 #4) — semantic dedup over the embeddings table:
    // ~√N seed-centroid k-means cells (the paper's docs-per-cell-constant
    // regime — a FIXED cell count degenerates to O(N²/k) pair volume at
    // scale; iterations=0 ⇒ the oracle replays assignment bit-exactly via
    // the shared seed CTE at the same √N), near-dup pairs WITHIN cells
    // only (PlanSpec pins no cartesian/nested-loop in the pair join),
    // components collapsed to min-id canonicals, survivors passed through
    // — kmeansCentroids + cellNearDupPairs + connectedComponentsStar +
    // applyDedup composed.
    "q102_semdedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semDedup(emb, semDedupCells(emb.count()), 0, 0.35)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // SemDeDup under the per-cell population cap (round-14 ask #4): the
    // q167 pivot-star discipline applied to the SemDeDup pair generator —
    // cells over 24 members contribute pivot-star edges instead of their
    // clique. The cap is ACTIVE at both gated SFs (sf0.01: cells of
    // 22-32 members, ~half over; sf0.1: 44-60, most over — q170's profile),
    // and BOTH branches are exercised at the driver's sf0.01 gate, so
    // the star semantics are hash-gated. q102 stays the uncapped
    // verifier form; 24 is the gate-active knob, not a production
    // default (production sizes the cap from q170's profile).
    "q169_semdedup_capped" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semDedup(emb, semDedupCells(emb.count()), 0, 0.35,
          cap = Cap.Fixed(24))
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // The k-means-cell population profile — q168's pre-flight over the
    // SemDeDup pair space: the O(N) scan that tells a run whether any
    // cell IS a tight near-dup cluster (the q53 exposure cells inherit)
    // before paying for within-cell pairs. All-integer output → exact
    // oracle (shared seed-assignment CTE with q102).
    "q170_cell_profile" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.cellProfile(emb,
          Similarity.kmeansCentroids(emb, semDedupCells(emb.count()), 0),
          maxCellPop = 24L)
        .orderBy(col("cell"))
    }),

    // q102's SEMANTIC grouping ON INGEST — SemDeDup's streaming twin
    // (FuzzyIngest's design with k-means cells for LSH bands): vectors
    // stream id-ascending across two file-fed micro-batches; centroids
    // freeze from batch 1's lowest ids (== the batch operator's seeds
    // under the ascending feed), a batch-2 near-dup of a batch-1 vector
    // collapses via the cell-indexed state, and bridging vectors relabel
    // merged groups. Shares q102's oracle verbatim.
    "q118_stream_semdedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      // cell count from the expected corpus scale (the production knob a
      // deployment sizes up front), same √N as the batch operator — the
      // ascending feed then freezes the identical corpus-lowest-id seeds
      val nCells = semDedupCells(emb.count())
      val mid = midOf(emb.agg(min(col("vec_id")), max(col("vec_id"))).head(),
        "embeddings (q118)")
      val root = graft.core.TempDirs.scratch("graft_sem_ingest_")
      implicit val enc: org.apache.spark.sql.Encoder[(Long, Array[Float], Int)] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      import s.implicits._
      StreamHarness.runFilesSink(s,
          Seq(emb.where(col("vec_id") <= mid).as[(Long, Array[Float], Int)],
            emb.where(col("vec_id") > mid).as[(Long, Array[Float], Int)])) {
        (ds, ckpt) =>
          ds.toDF().toDF("vec_id", "embedding", "label").writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, epochId: Long) =>
              graft.streaming.SemIngest.processBatch(
                b.toDF("vec_id", "embedding", "label"), root, epochId, nCells, 0.35)
            }.start()
      }
      val out = graft.streaming.SemIngest.survivors(s, root)
        .orderBy(col("vec_id"))
        .localCheckpoint(true) // materialize before the store dir vanishes
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
      out
    }),

    // SemDeDup centroid RECENTERING under the oracle gate — q118's
    // maintenance op for true unbounded ingest, no longer spec-only. The
    // two halves stream DESCENDING, so the frozen batch-1 quantizer seeds
    // from the HIGH half's lowest ids (an unrepresentative geometry —
    // exactly the drift scenario); `recenter` then refits over the whole
    // store with corpus-lowest-id seeds (lloydRounds = 0 → the same
    // bit-replicable seed partitioning as q54/q102's oracles) and scores
    // every moved vector against its new cellmates. Groups only MERGE, so
    // the survivor set is the min-id members of the components of the
    // UNION of both geometries' within-cell pair sets — which is exactly
    // what the oracle replays (two assignment CTEs, one recursive reach).
    // At the testdata SFs the stale lopsided geometry happens to
    // OVER-discover (few hot cells → more within-cell pairs), so the
    // union degenerates to the frozen set — the gate therefore pins the
    // no-split direction (a full re-geometry must not lose one prior
    // suppression) and the exact union-components contract; the
    // merge-DISCOVERY direction is pinned by SemIngestSpec's planted
    // stale-split pair.
    "q127_semdedup_recenter" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      val nCells = semDedupCells(emb.count())
      val mid = midOf(emb.agg(min(col("vec_id")), max(col("vec_id"))).head(),
        "embeddings (q127)")
      val root = graft.core.TempDirs.scratch("graft_sem_rec_")
      implicit val enc: org.apache.spark.sql.Encoder[(Long, Array[Float], Int)] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      import s.implicits._
      StreamHarness.runFilesSink(s,
          Seq(emb.where(col("vec_id") > mid).as[(Long, Array[Float], Int)],
            emb.where(col("vec_id") <= mid).as[(Long, Array[Float], Int)])) {
        (ds, ckpt) =>
          ds.toDF().toDF("vec_id", "embedding", "label").writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, epochId: Long) =>
              graft.streaming.SemIngest.processBatch(
                b.toDF("vec_id", "embedding", "label"), root, epochId, nCells, 0.35)
            }.start()
      }
      graft.streaming.SemIngest.recenter(s, root, nCells, epochId = 2L,
        threshold = 0.35, lloydRounds = 0)
      val out = graft.streaming.SemIngest.survivors(s, root)
        .orderBy(col("vec_id"))
        .localCheckpoint(true) // materialize before the store dir vanishes
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
      out
    }),

    // The recenter CADENCE under the oracle gate (round-9 ask #3): q118's
    // ingest with the power-of-two trigger wired in — four ascending
    // micro-batches, so the refit fires MID-STREAM at epochs 1 and 2
    // (batch 3 still to come) and runs the full maintenance path
    // (refit + reassign + moved-pair scoring + store rewrite + centroid
    // swap) twice while ingest continues. Under the ascending feed every
    // refit's corpus-lowest-id seeds equal the frozen epoch-0 seeds, so
    // the cadence must preserve the batch operator's partition exactly —
    // shares q102's oracle verbatim. The drift-DISCOVERY direction of a
    // mid-stream firing (stale-split pair found) is pinned by
    // SemIngestSpec's planted scenario.
    "q160_semdedup_cadence" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      val nCells = semDedupCells(emb.count())
      val mm = emb.agg(min(col("vec_id")), max(col("vec_id"))).head()
      require(!mm.isNullAt(0), "empty embeddings feed (q160)")
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val bs = (1 to 3).map(k => lo + (hi - lo) / 4 * k)
      val root = graft.core.TempDirs.scratch("graft_sem_cad_")
      implicit val enc: org.apache.spark.sql.Encoder[(Long, Array[Float], Int)] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      import s.implicits._
      StreamHarness.runFilesSink(s,
          Seq(emb.where(col("vec_id") <= bs(0)),
            emb.where(col("vec_id") > bs(0) && col("vec_id") <= bs(1)),
            emb.where(col("vec_id") > bs(1) && col("vec_id") <= bs(2)),
            emb.where(col("vec_id") > bs(2)))
            .map(_.as[(Long, Array[Float], Int)])) {
        (ds, ckpt) =>
          ds.toDF().toDF("vec_id", "embedding", "label").writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, epochId: Long) =>
              graft.streaming.SemIngest.processBatchWithCadence(
                b.toDF("vec_id", "embedding", "label"), root, epochId, nCells, 0.35)
            }.start()
      }
      val out = graft.streaming.SemIngest.survivors(s, root)
        .orderBy(col("vec_id"))
        .localCheckpoint(true) // materialize before the store dir vanishes
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
      out
    }),

    // Two-stage PQ retrieval: q90's ADC codes shortlist 50 candidates per
    // query, exact cosine re-ranks to top-10 — the IVFADC refine step.
    "q133_ann_pq_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqRerankTopK(emb, emb.where(col("vec_id") % 50 === 0),
          10, 64, shortlist = 50)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF index ON INGEST (AnnIngest): two ascending micro-batches
    // accrete the cell-partitioned store (centroids frozen from batch 1's
    // lowest-id seeds ≡ the corpus seeds under this feed; epoch-dir
    // overwrites make replays idempotent), then the store-backed
    // ivfSearch must equal the batch ivfTopK plan — shares q54's oracle
    // verbatim.
    "q134_stream_ann_ingest" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val mid = midOf(emb.agg(min(col("vec_id")), max(col("vec_id"))).head(),
        "embeddings (q134)")
      val root = graft.core.TempDirs.scratch("graft_ann_ingest_")
      implicit val enc: org.apache.spark.sql.Encoder[(Long, Array[Float])] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      import s.implicits._
      StreamHarness.runFilesSink(s,
          Seq(emb.where(col("vec_id") <= mid).as[(Long, Array[Float])],
            emb.where(col("vec_id") > mid).as[(Long, Array[Float])])) {
        (ds, ckpt) =>
          ds.toDF("vec_id", "embedding").writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, epochId: Long) =>
              graft.streaming.AnnIngest.processBatch(
                b.toDF("vec_id", "embedding"), root, epochId, nCells = 16)
            }.start()
      }
      val out = graft.streaming.AnnIngest.searchStore(s, root,
          Tables.embeddings(s, d).where(col("vec_id") % 50 === 0), 10, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint(true) // materialize before the store dir vanishes
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
      out
    }),

    // Per-group cap ON INGEST (CapIngest): two DESCENDING micro-batches —
    // min-n-by-hash is associative, so unlike the geometry-frozen ingest
    // ops this twin is feed-order independent by construction; a batch-2
    // smaller-hash arrival must EVICT a batch-1 keeper from the store.
    // Shares q136's oracle verbatim.
    // ANN index-quality monitor: recall@10 of the IVF path (q54's exact
    // params) against the brute-force ranking (q24's), per sampled query —
    // the continuous eval a production vector store runs on its index.
    "q138_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.where(col("vec_id") % 50 === 0)
      Similarity.recallAtK(
          Similarity.ivfTopK(emb, qs, 10, nCells = 16, nProbe = 4),
          Similarity.bruteForceTopK(emb, qs, 10))
        .orderBy(col("query_id"))
    }),
  )

  def oracleSql: Map[String, String] = Map(

    "q23_embed_neardup" ->
      s"""WITH v AS (SELECT vec_id, embedding AS e, $nrmSql AS nrm FROM embeddings)
         |SELECT a, b, round(score, 6) AS score FROM (
         | SELECT va.vec_id AS a, vb.vec_id AS b, $dotSql / (va.nrm * vb.nrm) AS score
         | FROM v va JOIN v vb ON va.vec_id < vb.vec_id)
         |WHERE score >= 0.35 ORDER BY a, b""".stripMargin,

    "q24_ann_topk" ->
      s"""WITH v AS (SELECT vec_id, embedding AS e, $nrmSql AS nrm FROM embeddings),
         |scored AS (SELECT va.vec_id AS query_id, vb.vec_id AS neighbor_id,
         |  $dotSql / (va.nrm * vb.nrm) AS score
         | FROM (SELECT * FROM v WHERE vec_id % 50 = 0) va
         | JOIN v vb ON va.vec_id <> vb.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, score,
         |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank"
         | FROM scored)
         |SELECT query_id, neighbor_id, round(score, 6) AS score, "rank" FROM ranked
         |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin,

    // q24's exact scoring/ranking + label joins; purity = integer-count
    // ratio rounded to 6
    "q99_knn_label_purity" ->
      s"""WITH v AS (SELECT vec_id, label, embedding AS e, $nrmSql AS nrm FROM embeddings),
         |scored AS (SELECT va.vec_id AS query_id, va.label AS q_lbl,
         |  vb.vec_id AS neighbor_id, vb.label AS n_lbl,
         |  $dotSql / (va.nrm * vb.nrm) AS score
         | FROM (SELECT * FROM v WHERE vec_id % 50 = 0) va
         | JOIN v vb ON va.vec_id <> vb.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS rnk FROM scored)
         |SELECT q_lbl AS label, count(DISTINCT query_id) AS n_queries,
         |  CAST(sum(CASE WHEN n_lbl = q_lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  count(*) AS n_pairs,
         |  round(CAST(sum(CASE WHEN n_lbl = q_lbl THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS purity
         |FROM ranked WHERE rnk <= 10 GROUP BY 1 ORDER BY 1""".stripMargin,

    // SemDeDup replay: seed-centroid assignment (shared ivfAssignCte),
    // within-cell cosine ≥ 0.35 pairs, components via the same recursive
    // reach CTE as q76/q84/q97, min-id survivors.
    "q102_semdedup" -> semDedupOracle,

    "q118_stream_semdedup" -> semDedupOracle,

    // the cadence's ascending-feed refits are geometric no-ops by seed
    // equality — one oracle with q102/q118
    "q160_semdedup_cadence" -> semDedupOracle,

    // PQ-ADC replication: lowest-16-id seed codebooks per 8-dim subspace,
    // argmin assignment (ties by code), per-query LUT dots, and the ADC
    // score as the same explicit left-to-right 8-term addition.
    "q90_ann_pq" ->
      s"""$pqRankedCtes
         |SELECT query_id, neighbor_id, round(score, 6) AS score, "rank" FROM ranked
         |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin,

    // q90's ADC chain as the SHORTLIST (rank <= 50), then the exact
    // cosine re-rank over only those pairs — mirrors
    // Similarity.pqRerankTopK stage for stage.
    "q133_ann_pq_rerank" ->
      s"""$pqRankedCtes,
         |short AS (SELECT query_id, neighbor_id FROM ranked WHERE "rank" <= 50),
         |v AS (SELECT vec_id, embedding AS e, $nrmSql AS nrm FROM embeddings),
         |ex AS (SELECT s.query_id, s.neighbor_id, $dotSql / (va.nrm * vb.nrm) AS score
         |  FROM short s JOIN v va ON va.vec_id = s.query_id
         |  JOIN v vb ON vb.vec_id = s.neighbor_id),
         |rr AS (SELECT query_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank"
         |  FROM ex)
         |SELECT query_id, neighbor_id, round(score, 6) AS score, "rank" FROM rr
         |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin,

    // q24 on the int8-quantized-then-dequantized store: max-abs scale
    // (nonneg max ≡ Spark's 0.0-seeded fold), half-away-from-zero round,
    // double→float4 reconstruction — then the identical exact top-k.
    "q89_ann_quantized" ->
      s"""WITH qs AS (SELECT vec_id, embedding,
         |  list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
         |    (p, q) -> greatest(p, q)) AS scale FROM embeddings),
         |dq AS (SELECT vec_id,
         |  CASE WHEN scale = 0 THEN list_transform(embedding, x -> CAST(0 AS REAL))
         |  ELSE list_transform(embedding, x -> CAST(
         |    CAST(CAST(round(CAST(x AS DOUBLE) / scale * 127.0e0) AS INTEGER) AS DOUBLE)
         |      * scale / 127.0e0 AS REAL)) END AS e
         |  FROM qs),
         |v AS (SELECT vec_id, e, $nrmSql AS nrm FROM dq),
         |scored AS (SELECT va.vec_id AS query_id, vb.vec_id AS neighbor_id,
         |  $dotSql / (va.nrm * vb.nrm) AS score
         | FROM (SELECT * FROM v WHERE vec_id % 50 = 0) va
         | JOIN v vb ON va.vec_id <> vb.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, score,
         |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank"
         | FROM scored)
         |SELECT query_id, neighbor_id, round(score, 6) AS score, "rank" FROM ranked
         |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin,

    // Multi-probe LSH ANN, exact-checked: buckets from the same inlined
    // plane matrix (12 planes), probe set = bucket XOR {0, 1<<b}; a
    // (query, candidate) pair matches via exactly one probe, so DISTINCT
    // collapses what Spark's groupBy-max dedup does.
    "q25_ann_lsh" ->
      s"""WITH ${lshBucketCte(12, 64)},
         |v AS (SELECT vec_id, embedding AS e, $nrmSql AS nrm FROM embeddings),
         |qp AS (SELECT b.vec_id AS query_id, xor(b.bucket, CAST(m.m AS BIGINT)) AS bucket
         | FROM bkt b CROSS JOIN (VALUES ${(Seq(0L) ++ (0 until 12).map(1L << _)).map(m => s"($m)").mkString(", ")}) m(m)
         | WHERE b.vec_id % 50 = 0),
         |cand AS (SELECT DISTINCT qp.query_id, cb.vec_id AS neighbor_id
         | FROM qp JOIN bkt cb ON cb.bucket = qp.bucket AND cb.vec_id <> qp.query_id),
         |scored AS (SELECT c.query_id, c.neighbor_id, $dotSql / (va.nrm * vb.nrm) AS score
         | FROM cand c JOIN v va ON va.vec_id = c.query_id JOIN v vb ON vb.vec_id = c.neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id, score,
         |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank" FROM scored)
         |SELECT query_id, neighbor_id, round(score, 6) AS score, "rank" FROM ranked
         |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin,

    // IVF with seed centroids: cell ranking uses dist = ‖c‖² − 2·x·c with
    // the identical left-fold dots; ties break by cell id in both engines.
    "q54_ann_ivf" -> ivfTopKOracle,

    "q53_embed_neardup_lsh" ->
      s"""WITH ${lshBucketCte(4, 64)},
         |v AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, b.bucket
         |  FROM embeddings m JOIN bkt b ON m.vec_id = b.vec_id)
         |SELECT a, b, round(score, 6) AS score FROM (
         | SELECT va.vec_id AS a, vb.vec_id AS b, $dotSql / (va.nrm * vb.nrm) AS score
         | FROM v va JOIN v vb ON va.bucket = vb.bucket AND va.vec_id < vb.vec_id)
         |WHERE score >= 0.35 ORDER BY a, b""".stripMargin,

    // q53 under the production per-bucket population cap: buckets over 64
    // members contribute pivot-star pairs only (va = the bucket's min id —
    // vb = pivot can never survive va < vb), small buckets the full q53
    // pair set. Both paths are ACTIVE at the gated SFs (the two tight
    // label clusters exceed the cap at sf0.01 and sf0.1 — see
    // q168's bucketProfile), so the star logic itself is hash-gated.
    "q167_embed_neardup_capped" ->
      s"""WITH ${lshBucketCte(4, 64)},
         |v AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, b.bucket
         |  FROM embeddings m JOIN bkt b ON m.vec_id = b.vec_id),
         |st AS (SELECT bucket, count(*) AS pop, min(vec_id) AS pivot
         |  FROM v GROUP BY bucket)
         |SELECT a, b, round(score, 6) AS score FROM (
         | SELECT va.vec_id AS a, vb.vec_id AS b, $dotSql / (va.nrm * vb.nrm) AS score
         | FROM v va JOIN st ON va.bucket = st.bucket
         |  JOIN v vb ON va.bucket = vb.bucket AND va.vec_id < vb.vec_id
         | WHERE st.pop <= 64 OR va.vec_id = st.pivot)
         |WHERE score >= 0.35 ORDER BY a, b""".stripMargin,

    "q168_lsh_bucket_profile" ->
      s"""WITH ${lshBucketCte(4, 64)}
         |SELECT bucket, pop, (pop * (pop - 1)) // 2 AS clique_pairs,
         |  CAST(pop > 64 AS INT) AS over_cap,
         |  CASE WHEN pop > 64 THEN pop - 1
         |       ELSE (pop * (pop - 1)) // 2 END AS capped_pairs
         |FROM (SELECT bucket, count(*) AS pop FROM bkt GROUP BY bucket)
         |ORDER BY bucket""".stripMargin,

    // q167 with the cap replayed from the profile: lower-median bucket
    // population (the element at 1-based rank (n+1) div 2 under pop-asc
    // order, computed by cumulative counting over distinct pop values —
    // the same scale-safe shape the Spark side uses), cap = greatest(64,
    // 4·median), then the identical star-filtered pair query.
    "q171_embed_neardup_autocap" ->
      s"""WITH ${lshBucketCte(4, 64)},
         |v AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, b.bucket
         |  FROM embeddings m JOIN bkt b ON m.vec_id = b.vec_id),
         |st AS (SELECT bucket, count(*) AS pop, min(vec_id) AS pivot
         |  FROM v GROUP BY bucket),
         |cum AS (SELECT pop, sum(cnt) OVER (ORDER BY pop) AS cum
         |  FROM (SELECT pop, count(*) AS cnt FROM st GROUP BY pop)),
         |cap AS (SELECT greatest(64, 4 * (SELECT min(pop) FROM cum
         |  WHERE cum >= ((SELECT count(*) FROM st) + 1) // 2)) AS cap)
         |SELECT a, b, round(score, 6) AS score FROM (
         | SELECT va.vec_id AS a, vb.vec_id AS b, $dotSql / (va.nrm * vb.nrm) AS score
         | FROM v va JOIN st ON va.bucket = st.bucket CROSS JOIN cap
         |  JOIN v vb ON va.bucket = vb.bucket AND va.vec_id < vb.vec_id
         | WHERE st.pop <= cap.cap OR va.vec_id = st.pivot)
         |WHERE score >= 0.35 ORDER BY a, b""".stripMargin,

    // BOTH the q53 (uncapped) and q167 (capped) pair chains, diffed at
    // pair grain (EXCEPT both ways) and component grain (one recursive
    // transitive closure per pair set, min reachable id = label; capped
    // singletons label themselves). All-integer single row.
    "q178_cap_recall_audit" ->
      s"""WITH RECURSIVE ${lshBucketCte(4, 64)},
         |v AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, b.bucket
         |  FROM embeddings m JOIN bkt b ON m.vec_id = b.vec_id),
         |st AS (SELECT bucket, count(*) AS pop, min(vec_id) AS pivot
         |  FROM v GROUP BY bucket),
         |fp AS (SELECT a, b FROM (
         |  SELECT va.vec_id AS a, vb.vec_id AS b, $dotSql / (va.nrm * vb.nrm) AS score
         |  FROM v va JOIN v vb ON va.bucket = vb.bucket AND va.vec_id < vb.vec_id)
         | WHERE score >= 0.35),
         |cp AS (SELECT a, b FROM (
         |  SELECT va.vec_id AS a, vb.vec_id AS b, $dotSql / (va.nrm * vb.nrm) AS score
         |  FROM v va JOIN st ON va.bucket = st.bucket
         |   JOIN v vb ON va.bucket = vb.bucket AND va.vec_id < vb.vec_id
         |  WHERE st.pop <= 64 OR va.vec_id = st.pivot)
         | WHERE score >= 0.35),
         |$capAuditTailSql""".stripMargin,

    // q178's audit with the capped side swapped for the PIVOT-BLOCK
    // form: the capped pair CTE's left side is (pop <= 64 OR per-bucket
    // row_number <= 256) — the block is the bucket's 256 smallest ids,
    // exactly the Spark window — then the identical recursive closure
    // tail diffs labels against the uncapped chain.
    "q189_blockcap_audit" ->
      s"""WITH RECURSIVE ${lshBucketCte(4, 64)},
         |v AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, b.bucket
         |  FROM embeddings m JOIN bkt b ON m.vec_id = b.vec_id),
         |st AS (SELECT bucket, count(*) AS pop FROM v GROUP BY bucket),
         |rk AS (SELECT vec_id,
         |  row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk
         |  FROM v),
         |fp AS (SELECT a, b FROM (
         |  SELECT va.vec_id AS a, vb.vec_id AS b, $dotSql / (va.nrm * vb.nrm) AS score
         |  FROM v va JOIN v vb ON va.bucket = vb.bucket AND va.vec_id < vb.vec_id)
         | WHERE score >= 0.35),
         |cp AS (SELECT a, b FROM (
         |  SELECT va.vec_id AS a, vb.vec_id AS b, $dotSql / (va.nrm * vb.nrm) AS score
         |  FROM v va JOIN st ON va.bucket = st.bucket
         |   JOIN rk ON va.vec_id = rk.vec_id
         |   JOIN v vb ON va.bucket = vb.bucket AND va.vec_id < vb.vec_id
         |  WHERE st.pop <= 64 OR rk.rk <= 256)
         | WHERE score >= 0.35),
         |$capAuditTailSql""".stripMargin,

    // q189's audit with the constant 64 cap swapped for q171's derived
    // cap (floor 64 ∨ 4·lower-median bucket population, replayed by the
    // same cumulative-counting median) — the capped side is the
    // composed self-tuning default, block filter unchanged.
    "q197_autocap_block_audit" ->
      s"""WITH RECURSIVE ${lshBucketCte(4, 64)},
         |v AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, b.bucket
         |  FROM embeddings m JOIN bkt b ON m.vec_id = b.vec_id),
         |st AS (SELECT bucket, count(*) AS pop FROM v GROUP BY bucket),
         |cum AS (SELECT pop, sum(cnt) OVER (ORDER BY pop) AS cum
         |  FROM (SELECT pop, count(*) AS cnt FROM st GROUP BY pop)),
         |cap AS (SELECT greatest(64, 4 * (SELECT min(pop) FROM cum
         |  WHERE cum >= ((SELECT count(*) FROM st) + 1) // 2)) AS cap),
         |rk AS (SELECT vec_id,
         |  row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk
         |  FROM v),
         |fp AS (SELECT a, b FROM (
         |  SELECT va.vec_id AS a, vb.vec_id AS b, $dotSql / (va.nrm * vb.nrm) AS score
         |  FROM v va JOIN v vb ON va.bucket = vb.bucket AND va.vec_id < vb.vec_id)
         | WHERE score >= 0.35),
         |cp AS (SELECT a, b FROM (
         |  SELECT va.vec_id AS a, vb.vec_id AS b, $dotSql / (va.nrm * vb.nrm) AS score
         |  FROM v va JOIN st ON va.bucket = st.bucket
         |   JOIN rk ON va.vec_id = rk.vec_id CROSS JOIN cap
         |   JOIN v vb ON va.bucket = vb.bucket AND va.vec_id < vb.vec_id
         |  WHERE st.pop <= cap.cap OR rk.rk <= 256)
         | WHERE score >= 0.35),
         |$capAuditTailSql""".stripMargin,

    // The same audit over the SemDeDup twins (q102 uncapped vs q169's
    // cell cap 24) — the cap discipline is uniform across LSH buckets
    // and k-means cells, so its recall measurement is too. Shares the
    // recursive audit tail with q178.
    "q183_semdedup_cap_audit" ->
      s"""WITH RECURSIVE ${ivfAssignCteN(semDedupSeedLimitSql)},
         |v AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, a.cell
         |  FROM embeddings m JOIN assign a ON m.vec_id = a.vec_id),
         |st AS (SELECT cell, count(*) AS pop, min(vec_id) AS pivot
         |  FROM v GROUP BY cell),
         |fp AS (SELECT va.vec_id AS a, vb.vec_id AS b
         |  FROM v va JOIN v vb ON va.cell = vb.cell AND va.vec_id < vb.vec_id
         |  WHERE $dotSql / (va.nrm * vb.nrm) >= 0.35),
         |cp AS (SELECT va.vec_id AS a, vb.vec_id AS b
         |  FROM v va JOIN st ON va.cell = st.cell
         |  JOIN v vb ON va.cell = vb.cell AND va.vec_id < vb.vec_id
         |  WHERE (st.pop <= 24 OR va.vec_id = st.pivot)
         |    AND $dotSql / (va.nrm * vb.nrm) >= 0.35),
         |$capAuditTailSql""".stripMargin,

    // q183's capped side swapped for the cell PIVOT-BLOCK form: the cp
    // CTE's left filter is (pop <= 24 OR per-cell row_number <= 256),
    // then the shared recursive closure tail.
    "q196_semdedup_blockcap_audit" ->
      s"""WITH RECURSIVE ${ivfAssignCteN(semDedupSeedLimitSql)},
         |v AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, a.cell
         |  FROM embeddings m JOIN assign a ON m.vec_id = a.vec_id),
         |st AS (SELECT cell, count(*) AS pop FROM v GROUP BY cell),
         |rk AS (SELECT vec_id,
         |  row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rk
         |  FROM v),
         |fp AS (SELECT va.vec_id AS a, vb.vec_id AS b
         |  FROM v va JOIN v vb ON va.cell = vb.cell AND va.vec_id < vb.vec_id
         |  WHERE $dotSql / (va.nrm * vb.nrm) >= 0.35),
         |cp AS (SELECT va.vec_id AS a, vb.vec_id AS b
         |  FROM v va JOIN st ON va.cell = st.cell
         |  JOIN rk ON va.vec_id = rk.vec_id
         |  JOIN v vb ON va.cell = vb.cell AND va.vec_id < vb.vec_id
         |  WHERE (st.pop <= 24 OR rk.rk <= 256)
         |    AND $dotSql / (va.nrm * vb.nrm) >= 0.35),
         |$capAuditTailSql""".stripMargin,

    // q102's SemDeDup chain with the per-cell cap: same seed-assignment
    // and recursive-reach CTEs, the pair CTE filtered by (pop <= 24 OR
    // va = the cell's min-id pivot) — the capped pair set feeds the
    // identical components collapse.
    "q169_semdedup_capped" ->
      s"""WITH RECURSIVE ${ivfAssignCteN(semDedupSeedLimitSql)},
         |v AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, a.cell
         |  FROM embeddings m JOIN assign a ON m.vec_id = a.vec_id),
         |st AS (SELECT cell, count(*) AS pop, min(vec_id) AS pivot
         |  FROM v GROUP BY cell),
         |e AS (SELECT va.vec_id AS a, vb.vec_id AS b
         |  FROM v va JOIN st ON va.cell = st.cell
         |  JOIN v vb ON va.cell = vb.cell AND va.vec_id < vb.vec_id
         |  WHERE (st.pop <= 24 OR va.vec_id = st.pivot)
         |    AND $dotSql / (va.nrm * vb.nrm) >= 0.35),
         |ee AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM ee)
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN ee e2 ON r.b = e2.a),
         |comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a)
         |SELECT m.vec_id, m.label FROM embeddings m
         |LEFT JOIN comp ON m.vec_id = comp.id
         |WHERE comp.comp IS NULL OR comp.comp = m.vec_id
         |ORDER BY m.vec_id""".stripMargin,

    // the cell-space profile over the shared seed assignment
    "q170_cell_profile" ->
      s"""WITH ${ivfAssignCteN(semDedupSeedLimitSql)}
         |SELECT cell, pop, (pop * (pop - 1)) // 2 AS clique_pairs,
         |  CAST(pop > 24 AS INT) AS over_cap,
         |  CASE WHEN pop > 24 THEN pop - 1
         |       ELSE (pop * (pop - 1)) // 2 END AS capped_pairs
         |FROM (SELECT cell, count(*) AS pop FROM assign GROUP BY cell)
         |ORDER BY cell""".stripMargin,

    "q59_kmeans_cells" ->
      s"""WITH $ivfAssignCte
         |SELECT cell, count(*) AS n_vecs, CAST(sum(vec_id) AS BIGINT) AS sum_ids
         |FROM assign GROUP BY 1 ORDER BY 1""".stripMargin,

    // One Lloyd round replayed exactly: integer-quantized inputs (exact
    // sums in any order), 16 lowest-id seeds, argmin assignment (ties by
    // cell), per-(cell,dim) mean cast to REAL, re-assignment against the
    // trained centroids. Mirrors Similarity.kmeansCentroids(16, 1) +
    // assignCells over the same quantized frame.
    "q111_kmeans_lloyd" ->
      s"""WITH q AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 8) AS REAL)) AS e
         | FROM embeddings),
         |seeds AS (SELECT vec_id AS cell, e AS ce, ${dotOf("e", "e")} AS cn2
         | FROM q WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT 16)),
         |d1 AS (SELECT v.vec_id, s.cell, s.cn2 - 2 * ${dotOf("v.e", "s.ce")} AS dist
         | FROM q v CROSS JOIN seeds s),
         |a1 AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM d1) WHERE rn = 1),
         |mem AS (SELECT a1.cell, q.e FROM a1 JOIN q USING (vec_id)),
         |upd AS (SELECT cell, i, avg(CAST(e[i+1] AS DOUBLE)) AS m
         | FROM mem CROSS JOIN range(64) t(i) GROUP BY 1, 2),
         |cents AS (SELECT cell, list(CAST(m AS REAL) ORDER BY i) AS ce FROM upd GROUP BY cell),
         |cents2 AS (SELECT cell, ce, ${dotOf("ce", "ce")} AS cn2 FROM cents),
         |d2 AS (SELECT v.vec_id, c.cell, c.cn2 - 2 * ${dotOf("v.e", "c.ce")} AS dist
         | FROM q v CROSS JOIN cents2 c),
         |a2 AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM d2) WHERE rn = 1)
         |SELECT cell, count(*) AS n_vecs, CAST(sum(vec_id) AS BIGINT) AS sum_ids
         |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin,

    // Two geometries, one component graph: assignA replays the frozen
    // ingest quantizer (√N lowest ids of the HIGH half — the descending
    // feed's first batch; mid uses the overflow-safe min/2 + max/2 the
    // Spark side computes), assignB the recenter refit (corpus-lowest
    // seeds); survivors = min-id members of the components of the UNION
    // of both geometries' within-cell cosine pairs.
    "q127_semdedup_recenter" -> {
      val midSql = "(SELECT min(vec_id) // 2 + max(vec_id) // 2 FROM embeddings)"
      s"""WITH RECURSIVE ${ivfAssignCteTagged("A", s"WHERE vec_id > $midSql")},
         |${ivfAssignCteTagged("B", "")},
         |vA AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, a.cell
         |  FROM embeddings m JOIN assignA a ON m.vec_id = a.vec_id),
         |vB AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, a.cell
         |  FROM embeddings m JOIN assignB a ON m.vec_id = a.vec_id),
         |eA AS (SELECT va.vec_id AS a, vb.vec_id AS b
         |  FROM vA va JOIN vA vb ON va.cell = vb.cell AND va.vec_id < vb.vec_id
         |  WHERE $dotSql / (va.nrm * vb.nrm) >= 0.35),
         |eB AS (SELECT va.vec_id AS a, vb.vec_id AS b
         |  FROM vB va JOIN vB vb ON va.cell = vb.cell AND va.vec_id < vb.vec_id
         |  WHERE $dotSql / (va.nrm * vb.nrm) >= 0.35),
         |ee AS (SELECT a, b FROM eA UNION SELECT b, a FROM eA
         |  UNION SELECT a, b FROM eB UNION SELECT b, a FROM eB),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM ee)
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN ee e2 ON r.b = e2.a),
         |comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a)
         |SELECT m.vec_id, m.label FROM embeddings m
         |LEFT JOIN comp ON m.vec_id = comp.id
         |WHERE comp.comp IS NULL OR comp.comp = m.vec_id
         |ORDER BY m.vec_id""".stripMargin
    },

    // the ingest-maintained IVF store must answer exactly like the batch
    // plan — one shared oracle with q54
    "q134_stream_ann_ingest" -> ivfTopKOracle,

    // per-query IVF recall vs the exact ranking, both chains recomputed
    "q138_ann_recall" -> annRecallOracle,
  )
}
