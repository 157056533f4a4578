package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import IngestStore.{canonEdges, readStore}

/** Paragraph-grain FUZZY dedup ON INGEST — the streaming twin of
  * `fuzzy` [[graft.operators.Dedup.paragraphDedup]], the same step up from
  * exact ingest dedup (q103/q108's `firstPerKey`) that q109 is from
  * q101: near-identical paragraph variants arriving in LATER
  * micro-batches must collapse into groups whose earliest instance may
  * be batches old.
  *
  * The state is relational, not per-key — a group's membership changes
  * as texts arrive — so it rides two INCREMENTAL bucketed keyed stores
  * ([[Sinks.upsertByKeyPartitioned]]: only the hash buckets a batch's
  * keys land in are rewritten; per-batch I/O is O(batch + touched
  * groups), never O(corpus) — and the store doubles its own bucket
  * count as it grows, so a touched bucket stays `targetBucketBytes`-
  * sized at any corpus scale):
  *
  *  - `texts/` (key `pid`): (pid, para, enc_min, canon) — every
  *    DISTINCT paragraph text seen so far. `pid` is the text's stable
  *    node id (the min encoded (doc, pos) instance of its first batch);
  *    `enc_min` tracks the GLOBAL min instance across all batches (a
  *    later batch can deliver an earlier instance under out-of-order
  *    feeds); `canon` labels the text's fuzzy group.
  *  - `bands/` (key (pid, band)): (pid, band, bandkey) — the LSH index,
  *    what makes candidate discovery an equi-join against state instead
  *    of a re-scan of history. Append-only (a text's signature never
  *    changes); replayed batches re-upsert the same keys, idempotent.
  *
  * Per batch: collapse exact copies in-batch (min enc per text), split
  * known vs new against the texts store, signature+band only the NEW
  * texts, find candidates new-vs-new (band self-join) and new-vs-state
  * (band join against the index), verify exact Jaccard, then resolve
  * groups by running star components over the merge edges with
  * state-side nodes mapped to their CANON — a new text bridging two
  * existing groups relabels both (the incremental union step). Only
  * three row families are written: new texts, rows of RELABELED groups,
  * and rows whose `enc_min` improved — all batch/touched grain.
  *
  * Crash/replay (checkpointed `foreachBatch` contract): bands are
  * written BEFORE texts. A replayed batch whose texts landed is a full
  * no-op (every para known, no candidates, nothing written); a crash
  * between the two writes replays as a full recompute whose band
  * re-upsert is keyed-idempotent. A feed starting mid-chain (missing
  * texts store at epoch > 0) fails loudly instead of silently
  * re-admitting history. Each upsert call is itself crash-atomic per
  * bucket (rename-aside swap in [[Sinks.upsertByKeyPartitioned]]).
  *
  * FEED-ORDER INDEPENDENCE: candidate discovery is complete by
  * induction under ANY feed order (a colliding pair is checked the
  * batch its younger member arrives, and LSH signatures depend only on
  * the text), and the survivor keys are derived from `enc_min` at
  * [[survivors]] time — so any partition of the same instances into
  * batches, in any order, converges to the batch operator's exact
  * keeper set. Node ids (`pid`, `canon`) are arrival-order dependent;
  * survivors are not.
  */
object FuzzyIngest {

  /** Fold one micro-batch of (enc, para) paragraph instances into the
    * store under `root`. `epochId` is the engine's batch id: replays of
    * a committed epoch are no-ops, and a missing store at `epochId > 0`
    * (non-contiguous feed, lost store) aborts instead of silently
    * restarting dedup state from empty. */
  def processBatch(
      batch: DataFrame,
      root: String,
      epochId: Long,
      threshold: Double = 0.4,
      shingleN: Int = 3,
      numPerms: Int = 32,
      bands: Int = 8,
      nBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val textsDir = s"$root/texts"
    val bandsDir = s"$root/bands"
    val state = readStore(spark, textsDir)
    require(epochId == 0L || state.isDefined,
      s"FuzzyIngest: texts store missing at $textsDir for epoch $epochId — " +
        "broken snapshot chain (lost store or non-contiguous feed); refusing " +
        "to silently restart dedup state from empty")
    val stateTexts = state.getOrElse(
      spark.range(0).select(col("id").as("pid"), lit("").as("para"),
        col("id").as("enc_min"), col("id").as("canon")))
    val stateBands = readStore(spark, bandsDir).getOrElse(
      spark.range(0).select(col("id").as("pid"), lit(0).as("band"),
        lit("").as("bandkey")))
    // in-batch exact collapse: one row per distinct text, min instance
    val batchFirst = batch.groupBy(col("para")).agg(min(col("enc")).as("benc"))
    val newTexts = batchFirst
      .join(stateTexts.select(col("para")), Seq("para"), "left_anti")
      .select(col("benc").as("pid"), col("para"))
      .localCheckpoint(true) // consumed by sigs, verify, union below
    val newBands = Dedup.bandedSigs(
        Dedup.minhashSignatures(newTexts, "pid", "para", shingleN, numPerms),
        "pid", bands)
      .select(col("pid"), col("band"), col("bandkey"))
      .localCheckpoint(true)
    // candidates: new-vs-new + new-vs-state — both (band, bandkey)
    // equi-joins, never text×text
    val nn = newBands.select(col("pid").as("a"), col("band"), col("bandkey"))
      .join(newBands.select(col("pid").as("b"), col("band"), col("bandkey")),
        Seq("band", "bandkey"))
      .where(col("a") < col("b"))
    val ns = newBands.select(col("pid").as("a"), col("band"), col("bandkey"))
      .join(stateBands.select(col("pid").as("b"), col("band"), col("bandkey")),
        Seq("band", "bandkey"))
    val cand = nn.select(col("a"), col("b"))
      .unionByName(ns.select(col("a"), col("b"))).distinct()
    val allTexts = newTexts.select(col("pid"), col("para"))
      .unionByName(stateTexts.select(col("pid"), col("para")))
    val pairs = Dedup.jaccardVerify(allTexts, cand, "pid", "para",
      shingleN, threshold)
    // merge resolution: map state-side endpoints to their group CANON so
    // components union whole groups, then min-label via star rounds
    val edges = canonEdges(pairs, stateTexts, "pid")
    val comps =
      if (edges.isEmpty)
        spark.range(0).select(col("id"), col("id").as("comp"))
      else Dedup.connectedComponentsStar(edges)
    val newLabeled = newTexts
      .join(comps.withColumnRenamed("id", "pid"), Seq("pid"), "left")
      .select(col("pid"), col("para"), col("pid").as("enc_min"),
        coalesce(col("comp"), col("pid")).as("canon"))
    // touched state rows ONLY: groups whose canon actually changed, plus
    // texts whose earliest instance improved — batch/touched grain, the
    // complement (untouched corpus) is never read-modified-written
    val relabel = comps.where(col("comp") =!= col("id"))
      .select(col("id").as("canon"), col("comp"))
    val touched = stateTexts
      .join(relabel, Seq("canon"), "left")
      .join(batchFirst, Seq("para"), "left")
      .where(col("comp").isNotNull ||
        (col("benc").isNotNull && col("benc") < col("enc_min")))
      .select(col("pid"), col("para"),
        least(col("enc_min"), coalesce(col("benc"), col("enc_min"))).as("enc_min"),
        coalesce(col("comp"), col("canon")).as("canon"))
    // materialize BOTH write sets before mutating either store: their
    // lineage reads the stores the upserts below rewrite in place
    val textsRows = touched.unionByName(newLabeled)
      .withColumn("_ver", lit(epochId))
      .localCheckpoint(true)
    val bandsRows = newBands.withColumn("_ver", lit(epochId))
    // bands FIRST (see crash/replay contract in the object doc)
    if (!bandsRows.isEmpty)
      Sinks.upsertByKeyPartitioned(bandsRows, Seq("pid", "band"), "_ver",
        bandsDir, nBuckets)
    if (!textsRows.isEmpty)
      Sinks.upsertByKeyPartitioned(textsRows, Seq("pid"), "_ver",
        textsDir, nBuckets)
  }

  /** The surviving keeper keys, decoded to (doc_id, pos) — one per fuzzy
    * group, the corpus-wide earliest instance of the group's earliest
    * text (min `enc_min` within each canon group): exactly the batch
    * operator's keeper set, under ANY feed order. */
  def survivors(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/texts")
      .groupBy(col("canon")).agg(min(col("enc_min")).as("keep"))
      .select(expr(s"keep div ${Dedup.ParaPosEncode}").as("doc_id"),
        pmod(col("keep"), lit(Dedup.ParaPosEncode)).as("pos"))
}
