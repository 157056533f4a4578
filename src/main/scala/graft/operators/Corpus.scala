package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Corpus-composition operators for training-data pipelines: deterministic
  * sampling (data mixing) and sequence packing. Both are pure declarative
  * plans — no RNG, no driver loops — so corpus builds are REPRODUCIBLE
  * (the same inputs always yield the same corpus, resumable after
  * failure) and oracle-checkable.
  */
object Corpus {

  /** Deterministic stratified sampling — the "mixture weights" step of a
    * corpus build: keep a row iff md5(id) mod 10⁶ < fraction(stratum)·10⁶.
    * Hash-gated, not RNG-gated: membership is a pure function of the row
    * id, stable across runs, engines, partitionings, and retries. One
    * narrow filter pushed at the scan — no shuffle, any scale. */
  def stratifiedSample(
      df: DataFrame,
      idCol: Column,
      stratumCol: Column,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    // thresholds become exact LONG literals driver-side: a runtime
    // `(frac * 1e6).cast(long)` would TRUNCATE (e.g. 0.7 → 699999) while
    // engines that round (DuckDB CAST) say 700000 — the plan must carry
    // one unambiguous integer per stratum
    def ppm(f: Double): Long = math.round(f * 1000000L)
    val threshold = fractions.foldLeft(lit(ppm(defaultFraction))) {
      case (acc, (stratum, f)) => when(stratumCol === stratum, lit(ppm(f))).otherwise(acc)
    }
    df.where(Dedup.md5Long(idCol.cast("string")) % 1000000L < threshold)
  }

  /** Temperature-flattened mixture sampling — the multilingual-corpus
    * rebalance step (the `p_s^α` schedule of multilingual LM training):
    * given the natural stratum shares, sample so the kept corpus follows
    * `w_s ∝ n_s^α` with α = ½ (temperature T = 1/α = 2). Down-sampling
    * only (no row duplication): the keep fraction is
    * `f_s = (w_s/n_s) / max_t(w_t/n_t) = √(n_min / n_s)` — the smallest
    * stratum is kept whole and every larger stratum is hash-thinned
    * toward the flattened share.
    *
    * α is fixed at ½ because `sqrt` is IEEE-exact (correctly rounded) in
    * every engine, so the per-stratum ppm thresholds — and therefore the
    * sampled set — are bit-reproducible cross-engine; an arbitrary-α
    * `pow` carries a ±1 ulp license that could flip a threshold.
    * Membership itself is the same md5-ppm gate as [[stratifiedSample]]:
    * a pure function of the row id, stable across runs and retries.
    *
    * Scale: one map-side-combined count per stratum (strata are few), a
    * 1-row global min under a broadcast, and a broadcast join of the
    * tiny per-stratum threshold table back onto the scan — the corpus
    * itself is touched by exactly one narrow filter pass. */
  def temperatureSample(
      df: DataFrame,
      stratumCol: Column,
      idCol: Column): DataFrame = {
    val counts = df.groupBy(stratumCol.as("_stratum"))
      .agg(count(lit(1)).as("_n"))
    val nMin = counts.agg(min(col("_n")).as("_n_min"))
    val ppm = counts.crossJoin(broadcast(nMin))
      .select(col("_stratum"),
        round(lit(1000000.0) * sqrt(col("_n_min").cast("double")
          / col("_n").cast("double"))).cast("long").as("_ppm"))
    df.join(broadcast(ppm), stratumCol === col("_stratum"))
      .where(Dedup.md5Long(idCol.cast("string")) % 1000000L < col("_ppm"))
      .drop("_stratum", "_ppm")
  }

  /** Per-source curation profile — the domain-level filtering step of a
    * training-data pipeline (the keep/downsample/blocklist decision is
    * made per source/domain before any per-doc scoring): doc and token
    * volumes, language spread, and the intra-source exact-duplicate
    * volume (docs sharing a normalized md5 fingerprint with another doc
    * of the SAME source — a high rate flags mirror/boilerplate domains).
    *
    * Scale: one (source, fingerprint) shuffle with map-side combine,
    * then source grain; the final join is aggregate-to-aggregate on the
    * source key. No doc×doc work, no global sort.
    */
  def sourceProfile(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val t = docs.select(col(sourceCol), col(langCol),
      graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long").as("n_toks"),
      graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))
    val dupVolume = t.groupBy(col(sourceCol), col("fp"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(sourceCol))
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_exact_dup"))
    t.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(col(langCol)).as("n_langs"))
      .join(dupVolume, Seq(sourceCol))
  }

  /** Cross-source duplication matrix — the curation diagnostic behind
    * mixture weights and dedup priorities ("how much of source B is
    * already in source A?"): for every source pair (a ≤ b), the number
    * of distinct content fingerprints present in BOTH, plus the Jaccard
    * of the two fingerprint sets. Diagonal rows (a = b) carry each
    * source's distinct-content count (Jaccard 1).
    *
    * Scale: the pair space rides the fingerprint equi-join over the
    * DISTINCT (source, fp) grain — each fp contributes at most
    * #sources² pair rows (sources are a small constant), never doc×doc;
    * one fp-keyed shuffle plus a sources²-row aggregate out. */
  def crossSourceOverlap(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    // materialized: three consumers (sizes + both self-join sides) would
    // otherwise each re-run the scan+md5+distinct chain — the fp set is
    // the unavoidable working set of the self-join anyway
    val fps = docs.select(col(sourceCol).as("src"),
      graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))
      .distinct()
      .localCheckpoint(true)
    val sizes = fps.groupBy(col("src")).agg(count(lit(1)).as("n"))
    fps.select(col("src").as("src_a"), col("fp"))
      .join(fps.select(col("src").as("src_b"), col("fp")), "fp")
      .where(col("src_a") <= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared")) // (src, fp) rows are distinct
      .join(sizes.select(col("src").as("src_a"), col("n").as("na")), "src_a")
      .join(sizes.select(col("src").as("src_b"), col("n").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared").cast("double")
          / (col("na") + col("nb") - col("n_shared")), 6).as("jaccard"))
  }

  /** Greedy contiguous sequence packing — assign documents to fixed-token
    * bins for training-batch assembly: per stratum, in id order, a doc
    * starts in the bin its cumulative-token offset falls in
    * (`bin = ⌊(cumsum − tokens) / capacity⌋`). The window is PER STRATUM
    * (language, source, shard), so packing parallelizes across strata
    * instead of one global sort — at 100 TB the stratum column is the
    * shard key and each shard packs independently.
    *
    * BOUND: each stratum's cumulative sum is one task (the price of
    * contiguity). Size strata so one stratum's rows fit a task — at
    * corpus scale that means sub-shard ids (`source/part-N`) as the
    * stratum, not whole sources. */
  def packSequences(
      docs: DataFrame,
      capacity: Int,
      stratumCol: Column,
      idCol: Column,
      tokenCountCol: Column): DataFrame = {
    val w = Window.partitionBy(stratumCol).orderBy(idCol)
    docs
      .withColumn("_tok", tokenCountCol.cast("long"))
      .withColumn("_cum", sum(col("_tok")).over(w))
      .withColumn("bin", floor((col("_cum") - col("_tok")) / lit(capacity.toDouble)))
      .drop("_cum")
      .withColumnRenamed("_tok", "n_tokens")
  }

  /** Bounded buffer of the `n` (hash, id) pairs with the smallest hash —
    * [[capPerGroup]]'s per-group state. Same shape as Similarity's
    * TopKAggregator: map-side partial combine, only ≤n rows per
    * (partition, group) ever shuffle, and the hash ordering stays in
    * LONG space end to end (a double-scored heap would lose ulps above
    * 2⁵³ and could disagree with the oracle's exact integer sort). */
  private class KeepNSmallest(n: Int)
      extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {
    private def ins(buf: Seq[(Long, Long)], x: (Long, Long)): Seq[(Long, Long)] = {
      import scala.math.Ordering.Implicits._
      if (buf.size >= n && buf.last < x) buf
      else {
        val i = buf.indexWhere(e => x < e)
        val merged = if (i < 0) buf :+ x else (buf.take(i) :+ x) ++ buf.drop(i)
        if (merged.size > n) merged.take(n) else merged
      }
    }
    override def zero: Seq[(Long, Long)] = Seq.empty
    override def reduce(b: Seq[(Long, Long)], a: (Long, Long)): Seq[(Long, Long)] = ins(b, a)
    override def merge(b1: Seq[(Long, Long)], b2: Seq[(Long, Long)]): Seq[(Long, Long)] =
      b2.foldLeft(b1)(ins)
    override def finish(r: Seq[(Long, Long)]): Seq[(Long, Long)] = r
    override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
      ExpressionEncoder[Seq[(Long, Long)]]()
    override def outputEncoder: Encoder[Seq[(Long, Long)]] =
      ExpressionEncoder[Seq[(Long, Long)]]()
  }

  /** Per-group document cap — the "max N docs per domain/source" curation
    * rule: keep, per group, the `n` rows with the smallest md5(id) — a
    * deterministic uniform-without-replacement subsample (hash order is
    * independent of id order), reproducible across runs and engines.
    *
    * Scale: one groupBy with the bounded [[KeepNSmallest]] heap (map-side
    * combine, ≤n rows per (partition, group) shuffle — never a per-group
    * sort window over all rows), then one semi-join of the ≤ groups·n kept
    * ids back onto the corpus (broadcast when it fits). A 10-billion-doc
    * group costs the same shuffle bytes as a 100-doc group. */
  def capPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      n: Int): DataFrame = {
    val keep = udaf(new KeepNSmallest(n), ExpressionEncoder[(Long, Long)]())
    val keptIds = df
      .select(col(groupCol), col(idCol),
        Dedup.md5Long(col(idCol).cast("string")).as("_h"))
      .groupBy(col(groupCol))
      .agg(keep(col("_h"), col(idCol)).as("_kept"))
      .select(explode(col("_kept")).as("_k"))
      .select(col("_k._2").as("_kid"))
    df.join(keptIds, df(idCol) === col("_kid"), "left_semi")
  }

  /** Token-budget corpus selection — the final step of score-ranked data
    * selection (DSIR/quality-classifier pipelines): keep documents in
    * (score desc, id asc) order while the running token total stays
    * within `budget`; the first doc that would cross the budget, and
    * everything ranked below it, is dropped.
    *
    * A global ordered prefix-sum WITHOUT a single-task window: the rows
    * are range-repartitioned in selection order, each partition's token
    * subtotal is collected (one array bounded by the partition count —
    * the same driver-visible-bound contract as the bucket-id collects),
    * the exclusive prefix offsets broadcast back, and every partition
    * then emits its kept prefix independently. Two narrow passes over a
    * pinned partitioning; each partition's scan is sequential but
    * partitions run in parallel — at 100 TB the range exchange is the
    * only shuffle, and the driver holds #partitions longs, never rows. */
  def selectByTokenBudget(
      docs: DataFrame,
      idCol: String,
      scoreCol: String,
      tokenCol: String,
      budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // pin the partitioning: the subtotal pass and the emit pass must see
    // the identical range splits (range sampling re-runs otherwise)
    val base = docs
      .select(col(idCol).cast("long"), col(scoreCol).cast("double"),
        col(tokenCol).cast("long"))
      .as[(Long, Double, Long)]
      .repartitionByRange(n, col(scoreCol).desc, col(idCol).asc)
      .sortWithinPartitions(col(scoreCol).desc, col(idCol).asc)
      .localCheckpoint(true)
    val sums = base.mapPartitions { it =>
      Iterator.single(
        (org.apache.spark.TaskContext.getPartitionId(), it.map(_._3).sum))
    }.collect().toMap
    val offsets = (0 until base.rdd.getNumPartitions)
      .scanLeft(0L)((acc, p) => acc + sums.getOrElse(p, 0L)).toArray
    val bc = spark.sparkContext.broadcast(offsets)
    base.mapPartitions { it =>
      var cum = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.takeWhile { r => cum += r._3; cum <= budget }
    }.toDF(idCol, scoreCol, tokenCol)
  }

  /** Curation FUNNEL — the per-stage accounting of a full corpus build,
    * the report a pipeline owner reads before shipping a dataset: how
    * many documents each curation stage admitted and dropped, with the
    * stages chained in the production order
    *
    *   exact dedup → Gopher quality filter → per-source cap →
    *   benchmark decontamination (the benchmark docs themselves retire
    *   here too — eval data must not be trained on)
    *
    * Each stage runs the REAL operator ([[Dedup.exact]] keepers,
    * [[TextProfile.gopherFilter]], [[capPerGroup]], the distinct-8-gram
    * semi-join of the contamination screens), so the funnel can never
    * drift from what the operators actually do. Stage outputs are
    * localCheckpoint'ed — each feeds the next stage AND a count, and
    * recomputation would re-run every upstream stage twice per reuse.
    * The driver sees 5 longs; everything else stays distributed.
    */
  def curationFunnel(
      docs: DataFrame,
      capPerSource: Int = 10,
      benchPred: Column = col("doc_id") < 50,
      contamN: Int = 8,
      components: Option[DataFrame] = None): DataFrame = {
    import graft.functions.TextFunctions.shingles
    val spark = docs.sparkSession
    import spark.implicits._
    val n0 = docs.count()
    // dedup stage: near-dup components when the caller supplies them
    // (min-id keeper via Dedup.applyDedup), plain exact-content keepers
    // otherwise
    val s1 = (components match {
      case Some(c) => Dedup.applyDedup(docs, c)
      case None =>
        docs.join(Dedup.exact(docs).select(col("keeper_id").as("doc_id")),
          Seq("doc_id"), "left_semi")
    }).localCheckpoint(true)
    val n1 = s1.count()
    val s2 = s1.join(
        graft.operators.TextProfile.gopherFilter(s1).where(col("keep"))
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val n2 = s2.count()
    val s3 = capPerGroup(s2, "source", "doc_id", capPerSource).localCheckpoint(true)
    val n3 = s3.count()
    val grams = (df: DataFrame) => df.select(col("doc_id"),
      explode(array_distinct(shingles(col("text"), contamN))).as("gram"))
    val cand = s3.where(!benchPred)
    val contaminated = grams(cand)
      .join(grams(docs.where(benchPred)).select(col("gram")).distinct(),
        Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct()
    val n4 = cand.join(contaminated, Seq("doc_id"), "left_anti").count()
    Seq(
      (if (components.isDefined) "a_neardup_dedup" else "a_exact_dedup", n0, n1),
      ("b_gopher_quality", n1, n2),
      ("c_cap_per_source", n2, n3),
      ("d_decontamination", n3, n4))
      .toDF("stage", "n_in", "n_out")
      .withColumn("n_dropped", col("n_in") - col("n_out"))
  }

  /** Weighted sampling WITHOUT replacement — the Efraimidis–Spirakis
    * A-ES scheme (Inf. Proc. Letters 2006) made DETERMINISTIC: each row
    * draws its "uniform" from the md5 of its id (u ∈ (0,1], a dyadic
    * rational — exactly representable, engine-identical), its selection
    * key is `ln(u)/w` (the monotone log form of u^(1/w); higher = more
    * likely kept, heavier rows get keys nearer 0), and the sample is the
    * top-k keys. Reproducible across runs, partitionings, and engines —
    * the property RNG-based `sampleBy` can't give — and weight-faithful:
    * inclusion probability ∝ the A-ES guarantee. Keys are rounded to
    * 6 dp with the id as tiebreak so the cross-engine ±1 ulp license of
    * `ln` can't reorder the cut.
    *
    * Scale: one narrow projection computes the keys, then
    * [[rankByScore]]'s range-partitioned ranking takes the top k — no
    * single-task sort, no per-group window. */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: Column,
      k: Int): DataFrame = {
    require(k > 0, "need k > 0")
    val M = 9007199254740992L // 2^53: u is a dyadic rational, division exact
    val u = (pmod(Dedup.md5Long(col(idCol).cast("string")), lit(M)) + 1L)
      .cast("double") / lit(M.toDouble)
    // A-ES is defined only for w > 0: a zero weight degenerates to
    // -Infinity (never sampled — arguably fine) but a NEGATIVE weight
    // flips ln(u)/w positive so bad rows rank FIRST, and a null weight
    // produces a null key with undefined rank placement. Fail loudly at
    // runtime rather than silently corrupting the sample.
    val w = weightCol.cast("double")
    val guarded = when(w.isNull || w <= 0.0,
        raise_error(concat(lit(s"weightedSample: weight must be > 0, got "),
          coalesce(w.cast("string"), lit("NULL")), lit(s" for $idCol="),
          col(idCol).cast("string"))))
      .otherwise(w)
    val keyed = df.select(col(idCol), guarded.as("weight"),
      round(log(u) / guarded, 6).as("key"))
    rankByScore(keyed.select(col(idCol), col("key")), idCol, "key",
        ascending = false)
      .where(col("rank") <= k)
      .join(keyed.select(col(idCol), col("weight")), Seq(idCol))
      .select(col(idCol), col("weight"), col("key"), col("rank"))
  }

  /** Exact global rank WITHOUT a global window — the distributed form of
    * `row_number() OVER (ORDER BY score, id)`: rows are range-partitioned
    * in rank order, each partition's row count is collected (one array
    * bounded by the partition count — the driver-visible-bound contract
    * of [[selectByTokenBudget]]), the exclusive prefix offsets broadcast
    * back, and every partition then numbers its rows independently. A
    * plain window with no PARTITION BY plans as a single-task sort — the
    * classic 100 TB cliff this avoids; here the range exchange is the
    * only shuffle and partitions rank in parallel. (score, id) is a total
    * order (ids unique), so ranks are deterministic and engine-exact. */
  def rankByScore(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      ascending: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ord =
      if (ascending) Seq(col(scoreCol).asc, col(idCol).asc)
      else Seq(col(scoreCol).desc, col(idCol).asc)
    // pinned partitioning: the count pass and the emit pass must see the
    // identical range splits (range sampling re-runs otherwise)
    val base = df
      .select(col(idCol).cast("long"), col(scoreCol).cast("double"))
      .as[(Long, Double)]
      .repartitionByRange(n, ord: _*)
      .sortWithinPartitions(ord: _*)
      .localCheckpoint(true)
    val counts = base.mapPartitions { it =>
      Iterator.single(
        (org.apache.spark.TaskContext.getPartitionId(), it.length.toLong))
    }.collect().toMap
    val offsets = (0 until base.rdd.getNumPartitions)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L)).toArray
    val bc = spark.sparkContext.broadcast(offsets)
    base.mapPartitions { it =>
      var r = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.map { case (id, s) => r += 1; (id, s, r) }
    }.toDF(idCol, scoreCol, "rank")
  }

  /** Mixture interleave — the training-ORDER schedule that follows the
    * mixture-weights sample: per stratum in id order, a doc's schedule
    * position is `rank / weight`, so a weight-3 stream appears three
    * times as densely as a weight-1 stream in the merged order (the
    * standard temperature/weight interleave of multi-source training
    * runs). Deterministic — a pure function of (id order, weights).
    *
    * Emits the position KEY, not a global index: consumers sort by
    * (mix_pos, stratum, id), a range-partitioned sort — never a
    * single-task global row_number. Per-stratum ranking parallelizes
    * across strata; the packSequences stratum-size bound applies. */
  def mixtureInterleave(
      docs: DataFrame,
      stratumCol: Column,
      idCol: Column,
      weights: Map[String, Double],
      defaultWeight: Double = 1.0): DataFrame = {
    require(weights.values.forall(_ > 0) && defaultWeight > 0,
      "mixture weights must be positive")
    val w = Window.partitionBy(stratumCol).orderBy(idCol)
    val weight = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (s, wt)) => when(stratumCol === s, lit(wt)).otherwise(acc)
    }
    docs
      .withColumn("_rank", row_number().over(w))
      .withColumn("mix_pos", round(col("_rank").cast("double") / weight, 6))
      .drop("_rank")
  }

  /** Token-window chunking — the sequence-prep step that turns documents
    * into fixed-size training/RAG chunks: whitespace tokens are cut into
    * windows of `chunkSize` tokens advancing by `stride` (overlap =
    * chunkSize − stride), and the final window is CLAMPED to end at the
    * last token (the HF-tokenizer `return_overflowing_tokens` rule), so
    * no trailing text is lost and no chunk is shorter than the remainder
    * requires. Documents shorter than one window yield one short chunk.
    *
    * Chunk count per doc is `1 + max(0, ⌈(n − chunkSize)/stride⌉)`,
    * computed with non-negative integer arithmetic (`max(0, ·)` BEFORE
    * the division — floor-vs-truncate division of negatives differs
    * across engines, clamped-at-zero division doesn't).
    *
    * Scale: doc-local `sequence` + `explode` — zero shuffle, stays in
    * whole-stage codegen; a 100 TB corpus chunks at scan speed and the
    * output partitioning inherits the input's. Emits the chunk md5
    * fingerprint, not the text, so the audit output is fixed-width. */
  def chunkByTokens(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkSize: Int = 32,
      stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "need 0 < stride <= chunkSize")
    val w = graft.functions.TextFunctions.tokens(col(textCol))
    docs
      .select(col(idCol), w.as("_w"))
      .withColumn("_n", size(col("_w")).cast("long"))
      .withColumn("_k",
        floor(greatest(lit(0L), col("_n") - chunkSize + (stride - 1)) / stride)
          .cast("long"))
      .select(col(idCol), col("_w"), col("_n"),
        explode(sequence(lit(0L), col("_k"))).as("chunk_id"))
      .withColumn("start_tok",
        least(col("chunk_id") * stride, greatest(lit(0L), col("_n") - chunkSize)))
      .select(
        col(idCol), col("chunk_id"), col("start_tok"),
        least(lit(chunkSize.toLong), col("_n") - col("start_tok")).as("n_tok_chunk"),
        md5(concat_ws(" ",
          slice(col("_w"), (col("start_tok") + 1).cast("int"), lit(chunkSize))))
          .as("chunk_fp"))
  }

  /** Leakage-free holdout split — train/heldout assignment that can never
    * separate exact duplicates across the split boundary (the eval-
    * contamination failure mode): the split is a pure function of the
    * CONTENT fingerprint (md5 of normalized text), not of the row id, so
    * every copy of a duplicated document lands on the same side by
    * construction — no clustering pass needed. The hash-ppm gate is the
    * same deterministic md5 rule as [[stratifiedSample]].
    *
    * Near-duplicate clusters need the connected-components labels
    * ([[Dedup.dedupGroups]]) joined in as the fingerprint instead; this
    * operator is the exact-dup tier that costs nothing.
    *
    * Scale: a pure per-row projection — zero shuffle, codegen'd, runs at
    * scan speed on any corpus size. */
  def holdoutSplit(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      heldoutPpm: Long = 100000L): DataFrame = {
    require(heldoutPpm >= 0 && heldoutPpm <= 1000000L, "ppm in [0, 1e6]")
    val fp = graft.functions.TextFunctions.fingerprint(col(textCol))
    docs.select(
      col(idCol),
      fp.as("cluster_fp"),
      when(Dedup.md5Long(fp) % 1000000L < heldoutPpm, "heldout")
        .otherwise("train").as("split"))
  }

  /** NEAR-dup-aware holdout split — [[holdoutSplit]]'s stronger tier:
    * the split key is the connected-component representative from a
    * near-dup pair graph ([[Dedup.connectedComponentsStar]] over
    * simhash/MinHash candidates), falling back to the doc's own id for
    * docs in no component — so paraphrases and boilerplate variants land
    * on one side together, not just byte-identical copies. The md5-ppm
    * gate on the cluster key keeps assignment deterministic.
    *
    * Scale: one left equi-join of the corpus against the component
    * labels (only docs that appear in a near-dup pair — typically a
    * small fraction, AQE broadcasts it when it fits), then a per-row
    * projection. The pair graph itself is the dedup stack's existing
    * O(log n)-round star CC, not a new cost. */
  def holdoutSplitByClusters(
      docs: DataFrame,
      clusters: DataFrame,
      idCol: String = "doc_id",
      heldoutPpm: Long = 100000L): DataFrame = {
    require(heldoutPpm >= 0 && heldoutPpm <= 1000000L, "ppm in [0, 1e6]")
    val key = coalesce(col("comp"), col(idCol)).cast("long")
    docs
      .join(clusters.select(col("id").as(idCol), col("comp")), Seq(idCol), "left")
      .select(col(idCol), key.as("cluster_key"),
        when(Dedup.md5Long(key.cast("string")) % 1000000L < heldoutPpm, "heldout")
          .otherwise("train").as("split"))
  }

  /** Cross-split contamination screen — after [[holdoutSplit]], measure
    * how much of each heldout document's content also appears in the
    * train side as a word `n`-gram (the train/eval leakage audit; the
    * benchmark-vocab variant is [[Dedup.contaminationProfile]]). Emits,
    * per heldout doc, its distinct-gram count, how many of those grams
    * occur anywhere in train, and the contaminated flag.
    *
    * Scale: all joins ride the GRAM key — per-doc distinct grams explode
    * doc-locally, the train set is gram-distinct (one map-side-combined
    * aggregate), and the hit test is [[Dedup.gramHits]] at gram grain;
    * nothing is ever doc×doc. At 100 TB pass a `bloom` so only probable
    * hits probe the train set; the output does not depend on it. */
  def splitContamination(
      docs: DataFrame,
      splits: DataFrame,
      n: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text",
      bloom: Option[Dedup.Bloom] = None): DataFrame = {
    import graft.functions.TextFunctions.shingles
    val g = docs.join(splits.select(col(idCol), col("split")), Seq(idCol))
      .select(col(idCol), col("split"),
        explode(array_distinct(shingles(col(textCol), n))).as("gram"))
    val train = g.where(col("split") === "train").select(col("gram")).distinct()
    Dedup.gramHits(g.where(col("split") === "heldout").select(col(idCol), col("gram")),
        train, idCol, bloom)
      .select(col(idCol), col("n").as("n_grams"), col("n_hit"),
        (col("n_hit") > 0).as("contaminated"))
  }

  /** One group's waterfilling solution row. */
  final case class Allocation(group: String, avail_toks: Long, weight: Long,
      cap_toks: Long, alloc_toks: Long, epochs_ppm: Long, bound: Boolean)

  /** Epoch-capped mixture-allocation WATERFILLING (the data-constrained
    * budgeting step of an LLM corpus build — Muennighoff et al. 2023
    * motivate the epoch cap: repeating a source beyond a few epochs stops
    * buying loss): given per-source availability `a_s`, mixture weight
    * `w_s`, a total token budget `T` and a per-source repetition cap of
    * `epochCapPpm` ppm epochs (1 150 000 = at most 1.15 passes over a
    * source), split `T` proportionally to the weights; a source that hits
    * its cap is frozen and its surplus re-splits over the UNBOUND sources
    * on the next round — `rounds` fixed rounds, each a no-op once
    * everything is bound or only sub-`|unbound|` integer dust remains
    * (floor division), so the result is a deterministic fixed point, not
    * an until-converged loop.
    *
    * DETERMINISTIC ARITHMETIC (the DuckDB oracle replays every round):
    * counts and allocations are exact BIGINTs; the three derived
    * quantities (cap, per-round give, epochs_ppm) are computed as
    * `floor(double)` with ONE fixed parenthesization — exact while the
    * products stay under 2^53 and bit-identical across engines past it
    * (IEEE doubles), unlike 64-bit integer products which would silently
    * wrap in Spark and error in DuckDB at 100 TB token counts. Weights
    * are caller-supplied magnitudes; keep Σw under 2^53.
    *
    * Scale: `avail` is one row per SOURCE — the distributed work is the
    * caller's per-source aggregate; the solve itself is bounded metadata
    * (the offset-map / bucket-list collect precedent), S rows for S
    * sources, never corpus-grain. */
  def mixtureAllocate(avail: DataFrame, budget: Long, epochCapPpm: Long,
      rounds: Int = 6): DataFrame = {
    val spark = avail.sparkSession
    import spark.implicits._
    val rows = avail.select(
        col("group").cast("string"), col("avail_toks").cast("long"),
        col("weight").cast("long"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    spark.createDataFrame(solveWaterfill(rows, budget, epochCapPpm, rounds))
      .select(col("group"), col("avail_toks"), col("weight"), col("cap_toks"),
        col("alloc_toks"), col("epochs_ppm"), col("bound"))
  }

  /** The driver-side fixed-round solve (see [[mixtureAllocate]]);
    * exposed for specs. */
  private[graft] def solveWaterfill(rows: Seq[(String, Long, Long)],
      budget: Long, epochCapPpm: Long, rounds: Int): Seq[Allocation] = {
    require(rows.forall(_._2 >= 0) && rows.forall(_._3 >= 0),
      "availability and weights must be non-negative")
    // the per-round weight sum below uses plain Long addition, which
    // WRAPS silently — and the DuckDB oracle raises on the same sum's
    // BIGINT cast, so an overflow would be silent divergence, not a loud
    // error (ADVICE r16). The documented contract is Σw < 2^53 (the
    // floor(double) give computation needs it exact anyway); enforce it
    // loudly on the Spark side with an overflow-free BigInt sum.
    require(rows.map(r => BigInt(r._3)).sum < BigInt(1L << 53),
      s"mixtureAllocate: weight sum must stay under 2^53 for exact " +
        s"double arithmetic (got ${rows.map(r => BigInt(r._3)).sum})")
    val cap = rows.map { case (g, a, _) =>
      g -> math.floor((a.toDouble * epochCapPpm.toDouble) / 1000000.0).toLong
    }.toMap
    val alloc = scala.collection.mutable.Map(rows.map(r => r._1 -> 0L): _*)
    for (_ <- 1 to rounds) {
      val rem = budget - alloc.values.sum
      val unbound = rows.filter { case (g, _, _) => alloc(g) < cap(g) }
      val wu = unbound.map(_._3).sum
      if (rem > 0 && wu > 0) unbound.foreach { case (g, _, w) =>
        val give = math.floor((rem.toDouble * w.toDouble) / wu.toDouble).toLong
        alloc(g) += math.min(give, cap(g) - alloc(g))
      }
    }
    rows.map { case (g, a, w) =>
      val al = alloc(g)
      val ep = if (a == 0) 0L
        else math.floor((al.toDouble * 1000000.0) / a.toDouble).toLong
      Allocation(g, a, w, cap(g), al, ep, al >= cap(g))
    }
  }

  /** Per-GROUP token-budget prefix cut — [[selectByTokenBudget]]'s
    * grouped form: within each group, rows in (group, id) order are kept
    * while the group's running token total stays within its budget. The
    * partial-epoch cut of [[mixtureAllocate]]'s apply step, and the
    * general "cut each source at its quota" primitive.
    *
    * Scale (same two-pass range-partition scheme as the single-budget
    * form, never a per-group single-task window): range-repartition on
    * (group, id) — each group spans a contiguous partition run, so a
    * giant source parallelizes across partitions instead of one window
    * task — then per-(partition, group) subtotals (one bounded collect:
    * ≤ partitions + groups entries since the clustering makes each
    * (partition, group) pair contiguous), scan-left offsets on the
    * driver, and a second embarrassingly-parallel pass emits rows whose
    * group-running total stays within budget. */
  def selectByBudgetPerGroup(
      rows: DataFrame, groupCol: String, idCol: String, tokenCol: String,
      budgets: Map[String, Long]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // pinned partitioning: the subtotal pass and the emit pass must see
    // identical range splits (range sampling re-runs otherwise)
    val base = rows
      .select(col(groupCol).cast("string"), col(idCol).cast("long"),
        col(tokenCol).cast("long"))
      .as[(String, Long, Long)]
      .repartitionByRange(n, col(groupCol).asc, col(idCol).asc)
      .sortWithinPartitions(col(groupCol).asc, col(idCol).asc)
      .localCheckpoint(true)
    val sums: Array[(Int, String, Long)] = base.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val m = scala.collection.mutable.LinkedHashMap[String, Long]()
      it.foreach { case (g, _, t) => m.update(g, m.getOrElse(g, 0L) + t) }
      m.iterator.map { case (g, s) => (pid, g, s) }
    }.collect()
    val byGroup = sums.groupBy(_._2)
    val offsets: Map[(Int, String), Long] = sums.map { case (pid, g, _) =>
      (pid, g) -> byGroup(g).iterator.filter(_._1 < pid).map(_._3).sum
    }.toMap
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcBud = spark.sparkContext.broadcast(budgets)
    base.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val cum = scala.collection.mutable.HashMap[String, Long]()
      it.filter { case (g, _, t) =>
        val c = cum.getOrElse(g, bcOff.value.getOrElse((pid, g), 0L)) + t
        cum.update(g, c)
        c <= bcBud.value.getOrElse(g, 0L)
      }
    }.toDF(groupCol, idCol, tokenCol)
  }
}
