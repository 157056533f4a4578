package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables, TempDirs}
import graft.operators.{Dedup, TextProfile}
import graft.functions.TextFunctions
import graft.streaming.StreamHarness

import GateSupport._
import OracleSupport._

/** Corpus composition: sampling, packing, splits, contamination, funnels.
  *
  * One gate family of [[graft.SparkEntry]]: `queries` runs each operator
  * over the driver's parquet tables; `oracleSql` is the DuckDB twin the
  * driver hash-compares against (columns aliased identically on both
  * sides — the compare sorts columns by name before hashing). */
private[graft] object CorpusGates {

  /** The 16-merge BPE training, cached per (session, dir) as ONE table
    * (merge rows kind = 'm' + vocab rows kind = 'v') — a single training
    * run serves q179 AND q180/q181/q182 (previously the merge-table and
    * vocab caches each ran the full 16 rounds; round-16 review). */
  private def bpeTrainedCached(s: SparkSession, d: String): DataFrame =
    graft.core.SessionCache(s, s"bpe16train|$d")(
      graft.operators.Bpe.trainedTable(Tables.documents(s, d), 16))

  private def bpeVocabCached(s: SparkSession, d: String): DataFrame =
    bpeTrainedCached(s, d).where(col("kind") === "v")
      .select(col("word"), col("cnt"), col("n_sub"), col("subwords"))

  /** The 1024-merge SEQUENCE-GRAIN training (round-17, VERDICT r16 #2),
    * cached per (session, dir): the driver-local merge loop over the
    * doc_id < 500 sample — one cached merge table serves q190 (the
    * table), q191 (accounting) and q192 (chunking). The table is
    * driver-built (bounded: nMerges rows), so the cache cost is the
    * training itself, once. */
  private def bpeSeqTableCached(s: SparkSession, d: String): DataFrame =
    graft.core.SessionCache(s, s"bpeseq1024|$d")(
      graft.operators.Bpe.bpeSeqMerges(Tables.documents(s, d), 1024, 500L))

  /** The cached merge table as driver-side [[graft.operators.Bpe.Merge]]
    * rows — the encode path embeds them as plan literals. */
  private def bpeSeqMergesCached(s: SparkSession, d: String)
      : Seq[graft.operators.Bpe.Merge] =
    bpeSeqTableCached(s, d).collect()
      .map(r => graft.operators.Bpe.Merge(
        r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_.rank).toSeq

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // deterministic hash-gated stratified sampling (corpus mixture
    // weights): membership is a pure function of doc_id — reproducible
    // across runs/engines/retries, no RNG.
    "q60_stratified_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.stratifiedSample(docs, col("doc_id"),
          TextFunctions.langId(col("text")),
          Map("en" -> 0.5, "cjk" -> 1.0, "unknown" -> 0.125))
        .groupBy(TextFunctions.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang_pred"))
    }),

    // greedy contiguous sequence packing into 2048-token bins, windowed
    // PER STRATUM (language) so packing parallelizes across strata.
    "q61_pack_sequences" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.packSequences(docs, 2048,
          TextFunctions.langId(col("text")), col("doc_id"),
          TextFunctions.tokenCount(col("text")))
        .groupBy(TextFunctions.langId(col("text")).as("lang_pred"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang_pred"), col("bin"))
    }),

    // Mixture interleave (Corpus.mixtureInterleave): the training-order
    // schedule after sampling — per-stratum rank / weight as the merged
    // position key (weight-3 'en' appears 3× as densely as weight-1
    // strata). Range-sort by the key, never a global row_number.
    "q88_mixture_interleave" -> ((s, d) =>
      graft.operators.Corpus.mixtureInterleave(
          Tables.documents(s, d), col("lang"), col("doc_id"),
          Map("en" -> 3.0, "zh" -> 2.0))
        .select(col("doc_id"), col("lang"), col("mix_pos"))
        .orderBy(col("mix_pos"), col("lang"), col("doc_id"))),

    // Contamination n-gram sweep point (VERDICT r3 stretch): the q77 audit
    // at shingleN=5 — longer n-grams are the stricter leak test (fewer
    // incidental collisions); same inverted-index semi-join shape.
    "q86_contamination_n5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationProfile(
          docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50),
          shingleN = 5)
        .orderBy(col("doc_id"))
    }),

    // Decontamination: per candidate doc (id ≥ 50), the fraction of its
    // distinct 3-gram shingles that occur anywhere in the benchmark set
    // (id < 50) — the train/test-leakage audit.
    "q77_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationProfile(
          docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50))
        .orderBy(col("doc_id"))
    }),

    // q77's 100 TB shape (round-9 ask #4): broadcast-Bloom pre-screen on
    // the benchmark shingle vocabulary, exact join only for the probable
    // hits. No false negatives + exact FP rescue ⇒ output bloom-
    // independent — shares q77's oracle verbatim. expectedItems is set
    // BELOW the real vocab size so the filter runs saturated and the
    // rescue path is exercised under the gate, not just in spec.
    "q158_contamination_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationProfileBloom(
          docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50),
          expectedItems = 100L)
        .orderBy(col("doc_id"))
    }),

    // Per-source curation profile (Corpus.sourceProfile): the
    // domain-level keep/downsample decision input — volumes, language
    // spread, intra-source exact-dup volume per source.
    "q98_source_profile" -> ((s, d) =>
      graft.operators.Corpus.sourceProfile(Tables.documents(s, d))
        .orderBy(col("source"))),

    // END-TO-END curation pipeline — the composition proof: paragraph
    // dedup (q101) feeds language-ID + token counting (q15/q16) feeds
    // hash-gated stratified sampling (q60), all over the DEDUPED text.
    // A reference user's whole curation run is one declarative plan —
    // Catalyst fuses the stages; nothing materializes between them.
    "q107_curation_pipeline" -> ((s, d) => {
      val deduped = Dedup.paragraphDedup(Tables.documents(s, d), 10)
        .where(col("n_kept") > 0)
        .select(col("doc_id"), col("kept_text").as("text"))
      val sampled = graft.operators.Corpus.stratifiedSample(deduped,
        col("doc_id"), TextFunctions.langId(col("text")),
        Map("en" -> 0.5, "cjk" -> 1.0, "unknown" -> 0.125))
      sampled.groupBy(TextFunctions.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("sum_tokens"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang_pred"))
    }),

    // Cross-source duplication matrix — the mixture-weights diagnostic
    // next to q98's per-source profile: distinct shared fingerprints and
    // set-Jaccard per source pair. Pair space is fp-equi-join bounded
    // (≤ sources² rows per fingerprint), never doc×doc. The synthetic
    // corpus's exact dups are within-source only, so the gate pins the
    // diagonal + correct ABSENCE of cross rows; CorpusSpec plants the
    // cross-source case.
    "q129_cross_source_overlap" -> ((s, d) =>
      graft.operators.Corpus.crossSourceOverlap(Tables.documents(s, d))
        .orderBy(col("src_a"), col("src_b"))),

    // Temperature-flattened mixture sampling (T=2, α=½): the
    // multilingual rebalance next to q60's FIXED-weight sample — per-lang
    // keep fraction √(n_min/n_lang) derived from the observed counts, so
    // the dominant language thins toward the flattened share while the
    // smallest is kept whole. Gate pins the kept set per stratum (count +
    // id checksum).
    "q130_temperature_sample" -> ((s, d) =>
      graft.operators.Corpus.temperatureSample(
          Tables.documents(s, d), col("lang"), col("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))),

    // Token-budget selection: q132's importance scores ranked into a
    // half-the-corpus token budget via the distributed prefix scan — the
    // DSIR selection step end-to-end.
    "q135_budget_select" -> ((s, d) => {
      val iw = TextProfile.importanceWeight(
        Tables.documents(s, d), col("lang") === "en")
      val budget = iw.agg(sum(col("n_toks"))).head().getLong(0) / 2
      graft.operators.Corpus.selectByTokenBudget(
          iw, "doc_id", "importance_u", "n_toks", budget)
        .orderBy(col("doc_id"))
    }),

    // Per-group cap: ≤10 docs per source by smallest md5(id) — the
    // deterministic "max docs per domain" rule, bounded-heap aggregated
    // (≤n rows per (partition, group) shuffle, no per-group sort window).
    "q136_cap_per_group" -> ((s, d) =>
      graft.operators.Corpus.capPerGroup(
          Tables.documents(s, d), "source", "doc_id", 10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    "q137_stream_cap_per_group" -> ((s, d) => TempDirs.withScratch("graft_cap_ingest_") { root =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val mid = midOf(docs.agg(min(col("doc_id")), max(col("doc_id"))).head(),
        "documents (q137)")
      StreamHarness.runBatches(s,
          Seq(docs.where(col("doc_id") > mid), docs.where(col("doc_id") <= mid))) {
        (b, epochId) =>
          graft.streaming.CapIngest.processBatch(b, root, epochId, 10, "source", "doc_id")
      }
      graft.streaming.CapIngest.survivors(s, root, "source", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Token-window chunking: 32-token windows, stride 24, clamped tail —
    // the sequence-prep step between curation and tokenization. Doc-local
    // explode, zero shuffle; chunks pinned by md5 fingerprint.
    "q139_token_chunk" -> ((s, d) =>
      graft.operators.Corpus.chunkByTokens(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- corpus-trained BPE (round-15 verdict #3): subword accounting ----
    // ONE cached training (bpeTrainedCached: merge rows + vocab rows in
    // one table, SessionCache per (session, corpus dir)) serves all four
    // consumers — q179 reads the merge rows, q180/q181/q182 the vocab
    // rows; previously the merge table and vocab each trained separately.

    // The 16-round merge table: highest-frequency adjacent symbol pair
    // per round under the fixed (count desc, lhs, rhs) tie order. The
    // oracle replays ALL 16 training rounds (pair counts → argmax →
    // sentinel-string replace) over the same word-frequency vocab.
    "q179_bpe_merges" -> ((s, d) =>
      bpeTrainedCached(s, d).where(col("kind") === "m")
        .select(col("rank"), col("lhs"), col("rhs"), col("pair_count"))
        .orderBy(col("rank"))),

    // Per-doc SUBWORD token accounting under the q179 merges: every word
    // occurrence joined to the trained vocab's final symbol count.
    "q180_bpe_token_counts" -> ((s, d) =>
      graft.operators.Bpe.tokenCountsFromVocab(
          Tables.documents(s, d), bpeVocabCached(s, d))
        .orderBy(col("doc_id"))),

    // q135's DSIR budget selection with the token metric REPLACED by BPE
    // subword counts — the budget a training run actually pays. Same
    // importance scores, same distributed prefix scan; only the token
    // column (and therefore the half-corpus budget and the kept prefix)
    // moves.
    "q181_bpe_budget_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val iw = TextProfile.importanceWeight(docs, col("lang") === "en")
        .select(col("doc_id"), col("importance_u"))
      val bc = graft.operators.Bpe.tokenCountsFromVocab(docs, bpeVocabCached(s, d))
        .select(col("doc_id"), col("n_bpe_tokens"))
      val joined = iw.join(bc, Seq("doc_id"))
      val budget = joined.agg(sum(col("n_bpe_tokens"))).head().getLong(0) / 2
      graft.operators.Corpus.selectByTokenBudget(
          joined, "doc_id", "importance_u", "n_bpe_tokens", budget)
        .orderBy(col("doc_id"))
    }),

    // q139's sliding windows over the SUBWORD stream: each doc's words
    // replaced by their trained subword sequences in word order, then the
    // identical 32/24 clamped-tail chunk math + md5 fingerprints.
    "q182_bpe_chunk" -> ((s, d) =>
      graft.operators.Bpe.chunksFromVocab(
          Tables.documents(s, d), bpeVocabCached(s, d))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- tokenizer-grade BPE (round-17, VERDICT r16 #2): 1024 merges ----
    // Training moved DRIVER-LOCAL (one distributed vocab aggregate, then
    // an in-memory merge loop — the solveWaterfill shape), which removes
    // the one-Spark-job-per-merge round-trip the r16 verdict flagged.
    // ≥1024 merges are unreachable at word grain on this corpus (its
    // closed 31-word vocabulary caps intra-word merges at Σ(len−1) =
    // 107), so the tokenizer-grade gate trains at SEQUENCE grain
    // (SentencePiece --split_by_whitespace=false: merges may join across
    // the token boundary) on the deterministic doc_id < 500 sample —
    // sample-bounded training + distributed encode IS the production
    // tokenizer shape. The oracle replays all 1024 rounds as ONE
    // recursive CTE (the unrolled per-round chain hits DuckDB's
    // 1000-deep binder limit at ~256 rounds).

    // The 1024-round merge table itself — every round's (count desc,
    // lhs, rhs) argmax oracle-replayed.
    "q190_bpe1k_merges" -> ((s, d) =>
      bpeSeqTableCached(s, d).orderBy(col("rank"))),

    // q180 re-gated on the tokenizer-grade table: per-doc subword counts
    // under the 1024-merge model, out-of-sample docs encoded by the
    // frozen model (replay encode — one narrow fold, zero shuffle).
    "q191_bpe1k_token_counts" -> ((s, d) =>
      graft.operators.Bpe.seqTokenCounts(
          Tables.documents(s, d), bpeSeqMergesCached(s, d))
        .orderBy(col("doc_id"))),

    // q182 re-gated on the tokenizer-grade table: the identical 32/24
    // clamped-tail chunk windows over the sequence-grain subword stream.
    "q192_bpe1k_chunk" -> ((s, d) =>
      graft.operators.Bpe.seqChunks(
          Tables.documents(s, d), bpeSeqMergesCached(s, d))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- frozen-vocab OOV char-fallback (round-17, VERDICT r16 #3) ----
    // q180's twin over a corpus DISJOINT from training: the scored set is
    // documents (every word in the frozen 16-merge vocab — the in-vocab
    // arm) UNION the part-name pseudo-docs (p_partkey + 1e6, p_name as
    // text: a disjoint vocabulary, so the char-fallback arm is
    // structurally ACTIVE at every SF). OOV words count length(word)
    // subwords — the GPT-2/SentencePiece byte-fallback shape at char
    // grain — instead of raising.
    "q193_bpe_oov_fallback" -> ((s, d) => {
      val held = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(Tables.part(s, d).select(
          (col("p_partkey") + 1000000L).as("doc_id"),
          col("p_name").as("text")))
      graft.operators.Bpe.tokenCountsFromVocabFallback(held, bpeVocabCached(s, d))
        .orderBy(col("doc_id"))
    }),

    // Leakage-free holdout split: split is a pure function of the CONTENT
    // fingerprint, so exact dups can never straddle train/heldout. 10%
    // heldout via the md5-ppm gate.
    "q140_holdout_split" -> ((s, d) =>
      graft.operators.Corpus.holdoutSplit(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // Cross-split 8-gram contamination audit over q140's split: per
    // heldout doc, distinct grams / grams also in train / flag. All joins
    // at gram grain, never doc×doc.
    "q141_split_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.splitContamination(
          docs, graft.operators.Corpus.holdoutSplit(docs))
        .orderBy(col("doc_id"))
    }),

    // q141's 100 TB shape (round-9 ask #4): the train gram set screened
    // by a broadcast Bloom filter, only probable hits paying the exact
    // semi-join. Output provably filter-independent — shares q141's
    // oracle verbatim; expectedItems below the real gram count keeps the
    // filter saturated so the rescue join is active under the gate.
    "q159_split_contamination_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.splitContaminationBloom(
          docs, graft.operators.Corpus.holdoutSplit(docs),
          expectedItems = 1000L)
        .orderBy(col("doc_id"))
    }),

    // NEAR-dup-aware holdout split: q140's rule keyed by q84/q97's
    // simhash component representative, so paraphrase variants can't
    // straddle train/heldout either. Shares q97's component chain.
    "q142_neardup_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.holdoutSplitByClusters(docs,
          Dedup.connectedComponentsStar(
            Dedup.simhashNearDups(Dedup.simhash(docs))))
        .orderBy(col("doc_id"))
    }),

    // Curation FUNNEL: the per-stage drop accounting of the full build —
    // simhash NEAR-dup dedup (q97's components) → Gopher quality →
    // per-source cap → decontamination (benchmark docs retire with their
    // overlaps). Every stage is the real operator; the gate pins all
    // four in/out counts at once.
    "q153_curation_funnel" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.curationFunnel(docs,
          components = Some(Dedup.connectedComponentsStar(
            Dedup.simhashNearDups(Dedup.simhash(docs)))))
        .orderBy(col("stage"))
    }),

    // Deterministic weighted sampling without replacement (A-ES): docs
    // weighted by n_chars, top-100 of the md5-derived ln(u)/w keys —
    // reproducible across engines, weight-faithful, no single-task sort.
    "q156_weighted_sample" -> ((s, d) =>
      graft.operators.Corpus.weightedSample(
          Tables.documents(s, d), "doc_id", col("n_chars"), 100)
        .orderBy(col("rank"))),

    // Epoch-capped mixture allocation (Corpus.mixtureAllocate): per-source
    // availability = whitespace-token totals, weight = squared en-char
    // mass (a deliberately skewed data-derived proxy for caller-supplied
    // mixture weights — the square spreads the shares so the 1.15-epoch
    // cap BINDS and surplus redistribution runs at both gated SFs),
    // budget = one epoch of the whole corpus. The oracle replays all 6
    // waterfilling rounds as MATERIALIZED CTEs.
    "q186_mixture_allocate" -> ((s, d) => {
      val aw = mixtureAvail(s, d)
      val budget = aw.agg(sum(col("avail_toks"))).head().getLong(0)
      graft.operators.Corpus.mixtureAllocate(aw, budget, 1150000L)
        .select(col("group").as("source"), col("avail_toks"), col("weight"),
          col("cap_toks"), col("alloc_toks"), col("epochs_ppm"), col("bound"))
        .orderBy(col("source"))
    }),

    // q186's allocation APPLIED: full epochs = alloc div avail per
    // source; the partial epoch is a per-source token-budget prefix cut
    // in (source, doc_id) order — Corpus.selectByBudgetPerGroup, the
    // grouped range-partitioned prefix scan (never a per-source
    // single-task window). Output = the materialization plan
    // (doc_id, source, n_copies).
    "q187_epoch_plan" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val aw = mixtureAvail(s, d)
      val budget = aw.agg(sum(col("avail_toks"))).head().getLong(0)
      val sol = graft.operators.Corpus
        .mixtureAllocate(aw, budget, 1150000L).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
        .filter(_._2 > 0) // a zero-token source has no epochs to plan
      val full = sol.map { case (g, a, al) => (g, al / a) }.toSeq
      val rem = sol.map { case (g, a, al) => g -> (al % a) }.toMap
      val dt = docs.select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("t"))
      val extra = graft.operators.Corpus
        .selectByBudgetPerGroup(dt, "source", "doc_id", "t", rem)
        .select(col("doc_id"), lit(1).as("_x"))
      import s.implicits._
      dt.join(broadcast(full.toDF("source", "full")), Seq("source"))
        .join(extra, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          (col("full") + when(col("_x").isNotNull, 1L).otherwise(0L))
            .as("n_copies"))
        .where(col("n_copies") > 0)
        .orderBy(col("doc_id"))
    }),
  )

  /** q186/q187's per-source availability/weight inputs — mirrors the
    * oracle's `aw`/`ab` CTEs: avail = Σ whitespace tokens, weight =
    * (Σ en-doc n_chars)². */
  private def mixtureAvail(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source").as("group"))
      .agg(sum(TextFunctions.tokenCount(col("text")).cast("long"))
          .as("avail_toks"),
        sum(when(col("lang") === "en", col("n_chars")).otherwise(0L)).as("ec"))
      .select(col("group"), col("avail_toks"),
        // the square must stay inside Long: Spark would wrap SILENTLY
        // where DuckDB raises, so fail loudly at the same boundary
        // (~3e9 en-chars per source; production passes explicit weights)
        (when(col("ec") > lit(3037000499L),
          raise_error(concat(lit("mixture weight overflow: en-char mass "),
            col("ec").cast("string"),
            lit(" squares past Long range — pass explicit weights"))))
          .otherwise(col("ec")) * col("ec")).as("weight"))

  /** q77's replay, shared verbatim by the bloom-screened q158 — the
    * pre-filter must be invisible in the result. */
  private val contaminationOracle: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
       |s1 AS (SELECT doc_id, unnest(list_distinct($sh3Sql)) AS sh FROM t WHERE doc_id >= 50),
       |bs AS (SELECT DISTINCT sh FROM
       |  (SELECT unnest(list_distinct($sh3Sql)) AS sh FROM t WHERE doc_id < 50)),
       |j AS (SELECT s1.doc_id, count(*) AS n_shingles,
       |  sum(CASE WHEN bs.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_contaminated
       | FROM s1 LEFT JOIN bs ON s1.sh = bs.sh GROUP BY 1)
       |SELECT doc_id, n_shingles, CAST(n_contaminated AS BIGINT) AS n_contaminated,
       | round(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contam_frac
       |FROM j ORDER BY doc_id""".stripMargin

  /** q141's replay, shared verbatim by the bloom-screened q159. */
  private val splitContaminationOracle: String =
    s"""WITH sp AS (SELECT doc_id, text,
       |    CASE WHEN ${hexLongSql(s"md5($normalizedSql)")} % 1000000 < 100000
       |      THEN 'heldout' ELSE 'train' END AS split FROM documents),
       |t AS (SELECT doc_id, split, $toksSql AS w FROM sp),
       |g AS (SELECT doc_id, split, unnest(list_distinct(${shNSql(8)})) AS gram FROM t),
       |tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
       |he AS (SELECT doc_id, gram FROM g WHERE split = 'heldout'),
       |hit AS (SELECT doc_id, count(*) AS n_hit FROM he JOIN tr USING (gram) GROUP BY 1),
       |ng AS (SELECT doc_id, count(*) AS n_grams FROM he GROUP BY 1)
       |SELECT ng.doc_id, n_grams, COALESCE(n_hit, 0) AS n_hit,
       |  COALESCE(n_hit, 0) > 0 AS contaminated
       |FROM ng LEFT JOIN hit USING (doc_id) ORDER BY doc_id""".stripMargin

  /** The BPE training replay: n unrolled rounds over the word-frequency
    * vocab. Round r: split round r−1's sentinel-wrapped symbol strings,
    * count adjacent pairs weighted by word count, pick the (count desc,
    * lhs, rhs) argmax, apply it with ONE sentinel-pattern replace()
    * (left-to-right non-overlapping in both engines — see
    * operators/Bpe.scala's class doc for why the per-symbol wrapping
    * makes that exact). The U+0001 sentinel is embedded literally in the
    * SQL (Verify's JSON escaper emits it as \\u0001). */
  private def bpeCtes(n: Int): String = {
    val p = graft.operators.Bpe.Sep
    // stN MUST be MATERIALIZED: each round reads st(r−1) TWICE (pair
    // counts + replace), so plain CTE inlining would expand the chain
    // 2^n-fold — 16 rounds = 65k scans of `documents` (observed as fd
    // exhaustion). Materializing pins each round to one evaluation.
    val init =
      s"""wt AS (SELECT tok AS word, count(*) AS cnt
         |  FROM (SELECT unnest($toksSql) AS tok FROM documents) GROUP BY tok),
         |st0 AS MATERIALIZED (SELECT word, cnt,
         |  '$p' || array_to_string(list_transform(range(1, length(word) + 1),
         |    i -> substring(word, i, 1)), '$p$p') || '$p' AS s FROM wt)""".stripMargin
    val rounds = (1 to n).map { r =>
      s""",
         |sy$r AS (SELECT cnt, a FROM (SELECT cnt,
         |    string_split(substr(s, 2, length(s) - 2), '$p$p') AS a FROM st${r - 1})
         |  WHERE len(a) >= 2),
         |pr$r AS (SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, unnest(list_transform(range(1, len(a)),
         |    i -> struct_pack(l := a[i], r := a[i+1]))) AS p FROM sy$r)
         |  GROUP BY 1, 2),
         |bs$r AS (SELECT l, r, c FROM pr$r ORDER BY c DESC, l, r LIMIT 1),
         |st$r AS MATERIALIZED (SELECT word, cnt,
         |  replace(s, '$p' || l || '$p$p' || r || '$p', '$p' || l || r || '$p') AS s
         |  FROM st${r - 1} CROSS JOIN bs$r)""".stripMargin
    }.mkString
    init + rounds
  }

  /** (word, n_sub, subwords) from the final training state. */
  private def bpeVocabCte(n: Int): String = {
    val p = graft.operators.Bpe.Sep
    s"""bsy AS (SELECT word, string_split(substr(s, 2, length(s) - 2), '$p$p') AS sy FROM st$n),
       |vocab AS (SELECT word, CAST(len(sy) AS BIGINT) AS n_sub,
       |  array_to_string(sy, ' ') AS subwords FROM bsy)""".stripMargin
  }

  /** The SEQUENCE-GRAIN 1024-merge training replay as ONE RECURSIVE CTE
    * (round-17): DuckDB's binder caps expression depth at 1000, so the
    * unrolled per-round chain (bpeCtes' form, ~4 CTEs per round) cannot
    * reach 1024 rounds in a single statement — and the driver executes
    * oracle SQL as exactly one statement. The recursive form carries the
    * (seq, cnt, s) sample rows through iterations and each step picks
    * the (count desc, lhs, rhs) argmax with GROUP BY + ORDER BY/LIMIT
    * inside the recursive term (DuckDB supports both there; measured
    * ~18 s for 1024 rounds at sf0.01). Merge rows ride every vocab row
    * of the NEXT iteration and are projected out distinct at the end.
    * Exposes `rec`; [[bpeSeqMergeCte]] adds `mg(rank, lhs, rhs, c)`. */
  private def bpeSeqRecCte(n: Int, sample: Long): String = {
    val p = graft.operators.Bpe.Sep
    s"""base AS (SELECT seq FROM (SELECT array_to_string($toksSql, ' ') AS seq
       |    FROM documents WHERE doc_id < $sample) WHERE length(seq) > 0),
       |wt AS (SELECT seq, count(*) AS cnt FROM base GROUP BY seq),
       |st0 AS (SELECT seq, cnt,
       |  '$p' || array_to_string(string_split(seq, ' '), '$p$p') || '$p' AS s FROM wt),
       |rec AS (
       |  SELECT 0 AS it, seq, cnt, s,
       |    CAST(NULL AS VARCHAR) AS lhs, CAST(NULL AS VARCHAR) AS rhs,
       |    CAST(NULL AS BIGINT) AS c
       |  FROM st0
       |  UNION ALL
       |  SELECT it + 1, seq, cnt,
       |    replace(s, '$p' || bw.l || '$p$p' || bw.r || '$p',
       |               '$p' || bw.l || ' ' || bw.r || '$p') AS s,
       |    bw.l, bw.r, bw.c
       |  FROM rec CROSS JOIN (
       |    SELECT l, r, c FROM (
       |      SELECT pp.l AS l, pp.r AS r, CAST(sum(cnt) AS BIGINT) AS c
       |      FROM (SELECT cnt, unnest(list_transform(range(1, len(a)),
       |              i -> struct_pack(l := a[i], r := a[i+1]))) AS pp
       |            FROM (SELECT cnt, string_split(substr(s, 2, length(s) - 2), '$p$p') AS a
       |                  FROM rec) WHERE len(a) >= 2)
       |      GROUP BY 1, 2
       |    ) ORDER BY c DESC, l, r LIMIT 1
       |  ) bw
       |  WHERE it < $n
       |)""".stripMargin
  }

  /** `mg(rank, lhs, rhs, c)` — the distinct merge log of [[bpeSeqRecCte]]. */
  private def bpeSeqMergeCte: String =
    s"""mg AS (SELECT it AS rank, lhs, rhs, c
       |  FROM (SELECT DISTINCT it, lhs, rhs, c FROM rec WHERE it >= 1))""".stripMargin

  /** `enc(doc_id, syms)` — the replay encode of ALL docs under `mg`: the
    * ranked merges fold through each doc's sentinel-wrapped sequence via
    * list_reduce (one replace per merge — the exact training application
    * order, mirrored by Spark's aggregate() fold). chr(4) separates
    * pattern from replacement inside the folded merge strings (it cannot
    * occur in either: symbols are real text + U+0001 sentinels). */
  private def bpeSeqEncodeCte: String = {
    val p = graft.operators.Bpe.Sep
    s"""mgl AS (SELECT list('$p' || lhs || '$p$p' || rhs || '$p' || chr(4) ||
       |    '$p' || lhs || ' ' || rhs || '$p' ORDER BY rank) AS ms FROM mg),
       |d0 AS (SELECT doc_id,
       |    '$p' || array_to_string($toksSql, '$p$p') || '$p' AS s0
       |  FROM documents WHERE len($toksSql) >= 1),
       |enc AS (SELECT doc_id,
       |    string_split(substr(sf, 2, length(sf) - 2), '$p$p') AS syms
       |  FROM (SELECT doc_id, list_reduce(list_prepend(s0, ms), (acc, m) ->
       |      replace(acc, string_split(m, chr(4))[1], string_split(m, chr(4))[2])) AS sf
       |    FROM d0 CROSS JOIN mgl))""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "q179_bpe_merges" ->
      s"""WITH ${bpeCtes(16)}
         |SELECT * FROM (
         |${(1 to 16).map(r =>
              s"""SELECT CAST($r AS BIGINT) AS "rank", l AS lhs, r AS rhs, c AS pair_count FROM bs$r""")
             .mkString("\n UNION ALL ")})
         |ORDER BY "rank"""".stripMargin,

    "q180_bpe_token_counts" ->
      s"""WITH ${bpeCtes(16)},
         |${bpeVocabCte(16)},
         |dw AS (SELECT doc_id, unnest($toksSql) AS word FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens
         |FROM dw JOIN vocab USING (word) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // q135's prefix-scan selection with n_bpe_tokens as the metric: the
    // importance chain and the BPE chain composed in one WITH.
    "q181_bpe_budget_select" ->
      s"""$importanceCtes,
         |${bpeCtes(16)},
         |${bpeVocabCte(16)},
         |dw AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
         |bc AS (SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens
         |  FROM dw JOIN vocab USING (word) GROUP BY doc_id),
         |iw2 AS (SELECT iw.doc_id, iw.importance_u, bc.n_bpe_tokens
         |  FROM iw JOIN bc USING (doc_id)),
         |bud AS (SELECT CAST(sum(n_bpe_tokens) // 2 AS BIGINT) AS b FROM iw2),
         |w2 AS (SELECT doc_id, n_bpe_tokens, importance_u,
         |    sum(n_bpe_tokens) OVER (ORDER BY importance_u DESC, doc_id) AS cum FROM iw2)
         |SELECT doc_id, n_bpe_tokens, CAST(importance_u AS DOUBLE) AS importance_u
         |FROM w2 CROSS JOIN bud
         |WHERE cum <= b ORDER BY doc_id""".stripMargin,

    // q139's chunk math over the subword stream: words → trained subword
    // lists in word order, flattened per doc, then identical 32/24
    // clamped-tail windows + md5 fingerprints.
    "q182_bpe_chunk" ->
      s"""WITH ${bpeCtes(16)},
         |${bpeVocabCte(16)},
         |t2 AS (SELECT doc_id, $toksSql AS w FROM documents),
         |dwp AS (SELECT doc_id, p.ord AS ord, p.word AS word
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
         |    i -> struct_pack(ord := i, word := w[i]))) AS p FROM t2)),
         |subs AS (SELECT doc_id, ord, string_split(subwords, ' ') AS sy
         |  FROM dwp JOIN vocab USING (word)),
         |docsy AS (SELECT doc_id, flatten(list(sy ORDER BY ord)) AS w
         |  FROM subs GROUP BY doc_id),
         |n2 AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM docsy),
         |k2 AS (SELECT doc_id, w, n, greatest(0, n - 32 + 23) // 24 AS k FROM n2),
         |c2 AS (SELECT doc_id, w, n,
         |   unnest(generate_series(0, k)) AS chunk_id FROM k2),
         |s2 AS (SELECT doc_id, w, n, chunk_id,
         |   least(chunk_id * 24, greatest(0, n - 32)) AS start_tok FROM c2)
         |SELECT doc_id, chunk_id, start_tok,
         |  least(32, n - start_tok) AS n_tok_chunk,
         |  md5(array_to_string(w[CAST(start_tok + 1 AS INT):CAST(start_tok + 32 AS INT)], ' ')) AS chunk_fp
         |FROM s2 ORDER BY doc_id, chunk_id""".stripMargin,

    // All 1024 sequence-grain training rounds replayed by the recursive
    // CTE — every rank's (count desc, lhs, rhs) argmax is an oracle row.
    "q190_bpe1k_merges" ->
      s"""WITH RECURSIVE ${bpeSeqRecCte(1024, 500L)},
         |$bpeSeqMergeCte
         |SELECT CAST(rank AS BIGINT) AS "rank", lhs, rhs,
         |  CAST(c AS BIGINT) AS pair_count
         |FROM mg ORDER BY "rank"""".stripMargin,

    // q180's accounting re-gated on the 1024-merge model: recursive
    // training + list_reduce replay encode of EVERY doc (in-sample docs
    // reproduce their training-final states; the rest get the frozen
    // segmentation), then per-doc word/subword counts.
    "q191_bpe1k_token_counts" ->
      s"""WITH RECURSIVE ${bpeSeqRecCte(1024, 500L)},
         |$bpeSeqMergeCte,
         |$bpeSeqEncodeCte,
         |nw AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_words
         |  FROM documents WHERE len($toksSql) >= 1)
         |SELECT doc_id, n_words, CAST(len(syms) AS BIGINT) AS n_bpe_tokens
         |FROM enc JOIN nw USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // q182's chunk math re-gated on the 1024-merge model: the encoded
    // subword stream through the identical 32/24 clamped-tail windows.
    "q192_bpe1k_chunk" ->
      s"""WITH RECURSIVE ${bpeSeqRecCte(1024, 500L)},
         |$bpeSeqMergeCte,
         |$bpeSeqEncodeCte,
         |n2 AS (SELECT doc_id, syms AS w, CAST(len(syms) AS BIGINT) AS n FROM enc),
         |k2 AS (SELECT doc_id, w, n, greatest(0, n - 32 + 23) // 24 AS k FROM n2),
         |c2 AS (SELECT doc_id, w, n,
         |   unnest(generate_series(0, k)) AS chunk_id FROM k2),
         |s2 AS (SELECT doc_id, w, n, chunk_id,
         |   least(chunk_id * 24, greatest(0, n - 32)) AS start_tok FROM c2)
         |SELECT doc_id, chunk_id, start_tok,
         |  least(32, n - start_tok) AS n_tok_chunk,
         |  md5(array_to_string(w[CAST(start_tok + 1 AS INT):CAST(start_tok + 32 AS INT)], ' ')) AS chunk_fp
         |FROM s2 ORDER BY doc_id, chunk_id""".stripMargin,

    // q180's twin over a training-disjoint corpus with the char-fallback
    // OOV arm: documents (all in-vocab) UNION part-name pseudo-docs (all
    // OOV), scored against the 16-merge frozen vocab; a missing word
    // contributes length(word) subwords via the COALESCE.
    "q193_bpe_oov_fallback" ->
      s"""WITH ${bpeCtes(16)},
         |${bpeVocabCte(16)},
         |held AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT p_partkey + 1000000 AS doc_id, p_name AS text FROM part),
         |dw AS (SELECT doc_id, unnest($toksSql) AS word FROM held)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(COALESCE(n_sub, length(word))) AS BIGINT) AS n_bpe_tokens
         |FROM dw LEFT JOIN vocab USING (word) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // q101's reassembly CTEs feeding q60's lang-ID + hash gate, token
    // accounting on the DEDUPED text.
    "q107_curation_pipeline" ->
      s"""WITH $paraKeeperCtes,
         |dd AS (SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS text
         |  FROM kept GROUP BY doc_id),
         |t AS (SELECT doc_id, text, $toksSql AS toks FROM dd),
         |sr AS (SELECT doc_id, $stopRawSql AS stop_raw, $asciiRawSql AS ascii_raw FROM t),
         |l AS (SELECT doc_id, $langSql AS lang_pred FROM sr),
         |f AS (SELECT t.doc_id, l.lang_pred, len(t.toks) AS ntok,
         |  CASE l.lang_pred WHEN 'en' THEN 500000 WHEN 'cjk' THEN 1000000 ELSE 125000 END AS ppm
         | FROM t JOIN l ON t.doc_id = l.doc_id)
         |SELECT lang_pred, count(*) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS sum_tokens,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM f WHERE ${hexLongSql("CAST(doc_id AS VARCHAR)")} % 1000000 < ppm
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q60_stratified_sample" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |sr AS (SELECT doc_id, $stopRawSql AS stop_raw, $asciiRawSql AS ascii_raw FROM t),
         |l AS (SELECT doc_id, $langSql AS lang_pred FROM sr),
         |f AS (SELECT doc_id, lang_pred,
         |  CASE lang_pred WHEN 'en' THEN 500000 WHEN 'cjk' THEN 1000000 ELSE 125000 END AS ppm
         | FROM l)
         |SELECT lang_pred, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM f
         |WHERE ${hexLongSql("CAST(doc_id AS VARCHAR)")} % 1000000 < ppm
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q61_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |sr AS (SELECT doc_id, len(toks) AS ntok,
         |  $stopRawSql AS stop_raw, $asciiRawSql AS ascii_raw FROM t),
         |l AS (SELECT doc_id, ntok, $langSql AS lang_pred FROM sr),
         |w AS (SELECT doc_id, lang_pred, ntok,
         |  sum(ntok) OVER (PARTITION BY lang_pred ORDER BY doc_id) AS cum FROM l)
         |SELECT lang_pred, CAST(floor((cum - ntok) / 2048.0) AS BIGINT) AS bin,
         | count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS sum_tokens,
         | max(doc_id) AS max_doc
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // per-source volumes + intra-source exact-dup volume, fingerprint =
    // md5(normalized text) mirrored expression-for-expression
    "q98_source_profile" ->
      s"""WITH t AS (SELECT source, lang, md5($normalizedSql) AS fp,
         |  len($toksSql) AS n_toks FROM documents),
         |g AS (SELECT source, fp, count(*) AS c FROM t GROUP BY 1, 2),
         |d AS (SELECT source,
         |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_exact_dup
         | FROM g GROUP BY 1),
         |a AS (SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  count(DISTINCT lang) AS n_langs FROM t GROUP BY 1)
         |SELECT a.source, n_docs, n_tokens, n_langs, n_exact_dup
         |FROM a JOIN d ON a.source = d.source ORDER BY a.source""".stripMargin,

    "q77_contamination" -> contaminationOracle,

    // the bloom pre-screen is invisible in the result by construction —
    // one oracle with q77
    "q158_contamination_bloom" -> contaminationOracle,

    "q88_mixture_interleave" ->
      """WITH r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rnk
        |  FROM documents)
        |SELECT doc_id, lang,
        |  round(CAST(rnk AS DOUBLE) / CASE lang WHEN 'en' THEN 3.0e0
        |    WHEN 'zh' THEN 2.0e0 ELSE 1.0e0 END, 6) AS mix_pos
        |FROM r ORDER BY mix_pos, lang, doc_id""".stripMargin,

    // q77 at shingleN=5 — identical shape, longer n-gram
    "q86_contamination_n5" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |s1 AS (SELECT doc_id, unnest(list_distinct(${shNSql(5)})) AS sh FROM t WHERE doc_id >= 50),
         |bs AS (SELECT DISTINCT sh FROM
         |  (SELECT unnest(list_distinct(${shNSql(5)})) AS sh FROM t WHERE doc_id < 50)),
         |j AS (SELECT s1.doc_id, count(*) AS n_shingles,
         |  sum(CASE WHEN bs.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_contaminated
         | FROM s1 LEFT JOIN bs ON s1.sh = bs.sh GROUP BY 1)
         |SELECT doc_id, n_shingles, CAST(n_contaminated AS BIGINT) AS n_contaminated,
         | round(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contam_frac
         |FROM j ORDER BY doc_id""".stripMargin,

    // Same md5(normalized text) fingerprints as every exact-dedup oracle;
    // distinct (source, fp) grain, fp equi-join, a <= b pairs incl. the
    // diagonal, Jaccard over the set sizes.
    "q129_cross_source_overlap" ->
      s"""WITH f AS (SELECT DISTINCT source AS src, md5($normalizedSql) AS fp
         |  FROM documents),
         |sz AS (SELECT src, count(*) AS n FROM f GROUP BY src),
         |sh AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
         |  FROM f a JOIN f b ON a.fp = b.fp AND a.src <= b.src
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6) AS jaccard
         |FROM sh JOIN sz sa ON sh.src_a = sa.src JOIN sz sb ON sh.src_b = sb.src
         |ORDER BY src_a, src_b""".stripMargin,

    // same dyadic u from the md5 hash, same ln(u)/w key rounded to 6 dp,
    // same (key DESC, id) cut — the A-ES ordering replayed
    "q156_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         |    (CAST(${hexLongSql("CAST(doc_id AS VARCHAR)")} % 9007199254740992 AS DOUBLE) + 1)
         |      / 9007199254740992.0 AS u
         |  FROM documents),
         |kk AS (SELECT doc_id, weight, round(ln(u) / weight, 6) AS key FROM h),
         |rr AS (SELECT doc_id, weight, key,
         |    row_number() OVER (ORDER BY key DESC, doc_id) AS rank FROM kk)
         |SELECT doc_id, weight, key, rank FROM rr WHERE rank <= 100
         |ORDER BY rank""".stripMargin,

    // the four stages replayed sequentially: q97's simhash component
    // min-id keepers, the shared gopher flags (per-doc-local ⇒
    // subset-independent), the cap's (md5-hash, id) ranking over the
    // gopher survivors, and the distinct-8-gram screen vs the id<50
    // benchmark (bench docs retire)
    "q153_curation_funnel" ->
      s"""WITH RECURSIVE $shCte,
         |$simhashCte,
         |bkt AS (SELECT doc_id, simhash, simhash >> 44 AS bucket FROM ssig),
         |e AS (SELECT l.doc_id AS a, rt.doc_id AS b
         | FROM bkt l JOIN bkt rt ON l.bucket = rt.bucket AND l.doc_id < rt.doc_id
         | WHERE bit_count(xor(l.simhash, rt.simhash)) <= 8),
         |ee AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM ee)
         |  UNION
         |  SELECT rr.a, e2.b FROM reach rr JOIN ee e2 ON rr.b = e2.a),
         |comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a),
         |$gopherCtes,
         |keep1 AS (SELECT d.doc_id AS id FROM documents d
         |  LEFT JOIN comp ON d.doc_id = comp.id
         |  WHERE comp.comp IS NULL OR comp.comp = d.doc_id),
         |k2 AS (SELECT id FROM keep1 JOIN r ON id = r.doc_id
         |  WHERE ok_words AND ok_word_len AND ok_stopwords AND ok_dup AND ok_top),
         |ch AS (SELECT d.doc_id, d.source,
         |    ${hexLongSql("CAST(d.doc_id AS VARCHAR)")} AS hh
         |  FROM documents d JOIN k2 ON d.doc_id = k2.id),
         |k3 AS (SELECT doc_id FROM (SELECT doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
         |  FROM ch) WHERE rn <= 10),
         |tw AS (SELECT doc_id, $toksSql AS w FROM documents),
         |bg AS (SELECT DISTINCT gram FROM
         |  (SELECT unnest(list_distinct(${shNSql(8)})) AS gram FROM tw WHERE doc_id < 50)),
         |cand AS (SELECT doc_id FROM k3 WHERE doc_id >= 50),
         |cg AS (SELECT tw.doc_id, unnest(list_distinct(${shNSql(8)})) AS gram
         |  FROM tw JOIN cand ON tw.doc_id = cand.doc_id),
         |contam AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram)),
         |k4 AS (SELECT doc_id FROM cand
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |c0 AS (SELECT count(*) AS n FROM documents),
         |c1 AS (SELECT count(*) AS n FROM keep1),
         |cq AS (SELECT count(*) AS n FROM k2),
         |c3 AS (SELECT count(*) AS n FROM k3),
         |c4 AS (SELECT count(*) AS n FROM k4)
         |SELECT * FROM (
         | SELECT 'a_neardup_dedup' AS stage, c0.n AS n_in, c1.n AS n_out,
         |   c0.n - c1.n AS n_dropped FROM c0, c1
         | UNION ALL SELECT 'b_gopher_quality', c1.n, cq.n, c1.n - cq.n FROM c1, cq
         | UNION ALL SELECT 'c_cap_per_source', cq.n, c3.n, cq.n - c3.n FROM cq, c3
         | UNION ALL SELECT 'd_decontamination', c3.n, c4.n, c3.n - c4.n FROM c3, c4
         |) ORDER BY stage""".stripMargin,

    // per-lang ppm threshold = round(1e6·√(n_min/n)) — sqrt is IEEE-exact
    // in both engines, so the sampled set is bit-identical
    "q130_temperature_sample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |m AS (SELECT min(n) AS n_min FROM c),
         |f AS (SELECT lang, CAST(round(1000000.0 * sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT) AS ppm
         |  FROM c CROSS JOIN m)
         |SELECT d.lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents d JOIN f USING (lang)
         |WHERE ${hexLongSql("CAST(doc_id AS VARCHAR)")} % 1000000 < ppm
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q132's scores ranked into a half-the-corpus token budget: global
    // (importance desc, doc_id) prefix-sum, keep while cum ≤ budget
    "q135_budget_select" ->
      s"""$importanceCtes,
         |bud AS (SELECT CAST(sum(n_toks) // 2 AS BIGINT) AS b FROM iw),
         |w AS (SELECT doc_id, n_toks, importance_u,
         |    sum(n_toks) OVER (ORDER BY importance_u DESC, doc_id) AS cum FROM iw)
         |SELECT doc_id, n_toks, CAST(importance_u AS DOUBLE) AS importance_u
         |FROM w CROSS JOIN bud
         |WHERE cum <= b ORDER BY doc_id""".stripMargin,

    // smallest-10 md5(doc_id) per source, hash order with id tie-break —
    // the exact integer sort the LONG-space heap mirrors
    "q136_cap_per_group" -> capPerGroupOracle,

    // the ingest-maintained cap store must equal the batch rule over the
    // full corpus under ANY feed order — one shared oracle with q136
    "q137_stream_cap_per_group" -> capPerGroupOracle,

    // same 32/24 clamped-tail windows as Corpus.chunkByTokens; max(0,·)
    // BEFORE the floor-division so engine division semantics never differ
    "q139_token_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |n AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM t),
         |k AS (SELECT doc_id, w, n, greatest(0, n - 32 + 23) // 24 AS k FROM n),
         |c AS (SELECT doc_id, w, n,
         |   unnest(generate_series(0, k)) AS chunk_id FROM k),
         |s AS (SELECT doc_id, w, n, chunk_id,
         |   least(chunk_id * 24, greatest(0, n - 32)) AS start_tok FROM c)
         |SELECT doc_id, chunk_id, start_tok,
         |  least(32, n - start_tok) AS n_tok_chunk,
         |  md5(array_to_string(w[CAST(start_tok + 1 AS INT):CAST(start_tok + 32 AS INT)], ' ')) AS chunk_fp
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    // split = pure function of md5(normalized text): exact dups land on
    // one side by construction; 10% heldout via the md5-ppm gate
    "q140_holdout_split" ->
      s"""SELECT doc_id, md5($normalizedSql) AS cluster_fp,
         |  CASE WHEN ${hexLongSql(s"md5($normalizedSql)")} % 1000000 < 100000
         |    THEN 'heldout' ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    // q140's split recomputed, then distinct word-8-grams per heldout doc
    // semi-joined against the train-side gram set — all at gram grain
    "q141_split_contamination" -> splitContaminationOracle,

    // bloom pre-screen invisible in the result — one oracle with q141
    "q159_split_contamination_bloom" -> splitContaminationOracle,

    // q97's simhash component chain verbatim, then the md5-ppm gate on
    // the component representative (own id when unclustered)
    "q142_neardup_split" ->
      s"""WITH RECURSIVE $shCte,
         |$simhashCte,
         |bkt AS (SELECT doc_id, simhash, simhash >> 44 AS bucket FROM ssig),
         |e AS (SELECT l.doc_id AS a, r.doc_id AS b
         | FROM bkt l JOIN bkt r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
         | WHERE bit_count(xor(l.simhash, r.simhash)) <= 8),
         |ee AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM ee)
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN ee e2 ON r.b = e2.a),
         |comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a),
         |ck AS (SELECT d.doc_id,
         |   CAST(COALESCE(comp.comp, d.doc_id) AS BIGINT) AS cluster_key
         |  FROM documents d LEFT JOIN comp ON d.doc_id = comp.id)
         |SELECT doc_id, cluster_key,
         |  CASE WHEN ${hexLongSql("CAST(cluster_key AS VARCHAR)")} % 1000000 < 100000
         |    THEN 'heldout' ELSE 'train' END AS split
         |FROM ck ORDER BY doc_id""".stripMargin,

    // all 6 waterfilling rounds replayed (floor(double) arithmetic with
    // the Spark side's exact parenthesization); epochs_ppm derived from
    // the final round
    "q186_mixture_allocate" ->
      s"""WITH $mixtureCtes
         |SELECT source, a AS avail_toks, w AS weight, cap AS cap_toks,
         |  alloc AS alloc_toks,
         |  CASE WHEN a = 0 THEN 0 ELSE CAST(floor((CAST(alloc AS DOUBLE)
         |    * 1000000.0) / CAST(a AS DOUBLE)) AS BIGINT) END AS epochs_ppm,
         |  alloc >= cap AS bound
         |FROM r6 ORDER BY source""".stripMargin,

    // full epochs = alloc div avail; the partial epoch keeps the
    // (source, doc_id)-ordered prefix whose running token total stays
    // within alloc mod avail — the window mirror of the grouped
    // range-partitioned prefix scan
    "q187_epoch_plan" ->
      s"""WITH $mixtureCtes,
         |f AS (SELECT source, alloc // a AS com, alloc % a AS rem
         |  FROM r6 WHERE a > 0),
         |dt AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS t
         |  FROM documents),
         |cpre AS (SELECT doc_id, source, t,
         |    sum(t) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM dt)
         |SELECT doc_id, source,
         |  com + (CASE WHEN cum <= rem THEN 1 ELSE 0 END) AS n_copies
         |FROM cpre JOIN f USING (source)
         |WHERE com + (CASE WHEN cum <= rem THEN 1 ELSE 0 END) > 0
         |ORDER BY doc_id""".stripMargin,
  )
}
