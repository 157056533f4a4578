package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._

/** Per-document profiling operators a training-data pipeline runs between
  * ingest and dedup: PII redaction, intra-document repetition scoring
  * (the C4/Gopher-style quality signals), and TF-IDF term extraction.
  *
  * Everything is built from native `org.apache.spark.sql.functions`
  * (codegen'd, no UDFs) and every regex is written in the common
  * Java-regex/RE2 subset so the DuckDB oracles replicate it verbatim.
  *
  * Scale notes per operator are on each method; none of them shuffles
  * anything wider than (doc_id, term)-grain rows, and the only joins are
  * aggregate-to-aggregate on the document key or a broadcast of one
  * global count.
  */
object TextProfile {

  /** Email pattern (common Java/RE2 subset — no backrefs, no lookaround). */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** IPv4 pattern; `\b` is an ASCII word boundary in both engines. */
  val Ipv4Re: String = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Redact PII in-place: emails first, then IPv4 literals on the
    * email-redacted text (a fixed order makes the composition
    * deterministic and mirrorable). Narrow, codegen'd, zero shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")

  /** Per-doc PII profile: counts of each PII class plus the md5
    * fingerprint of the redacted text (what a privacy audit stores in
    * place of the raw text). IP count is taken AFTER email redaction —
    * same order as [[redactPii]] so count + fingerprint agree.
    *
    * Scale: pure per-row projection — no shuffle at all; at 100 TB this
    * runs at scan speed and the regexes stay inside whole-stage codegen.
    */
  def piiProfile(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val emailRedacted = regexp_replace(t, EmailRe, "<EMAIL>")
    docs.select(
      col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_email"),
      size(regexp_extract_all(emailRedacted, lit(Ipv4Re), lit(0))).cast("long").as("n_ip"),
      md5(regexp_replace(emailRedacted, Ipv4Re, "<IP>")).as("redacted_fp"))
  }

  /** Intra-document repetition (the Gopher/C4 quality rules): fraction of
    * duplicated word 3-grams (1 − distinct/total) and the share of the
    * most frequent word 2-gram. High values flag boilerplate/spam docs
    * that length or stopword ratios miss.
    *
    * Scale: the n-gram explode is doc-local; both aggregations group by
    * doc_id — one shuffle each at (doc, gram) grain, partial aggregation
    * map-side. No joins except the final per-doc merge.
    */
  def repetitionProfile(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val g3 = docs.select(col(idCol), explode(shingles(col(textCol), 3)).as("sh"))
    val d3 = g3.groupBy(col(idCol)).agg(
      round(lit(1.0) - count_distinct(col("sh")).cast("double")
        / count(lit(1)).cast("double"), 6).as("dup_3gram_frac"))
    val c2 = docs.select(col(idCol), explode(shingles(col(textCol), 2)).as("sh"))
      .groupBy(col(idCol), col("sh")).agg(count(lit(1)).as("c"))
    val t2 = c2.groupBy(col(idCol)).agg(
      round(max(col("c")).cast("double") / sum(col("c")).cast("double"), 6)
        .as("top_2gram_frac"))
    d3.join(t2, Seq(idCol))
  }

  /** Gopher-style rule filter — the keep/drop decision the quality
    * signals feed (Rae et al. 2021 §A1.1's document-level heuristics,
    * re-thresholded for this corpus): word-count bounds, mean-word-length
    * bounds, a minimum count of DISTINCT stopwords ("prose-ness" — the
    * Gopher rule is ≥2 of a small closed list), and the repetition caps
    * over [[repetitionProfile]]'s dup-3gram / top-2gram fractions.
    *
    * Emits every signal, the `keep` verdict, and `reasons` — the
    * comma-joined labels of the rules that fired (`-` if none), so the
    * filter is auditable (per-reason drop rates are one groupBy away).
    * Thresholds compare against the 6-dp-ROUNDED signal in both engines,
    * so a borderline doc can never flip between Spark and the oracle.
    *
    * Scale: the scalar signals are one narrow pass; the repetition
    * signals are [[repetitionProfile]]'s (doc, shingle)-grain shuffles;
    * the final join is aggregate-to-aggregate on doc_id. Never doc×doc. */
  def gopherFilter(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      minWords: Int = 30, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 5.0,
      minStopDistinct: Int = 2,
      maxDup3: Double = 0.05, maxTop2: Double = 0.10): DataFrame = {
    val stopDistinct = size(array_distinct(filter(tokens(col(textCol)),
      t => lower(t).isin(graft.functions.TextFunctions.stopwords.map(lit(_)): _*))))
    val scalars = docs.select(col(idCol),
      tokenCount(col(textCol)).cast("long").as("n_words"),
      round(meanTokenLen(col(textCol)), 6).as("mean_word_len"),
      stopDistinct.cast("long").as("n_stop_distinct"))
    val joined = scalars.join(repetitionProfile(docs, idCol, textCol), Seq(idCol))
    val rules: Seq[(String, Column)] = Seq(
      "words" -> (col("n_words") >= minWords && col("n_words") <= maxWords),
      "word_len" -> (col("mean_word_len") >= minMeanLen
        && col("mean_word_len") <= maxMeanLen),
      "stopwords" -> (col("n_stop_distinct") >= minStopDistinct),
      "dup_3gram" -> (col("dup_3gram_frac") <= maxDup3),
      "top_2gram" -> (col("top_2gram_frac") <= maxTop2))
    val failed = concat_ws(",",
      rules.map { case (label, ok) => when(!ok, lit(label)) }: _*)
    joined
      .withColumn("keep", rules.map(_._2).reduceLeft(_ && _))
      .withColumn("reasons", when(length(failed) === 0, lit("-")).otherwise(failed))
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * via Importance Resampling", reduced to its unigram-LM core): per
    * document, the mean log-likelihood ratio of its tokens under a
    * TARGET unigram LM (docs matching `targetPred` — the high-quality /
    * in-domain slice) vs the BACKGROUND LM (the whole corpus), both
    * add-1 smoothed over the corpus vocabulary. Positive ⇒ the doc looks
    * more like the target than the background; production resamples with
    * probability ∝ exp(weight). Self-trained — no external model, same
    * stance as [[unigramSurprisal]].
    *
    * Cross-engine exactness: the ratio is assembled with one fixed
    * parenthesization, each per-token `ln` is rounded to 6 dp, and the
    * per-doc mean is an exact DECIMAL sum over those rounded terms
    * (identical trick as [[unigramSurprisal]] — float summation order
    * never matters). The mean itself is emitted as `importance_u`, a
    * TRUNCATED micro-nat integer (`div` truncates toward zero in both
    * engines, signed-safe): the sum is an exact µ-unit integer, so the
    * mean is a rational that routinely lands on an exact decimal .5 —
    * where Spark's round() (binary value) and DuckDB's (decimal view)
    * disagree by 1 ulp, the pre-round-16 q132 sf0.1 edge. Integer
    * division has no tie to disagree on. Production resamples with
    * probability ∝ exp(importance_u / 1e6).
    *
    * Scale: two token-grain count aggregates (map-side combined), three
    * 1-row globals under broadcast, one token→vocab equi-join (vocab is
    * term-grain; Catalyst broadcasts when it fits), one doc-grain
    * aggregate out. Never doc×doc; linear in corpus tokens. */
  def importanceWeight(docs: DataFrame, targetPred: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), targetPred.as("_is_target"),
      explode(tokens(col(textCol))).as("tok"))
    // vocab materialized (term-grain): the totals and the token join both
    // read it — unmaterialized, each would re-run the corpus explode +
    // aggregate
    val vocab = tok.groupBy(col("tok")).agg(
      count(lit(1)).as("cb"),
      sum(when(col("_is_target"), 1L).otherwise(0L)).as("ct"))
      .localCheckpoint(true)
    val totals = vocab.agg(
      sum(col("cb")).as("nb"), sum(col("ct")).as("nt"),
      count(lit(1)).as("v"))
    val r = (((col("ct") + lit(1L)).cast("double")
        / (col("nt") + col("v")).cast("double"))
      / ((col("cb") + lit(1L)).cast("double")
        / (col("nb") + col("v")).cast("double")))
    tok.join(vocab, "tok")
      .crossJoin(broadcast(totals))
      .withColumn("s", round(log(r), 6).cast("decimal(28,6)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"), sum(col("s")).as("sum_s"))
      .select(col(idCol), col("n_toks"),
        expr("CAST(sum_s * 1000000 AS BIGINT) div n_toks").as("importance_u"))
  }

  /** n-gram LM quality proxy (the last text-quality signal next to
    * [[repetitionProfile]]'s C4/Gopher rules): per-doc fraction of word
    * unigrams and bigrams NOT covered by a reference corpus's
    * vocabulary — the integer-count/ratio form of a backoff-LM
    * perplexity screen. (A log-prob score would need cross-engine float
    * summation; coverage fractions carry the same low-quality signal —
    * high OOV ⇒ the reference LM would assign low probability — and are
    * oracle-exact.)
    *
    * Scale: token/shingle explodes are doc-local; each vocabulary is a
    * distinct-aggregate at term grain, and [[Dedup.gramHits]] counts each
    * doc's terms against it (n_oov = n − n_hit) with a term-grain join and
    * a map-side-combined shuffle on doc_id.
    * Never doc×doc, never a global sort.
    */
  def oovProfile(docs: DataFrame, vocabDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame, n: Int): DataFrame =
      if (n == 1) df.select(col(idCol), explode(tokens(col(textCol))).as("gram"))
      else df.select(col(idCol), explode(shingles(col(textCol), n)).as("gram"))
    def coverage(n: Int, label: String): DataFrame =
      Dedup.gramHits(grams(docs, n), grams(vocabDocs, n).select(col("gram")).distinct(),
          idCol, None)
        .select(col(idCol), col("n").as(s"n_$label"),
          (col("n") - col("n_hit")).as(s"n_${label}_oov"))
        .withColumn(s"${label}_oov_frac",
          round(col(s"n_${label}_oov").cast("double") / col(s"n_$label"), 6))
    coverage(1, "tok").join(coverage(2, "bigram"), Seq(idCol))
  }

  /** TF-IDF top-k terms per document: tf = in-doc term count, idf =
    * ln((N+1)/(df+1)) + 1 (smoothed), rank by (score desc, term asc).
    *
    * Scale: tf is one (doc, term) shuffle with map-side combine; df is an
    * aggregate OF that aggregate (term grain); N is a broadcast scalar.
    * The ranking window partitions by doc_id — bounded per-doc work, never
    * a global sort. The tf→df join shuffles on term; a skewed hot term
    * costs one fat reduce task at worst (df rows are one per term).
    */
  def tfIdfTopK(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          (log((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0))
            + 1.0))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), round(col("score"), 6).as("score"), col("rank"))
  }

  /** Unigram-LM surprisal score — the perplexity-proxy quality filter of
    * the CCNet/Gopher pipelines, self-trained (no external model): per
    * doc, the mean over its tokens of −ln p(token) with p = corpus
    * unigram frequency. The LOW tail is common-word template text, the
    * HIGH tail is rare-token soup (OCR noise, code, wrong-language) —
    * production screens drop both tails by thresholding this column.
    *
    * Float determinism (the oracle compares exactly): each token's
    * surprisal is rounded to 6 dp and the per-doc summation runs as
    * exact DECIMAL arithmetic — raw double sums are partition-order
    * dependent, the same discipline as every money aggregate here. The
    * mean is emitted as `surprisal_u`, a micro-nat integer (exact
    * floor division of the exact µ-sum), NOT a rounded double: the
    * division-noise ulp can land the double quotient one ulp below an
    * exact decimal .5 while its ×1e6 product still sits ON the .5 —
    * precisely where Spark's round (shortest-repr half-up) and
    * DuckDB's (product half-away) disagree. Same closure as
    * [[importanceWeight]]'s importance_u.
    *
    * Scale: one token-grain shuffle with map-side combine for the vocab,
    * one token-keyed join back (a hot token costs one fat reduce task at
    * worst — df rows are one per token), doc-grain aggregate out; the
    * corpus token total is a broadcast scalar. */
  def unigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    // vocab materialized (term-grain — tiny next to the corpus): the
    // total-count branch then derives from it instead of re-exploding the
    // corpus, and the token join reads it without re-aggregating — two
    // corpus passes total instead of three
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val n = vocab.agg(sum(col("cnt")).as("n_total"))
    tok.join(vocab, "tok")
      .crossJoin(broadcast(n))
      .withColumn("s",
        round(-log(col("cnt").cast("double") / col("n_total").cast("double")), 6)
          .cast("decimal(28,6)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"), sum(col("s")).as("sum_s"))
      .select(col(idCol), col("n_toks"),
        expr("CAST(sum_s * 1000000 AS BIGINT) div n_toks").as("surprisal_u"))
  }

  /** CCNet-style perplexity banding: rank every document by its
    * [[unigramSurprisal]] (ascending — low surprisal ≈ low perplexity ≈
    * "head") and cut the ranking into `nBands` equal-population bands
    * (head/middle/tail at the default 3). Downstream corpus builds keep
    * the head, subsample the middle, and drop or audit the tail — the
    * CCNet recipe with the self-trained LM.
    *
    * The ranking is [[Corpus.rankByScore]] — range-partitioned exact
    * global ranks, never a single-task `row_number()` window; the band
    * is pure integer arithmetic on (rank, N), so the assignment is
    * engine-exact (ties impossible: (surprisal, id) totally orders). */
  def perplexityBands(docs: DataFrame, nBands: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nBands >= 2, "need at least two bands")
    val ranked = Corpus.rankByScore(
      unigramSurprisal(docs, idCol, textCol), idCol, "surprisal_u")
    ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("_n"))))
      .withColumn("band", expr(s"1 + ((rank - 1) * $nBands) div _n"))
      // rankByScore widens the score to double for the range sort; µ-nat
      // longs are < 2^53 so the round-trip back is exact
      .select(col(idCol), col("surprisal_u").cast("long").as("surprisal_u"),
        col("rank"), col("band"))
  }
}
