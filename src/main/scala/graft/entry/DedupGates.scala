package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables, TempDirs}
import graft.operators.{Cap, Dedup, TextProfile}
import graft.functions.TextFunctions
import graft.streaming.{StatefulOps, StreamHarness}

import GateSupport._
import OracleSupport._

/** Exact/near-dup dedup: MinHash-LSH, SimHash, Jaccard, paragraphs, substrings.
  *
  * One gate family of [[graft.SparkEntry]]: `queries` runs each operator
  * over the driver's parquet tables; `oracleSql` is the DuckDB twin the
  * driver hash-compares against (columns aliased identically on both
  * sides — the compare sorts columns by name before hashing). */
private[graft] object DedupGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q17_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d)).orderBy(col("fp"))),

    // ---- near-dup dedup stack (MinHash+LSH / SimHash / n-gram Jaccard) ----

    "q18_minhash_lsh" -> ((s, d) =>
      Dedup.lshCandidates(Dedup.minhashSignatures(Tables.documents(s, d)))
        .orderBy(col("a"), col("b"))),

    "q19_simhash_sig" -> ((s, d) =>
      Dedup.simhash(Tables.documents(s, d)).orderBy(col("doc_id"))),

    "q20_simhash_neardup" -> ((s, d) =>
      Dedup.simhashNearDups(Dedup.simhash(Tables.documents(s, d)))
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("a"), col("b"))),

    "q21_jaccard_pairs" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), threshold = 0.5)
        .orderBy(col("a"), col("b"))),

    // multi-TABLE simhash (4 rotations × 16-bit prefixes): the recall fix
    // for q20's single-table blind spot, oracle-exact because the
    // rotations are pure bit arithmetic both engines replicate.
    "q55_simhash_multi" -> ((s, d) =>
      Dedup.simhashNearDupsMulti(Dedup.simhash(Tables.documents(s, d)))
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("a"), col("b"))),

    // hot-shingle-capped inverted index (df ≤ 100) + exact verification —
    // the q21 skew knob under its own gate.
    "q56_jaccard_capped" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), cap = Cap.Fixed(100))
        .orderBy(col("a"), col("b"))),

    // q56's hot-shingle df cap DERIVED from the measured shingle-df
    // profile (round-15 verdict #2): cap = max(6, 2 · lower-median df).
    // The exact q171 arm split: at sf0.01 the FLOOR dominates (median df
    // 1 → cap 6, the df-7 shingle is stop-listed), at sf0.1 the DERIVED
    // term is live (median df 9 → cap 18 < max df 25) — both arms and an
    // ACTIVE cap are hash-gated. The derivation chain is replayed by the
    // oracle; results stay EXACT Jaccard (hot-common correction) either
    // way, so only the stop list moves with the cap.
    "q177_jaccard_autocap" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), cap = Cap.Derived(6, 2))
        .orderBy(col("a"), col("b"))),

    // hot-BUCKET-capped LSH (VERDICT r6 #4) — q18's candidate generator
    // with (band, bandkey) buckets holding more than LshBucketCap docs
    // dropped: the single-reducer pile-up guard for degenerate bands. The
    // cap is ACTIVE at this SF (buckets of 3 exist and are dropped) and
    // the oracle mirrors it; the planted degenerate-band bound lives in
    // DedupGraphSpec.
    "q112_lsh_capped" -> ((s, d) =>
      Dedup.lshCandidates(Dedup.minhashSignatures(Tables.documents(s, d)),
          cap = Cap.Fixed(LshBucketCap))
        .orderBy(col("a"), col("b"))),

    // q112's bucket cap DERIVED from the measured (band, bandkey)
    // population profile (round-15 verdict #2 — the q171 derivedCap
    // pattern extended to the LSH bucket cap): cap = max(2, 2 ·
    // lower-median pop). Median pop is 1 at both gated SFs, so floor and
    // derived term TIE at cap = 2 and the cap is ACTIVE at both (pop-3
    // buckets at sf0.01, pop-3/4 at sf0.1 leave the index); past the
    // gated SFs a boilerplate-heavy corpus raises the median and the
    // derived arm takes over. The full integer chain (bucket pops →
    // distinct-pop cumulative counts → lower median → greatest → anti
    // join) is replayed by the oracle.
    "q176_lsh_autocap" -> ((s, d) =>
      Dedup.lshCandidates(Dedup.minhashSignatures(Tables.documents(s, d)),
          cap = Cap.Derived(2, 2))
        .orderBy(col("a"), col("b"))),

    "q22_jaccard_verify" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.jaccardVerify(docs,
          Dedup.lshCandidates(Dedup.minhashSignatures(docs)), threshold = 0.5)
        .orderBy(col("a"), col("b"))
    }),

    // Bloom-prefiltered incremental dedup: store = fingerprints of docs
    // 0..249, batch = the rest; the bloom screen is an optimization the
    // oracle can't see — output is exact not-in-store firsts.
    "q73_bloom_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val store = docs.where(col("doc_id") < 250)
        .select(TextFunctions.fingerprint(col("text")).as("fp")).distinct()
      Dedup.incrementalDedup(docs.where(col("doc_id") >= 250), store)
        .select(col("doc_id"), col("fp")).orderBy(col("doc_id"))
    }),

    // Dedup GROUP resolution: q20's simhash near-dup pairs collapsed into
    // connected components; comp = canonical (minimum) doc id per near-dup
    // group.
    "q76_dedup_groups" -> ((s, d) =>
      Dedup.connectedComponentsStar(
          Dedup.simhashNearDups(Dedup.simhash(Tables.documents(s, d))))
        .orderBy(col("id"))),

    // Same components via alternating large-star/small-star (Kiveris et
    // al. SoCC'14) — O(log n) rounds regardless of graph diameter, the
    // scale path when dup groups chain instead of forming quasi-cliques.
    // The q76 oracle is shared verbatim.
    "q84_dedup_groups_star" -> ((s, d) =>
      Dedup.connectedComponentsStar(
          Dedup.simhashNearDups(Dedup.simhash(Tables.documents(s, d))))
        .orderBy(col("id"))),

    // Dedup APPLY (Dedup.applyDedup): the surviving corpus after
    // collapsing q20's simhash near-dup groups (q84's star components) to
    // their canonical min-id docs — the step that turns pair/component
    // ANALYSIS into the actual deduped training corpus.
    "q97_dedup_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.applyDedup(docs,
          Dedup.connectedComponentsStar(
            Dedup.simhashNearDups(Dedup.simhash(docs))))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // SUB-document dedup (VERDICT r5 #3) — paragraph-grain exact dedup:
    // docs explode into 10-word paragraphs, only the corpus-wide first
    // occurrence of each distinct paragraph survives (min (doc, pos)),
    // docs reassemble from their survivors (C4's repeated-lines rule /
    // RefinedWeb line-wise filtering, at paragraph grain). One
    // paragraph-grain min-agg shuffle + join back — never doc×doc.
    "q101_paragraph_dedup" -> ((s, d) =>
      Dedup.paragraphDedup(Tables.documents(s, d), 10)
        .orderBy(col("doc_id"))),

    // Boilerplate (template) profile — the cross-corpus recurrence signal
    // next to q101's removal: per doc, the fraction of its distinct
    // 10-word paragraphs occurring in ≥ 3 distinct docs.
    "q104_boilerplate_profile" -> ((s, d) =>
      Dedup.boilerplateProfile(Tables.documents(s, d), 10, 3)
        .orderBy(col("doc_id"))),

    // q101's keeper selection ON INGEST — the streaming twin of the
    // paragraph-dedup survivor set: paragraphs stream in doc-id order
    // across two file-fed micro-batches; firstPerKey's per-paragraph
    // state suppresses later copies ACROSS the boundary. Output =
    // (doc_id, pos) of surviving paragraphs, sharing q101's keeper CTEs
    // verbatim.
    "q108_stream_paragraph_dedup" -> ((s, d) => {
      import s.implicits._
      val paras = Dedup.explodeParagraphs(Tables.documents(s, d), 10)
        .select(col("para"),
          Dedup.encodePos(col("doc_id"), col("pos")).as("enc"))
        .as[(String, Long)]
      val mid = midOf(paras.agg(min(col("enc")), max(col("enc"))).head(),
        "exploded paragraphs (q108)")
      StreamHarness.runFiles(s,
          Seq(paras.where(col("enc") <= mid), paras.where(col("enc") > mid)))(ds =>
        StatefulOps.firstPerKey(ds).toDF())
        .select(expr(s"_2 div ${Dedup.ParaPosEncode}").as("doc_id"),
          pmod(col("_2"), lit(Dedup.ParaPosEncode)).as("pos"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // Paragraph-grain FUZZY dedup (VERDICT r6 #1) — q101's removal with
    // MinHash grouping: near-identical paragraph variants (a date or
    // username swapped — what exact hashing misses) collapse to one
    // survivor via distinct-text MinHash → LSH candidates → exact-Jaccard
    // verify (≥ 0.4) → star components; reassembly contract identical to
    // q101. With zero fuzzy groups this degrades to q101 exactly.
    "q109_paragraph_dedup_fuzzy" -> ((s, d) =>
      Dedup.paragraphDedupFuzzy(Tables.documents(s, d), 10, 0.4)
        .orderBy(col("doc_id"))),

    // q109's FUZZY grouping ON INGEST — the streaming twin (the same
    // step up from q103/q108's exact firstPerKey that q109 is from
    // q101): paragraph instances stream enc-ascending across two
    // file-fed micro-batches through FuzzyIngest's per-epoch store — a
    // batch-2 variant of a batch-1 paragraph must collapse via the LSH
    // index in STATE, and a batch-2 text bridging two batch-1 groups
    // relabels both (incremental union). Output = the keeper keys,
    // sharing q109's oracle CTEs verbatim.
    "q116_stream_paragraph_fuzzy" -> ((s, d) => TempDirs.withScratch("graft_fuzzy_ingest_") { root =>
      val paras = Dedup.explodeParagraphs(Tables.documents(s, d), 10)
        .select(Dedup.encodePos(col("doc_id"), col("pos")).as("enc"), col("para"))
      val mid = midOf(paras.agg(min(col("enc")), max(col("enc"))).head(),
        "exploded paragraphs (q116)")
      StreamHarness.runBatches(s,
          Seq(paras.where(col("enc") <= mid), paras.where(col("enc") > mid))) {
        (b, epochId) => graft.streaming.FuzzyIngest.processBatch(b, root, epochId, 0.4)
      }
      graft.streaming.FuzzyIngest.survivors(s, root).orderBy(col("doc_id"), col("pos"))
    }),

    // Exact-substring duplication profile (Lee et al. 2022) — the
    // character-window dedup method next to the paragraph-grain ops:
    // 40-char windows at stride 10, cross-doc duplicated windows merged
    // into spans per doc (gaps-and-islands). Catches boilerplate that
    // straddles line boundaries, which q101/q104's paragraph hashing
    // can't see. The oracle replays the identical window/df/island logic.
    "q126_substring_dup" -> ((s, d) =>
      Dedup.substringDupProfile(Tables.documents(s, d), 40, 10)
        .orderBy(col("doc_id"))),

    // Quality-aware dedup apply: q97's components, but the keeper is the
    // LOWEST-surprisal member (best copy survives, not first copy) —
    // keeper election via one bounded min_by aggregate.
    "q144_dedup_best_keeper" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.applyDedupBestKeeper(docs,
          Dedup.connectedComponentsStar(
            Dedup.simhashNearDups(Dedup.simhash(docs))),
          TextProfile.unigramSurprisal(docs))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Substring dedup APPLY: q126's merged spans spliced OUT of the text
    // (the Lee et al. cleaning step q126 only measures) — one codegen'd
    // aggregate fold over each doc's sorted span array; no-span docs pass
    // through. Audit rows: cleaned fingerprint + before/after chars.
    "q147_substring_dedup_apply" -> ((s, d) =>
      Dedup.substringDedupApply(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
  )

  def oracleSql: Map[String, String] = Map(

    "q17_dedup_exact" ->
      s"""SELECT md5($normalizedSql) AS fp, min(doc_id) AS keeper_id,
         | count(*) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "q18_minhash_lsh" ->
      s"""WITH $shCte,
         |$sigCte
         |SELECT a, b FROM cand ORDER BY a, b""".stripMargin,

    // q18's banding with the (bd, bandkey) df cap mirrored — buckets over
    // LshBucketCap docs leave the index before pair generation, exactly
    // like Dedup.lshCandidates' broadcast anti-join under Cap.Fixed.
    "q112_lsh_capped" ->
      s"""WITH $shCte,
         |$sigCte,
         |hotb AS (SELECT bd, bandkey FROM banded
         |  GROUP BY bd, bandkey HAVING count(*) > $LshBucketCap),
         |cappedb AS (SELECT b.doc_id, b.bd, b.bandkey FROM banded b
         |  LEFT JOIN hotb h ON b.bd = h.bd AND b.bandkey = h.bandkey
         |  WHERE h.bd IS NULL),
         |ccand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM cappedb l
         |  JOIN cappedb r ON l.bd = r.bd AND l.bandkey = r.bandkey
         |    AND l.doc_id < r.doc_id)
         |SELECT a, b FROM ccand ORDER BY a, b""".stripMargin,

    // q112 with the cap replaced by the full derivedCap integer chain:
    // bucket pops → per-distinct-pop cumulative counts → lower median
    // (min pop whose cumulative count reaches (n_keys+1) div 2) →
    // greatest(floor, mult·median) → anti-join of over-cap buckets.
    "q176_lsh_autocap" ->
      s"""WITH $shCte,
         |$sigCte,
         |bpop AS (SELECT bd, bandkey, count(*) AS pop FROM banded
         |  GROUP BY bd, bandkey),
         |cum AS (SELECT pop, sum(cnt) OVER (ORDER BY pop) AS cum
         |  FROM (SELECT pop, count(*) AS cnt FROM bpop GROUP BY pop)),
         |cap AS (SELECT greatest(2, 2 * (SELECT min(pop) FROM cum
         |  WHERE cum >= ((SELECT count(*) FROM bpop) + 1) // 2)) AS cap),
         |hotb AS (SELECT bd, bandkey FROM bpop CROSS JOIN cap
         |  WHERE pop > cap),
         |cappedb AS (SELECT b.doc_id, b.bd, b.bandkey FROM banded b
         |  LEFT JOIN hotb h ON b.bd = h.bd AND b.bandkey = h.bandkey
         |  WHERE h.bd IS NULL),
         |ccand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM cappedb l
         |  JOIN cappedb r ON l.bd = r.bd AND l.bandkey = r.bandkey
         |    AND l.doc_id < r.doc_id)
         |SELECT a, b FROM ccand ORDER BY a, b""".stripMargin,

    "q19_simhash_sig" ->
      s"""WITH $shCte,
         |$simhashCte
         |SELECT doc_id, simhash FROM ssig ORDER BY doc_id""".stripMargin,

    "q20_simhash_neardup" ->
      s"""WITH $shCte,
         |$simhashCte,
         |bkt AS (SELECT doc_id, simhash, simhash >> 44 AS bucket FROM ssig)
         |SELECT l.doc_id AS a, r.doc_id AS b,
         | CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
         |FROM bkt l JOIN bkt r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.simhash, r.simhash)) <= 8
         |ORDER BY a, b""".stripMargin,

    "q21_jaccard_pairs" ->
      s"""WITH $shCte,
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT a, b, jaccard FROM (
         | SELECT pr.a, pr.b,
         |  round(CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
         | FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,

    "q55_simhash_multi" ->
      s"""WITH $shCte,
         |$simhashCte,
         |rot AS (SELECT doc_id, simhash, t.t AS tbl,
         |  CASE WHEN t.t = 0 THEN simhash
         |  ELSE (simhash >> (60 - t.t * 15)) | ((simhash & ((CAST(1 AS BIGINT) << (60 - t.t * 15)) - 1)) << (t.t * 15))
         |  END AS r
         | FROM ssig CROSS JOIN (VALUES (0), (1), (2), (3)) t(t)),
         |bkt AS (SELECT doc_id, simhash, tbl, r >> 44 AS bucket FROM rot),
         |cand AS (SELECT DISTINCT l.doc_id AS a, r2.doc_id AS b, l.simhash AS sa, r2.simhash AS sb
         | FROM bkt l JOIN bkt r2 ON l.tbl = r2.tbl AND l.bucket = r2.bucket AND l.doc_id < r2.doc_id)
         |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 8
         |ORDER BY a, b""".stripMargin,

    "q56_jaccard_capped" ->
      s"""WITH $shCte,
         |dfreq AS (SELECT sh AS hsh FROM sh GROUP BY sh HAVING count(*) > 100),
         |idx AS (SELECT doc_id, sh FROM sh WHERE sh NOT IN (SELECT hsh FROM dfreq)),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |pr AS (SELECT cand.a, cand.b, count(*) AS common
         |  FROM cand JOIN sh x ON x.doc_id = cand.a
         |  JOIN sh y ON y.doc_id = cand.b AND x.sh = y.sh
         |  GROUP BY 1, 2)
         |SELECT a, b, jaccard FROM (
         | SELECT pr.a, pr.b,
         |  round(CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
         | FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,

    // q56 with the df threshold replaced by the derivedCap integer
    // chain over the shingle-df profile (same median idiom as q176).
    "q177_jaccard_autocap" ->
      s"""WITH $shCte,
         |dfp AS (SELECT sh AS hsh, count(*) AS pop FROM sh GROUP BY sh),
         |cum AS (SELECT pop, sum(cnt) OVER (ORDER BY pop) AS cum
         |  FROM (SELECT pop, count(*) AS cnt FROM dfp GROUP BY pop)),
         |cap AS (SELECT greatest(6, 2 * (SELECT min(pop) FROM cum
         |  WHERE cum >= ((SELECT count(*) FROM dfp) + 1) // 2)) AS cap),
         |dfreq AS (SELECT hsh FROM dfp CROSS JOIN cap WHERE pop > cap),
         |idx AS (SELECT doc_id, sh FROM sh WHERE sh NOT IN (SELECT hsh FROM dfreq)),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |pr AS (SELECT cand.a, cand.b, count(*) AS common
         |  FROM cand JOIN sh x ON x.doc_id = cand.a
         |  JOIN sh y ON y.doc_id = cand.b AND x.sh = y.sh
         |  GROUP BY 1, 2)
         |SELECT a, b, jaccard FROM (
         | SELECT pr.a, pr.b,
         |  round(CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
         | FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,

    "q22_jaccard_verify" ->
      s"""WITH $shCte,
         |$sigCte,
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |pr AS (SELECT cand.a, cand.b, count(*) AS common
         |  FROM cand JOIN sh x ON x.doc_id = cand.a
         |  JOIN sh y ON y.doc_id = cand.b AND x.sh = y.sh
         |  GROUP BY 1, 2)
         |SELECT a, b, jaccard FROM (
         | SELECT pr.a, pr.b,
         |  round(CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
         | FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,

    // Paragraph replay: same 10-word windows, corpus-wide first occurrence
    // by the encoded min (doc_id·1e5 + pos), reassembly in pos order.
    "q101_paragraph_dedup" ->
      s"""WITH $paraKeeperCtes,
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |   string_agg(para, ' ' ORDER BY pos) AS kept_text FROM kept GROUP BY doc_id),
         |np AS (SELECT doc_id, CAST(ceil(len(ws)/10.0) AS BIGINT) AS n_paras FROM w)
         |SELECT np.doc_id, np.n_paras,
         |  COALESCE(agg.n_kept, 0) AS n_kept, COALESCE(agg.kept_text, '') AS kept_text
         |FROM np LEFT JOIN agg ON np.doc_id = agg.doc_id
         |ORDER BY np.doc_id""".stripMargin,

    // q101's keeper set verbatim — the streaming twin reads it directly.
    "q108_stream_paragraph_dedup" ->
      s"""WITH $paraKeeperCtes
         |SELECT doc_id, pos FROM kept ORDER BY doc_id, pos""".stripMargin,

    // The fuzzy keeper KEYS verbatim — the ingest twin reads them
    // directly (fkept's rows are exactly the distinct group keepers).
    "q116_stream_paragraph_fuzzy" ->
      s"""WITH RECURSIVE $paraFuzzyKeeperCtes
         |SELECT doc_id, pos FROM fkept ORDER BY doc_id, pos""".stripMargin,

    // Fuzzy paragraph replay: the full MinHash→LSH→Jaccard→components
    // chain over distinct paragraph texts (paraFuzzyKeeperCtes), then
    // q101's reassembly over the fuzzy survivor set.
    "q109_paragraph_dedup_fuzzy" ->
      s"""WITH RECURSIVE $paraFuzzyKeeperCtes,
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |   string_agg(para, ' ' ORDER BY pos) AS kept_text FROM fkept GROUP BY doc_id),
         |np AS (SELECT doc_id, CAST(ceil(len(ws)/10.0) AS BIGINT) AS n_paras FROM w)
         |SELECT np.doc_id, np.n_paras,
         |  COALESCE(agg.n_kept, 0) AS n_kept, COALESCE(agg.kept_text, '') AS kept_text
         |FROM np LEFT JOIN agg ON np.doc_id = agg.doc_id
         |ORDER BY np.doc_id""".stripMargin,

    // Same 10-word windows as q101; df counts DISTINCT docs per paragraph.
    "q104_boilerplate_profile" ->
      s"""WITH $paraCtes,
         |pd AS (SELECT DISTINCT doc_id, para FROM p),
         |df AS (SELECT para, count(*) AS n_docs FROM pd GROUP BY para)
         |SELECT pd.doc_id, count(*) AS n_distinct_paras,
         |  CAST(sum(CASE WHEN df.n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  round(CAST(sum(CASE WHEN df.n_docs >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS boiler_frac
         |FROM pd JOIN df ON pd.para = df.para
         |GROUP BY pd.doc_id ORDER BY pd.doc_id""".stripMargin,

    "q73_bloom_dedup" ->
      s"""WITH store AS (SELECT DISTINCT md5($normalizedSql) AS fp
         |  FROM documents WHERE doc_id < 250),
         |b AS (SELECT doc_id, md5($normalizedSql) AS fp
         |  FROM documents WHERE doc_id >= 250),
         |firsts AS (SELECT fp, min(doc_id) AS doc_id FROM b GROUP BY fp)
         |SELECT doc_id, fp FROM firsts
         |WHERE fp NOT IN (SELECT fp FROM store) ORDER BY doc_id""".stripMargin,

    // transitive closure over the symmetrized q20 pair graph; min
    // reachable id per node = the component label the large-star/
    // small-star rounds converge to (q76 and q84 share it)
    "q76_dedup_groups" -> dedupGroupsOracle,
    "q84_dedup_groups_star" -> dedupGroupsOracle,

    // the q76/q84 component labels applied to the corpus: keep the
    // canonical (min-id) doc per component + every untouched doc
    "q97_dedup_apply" ->
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
         |comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a)
         |SELECT d.doc_id, d.lang FROM documents d
         |LEFT JOIN comp ON d.doc_id = comp.id
         |WHERE comp.comp IS NULL OR comp.comp = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // q97's component chain + q128's surprisal: keeper = the member with
    // the lowest (surprisal, id) tuple per component
    "q144_dedup_best_keeper" ->
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
         |$surprisalCtes,
         |kq AS (SELECT comp.comp AS cmp, comp.id AS id,
         |    coalesce(CAST(srp.surprisal_u AS DOUBLE), CAST('infinity' AS DOUBLE)) AS s2
         |  FROM comp LEFT JOIN srp ON comp.id = srp.doc_id),
         |keep AS (SELECT cmp, id FROM (
         |  SELECT cmp, id, row_number() OVER (PARTITION BY cmp ORDER BY s2, id) AS rn
         |  FROM kq) WHERE rn = 1)
         |SELECT d.doc_id, d.lang FROM documents d
         |LEFT JOIN comp ON d.doc_id = comp.id
         |LEFT JOIN keep ON comp.comp = keep.cmp AND d.doc_id = keep.id
         |WHERE comp.comp IS NULL OR keep.id IS NOT NULL
         |ORDER BY d.doc_id""".stripMargin,

    // Same 40-char windows on the stride-10 TWO-PHASE grid (offsets 0 and
    // 5 per step — round-15 verdict #5), same cross-doc df >= 2 screen,
    // same merge-touching island rule (new span iff off STRICTLY past the
    // running max end) as Dedup.substringDupProfile.
    "q126_substring_dup" ->
      s"""WITH $substringSpanCtes
         |SELECT doc_id, count(*) AS n_spans, CAST(sum(e - s) AS BIGINT) AS dup_chars
         |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the same span table SPLICED OUT of the text: per doc, string_agg of
    // the inter-span gaps in order + the tail; no-span docs pass through
    "q147_substring_dedup_apply" ->
      s"""WITH $substringSpanCtes,
         |wsp AS (SELECT dd.doc_id, dd.text, sp.s, sp.e
         |  FROM documents dd JOIN sp ON dd.doc_id = sp.doc_id),
         |gaps AS (SELECT doc_id, text, s, e,
         |    COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ps FROM wsp),
         |mid AS (SELECT doc_id,
         |    string_agg(substring(text, ps + 1, s - ps), '' ORDER BY s) AS midtxt,
         |    max(e) AS maxe, any_value(text) AS text FROM gaps GROUP BY doc_id),
         |cln AS (SELECT doc_id,
         |    midtxt || substring(text, maxe + 1, length(text) - maxe) AS clean FROM mid)
         |SELECT d2.doc_id, md5(COALESCE(cln.clean, d2.text)) AS clean_fp,
         |  CAST(length(d2.text) AS BIGINT) AS orig_chars,
         |  CAST(length(COALESCE(cln.clean, d2.text)) AS BIGINT) AS clean_chars
         |FROM documents d2 LEFT JOIN cln USING (doc_id) ORDER BY doc_id""".stripMargin,
  )
}
