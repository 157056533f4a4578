package graft.entry

import graft.operators.Dedup
import graft.functions.TextFunctions

/** Shared DuckDB oracle-SQL fragments (CTEs, expression mirrors of
  * graft.functions/operators) for the per-family oracle maps. Every
  * fragment MUST stay expression-for-expression in sync with the Spark
  * side it mirrors — see each member's doc. */
private[graft] object OracleSupport {
  /** The HLL estimator numerator as a DuckDB double literal —
    * Scala Double.toString round-trips exactly through DuckDB's parser
    * (E-notation literals are DOUBLE), same trick as the LSH plane
    * matrices. */
  object SketchesOracle {
    val numLit: String = graft.operators.Sketches.HllEstNumerator.toString
  }

  /** DuckDB fragments shared by the text oracles — MUST mirror
    * graft.functions.TextFunctions expression-for-expression. */
  val toksSql =
    "list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)"
  val stopListSql =
    TextFunctions.stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
  val punctRawSql =
    "CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / len(text) END"
  val stopRawSql =
    s"CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> lower(x) IN $stopListSql)) AS DOUBLE) / len(toks) END"
  val meanRawSql =
    "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS DOUBLE) / len(toks) END"
  val asciiRawSql =
    "CASE WHEN len(text) = 0 THEN 1.0 ELSE CAST(len(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) AS DOUBLE) / len(text) END"
  val langSql =
    "CASE WHEN ascii_raw < 0.5 THEN 'cjk' WHEN stop_raw >= 0.05 THEN 'en' ELSE 'unknown' END"
  val normalizedSql =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** The merged duplicated-span table (40-char windows, stride 10,
    * cross-doc df ≥ 2, touching windows merged) — ONE text shared by
    * q126 (profile) and q147 (apply); mirrors Dedup.dupSpans. Final
    * table: `sp(doc_id, span_id, s, e)`, s inclusive / e exclusive. */
  lazy val substringSpanCtes: String =
    """d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 40),
      |o0 AS (SELECT doc_id, text,
      |    unnest(list_distinct(flatten(list_transform(
      |      generate_series(0, (length(text) - 40) // 10),
      |      i -> [i * 10, i * 10 + 5])))) AS off
      |  FROM d),
      |offs AS (SELECT doc_id, off, substring(text, off + 1, 40) AS win
      |  FROM o0 WHERE off <= length(text) - 40),
      |dup AS (SELECT win FROM offs GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
      |m AS (SELECT o.doc_id, o.off FROM offs o JOIN dup USING (win)),
      |x AS (SELECT doc_id, off,
      |    max(off + 40) OVER (PARTITION BY doc_id ORDER BY off
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM m),
      |y AS (SELECT doc_id, off,
      |    CASE WHEN prev_end IS NULL OR off > prev_end THEN 1 ELSE 0 END AS ni
      |  FROM x),
      |z AS (SELECT doc_id, off,
      |    sum(ni) OVER (PARTITION BY doc_id ORDER BY off) AS span_id FROM y),
      |sp AS (SELECT doc_id, span_id, min(off) AS s, max(off) + 40 AS e
      |  FROM z GROUP BY 1, 2)""".stripMargin

  /** The Gopher-rule signal + per-rule flag chain over `documents` — ONE
    * text shared by q131 (details + reasons) and q153 (the funnel's
    * quality stage); mirrors TextProfile.gopherFilter (6-dp-ROUNDED
    * signals compared to the thresholds). Final table: `r(doc_id,
    * n_words, mean_word_len, n_stop_distinct, dup_3gram_frac,
    * top_2gram_frac, ok_words, ok_word_len, ok_stopwords, ok_dup,
    * ok_top)`. Per-doc-local signals ⇒ subset-independent flags. */
  lazy val gopherCtes: String =
    s"""t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
       |sig AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
       |  round($meanRawSql, 6) AS mean_word_len,
       |  CAST(len(list_distinct(list_filter(toks, x -> lower(x) IN $stopListSql))) AS BIGINT) AS n_stop_distinct
       | FROM t),
       |toks2 AS (SELECT doc_id, toks AS w FROM t),
       |g3 AS (SELECT doc_id, unnest($sh3Sql) AS sh FROM toks2),
       |d3 AS (SELECT doc_id,
       |  round(1.0 - CAST(count(DISTINCT sh) AS DOUBLE) / count(*), 6) AS dup_3gram_frac
       | FROM g3 GROUP BY 1),
       |g2 AS (SELECT doc_id, unnest($sh2Sql) AS sh FROM toks2),
       |c2 AS (SELECT doc_id, sh, count(*) AS c FROM g2 GROUP BY 1, 2),
       |t2 AS (SELECT doc_id,
       |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_2gram_frac
       | FROM c2 GROUP BY 1),
       |j AS (SELECT sig.*, dup_3gram_frac, top_2gram_frac
       | FROM sig JOIN d3 USING (doc_id) JOIN t2 USING (doc_id)),
       |r AS (SELECT *,
       |  (n_words >= 30 AND n_words <= 100000) AS ok_words,
       |  (mean_word_len >= 3.0 AND mean_word_len <= 5.0) AS ok_word_len,
       |  (n_stop_distinct >= 2) AS ok_stopwords,
       |  (dup_3gram_frac <= 0.05) AS ok_dup,
       |  (top_2gram_frac <= 0.10) AS ok_top
       | FROM j)""".stripMargin

  /** Count-min table + estimates vs exact counts — ONE text shared by
    * q145 (batch one-pass table) and q146 (ingest-accreted cells), both
    * of which must produce identical estimates; mirrors
    * Sketches.cmsTable/cmsEstimate (d=4, w=256, salted md5-long rows). */
  lazy val cmsOracle: String =
    s"""WITH ti AS (SELECT unnest($toksSql) AS tok FROM documents),
       |cells AS (SELECT j,
       |    ${hexLongSql("CAST(j AS VARCHAR) || ':' || tok")} % 256 AS b,
       |    count(*) AS c
       |  FROM ti CROSS JOIN range(4) t(j) GROUP BY 1, 2),
       |exact AS (SELECT tok, count(*) AS exact FROM ti GROUP BY 1),
       |probes AS (SELECT tok, j,
       |    ${hexLongSql("CAST(j AS VARCHAR) || ':' || tok")} % 256 AS b
       |  FROM (SELECT DISTINCT tok FROM ti) CROSS JOIN range(4) t(j)),
       |est AS (SELECT p.tok, min(c.c) AS est
       |  FROM probes p JOIN cells c ON p.j = c.j AND p.b = c.b GROUP BY 1)
       |SELECT e.tok AS key, est, exact, est - exact AS overcount
       |FROM est e JOIN exact USING (tok) ORDER BY key""".stripMargin

  /** Corpus-unigram surprisal per doc — ONE text shared by q128 and the
    * q143/q144 oracles; mirrors TextProfile.unigramSurprisal (per-token
    * 6 dp rounding before exact DECIMAL summation; the mean a floored
    * µ-nat integer — the round()-tie closure). Final table:
    * `srp(doc_id, n_toks, surprisal_u)`. */
  lazy val surprisalCtes: String =
    s"""t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
       |n AS (SELECT count(*) AS n_total FROM t),
       |s AS (SELECT doc_id,
       |    CAST(round(-ln(CAST(cnt AS DOUBLE) / n_total), 6) AS DECIMAL(28,6)) AS s
       |  FROM t JOIN v USING (tok) CROSS JOIN n),
       |srp AS (SELECT doc_id, count(*) AS n_toks,
       |  CAST(sum(s) * 1000000 AS BIGINT) // count(*) AS surprisal_u
       |FROM s GROUP BY doc_id)""".stripMargin

  /** Interpolated Kneser–Ney bigram LM — mirrors
    * graft.operators.NgramLm stage for stage (minCount 2, D = 0.75,
    * chr(1)/chr(2)/chr(3) = unk/bos/eos sentinels, ONE fixed
    * parenthesization of the probability, counts exact BIGINTs). Shared
    * by q184 (model head) and q185 (per-doc cross-entropy). Final
    * tables: `bgs(doc_id, u, w)` the corpus bigram stream and
    * `pm(u, w, c, p)` the bigram-grain model with RAW double p. */
  lazy val knCtes: String =
    s"""t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tv AS (SELECT doc_id, i, toks[i] AS tok FROM
       |  (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t0)),
       |vc AS (SELECT tok FROM tv GROUP BY tok HAVING count(*) >= 2),
       |tm AS (SELECT tv.doc_id, tv.i,
       |    CASE WHEN vc.tok IS NULL THEN chr(1) ELSE tv.tok END AS m
       |  FROM tv LEFT JOIN vc USING (tok)),
       |sq AS (SELECT t0.doc_id,
       |    list_concat(list_concat([chr(2)], coalesce(g.ml, [])), [chr(3)]) AS s
       |  FROM t0 LEFT JOIN
       |    (SELECT doc_id, list(m ORDER BY i) AS ml FROM tm GROUP BY doc_id) g
       |    USING (doc_id)),
       |bgs AS (SELECT doc_id, s[j] AS u, s[j + 1] AS w FROM
       |  (SELECT doc_id, s, unnest(generate_series(1, len(s) - 1)) AS j FROM sq)),
       |bg AS (SELECT u, w, count(*) AS c FROM bgs GROUP BY 1, 2),
       |ctx AS (SELECT u, CAST(sum(c) AS BIGINT) AS cu, count(*) AS n1f
       |  FROM bg GROUP BY 1),
       |cont AS (SELECT w, count(*) AS n1p FROM bg GROUP BY 1),
       |btot AS (SELECT count(*) AS b FROM bg),
       |pm AS (SELECT u, w, c,
       |    (greatest(CAST(c AS DOUBLE) - 0.75, 0.0) / CAST(cu AS DOUBLE))
       |    + (((0.75 * CAST(n1f AS DOUBLE)) / CAST(cu AS DOUBLE))
       |       * (CAST(n1p AS DOUBLE) / CAST(b AS DOUBLE))) AS p
       |  FROM bg JOIN ctx USING (u) JOIN cont USING (w) CROSS JOIN btot)""".stripMargin

  /** Interpolated Kneser–Ney TRIGRAM LM — mirrors NgramLm's order-3
    * chain stage for stage (round-17): double-BOS framing
    * [chr(2), chr(2), …, chr(3)], min-count-2 unk pooling by vocab
    * membership BEFORE framing (frame symbols positionally exempt), the
    * trigram TYPE table, continuation counts at the lower orders
    * (c2' = rows of tg per (u2, w); t2/n1f2/c1p/B1 aggregates of c2'),
    * and BOTH probability levels in ONE pinned parenthesization of
    * IEEE doubles. Final tables: `tgs(doc_id, u1, u2, w)` the corpus
    * trigram stream and `pm3(u1, u2, w, c3, p)` the trigram-grain model
    * with RAW double p. */
  lazy val kn3Ctes: String =
    s"""t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tv AS (SELECT doc_id, i, toks[i] AS tok FROM
       |  (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t0)),
       |vc AS (SELECT tok FROM tv GROUP BY tok HAVING count(*) >= 2),
       |tm AS (SELECT tv.doc_id, tv.i,
       |    CASE WHEN vc.tok IS NULL THEN chr(1) ELSE tv.tok END AS m
       |  FROM tv LEFT JOIN vc USING (tok)),
       |sq AS (SELECT t0.doc_id,
       |    list_concat(list_concat([chr(2), chr(2)], coalesce(g.ml, [])), [chr(3)]) AS s
       |  FROM t0 LEFT JOIN
       |    (SELECT doc_id, list(m ORDER BY i) AS ml FROM tm GROUP BY doc_id) g
       |    USING (doc_id)),
       |tgs AS (SELECT doc_id, s[j] AS u1, s[j + 1] AS u2, s[j + 2] AS w FROM
       |  (SELECT doc_id, s, unnest(generate_series(1, len(s) - 2)) AS j FROM sq)),
       |tg AS (SELECT u1, u2, w, count(*) AS c3 FROM tgs GROUP BY 1, 2, 3),
       |ctx3 AS (SELECT u1, u2, CAST(sum(c3) AS BIGINT) AS c12, count(*) AS n1f3
       |  FROM tg GROUP BY 1, 2),
       |cp2 AS (SELECT u2, w, count(*) AS c2p FROM tg GROUP BY 1, 2),
       |ctx2 AS (SELECT u2, CAST(sum(c2p) AS BIGINT) AS t2, count(*) AS n1f2
       |  FROM cp2 GROUP BY 1),
       |uni AS (SELECT w, count(*) AS c1p FROM cp2 GROUP BY 1),
       |bt1 AS (SELECT count(*) AS b1 FROM cp2),
       |pm3 AS (SELECT u1, u2, w, c3,
       |    (greatest(CAST(c3 AS DOUBLE) - 0.75, 0.0) / CAST(c12 AS DOUBLE))
       |    + (((0.75 * CAST(n1f3 AS DOUBLE)) / CAST(c12 AS DOUBLE))
       |       * ((greatest(CAST(c2p AS DOUBLE) - 0.75, 0.0) / CAST(t2 AS DOUBLE))
       |          + (((0.75 * CAST(n1f2 AS DOUBLE)) / CAST(t2 AS DOUBLE))
       |             * (CAST(c1p AS DOUBLE) / CAST(b1 AS DOUBLE))))) AS p
       |  FROM tg JOIN ctx3 USING (u1, u2) JOIN cp2 USING (u2, w)
       |  JOIN ctx2 USING (u2) JOIN uni USING (w) CROSS JOIN bt1)""".stripMargin

  /** Renders a KN sentinel column as its readable tag — mirrors
    * NgramLm.rendered. */
  def knRenderSql(c: String): String =
    s"""CASE WHEN $c = chr(1) THEN '<unk>' WHEN $c = chr(2) THEN '<s>'
       | WHEN $c = chr(3) THEN '</s>' ELSE $c END""".stripMargin.replace("\n", "")

  /** Epoch-capped mixture-allocation waterfilling — mirrors
    * Corpus.mixtureAllocate round for round over the q186 inputs
    * (avail = per-source whitespace-token totals, weight = squared
    * en-char mass, budget = Σ avail, cap = 1.15 epochs, 6 fixed rounds;
    * every derived quantity is floor(double) with the Spark side's exact
    * parenthesization). Shared by q186 (allocation) and q187 (epoch
    * plan). Final table: `r6(source, a, w, cap, alloc)`. */
  lazy val mixtureCtes: String = {
    val base =
      s"""aw AS (SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS BIGINT) AS ec
         |  FROM documents GROUP BY 1),
         |ab AS (SELECT source, a, ec * ec AS w,
         |    CAST(floor((CAST(a AS DOUBLE) * 1150000.0) / 1000000.0) AS BIGINT) AS cap
         |  FROM aw),
         |tt AS (SELECT CAST(sum(a) AS BIGINT) AS t FROM ab),
         |r0 AS (SELECT source, a, w, cap, CAST(0 AS BIGINT) AS alloc FROM ab)""".stripMargin
    val rounds = (1 to 6).map { k =>
      val p = s"r${k - 1}"
      s"""s$k AS (SELECT (SELECT t FROM tt) - CAST(sum(alloc) AS BIGINT) AS rem,
         |    CAST(sum(CASE WHEN alloc < cap THEN w END) AS BIGINT) AS wu FROM $p),
         |r$k AS MATERIALIZED (SELECT source, a, w, cap,
         |    alloc + least(cap - alloc,
         |      CASE WHEN alloc >= cap OR wu IS NULL OR wu <= 0 OR rem <= 0 THEN 0
         |        ELSE CAST(floor((CAST(rem AS DOUBLE) * CAST(w AS DOUBLE))
         |              / CAST(wu AS DOUBLE)) AS BIGINT) END) AS alloc
         |  FROM $p CROSS JOIN s$k)""".stripMargin
    }.mkString(",\n")
    base + ",\n" + rounds
  }

  /** 10-word paragraph windows — ONE text shared by the four paragraph
    * oracles (q101/q104/q107/q108) so the twins can never silently
    * diverge; mirrors Dedup.explodeParagraphs. */
  val paraCtes =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |p0 AS (SELECT doc_id, ws,
      |   unnest(generate_series(1, CAST(ceil(len(ws)/10.0) AS BIGINT))) AS j FROM w),
      |p AS (SELECT doc_id, j - 1 AS pos,
      |   array_to_string(ws[(CAST(j-1 AS INT)*10+1):(CAST(j-1 AS INT)*10+10)], ' ') AS para
      |  FROM p0)""".stripMargin

  /** [[paraCtes]] + the corpus-wide first-occurrence keeper selection
    * (min encoded (doc, pos) per distinct paragraph — mirrors
    * Dedup.paragraphDedup / the q108 ingest twin). */
  val paraKeeperCtes =
    s"""$paraCtes,
       |k AS (SELECT para, min(doc_id*100000+pos) AS keep FROM p GROUP BY para),
       |kept AS (SELECT p.doc_id, p.pos, p.para FROM p JOIN k ON p.para = k.para
       |  AND p.doc_id*100000+p.pos = k.keep)""".stripMargin

  /** [[paraCtes]] + the FUZZY keeper selection — mirrors
    * Dedup.paragraphDedupFuzzy stage for stage: distinct texts keyed by
    * their min encoded instance (pid), MinHash over the distinct texts
    * (same 32 perms/8 bands as [[sigCte]], coefficients shared via
    * [[minhashCoeffSql]]), exact-Jaccard verification at ≥ 0.4, components
    * via the recursive reach CTE (q76/q84's shape), keeper = group min
    * pid, survivors in `fkept`. Embedding oracle must open WITH RECURSIVE. */
  lazy val paraFuzzyKeeperCtes: String =
    s"""$paraCtes,
       |pf AS (SELECT para, min(doc_id*100000+pos) AS pid FROM p GROUP BY para),
       |ptk AS (SELECT pid, para,
       |  list_filter(string_split_regex(trim(para), '\\s+'), x -> len(x) > 0) AS w
       |  FROM pf),
       |psh AS (SELECT pid, unnest(list_distinct($sh3Sql)) AS sh FROM ptk),
       |ph AS (SELECT pid, ${hexLongSql("sh")} AS h FROM psh),
       |coeff AS (SELECT * FROM (VALUES $minhashCoeffSql) t(i, ca, cb)),
       |ppm AS (SELECT pid, i,
       |  min(CAST((CAST(h AS HUGEINT) * ca + cb) % 2305843009213693951 AS BIGINT)) AS m
       |  FROM ph CROSS JOIN coeff GROUP BY pid, i),
       |psig AS (SELECT pid, list(m ORDER BY i) AS sig FROM ppm GROUP BY pid),
       |pbd AS (SELECT pid, bd,
       |  array_to_string(array_slice(sig, bd*4+1, bd*4+4), ',') AS bandkey
       |  FROM psig CROSS JOIN range(8) t(bd)),
       |pcand AS (SELECT DISTINCT l.pid AS a, r.pid AS b FROM pbd l
       |  JOIN pbd r ON l.bd = r.bd AND l.bandkey = r.bandkey AND l.pid < r.pid),
       |psz AS (SELECT pid, count(*) AS sz FROM psh GROUP BY pid),
       |ppr AS (SELECT pcand.a, pcand.b, count(*) AS common
       |  FROM pcand JOIN psh x ON x.pid = pcand.a
       |  JOIN psh y ON y.pid = pcand.b AND x.sh = y.sh GROUP BY 1, 2),
       |pe AS (SELECT a, b FROM (
       |  SELECT ppr.a, ppr.b,
       |   round(CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS j
       |  FROM ppr JOIN psz sa ON ppr.a = sa.pid JOIN psz sb ON ppr.b = sb.pid)
       |  WHERE j >= 0.4),
       |pee AS (SELECT a, b FROM pe UNION SELECT b, a FROM pe),
       |preach(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM pee)
       |  UNION
       |  SELECT r.a, e2.b FROM preach r JOIN pee e2 ON r.b = e2.a),
       |pcomp AS (SELECT a AS pid, min(b) AS comp FROM preach GROUP BY a),
       |plabel AS (SELECT pf.para, COALESCE(pcomp.comp, pf.pid) AS keep
       |  FROM pf LEFT JOIN pcomp ON pf.pid = pcomp.pid),
       |fkept AS (SELECT p.doc_id, p.pos, p.para FROM p JOIN plabel
       |  ON p.para = plabel.para AND p.doc_id*100000+p.pos = plabel.keep)""".stripMargin

  /** Hex chars [from, from+14] of md5(e) as a non-negative 60-bit long —
    * MUST mirror graft.operators.Dedup.md5Long / Multimodal.hexSeg. */
  def hexLongSql(e: String, from: Int = 1): String =
    s"list_reduce(list_transform(string_split(substr(md5($e), $from, 15), ''), " +
      "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"

  /** Word n-gram shingles over token list `w` — mirrors
    * TextFunctions.shingles (short docs collapse to one whole-text
    * shingle). */
  def shNSql(n: Int): String = {
    val parts = (1 to n).map(j => s"w[i+$j]").mkString(", ")
    s"CASE WHEN len(w) < $n THEN [array_to_string(w, ' ')] " +
      s"ELSE list_transform(range(0, len(w) - ${n - 1}), i -> concat_ws(' ', $parts)) END"
  }
  val sh3Sql = shNSql(3)

  /** Shared by q41 (batch) and q119 (the DAG's streamed pay_success). */
  lazy val paySuccessOracle: String =
    s"""WITH $preCte
       |SELECT CASE WHEN o.o_orderkey%2=0 THEN 'alipay' ELSE 'wechat' END AS payment_type_name,
       | d.stn AS source_type_name, count(*) AS n_rows,
       | CAST(sum(d.amt) AS DOUBLE) AS sum_amount,
       | count(a.k) AS n_act, count(c.k) AS n_cpn
       |FROM det d JOIN orders o ON d.k=o.o_orderkey AND o.o_orderkey%3=0 AND o.o_orderkey%5<>0
       |LEFT JOIN act a ON d.k=a.k AND d.n=a.n
       |LEFT JOIN cpn c ON d.k=c.k AND d.n=c.n
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared by q42 (batch) and q120 (the DAG's streamed cancel). */
  lazy val cancelOracle: String =
    s"""WITH $preCte
       |SELECT d.stn AS source_type_name, count(*) AS n_rows,
       | CAST(sum(d.amt) AS DOUBLE) AS sum_amount,
       | count(a.k) AS n_act, count(c.k) AS n_cpn
       |FROM det d JOIN orders o ON d.k=o.o_orderkey AND o.o_orderstatus<>'O' AND o.o_orderkey%5=1
       |LEFT JOIN act a ON d.k=a.k AND d.n=a.n
       |LEFT JOIN cpn c ON d.k=c.k AND d.n=c.n
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by q44 (batch) and q122 (the DAG's streamed refund_pay_suc). */
  lazy val refundPayOracle: String =
    """WITH rp AS (SELECT l_orderkey AS k, l_partkey AS p,
      |  CAST(l_extendedprice AS DECIMAL(18,2)) AS amt
      | FROM lineitem
      | WHERE l_returnflag='R' AND l_linenumber%2=0 AND l_partkey%3<>0 AND l_partkey%5<>4),
      |ri AS (SELECT l_orderkey AS k, l_partkey AS p, CAST(l_quantity AS INT) AS rn
      | FROM lineitem WHERE l_returnflag='R')
      |SELECT CASE WHEN rp.p%2=0 THEN 'alipay' ELSE 'wechat' END AS payment_type_name,
      | count(*) AS n_rows, CAST(sum(rp.amt) AS DOUBLE) AS sum_amount,
      | CAST(sum(ri.rn) AS BIGINT) AS sum_num
      |FROM rp JOIN orders o ON rp.k=o.o_orderkey AND o.o_orderstatus<>'O' AND o.o_orderkey%5=3
      |JOIN ri ON rp.k=ri.k AND rp.p=ri.p
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by q102 (batch SemDeDup) and q118 (the ingest twin) — ONE
    * oracle: √N seed-centroid cells (ivfAssignCteN — scaled exactly like
    * the Spark side's [[semDedupCells]]), within-cell cosine pairs,
    * recursive-reach components, min-id survivors. */
  lazy val semDedupOracle: String =
    s"""WITH RECURSIVE ${ivfAssignCteN(semDedupSeedLimitSql)},
       |v AS (SELECT m.vec_id, m.embedding AS e, $nrmSql AS nrm, a.cell
       |  FROM embeddings m JOIN assign a ON m.vec_id = a.vec_id),
       |e AS (SELECT va.vec_id AS a, vb.vec_id AS b
       |  FROM v va JOIN v vb ON va.cell = vb.cell AND va.vec_id < vb.vec_id
       |  WHERE $dotSql / (va.nrm * vb.nrm) >= 0.35),
       |ee AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
       |reach(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM ee)
       |  UNION
       |  SELECT r.a, e2.b FROM reach r JOIN ee e2 ON r.b = e2.a),
       |comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a)
       |SELECT m.vec_id, m.label FROM embeddings m
       |LEFT JOIN comp ON m.vec_id = comp.id
       |WHERE comp.comp IS NULL OR comp.comp = m.vec_id
       |ORDER BY m.vec_id""".stripMargin

  /** The Dedup.capRecallAudit replay tail — shared by q178 (LSH-bucket
    * cap) and q183 (SemDeDup cell cap): expects CTEs `fp` (uncapped
    * pairs) and `cp` (capped pairs) in scope, runs one recursive
    * transitive closure per pair set (min reachable id = label; capped
    * singletons label themselves), emits the single all-integer audit
    * row. */
  lazy val capAuditTailSql: String =
    """eef AS (SELECT a, b FROM fp UNION SELECT b, a FROM fp),
      |reachf(a, b) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM eef)
      |  UNION
      |  SELECT r.a, e2.b FROM reachf r JOIN eef e2 ON r.b = e2.a),
      |compf AS (SELECT a AS id, min(b) AS comp FROM reachf GROUP BY a),
      |eec AS (SELECT a, b FROM cp UNION SELECT b, a FROM cp),
      |reachc(a, b) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM eec)
      |  UNION
      |  SELECT r.a, e2.b FROM reachc r JOIN eec e2 ON r.b = e2.a),
      |compc AS (SELECT a AS id, min(b) AS comp FROM reachc GROUP BY a),
      |cmp AS (SELECT compf.id, compf.comp,
      |  COALESCE(compc.comp, compf.id) AS ccomp
      | FROM compf LEFT JOIN compc ON compf.id = compc.id)
      |SELECT
      | (SELECT count(*) FROM fp) AS n_pairs_full,
      | (SELECT count(*) FROM cp) AS n_pairs_capped,
      | (SELECT count(*) FROM (SELECT a, b FROM fp EXCEPT SELECT a, b FROM cp)) AS lost_edges,
      | (SELECT count(*) FROM (SELECT a, b FROM cp EXCEPT SELECT a, b FROM fp)) AS extra_edges,
      | (SELECT count(*) FROM cmp) AS n_docs,
      | (SELECT CAST(COALESCE(sum(CASE WHEN comp = ccomp THEN 1 ELSE 0 END), 0) AS BIGINT)
      |   FROM cmp) AS n_agree,
      | (SELECT count(DISTINCT comp) FROM cmp) AS n_comps_full,
      | (SELECT count(DISTINCT ccomp) FROM cmp) AS n_comps_capped""".stripMargin

  /** Shared by q37 (harness-fed) and q117 (the warehouse DAG's own
    * dws/keyword parquet) — ONE oracle over the shared log synthesis. */
  lazy val keywordWindowOracle: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
       |words AS (SELECT doc_id, unnest(w[1:3]) AS word FROM toks),
       |win AS (SELECT word, (doc_id * 3) // 10 * 10 AS w0 FROM words)
       |SELECT strftime(make_timestamp(w0 * 1000000), '%Y-%m-%d %H:%M:%S') AS stt,
       | strftime(make_timestamp((w0 + 10) * 1000000), '%Y-%m-%d %H:%M:%S') AS edt,
       | word, count(*) AS keyword_count
       |FROM win GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin

  /** Shared by q39 (batch wide table) and q115 (the warehouse DAG's
    * streamed order_pre epoch dirs) — ONE oracle: the cross-batch
    * interval-join content must equal the batch joins exactly. */
  lazy val orderPreOracle: String =
    """WITH det AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  CAST(l_extendedprice AS DECIMAL(18,2)) AS amt,
      |  concat('240', l_linenumber % 2 + 1) AS source_type FROM lineitem),
      |act AS (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linenumber % 3 = 0),
      |cpn AS (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_partkey % 4 = 0)
      |SELECT CASE WHEN o.o_orderstatus = 'O' THEN 'insert' ELSE 'update' END AS op_type,
      | CASE WHEN d.source_type = '2401' THEN 'promo' ELSE 'search' END AS source_type_name,
      | count(*) AS n_rows,
      | CAST(sum(d.amt) AS DOUBLE) AS sum_amount,
      | CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_oi_amount,
      | count(a.l_orderkey) AS n_act,
      | count(c.l_orderkey) AS n_cpn
      |FROM det d JOIN orders o ON d.l_orderkey = o.o_orderkey
      |LEFT JOIN act a ON d.l_orderkey = a.l_orderkey AND d.l_linenumber = a.l_linenumber
      |LEFT JOIN cpn c ON d.l_orderkey = c.l_orderkey AND d.l_linenumber = c.l_linenumber
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared by q36 (batch pipeline) and q113 (the warehouse DAG's
    * streamed dwd/cart_add dirs) — ONE oracle, since the stateless cart
    * pipeline's epoch-dir union must equal the batch form row for row. */
  lazy val cartAddOracle: String =
    """SELECT CASE WHEN l_linenumber % 2 = 0 THEN 'promo' ELSE 'search' END AS source_type_name,
      | count(*) AS n_rows,
      | CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS INT)
      |          ELSE (l_linenumber % 4) - 1 END) AS BIGINT) AS sum_num,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      | CAST(sum(l_partkey % 2) AS BIGINT) AS sum_checked,
      | CAST(sum(l_orderkey % 2) AS BIGINT) AS sum_ordered,
      | count(CASE WHEN l_orderkey % 2 = 1 THEN 1 END) AS n_order_time,
      | max(strftime(l_shipdate, '%Y-%m-%d') || ' 09:00:00') AS max_operate_time,
      | count(DISTINCT l_suppkey) AS n_sources
      |FROM lineitem
      |WHERE l_returnflag = 'N' OR (l_returnflag = 'A' AND (l_linenumber % 4) IN (2, 3))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by q40 (harness-fed) and q114 (the warehouse DAG's own
    * dws/traffic parquet) — ONE oracle over the shared log synthesis. */
  lazy val trafficWindowOracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
      | strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
      | 'v' || CAST(user_id % 3 AS VARCHAR) AS vc,
      | event_type AS ch,
      | CAST(user_id % 5 AS VARCHAR) AS ar,
      | CAST(event_id % 2 AS VARCHAR) AS is_new,
      | count(*) AS pv_ct,
      | CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sv_ct,
      | CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS dur_sum
      |FROM events
      |GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY 1, 3, 4, 5, 6""".stripMargin

  /** Shared by q81 (batch) and q83 (streaming twin) — ONE oracle, since
    * register point-max is order/batch independent: same 60-bit md5 hash,
    * same bucket/rank split, same exact integer harmonic sum, same single
    * division (numerator literal injected from Scala). */
  lazy val hllDistinctOracle: String =
    s"""WITH h AS (SELECT l_returnflag AS g,
       |  ${hexLongSql("CAST(l_orderkey AS VARCHAR)")} AS h FROM lineitem),
       |b AS (SELECT g, h >> 54 AS bucket, h & ${(1L << 54) - 1} AS low FROM h),
       |r AS (SELECT g, bucket,
       |  CASE WHEN low = 0 THEN 55 ELSE 55 - length(bin(low)) END AS rho FROM b),
       |regs AS (SELECT g, bucket, max(rho) AS mx FROM r GROUP BY 1, 2),
       |allb AS (SELECT d.g, gs.range AS bucket
       |  FROM (SELECT DISTINCT g FROM regs) d CROSS JOIN range(0, 64) gs),
       |filled AS (SELECT allb.g, coalesce(regs.mx, 0) AS mx
       |  FROM allb LEFT JOIN regs ON allb.g = regs.g AND allb.bucket = regs.bucket),
       |agg AS (SELECT g, sum(CAST(1 AS BIGINT) << (55 - mx)) AS s,
       |    CAST(sum(CAST(mx AS BIGINT)) AS BIGINT) AS reg_sum,
       |    count(*) FILTER (WHERE mx > 0) AS hit
       |  FROM filled GROUP BY g),
       |est AS (SELECT g, hit, reg_sum,
       |    ${SketchesOracle.numLit} / CAST(s AS DOUBLE) AS raw FROM agg)
       |SELECT g AS l_returnflag, hit AS n_buckets_hit, reg_sum,
       |  round(CASE WHEN raw <= 160.0e0 AND (64 - hit) > 0
       |    THEN 64.0e0 * ln(64.0e0 / CAST(64 - hit AS DOUBLE)) ELSE raw END, 6)
       |    AS est_distinct
       |FROM est ORDER BY l_returnflag""".stripMargin

  /** Shared by q76 (min-label propagation) and q84 (large-star/small-star)
    * — ONE oracle, since both converge to comp = min reachable id over the
    * same simhash near-dup pair graph. */
  lazy val dedupGroupsOracle: String =
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
       |  SELECT r.a, e2.b FROM reach r JOIN ee e2 ON r.b = e2.a)
       |SELECT a AS id, min(b) AS comp FROM reach GROUP BY a ORDER BY a""".stripMargin

  /** Shared by q80 (batch) and q87 (streaming window counts → same
    * bounded-heap ranking) — ONE oracle, identical output contract. */
  lazy val topNOracle: String =
    """WITH c AS (SELECT date_trunc('hour', ts) AS w, user_id AS item, count(*) AS ct
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |r AS (SELECT w, item, ct,
      |  row_number() OVER (PARTITION BY w ORDER BY ct DESC, item) AS rnk FROM c)
      |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS stt, item, ct, rnk
      |FROM r WHERE rnk <= 3 ORDER BY stt, rnk""".stripMargin

  /** Shared by q70 (batch) and q71 (streaming twin) — ONE oracle so the
    * two gates can never silently diverge: a session breaks only when the
    * µs gap STRICTLY exceeds the 4 h gap (Spark merges touching windows). */
  val sessionOracleSql =
    """WITH g AS (SELECT user_id, ts,
        |  event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 14400000000 THEN 1 ELSE 0 END AS brk
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, sum(brk) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS stt,
        | strftime(max(ts) + INTERVAL 4 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
        | count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, stt""".stripMargin

  /** Word 2-gram shingles over token list `w` — mirrors TextFunctions.shingles(n=2). */
  val sh2Sql =
    "CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')] " +
      "ELSE list_transform(range(0, len(w) - 1), i -> concat_ws(' ', w[i+1], w[i+2])) END"

  /** Distinct (doc_id, shingle) rows. */
  val shCte =
    s"""toks AS (SELECT doc_id, $toksSql AS w FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct($sh3Sql)) AS sh FROM toks)""".stripMargin

  /** MinHash signatures + LSH band candidates — mirrors Dedup.minhashSignatures
    * (32 perms) + Dedup.lshCandidates (8 bands of 4) with the identical affine
    * coefficients. */
  /** The 32 (i, a, b) MinHash perm coefficients as DuckDB VALUES rows —
    * shared by [[sigCte]] (doc grain) and the q109 paragraph-grain twin. */
  lazy val minhashCoeffSql: String = (0 until 32).map { i =>
    val (a, b) = Dedup.permCoeff(i); s"($i, $a, $b)"
  }.mkString(", ")

  val sigCte: String = {
    s"""h AS (SELECT doc_id, ${hexLongSql("sh")} AS h FROM sh),
       |coeff AS (SELECT * FROM (VALUES $minhashCoeffSql) t(i, ca, cb)),
       |pm AS (SELECT doc_id, i, min(CAST((CAST(h AS HUGEINT) * ca + cb) % 2305843009213693951 AS BIGINT)) AS m
       |  FROM h CROSS JOIN coeff GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM pm GROUP BY doc_id),
       |banded AS (SELECT doc_id, bd, array_to_string(array_slice(sig, bd*4+1, bd*4+4), ',') AS bandkey
       |  FROM sig CROSS JOIN range(8) t(bd)),
       |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM banded l
       |  JOIN banded r ON l.bd = r.bd AND l.bandkey = r.bandkey AND l.doc_id < r.doc_id)""".stripMargin
  }

  /** 60-bit SimHash per doc — mirrors Dedup.simhash. */
  val simhashCte =
    s"""tok AS (SELECT doc_id, unnest(list_distinct(w)) AS tk FROM toks),
       |th AS (SELECT doc_id, ${hexLongSql("tk")} AS h FROM tok),
       |votes AS (SELECT doc_id, bb, sum(CASE WHEN (h >> bb) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th CROSS JOIN range(60) t(bb) GROUP BY doc_id, bb),
       |ssig AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bb) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id)""".stripMargin

  /** ‖e‖₂ with the same fold order as VectorFunctions.norm. */
  val nrmSql =
    "sqrt(list_reduce(list_transform(e, u -> CAST(u AS DOUBLE) * CAST(u AS DOUBLE)), (p, q) -> p + q))"

  /** Σ va.e[i]·vb.e[i] with the same fold order as VectorFunctions.dot. */
  val dotSql =
    "list_reduce(list_transform(range(64), i -> CAST(va.e[i+1] AS DOUBLE) * CAST(vb.e[i+1] AS DOUBLE)), (p, q) -> p + q)"

  /** q90's PQ-ADC chain (codebook → codes → LUT → summed-term ranking),
    * up to the `ranked` CTE — shared by q90 (plain ADC top-k) and q133
    * (ADC shortlist → exact re-rank) so the twins can never silently
    * diverge on the shortlist. */
  lazy val pqRankedCtes: String =
    s"""WITH seeds AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
       |cb AS (SELECT s.range AS sub, seeds.vec_id AS code,
       |    array_slice(embedding, s.range*8+1, s.range*8+8) AS ce
       |  FROM seeds CROSS JOIN range(8) s),
       |cbn AS (SELECT sub, code, ce,
       |    list_reduce(list_transform(range(8), i -> CAST(ce[i+1] AS DOUBLE)*CAST(ce[i+1] AS DOUBLE)), (p,q) -> p+q) AS cn2
       |  FROM cb),
       |ev AS (SELECT vec_id, s.range AS sub,
       |    array_slice(embedding, s.range*8+1, s.range*8+8) AS xs
       |  FROM embeddings CROSS JOIN range(8) s),
       |dd AS (SELECT ev.vec_id, ev.sub, cbn.code,
       |    cbn.cn2 - 2 * list_reduce(list_transform(range(8), i -> CAST(ev.xs[i+1] AS DOUBLE)*CAST(cbn.ce[i+1] AS DOUBLE)), (p,q) -> p+q) AS dist
       |  FROM ev JOIN cbn ON ev.sub = cbn.sub),
       |codes AS (SELECT vec_id, sub, code FROM (
       |  SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn FROM dd) WHERE rn = 1),
       |lut AS (SELECT q.vec_id AS query_id, q.sub, cbn.code,
       |    list_reduce(list_transform(range(8), i -> CAST(q.xs[i+1] AS DOUBLE)*CAST(cbn.ce[i+1] AS DOUBLE)), (p,q) -> p+q) AS tdot
       |  FROM (SELECT * FROM ev WHERE vec_id % 50 = 0) q JOIN cbn ON q.sub = cbn.sub),
       |pairs AS (SELECT l.query_id, c.vec_id AS neighbor_id,
       |    ${(0 until 8).map(s => s"max(CASE WHEN c.sub = $s THEN l.tdot END) AS t$s").mkString(", ")}
       |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
       |  WHERE l.query_id <> c.vec_id GROUP BY 1, 2),
       |ranked AS (SELECT query_id, neighbor_id,
       |    ${(0 until 8).map(s => s"t$s").reduceLeft((a, b) => s"($a + $b)")} AS score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY
       |      ${(0 until 8).map(s => s"t$s").reduceLeft((a, b) => s"($a + $b)")} DESC, neighbor_id) AS "rank"
       |  FROM pairs)""".stripMargin

  /** [[dotSql]] parameterized over the two list expressions (same fold). */
  def dotOf(a: String, b: String, dim: Int = 64): String =
    s"list_reduce(list_transform(range($dim), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (p, q) -> p + q)"

  /** Hyperplane matrix + per-vector LSH bucket for q53 — mirrors
    * VectorExpressions.HyperplaneBucketF (4 planes × 64 dims): the plane
    * components are the exact same planeComp doubles inlined as literals
    * (Double.toString round-trips), the dot product folds left from 0.0 in
    * index order, and bit p is set iff the dot is ≥ 0. */
  def lshBucketCte(nPlanes: Int, dim: Int): String = {
    val rows = (0 until nPlanes).map { p =>
      val w = (0 until dim)
        .map(dd => graft.functions.VectorFunctions.planeComp(p, dd).toString)
        .mkString("[", ", ", "]")
      s"($p, $w::DOUBLE[])"
    }.mkString(", ")
    s"""planes AS (SELECT * FROM (VALUES $rows) t(p, w)),
       |bkt AS (SELECT vec_id,
       |  CAST(sum(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
       | FROM (SELECT v.vec_id, pl.p,
       |   list_reduce(list_transform(range($dim),
       |     i -> CAST(v.embedding[i+1] AS DOUBLE) * pl.w[i+1]), (a, b) -> a + b) AS dp
       |  FROM embeddings v CROSS JOIN planes pl)
       | GROUP BY vec_id)""".stripMargin
  }

  /** Seed-centroid IVF assignment CTEs — mirrors
    * Similarity.kmeansCentroids(iterations = 0) + assignCells: lowest-id
    * seeds, dist = ‖c‖² − 2·x·c, argmin ties by cell id. `seedLimitSql`
    * injects the seed count: the literal "16" for q54/q59, the √N scalar
    * subquery for the SemDeDup pair (whose cell count must scale with the
    * corpus — see [[semDedupCells]]). */
  def ivfAssignCteN(seedLimitSql: String): String =
    s"""seeds AS (SELECT vec_id AS cell, embedding AS ce,
      |  list_reduce(list_transform(range(64), i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)), (a, b) -> a + b) AS cn2
      | FROM embeddings WHERE vec_id IN (SELECT vec_id FROM (
      |   SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings)
      |  WHERE rn <= $seedLimitSql)),
      |dd AS (SELECT v.vec_id, s.cell,
      |  s.cn2 - 2 * list_reduce(list_transform(range(64), i -> CAST(v.embedding[i+1] AS DOUBLE) * CAST(s.ce[i+1] AS DOUBLE)), (a, b) -> a + b) AS dist
      | FROM embeddings v CROSS JOIN seeds s),
      |assign AS (SELECT vec_id, cell FROM (
      |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM dd) WHERE rn = 1)""".stripMargin

  /** Shared by q54/q59: the ANN/clustering gates keep a fixed 16-cell
    * quantizer (nProbe/recall semantics are per-cell-count contracts). */
  val ivfAssignCte = ivfAssignCteN("16")

  /** [[ivfAssignCteN]] with TAGGED cte names and a seed-candidate filter —
    * the q127 oracle needs TWO geometries side by side: the frozen
    * ingest quantizer (seeds = √N lowest ids of the HIGH half) and the
    * recenter refit (corpus-lowest seeds). Same dist/tie arithmetic. */
  def ivfAssignCteTagged(tag: String, seedWhere: String): String =
    s"""seeds$tag AS (SELECT vec_id AS cell, embedding AS ce,
      |  list_reduce(list_transform(range(64), i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)), (a, b) -> a + b) AS cn2
      | FROM embeddings WHERE vec_id IN (SELECT vec_id FROM (
      |   SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings $seedWhere)
      |  WHERE rn <= $semDedupSeedLimitSql)),
      |dd$tag AS (SELECT v.vec_id, s.cell,
      |  s.cn2 - 2 * list_reduce(list_transform(range(64), i -> CAST(v.embedding[i+1] AS DOUBLE) * CAST(s.ce[i+1] AS DOUBLE)), (a, b) -> a + b) AS dist
      | FROM embeddings v CROSS JOIN seeds$tag s),
      |assign$tag AS (SELECT vec_id, cell FROM (
      |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM dd$tag) WHERE rn = 1)""".stripMargin

  /** The SemDeDup oracle's seed count — the SQL twin of [[semDedupCells]]. */
  val semDedupSeedLimitSql =
    "(SELECT GREATEST(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings)"

  /** Order wide-table CTEs mirroring TopicDb's order_detail / activity /
    * coupon derivations ⋈'d by q41/q42: source_type '240'||(n%2+1) → dic
    * name promo/search. */
  val preCte =
    """det AS (SELECT l_orderkey AS k, l_linenumber AS n,
      |  CAST(l_extendedprice AS DECIMAL(18,2)) AS amt,
      |  CASE WHEN l_linenumber%2=0 THEN 'promo' ELSE 'search' END AS stn FROM lineitem),
      |act AS (SELECT l_orderkey AS k, l_linenumber AS n FROM lineitem WHERE l_linenumber%3=0),
      |cpn AS (SELECT l_orderkey AS k, l_linenumber AS n FROM lineitem WHERE l_partkey%4=0)""".stripMargin

  /** Fake media ingest+decode — mirrors Multimodal.ingestDocsAsMedia/decodeMeta. */
  val mediaCte =
    s"""m AS (SELECT doc_id AS media_id,
       |  (['image/png', 'audio/wav', 'video/mp4'])[CAST(doc_id % 3 + 1 AS INT)] AS mime,
       |  text, octet_length(encode(text)) AS n_bytes,
       |  64 + ${hexLongSql("text", 1)} % 1857 AS width,
       |  64 + ${hexLongSql("text", 17)} % 1857 AS height
       | FROM documents)""".stripMargin


  /** q138: the IVF path (q54's chain) joined against the brute-force
    * ranking (q24's chain) at k = 10 — per-query hit counts + recall. */
  lazy val annRecallOracle: String =
    s"""WITH $ivfAssignCte,
       |probes AS (SELECT vec_id AS query_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM dd WHERE vec_id % 50 = 0) WHERE rn <= 4),
       |v AS (SELECT vec_id, embedding AS e, $nrmSql AS nrm FROM embeddings),
       |iscored AS (SELECT p.query_id, a.vec_id AS neighbor_id, $dotSql / (va.nrm * vb.nrm) AS score
       | FROM probes p JOIN assign a ON p.cell = a.cell AND p.query_id <> a.vec_id
       | JOIN v va ON va.vec_id = p.query_id JOIN v vb ON vb.vec_id = a.vec_id),
       |approx AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM iscored) WHERE rn <= 10),
       |escored AS (SELECT va.vec_id AS query_id, vb.vec_id AS neighbor_id, $dotSql / (va.nrm * vb.nrm) AS score
       | FROM (SELECT * FROM v WHERE vec_id % 50 = 0) va JOIN v vb ON va.vec_id <> vb.vec_id),
       |eranked AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM escored),
       |j AS (SELECT e.query_id, a.neighbor_id AS hitn
       |  FROM (SELECT query_id, neighbor_id FROM eranked WHERE rn <= 10) e
       |  LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
       |SELECT query_id, count(*) AS n_exact, count(hitn) AS n_hit,
       | round(CAST(count(hitn) AS DOUBLE) / count(*), 6) AS recall
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** q136/q137's shared cap rule: smallest-10 md5(doc_id) per source. */
  lazy val capPerGroupOracle: String =
    s"""WITH h AS (SELECT doc_id, source,
       |    ${hexLongSql("CAST(doc_id AS VARCHAR)")} AS hh FROM documents),
       |r AS (SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn FROM h)
       |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin

  /** Seed-centroid IVF probe + exact in-cell scoring — shared by q54
    * (batch ivfTopK) and q134 (the AnnIngest store-backed search, which
    * must answer identically under the id-ascending feed). */
  lazy val ivfTopKOracle: String =
    s"""WITH $ivfAssignCte,
       |probes AS (SELECT vec_id AS query_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM dd WHERE vec_id % 50 = 0) WHERE rn <= 4),
       |v AS (SELECT vec_id, embedding AS e, $nrmSql AS nrm FROM embeddings),
       |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, $dotSql / (va.nrm * vb.nrm) AS score
       | FROM probes p JOIN assign a ON p.cell = a.cell AND p.query_id <> a.vec_id
       | JOIN v va ON va.vec_id = p.query_id JOIN v vb ON vb.vec_id = a.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, score,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank" FROM scored)
       |SELECT query_id, neighbor_id, round(score, 6) AS score, "rank" FROM ranked
       |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin

  /** q132's DSIR importance chain up to the per-doc `iw` CTE — shared
    * with q135 so the selection step can never diverge from the scores. */
  lazy val importanceCtes: String =
    s"""WITH t AS (SELECT doc_id, (lang = 'en') AS it, unnest($toksSql) AS tok FROM documents),
       |v AS (SELECT tok, count(*) AS cb,
       |    sum(CASE WHEN it THEN 1 ELSE 0 END) AS ct FROM t GROUP BY tok),
       |tot AS (SELECT sum(cb) AS nb, sum(ct) AS nt, count(*) AS vv FROM v),
       |s AS (SELECT doc_id,
       |    CAST(round(ln((CAST(ct + 1 AS DOUBLE) / CAST(nt + vv AS DOUBLE))
       |      / (CAST(cb + 1 AS DOUBLE) / CAST(nb + vv AS DOUBLE))), 6) AS DECIMAL(28,6)) AS s
       |  FROM t JOIN v USING (tok) CROSS JOIN tot),
       |iw AS (SELECT doc_id, count(*) AS n_toks,
       |    CAST(sum(s) * 1000000 AS BIGINT) // count(*) AS importance_u
       |  FROM s GROUP BY doc_id)""".stripMargin

  // step-by-step min-time chaining: strictly-after µs compare + 7-day
  // horizon, counts per step — shared by q93 (batch) and q95 (streaming)
  lazy val funnelOracle: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > epoch_us(s1.t)
      |    AND epoch_us(e.ts) - epoch_us(s1.t) <= 604800000000 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > epoch_us(s2.t)
      |    AND epoch_us(e.ts) - epoch_us(s2.t) <= 604800000000 GROUP BY 1)
      |SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
      |  (SELECT count(*) FROM s1) AS n_users
      |UNION ALL SELECT CAST(2 AS BIGINT), 'click', (SELECT count(*) FROM s2)
      |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM s3)
      |ORDER BY step_idx""".stripMargin

  // refund pipeline relation shared by q43 (broadcast J4) and q94
  // (shuffle lookup-join J4)
  lazy val orderRefundOracle: String =
    """SELECT CASE WHEN l_linenumber%2=0 THEN 'refund_full' ELSE 'refund_part' END AS refund_type_name,
      | CASE WHEN l_partkey%2=0 THEN 'reason_quality' ELSE 'reason_other' END AS refund_reason_type_name,
      | count(*) AS n_rows,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount,
      | CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS sum_num
      |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
      | AND o_orderstatus<>'O' AND o_orderkey%5=2
      |WHERE l_returnflag='R'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  lazy val histQuantileOracle: String =
    """WITH lohi AS (SELECT CAST(min(value) AS DOUBLE) AS lo,
      |    CAST(max(value) AS DOUBLE) AS hi FROM events),
      |b AS (SELECT event_type AS g,
      |    least(CAST(floor((CAST(value AS DOUBLE) - lo) / (hi - lo) * 128.0e0)
      |      AS BIGINT), 127) AS bin
      |  FROM events, lohi),
      |c AS (SELECT g, bin, count(*) AS c FROM b GROUP BY 1, 2),
      |w AS (SELECT g, bin, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY bin) AS cum,
      |    sum(c) OVER (PARTITION BY g) AS n FROM c),
      |sel AS (SELECT g, p.p,
      |    lo + (hi - lo) / 128.0e0 * (CAST(bin AS DOUBLE)
      |      + (p.p * CAST(n AS DOUBLE) - CAST(cum - c AS DOUBLE))
      |        / CAST(c AS DOUBLE)) AS est
      |  FROM w CROSS JOIN (VALUES (0.5e0), (0.9e0), (0.99e0)) p(p)
      |  CROSS JOIN lohi
      |  WHERE CAST(cum AS DOUBLE) >= p.p * CAST(n AS DOUBLE)
      |    AND CAST(cum - c AS DOUBLE) < p.p * CAST(n AS DOUBLE))
      |SELECT g AS event_type,
      |  round(max(CASE WHEN p = 0.5e0 THEN est END), 6) AS p50,
      |  round(max(CASE WHEN p = 0.9e0 THEN est END), 6) AS p90,
      |  round(max(CASE WHEN p = 0.99e0 THEN est END), 6) AS p99
      |FROM sel GROUP BY g ORDER BY event_type""".stripMargin
}
