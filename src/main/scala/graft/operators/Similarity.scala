package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set,
  *    one codegen'd pass over the corpus, per-query top-k via a bounded
  *    k-heap [[TopKAggregator]] (map-side partial combine; only k rows per
  *    (partition, query) shuffle — never the full pair stream). Correct at
  *    any corpus size as long as the QUERY set broadcasts.
  *  - [[lshTopK]]: the scale path — random-hyperplane buckets on both sides;
  *    only same-bucket pairs are scored. Probing `nProbes` neighboring
  *    buckets (single-bit flips) trades recall for cost, the standard
  *    multi-probe LSH trick.
  *  - [[nearDupPairs]]: all-pairs cosine ≥ threshold within hyperplane
  *    buckets — embedding-level near-duplicate detection for dedup.
  */
object Similarity {

  /** One scored candidate for [[TopKAggregator]]. */
  case class Scored(score: Double, neighbor_id: Long)

  /** Bounded per-query top-k: the aggregation buffer is a ≤k list sorted
    * by (score desc, neighbor_id asc) — identical ordering to a
    * `row_number` window — but it aggregates with map-side partial
    * combine, so only k rows per (partition, query) ever shuffle instead
    * of the whole |Q|×|C| scored-pair stream being shuffled AND sorted.
    * At 100 TB the window plan is the bottleneck; this is O(pairs·k)
    * compute with O(|Q|·k) shuffle bytes. */
  class TopKAggregator(k: Int)
      extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
    // Mirror the SQL ORDER BY total order exactly: NaN ranks largest
    // (plain `>` would silently drop NaN candidates), -0.0 TIES 0.0
    // (Double.compare alone would rank them), equal scores tie-break by
    // id. a.score == b.score is true for ±0.0 and false for NaN, so:
    private def better(a: Scored, b: Scored): Boolean = {
      val c = java.lang.Double.compare(a.score, b.score)
      if (c != 0 && !(a.score == b.score)) c > 0
      else a.neighbor_id < b.neighbor_id
    }
    private def ins(buf: Seq[Scored], x: Scored): Seq[Scored] = {
      if (buf.size >= k && better(buf.last, x)) buf
      else {
        val i = buf.indexWhere(e => better(x, e))
        val merged =
          if (i < 0) buf :+ x else (buf.take(i) :+ x) ++ buf.drop(i)
        if (merged.size > k) merged.take(k) else merged
      }
    }
    override def zero: Seq[Scored] = Seq.empty
    override def reduce(b: Seq[Scored], a: Scored): Seq[Scored] = ins(b, a)
    override def merge(b1: Seq[Scored], b2: Seq[Scored]): Seq[Scored] =
      b2.foldLeft(b1)(ins)
    override def finish(r: Seq[Scored]): Seq[Scored] = r
    override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
    override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
  }

  /** (query_id, neighbor_id, score) → per-query top-k with 1-based rank,
    * via [[TopKAggregator]] (NO window over the full pair stream). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k), ExpressionEncoder[Scored]())
    scored
      .groupBy(col("query_id"))
      .agg(topk(col("score"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        round(col("col.score"), 6).as("score"),
        (col("pos") + 1).as("rank"))
  }

  /** The query side of every top-k path: (query_id, qv, qn, extra…). The
    * norm is precomputed per vector (not per pair) — identical float op
    * order as cosine(), so bit-equal scores, at a third of the flops. */
  private def querySide(queries: DataFrame, idCol: String, vecCol: String,
      extra: Column*): DataFrame =
    queries.select(Seq(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn")) ++ extra: _*)

  /** The corpus side of every top-k path: (neighbor_id, cv, cn, extra…). */
  private[graft] def corpusSide(corpus: DataFrame, idCol: String, vecCol: String,
      extra: Column*): DataFrame =
    corpus.select(Seq(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn")) ++ extra: _*)

  /** The one cosine-and-rank step of every top-k path: candidate rows
    * joining [[querySide]] to [[corpusSide]] drop the query itself, score
    * dot(qv, cv) / (qn · cn) — the op order the oracles pin — and rank
    * per query ([[topKPerQuery]]). */
  private def rankCosine(joined: DataFrame, k: Int): DataFrame =
    topKPerQuery(joined.where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("score")), k)

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * enough to broadcast (it is hinted); corpus is streamed. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // The corpus side is repartitioned so the broadcast nested-loop scoring
    // parallelizes across all cores (a single parquet file would otherwise
    // score every (query, doc) pair in ONE task).
    val shufflePartitions =
      corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val c = corpusSide(corpus, idCol, vecCol).repartition(shufflePartitions)
    rankCosine(c.join(broadcast(querySide(queries, idCol, vecCol))), k)
  }

  /** IVF/LSH-bucketed ANN: hyperplane-bucket both sides, score only bucket
    * collisions. Recall < 1.0 by construction; raise nPlanes↓/probes↑ to
    * tune. Bucket join is a plain equi-join → shuffles only ids+buckets. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      nPlanes: Int = 12,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val shufflePartitions =
      corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val bucket = hyperplaneBucket(col(vecCol), dim, nPlanes)
    val cb = corpusSide(corpus, idCol, vecCol, bucket.as("bucket"))
      .repartition(shufflePartitions)
    // multi-probe: query also checks buckets at hamming distance 1. The
    // 1 + nPlanes probe buckets are pairwise distinct and a corpus row has
    // one bucket, so a (query, neighbor) pair collides at most once.
    val probes = array((lit(0L) +: (0 until nPlanes).map(b => lit(1L << b))): _*)
    val qb = querySide(queries, idCol, vecCol,
      explode(transform(probes, m => bucket.bitwiseXOR(m))).as("bucket"))
    rankCosine(cb.join(broadcast(qb), Seq("bucket")), k)
  }

  /** Product-quantization ANN with asymmetric-distance (ADC) scoring —
    * the memory-bound regime's workhorse (Jégou, Douze, Schmid: "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    * splits into `m` subspaces, each quantized against a per-subspace
    * `nCodes`-entry codebook, so a dim-64 float32 vector compresses to
    * m bytes (32× here). Queries never decompress the corpus: per query,
    * ONE dot-product lookup table per (subspace, code) — m·nCodes
    * entries — and each corpus vector scores as the sum of m table hits.
    *
    * Codebooks use the deterministic lowest-id seeding of [[ivfTopK]]
    * (iterations = 0), so the full chain — codebook, assignment, LUT,
    * ADC sum — is replicated verbatim by the DuckDB oracle; the ADC sum
    * is a PIVOTED explicit left-to-right addition (never a float `sum()`
    * whose order the engine picks), keeping scores bit-exact.
    *
    * Scale: encode is corpus × (m·nCodes) narrow math with a (id, sub)
    * combine; scoring broadcasts the per-query LUT and aggregates the
    * bounded [[TopKAggregator]] — codes shuffle, vectors never do.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      m: Int = 8,
      nCodes: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subLen = dim / m
    def subs(df: DataFrame, idAs: String): DataFrame =
      df.select(col(idCol).as(idAs), posexplode(
          array((0 until m).map(s => slice(col(vecCol), s * subLen + 1, subLen)): _*))
        .as(Seq("sub", "xs")))
    val cb = subs(corpus.orderBy(col(idCol)).limit(nCodes), "code")
      .select(col("sub"), col("code"), col("xs").as("ce"))
      .withColumn("cn2", dot(col("ce"), col("ce")))
    val codes = subs(corpus, "id")
      .join(broadcast(cb), Seq("sub"))
      .withColumn("dist", col("cn2") - lit(2.0) * dot(col("xs"), col("ce")))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"))
    val lut = subs(queries, "query_id")
      .join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        dot(col("xs"), col("ce")).as("tdot"))
    val terms = (0 until m).map(s =>
      max(when(col("sub") === s, col("tdot"))).as(s"_t$s"))
    val scored = codes.join(broadcast(lut), Seq("sub", "code"))
      .where(col("query_id") =!= col("id"))
      .groupBy(col("query_id"), col("id"))
      .agg(terms.head, terms.tail: _*)
      .withColumn("score", (0 until m).map(s => col(s"_t$s")).reduceLeft(_ + _))
      .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
    topKPerQuery(scored, k)
  }

  /** Two-stage PQ retrieval — the production shape of PQ search
    * (IVFADC's "refine" step): [[pqTopK]]'s asymmetric-distance codes
    * pick a SHORTLIST of `shortlist` candidates per query (cheap — LUT
    * sums over 1-byte codes), then only those |Q|·shortlist pairs are
    * re-scored with the EXACT cosine and re-ranked to top-k. Recovers
    * most of the recall PQ's quantization loses while touching full
    * vectors for a per-query constant, not the corpus.
    *
    * Scale: stage 1 is [[pqTopK]]'s bounded-aggregator plan; stage 2
    * broadcasts the tiny (query, candidate) list against the corpus
    * store — one equi-join probe per candidate row, never a second
    * corpus scan per query. */
  def pqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      shortlist: Int = 50,
      m: Int = 8,
      nCodes: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cand = pqTopK(corpus, queries, shortlist, dim, m, nCodes, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    rankCosine(corpusSide(corpus, idCol, vecCol).join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(querySide(queries, idCol, vecCol)), Seq("query_id")), k)
  }

  /** Symmetric int8 quantization of embedding vectors — the standard 4×
    * memory cut for corpus-scale embedding stores: per-vector
    * scale = max |xᵢ| (so the largest component maps to ±127 exactly, no
    * clamp needed), qᵢ = round(xᵢ/scale·127). Deterministic — a pure
    * function of the vector, identical in any engine (round is
    * half-away-from-zero in both Spark and DuckDB), so the quantized
    * store itself is oracle-checkable. Zero vectors quantize to zeros
    * with scale 0.
    *
    * Adds `q_scale` (double) and `q_vec` (array<int>, int8-ranged —
    * tinyint at rest in parquet) beside the original column; drop the
    * float column for the 4× saving. */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val withScale = df.withColumn("q_scale",
      aggregate(v, lit(0.0d), (acc, x) => greatest(acc, abs(x.cast("double")))))
    withScale.withColumn("q_vec",
      when(col("q_scale") === 0.0d, transform(v, _ => lit(0)))
        .otherwise(transform(v,
          x => round(x.cast("double") / col("q_scale") * lit(127.0d)).cast("int"))))
  }

  /** Reconstruct an `array<float>` from an int8-quantized vector —
    * deqᵢ = qᵢ·scale/127 (double math, one float rounding at the end),
    * ready for the same codegen'd dot/norm path as raw embeddings. */
  def dequantizeF(qVec: Column, scale: Column): Column =
    transform(qVec, x => (x.cast("double") * scale / lit(127.0d)).cast("float"))

  /** Trained k-means centroids as (cell, ce, cn2): deterministic lowest-id
    * seeding, `iterations` Lloyd rounds of DataFrame-only math (see
    * [[ivfTopK]]). cn2 = ‖c‖² precomputed for the dist ranking. */
  def kmeansCentroids(
      vecs: DataFrame,
      nCells: Int,
      iterations: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    var cents = vecs.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).cast("long").as("cell"), col(vecCol).as("ce"))
      .withColumn("cn2", dot(col("ce"), col("ce")))
    for (_ <- 0 until iterations) {
      val a = assignCells(vecs, cents, idCol, vecCol)
      cents = vecs.join(a, idCol)
        .select(col("cell"), posexplode(col(vecCol)))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("ce"))
        .withColumn("cn2", dot(col("ce"), col("ce")))
        // eager localCheckpoint: each round starts from nCells
        // MATERIALIZED rows, not a plan that re-derives every previous
        // round — without it the lineage (and Catalyst's analysis time)
        // grows exponentially with the iteration count, which is how a
        // 20-round production training run kills the driver
        .localCheckpoint(true)
    }
    cents
  }

  /** Nearest-centroid assignment (id → cell): broadcast the centroids,
    * argmin of ‖c‖² − 2·x·c (rank-equal to true L2; ties by cell id). One
    * narrow pass — the clustering building block for IVF search, corpus
    * bucketing, and mixture analysis over embedding columns. */
  def assignCells(
      vecs: DataFrame,
      cents: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("dist", col("cn2") - lit(2.0) * dot(col(vecCol), col("ce")))
      .groupBy(col(idCol))
      .agg(min_by(col("cell"), struct(col("dist"), col("cell"))).as("cell"))

  /** IVF ANN — the other classic scale path next to [[lshTopK]]: coarse-
    * quantize the corpus into `nCells` Voronoi cells
    * ([[kmeansCentroids]] + [[assignCells]]), search only each query's
    * `nProbe` nearest cells.
    *
    *  - Lloyd iterations are plain DataFrame aggregations — no driver-side
    *    math, trains distributed at any corpus size (at 100 TB you train
    *    on a sampled fraction; the assign pass is the same plan either way).
    *  - `iterations = 0` keeps the seed vectors as centroids — pure
    *    nearest-seed partitioning, bit-replicable in the DuckDB oracle
    *    (gate q54); the spec runs `iterations = 2` and asserts recall.
    *  - Search cost: |Q|·nCells probe ranking (tiny) + candidates from
    *    nProbe/nCells of the corpus instead of all of it; ranking reuses
    *    the bounded [[TopKAggregator]].
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int,
      nProbe: Int,
      iterations: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val shufflePartitions =
      corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val cents = kmeansCentroids(corpus, nCells, iterations, idCol, vecCol)
    val corpusCells = corpusSide(
        corpus.join(assignCells(corpus, cents, idCol, vecCol), idCol),
        idCol, vecCol, col("cell"))
      .repartition(shufflePartitions, col("cell"))
    ivfSearch(corpusCells, cents, queries, k, nProbe, idCol, vecCol)
  }

  /** The probe-and-score phase of IVF search, over an ALREADY-ASSIGNED
    * corpus `(neighbor_id, cv, cn, cell)` ([[corpusSide]]) — shared by [[ivfTopK]] (batch
    * assignment inline) and the streaming ingest-maintained index
    * (`graft.streaming.AnnIngest`, which persists the assigned store and
    * reads only the probed cells back). Identical math either way, so the
    * store-backed search is oracle-equal to the batch plan. */
  def ivfSearch(
      corpusCells: DataFrame,
      cents: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // nProbe nearest cells per query: rank by (dist asc, cell asc) via the
    // bounded top-k aggregator on score = −dist
    val probes = topKPerQuery(
        queries.crossJoin(broadcast(cents))
          .withColumn("dist", col("cn2") - lit(2.0) * dot(col(vecCol), col("ce")))
          .select(col(idCol).as("query_id"), (-col("dist")).as("score"),
            col("cell").as("neighbor_id")), nProbe)
      .select(col("query_id"), col("neighbor_id").as("cell"))
    rankCosine(corpusCells.join(
      broadcast(probes.join(querySide(queries, idCol, vecCol), Seq("query_id"))),
      Seq("cell")), k)
  }

  /** Recall@k of an approximate top-k result against the exact ranking —
    * the index-quality monitor a production ANN deployment runs
    * continuously (sampled queries through both paths, recall tracked
    * over time): per query, |approx ∩ exact| / |exact|. Takes the two
    * result sets in [[bruteForceTopK]]'s (query_id, neighbor_id, …)
    * shape, so any pair of paths (LSH vs brute, IVF vs brute, PQ vs
    * rerank) composes.
    *
    * Scale: one equi-join on (query_id, neighbor_id) over two ≤|Q|·k-row
    * frames plus a query-grain aggregate — the eval cost is bounded by
    * the SAMPLED query count, never the corpus. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hit = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("_hit", lit(1L))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(hit, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        count(col("_hit")).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 6))
  }

  /** Scale-aware hyperplane count for [[nearDupPairs]]'s bucketed path:
    * a FIXED plane count is quadratic at scale (buckets stay constant
    * while per-bucket population grows linearly, so the within-bucket
    * pair space grows as N²). Growing planes with log₂(N/125) pins the
    * expected bucket population at the gated density (2000 vectors / 16
    * buckets = 125 ⇒ ~8k scored pairs per bucket), the same discipline
    * as [[semDedup]]'s ~√N cells — constant population makes the total
    * pair space LINEAR in N (a ×100 first measurement with a 500-target
    * divisor carried a one-time 4× population jump and measured exponent
    * 1.36; the pinned density removes that transition). Resolves to
    * exactly 4 at the gated SFs (500/2000 vectors — the 1e-9 guard keeps
    * log₂(16.0) from ceiling to 5 on the last ulp), so the q53 oracle's
    * inlined 4-plane matrix stays pinned; the up-scale bench legs get
    * the production-sized bucket space. One count() action —
    * metadata-only on parquet, trivial on a cached table. */
  def autoPlanes(vecs: DataFrame): Int = autoPlanes(vecs.count())

  /** The count-based form, for callers that already hold (or want to
    * inspect) the vector count — e.g. the q53 gate, whose oracle inlines
    * the 4-plane matrix and must assert `n` stays in the 4-plane band. */
  def autoPlanes(n: Long): Int =
    math.max(4, math.ceil(math.log(n / 125.0) / math.log(2.0) - 1e-9).toInt)

  /** Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold),
    * bucketed by hyperplane LSH so the pair space is per-bucket, not global.
    * For the exact (oracle-checkable) variant pass nPlanes = 0 → single
    * bucket = exact all-pairs (only viable at verification scale).
    *
    * `cap` bounds the bucketed path per bucket — the PRODUCTION form at
    * corpus scale, the embedding analogue of [[Dedup.lshCandidates]]'
    * hot-band cap and [[Dedup.ngramJaccardPairs]]' shingle stop-list.
    * Why a cap is load-bearing and not an optimization: random-hyperplane
    * buckets split DIRECTIONS, so a tight cluster of near-identical
    * vectors lands in ONE bucket at any plane count — measured on the
    * ×100 corpus, two clusters of ~50k vectors each held at 15 planes
    * (48k+) exactly as at 11, making the same-bucket pair space 2.77
    * BILLION ([[bucketProfile]], gate q168; the q53 ×100 exponent read
    * 1.34-1.36 across two rounds for this reason — the enumerated output
    * is quadratic in cluster population BY SPECIFICATION, and growing
    * planes cannot fix membership). A dedup consumer does not need the
    * full clique: buckets over the cap contribute PIVOT edges — every
    * member scored against the bucket's `pivots` smallest-id members
    * (block-clique + block×rest; `pivots` = 1 is the pivot star) — which
    * keep the cluster connected for the downstream connected-components
    * collapse while bounding the pair space at Σ_over pivots·pop +
    * Σ_small pop²/2 ≤ (pivots + cap)·N, linear in N. Dense members of a
    * capped bucket lose their mutual edges outside the block (recall < 1
    * by construction, like every capped candidate path here); within a
    * TIGHT cluster every member connects to the entire block, so the
    * component survives intact. A wider block buys recall linearly: the
    * q178 audit measured the star keeping 196/1303 dedup-group labels at
    * sf0.1 (the over-cap buckets there are big and LOOSE, so ~2 % of
    * pivot edges clear the threshold), the 256 block 926/1303 (q189). See
    * [[keyedPairs]] for the plan shape. */
  def nearDupPairs(
      vecs: DataFrame,
      threshold: Double,
      dim: Int,
      nPlanes: Int = 0,
      cap: Cap = Cap.Off,
      pivots: Long = 1L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val base = vecs.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
    if (nPlanes <= 0) {
      require(cap == Cap.Off, "a population cap needs the bucketed path (nPlanes > 0)")
      // exact all-pairs: a constant join key would degenerate to a
      // single-task nested loop — instead broadcast one side and
      // repartition the other so the O(n²) scoring spreads over all cores.
      val shufflePartitions =
        vecs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val l = base.select(col(idCol).as("a"), col(vecCol).as("va"),
        col("nrm").as("na")).repartition(shufflePartitions)
      val r = base.select(col(idCol).as("b"), col(vecCol).as("vb"),
        col("nrm").as("nb"))
      scoredPairs(l.crossJoin(broadcast(r)), threshold)
    } else {
      // scale path: only same-bucket pairs are candidates; the bucket
      // equi-join shuffle-partitions the pair space by bucket.
      val keyed = base.withColumn("bucket", hyperplaneBucket(col(vecCol), dim, nPlanes))
      keyedPairs(keyed, keyed, "bucket", threshold, cap, pivots, idCol, vecCol)
    }
  }

  /** The pair body shared by the bucketed [[nearDupPairs]] and
    * [[cellNearDupPairs]]: `keyed` rows (id, vec, nrm, key) self-join on
    * the key and score through [[scoredPairs]]. Uncapped ([[Cap.Off]]) it
    * is the plain key equi-join — no stats pass, no window.
    *
    * Capped, the population profile counts `keys` (id, key) rows and the
    * cap-or-block predicate (pop ≤ cap OR id in the key's block)
    * references only LEFT-side columns and is applied UNDER the pair join
    * (PlanSpec pins the shape): an over-cap key's left side is its block
    * of min-id members, so the pop² blowup never materializes as join
    * output, let alone shuffle bytes. The star (`pivots` = 1) needs only
    * each key's min id, one more aggregate in the profile; a wider block
    * is oracle-replayable as a per-key row_number ≤ pivots, which Spark
    * computes with a key-partitioned window — the same shuffle key the
    * pair join needs, so the rank adds no exchange beyond the stats join. */
  private def keyedPairs(
      keyed: DataFrame,
      keys: DataFrame,
      key: String,
      threshold: Double,
      cap: Cap,
      pivots: Long,
      idCol: String,
      vecCol: String): DataFrame = {
    require(pivots >= 1, "pivots < 1 would drop every over-cap pair")
    val left = cap match {
      case Cap.Off => keyed
      case c: Cap.Capped =>
        val (ranked, profile, inBlock) =
          if (pivots == 1) (keyed,
            keys.groupBy(col(key)).agg(count(lit(1)).as("pop"), min(col(idCol)).as("pivot")),
            col(idCol) === col("pivot"))
          else (keyed.withColumn("_rk", row_number().over(
              Window.partitionBy(col(key)).orderBy(col(idCol)))),
            Cap.popProfile(keys, key), col("_rk") <= pivots)
        ranked.join(Cap.withCap(profile, c), Seq(key))
          .where(col("pop") <= col("cap") || inBlock)
    }
    val l = left.select(col(idCol).as("a"), col(vecCol).as("va"),
      col("nrm").as("na"), col(key))
    val r = keyed.select(col(idCol).as("b"), col(vecCol).as("vb"),
      col("nrm").as("nb"), col(key))
    scoredPairs(l.join(r, Seq(key)), threshold)
  }

  /** Population profile of a keyed pair space — the pre-flight a near-dup
    * run does BEFORE paying for pairs at 100 TB: an over-cap key is a
    * tight cluster no partitioning splits, and spotting it here costs one
    * O(N) groupBy while discovering it inside the pair join costs the
    * quadratic clique itself. Emits, per key: population, the clique pair
    * count an uncapped run would enumerate, whether a `maxPop` cap trips,
    * and the pair count the capped pivot-star run actually pays (pop−1
    * star edges when over). */
  private def capProfile(keys: DataFrame, key: String, maxPop: Long): DataFrame =
    Cap.popProfile(keys, key)
      .select(col(key), col("pop"),
        expr("pop * (pop - 1) div 2").as("clique_pairs"),
        (col("pop") > maxPop).cast("int").as("over_cap"),
        when(col("pop") > maxPop, col("pop") - 1)
          .otherwise(expr("pop * (pop - 1) div 2")).as("capped_pairs"))

  /** [[capProfile]] of the hyperplane-LSH buckets [[nearDupPairs]]
    * pairs within (gate q168). */
  def bucketProfile(
      vecs: DataFrame,
      dim: Int,
      nPlanes: Int,
      maxBucketPop: Long = 64L,
      vecCol: String = "embedding"): DataFrame =
    capProfile(vecs.select(hyperplaneBucket(col(vecCol), dim, nPlanes).as("bucket")),
      "bucket", maxBucketPop)

  /** The single pair-scoring contract behind [[nearDupPairs]] (exact and
    * bucketed), [[cellNearDupPairs]] and the streaming ingest twin
    * ([[graft.streaming.SemIngest]]): candidates carry
    * (a, va, na) × (b, vb, nb); keep a < b, cosine ≥ threshold,
    * round-6 score. The q23/q53/q102/q118 oracles pin this text — change
    * it once, here. */
  private[graft] def scoredPairs(joined: DataFrame, threshold: Double): DataFrame =
    joined
      .where(col("a") < col("b"))
      .withColumn("score", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("score") >= threshold)
      .select(col("a"), col("b"), round(col("score"), 6).as("score"))

  /** Near-dup candidate pairs WITHIN k-means cells only (a < b, cosine ≥
    * threshold, same cell) — the pair generator of [[semDedup]]. A cell
    * equi-join, so the pair space is per-cell: never cross-cell, never a
    * global all-pairs. Same output contract as [[nearDupPairs]].
    *
    * `cap` / `pivots` apply [[nearDupPairs]]' discipline per cell: k-means
    * cells bound the pair space only if no cell is ITSELF a dense near-dup
    * cluster, and the tight-cluster argument (clusters survive any
    * partitioning that splits directions) applies verbatim when a cell IS
    * such a cluster ([[cellProfile]], gate q170). Over-cap cells score
    * every member against the cell's `pivots` min-id members. Capped, the
    * (id, cell) assignment feeds three consumers (stats + both pair
    * sides), so it is materialized once — O(N) two-column rows — and the
    * argmin-over-centroids pass (N·nCells dots, the expensive step at √N
    * cells) runs once instead of three times. */
  def cellNearDupPairs(
      vecs: DataFrame,
      cents: DataFrame,
      threshold: Double,
      cap: Cap = Cap.Off,
      pivots: Long = 1L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assign = assignCells(vecs, cents, idCol, vecCol)
    val keys = if (cap == Cap.Off) assign else assign.localCheckpoint(true)
    val keyed = vecs.join(keys, idCol)
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"), col("cell"))
    keyedPairs(keyed, keys, "cell", threshold, cap, pivots, idCol, vecCol)
  }

  /** [[capProfile]] of the k-means cells [[cellNearDupPairs]] pairs
    * within (gate q170). */
  def cellProfile(
      vecs: DataFrame,
      cents: DataFrame,
      maxCellPop: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    capProfile(assignCells(vecs, cents, idCol, vecCol), "cell", maxCellPop)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup of an
    * embedded corpus — cluster into `nCells` k-means cells, collapse
    * near-duplicate groups WITHIN each cell (cosine ≥ threshold pairs →
    * connected components → keep each group's min-id canonical member),
    * pass every untouched row through. Cross-cell near-dups are out of
    * scope by design: that locality is what makes the pair space
    * tractable at corpus scale (the paper's clustering serves exactly
    * this purpose).
    *
    * Composition of three oracle-gated pieces: [[kmeansCentroids]] +
    * [[cellNearDupPairs]] + [[graft.operators.Dedup.connectedComponentsStar]]
    * + [[graft.operators.Dedup.applyDedup]]. Scale: per-cell pair
    * generation, O(log n) star rounds, one labels join — nothing global.
    * SIZE nCells with the corpus: the per-cell pair space is
    * O((n/nCells)²·nCells), so hold n/nCells (docs per cell) roughly
    * constant — the paper runs ~10⁵ clusters on web-scale corpora where
    * this gate's 16 fit its 10³ vectors; centroids stay broadcastable to
    * ~10⁶ cells (64-dim floats ≈ 256 MB). Pass `cap` (the
    * [[cellNearDupPairs]] knob) when [[cellProfile]] reports over-cap
    * cells: the per-cell pair space is then bounded even when a cell is
    * itself a dense near-dup cluster.
    */
  def semDedup(
      vecs: DataFrame,
      nCells: Int,
      iterations: Int,
      threshold: Double,
      cap: Cap = Cap.Off,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(vecs, nCells, iterations, idCol, vecCol)
    val pairs = cellNearDupPairs(vecs, cents, threshold, cap, idCol = idCol, vecCol = vecCol)
    val comps = Dedup.connectedComponentsStar(pairs)
    Dedup.applyDedup(vecs, comps, idCol)
  }
}
