package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import graft.functions.{HashExpressions, MinHashUtil}
import graft.functions.TextFunctions._

/** Deduplication operators for the documents pipeline — the four standard
  * levels of a training-data dedup stack, each designed scale-first:
  *
  *  - exact:        one hash-shuffle on md5(normalized text); map-side combine.
  *  - minhash+LSH:  shingle → minhash signature → band buckets → self-join on
  *                  bucket. Candidate generation is O(n·bands), never O(n²).
  *  - simhash:      64-bit signature per doc via bitwise majority vote of
  *                  token hashes; near-dups = small hamming distance within
  *                  prefix buckets.
  *  - n-gram Jaccard: exact verification on LSH candidates (inverted-index
  *                  join at small scale; at 100 TB run it only on minhash
  *                  candidates — see [[jaccardVerify]]).
  *
  * All hash arithmetic is built from md5 (stable across engines → DuckDB
  * oracle-checkable) composed with affine permutations mod a Mersenne prime —
  * the textbook public MinHash construction (Broder 1997).
  */
object Dedup {

  /** First 15 hex chars of md5 → non-negative long. `conv` is a native
    * codegen'd expression; 60 bits of the digest is plenty for hashing. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---------------------------------------------------------------- exact --

  /** Exact dedup: group by content hash, keep the smallest id as keeper.
    * One shuffle, partial aggregation on the map side. Emits one row per
    * distinct content with the keeper id and duplicate count.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** A broadcast Bloom pre-screen for an exact membership join — the
    * 100 TB shape. The reference column is summarized once as a Bloom
    * filter and broadcast; a probe the filter rejects is DEFINITELY absent
    * and skips the join, a probe it admits still pays the exact join,
    * which rescues the false positives. So the screen never shows in a
    * result; it only shrinks the join's probe side to the probable hits.
    * An `expectedItems` below the reference's real size saturates the
    * filter, which is how the gates keep the rescue path exercised. The
    * probe is a Scala closure over the broadcast filter — the one
    * justified non-codegen hop (no built-in expression reads a
    * driver-built `BloomFilter`), touching only the probed column. */
  final case class Bloom(expectedItems: Long = 1000000L, fpp: Double = 0.01) {
    /** Whether `probe` may occur in `ref`'s string column `refCol`. A null
      * probe screens negative: it matches nothing in an equi-join. */
    def screen(ref: DataFrame, refCol: String, probe: Column): Column = {
      val bc = ref.sparkSession.sparkContext.broadcast(
        ref.stat.bloomFilter(refCol, math.max(expectedItems, 1L), fpp))
      udf((s: String) => s != null && bc.value.mightContain(s)).apply(probe)
    }
  }

  /** Cross-batch incremental exact dedup — the streaming/100 TB companion
    * to [[exact]]: incoming rows are screened by a [[Bloom]] filter of the
    * store's already-seen content fingerprints, and only bloom-POSITIVES
    * pay the exact anti-join against the store. Emits the first row per
    * new fingerprint (min id wins within the batch, like [[exact]]),
    * whatever the filter's false-positive rate. */
  def incrementalDedup(
      batch: DataFrame,
      storeFps: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bloom: Bloom = Bloom()): DataFrame = {
    // null text → null fp screens negative and is kept (null matches no
    // store row), so nulls form their own dedup class exactly like [[exact]]
    val flagged = batch
      .withColumn("fp", fingerprint(col(textCol)))
      .withColumn("_hit", bloom.screen(storeFps, "fp", col("fp")))
    val negatives = flagged.where(!col("_hit")) // definitely new: skip the join
    val positives = flagged.where(col("_hit"))
      .join(storeFps.select(col("fp")), Seq("fp"), "left_anti") // FP rescue
    // in-batch first-per-fp AFTER the branch union: rows of one fp share
    // one _hit value, so they land in the same branch and the single
    // window dedups them — the pre-branch subplan above it is narrow scan
    // work, never a duplicated shuffle
    negatives.unionByName(positives.select(negatives.columns.map(col): _*))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col(idCol))))
      .where(col("_rn") === 1).drop("_rn", "_hit")
  }

  // -------------------------------------------------------------- minhash --

  val MersennePrime: Long = MinHashUtil.MersennePrime

  /** Deterministic per-perm affine coefficients — see
    * [[graft.functions.MinHashUtil.permCoeff]] (public so the DuckDB oracle
    * injects the identical (a, b) literals). */
  def permCoeff(i: Int): (Long, Long) = MinHashUtil.permCoeff(i)

  /** MinHash signatures: one row per doc, `sig` = array of numPerms minima
    * over the doc's shingle hashes, computed by the single-pass
    * [[graft.functions.HashExpressions.MinHashSig]] expression. NO shuffle:
    * signatures are a narrow per-row transform (the earlier explode +
    * 32-chained-min-aggregates needed a shuffle and overflowed codegen).
    * The repartition only spreads rows over cores — at 100 TB the scan
    * itself provides the partitions and it becomes a no-op to remove.
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numPerms: Int = 32): DataFrame = {
    val sp = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    docs.repartition(sp).select(
      col(idCol),
      ColumnBridge.column(HashExpressions.MinHashSig(
        ColumnBridge.expression(array_distinct(shingles(col(textCol), shingleN))),
        numPerms)).as("sig"))
  }

  /** (id, band, bandkey) rows — the banding shared by [[lshCandidates]]
    * and the streaming ingest twin ([[graft.streaming.FuzzyIngest]]):
    * `bands` bands of numPerms/bands signature rows each, keyed by the
    * band's joined values. */
  private[graft] def bandedSigs(sigs: DataFrame, idCol: String, bands: Int): DataFrame =
    sigs.select(
      col(idCol),
      posexplode(expr(s"transform(sequence(0, $bands - 1), " +
        s"b -> concat_ws(',', slice(sig, b * (size(sig) div $bands) + 1, size(sig) div $bands)))"))
        .as(Seq("band", "bandkey")))

  /** LSH banding: split each signature into `bands` bands of
    * numPerms/bands rows; docs sharing any band hash become candidates.
    * Self-join is on (band, bandHash) — the classic O(n) candidate
    * generator. Emits distinct candidate pairs (a < b).
    *
    * `cap` is the hot-bucket knob (the production form): (band, bandkey)
    * buckets holding more than the cap are dropped from candidate
    * generation. A degenerate band (every empty doc shares all 8 band
    * keys; boilerplate-heavy corpora collide likewise) otherwise piles
    * O(df²) pair rows onto one reducer — at 100 TB a single all-empty-docs
    * bucket is a job-killer, and its pairs carry no similarity signal a
    * downstream verifier would keep anyway. Only pairs whose EVERY shared
    * band is hot can be missed, and such pairs still meet in any
    * surviving band (the cap is per (band, key), not per doc). The hot
    * list is tiny by construction (df > cap can hold at most n/cap
    * buckets) — one aggregate + a broadcast anti-join screens the index.
    * A [[Cap.Derived]] cap self-tunes: a uniform bucket space caps at the
    * floor, a space with degenerate hot buckets caps just above the
    * typical bucket and drops exactly the outliers. */
  def lshCandidates(
      sigs: DataFrame,
      idCol: String = "doc_id",
      bands: Int = 8,
      cap: Cap = Cap.Off): DataFrame = {
    require(cap.lowest >= 2, "a bucket cap < 2 would drop every candidate pair")
    val banded = bandedSigs(sigs, idCol, bands)
    val idx = cap match {
      case Cap.Off => banded
      case c: Cap.Capped => banded.join(
        broadcast(Cap.hotKeys(banded, c, "band", "bandkey")), Seq("band", "bandkey"), "left_anti")
    }
    val l = idx.select(col(idCol).as("a"), col("band"), col("bandkey"))
    val r = idx.select(col(idCol).as("b"), col("band"), col("bandkey"))
    l.join(r, Seq("band", "bandkey"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  // -------------------------------------------------------- n-gram Jaccard --

  /** Shuffle width for the shingle-keyed pair-join stage, scaled with the
    * input: the session default (sized for the warehouse tables) starves
    * the pair fan-out at up-scale — the join inflates each source byte
    * into ~10× of pair-row bytes, so a fixed 32 partitions at a ×100
    * corpus pushes >100 MB of pair rows through every reducer (measured:
    * widening 32→256 cut the ×100 leg ~30% on a quiet host). ~512 KB of
    * SOURCE bytes per partition keeps the gated SFs at the session-default
    * WIDTH (values and width identical; the explicit repartition node
    * itself is inserted either way and bypasses AQE coalescing) and grows
    * linearly past it, capped at 4096 (the AQE-coalesce regime on a real
    * cluster). Partition count never changes VALUES — only the exchange
    * width. Inputs without real size stats (in-memory/streaming plans,
    * where Catalyst falls back to spark.sql.defaultSizeInBytes =
    * Long.MaxValue) keep the session default instead of exploding a tiny
    * corpus into 4096 near-empty tasks on a missing estimate. */
  private def pairShuffleParts(docs: DataFrame): Int = {
    val conf = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    // missing-stats ceiling (ADVICE r14): a filter/project above a
    // stats-less leaf ATTENUATES the Long.MaxValue fallback (e.g. ×0.05
    // selectivity ≈ 4.6e17) without making it meaningful, so the bare
    // >= MaxValue/2 check missed it. Any estimate above 1 PiB is treated
    // as missing — a genuine corpus past ~2 GiB already saturates the
    // 4096 cap, so the ceiling changes behavior ONLY for estimates no
    // real input of this operator produces. (A REAL >= 1 PiB input —
    // 10x the engine's 100 TB design envelope — would also land in the
    // conf fallback; at that scale the deployment sets
    // spark.sql.shuffle.partitions deliberately, which is exactly what
    // the fallback honors.)
    if (bytes >= BigInt(1L << 50)) conf
    else {
      val scaled = (bytes / (512L << 10)).min(BigInt(4096)).toInt
      math.max(conf, scaled)
    }
  }

  /** Exact n-gram Jaccard similarity for ALL pairs sharing ≥1 shingle,
    * via inverted-index self-join: explode distinct shingles, join on the
    * shingle, count common, |A∪B| = |A|+|B|−common.
    *
    * At 100 TB this exact form is the *verifier* behind minhash candidates
    * ([[jaccardVerify]]); standalone it is still O(pairs-sharing-a-shingle),
    * far below O(n²) on natural text.
    *
    * `cap` is the hot-shingle knob: shingles appearing in more than the
    * cap docs are dropped from the INDEX (candidate generation) — they
    * generate O(df²) pair rows while carrying almost no similarity signal
    * — yet reported similarities stay EXACT Jaccard over the full shingle
    * sets; only pairs whose every shared shingle is hot can be missed. A
    * [[Cap.Derived]] cap self-tunes to the corpus: natural text whose
    * typical shingle is near-unique caps at the floor and stop-lists only
    * genuinely hot boilerplate; a template-heavy corpus raises the cap
    * with the median so the stop list keeps naming OUTLIERS.
    *
    * The capped verification never ships shingle ARRAYS through a join
    * (at 1M+ candidates that is a multi-GB shuffle of fat rows): |A∩B| is
    * assembled from slim (a, b) count rows as cold-common (a group-by over
    * the capped index self-join) plus a hot-common correction (candidates
    * joined against the hot postings of each side — O(candidates ×
    * hot-shingles-per-doc), and the hot LIST is small by construction even
    * when each hot shingle's posting list is huge). The stop list is a
    * tiny aggregate broadcast both ways. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.5,
      cap: Cap = Cap.Off): DataFrame = {
    require(cap.lowest >= 1, "a shingle cap < 1 would stop-list every shingle")
    val sh = docs
      .repartition(docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col(idCol))
      .select(col(idCol).as("id"),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("sh"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    // shared shingles per pair: (a, b, n) over the (possibly stop-listed)
    // index, pre-partitioned by shingle at the SCALED width —
    // HashPartitioning(sh, n) satisfies the join's ClusteredDistribution
    // for any n, so the self-join runs at n partitions (one exchange,
    // reused by both sides) instead of the session default sized for
    // unexploded tables
    def shared(index: DataFrame, n: String): DataFrame = {
      val wide = index.repartition(pairShuffleParts(docs), col("sh"))
      wide.select(col("id").as("a"), col("sh"))
        .join(wide.select(col("id").as("b"), col("sh")), Seq("sh"))
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as(n))
    }
    val joined = cap match {
      case Cap.Off => shared(sh, "common")
      case c: Cap.Capped =>
        val hot = Cap.hotKeys(sh, c, "sh")
        // shared cold shingles per pair — doubles as the candidate set
        val coldCommon = shared(sh.join(broadcast(hot), Seq("sh"), "left_anti"), "cold")
        // shared HOT shingles per candidate pair (completes |A∩B| exactly)
        val hotPost = sh.join(broadcast(hot), Seq("sh"), "left_semi")
        val hotCommon = coldCommon.select(col("a"), col("b"))
          .join(hotPost.select(col("id").as("a"), col("sh")), Seq("a"))
          .join(hotPost.select(col("id").as("b"), col("sh")), Seq("b", "sh"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("hotc"))
        coldCommon
          .join(hotCommon, Seq("a", "b"), "left")
          .withColumn("common", col("cold") + coalesce(col("hotc"), lit(0L)))
    }
    joined
      .join(sizes.select(col("id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("id").as("b"), col("sz").as("szb")), Seq("b"))
      .withColumn("jaccard",
        round(col("common").cast("double")
          / (col("sza") + col("szb") - col("common")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** The scale path: minhash-LSH candidates → exact Jaccard verification of
    * only those pairs. Cost = O(n) signatures + O(candidates) verification. */
  def jaccardVerify(
      docs: DataFrame,
      candidates: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sets = docs.select(
      col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleN)).as("shs"))
    candidates
      .join(sets.select(col("id").as("a"), col("shs").as("sha")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("shs").as("shb")), Seq("b"))
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        round(col("common").cast("double")
          / (size(col("sha")) + size(col("shb")) - col("common")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Dedup GROUP resolution — the step after pair generation: collapse
    * near-dup pairs into connected components so each group keeps one
    * canonical doc (the minimum id), by alternating large-star /
    * small-star rounds. Min-label propagation needs O(diameter) rounds:
    * fine for near-dup quasi-cliques (2-3 rounds), pathological on
    * chain-shaped graphs (a 1M-hop chain is 1M rounds). The star
    * algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii:
    * "Connected Components in MapReduce and Beyond", ACM SoCC 2014,
    * alg. 3/4) rewires the edge set itself:
    *
    *  - large-star: every node's LARGER neighbors re-link to the minimum
    *    of its closed neighborhood;
    *  - small-star: every node and its smaller neighbors re-link to the
    *    minimum of the smaller neighborhood;
    *
    * each a pair of hash shuffles, converging to per-component stars in
    * O(log n) rounds regardless of diameter. The `maxIters` guard turns a
    * non-converging run into an error, not an infinite loop.
    *
    * Returns (id, comp) for every node appearing in `pairs`, where
    * comp = min id reachable — deterministic, oracle-checkable.
    */
  def connectedComponentsStar(
      pairs: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIters: Int = 50,
      localMaxEdges: Long = 1L << 21): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("lo"), col("hi")).as("lo"), greatest(col("lo"), col("hi")).as("hi"))
      .where(col("lo") =!= col("hi")).distinct()
    def sym(e: DataFrame): DataFrame =
      e.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(e.select(col("hi").as("u"), col("lo").as("v")))
    var edges = canon(pairs.select(col(aCol).as("lo"), col(bCol).as("hi")))
      // eager localCheckpoint per round: an iterative DataFrame loop
      // otherwise chains every prior round into the next logical plan and
      // Catalyst re-optimization cost explodes super-linearly
      .localCheckpoint(true)
    // BOUNDED edge sets solve on the driver (r18, guide §1.2 — algorithm
    // first): each star round is ~6 driver-coordinated jobs with two
    // checkpoints, pure fixed overhead when the canonical edge set fits in
    // one task's worth of memory. Union-find below is output-IDENTICAL
    // (comp = min reachable id under Spark's own ordering for the id
    // type — numeric natural order, or UTF8 binary ≡ code-point order for
    // strings; pinned by DedupGraphSpec's local-vs-distributed test). Ids
    // of any other type (none exist today) take the distributed loop, as
    // does any edge set past `localMaxEdges` (~48 MB of driver rows at the
    // default — the trainLoopLocal/solveWaterfill bounded-state budget).
    val idType = edges.schema("lo").dataType
    val localLt: Option[(Any, Any) => Boolean] = idType match {
      case org.apache.spark.sql.types.LongType =>
        Some((x, y) => x.asInstanceOf[Long] < y.asInstanceOf[Long])
      case org.apache.spark.sql.types.IntegerType =>
        Some((x, y) => x.asInstanceOf[Int] < y.asInstanceOf[Int])
      case org.apache.spark.sql.types.StringType =>
        // UTF-8 byte order (what Spark's least/min use) ≡ code-point order
        Some((x, y) => graft.operators.Bpe.cpCompare(
          x.asInstanceOf[String], y.asInstanceOf[String]) < 0)
      case _ => None
    }
    if (localLt.isDefined && edges.count() <= localMaxEdges) {
      val lt = localLt.get
      val rows = edges.collect()
      val idx = new java.util.HashMap[Any, Integer]()
      val vals = scala.collection.mutable.ArrayBuffer[Any]()
      def ix(v: Any): Int = {
        val got = idx.get(v)
        if (got != null) got.intValue()
        else { idx.put(v, vals.size); vals += v; vals.size - 1 }
      }
      val parent = scala.collection.mutable.ArrayBuffer[Int]()
      def find(i: Int): Int = {
        var r = i
        while (parent(r) != r) r = parent(r)
        var c = i
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      rows.foreach { r =>
        val a = ix(r.get(0)); val b = ix(r.get(1))
        while (parent.size < vals.size) parent += parent.size
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(rb) = ra
      }
      // per-component minimum value = the distributed contract's comp
      val minOf = new java.util.HashMap[Int, Any]()
      vals.indices.foreach { i =>
        val r = find(i); val v = vals(i); val cur = minOf.get(r)
        if (cur == null || lt(v, cur)) minOf.put(r, v)
      }
      val spark = pairs.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        edges.schema("lo").copy(name = "id"),
        edges.schema("lo").copy(name = "comp")))
      val out = vals.indices.map(i =>
        org.apache.spark.sql.Row(vals(i), minOf.get(find(i))))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq), schema)
    }
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      // large-star: for edge {u,v}, v > u: v re-links to min(N(u) ∪ {u})
      val s1 = sym(edges)
      val m1 = s1.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = canon(s1.join(m1, "u").where(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi")))
        .localCheckpoint(true)
      // small-star: u and its smaller neighbors re-link to their minimum
      val s2 = sym(ls).where(col("v") < col("u"))
      val m2 = s2.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = canon(
          s2.join(m2, "u").where(col("v") =!= col("m"))
            .select(col("m").as("lo"), col("v").as("hi"))
          .unionByName(m2.select(col("m").as("lo"), col("u").as("hi"))))
        .localCheckpoint(true)
      // fixpoint = the canonical edge set is stable (stars only)
      converged = ss.count() == edges.count() &&
        ss.join(edges, Seq("lo", "hi"), "left_anti").limit(1).count() == 0
      edges = ss
      iters += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connectedComponentsStar: no fixpoint in $maxIters iters")
    edges.select(col("hi").as("id"), col("lo").as("comp"))
      .unionByName(edges.select(col("lo").as("id"), col("lo").as("comp")))
      .distinct()
  }

  /** Capped-vs-uncapped recall audit (round-15 verdict #4): the pivot-star
    * cap's recall trade MEASURED instead of asserted. Input is the same
    * corpus's uncapped (`full`) and capped (`capped`) near-dup pair sets
    * (q53/q167, q18/q112, q102/q169 — any capped generator with an
    * uncapped verifier twin); output is ONE row of integers:
    *
    *  - `n_pairs_full` / `n_pairs_capped`, `lost_edges` (pairs only the
    *    uncapped run found), `extra_edges` (capped-only pairs — 0 by
    *    construction for every cap in this library, computed as the
    *    honesty check);
    *  - `n_docs` (docs in any uncapped pair), `n_agree` (docs whose
    *    connected-component label — min reachable id — is IDENTICAL under
    *    both pair sets: since capped ⊆ full, capping can only SPLIT
    *    components, so agreement counts docs whose dedup-group membership
    *    the cap did not change), `n_comps_full` / `n_comps_capped`.
    *
    * Scale: this is an AUDIT operator — the uncapped side is the cost of
    * the uncapped run (quadratic in the over-cap cliques, the very thing
    * the cap avoids), so it runs at verification SFs or on samples, not
    * on the full production corpus. Components via
    * [[connectedComponentsStar]] (O(log n) rounds); the metric joins are
    * pair-set-sized. */
  def capRecallAudit(
      full: DataFrame,
      capped: DataFrame,
      aCol: String = "a",
      bCol: String = "b"): DataFrame = {
    val f = full.select(col(aCol).as("a"), col(bCol).as("b")).localCheckpoint(true)
    val c = capped.select(col(aCol).as("a"), col(bCol).as("b")).localCheckpoint(true)
    val lost = f.join(c, Seq("a", "b"), "left_anti")
    val extra = c.join(f, Seq("a", "b"), "left_anti")
    val lf = connectedComponentsStar(f)
    val lc = connectedComponentsStar(c)
    // docs in no capped pair are capped singletons: their capped label is
    // themselves (the CC label contract for an isolated node)
    val cmp = lf.join(lc.withColumnRenamed("comp", "ccomp"), Seq("id"), "left")
      .select(col("id"), col("comp"),
        coalesce(col("ccomp"), col("id")).as("ccomp"))
    cmp.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("comp") === col("ccomp"), 1L).otherwise(0L)), lit(0L))
          .as("n_agree"),
        countDistinct(col("comp")).as("n_comps_full"),
        countDistinct(col("ccomp")).as("n_comps_capped"))
      .crossJoin(broadcast(f.agg(count(lit(1)).as("n_pairs_full"))))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_pairs_capped"))))
      .crossJoin(broadcast(lost.agg(count(lit(1)).as("lost_edges"))))
      .crossJoin(broadcast(extra.agg(count(lit(1)).as("extra_edges"))))
      .select(col("n_pairs_full"), col("n_pairs_capped"), col("lost_edges"),
        col("extra_edges"), col("n_docs"), col("n_agree"),
        col("n_comps_full"), col("n_comps_capped"))
  }

  /** Per document, how many of its grams occur in `reference` — the one
    * membership join under every contamination and OOV audit
    * ([[contaminationProfile]], [[Corpus.splitContamination]],
    * [[TextProfile.oovProfile]]). `grams` holds (idCol, gram) rows, one
    * per gram the caller counts; `reference` holds distinct `gram`s.
    * Emits (idCol, n, n_hit); a document with no grams has no row. The
    * join rides the gram key — broadcast when the reference fits, shuffled
    * otherwise — never doc×doc. With a `bloom`, grams the filter rejects
    * count as misses without probing the reference. */
  private[operators] def gramHits(grams: DataFrame, reference: DataFrame,
      idCol: String, bloom: Option[Bloom]): DataFrame = {
    def probe(g: DataFrame): DataFrame =
      g.join(reference.withColumn("_h", lit(1L)), Seq("gram"), "left")
        .select(col(idCol), coalesce(col("_h"), lit(0L)).as("_hit"))
    val hits = bloom match {
      case None => probe(grams)
      case Some(b) =>
        val flagged = grams.withColumn("_maybe", b.screen(reference, "gram", col("gram")))
        flagged.where(!col("_maybe")).select(col(idCol), lit(0L).as("_hit"))
          .unionByName(probe(flagged.where(col("_maybe"))))
    }
    hits.groupBy(col(idCol))
      .agg(count(lit(1)).as("n"), sum(col("_hit")).as("n_hit"))
  }

  /** Benchmark-contamination profile — decontamination, the corpus-hygiene
    * twin of dedup: for each candidate doc, the fraction of its distinct
    * `shingleN`-gram shingles that also occur anywhere in the `benchmark`
    * set. frac ≥ ~0.5 flags train/test leakage. One [[gramHits]] join
    * against the (much smaller) benchmark shingle vocabulary, optionally
    * behind a [[Bloom]] screen; the output does not depend on `bloom`.
    */
  def contaminationProfile(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      bloom: Option[Bloom] = None): DataFrame = {
    val gram = explode(array_distinct(shingles(col(textCol), shingleN))).as("gram")
    gramHits(docs.select(col(idCol), gram), benchmark.select(gram).distinct(),
        idCol, bloom)
      .select(col(idCol), col("n").as("n_shingles"), col("n_hit").as("n_contaminated"),
        round(col("n_hit").cast("double") / col("n").cast("double"), 6)
          .as("contam_frac"))
  }

  // -------------------------------------------------------------- simhash --

  /** 60-bit SimHash per document: every distinct token contributes its
    * 60-bit md5 hash; each output bit is the majority vote across tokens.
    * Single-pass narrow expression ([[graft.functions.HashExpressions.SimHashSig]])
    * — no shuffle, no per-doc state, scales linearly.
    */
  def simhash(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bits: Int = 60): DataFrame = {
    val sp = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    docs.repartition(sp).select(
      col(idCol),
      ColumnBridge.column(HashExpressions.SimHashSig(
        ColumnBridge.expression(array_distinct(tokens(col(textCol)))),
        bits)).as("simhash"))
  }

  /** Near-dup pairs by SimHash: bucket on the top `prefixBits` bits,
    * then verify hamming distance ≤ maxDist with bit_count(xor) on the
    * original signature. One table is the plain prefix bucket; it never
    * pairs two signatures that differ inside the prefix. `tables` > 1
    * buckets `tables` ROTATIONS of the signature, so every pair within
    * maxDist collides in at least one table unless its differing bits
    * straddle every rotated prefix (negligible for maxDist ≪ 60/tables —
    * the published SimHash dedup layout, Manku et al. WWW'07); candidates
    * are then deduped across tables. Cost: `tables` × the single-table
    * join, still O(n·tables), never O(n²). */
  def simhashNearDups(
      sigs: DataFrame,
      idCol: String = "doc_id",
      prefixBits: Int = 16,
      maxDist: Int = 8,
      tables: Int = 1): DataFrame = {
    require(tables > 0, "tables must be positive")
    val step = 60 / tables
    val rots = (0 until tables).map { t =>
      val k = t * step
      if (k == 0) col("simhash")
      else shiftright(col("simhash"), 60 - k)
        // mask BEFORE the left shift so the value never exceeds 2^60
        // (same bits as masking after; DuckDB's << overflow-checks)
        .bitwiseOR(shiftleft(
          col("simhash").bitwiseAND(lit((1L << (60 - k)) - 1)), k))
    }
    val rotated =
      if (tables == 1) sigs.select(col(idCol), col("simhash"), lit(0).as("tbl"),
        col("simhash").as("rot"))
      else sigs.select(col(idCol), col("simhash"),
        posexplode(array(rots: _*)).as(Seq("tbl", "rot")))
    val b = rotated.withColumn("bucket", shiftright(col("rot"), 60 - prefixBits))
    val l = b.select(col(idCol).as("a"), col("tbl"), col("bucket"), col("simhash").as("sa"))
    val r = b.select(col(idCol).as("b"), col("tbl"), col("bucket"), col("simhash").as("sb"))
    val cands = l.join(r, Seq("tbl", "bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("sa"), col("sb"))
    (if (tables > 1) cands.distinct() else cands)
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .where(col("hamming") <= maxDist)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** The APPLY half of dedup-group resolution: given the corpus and the
    * (id, comp) labels of its near-dup pair graph
    * ([[connectedComponentsStar]]), emit the
    * surviving corpus — the canonical (minimum-id, = the component label)
    * doc of each near-dup group plus every doc the pair graph never
    * touched.
    *
    * Scale: one equi-join of the corpus against the label table (labels
    * exist only for docs IN some dup pair — typically a small fraction,
    * so Catalyst broadcasts it; past the threshold it hash-joins on the
    * id). No extra shuffle beyond that join; the filter is per-row.
    */
  def applyDedup(
      docs: DataFrame,
      components: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(components.select(col("id").as(idCol), col("comp")), Seq(idCol), "left")
      .where(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")

  /** Dedup APPLY with QUALITY-AWARE keeper selection — [[applyDedup]]
    * keeps the min-id doc per near-dup component; real curation keeps the
    * BEST copy: here the keeper is the component member with the lowest
    * (score, id) tuple (pass a quality score where lower = better, e.g.
    * unigram surprisal; ties break to the smaller id, so keeper choice is
    * total-ordered and deterministic). Docs in no component survive
    * untouched. Scores may be PARTIAL: members are joined LEFT against
    * `scores` and an unscored member's key coalesces to +Infinity, so it
    * can't beat any scored sibling but a fully-unscored component still
    * keeps its min-id member — an inner join here would silently drop the
    * whole cluster when the scorer skips it (e.g. unigramSurprisal emits
    * no row for zero-token docs), which is data loss, not dedup.
    *
    * Scale: keeper election is ONE bounded `min_by` aggregate at
    * component grain (map-side combinable — never a per-component sort
    * window), then an anti-join (unclustered) + semi-join (keepers)
    * against the corpus, both key equi-joins. Same cost shape as
    * [[applyDedup]] plus the score join. */
  def applyDedupBestKeeper(
      docs: DataFrame,
      components: DataFrame,
      scores: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "surprisal_u"): DataFrame = {
    val keepers = components
      .join(scores.select(col(idCol).as("id"), col(scoreCol).as("_s")),
        Seq("id"), "left")
      .groupBy(col("comp"))
      .agg(min_by(col("id"),
        struct(coalesce(col("_s"), lit(Double.PositiveInfinity)), col("id"))).as(idCol))
      .select(col(idCol))
    docs.join(components.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      .unionByName(docs.join(keepers, Seq(idCol), "left_semi"))
  }

  // ---------------------------------------------------- paragraph grain --

  /** The (doc, pos) → encoded-long keeper key shared by the paragraph
    * ops and their oracles: needs pos < 10⁵ (docs under 10⁶ words at the
    * default width) — enforced per row by [[encodePos]]; widen for longer
    * docs. */
  val ParaPosEncode = 100000L

  /** The guarded (doc, pos) keeper-key encode: id·[[ParaPosEncode]]+pos,
    * failing PER ROW (codegen'd `raise_error`, no extra action) when a
    * paragraph position reaches the encode width — an unguarded overflow
    * would silently alias keeper keys into other docs' key space, and the
    * DuckDB oracles use the same constant, so the gates would agree on the
    * wrong answer. Every encode site (paragraph ops and gates) must go
    * through this. */
  def encodePos(id: Column, pos: Column): Column =
    id * ParaPosEncode + when(pos >= ParaPosEncode,
      raise_error(concat(
        lit(s"paragraph pos >= ParaPosEncode ($ParaPosEncode) — widen the encode; pos="),
        pos.cast("string")))).otherwise(pos)

  /** Explode docs into fixed-width word-window "paragraphs" —
    * (idCol, pos, para) rows, the shared front half of
    * [[paragraphDedup]] / [[boilerplateProfile]] and the q108 streaming
    * ingest twin. */
  def explodeParagraphs(
      docs: DataFrame,
      wordsPerPara: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(wordsPerPara > 0, "wordsPerPara must be positive")
    docs
      .select(col(idCol), split(col(textCol), " ").as("ws"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0),
          ceil(size(col("ws")).cast("double") / wordsPerPara).cast("int") - 1),
        i => array_join(
          slice(col("ws"), i * wordsPerPara + 1, lit(wordsPerPara)), " "))))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("col").as("para"))
  }

  /** The fuzzy keeper of [[paragraphDedup]]: distinct paragraph texts
    * whose shingle Jaccard reaches `threshold` share one keeper. MinHash
    * over `shingleN`-word shingles, `numPerms` permutations in `bands`
    * LSH bands ([[minhashSignatures]], [[lshCandidates]],
    * [[jaccardVerify]]). */
  case class Fuzzy(
      threshold: Double = 0.4,
      shingleN: Int = 3,
      numPerms: Int = 32,
      bands: Int = 8)

  /** SUB-document dedup — the paragraph-grain pass production corpora
    * run before any whole-doc dedup (C4's repeated-lines rule,
    * RefinedWeb's line-wise filtering): explode each doc into fixed-width
    * word windows ([[explodeParagraphs]]), keep one instance per
    * paragraph group, and reassemble each doc from its surviving
    * paragraphs in position order. Emits one row per input doc:
    * (idCol, n_paras, n_kept, kept_text) — kept_text is '' when every
    * paragraph was seen earlier.
    *
    *  1. exact copies collapse first: each distinct text is represented
    *     by its earliest instance's encoded (doc, pos) key `pid`
    *     ([[encodePos]] via [[ParaPosEncode]], so the aggregate is a plain
    *     `min` with map-side combine);
    *  2. exact (`fuzzy = None`): a text's keeper is its own `pid`.
    *     With `fuzzy` — the pass that catches near-identical boilerplate
    *     variants exact hashing misses (dates, usernames, counters
    *     swapped) — MinHash signatures over the DISTINCT texts, LSH band
    *     candidates, exact Jaccard verification of candidates only, and
    *     verified pairs collapse into groups ([[connectedComponentsStar]],
    *     O(log n) rounds at any diameter); a text's keeper is its group's
    *     min `pid` (untouched texts keep their own). With zero fuzzy pairs
    *     this is exactly the exact form;
    *  3. an INSTANCE survives iff its encoded key IS its text's keeper —
    *     one survivor per group, the corpus-wide earliest instance of the
    *     group's earliest text.
    *
    * Scale: everything is paragraph-grain or candidate-grain — one
    * min-aggregate shuffle on the paragraph text (partial min on the map
    * side, so a hot paragraph costs one row per map partition), one
    * equi-join back, one per-doc reassembly agg; the fuzzy keeper adds
    * narrow signature math over distinct texts, O(n·bands) banding and
    * O(log n) component rounds. Never doc×doc or paragraph×paragraph, no
    * ranking window, no global sort. */
  def paragraphDedup(
      docs: DataFrame,
      wordsPerPara: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text",
      fuzzy: Option[Fuzzy] = None): DataFrame = {
    val ws = split(col(textCol), " ")
    val nParas = ceil(size(ws).cast("double") / wordsPerPara).cast("long")
    val paras = explodeParagraphs(docs, wordsPerPara, idCol, textCol)
    val firsts = paras.groupBy(col("para"))
      .agg(min(encodePos(col(idCol), col("pos"))).as("pid"))
    val label = fuzzy match {
      case None => firsts.select(col("para"), col("pid").as("keep"))
      case Some(f) =>
        val sigs = minhashSignatures(firsts, "pid", "para", f.shingleN, f.numPerms)
        val pairs = jaccardVerify(firsts, lshCandidates(sigs, "pid", f.bands),
          "pid", "para", f.shingleN, f.threshold)
        firsts
          .join(connectedComponentsStar(pairs).withColumnRenamed("id", "pid"),
            Seq("pid"), "left")
          .select(col("para"), coalesce(col("comp"), col("pid")).as("keep"))
    }
    val kept = paras.join(label, "para")
      .where(encodePos(col(idCol), col("pos")) === col("keep"))
    val reassembled = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), " ").as("kept_text"))
    docs.select(col(idCol), nParas.as("n_paras"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Boilerplate profile — the template-detection signal next to
    * [[paragraphDedup]]'s removal: per doc, how much of it is made of
    * paragraphs that recur across the corpus (nav bars, license footers,
    * forum signatures — the C4/RefinedWeb boilerplate classes). A
    * paragraph is "boilerplate" when it occurs in ≥ `minDocs` DISTINCT
    * docs; the profile counts each doc's distinct paragraphs and the
    * boilerplate fraction among them. Emits (idCol, n_distinct_paras,
    * n_boiler, boiler_frac).
    *
    * Scale: paragraph-grain distinct + one count-distinct-docs aggregate
    * per paragraph (map-side partial), one join back. Never doc×doc. */
  def boilerplateProfile(
      docs: DataFrame,
      wordsPerPara: Int = 10,
      minDocs: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val paras = explodeParagraphs(docs, wordsPerPara, idCol, textCol)
      .select(col(idCol), col("para"))
      .distinct() // (doc, para) grain: in-doc repeats count once for df
    val df = paras.groupBy(col("para"))
      .agg(count(lit(1)).as("n_docs")) // rows are distinct (doc, para)
    paras.join(df, "para")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_distinct_paras"),
        count(when(col("n_docs") >= minDocs, 1)).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_distinct_paras"), 6))
  }

  /** EXACT-SUBSTRING duplication profile (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499) — the
    * character-window method next to the line/paragraph-grain ops above:
    * slide a `window`-char window at `stride` over every doc, a window
    * text occurring in ≥ 2 DISTINCT docs marks its span as duplicated,
    * overlapping/touching spans merge (gaps-and-islands: a window opens a
    * new span iff its offset lies strictly past the running max span end),
    * and each doc reports its merged span count and duplicated-char total.
    * This catches boilerplate that straddles line boundaries — headers
    * flowing into first sentences, navigation chrome, licence blocks —
    * which paragraph-grain hashing provably misses (the suffix-array
    * formulation of the paper collapses to this fixed-window form when
    * spans ≥ `window` chars are the target).
    *
    * RECALL CAVEAT of strided windows: a repeat is detected iff its
    * occurrences agree on offset modulo the sampling grid. The grid runs
    * TWO phases per stride step (0 and stride/2 — see dupSpans), so the
    * alignment condition is mod (stride/2), not mod stride; `stride = 2`
    * degenerates to the exact method at `window`× the row blowup; the
    * paper's suffix array removes the alignment condition entirely.
    * Production picks stride ≪ window for cost and accepts the
    * 2/stride alignment odds per occurrence pair, or normalizes offsets
    * by tokenizing first.
    *
    * Scale: the window df is one groupBy on the window text (map-side
    * partial count-distinct; at 100 TB hash the window first — same class
    * as the paragraph df above), the island pass is a per-doc sort — doc-
    * grain parallelism, never doc×doc, never a global sort. */
  def substringDupProfile(
      docs: DataFrame,
      window: Int = 40,
      stride: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    dupSpans(docs, window, stride, idCol, textCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).cast("long").as("dup_chars"))

  /** The merged duplicated-span table shared by [[substringDupProfile]]
    * (analysis) and [[substringDedupApply]] (cleaning): strided character
    * windows, cross-doc df ≥ 2 screen, touching windows merged into
    * disjoint per-doc spans (idCol, span_id, s, e) with s inclusive / e
    * exclusive, ascending and non-touching by construction. */
  private def dupSpans(
      docs: DataFrame,
      window: Int,
      stride: Int,
      idCol: String,
      textCol: String): DataFrame = {
    // TWO phase offsets per stride step (0 and stride/2, round-15 verdict
    // #5): a single-phase grid only detects a cross-doc repeat whose
    // occurrences agree on offset mod stride; sampling the half-phase too
    // halves the alignment condition to mod (stride/2) — the planted
    // misaligned-block case the old grid provably missed is pinned in
    // DedupGraphSpec. Same linear cost class (2× windows); the island
    // merge below is phase-agnostic (it orders by raw offset).
    val half = math.max(1, stride / 2)
    val offs = docs
      .where(length(col(textCol)) >= window)
      .select(col(idCol),
        explode(expr(
          s"array_distinct(filter(flatten(transform(sequence(0, (length($textCol) - $window) div $stride), " +
            s"i -> array(i * $stride, i * $stride + $half))), " +
            s"o -> o <= length($textCol) - $window))"))
          .as("off"),
        col(textCol))
      .select(col(idCol), col("off"),
        expr(s"substring($textCol, off + 1, $window)").as("win"))
    val dup = offs.groupBy(col("win"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("win"))
    val marked = offs.join(dup, "win").select(col(idCol), col("off"))
    val byOff = Window.partitionBy(col(idCol)).orderBy(col("off"))
    val islands = marked
      .withColumn("prev_end",
        max(col("off") + lit(window))
          .over(byOff.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("off") > col("prev_end"), 1)
          .otherwise(0))
      .withColumn("span_id", sum(col("new_span")).over(byOff))
    islands.groupBy(col(idCol), col("span_id"))
      .agg(min(col("off")).as("s"), (max(col("off")) + lit(window)).as("e"))
  }

  /** Substring dedup APPLY — the cleaning step [[substringDupProfile]]
    * only measures (Lee et al. 2022 deduplicate-text-datasets): splice
    * every merged duplicated span OUT of the text, keeping the segments
    * between spans in order. Span finding is the shared [[dupSpans]]
    * chain, so profile and apply can never disagree on what counts as
    * duplicated. Emits the cleaned text's fingerprint + before/after
    * char counts (fixed-width audit rows, not the text itself).
    *
    * The splice is one codegen'd `aggregate` fold over the doc's sorted
    * span array — spans per doc are few (merged + disjoint), the fold is
    * doc-local, and docs without spans pass through untouched via the
    * left join. No shuffle beyond dupSpans' own ones + the span
    * collect_list at doc grain. */
  def substringDedupApply(
      docs: DataFrame,
      window: Int = 40,
      stride: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spans = dupSpans(docs, window, stride, idCol, textCol)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("_spans"))
    val clean = expr(
      s"""aggregate(
         |  _spans,
         |  named_struct('buf', '', 'pos', CAST(0 AS BIGINT)),
         |  (acc, sp) -> named_struct(
         |    'buf', concat(acc.buf,
         |      substring($textCol, CAST(acc.pos AS INT) + 1, CAST(sp.s - acc.pos AS INT))),
         |    'pos', sp.e),
         |  acc -> concat(acc.buf,
         |    substring($textCol, CAST(acc.pos AS INT) + 1,
         |      length($textCol) - CAST(acc.pos AS INT))))""".stripMargin)
    docs.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_spans").isNull, col(textCol)).otherwise(clean).as("_clean"),
        col(textCol))
      .select(col(idCol), md5(col("_clean")).as("clean_fp"),
        length(col(textCol)).cast("long").as("orig_chars"),
        length(col("_clean")).cast("long").as("clean_chars"))
  }
}
