package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.{Cap, Multimodal, Similarity}

/** Vector expressions, ANN recall, and multimodal plumbing. */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val dim = 16
  private def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
  private val corpus = (0L until 200L).map(i => (i, vec())).toSeq

  test("codegen'd dot/norm match naive double-fold reference") {
    val df = corpus.take(20).toDF("vec_id", "embedding")
    val got = df.select(
      col("vec_id"),
      VectorFunctions.dot(col("embedding"), col("embedding")).as("d"),
      VectorFunctions.norm(col("embedding")).as("n"))
      .as[(Long, Double, Double)].collect()
    got.foreach { case (id, d, n) =>
      val v = corpus(id.toInt)._2
      val refDot = v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
      assert(d === refDot, s"dot id=$id")
      assert(n === math.sqrt(refDot), s"norm id=$id")
    }
  }

  test("bruteForceTopK returns exact neighbors in score order") {
    val df = corpus.toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.where(col("vec_id") === 0), 5)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(out.length === 5)
    assert(out.map(_._4).toSeq === Seq(1, 2, 3, 4, 5))
    assert(out.map(_._3).toSeq === out.map(_._3).sortBy(-_).toSeq) // descending
    // reference: naive top-5 by cosine
    val q = corpus.head._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
      val na = math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      val nb = math.sqrt(b.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      d / (na * nb)
    }
    val expect = corpus.tail.map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(out.map(_._2).toSeq === expect)
  }

  test("int8 quantization round-trips within 1/254 per component and keeps ANN recall high") {
    val df = corpus.toDF("vec_id", "embedding")
    val qd = Similarity.quantizeInt8(df)
    // quantization error bound: |x - deq| <= scale/254 (half a step)
    val bad = qd.select(col("vec_id"), col("embedding"), col("q_scale"),
        Similarity.dequantizeF(col("q_vec"), col("q_scale")).as("deq"))
      .as[(Long, Array[Float], Double, Array[Float])].collect()
      .flatMap { case (id, orig, scale, deq) =>
        orig.zip(deq).collect {
          case (o, r) if math.abs(o.toDouble - r.toDouble) > scale / 254.0 + 1e-6 =>
            (id, o, r)
        }
      }
    assert(bad.isEmpty, s"components outside the quantization error bound: ${bad.take(3).toSeq}")
    // top-k over the dequantized store recovers nearly all float-exact ranks
    val deq = qd.select(col("vec_id"),
      Similarity.dequantizeF(col("q_vec"), col("q_scale")).as("embedding"))
    val queries = df.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.bruteForceTopK(deq, deq.where(col("vec_id") < 10), 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 ANN recall $recall")
  }

  test("pqTopK (ADC) achieves useful recall against brute force") {
    val df = corpus.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(df, queries, 10, dim, m = 4, nCodes = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & pq).size.toDouble / exact.size
    info(s"pq recall@10 = $recall")
    // 4 bytes/vector on a gaussian corpus is maximally lossy for PQ;
    // still far above the ~0.05 random-overlap baseline for 200 vectors
    assert(recall >= 0.2, s"pq ANN recall $recall")
  }

  test("pqRerankTopK: exact-scores its shortlist, and a full shortlist equals brute force") {
    val df = corpus.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 10)
    // with shortlist ≥ |corpus|−1 the ADC stage keeps everything, so the
    // re-rank must reproduce bruteForceTopK exactly — scores, order, ranks
    val full = Similarity.pqRerankTopK(df, queries, 10, dim,
        shortlist = 300, m = 4, nCodes = 16)
      .orderBy(col("query_id"), col("rank"))
      .as[(Long, Long, Double, Int)].collect()
    val brute = Similarity.bruteForceTopK(df, queries, 10)
      .orderBy(col("query_id"), col("rank"))
      .as[(Long, Long, Double, Int)].collect()
    assert(full === brute)
    // a tight shortlist re-ranks only ADC candidates, with exact scores:
    // recall ≥ the ADC-only ranking's (refine can only promote true hits)
    val exact = brute.map(r => (r._1, r._2)).toSet
    val adc = Similarity.pqTopK(df, queries, 10, dim, m = 4, nCodes = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rr = Similarity.pqRerankTopK(df, queries, 10, dim,
        shortlist = 50, m = 4, nCodes = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recallAdc = (exact & adc).size.toDouble / exact.size
    val recallRr = (exact & rr).size.toDouble / exact.size
    info(s"recall adc=$recallAdc rerank=$recallRr")
    assert(recallRr >= recallAdc, s"rerank $recallRr < adc $recallAdc")
  }

  test("recallAtK scores per-query overlap of two top-k result sets") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val out = Similarity.recallAtK(approx, exact).orderBy("query_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(out === Array((1L, 2L, 1L, 0.5), (2L, 2L, 2L, 1.0)))
  }

  test("lshTopK achieves useful recall against brute force") {
    val df = corpus.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(df, queries, 10, dim, nPlanes = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // gaussian corpus is a worst case for LSH; multi-probe at 8 planes
    // should still recover a solid fraction of the true top-10
    assert(recall > 0.3, s"recall=$recall")
    assert(approx.nonEmpty)
  }

  test("nearDupPairs exact and LSH-bucketed paths agree on high-sim pairs") {
    // plant near-duplicates: vector i and i+1000 differ by tiny noise
    val planted = corpus.take(20).map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.001f * rnd.nextFloat()))
    }
    val df = (corpus.take(20) ++ planted).toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairs(df, 0.999, dim, nPlanes = 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact === (0L until 20L).map(i => (i, i + 1000L)).toSet)
    val bucketed = Similarity.nearDupPairs(df, 0.999, dim, nPlanes = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // near-identical vectors share every hyperplane sign → full recall
    assert(bucketed === exact)
  }

  test("semDedup collapses planted near-dup groups to min-id canonicals, passes the rest") {
    // vector i+1000 ≈ vector i (i < 20): each pair shares a cell (near-
    // identical → identical nearest-seed argmin), so SemDeDup must drop
    // exactly the planted copies and keep every original untouched
    val planted = corpus.take(20).map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.0005f * rnd.nextFloat()))
    }
    val df = (corpus ++ planted).toDF("vec_id", "embedding")
    val survivors = Similarity.semDedup(df, nCells = 4, iterations = 0, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors === corpus.map(_._1).toSet)
  }

  test("ivfTopK with Lloyd iterations achieves useful recall vs brute force") {
    val df = corpus.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(df, queries, 10, nCells = 8, nProbe = 3,
        iterations = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall > 0.3, s"recall=$recall")
    // probing 3 of 8 cells must not scan the whole corpus' worth of pairs
    assert(ivf.size <= exact.size)
  }

  test("kmeansCentroids at 8 Lloyd rounds: bounded lineage, sane centroids") {
    // pre-fix, each round's plan embedded every previous round — 8
    // iterations took minutes of Catalyst analysis alone; with the
    // per-round localCheckpoint this completes in seconds and the final
    // plan is independent of the iteration count
    val df = corpus.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, nCells = 4, iterations = 8)
    val rows = cents.select("cell", "ce").as[(Long, Array[Float])].collect()
    assert(rows.length === 4)
    assert(rows.forall(_._2.length === dim))
    // checkpointed plan: no residual join/aggregate lineage from the loop
    val planLines = cents.queryExecution.optimizedPlan.toString
    assert(!planLines.contains("Join"),
      "final centroids must be materialized, not a re-derivable join chain:\n" + planLines)
  }

  test("nearDupPairs LSH path (q53) is an exact-score subset of the exact path") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 0)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    val lsh = Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4)
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty, "bucketed path found no pairs at all")
    lsh.foreach { case (a, b, s) =>
      assert(exact.get((a, b)).contains(s), s"pair ($a,$b) score drift or not in exact set")
    }
    val recall = lsh.length.toDouble / exact.size
    // single-table sign-LSH has recall < 1 by construction; it must still
    // recover a useful fraction at 16 buckets
    assert(recall > 0.2, s"recall=$recall")
  }

  /** vec_id → its hyperplane bucket at the gated 4 planes (the pair key). */
  private def bucketsOf(emb: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    emb.select(col("vec_id"), VectorFunctions.hyperplaneBucket(col("embedding"), 64, 4))
      .as[(Long, Long)].collect().toMap

  /** vec_id → its k-means cell under `cents`. */
  private def cellsOf(emb: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Similarity.assignCells(emb, cents).select(col("vec_id"), col("cell"))
      .as[(Long, Long)].collect().toMap

  /** The capped generators' expected output, derived independently from
    * the UNCAPPED pair set: a same-key pair (a < b) survives iff its key
    * holds ≤ `cap` members or `a` is among the key's `pivots` smallest
    * ids (the block-clique + block×rest edges). */
  private def capFiltered(uncapped: Set[(Long, Long, Double)], keyOf: Map[Long, Long],
      cap: Long, pivots: Int): Set[(Long, Long, Double)] = {
    val members = keyOf.groupBy(_._2).map { case (k, m) => k -> m.keys.toSeq.sorted }
    uncapped.filter { case (a, _, _) =>
      val ms = members(keyOf(a))
      ms.size <= cap || ms.indexOf(a) < pivots
    }
  }

  /** max(floor, mult · lower-median key population), computed on the
    * driver — the hand derivation of a [[graft.operators.Cap.Derived]] cap. */
  private def handDerivedCap(keyOf: Map[Long, Long], floor: Long, mult: Long): Long = {
    val pops = keyOf.groupBy(_._2).values.map(_.size.toLong).toSeq.sorted
    math.max(floor, mult * pops((pops.size + 1) / 2 - 1))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.as[(Long, Long, Double)].collect().toSet

  test("nearDupPairs with Cap.Fixed: inert cap equals q53; active cap is an exact-score subset") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val uncapped = Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    // cap above every bucket's population → bit-identical to the q53 form
    val inert = Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4,
        cap = Cap.Fixed(1000000L))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    assert(inert === uncapped)
    // active cap (the q167 production setting — the two tight clusters at
    // sf0.001 exceed 64): strict subset, scores unchanged pair-for-pair
    val capped = Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4,
        cap = Cap.Fixed(64L))
      .as[(Long, Long, Double)].collect()
    assert(capped.nonEmpty && capped.length < uncapped.size,
      s"cap 64 must be ACTIVE at sf0.001 (got ${capped.length} of ${uncapped.size})")
    capped.foreach { case (a, b, s) =>
      assert(uncapped.get((a, b)).contains(s),
        s"pair ($a,$b) score drift or not in the uncapped set")
    }
  }

  test("nearDupPairs with Cap.Fixed bounds a tight cluster to pivot-star edges, still one component") {
    // 100 near-identical vectors: the clique is C(100,2)=4950 pairs; the
    // capped form must emit exactly the 99 (pivot=min id, member) star
    // edges — linear in cluster size — and those edges alone keep the
    // cluster one connected component for the downstream CC collapse
    val base = Array.tabulate(dim)(i => 1.0f + 0.01f * i)
    val cluster = (0L until 100L).map(i =>
      (i, base.map(x => x * (1.0f + 1e-5f * i))))
    val df = cluster.toDF("vec_id", "embedding")
    val clique = Similarity.nearDupPairs(df, 0.999, dim, nPlanes = 4)
      .select("a", "b").as[(Long, Long)].collect()
    assert(clique.length === 4950, s"planted cluster must be a clique (got ${clique.length})")
    val star = Similarity.nearDupPairs(df, 0.999, dim, nPlanes = 4,
        cap = Cap.Fixed(10L))
      .select("a", "b").as[(Long, Long)].collect()
    assert(star.toSet === (1L until 100L).map(b => (0L, b)).toSet,
      s"over-cap bucket must contribute exactly the min-id star (got ${star.length} edges)")
    // the profile predicts exactly what each run pays: one over-cap
    // bucket, 4950 clique pairs uncapped, 99 capped
    val prof = Similarity.bucketProfile(df, dim, nPlanes = 4, maxBucketPop = 10L)
      .select("pop", "clique_pairs", "over_cap", "capped_pairs")
      .as[(Long, Long, Int, Long)].collect()
    assert(prof.toSeq === Seq((100L, 4950L, 1, 99L)))
  }

  test("nearDupPairs pivot block: block=1 equals the pivot star; recall grows with the block") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val uncapped = pairSet(Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4))
    val buckets = bucketsOf(emb)
    // pivots = 1 is EXACTLY the uncapped pairs cut to over-cap buckets'
    // min-id star edges (the min-id member is rank 1)
    val block1 = pairSet(Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4,
        cap = Cap.Fixed(64L)))
    assert(block1 === capFiltered(uncapped, buckets, 64L, 1),
      "pivots=1 must keep exactly the pivot star of every over-cap bucket")
    // widening the block only ADDS exact-score uncapped pairs, never
    // invents or rescores — and it must actually recover recall here
    val block256 = pairSet(Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4,
        cap = Cap.Fixed(64L), pivots = 256L))
    assert(block256 === capFiltered(uncapped, buckets, 64L, 256))
    assert(block1.subsetOf(block256))
    assert(block256.size > block1.size,
      s"block 256 must widen recall (got ${block256.size} vs ${block1.size})")
    // an over-block bucket's pair space stays <= blockSize·pop: with the
    // planted tight cluster below the block, the clique is complete
    val base = Array.tabulate(dim)(i => 1.0f + 0.01f * i)
    val cluster = (0L until 100L).map(i =>
      (i, base.map(x => x * (1.0f + 1e-5f * i))))
    val df = cluster.toDF("vec_id", "embedding")
    val blocked = Similarity.nearDupPairs(df, 0.999, dim, nPlanes = 4,
        cap = Cap.Fixed(10L), pivots = 20L)
      .select("a", "b").as[(Long, Long)].collect()
    // block members 0..19: full block clique C(20,2) + block×rest 20·80
    assert(blocked.length === 190 + 1600, s"got ${blocked.length}")
    assert(blocked.forall { case (a, b) => a < 20L || b < 20L })
  }

  test("cellNearDupPairs pivot block: block=1 equals the cell star; wide block covers whole cells") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.kmeansCentroids(emb, 8, 0)
    val uncapped = pairSet(Similarity.cellNearDupPairs(emb, cents, 0.35))
    val cells = cellsOf(emb, cents)
    val star = pairSet(Similarity.cellNearDupPairs(emb, cents, 0.35,
        cap = Cap.Fixed(24L)))
    assert(star === capFiltered(uncapped, cells, 24L, 1),
      "pivots=1 must keep exactly the pivot star of every over-cap cell")
    assert(star.size < uncapped.size, "cap 24 must be ACTIVE at sf0.001")
    // every cell at sf0.001 sits under a 10k block → lossless
    val wide = pairSet(Similarity.cellNearDupPairs(emb, cents, 0.35,
        cap = Cap.Fixed(24L), pivots = 10000L))
    assert(wide === uncapped, "a block covering every cell must be lossless")
    // and the 256 block sits between the two, never rescoring
    val b256 = pairSet(Similarity.cellNearDupPairs(emb, cents, 0.35,
        cap = Cap.Fixed(24L), pivots = 256L))
    assert(b256 === capFiltered(uncapped, cells, 24L, 256))
    assert(star.subsetOf(b256) && b256.subsetOf(uncapped))
  }

  test("nearDupPairs Cap.Derived pivot block: block=1 equals the derived-cap star; wide block is lossless") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val uncapped = pairSet(Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4))
    val buckets = bucketsOf(emb)
    val cap = handDerivedCap(buckets, 64L, 4L)
    val star = pairSet(Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4,
        cap = Cap.Derived(64L, 4L)))
    assert(star === capFiltered(uncapped, buckets, cap, 1),
      s"pivots=1 must keep exactly the pivot star of every bucket over the derived cap $cap")
    val wide = pairSet(Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4,
        cap = Cap.Derived(64L, 4L), pivots = 10000L))
    assert(wide === uncapped, "a block covering every bucket must be lossless")
    val b256 = pairSet(Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4,
        cap = Cap.Derived(64L, 4L), pivots = 256L))
    assert(b256 === capFiltered(uncapped, buckets, cap, 256))
    assert(star.subsetOf(b256) && b256.subsetOf(uncapped))
  }

  test("derivedCap: deterministic lower-median, floor and live arms") {
    // lower median = element at 1-based rank (n+1) div 2 under pop-asc
    // order, via cumulative counting over distinct pops
    def cap(pops: Seq[Long], floor: Long, mult: Long): Long =
      Cap.derivedCap(pops.toDF("pop"), floor, mult)
        .as[Long].head()
    // n=6, rank 3: sorted [1,1,2,8,9,50] → med 2 → 4·2=8 < floor → 64
    assert(cap(Seq(8L, 1L, 50L, 2L, 9L, 1L), 64L, 4L) === 64L)
    // n=4, rank 2: sorted [20,20,30,200] → med 20 → 4·20=80 > floor
    assert(cap(Seq(30L, 20L, 200L, 20L), 64L, 4L) === 80L)
    // odd n=5, rank 3: sorted [1,2,3,4,1000] → med 3
    assert(cap(Seq(1000L, 4L, 3L, 2L, 1L), 1L, 1L) === 3L)
  }

  test("nearDupPairs with Cap.Derived matches Cap.Fixed at its derived cap") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // at sf0.001 the floor dominates (median bucket pop ≪ 16): the
    // hand-derived cap is the floor, and the derived-cap run keeps exactly
    // the uncapped pairs outside over-cap buckets plus their pivot stars
    val buckets = bucketsOf(emb)
    val cap = handDerivedCap(buckets, 64L, 4L)
    assert(cap === 64L, s"floor arm expected at sf0.001 (got $cap)")
    val uncapped = pairSet(Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4))
    val auto = pairSet(Similarity.nearDupPairs(emb, 0.35, 64, nPlanes = 4,
        cap = Cap.Derived(64L, 4L)))
    assert(auto === capFiltered(uncapped, buckets, 64L, 1))
    // the live arm: a profile whose 4·median exceeds the floor must relax
    // the cap above it — on a synthetic two-cluster + uniform space the
    // derived cap keeps the uniform buckets' cliques that a floor-only
    // cap would star-collapse
    val capLive = Cap.derivedCap(
      Seq(40L, 41L, 42L, 43L, 500L, 600L).toDF("pop"), 64L, 4L)
      .as[Long].head()
    assert(capLive === 4 * 42L, s"live arm must use 4·median (got $capLive)")
  }

  test("cellNearDupPairs with Cap.Fixed: inert cap equals uncapped; tight cell → pivot star") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val nCells = graft.entry.GateSupport.semDedupCells(emb.count())
    val cents = Similarity.kmeansCentroids(emb, nCells, 0)
    val uncapped = Similarity.cellNearDupPairs(emb, cents, 0.35)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    // cap above every cell's population → bit-identical to the q102 form
    val inert = Similarity.cellNearDupPairs(emb, cents, 0.35, cap = Cap.Fixed(1000000L))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    assert(inert === uncapped)
    // active cap (the q169 gate setting): subset, scores unchanged
    val capped = Similarity.cellNearDupPairs(emb, cents, 0.35, cap = Cap.Fixed(24L))
      .as[(Long, Long, Double)].collect()
    assert(capped.length < uncapped.size,
      s"cap 24 must be ACTIVE at sf0.001 (got ${capped.length} of ${uncapped.size})")
    capped.foreach { case (a, b, s) =>
      assert(uncapped.get((a, b)).contains(s),
        s"pair ($a,$b) score drift or not in the uncapped set")
    }
    // a planted tight cluster assigned to ONE cell must emit exactly the
    // min-id star and stay one component — the q53 exposure, neutralized.
    // The 50 copies are bit-identical, so every dist ties and the argmin
    // tie-break lands the whole cluster in the min seed cell (0)
    val base = Array.tabulate(dim)(i => 1.0f + 0.01f * i)
    val cluster = (0L until 50L).map(i => (i, base))
    val cdf = cluster.toDF("vec_id", "embedding")
    val oneCell = Similarity.kmeansCentroids(cdf, 4, 0)
    val star = Similarity.cellNearDupPairs(cdf, oneCell, 0.999, cap = Cap.Fixed(10L))
      .select("a", "b").as[(Long, Long)].collect()
    assert(star.toSet === (1L until 50L).map(b => (0L, b)).toSet,
      s"over-cap cell must contribute exactly the min-id star (got ${star.length})")
    val prof = Similarity.cellProfile(cdf, oneCell, 10L)
      .select("pop", "clique_pairs", "over_cap", "capped_pairs")
      .as[(Long, Long, Int, Long)].collect()
    assert(prof.toSeq === Seq((50L, 1225L, 1, 49L)))
  }

  test("semDedup with Cap.Fixed: inert cap equals uncapped; planted dups still collapse") {
    // vector i+1000 ≈ vector i: the pair shares a cell AND the capped
    // form must still suppress the copy — within a tight group the star
    // reaches every member through the pivot
    val planted = corpus.take(20).map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.0005f * rnd.nextFloat()))
    }
    val df = (corpus ++ planted).toDF("vec_id", "embedding")
    val uncapped = Similarity.semDedup(df, 4, 0, 0.999)
      .select("vec_id").as[Long].collect().toSet
    val inert = Similarity.semDedup(df, 4, 0, 0.999, cap = Cap.Fixed(1000000L))
      .select("vec_id").as[Long].collect().toSet
    assert(inert === uncapped)
    // active cap: every cell over 10 members goes pivot-star; each
    // planted copy is near-identical to its original, but the star only
    // DIRECTLY links pivot→member — originals without a near-dup edge to
    // the pivot keep themselves, and every survivor set is a superset of
    // the uncapped one (the cap can only DROP suppressions, never add)
    val capped = Similarity.semDedup(df, 4, 0, 0.999, cap = Cap.Fixed(10L))
      .select("vec_id").as[Long].collect().toSet
    assert(uncapped.subsetOf(capped))
  }

  test("autoPlanes: 4 at gated sizes, grows as log2(N) past them") {
    // ≤ 2000 vectors (both gated SFs) must resolve to exactly 4 — the
    // q53 oracle inlines the 4-plane matrix
    assert(Similarity.autoPlanes(spark.range(500).toDF("vec_id")) === 4)
    assert(Similarity.autoPlanes(spark.range(2000).toDF("vec_id")) === 4)
    // past the gated band the bucket count grows ∝ N (population pinned
    // at the gated 125/bucket density, so the pair space stays linear)
    assert(Similarity.autoPlanes(spark.range(8000).toDF("vec_id")) === 6)
    assert(Similarity.autoPlanes(spark.range(20000).toDF("vec_id")) === 8)
    assert(Similarity.autoPlanes(spark.range(200000).toDF("vec_id")) === 11)
  }

  test("semDedup at √N cells keeps the pair space ~O(N·√N), far below all-pairs") {
    // the q102/q118 scale guard: with nCells = ceil(√N) the within-cell
    // pair volume (Σ per-cell C(sz,2) — exactly what cellNearDupPairs'
    // cell equi-join scores) must stay within a small constant of N^1.5,
    // and an order of magnitude under the N²/2 a constant-cell-count
    // configuration degenerates to as N grows
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val nCells = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cents = Similarity.kmeansCentroids(emb, nCells, 0)
    val sizes = Similarity.assignCells(emb, cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      .select((col("sz") * (col("sz") - 1) / 2).cast("long").as("pairs"))
      .agg(sum(col("pairs"))).as[Long].head()
    val bound = 2.0 * n * math.sqrt(n.toDouble)
    assert(sizes <= bound,
      s"within-cell pair volume $sizes exceeds 2·N^1.5 = $bound — cells too skewed")
    assert(sizes <= n * (n - 1) / 2 / 10,
      s"pair volume $sizes is not meaningfully below all-pairs ${n * (n - 1) / 2}")
  }

  test("multimodal extractFeatures is deterministic and batch-shaped (stub decoder)") {
    val docs = Seq((1L, "hello world"), (2L, ""), (3L, "αβγ multi-byte"))
      .toDF("doc_id", "text")
    val media = Multimodal.ingestDocsAsMedia(docs)
    val out = Multimodal.extractFeatures(media, Multimodal.StubDecoder, batchSize = 2)
      .orderBy("media_id").as[(Long, String, Array[Float])].collect()
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(out.forall(_._3.length === 8))
    assert(out(1)._3.forall(_ === 0f)) // empty content → zero features
    assert(out(0)._3(0) === "hello world".getBytes("UTF-8").length.toFloat)
    val again = Multimodal.extractFeatures(media, Multimodal.StubDecoder, batchSize = 2)
      .orderBy("media_id").as[(Long, String, Array[Float])].collect()
    assert(out.map(_._3.toSeq) === again.map(_._3.toSeq))
  }

  test("ImageIoDecoder round-trips known pixel arrays exactly") {
    val px = Array( // (r, g, b) rows of a 3×2 image
      Array((10, 20, 30), (200, 100, 50), (0, 0, 0)),
      Array((255, 255, 255), (5, 250, 125), (60, 70, 80)))
    val img = new java.awt.image.BufferedImage(
      3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) {
      val (r, g, b) = px(y)(x)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val Seq(f) = Multimodal.ImageIoDecoder.decodeBatch(
      Seq(baos.toByteArray), Seq("image/png"))
    assert(f.length === 9)
    assert(f.take(5).toSeq === Seq(3f, 2f, 3f, 0f, 255f)) // w h bands min max
    assert(f(5) === (530.0 / 6).toFloat) // meanR: exact int sums / n
    assert(f(6) === (695.0 / 6).toFloat)
    assert(f(7) === 90f)
    assert(f(8) === 1f) // real decode
  }

  test("ImageIoDecoder routes corrupt bytes and non-image mimes to the stub with decode_ok=0") {
    val good = {
      val img = new java.awt.image.BufferedImage(
        2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val payloads = Seq("not a png".getBytes("UTF-8"), good, Array.empty[Byte])
    val mimes = Seq("image/png", "audio/wav", "image/png")
    val out = Multimodal.ImageIoDecoder.decodeBatch(payloads, mimes)
    val stub = Multimodal.StubDecoder.decodeBatch(payloads, mimes)
    out.zip(stub).foreach { case (o, s) =>
      assert(o.length === 9 && o(8) === 0f) // all three degrade
      assert(o.take(8).toSeq === s.toSeq) // ... to the stub's features
    }
  }

  test("synthesizeImages: real PNGs decode back to the closed-form pattern; corrupt ids route dirty") {
    val docs = Seq(5L, 97L, 123L).toDF("doc_id")
    val out = Multimodal.extractFeatures(
        Multimodal.synthesizeImages(docs), Multimodal.ImageIoDecoder)
      .orderBy("media_id").as[(Long, String, Array[Float])].collect()
    assert(out.map(_._1).toSeq === Seq(5L, 97L, 123L))
    val f5 = out(0)._3
    val (w, h) = (16 + 5 % 17, 8 + 5 % 13)
    var (sr, mn, mx) = (0L, 255, 0)
    for (x <- 0 until w; y <- 0 until h) {
      val r = (x + 5) % 256; val g = (y + 10) % 256; val b = (x + y + 15) % 256
      sr += r; mn = math.min(mn, math.min(r, math.min(g, b)))
      mx = math.max(mx, math.max(r, math.max(g, b)))
    }
    assert(f5.take(5).toSeq ===
      Seq(w.toFloat, h.toFloat, 3f, mn.toFloat, mx.toFloat))
    assert(f5(5) === (sr.toDouble / (w * h)).toFloat)
    assert(f5(8) === 1f)
    assert(out(1)._3(8) === 0f) // 97 % 97 == 0 → deterministic dirty payload
    assert(out(1)._3(0) === "corrupt:97".getBytes("UTF-8").length.toFloat)
    assert(out(2)._3(8) === 1f)
  }

  test("WavDecoder round-trips known PCM-16 samples exactly") {
    val samples = Array[Short](0, 100, -200, 32767, -32768, 5)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val Seq(f) = Multimodal.WavDecoder.decodeBatch(
      Seq(baos.toByteArray), Seq("audio/wav"))
    assert(f.length === 9)
    // rate channels bits frames min max
    assert(f.take(6).toSeq === Seq(8000f, 1f, 16f, 6f, -32768f, 32767f))
    val sum = samples.map(_.toLong).sum
    val sumSq = samples.map(s => s.toLong * s).sum
    assert(f(6) === (sum / 6.0).toFloat)
    assert(f(7) === math.sqrt(sumSq / 6.0).toFloat)
    assert(f(8) === 1f) // real decode
    // same samples through a BIG-ENDIAN AIFF container: identical
    // features — the statistics are container- and endianness-independent
    val pcmBe = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcmBe(2 * i) = ((s >> 8) & 0xff).toByte; pcmBe(2 * i + 1) = (s & 0xff).toByte
    }
    val fmtBe = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val baosBe = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcmBe), fmtBe, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, baosBe)
    val Seq(fBe) = Multimodal.WavDecoder.decodeBatch(
      Seq(baosBe.toByteArray), Seq("audio/aiff"))
    assert(fBe.toSeq === f.toSeq)
  }

  test("WavDecoder stereo: f3 counts frames, stats pool interleaved samples") {
    // 3 frames × 2 channels; L/R deliberately asymmetric so pooled vs
    // per-channel stats diverge — pins the documented contract (frames
    // for duration, pooled samples for min/max/mean/RMS)
    val inter = Array[Short](1000, -2000, 3000, -4000, 5000, -6000)
    val pcm = new Array[Byte](inter.length * 2)
    inter.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 2, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 3L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val Seq(f) = Multimodal.WavDecoder.decodeBatch(
      Seq(baos.toByteArray), Seq("audio/wav"))
    // rate channels bits FRAMES(3, not 6) min max — min/max span BOTH channels
    assert(f.take(6).toSeq === Seq(16000f, 2f, 16f, 3f, -6000f, 5000f))
    val sum = inter.map(_.toLong).sum
    val sumSq = inter.map(s => s.toLong * s).sum
    assert(f(6) === (sum / 6.0).toFloat)  // pooled mean over 6 samples
    assert(f(7) === math.sqrt(sumSq / 6.0).toFloat)
    assert(f(8) === 1f)
  }

  test("WavDecoder routes corrupt bytes, non-audio mimes, and non-PCM16 formats to the stub") {
    val pcm8 = { // valid WAV but 8-bit — supported container, unsupported depth
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(Array[Byte](1, 2, 3, 4)), fmt, 4L),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    val payloads = Seq("not a wav".getBytes("UTF-8"), pcm8, Array.empty[Byte])
    val mimes = Seq("audio/wav", "audio/wav", "audio/wav")
    val out = Multimodal.WavDecoder.decodeBatch(payloads, mimes)
    val stub = Multimodal.StubDecoder.decodeBatch(payloads, mimes)
    out.zip(stub).foreach { case (o, s) =>
      assert(o.length === 9 && o(8) === 0f) // all three degrade
      assert(o.take(8).toSeq === s.toSeq) // ... to the stub's features
    }
  }

  test("synthesizeWavs: real WAVs decode back to the closed-form pattern; corrupt ids route dirty") {
    val docs = Seq(5L, 97L, 123L).toDF("doc_id")
    val out = Multimodal.extractFeatures(
        Multimodal.synthesizeWavs(docs), Multimodal.WavDecoder)
      .orderBy("media_id").as[(Long, String, Array[Float])].collect()
    assert(out.map(_._1).toSeq === Seq(5L, 97L, 123L))
    val f5 = out(0)._3
    val n = 64 + 5 % 97; val k = 521 + 97 * (5 % 23)
    val ss = (0 until n).map(t => ((t.toLong * k + 5L) % 65536L - 32768L).toInt)
    assert(f5.take(6).toSeq === Seq((8000 + (5 % 5) * 1000).toFloat, 1f, 16f,
      n.toFloat, ss.min.toFloat, ss.max.toFloat))
    assert(f5(6) === (ss.map(_.toLong).sum / n.toDouble).toFloat)
    assert(f5(7) === math.sqrt(ss.map(s => s.toLong * s).sum / n.toDouble).toFloat)
    assert(f5(8) === 1f)
    assert(out(1)._3(8) === 0f) // 97 % 97 == 0 → deterministic dirty payload
    assert(out(1)._3(0) === "notawav:97".getBytes("UTF-8").length.toFloat)
    assert(out(2)._3(8) === 1f)
  }

  test("synthesizeMp4s: box walk recovers the closed-form header; corrupt/malformed route dirty") {
    val docs = Seq(5L, 97L, 123L).toDF("doc_id")
    val out = Multimodal.extractFeatures(
        Multimodal.synthesizeMp4s(docs), Multimodal.Mp4MetaDecoder)
      .orderBy("media_id").as[(Long, String, Array[Float])].collect()
    assert(out.map(_._1).toSeq === Seq(5L, 97L, 123L))
    def expect(id: Long): Seq[Float] = {
      val w = 160 + (id % 28) * 16; val h = 96 + (id % 17) * 16
      val ts = 125 << (id % 4).toInt; val dur = 100 + id % 9000
      Seq(w.toFloat, h.toFloat, ts.toFloat, dur.toFloat,
        (dur * 1000L / ts).toFloat, 3f, (id % 41).toFloat,
        (248 + id % 41).toFloat, 1f)
    }
    assert(out(0)._3.toSeq === expect(5L))
    assert(out(2)._3.toSeq === expect(123L))
    assert(out(1)._3(8) === 0f) // 97 % 97 == 0 → dirty payload
    assert(out(1)._3(0) === "notanmp4:97".getBytes("UTF-8").length.toFloat)
    // malformed variants all degrade, never throw: truncated mid-moov,
    // oversized box length, empty, and a valid file under a non-video mime
    val good = Multimodal.synthesizeMp4s(Seq(5L).toDF("doc_id"))
      .select("content").as[Array[Byte]].head()
    val truncated = good.take(40)
    val oversize = good.clone(); oversize(0) = 0x7f.toByte // ftyp size huge
    val cases = Seq(truncated, oversize, Array.empty[Byte], good)
    val mimes = Seq("video/mp4", "video/mp4", "video/mp4", "image/png")
    Multimodal.Mp4MetaDecoder.decodeBatch(cases, mimes)
      .foreach(f => assert(f.length === 9 && f(8) === 0f))
  }

  test("multimodal frame sampling: one row per sampled frame, video only") {
    val docs = Seq((2L, "abcdefghij"), (5L, "0123456789abcdef"), (1L, "not video"))
      .toDF("doc_id", "text") // doc_id % 3 == 2 → video/mp4
    val media = Multimodal.decodeMeta(Multimodal.ingestDocsAsMedia(docs))
    val frames = Multimodal.sampleFrames(media)
      .select("media_id", "frame_no").as[(Long, Long)].collect()
    // n_frames = 1 + n_bytes % 7 → doc 2: 1 + 10%7 = 4; doc 5: 1 + 16%7 = 3
    assert(frames.count(_._1 == 2L) === 4)
    assert(frames.count(_._1 == 5L) === 3)
    assert(!frames.exists(_._1 == 1L))
  }

  test("media dedup accounting: CAS savings count duplicate payload bytes once") {
    // doc_ids 0/3 (both mime image/png under %3 cycling) share one payload
    val docs = Seq((0L, "same payload"), (3L, "same payload"),
      (6L, "unique one"), (1L, "audio x")).toDF("doc_id", "text")
    val out = Multimodal.dedupAccounting(Multimodal.ingestDocsAsMedia(docs))
      .orderBy($"mime")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    val png = out.find(_._1 == "image/png").get
    assert(png === (("image/png", 3L, 2L, 34L, 22L, 0.352941)))
    val wav = out.find(_._1 == "audio/wav").get
    assert(wav._2 === 1L && wav._5 === wav._4 && wav._6 === 0.0)
  }
}
