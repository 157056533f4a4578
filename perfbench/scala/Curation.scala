package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, NgramLm, Similarity, Sketches, TextProfile}

/** The batch curation pass: a fixed list of operators over the seeded
  * corpus (`doc_id`, `text`) and (`vec_id`, `embedding`, `label`), each run
  * to a materialized result. No streaming state. */
final class Curation(docsIn: DataFrame, vecsIn: DataFrame, spans: Spans) {
  private val docs = docsIn.cache()
  private val vecs = vecsIn.cache()
  private val k = vecs.agg(max(col("label"))).head().getInt(0) + 1

  /** Results of the last pass, checked against the generator's counts. */
  val actual = mutable.LinkedHashMap.empty[String, Long]
  /** LSH candidate pairs per verified near-duplicate pair, last pass. */
  var candPerKept = 0.0
  /** Per pass and operator: pass start → that operator's result, ms. */
  val freshMs = mutable.ArrayBuffer.empty[Double]
  val records: Long = docs.count() + vecs.count()

  private var passStart = 0L
  private def op[T](name: String)(body: => T): T = {
    val r = spans(s"operators.$name")(body)
    freshMs += (System.nanoTime() - passStart) / 1e6
    r
  }

  /** One pass; returns its wall seconds. */
  def pass(): Double = spans("curation.pass") {
    val t0 = System.nanoTime()
    passStart = t0
    op("lsh_cc") {
      val sigs = Dedup.minhashSignatures(docs)
      val cand = Dedup.lshCandidates(sigs).localCheckpoint(true)
      val kept = Dedup.jaccardVerify(docs, cand).localCheckpoint(true)
      val comps = Dedup.connectedComponentsStar(kept)
      val r = comps.agg(countDistinct(col("comp")), count(lit(1))).head()
      actual("lsh_components") = r.getLong(0)
      actual("lsh_component_members") = r.getLong(1)
      val nk = kept.count()
      candPerKept = if (nk > 0) cand.count().toDouble / nk else 0.0
    }
    op("ngram_jaccard") {
      actual("jaccard_pairs") = Dedup.ngramJaccardPairs(docs, threshold = 0.5).count()
    }
    op("semdedup") {
      actual("semdedup_kept") = Similarity.semDedup(vecs, k, 0, 0.8).count()
    }
    op("ivf_topk") {
      // queries: ids 0..k-1, one per cluster; top 3 (gen.IVF_K), 2 probes
      val top = Similarity.ivfTopK(vecs, vecs.where(col("vec_id") < k), 3, k, 2)
      val labels = vecs.select(col("vec_id"), col("label"))
      val r = top
        .join(labels.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "ql"), "query_id")
        .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .agg(count(lit(1)), sum(when(col("ql") =!= col("label"), 1).otherwise(0)))
        .head()
      actual("ivf_rows") = r.getLong(0)
      actual("ivf_wrong_cluster") = if (r.isNullAt(1)) 0L else r.getLong(1)
    }
    op("gopher") {
      actual("gopher_kept") = TextProfile.gopherFilter(docs).where(col("keep")).count()
    }
    op("hll") {
      val words = docs.select(explode(split(col("text"), " ")).as("w"))
      val est = Sketches.hllDistinct(words, Nil, col("w")).head()
        .getAs[Double]("est_distinct")
      actual("hll_est") = math.round(est)
    }
    op("kn_lm") {
      actual("kn_docs") = NgramLm.knScore(docs).count()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] curation pass $secs%.2f s")
    secs
  }
}
