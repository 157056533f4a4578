package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Population-cap policy of the near-dup pair generators
  * ([[Dedup.lshCandidates]], [[Dedup.ngramJaccardPairs]],
  * [[Similarity.nearDupPairs]], [[Similarity.cellNearDupPairs]],
  * [[Similarity.semDedup]]). Every generator keys its pair space (an LSH
  * band bucket, a shingle, a hyperplane bucket, a k-means cell); a key
  * whose population exceeds the cap is "hot" and each generator treats
  * its hot keys its own way (dropped from the index, stop-listed with an
  * exact correction, or reduced to pivot edges).
  *
  *  - [[Cap.Off]]: no cap — the plain self-join, no stats pass at all.
  *  - [[Cap.Fixed]]: a constant population cap.
  *  - [[Cap.Derived]]: cap = max(floor, mult · lower-median population),
  *    derived from the measured key profile ([[Cap.derivedCap]]), so the
  *    chain stays a pure integer function of the data, oracle-replayable.
  */
sealed trait Cap {

  /** The smallest cap this policy can resolve to (unbounded when off). */
  def lowest: Long = this match {
    case Cap.Off               => Long.MaxValue
    case Cap.Fixed(max)        => max
    case Cap.Derived(floor, _) => floor
  }
}

object Cap {
  case object Off extends Cap

  /** A policy that builds a population profile; [[Off]] never does. */
  sealed trait Capped extends Cap
  final case class Fixed(max: Long) extends Capped
  final case class Derived(floor: Long, mult: Long) extends Capped

  /** The (key…, pop) population profile every cap decision reads. */
  private[operators] def popProfile(df: DataFrame, keys: String*): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("pop"))

  /** `profile` (key…, pop) with the resolved cap as a `cap` column: a
    * literal for [[Fixed]]; for [[Derived]] the profile is materialized
    * once (eager localCheckpoint, O(keys) rows — both the derivation and
    * the consumer's hot screen read it) and crossed with the one-row
    * [[derivedCap]]. */
  private[operators] def withCap(profile: DataFrame, cap: Capped): DataFrame = cap match {
    case Fixed(max) => profile.withColumn("cap", lit(max))
    case Derived(floor, mult) =>
      val p = profile.localCheckpoint(true)
      p.crossJoin(broadcast(derivedCap(p.select(col("pop")), floor, mult)))
  }

  /** The keys of `df` whose population is over the cap (pop > cap) —
    * tiny by construction (at most n/cap keys), so consumers broadcast it. */
  private[operators] def hotKeys(df: DataFrame, cap: Capped, keys: String*): DataFrame =
    withCap(popProfile(df, keys: _*), cap)
      .where(col("pop") > col("cap")).select(keys.map(col): _*)

  /** Profile-derived population cap — the cap stops being a magic
    * constant and becomes a function of the measured skew. Input is any
    * profile with a `pop` column; output is ONE row `(cap)` with
    * cap = max(floorCap, mult · lower-median population). The median is
    * ROBUST to exactly the outlier keys the cap exists to neutralize (a
    * mean would be dragged up by the tight-cluster buckets and never
    * trip), and the lower median (the element at 1-based rank
    * ⌈n/2⌉ = (n+1) div 2 under (pop asc) order) is a deterministic
    * integer both engines replay exactly — no interpolation, no
    * approx_percentile.
    *
    * Scale: the median is computed by CUMULATIVE COUNTING over DISTINCT
    * population values (groupBy pop → running count), never by globally
    * ranking the key rows — the single-partition window runs over
    * O(distinct pops) rows (bounded by the max population, in practice a
    * few hundred), while the keys themselves can be millions of buckets
    * at 100 TB. */
  def derivedCap(profile: DataFrame, floorCap: Long, mult: Long = 4L): DataFrame = {
    val byPop = profile.groupBy(col("pop"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("pop"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = profile.agg(count(lit(1)).as("n_keys"))
    byPop.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(total))
      .where(col("cum") >= expr("(n_keys + 1) div 2"))
      .agg(min(col("pop")).as("med"))
      .select(greatest(lit(floorCap), lit(mult) * col("med")).as("cap"))
  }
}
