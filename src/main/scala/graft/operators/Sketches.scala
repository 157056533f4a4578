package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Mergeable one-pass sketches — the approximate siblings of the exact
  * aggregations (q74 exact percentiles, `count_distinct`): at 100 TB an
  * exact distinct count shuffles every key and an exact percentile sorts
  * every group, while a sketch shuffles a CONSTANT number of bytes per
  * group with full map-side combine. Both sketches here are built from
  * the same engine-portable md5 arithmetic as the MinHash stack
  * ([[Dedup.md5Long]]), so — unlike DataSketches-backed
  * `hll_sketch_agg` — every register and every estimate is replicated
  * bit-exactly by the DuckDB oracle.
  *
  * (The reference has no sketch surface at all; these extend the engine
  * for corpus-scale statistics, per the training-data-pipeline brief.)
  */
object Sketches {

  // ------------------------------------------------------------------ HLL --

  /** HLL precision: p index bits → m = 2^p registers. m = 64 keeps the
    * whole sketch in one cache line yet bounds the standard error at
    * 1.04/√64 ≈ 13 % — the point of the gate is bit-exact register
    * replication, not tight error; production raises p. */
  val HllP: Int = 6
  val HllM: Int = 1 << HllP
  /** Width of the rank field below the p index bits (md5Long is 60-bit). */
  private val HllLow: Int = 60 - HllP
  /** Max possible rank value (all-zero low bits). */
  private val HllRhoMax: Int = HllLow + 1
  /** α_m·m²·2^rhoMax — the whole numerator of the raw estimator as ONE
    * double literal, embedded verbatim in the oracle SQL so both engines
    * perform the identical single division. */
  val HllEstNumerator: Double =
    0.7213 / (1.0 + 1.079 / HllM) * HllM * HllM * math.pow(2.0, HllRhoMax)

  /** (bucket, rho) for one hashed value. */
  case class HllObs(bucket: Int, rho: Int)

  /** The mergeable register vector: reduce = point max, merge =
    * element-wise max — associative and commutative, so the result is
    * independent of partitioning and arrival order (what makes an HLL a
    * SKETCH rather than a fold). Map-side partial aggregation ships one
    * m-int array per (partition, group) instead of the raw keys. */
  class HllRegistersAgg extends Aggregator[HllObs, Array[Int], Array[Int]] {
    override def zero: Array[Int] = new Array[Int](HllM)
    override def reduce(b: Array[Int], a: HllObs): Array[Int] = {
      if (a.rho > b(a.bucket)) b(a.bucket) = a.rho
      b
    }
    override def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
      var i = 0
      while (i < HllM) { if (b2(i) > b1(i)) b1(i) = b2(i); i += 1 }
      b1
    }
    override def finish(r: Array[Int]): Array[Int] = r
    override def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
    override def outputEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
  }

  /** Hash a value into its (bucket, rho) observation: top p bits of the
    * 60-bit md5 prefix index the register, the rank is one plus the count
    * of leading zeros in the remaining bits. `bin()` (no leading zeros,
    * identical in DuckDB) turns "leading zeros" into pure integer length
    * arithmetic — no float log anywhere. */
  def hllObs(value: Column): (Column, Column) = {
    val h = Dedup.md5Long(value)
    val low = h.bitwiseAND(lit((1L << HllLow) - 1))
    val bucket = shiftright(h, HllLow).cast("int")
    val rho = when(low === 0L, lit(HllRhoMax))
      .otherwise(lit(HllRhoMax) - length(bin(low)))
      .cast("int")
    (bucket, rho)
  }

  /** Distinct-count sketch per group: one shuffle of 64-int registers
    * with map-side combine (vs `count_distinct`'s shuffle of every
    * distinct key). Emits the register digests (`n_buckets_hit`,
    * `reg_sum` — integer-exact, the real gate) plus the standard HLL
    * estimate with the small-range linear-counting correction.
    */
  def hllDistinct(df: DataFrame, groupCols: Seq[Column], value: Column): DataFrame =
    hllStats(hllSketch(df, groupCols, value), col("regs"))

  /** Build the raw register vectors (`regs` array<int> per group) — the
    * mergeable sketch itself. Sketches from disjoint slices (partitions,
    * days, tables) union via element-wise max: see [[hllMerge]]. */
  def hllSketch(df: DataFrame, groupCols: Seq[Column], value: Column): DataFrame = {
    val (bucket, rho) = hllObs(value)
    val regsAgg = udaf(new HllRegistersAgg, ExpressionEncoder[HllObs]())
    df.groupBy(groupCols: _*)
      .agg(regsAgg(bucket, rho).as("regs"))
  }

  /** Union two register vectors — the sketch merge (element-wise max). */
  def hllMerge(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => greatest(x, y))

  /** Register vector → (n_buckets_hit, reg_sum, est_distinct) columns.
    * The harmonic-mean denominator Σ 2^−M_j is computed EXACTLY as the
    * integer Σ 2^(rhoMax−M_j) (≤ m·2^rhoMax = 2^61, fits a long), so the
    * only float ops are the final division and the correction branch —
    * both mirrored verbatim in the oracle. */
  def hllStats(regs: DataFrame, regsCol: Column): DataFrame = {
    val s = aggregate(
      transform(regsCol, r => call_function("shiftleft", lit(1L), lit(HllRhoMax) - r)),
      lit(0L), (acc, x) => acc + x)
    val hit = size(filter(regsCol, r => r > 0)).cast("long")
    val regSum = aggregate(regsCol, lit(0L), (acc, x) => acc + x.cast("long"))
    val raw = lit(HllEstNumerator) / s.cast("double")
    val zeros = lit(HllM.toLong) - hit
    val est = when(raw <= lit(2.5 * HllM) && zeros > 0L,
        lit(HllM.toDouble) * log(lit(HllM.toDouble) / zeros.cast("double")))
      .otherwise(raw)
    regs
      .withColumn("n_buckets_hit", hit)
      .withColumn("reg_sum", regSum)
      .withColumn("est_distinct", round(est, 6))
      .drop("regs")
  }

  // ------------------------------------------- fixed-width histogram CDF --

  /** Approximate per-group quantiles from ONE fixed-width histogram pass:
    * `percentile` (q74) is exact but sort-based — at 100 TB every group's
    * values shuffle and sort; a histogram shuffles `bins` counts per group
    * (mergeable: counts add), then interpolates inside the selected bin.
    * Bin edges come from the global [min, max] (a cheap separate scalar
    * pass, broadcast as literals); every float op — bin index, rank
    * position, interpolation — is replicated verbatim in the oracle, so
    * even the approximation is bit-exact across engines.
    *
    * Output: one row per group with a rounded estimate column per
    * requested quantile (`p50` for 0.5, ... — q74's shape, so exact and
    * sketch are side-by-side comparable).
    */
  def histogramQuantiles(
      df: DataFrame,
      groupCol: Column,
      groupName: String,
      value: Column,
      bins: Int,
      ps: Seq[Double]): DataFrame = {
    val Row2 = df.agg(min(value).cast("double"), max(value).cast("double")).head()
    require(!Row2.isNullAt(0), "histogramQuantiles requires a non-empty input")
    val (lo, hi) = (Row2.getDouble(0), Row2.getDouble(1))
    if (hi == lo) {
      // degenerate range: every value equals lo, so every quantile is lo —
      // the general path would divide by (hi - lo) and emit NaN bins
      val estCols = ps.map { p =>
        val name = "p" + BigDecimal(p * 100).underlying.stripTrailingZeros.toPlainString
        round(max(lit(lo)), 6).as(name)
      }
      return df.groupBy(groupCol.as(groupName)).agg(estCols.head, estCols.tail: _*)
    }

    val counted = df
      .groupBy(groupCol.as(groupName), binOf(value, lo, hi, bins).as("bin"))
      .agg(count(lit(1)).as("c"))
    quantilesFromBinCounts(counted, groupName, lo, hi, bins, ps)
  }

  /** The bin index of a value for the global [lo, hi] edges — shared by
    * the one-pass batch path and the streaming register twin. Clamped on
    * BOTH ends: with caller-fixed bounds (the online drift monitor) a
    * later batch can drift below `lo` just as easily as above `hi`; an
    * unclamped floor would emit negative bin ids that never join the
    * 0..bins-1 grid, silently dropping that mass from the PSI while still
    * inflating the totals. Under-lo mass lands in bin 0, over-hi in the
    * top bin, so per-bin shares always sum to 1. */
  def binOf(value: Column, lo: Double, hi: Double, bins: Int): Column =
    greatest(
      least(
        floor((value.cast("double") - lit(lo)) / (lit(hi) - lit(lo)) * lit(bins.toDouble)),
        lit((bins - 1).toLong)),
      lit(0L)).cast("long")

  /** Interpolated quantiles from per-(group, bin) counts — the digest
    * half of [[histogramQuantiles]], usable on counts accumulated
    * anywhere (batch agg, streaming state registers): identical float
    * ops, so the same oracle applies. */
  def quantilesFromBinCounts(
      counted: DataFrame,
      groupName: String,
      lo: Double,
      hi: Double,
      bins: Int,
      ps: Seq[Double]): DataFrame = {
    val grp = Window.partitionBy(col(groupName))
    val cum = counted
      .withColumn("cum", sum(col("c")).over(grp.orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(grp))

    val pDf = counted.sparkSession.createDataFrame(ps.map(Tuple1(_))).toDF("p")
    val pos = col("p") * col("n").cast("double")
    val before = (col("cum") - col("c")).cast("double")
    val est = lit(lo) + (lit(hi) - lit(lo)) / lit(bins.toDouble) *
      (col("bin").cast("double") + (pos - before) / col("c").cast("double"))
    val picked = cum
      .crossJoin(broadcast(pDf))
      .where(col("cum").cast("double") >= pos && before < pos)
      .select(col(groupName), col("p"), est.as("est"))

    val estCols = ps.map { p =>
      val name = "p" + BigDecimal(p * 100).underlying.stripTrailingZeros.toPlainString
      round(max(when(col("p") === p, col("est"))), 6).as(name)
    }
    picked.groupBy(col(groupName)).agg(estCols.head, estCols.tail: _*)
  }

  // ------------------------------------------------------- drift monitor --

  /** Distribution drift between two slices of a dataset — the population
    * stability index (PSI) per group, the standard production check that
    * yesterday's data still looks like today's (PSI ≲ 0.1 stable, ≳ 0.25
    * shifted). Values are histogrammed into `bins` fixed buckets over the
    * GLOBAL [min, max] (one 2-value aggregate), per-bin shares are add-1
    * smoothed over the full bin grid (empty bins included — that's what
    * the grid join is for; unsmoothed PSI is undefined on an empty bin),
    * and `PSI = Σ (p_i − q_i)·ln(p_i/q_i)` with the per-term 6 dp
    * rounding + DECIMAL summation trick, so the result is
    * partition-order-independent and oracle-exact.
    *
    * `bounds` = Some((lo, hi)) fixes the bin grid instead — required
    * whenever PSIs must be comparable across invocations (the online
    * monitor computes one PSI per incoming batch vs a frozen reference;
    * data-derived bounds would move the grid under the comparison).
    *
    * Scale: one scan to bin (the slice predicate rides the same scan),
    * counts at (group, slice, bin) grain with map-side combine, and the
    * grid/total joins touch only O(groups·bins) rows — the corpus is
    * read once (plus the min/max aggregate when `bounds` is None). */
  def driftPsi(
      df: DataFrame,
      groupCol: Column,
      groupName: String,
      valueCol: Column,
      sliceA: Column,
      bins: Int = 32,
      bounds: Option[(Double, Double)] = None): DataFrame = {
    require(bins >= 2, "need at least two bins")
    val (lo, hi) = bounds match {
      case Some(b) => b
      case None =>
        val mm = df.agg(min(valueCol).cast("double"), max(valueCol).cast("double")).head()
        if (mm.isNullAt(0)) {
          // empty input / all-null value column: a monitoring operator must
          // degrade to "nothing to report", not NPE — return the empty audit
          // frame with the output schema intact
          val spark = df.sparkSession
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(
              df.select(groupCol.as(groupName)).schema.fields ++ Seq(
                org.apache.spark.sql.types.StructField("n_a", org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("n_b", org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("psi", org.apache.spark.sql.types.DoubleType))))
        }
        // constant-valued column: widen hi by an epsilon so lo < hi holds and
        // every value lands in bin 0 (PSI 0 between identical constants)
        val (l, h) = (mm.getDouble(0), mm.getDouble(1))
        (l, if (h > l) h else l + math.max(math.abs(l) * 1e-9, 1e-9))
    }
    require(lo < hi, "need lo < hi")
    val binned = df.select(groupCol.as(groupName), sliceA.as("_a"),
      binOf(valueCol, lo, hi, bins).as("bin"))
    // materialize the O(groups·bins·2) cell counts: four consumers read
    // them (both sides, both totals, the grid) — without this each branch
    // re-runs the corpus scan, turning "one pass" into five at 100 TB
    val cnt = binned.groupBy(col(groupName), col("_a"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tot = cnt.groupBy(col(groupName), col("_a")).agg(sum(col("c")).as("n"))
    val grid = cnt.select(col(groupName)).distinct()
      .select(col(groupName),
        explode(sequence(lit(0L), lit((bins - 1).toLong))).as("bin"))
    def side(flag: Boolean, cn: String) = cnt.where(col("_a") === flag)
      .select(col(groupName), col("bin"), col("c").as(cn))
    def tside(flag: Boolean, nn: String) = tot.where(col("_a") === flag)
      .select(col(groupName), col("n").as(nn))
    val j = grid
      .join(side(true, "ca"), Seq(groupName, "bin"), "left")
      .join(side(false, "cb"), Seq(groupName, "bin"), "left")
      .join(tside(true, "na"), Seq(groupName), "left")
      .join(tside(false, "nb"), Seq(groupName), "left")
      .na.fill(0L, Seq("ca", "cb", "na", "nb"))
    val pA = (col("ca") + 1L).cast("double") / (col("na") + bins).cast("double")
    val pB = (col("cb") + 1L).cast("double") / (col("nb") + bins).cast("double")
    val term = round((pA - pB) * log(pA / pB), 6).cast("decimal(28,6)")
    j.select(col(groupName), col("na"), col("nb"), term.as("term"))
      .groupBy(col(groupName))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        round(sum(col("term")).cast("double"), 6).as("psi"))
  }

  // ------------------------------------------------------------ count-min --

  /** Count-min row hash: item → bucket in hash row `j`, built from the
    * engine-portable md5-long (row index salted into the digest input so
    * the d rows are independent). MUST mirror the oracle's hexLong form. */
  private def cmsBucket(j: Int, key: Column, width: Int): Column =
    pmod(Dedup.md5Long(concat_ws(":", lit(j.toString), key)), lit(width.toLong))

  /** Count-min sketch TABLE: `depth × width` counters over one pass of
    * the items — the constant-memory frequency summary (Cormode &
    * Muthukrishnan 2005) a 100 TB stream can afford where an exact
    * per-key count can't. One row per touched (row, bucket) cell; cells
    * are plain sums, so sketches of partitions/batches MERGE by adding
    * cells — the property that makes this a streaming/distributed sketch.
    *
    * Scale: the only shuffle is the (depth·width)-bounded cell groupBy,
    * map-side combined — output size is O(d·w) regardless of input rows. */
  def cmsTable(
      items: DataFrame,
      keyCol: Column,
      depth: Int = 4,
      width: Int = 256): DataFrame = {
    require(depth >= 1 && width >= 2, "need depth >= 1, width >= 2")
    // all d row-hashes in ONE pass: posexplode of the per-row hash array
    // (a d-way union would scan the corpus d times)
    val rows = items.select(posexplode(
      array((0 until depth).map(j => cmsBucket(j, keyCol, width)): _*)).as(Seq("j", "b")))
    rows.groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))
  }

  /** Count-min point estimate for each queried key: min over the d row
    * counters the key hashes to. Never underestimates (every counter the
    * key touches holds its true count plus collisions); the gate emits
    * the exact count next to it so `est ≥ exact` is pinned, not assumed.
    *
    * Scale: queries × depth (tiny) joined against the O(d·w) sketch —
    * broadcast both ways at any corpus size; the corpus itself is only
    * touched by the one [[cmsTable]] pass. */
  def cmsEstimate(
      sketch: DataFrame,
      queries: DataFrame,
      keyCol: Column,
      depth: Int = 4,
      width: Int = 256): DataFrame = {
    val probes = (0 until depth).map { j =>
      queries.select(keyCol.as("key"), lit(j).as("j"),
        cmsBucket(j, keyCol, width).as("b"))
    }.reduce(_ unionByName _)
    probes.join(sketch, Seq("j", "b"))
      .groupBy(col("key"))
      .agg(min(col("c")).as("est"))
  }
}
