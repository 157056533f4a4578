package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.reflect.runtime.universe

/** The reference's per-key stateful semantics (SURVEY.md §2.5 A4/A5/A6, §2.6
  * W8) re-expressed over a bounded event table. The streaming twins live in
  * [[graft.streaming]]; these batch forms define the exact semantics (and
  * are what the DuckDB oracle checks), because each of the reference's
  * keyed-state programs is a *function of the per-key event history* that a
  * window/group-by computes declaratively:
  *
  *  - A4 UV-dedup("first event per mid per day")       = min(ts) over (key, day)
  *  - A6 visitor-repair("is_new iff first-ever day")   = min(day) over key
  *  - W8 jump-detect("entry with no follow-up ≤ T")    = lead(ts) over key
  *
  * Scale: every Window here partitions by the entity key (user/mid) — the
  * natural high-cardinality partitioner, no global sort, no skew beyond the
  * per-user event count.
  */
object EventOps {

  /** A4 — daily unique-visitor dedup: first event per (user, day) survives.
    * Reference: app/dwd/DwdTrafficUniqueVisitorDetail.java:55-84
    * (ValueState lastDate + 1-day TTL ≡ group-by day). */
  def dedupDaily(events: DataFrame, keyCol: String = "user_id", tsCol: String = "ts"): DataFrame =
    events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("visit_date"))
      .agg(min(col(tsCol)).as("first_ts"))

  /** A5 — dual-flag UV: per day, distinct users seen on each of two pages
    * (home/good_detail in the reference → two event types here).
    * Reference: app/dws/DwsTrafficPageViewWindow.java:67-137. */
  def dualFlagUv(
      events: DataFrame,
      typeA: String, typeB: String,
      typeCol: String = "event_type",
      keyCol: String = "user_id",
      tsCol: String = "ts"): DataFrame =
    events
      .where(col(typeCol).isin(typeA, typeB))
      .groupBy(to_date(col(tsCol)).as("visit_date"))
      .agg(
        count_distinct(when(col(typeCol) === typeA, col(keyCol))).as("a_uv_ct"),
        count_distinct(when(col(typeCol) === typeB, col(keyCol))).as("b_uv_ct"))

  /** A6 — new/old-visitor flag repair: a visit is "new" iff its day is the
    * user's first-ever day. Reference: app/dwd/BaseLogApp.java:59-91 (keyed
    * ValueState firstVisitDate; demote is_new on revisit). */
  def visitorRepair(events: DataFrame, keyCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
    events
      .withColumn("first_date", min(to_date(col(tsCol))).over(w))
      .withColumn("is_new",
        when(to_date(col(tsCol)) === col("first_date"), lit(1)).otherwise(lit(0)))
  }

  /** W8 — jump(bounce)-detection: an ENTRY event (session-starting) that is
    * followed by another entry — or by silence — within `horizonSec` is a
    * bounce. Emits both the matched and the timed-out starts, exactly like
    * the reference CEP union (app/dwd/DwdTrafficUserJumpDetail.java:48-82:
    * Pattern(entry → entry).within(10s), match + timeout side-output).
    *
    * Batch form: lead(ts)/lead(isEntry) per key. Streaming twin:
    * [[graft.streaming.JumpDetect]] (state + event-time timer).
    */
  def jumpDetect(
      events: DataFrame,
      isEntry: Column,
      horizonSec: Long,
      keyCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    // event_id tiebreak keeps lead() deterministic if two events share a ts;
    // µs integer arithmetic (not second truncation) keeps the horizon exact.
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col("event_id"))
    val us = (c: Column) => unix_micros(c.cast("timestamp"))
    events
      .withColumn("is_entry", isEntry)
      .withColumn("next_ts", lead(col(tsCol), 1).over(w))
      .withColumn("next_entry", lead(col("is_entry"), 1).over(w))
      .where(col("is_entry") &&
        (col("next_ts").isNull ||                                   // timeout at end of stream
         us(col("next_ts")) - us(col(tsCol)) > horizonSec * 1000000L || // silence
         col("next_entry")))                                        // immediate re-entry
      .drop("is_entry", "next_ts", "next_entry")
  }

  /** One counted item for [[TopNAggregator]]. */
  case class Counted[T](ct: Long, item: T)

  /** Bounded per-window top-n: the aggregation buffer is a ≤n list sorted
    * by (ct desc, item asc) — the same total order as a
    * `row_number() OVER (PARTITION BY window ORDER BY ct DESC, item)` —
    * but it aggregates with map-side partial combine, so only n rows per
    * (partition, window) ever shuffle, and no task ever holds or sorts a
    * whole window's key set. Same shape as [[Similarity.TopKAggregator]].
    */
  class TopNAggregator[T](n: Int)(implicit ord: Ordering[T], enc: Encoder[Seq[Counted[T]]])
      extends Aggregator[Counted[T], Seq[Counted[T]], Seq[Counted[T]]] {
    private def better(a: Counted[T], b: Counted[T]): Boolean =
      if (a.ct != b.ct) a.ct > b.ct else ord.lt(a.item, b.item)
    private def ins(buf: Seq[Counted[T]], x: Counted[T]): Seq[Counted[T]] = {
      if (buf.size >= n && better(buf.last, x)) buf
      else {
        val i = buf.indexWhere(e => better(x, e))
        val merged = if (i < 0) buf :+ x else (buf.take(i) :+ x) ++ buf.drop(i)
        if (merged.size > n) merged.take(n) else merged
      }
    }
    override def zero: Seq[Counted[T]] = Seq.empty
    override def reduce(b: Seq[Counted[T]], a: Counted[T]): Seq[Counted[T]] = ins(b, a)
    override def merge(b1: Seq[Counted[T]], b2: Seq[Counted[T]]): Seq[Counted[T]] =
      b2.foldLeft(b1)(ins)
    override def finish(r: Seq[Counted[T]]): Seq[Counted[T]] = r
    override def bufferEncoder: Encoder[Seq[Counted[T]]] = enc
    override def outputEncoder: Encoder[Seq[Counted[T]]] = enc
  }

  /** The classic "TopN hot items" DWS pattern (a staple of the gmall
    * curriculum the reference belongs to, though this repo's reference
    * stops at plain window sums): per tumbling window, rank the keys by
    * event count and keep the top `n`, ties broken by key for
    * determinism.
    *
    * Scale: one count shuffle on (window, key) with map-side combine,
    * then a bounded ≤n heap per window ([[TopNAggregator]]) — NOT a
    * row_number window, which would put every distinct key of a time
    * window into ONE task and sort it (at 100 TB a hot hourly window has
    * millions of keys; one reducer doing a full sort is the bottleneck).
    * The heap aggregates with map-side combine, so each shuffle write is
    * ≤n rows per (partition, window).
    */
  def topNPerWindow(
      events: DataFrame,
      windowDur: String,
      keyCol: Column,
      n: Int,
      tsCol: String = "ts"): DataFrame = {
    val counted = events
      .groupBy(window(col(tsCol), windowDur), keyCol.as("item"))
      .agg(count(lit(1)).as("ct"))
      .withColumn("stt", date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"))
      .drop("window")
    topNOfCounts(counted, n)
  }

  /** Rank pre-counted (stt, item, ct) rows — the entry point when the
    * counting already happened elsewhere (e.g. a streaming window agg
    * whose finalized per-window counts land here for ranking). */
  def topNOfCounts(counted: DataFrame, n: Int): DataFrame = {
    // dispatch on the key dtype so `item` round-trips with its input type
    // (rank order differs between numeric and lexicographic ties)
    val itemType = counted.schema("item").dataType
    val ranked = itemType match {
      case ByteType | ShortType | IntegerType | LongType =>
        topNHeap[Long](counted.withColumn("item", col("item").cast("long")), n)
      case StringType => topNHeap[String](counted, n)
      case DoubleType | FloatType =>
        topNHeap[Double](counted.withColumn("item", col("item").cast("double")), n)
      case other =>
        throw new IllegalArgumentException(
          s"topNPerWindow key type $other not supported; cast the key to " +
            "a numeric or string column")
    }
    ranked.withColumn("item", col("item").cast(itemType))
  }

  private def topNHeap[T: Ordering: universe.TypeTag](counted: DataFrame, n: Int): DataFrame = {
    implicit val bufEnc: Encoder[Seq[Counted[T]]] = ExpressionEncoder[Seq[Counted[T]]]()
    val topn = udaf(new TopNAggregator[T](n), ExpressionEncoder[Counted[T]]())
    counted
      .groupBy(col("stt"))
      .agg(topn(col("ct"), col("item")).as("tk"))
      .select(col("stt"), posexplode(col("tk")))
      .select(col("stt"), col("col.item").as("item"), col("col.ct").as("ct"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Funnel (conversion) analysis — the classic warehouse sequence query
    * one layer above this reference's DWS windows: for ordered steps
    * s1..sn, a user converts to step i when their earliest step-i event
    * is STRICTLY after their step-(i−1) conversion time, and within
    * `horizonSec` of it when given. Emits (step_idx, step, n_users).
    *
    * Scale: one filtered min-aggregate + equi-join per step, all keyed
    * on the user column — no windows, no per-user sequence sort, state
    * one timestamp per (user, step). µs arithmetic keeps the horizon
    * exact (same rationale as [[jumpDetect]]).
    */
  def funnel(
      events: DataFrame,
      steps: Seq[String],
      horizonSec: Option[Long] = None,
      typeCol: String = "event_type",
      keyCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val us = (c: Column) => unix_micros(c.cast("timestamp"))
    val first = events.where(col(typeCol) === steps.head)
      .groupBy(col(keyCol)).agg(min(col(tsCol)).as("_t"))
    val converted = steps.tail.scanLeft(first) { (prev, step) =>
      val within = horizonSec match {
        case Some(h) => us(col(tsCol)) - us(col("_prev")) <= h * 1000000L
        case None    => lit(true)
      }
      events.where(col(typeCol) === step)
        .join(prev.withColumnRenamed("_t", "_prev"), Seq(keyCol))
        .where(us(col(tsCol)) > us(col("_prev")) && within)
        .groupBy(col(keyCol)).agg(min(col(tsCol)).as("_t"))
    }
    converted.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("long").as("step_idx"),
          lit(steps(i)).as("step"), col("n_users"))
    }.reduce(_ unionByName _)
  }

  /** Gap-based sessionization: a new session starts when the key's
    * inter-event gap exceeds `gapMinutes`. The batch twin of the
    * reference's session semantics (W9 session-start flag,
    * app/dwd/DwdTrafficBaseLogSplit.java's is_new repair keyed on visit
    * gaps), generalized to the classic warehouse operator: per-session
    * start/end/count/sum.
    *
    * Shape: lag + running-sum over a key-partitioned window assigns the
    * session ordinal, then a group-by on (key, session_no) aggregates.
    *
    * Scale: ONE shuffle on the entity key. The window sort is per-key
    * (no global sort), and the follow-up groupBy keys are a superset of
    * the window's partition key, so EnsureRequirements reuses the same
    * exchange (HashPartitioning(key) satisfies the clustered
    * distribution of (key, session_no)) — verified by EventOpsSpec's
    * single-Exchange plan check. Skew is bounded by the max per-key
    * event count, same envelope as every other per-entity window here.
    *
    * `tieCols` break ordering ties for same-timestamp events so the
    * session ordinal is deterministic (the oracle orders identically). */
  def sessionize(
      events: DataFrame,
      gapMinutes: Int,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      tieCols: Seq[String] = Seq("event_id"),
      valueCol: String = "value"): DataFrame = {
    val order = (col(tsCol) +: tieCols.map(col)): Seq[Column]
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("_prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("_is_new",
        when(col("_prev_ts").isNull ||
          col(tsCol) > col("_prev_ts") + expr(s"INTERVAL $gapMinutes MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("_is_new")).over(running))
      .groupBy(col(keyCol), col("session_no"))
      .agg(
        date_format(min(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** Cohort retention: users bucketed by first-activity day, activity
    * counted at each (cohort_day, day_offset) cell — the classic
    * retention triangle over the event log.
    *
    * Scale: ONE full-size exchange, MAP-SIDE COMBINED. The (key, day)
    * dedup runs first so its shuffle carries partially-deduplicated
    * pairs (~raw/dup-factor bytes — repartitioning the raw events before
    * the distinct would ship every event uncombined); the deduped pairs
    * are then re-hashed on the entity key alone, and that small exchange
    * carries the per-key min-day cohort aggregate AND both sides of the
    * key equi-join (the cohorts side comes back as an AQE ReusedExchange
    * — EventOpsSpec pins the 3-exchange plan with reuse). The final
    * groupBy on (cohort_day, day_offset) shuffles the same deduped
    * grain. Every post-dedup exchange is bounded by users × days, not by
    * raw events. countDistinct is exact (the cell grain is small);
    * partial aggregation handles the fan-in. */
  def cohortRetention(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val active = events
      .select(col(keyCol), to_date(col(tsCol)).as("_day"))
      .distinct()
      .repartition(col(keyCol))
    val cohorts = active.groupBy(col(keyCol))
      .agg(min(col("_day")).as("_cohort_day"))
    // merge-join pinned: cohorts is one row per user — the same
    // cardinality class as the fact's key space, so broadcasting it is
    // the wrong plan at scale AND would rebuild the repartitioned
    // subtree under the broadcast instead of reusing the exchange both
    // sides already share
    active.join(cohorts.hint("merge"), keyCol)
      .groupBy(
        date_format(col("_cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("_day"), col("_cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col(keyCol)).as("n_users"))
  }
}
