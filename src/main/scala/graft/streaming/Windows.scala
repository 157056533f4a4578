package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time windowing for the DWS layer (SURVEY.md §2.6 W1-W7): tumbling
  * windows with bounded-out-of-orderness watermarks, window bounds emitted
  * as `stt`/`edt` strings exactly like the reference beans.
  *
  * Spark's streaming window aggregation is already incremental (partial
  * aggregation + state store, X6) — the reference's reduce+finisher
  * pattern (DwsTrafficVcChArIsNewPageViewWindow.java:118-144) needs no
  * custom code.
  */
object Windows {

  /** Tumbling event-time aggregation (W1/W2) with watermark (W3/W4) and
    * formatted window bounds (W6). Works on both streaming and batch input
    * (watermark is a no-op in batch). No keys ⇒ the reference's windowAll
    * (A3). */
  def tumblingAgg(
      df: DataFrame,
      tsCol: String,
      windowDur: String,
      watermarkDelay: String,
      keys: Seq[Column],
      aggs: Seq[Column]): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermarkDelay) else df
    wm.groupBy((window(col(tsCol), windowDur) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("stt", date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("edt", date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss"))
      .drop("window")
  }

  /** A1 — the keyword count window (10 s tumble, 2 s watermark), the shape
    * of DwsTrafficSourceKeywordPageViewWindow.java:145-154. */
  def keywordCount(hits: DataFrame): DataFrame =
    tumblingAgg(hits, "rt", "10 seconds", "2 seconds",
      Seq(col("word")), Seq(count(lit(1)).as("keyword_count")))

  /** HOPPING (sliding) event-time aggregation — completes the window
    * family (the reference uses only tumbling windows; sliding = tumbles
    * overlapping every `slideDur`). Each event lands in
    * windowDur/slideDur windows; the state-store aggregation stays
    * incremental, state size scales by the same factor. Works on batch
    * and streaming input like [[tumblingAgg]]. */
  def slidingAgg(
      df: DataFrame,
      tsCol: String,
      windowDur: String,
      slideDur: String,
      watermarkDelay: String,
      keys: Seq[Column],
      aggs: Seq[Column]): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermarkDelay) else df
    wm.groupBy(window(col(tsCol), windowDur, slideDur) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("stt", date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("edt", date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss"))
      .drop("window")
  }

  /** SESSION-window aggregation — a window type the reference never uses
    * (SURVEY §2.6: "no sliding or session windows") but every
    * sessionization workload needs: events of one key closer than
    * `gapDur` merge into one session [first_ts, last_ts + gap). Native
    * `session_window` — incremental state-store merging in streaming,
    * plain aggregation in batch; bounds emitted as stt/edt strings like
    * every DWS bean.
    *
    * Session-assignment semantics (mirrored by the DuckDB oracle's
    * gaps-and-islands form): a new session starts only when
    * `ts_next − ts_prev > gap` STRICTLY — Spark merges touching windows,
    * so an event at exactly `ts_prev + gap` still joins the session
    * (pinned by TextProfileSpec).
    *
    * Scale: one shuffle on the session keys; per-key sessions merge
    * locally in the state store (streaming) or in the sort-based session
    * assignment (batch) — no global sort, skew bounded by the hottest
    * key's event count. */
  def sessionAgg(
      df: DataFrame,
      tsCol: String,
      gapDur: String,
      watermarkDelay: String,
      keys: Seq[Column],
      aggs: Seq[Column]): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermarkDelay) else df
    wm.groupBy(session_window(col(tsCol), gapDur) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("stt", date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("edt", date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss"))
      .drop("session_window")
  }
}
