package graft.streaming

import java.sql.Timestamp
import java.time.Duration
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming twins of the reference's keyed-state programs (SURVEY.md §2.5
  * A4/A5/A6, §2.6 W8) — the Spark-native replacement for Flink's
  * RichMapFunction + ValueState. The daily dedup family (A4/A5) and the
  * funnel run on Spark 4's `transformWithState`, whose state carries a
  * declared TTL like the reference's; the operators with no TTL'd twin
  * (`visitorRepair`, `firstPerKey`, `firstPerKeyRetention`, `jumpDetect`)
  * stay on `flatMapGroupsWithState`. The batch forms in
  * [[graft.operators.EventOps]] define the oracle semantics; these
  * produce the same answers incrementally on unbounded input.
  *
  * Scale: state is keyed by the entity id (mid/user) — Spark hash-partitions
  * the state store by key across executors, so state size is bounded by
  * #distinct-keys × the retention window, not by event volume. The
  * reference's 1-day state TTL (app/dwd/DwdTrafficUniqueVisitorDetail
  * .java:62-65) is the `ttl` argument of the transformWithState forms.
  */
object StatefulOps {

  /** Event row shape shared by the streaming ops (mirrors the driver's
    * events table; `mid`-style key = user_id). */
  case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Event time as MICROSECONDS since epoch. The events table is µs-precision
    * and the batch forms + DuckDB oracles compare at µs (epoch_us); ordering
    * or gap arithmetic on `Timestamp.getTime` (ms) would let two events in
    * the same millisecond sort by id instead of true time, and a 30.0004 s
    * gap compare as exactly 30 000 ms. */
  private[streaming] def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Day bucket of an event, in an EXPLICIT zone (UTC — the session zone
    * every entry point pins). `Timestamp.toLocalDateTime` would use the
    * JVM default zone: on a non-UTC host the processors would bucket days
    * differently than the `to_date` projections and DuckDB oracles they
    * are gated against (the exact drift [[graft.core.DateUtil]] exists to
    * prevent). */
  private[streaming] def dayOf(ts: Timestamp): String =
    ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** A4 — the first event per (key, day), through Spark 4's
    * `transformWithState`. Reference: app/dwd/DwdTrafficUniqueVisitorDetail
    * .java:55-84 (ValueState lastVisitDate with a DECLARED 1-day TTL,
    * :62-65, X4). Emits `(event, isNew)`: isNew = 1 when the key had no
    * day in state yet — the first-ever flag of [[dedupDailyFlags]],
    * in arrival order.
    *
    * State = the SET of days seen, not the last day: with last-day state
    * an out-of-order event from a new-but-earlier day would be swallowed,
    * while the reference emits on any `day != lastVisitDate` and the batch
    * oracle keeps one row per (key, day). The list carries the same TTL,
    * so in production old days age out; size ≤ #days in the retention
    * window per key. Requires the RocksDB state store provider, which
    * [[StreamHarness]] and [[graft.apps.GmallApp]] both pin. */
  class DedupDailyProcessor[K](ttl: TTLConfig)
      extends StatefulProcessor[K, Event, (Event, Int)] {
    @transient private var seenDays: ListState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seenDays = getHandle.getListState[String]("seenDays", Encoders.STRING, ttl)

    override def handleInputRows(
        key: K, rows: Iterator[Event], timerValues: TimerValues): Iterator[(Event, Int)] = {
      // process in event-time order (µs) within the batch
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      var seen = seenDays.get().toSet
      val out = sorted.flatMap { e =>
        val day = dayOf(e.ts)
        if (seen.contains(day)) None
        else {
          val isNew = if (seen.isEmpty) 1 else 0
          seen += day
          seenDays.appendValue(day)
          Some((e, isNew))
        }
      }
      out.iterator
    }
  }

  /** A TTL clock needs TimeMode.ProcessingTime, whose periodic timer
    * batches never let `processAllAvailable` settle — so production
    * passes `ttl = Some(Duration.ofDays(1))` for the reference's exact X4
    * retention, and bounded gates and tests run with no TTL and
    * TimeMode.None. */
  private def ttlMode(ttl: Option[Duration]): (TTLConfig, TimeMode) = ttl match {
    case Some(d) => (TTLConfig(d), TimeMode.ProcessingTime())
    case None    => (TTLConfig.NONE, TimeMode.None())
  }

  private def dailyFirsts[K: Encoder](events: Dataset[Event], key: Event => K,
      ttl: Option[Duration]): Dataset[(Event, Int)] = {
    import events.sparkSession.implicits._
    val (ttlConf, timeMode) = ttlMode(ttl)
    events.groupByKey(key)
      .transformWithState(new DedupDailyProcessor[K](ttlConf), timeMode, OutputMode.Append())
  }

  /** A4 — streaming daily UV dedup: the first event per (user, day)
    * passes ([[DedupDailyProcessor]]). */
  def dedupDaily(events: Dataset[Event], ttl: Option[Duration] = None): Dataset[Event] = {
    import events.sparkSession.implicits._
    dailyFirsts(events, _.user_id, ttl).map(_._1)
  }

  /** A4+A5 combined — first-of-day dedup that ALSO flags the user's
    * first-EVER event (the "order window" per-user state pair of the gmall
    * curriculum this reference belongs to — its own app/dws/ stops at the
    * traffic windows: orderUniqueUser from day change, orderNewUser from
    * an empty lastOrderDt). Emits (event, isNew 0/1) at each (user, day)
    * first; isNew=1 on the first emitted day (arrival order — feed
    * day-ordered input, the reference's operating assumption). */
  def dedupDailyFlags(events: Dataset[Event]): Dataset[(Event, Int)] = {
    import events.sparkSession.implicits._
    dailyFirsts(events, _.user_id, None)
  }

  /** A5 — streaming dual-flag UV twin of
    * [[graft.operators.EventOps.dualFlagUv]]: the reference's
    * two-ValueState-per-key pattern (app/dws/DwsTrafficPageViewWindow.java
    * :67-115) is the daily dedup keyed by (user, event type) over the
    * type-A and type-B rows — an event is only ever one type. Emits one
    * (visit_date, a_flag, b_flag) 0/1 row at each user's first
    * type-A/type-B event of a day; summing flags per day downstream equals
    * the batch count-distinct (the q11 oracle). */
  def dualFlagUv(
      events: Dataset[Event], typeA: String, typeB: String,
      ttl: Option[Duration] = None): Dataset[(String, Long, Long)] = {
    import events.sparkSession.implicits._
    dailyFirsts(events.filter(e => e.event_type == typeA || e.event_type == typeB),
        e => (e.user_id, e.event_type), ttl)
      .map { case (e, _) =>
        val a = if (e.event_type == typeA) 1L else 0L
        (dayOf(e.ts), a, 1L - a)
      }
  }

  /** A6 — streaming visitor-flag repair: is_new=1 only on the user's
    * first-ever day; revisits on later days are demoted.
    * Reference: app/dwd/BaseLogApp.java:59-91. Emits (event, fixedIsNew). */
  def visitorRepair(events: Dataset[Event]): Dataset[(Event, Int)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[Event], state: GroupState[String]) => {
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var first = state.getOption.getOrElse("")
          val out = sorted.map { e =>
            val day = dayOf(e.ts)
            if (first == "") { first = day; (e, 1) }
            else (e, if (day == first) 1 else 0)
          }
          if (first.nonEmpty) state.update(first)
          out.iterator
        })
  }

  /** Exact dedup ON INGEST — the streaming twin of
    * [[graft.operators.Dedup.exact]]: one (key, id) survivor per distinct
    * key across all micro-batches, the id being the smallest seen in the
    * key's FIRST batch (feed batches id-ascending and that is the global
    * min — how the q103 gate stays oracle-deterministic). State is one
    * boolean per distinct key: at 100 TB that is the irreducible cost of
    * exact ingest dedup — production bounds it by passing `ttl` (the
    * stream's retention window): a key unseen for `ttl` is dropped from
    * state at the next fired batch and its next occurrence RE-ADMITS —
    * dedup-within-retention. The window slides from the key's most recent
    * sighting (a still-arriving duplicate stays suppressed), matching the
    * reference's keyed-state TTL refresh (X4,
    * app/dwd/DwdTrafficUniqueVisitorDetail.java:62-65
    * OnCreateAndWrite+refresh semantics). Approximate suppression can
    * instead swap in the Bloom screen
    * ([[graft.operators.Dedup.incrementalDedup]]).
    *
    * The bound rides a processing-time GroupState timeout, NOT a
    * transformWithState TTLConfig: a TTL clock forces
    * TimeMode.ProcessingTime, whose periodic maintenance batches never
    * quiesce — `processAllAvailable` AND Trigger.AvailableNow both hang
    * (measured: 3 000+ empty micro-batches in 500 s) — while a GroupState
    * timeout fires lazily at whatever batch next runs, so bounded
    * gates/tests settle. q103/q108 run `ttl = None` (same contract as
    * before). */
  def firstPerKey(
      rows: Dataset[(String, Long)],
      ttl: Option[Duration] = None): Dataset[(String, Long)] = {
    import rows.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (key: String, it: Iterator[(String, Long)], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            // retention lapsed with no new sighting: forget the key
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            // a GroupState timeout cancels on every invocation — re-arm, so
            // retention slides from the latest sighting
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            Iterator.empty
          } else {
            state.update(true)
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            Iterator.single((key, it.map(_._2).min))
          })
  }

  /** Retention-window (TTL-ACTIVE) ingest dedup, in EVENT time — the
    * production form of [[firstPerKey]]'s retention contract, made
    * deterministic so it can carry an oracle gate (q125): a sighting of a
    * key is ADMITTED iff it is the key's first ever, or the key's previous
    * sighting is more than `ttl` older IN EVENT TIME; every sighting —
    * admitted or suppressed — refreshes the window (the reference's
    * OnCreateAndWrite + refresh, app/dwd/DwdTrafficUniqueVisitorDetail
    * .java:62-65: retention slides from the most recent sighting, so a
    * still-arriving duplicate stays suppressed indefinitely).
    *
    * Defining the window in event time instead of a wall-clock TTL is the
    * design choice that makes this gateable: the output is a pure function
    * of the data (`LAG(ts) OVER (PARTITION BY key ORDER BY ts)` — the
    * DuckDB oracle runs exactly that), identical on live run and replay,
    * independent of batch boundaries and host speed. The event-time TIMER
    * is then pure state GC: a key silent past `ttl` (watermark passed
    * lastSeen+ttl with no new data) has its one-long state dropped —
    * output-invariant by construction, because the gap test alone decides
    * re-admission; the timer only bounds the store to the keys active
    * within the retention window (the 100 TB point: state is
    * O(active keys), not O(all keys ever)).
    *
    * Feed contract: batches must be event-time ordered ACROSS batches
    * (ts-range chunks — the replay/Kafka-log shape); within a batch any
    * order is fine (sorted here). The contract is ENFORCED, not assumed:
    * the 0-second watermark makes the engine's late-row filter drop any
    * cross-batch straggler (ts at or below the previous batch's max)
    * before it reaches the operator, so state can never rewind. Rows
    * carry (key, id, ts); ties on ts break by id, matching the oracle's
    * ORDER BY ts, id. */
  def firstPerKeyRetention(
      rows: Dataset[(String, Long, Timestamp)],
      ttl: Duration): Dataset[(String, Long)] = {
    import rows.sparkSession.implicits._
    val ttlUs = ttl.toMillis * 1000L
    rows.toDF("key", "id", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(String, Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, it: Iterator[(String, Long, Timestamp)],
         state: GroupState[Long] /* lastSeen µs */) =>
          if (state.hasTimedOut) {
            state.remove() // GC only — re-admission is decided by the gap test
            Iterator.empty
          } else {
            val sorted = it.map { case (_, id, t) => (micros(t), id) }.toArray.sortInPlace()
            var last = if (state.exists) state.get else Long.MinValue
            val out = Seq.newBuilder[(String, Long)]
            sorted.foreach { case (tsUs, id) =>
              if (last == Long.MinValue || tsUs - last > ttlUs) out += ((key, id))
              last = tsUs // refresh from EVERY sighting, admitted or not
            }
            state.update(last)
            // lastSeen is in the current batch's ts-range, which is strictly
            // above the watermark (= previous batch's max), so this is legal
            state.setTimeoutTimestamp(Math.floorDiv(last, 1000L) + ttl.toMillis)
            out.result().iterator
          })
  }

  /** Per-user funnel state: `ver` makes snapshots totally ordered per key
    * (latest wins downstream); `perStep(i)` is the pruned, sorted candidate
    * µs-timestamp list for step i (step 0 stores only its min). */
  case class FunnelState(ver: Long, perStep: Seq[Seq[Long]])

  /** Streaming funnel twin of [[graft.operators.EventOps.funnel]]: per
    * user, recompute the ordered min-time conversion chain on every
    * micro-batch and emit a (user, ver, max_step) snapshot — downstream
    * takes the latest snapshot per user and counts users with
    * max_step ≥ i, which equals the batch per-step user counts.
    *
    * Out-of-order correctness is the hard part: a late, EARLIER step-1
    * event moves t₁ down, which can both admit previously-unqualified
    * step-2 events and evict a former t₂ that now violates the horizon —
    * the chain is not monotone under disorder. So step i ≥ 2 keeps a
    * candidate SET, pruned by the one bound that is monotone: tᵢ₋₁ only
    * ever decreases, hence the horizon ceiling tᵢ₋₁+h only tightens, and
    * a candidate above it is dead forever. Step 0 needs only its min.
    * State is NOT one scalar per step (that shape silently drops late
    * events); in production the candidate lists are additionally bounded
    * by the stream's retention TTL, exactly like the reference's keyed
    * state (X4).
    */
  class FunnelProcessor(nSteps: Int, horizonUs: Long, ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, (Long, Int, Long), (Long, Long, Int)] {
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState](
        "funnel", Encoders.product[FunnelState], ttl)

    private def ceil(prev: Long): Long =
      if (horizonUs > Long.MaxValue - prev) Long.MaxValue else prev + horizonUs

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Int, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Int)] = {
      val cur =
        if (st.exists()) st.get()
        else FunnelState(0L, Seq.fill(nSteps)(Seq.empty[Long]))
      val incoming = rows.toSeq.groupBy(_._2)
      val merged = cur.perStep.zipWithIndex.map { case (have, i) =>
        incoming.get(i) match {
          case Some(evs) => (have ++ evs.map(_._3)).distinct.sorted
          case None      => have
        }
      }
      // conversion chain: t₀ = min step-0 ts; tᵢ = first step-i candidate
      // strictly after tᵢ₋₁ and within the horizon (sorted ⇒ `find` is min)
      val conv = new Array[Option[Long]](nSteps)
      conv(0) = merged.head.headOption
      (1 until nSteps).foreach { i =>
        conv(i) = conv(i - 1).flatMap(p =>
          merged(i).find(ts => ts > p && ts <= ceil(p)))
      }
      val maxStep = conv.takeWhile(_.isDefined).length
      val pruned = merged.zipWithIndex.map { case (lst, i) =>
        if (i == 0) lst.take(1) // only the min can ever matter
        else conv(i - 1) match {
          case Some(p) => lst.filter(_ <= ceil(p)) // ceiling only tightens
          case None    => lst
        }
      }
      val ver = cur.ver + 1
      st.update(FunnelState(ver, pruned))
      Iterator.single((key, ver, maxStep))
    }
  }

  /** [[FunnelProcessor]] wired through transformWithState: events are
    * projected to (user, step_idx, µs) rows — non-step events never reach
    * the state store. Output rows are per-key snapshots; keep the max-ver
    * row per user and count `max_step >= i` per step to get the funnel.
    *
    * Production MUST pass `ttl` (the stream's retention window): a user
    * whose step i−1 never converts keeps step-i candidates forever
    * otherwise; bounded gates/tests run with `ttl = None` (see
    * [[ttlMode]]). */
  def funnelStream(
      events: Dataset[Event],
      steps: Seq[String],
      horizonSec: Option[Long] = None,
      ttl: Option[Duration] = None): Dataset[(Long, Long, Int)] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    val idx = steps.zipWithIndex.toMap
    val horizonUs = horizonSec.map(_ * 1000000L).getOrElse(Long.MaxValue)
    val (ttlConf, timeMode) = ttlMode(ttl)
    events.flatMap(e => idx.get(e.event_type).map(i => (e.user_id, i, micros(e.ts))))
      .groupByKey(_._1)
      .transformWithState(new FunnelProcessor(steps.size, horizonUs, ttlConf),
        timeMode, OutputMode.Append())
  }

  /** W8 — streaming jump (bounce) detection, the reference's CEP pattern
    * (app/dwd/DwdTrafficUserJumpDetail.java:48-82): an ENTRY event is a
    * bounce if the next event from the same user is another entry, or if
    * nothing arrives within `horizonSec` (timeout). Both the matched and
    * the timed-out starts are emitted — the union of the two CEP outputs.
    *
    * Implementation: one pending entry per key in state; an event-time
    * timeout (watermark-driven) fires the silence case. Callers must set
    * a watermark on `ts` upstream.
    */
  def jumpDetect(
      events: Dataset[Event],
      isEntry: Event => Boolean,
      horizonSec: Long): Dataset[Event] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Long, it: Iterator[Event], state: GroupState[Event]) => {
          if (state.hasTimedOut) {
            // silence horizon elapsed (watermark passed pending.ts+horizon)
            val pending = state.get
            state.remove()
            Iterator.single(pending)
          } else {
            val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var pending = state.getOption
            val out = Seq.newBuilder[Event]
            sorted.foreach { e =>
              pending match {
                case Some(p) =>
                  if (micros(e.ts) - micros(p.ts) > horizonSec * 1000000L) {
                    out += p // silence observed within this batch
                    pending = if (isEntry(e)) Some(e) else None
                  } else if (isEntry(e)) {
                    out += p // entry→entry = matched bounce
                    pending = Some(e)
                  } else {
                    pending = None // entry→non-entry ≤ horizon: not a bounce
                  }
                case None =>
                  if (isEntry(e)) pending = Some(e)
              }
            }
            pending match {
              case Some(p) =>
                state.update(p)
                // timers are ms-grained; +1 ms guarantees the timer fires at
                // or after the µs horizon (never early when p has sub-ms
                // digits), so a non-bounce successor in the same final ms
                // still cancels p before the timeout
                state.setTimeoutTimestamp(p.ts.getTime + horizonSec * 1000L + 1L)
              case None => if (state.exists) state.remove()
            }
            out.result().iterator
          }
        })
  }
}
