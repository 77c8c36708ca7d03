package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured Streaming surface (SURVEY.md §2.10 EXT): the reference is
  * strictly batch (its chunked HTTP loop is pagination, not streaming), so
  * this module is the streaming re-expression of the same aggregation/dedup
  * semantics over the `events` table shape:
  * (event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,
  *  value DOUBLE, props STRING).
  *
  * Everything here takes a (possibly streaming) DataFrame and returns a
  * transformed streaming DataFrame — plan-to-plan, identical to the batch
  * operators; watermarks bound state so the plans run forever on unbounded
  * input without unbounded executor memory.
  */
object EventStreams {

  /** Tumbling-window counts/sums per event type; late rows beyond the
    * watermark are dropped (state is evictable → bounded). */
  def tumblingCounts(events: DataFrame, windowLen: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Session windows: activity bursts per user separated by ≥gap idle. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"), col("sum_value"))

  /** Streaming dedup by event_id with watermark-bounded state — the
    * streaming form of the reference's first-seen-record dedup (A1). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: the streaming fact side joins a batch
    * dimension (broadcast per micro-batch) — the streaming form of the
    * reference's field-map lookup. */
  def enrichWithDimension(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /** Stream-stream join: each click joined to the same user's purchases
    * within [0, window] after it. Both sides watermarked so join state is
    * evictable — unbounded state is the failure mode of naive
    * stream-stream joins. */
  def clickToPurchase(events: DataFrame, window: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("value").as("amount"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $window"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"), col("amount"))
  }

  // ---- custom state: per-user running aggregates via mapGroupsWithState

  final case class UserEvent(event_id: Long, user_id: Long, event_type: String, value: Double)
  final case class UserStats(user_id: Long, n_events: Long, total_value: Double, n_errors: Long)

  /** Per-user running stats with explicit state — the
    * `KeyValueGroupedDataset.mapGroupsWithState` path for semantics window
    * aggregation can't express (cross-window running totals, custom
    * eviction). NoTimeout here; production deployments bound state with an
    * event-time timeout + watermark. */
  def userStats(events: Dataset[UserEvent]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0.0, 0L))
          val next = rows.foldLeft(prev) { (s, e) =>
            UserStats(uid, s.n_events + 1,
              // cents-exact accumulation, same contract as the batch side
              (math.rint(s.total_value * 100) + math.rint(e.value * 100)) / 100,
              s.n_errors + (if (e.event_type == "error") 1 else 0))
          }
          state.update(next)
          next
      }
  }

  final case class TimedEvent(event_id: Long, user_id: Long, event_type: String,
      value: Double, ts: java.sql.Timestamp)
  final case class SessionSummary(user_id: Long, n_events: Long,
      start: java.sql.Timestamp, end: java.sql.Timestamp)

  /** Completed-session emission via flatMapGroupsWithState: rows accumulate
    * per user, and a session is EMITTED (0..n output rows per invocation —
    * the 1→N shape mapGroupsWithState can't express) when either the
    * event-time timeout fires after `gapMs` of silence, OR newly-arrived
    * events are themselves ≥ gap away from the open session (the timeout
    * alone would silently MERGE across a gap whenever the watermark hadn't
    * crossed the deadline before the next batch for that key). State is
    * bounded by the watermark + timeout. */
  def sessionSummaries(events: Dataset[TimedEvent], gapMs: Long = 30 * 60 * 1000L): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[TimedEvent], state: GroupState[(Long, Long, Long, Long)]) =>
          def summary(s: (Long, Long, Long, Long)) =
            SessionSummary(uid, s._1, new java.sql.Timestamp(s._2), new java.sql.Timestamp(s._3))
          if (state.hasTimedOut) {
            val done = summary(state.get)
            state.remove()
            Iterator.single(done)
          } else {
            val ts = rows.map(_.ts.getTime).toSeq.sorted
            // fold sorted timestamps into (n, start, end) runs split on gaps,
            // seeded with the open session from state
            val seed = state.getOption.toList
            val runs = ts.foldLeft(seed) { (acc, t) =>
              acc match {
                case (n, s, e, _) :: rest if t - e < gapMs =>
                  // min(s, t): a late-but-admitted event can precede the
                  // open session's current start
                  (n + 1, math.min(s, t), math.max(e, t), 0L) :: rest
                case _ => (1L, t, t, 0L) :: acc
              }
            }
            val (open :: completed) = runs: @unchecked
            state.update(open)
            state.setTimeoutTimestamp(open._3 + gapMs)
            completed.reverseIterator.map(summary)
          }
      }
  }

  /** Open-session state for [[SessionProcessor]] (top-level-nested so the
    * product encoder needs no outer instance). */
  final case class OpenSession(n: Long, start: Long, end: Long)

  /** [[sessionSummaries]] re-expressed on `transformWithState` — Spark 4's
    * arbitrary-state API (typed state variables + explicit timers instead
    * of one opaque state blob + a single implicit timeout). Same semantics,
    * pinned by the spec: in-batch gap splits fold exactly like the
    * flatMapGroupsWithState version; silence is closed by an event-time
    * TIMER that is REPLACED whenever new events extend the open session
    * (delete-then-register — registerTimer alone accumulates timers, and a
    * stale one would close a session that has since grown).
    *
    * Requires the RocksDB state-store provider (the API refuses the HDFS
    * store) — start queries under [[StateStores.withRocksDB]]; that is the
    * at-scale configuration anyway. */
  final class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, TimedEvent, SessionSummary] {
    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)

    private def summary(uid: Long, s: OpenSession) = SessionSummary(
      uid, s.n, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end))

    override def handleInputRows(uid: Long, rows: Iterator[TimedEvent],
        tv: TimerValues): Iterator[SessionSummary] = {
      val ts = rows.map(_.ts.getTime).toSeq.sorted
      if (ts.isEmpty) return Iterator.empty
      val seed = if (open.exists()) List(open.get()) else Nil
      val runs = ts.foldLeft(seed) { (acc, t) =>
        acc match {
          case OpenSession(n, s, e) :: rest if t - e < gapMs =>
            // min(s, t): a late-but-admitted event can precede the open
            // session's current start
            OpenSession(n + 1, math.min(s, t), math.max(e, t)) :: rest
          case _ => OpenSession(1L, t, t) :: acc
        }
      }
      val (openRun :: completed) = runs: @unchecked
      seed.foreach { prior => // replace, don't accumulate, the close timer
        if (prior.end != openRun.end) getHandle.deleteTimer(prior.end + gapMs)
      }
      if (seed.isEmpty || seed.head.end != openRun.end)
        getHandle.registerTimer(openRun.end + gapMs)
      open.update(openRun)
      completed.reverseIterator.map(summary(uid, _))
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionSummary] = {
      if (!open.exists()) return Iterator.empty
      val s = open.get()
      // a timer older than the open session's deadline is stale (the
      // session grew after it was set) — defense in depth on top of the
      // delete-on-extend above
      if (info.getExpiryTimeInMs >= s.end + gapMs) {
        open.clear()
        Iterator.single(summary(uid, s))
      } else Iterator.empty
    }
  }

  /** [[sessionSummaries]] via [[SessionProcessor]]. */
  def sessionSummariesTws(events: Dataset[TimedEvent],
      gapMs: Long = 30 * 60 * 1000L): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class RateLimited(event_id: Long, user_id: Long,
      win_start: Long, rn: Int)
  final case class KeptBuffer(entries: Seq[(Long, Long)]) // (ts_us, event_id)

  /** Streaming face of `Sampling.rateLimit` — EVENT-TIME-EXACT, not
    * first-arrival: per (user, tumbling window) the state holds only the
    * k smallest (ts, event_id) seen so far (a bounded top-k buffer — a
    * late-but-within-watermark event can still displace a kept one), and
    * the window's survivors are emitted by an event-time TIMER at window
    * end once the watermark guarantees no further displacement. Stream ≡
    * batch is therefore exact (the spec pins it), unlike an arrival-order
    * counter which admits whichever burst arrives first.
    *
    * State per key is ≤ k entries BY CONSTRUCTION — the rate limiter's
    * own cap bounds its state, regardless of burst size; keys expire with
    * their window timer. Requires RocksDB (StateStores.withRocksDB). */
  final class RateLimitProcessor(maxPerWindow: Int, windowUs: Long)
      extends StatefulProcessor[(Long, Long), TimedEvent, RateLimited] {
    @transient private var kept: ValueState[KeptBuffer] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      kept = getHandle.getValueState[KeptBuffer]("kept",
        org.apache.spark.sql.Encoders.product[KeptBuffer], TTLConfig.NONE)

    override def handleInputRows(key: (Long, Long), rows: Iterator[TimedEvent],
        tv: TimerValues): Iterator[RateLimited] = {
      val incoming = rows.map(e => (e.ts.getTime * 1000L, e.event_id)).toSeq
      if (incoming.isEmpty) return Iterator.empty
      val first = !kept.exists()
      val prev = if (first) Nil else kept.get().entries
      kept.update(KeptBuffer(
        (prev ++ incoming).sorted.take(maxPerWindow)))
      // one timer per (key, window), at window end (ms grain) — the fixed
      // deadline makes re-registration idempotent, but register once anyway
      if (first) {
        val winEndMs = (key._2 * 1000000L + windowUs) / 1000L
        getHandle.registerTimer(winEndMs)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: (Long, Long), tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[RateLimited] = {
      if (!kept.exists()) return Iterator.empty
      val out = kept.get().entries.zipWithIndex.map { case ((_, id), i) =>
        RateLimited(id, key._1, key._2, i + 1)
      }
      kept.clear()
      out.iterator
    }
  }

  /** [[RateLimitProcessor]] over a TimedEvent stream; `win_start` in
    * epoch seconds, mirroring the batch operator's output. */
  def rateLimitStream(events: Dataset[TimedEvent], maxPerWindow: Int,
      windowSecs: Long, watermark: String = "10 minutes"): Dataset[RateLimited] = {
    import events.sparkSession.implicits._
    val windowUs = windowSecs * 1000000L
    events
      .withWatermark("ts", watermark)
      .groupByKey { e =>
        val us = e.ts.getTime * 1000L
        (e.user_id, (us - us % windowUs) / 1000000L)
      }
      .transformWithState(new RateLimitProcessor(maxPerWindow, windowUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- streaming as-of enrichment (the q83 operator's streaming face)

  /** Error event enriched with the latest signup at or before it. */
  final case class AsOfEnriched(user_id: Long, event_id: Long, ts_us: Long,
      signup_ts_us: Option[Long])

  /** A probe row buffered until the watermark matures it. */
  final case class PendingProbe(event_id: Long, ts: Long)

  /** Watermark-correct streaming backward as-of: per user, each "error"
    * row is matched to the latest "signup" with `signup.ts <= error.ts`.
    *
    * Out-of-order safety is the whole problem: emitting eagerly would bind
    * an error to whatever signups happened to have ARRIVED, not the ones
    * that precede it in event time. So probes buffer in state and emit
    * only from an event-time TIMER, once the watermark has passed their
    * timestamp — after that, any signup that could still change the answer
    * (event time ≤ the probe's) would be dropped as late, so the match is
    * final. This is the streaming face of [[graft.plans.AsOfJoinExec]]:
    * same semantics, state bounded by the watermark horizon instead of a
    * sorted partition.
    *
    * State per user: buffered probes within the watermark horizon, plus
    * signup times — compacted on every timer to the single latest signup
    * at or below the watermark (the "current state") + those still inside
    * the horizon. Null-time rows never match (SQL as-of semantics).
    */
  final class StreamAsOfProcessor
      extends StatefulProcessor[Long, TimedEvent, AsOfEnriched] {
    @transient private var signups: ListState[Long] = _
    @transient private var pending: ListState[PendingProbe] = _
    @transient private var deadline: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      signups = getHandle.getListState[Long]("signups",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      pending = getHandle.getListState[PendingProbe]("pending",
        org.apache.spark.sql.Encoders.product[PendingProbe], TTLConfig.NONE)
      deadline = getHandle.getValueState[Long]("deadline",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Event time at the TimestampType µs grain — `getTime` alone is
      * ms-truncated, which would tie distinct event times. */
    private def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    /** Timer API is ms; round UP so the timer never fires before the
      * probe's µs time is actually below the watermark. */
    private def timerMs(us: Long): Long = (us + 999L) / 1000L

    override def handleInputRows(uid: Long, rows: Iterator[TimedEvent],
        tv: TimerValues): Iterator[AsOfEnriched] = {
      var minNew = Long.MaxValue
      rows.foreach { e =>
        if (e.ts != null) e.event_type match {
          case "signup" => signups.appendValue(micros(e.ts))
          case "error" =>
            val us = micros(e.ts)
            pending.appendValue(PendingProbe(e.event_id, us))
            minNew = math.min(minNew, us)
          case _ => ()
        }
      }
      // one live timer per key, always at the earliest unmatured probe
      if (minNew != Long.MaxValue &&
          (!deadline.exists() || timerMs(minNew) < deadline.get())) {
        if (deadline.exists()) getHandle.deleteTimer(deadline.get())
        getHandle.registerTimer(timerMs(minNew))
        deadline.update(timerMs(minNew))
      }
      Iterator.empty
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[AsOfEnriched] = {
      val wUs = tv.getCurrentWatermarkInMs() * 1000L
      val (ready, rest) = pending.get().toSeq.partition(_.ts <= wUs)
      val sorted = signups.get().toSeq.sorted
      // compact: every signup ≤ watermark collapses to the latest one (the
      // match for any future probe can only be it or an in-horizon signup)
      val (matured, ahead) = sorted.partition(_ <= wUs)
      val kept = (if (matured.nonEmpty) Seq(matured.max) else Nil) ++ ahead
      signups.clear()
      if (kept.nonEmpty) signups.put(kept.toArray)
      pending.clear()
      if (rest.nonEmpty) pending.put(rest.toArray)
      if (rest.nonEmpty) {
        val next = timerMs(rest.map(_.ts).min)
        getHandle.registerTimer(next)
        deadline.update(next)
      } else deadline.clear()
      ready.sortBy(p => (p.ts, p.event_id)).iterator.map { p =>
        // latest signup ≤ probe time; binary search not worth it at the
        // per-key state sizes the compaction maintains
        val m = sorted.takeWhile(_ <= p.ts)
        AsOfEnriched(uid, p.event_id, p.ts, m.lastOption)
      }
    }
  }

  /** [[StreamAsOfProcessor]] wired: errors enriched with the latest signup,
    * emitted once their event time is below the watermark. */
  def asofEnrichStream(events: Dataset[TimedEvent],
      watermark: String = "10 minutes"): Dataset[AsOfEnriched] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new StreamAsOfProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Envelope sink for streams (the reference's transmit path under
    * `foreachBatch`, SURVEY §2.10): each micro-batch is chunked into JSON
    * envelopes and appended under its batch id — idempotent on micro-batch
    * replay (same batch id → same directory overwritten). */
  def writeEnvelopes(stream: DataFrame, path: String,
      chunkRows: Int = 50000): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.etl.Sinks.envelopes(batch, chunkRows)
        .write.mode("overwrite").text(s"$path/batch_$batchId")
    }

  /** Streaming CDC apply — the streaming face of
    * `ops/Temporal.cdcCompact`: an insert/update/delete changelog compacts
    * to the current snapshot as a stateful latest-per-key aggregation
    * (update output mode; `max_by` under the (ts, tie) total order, which
    * makes cross-batch out-of-order changes land identically to batch).
    * Deletes stay in state as tombstones so a later out-of-order
    * non-delete can't resurrect the key incorrectly; readers of the
    * materialized snapshot filter `op != deleteOp` — exactly
    * `cdcCompact`'s contract. State per key is ONE row.
    */
  def cdcSnapshotStream(changelog: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, opCol: String, valueCols: Seq[String]): DataFrame = {
    val payload = struct((Seq(opCol, tsCol, tieCol) ++ valueCols).map(col): _*)
    changelog.groupBy(col(keyCol))
      .agg(max_by(payload, struct(col(tsCol), col(tieCol))).as("latest"))
      .select(col(keyCol), col("latest.*"))
  }

  /** Streaming A/B test: the running two-proportion z per group from
    * cumulative EXACT counts — the streaming face of
    * [[graft.ops.Stats.twoProportionZ]]. The sufficient statistics
    * (n_a, x_a, n_b, x_b) are long sums, so streaming state merges them
    * across micro-batches exactly and the emitted z is bit-identical to
    * the batch test over the same rows REGARDLESS of batch boundaries —
    * the whole point of keeping test statistics in mergeable integer
    * form. State is one fixed-width row per group (bounded by group
    * cardinality, not throughput); use complete/update output mode.
    *
    * @param cohortA boolean column: row belongs to cohort A (else B)
    * @param success boolean column: row counts as a success */
  def abTestStream(events: DataFrame, groupCol: String, cohortA: Column,
      success: Column): DataFrame =
    graft.ops.Stats.withPooledZ(events
      .select(col(groupCol), cohortA.as("__a"), success.as("__s"))
      .groupBy(col(groupCol))
      .agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a") && col("__s"), 1L).otherwise(0L)).as("x_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("__a") && col("__s"), 1L).otherwise(0L)).as("x_b")))

  /** Streaming sample-ratio-mismatch guardrail face (the q232 batch
    * statistic as a monitoring stream): per event-time window, count
    * FIRST-SEEN users and how many landed in cohort A. Two chained
    * stateful operators — watermarked dedup then a window aggregate —
    * both with evictable state, so the plan runs forever; the cumulative
    * readout ([[srmFromCounts]]) is one batch aggregate over the emitted
    * window counts applying the identical exact-integer (n_a−n_b)²·10⁹/n
    * statistic. Cohort assignment must be a deterministic function of
    * the user (the A/B contract), so a user re-seen past the watermark
    * re-counts in the SAME cohort: window counts inflate symmetrically
    * and the mismatch signal stays directionally honest — the exact
    * user-grain number is the batch operator's job.
    *
    * @param cohortA boolean column: user belongs to cohort A (else B) */
  def srmWindowCounts(events: DataFrame, cohortA: Column,
      windowLen: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id")
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n_new_users"),
        sum(when(cohortA, 1L).otherwise(0L)).as("n_a"))
      .select(col("window.start").as("w_start"),
        col("n_new_users"), col("n_a"))

  /** Cumulative SRM readout over [[srmWindowCounts]] output — the same
    * collapsed χ² vs a 50/50 split as the batch q232 statistic. The
    * ·10⁹ quantization is a fixed double tree, NOT a long product: this
    * readout sums every window ever emitted, and d²·10⁹ in long
    * overflows at a cumulative imbalance of only ~96k users — i.e. the
    * monitor would throw (ANSI) exactly when the mismatch it watches
    * for becomes large. */
  def srmFromCounts(counts: DataFrame): DataFrame =
    counts
      .agg(sum(col("n_new_users")).as("n_users"), sum(col("n_a")).as("n_a"))
      .withColumn("n_b", col("n_users") - col("n_a"))
      .withColumn("srm_x9",
        when(col("n_users") > 0L,
          floor((col("n_a") - col("n_b")).cast("double")
            * (col("n_a") - col("n_b")).cast("double")
            / col("n_users").cast("double") * lit(1e9)).cast("long")))

  /** Streaming PSI drift face (the q187 batch statistic as a monitoring
    * stream): bin live values against REFERENCE decile cuts — a 1-row
    * broadcast batch frame of 9 cut values, so binning is stateless —
    * and keep per-bin live counts as the one streaming aggregation
    * (state: ≤10 fixed-width rows, bounded by the bin axis, not
    * throughput; update/complete output). [[psiFromCounts]] then applies
    * the identical quantized (p−q)·ln(p/q) tree against the reference
    * bin counts. */
  def psiBinCounts(stream: DataFrame, valueQ: Column,
      cuts: DataFrame): DataFrame = {
    val bin = (10 to 90 by 10).map(p =>
      when(valueQ > col(s"p$p"), 1L).otherwise(0L)).reduce(_ + _)
    stream.crossJoin(broadcast(cuts))
      .select(bin.as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_cmp"))
  }

  /** PSI readout: join the live bin counts to the reference bin counts
    * and emit per-bin quantized PSI terms — the identical fixed double
    * tree as the batch population-stability query, so stream ≡ batch is
    * spec-checkable term by term. Bins present on only one side carry a
    * NULL term (the batch convention: a vanished/new bin is an alert of
    * its own, not a number). */
  def psiFromCounts(live: DataFrame, ref: DataFrame): DataFrame = {
    val binned = ref.join(live, Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cmp"), lit(0L)).as("n_cmp"))
    val tot = binned.agg(sum(col("n_ref")).as("tr"), sum(col("n_cmp")).as("tc"))
    val pa = col("n_ref").cast("double") / col("tr").cast("double")
    val pb = col("n_cmp").cast("double") / col("tc").cast("double")
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cmp"),
        when(col("n_ref") > 0L && col("n_cmp") > 0L,
          floor(((pa - pb) * log(pa / pb)) * lit(1e9)).cast("long"))
          .as("psi_term_x9"))
  }

  /** Streaming materialized-view refresh: each micro-batch aggregates to
    * its mergeable state (`ops/Incremental.aggState`) and merges into a
    * parquet state table via `foreachBatch` — the production shape of
    * incremental aggregate maintenance: history is NEVER rescanned, each
    * refresh costs O(micro-batch) + one exchange over the state.
    *
    * Replay safety: the merge is NOT idempotent (re-merging a replayed
    * batch double-counts), so the state directory is versioned by batch id
    * and a replayed id overwrites its own version — the same
    * batch-id-keyed idempotence contract as [[writeEnvelopes]] and the
    * near-dup signature store. Read the view with [[readAggView]].
    *
    * State paths resolve through the Hadoop FileSystem API (not
    * java.io.File), so the view lives wherever the checkpoint does — local
    * disk in tests, the lake in production. After each successful write,
    * versions older than the one batch `v_batchId` merged from are
    * deleted: a restart can only replay the most recent uncommitted batch,
    * which needs exactly its predecessor's state, so the directory holds
    * at most two versions instead of one full state copy per micro-batch.
    */
  def aggViewStream(stream: DataFrame, statePath: String,
      keys: Seq[String], values: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val deltaState = graft.ops.Incremental.aggState(batch, keys, values)
      val prev = versions(spark, statePath).filter(_ < batchId)
      val merged =
        if (prev.isEmpty) deltaState
        else graft.ops.Incremental.merge(
          spark.read.parquet(s"$statePath/v_${prev.max}"), deltaState, keys)
      merged.coalesce(1).write.mode("overwrite")
        .parquet(s"$statePath/v_$batchId")
      // Prune: keep v_batchId and the version it merged from (needed if
      // this batch id is replayed after a crash); drop everything older.
      val keep = Set(batchId) ++ prev.maxOption
      val (fsys, _) = fsPath(spark, statePath)
      versions(spark, statePath).filterNot(keep)
        .foreach(v => fsys.delete(new org.apache.hadoop.fs.Path(s"$statePath/v_$v"), true))
    }

  private def fsPath(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Materialized-state versions present under `statePath`. */
  private def versions(spark: SparkSession, statePath: String): Seq[Long] = {
    val (fsys, p) = fsPath(spark, statePath)
    if (!fsys.exists(p)) Seq.empty
    else fsys.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v_"))
      .map(_.getPath.getName.stripPrefix("v_").toLong)
  }

  /** The current materialized aggregate (latest version). */
  def readAggView(spark: SparkSession, statePath: String): DataFrame = {
    val vs = versions(spark, statePath)
    require(vs.nonEmpty, s"no materialized view under $statePath")
    spark.read.parquet(s"$statePath/v_${vs.max}")
  }

  /** Streaming EWMA readout: exponential smoothing over the maintained
    * (key…, period) totals view — [[aggViewStream]] keeps the per-period
    * sums current at O(micro-batch) cost, and this readout applies
    * `Temporal.ewmaLagged`'s integer lag-window smoothing to the view.
    * Because the EWMA is a pure function of the last `weights.length`
    * periods per key, a late/replayed batch that revises one period
    * revises at most that many smoothed points — no recursive state to
    * rebuild. `valueCol` names the ORIGINAL metric column fed to
    * [[aggViewStream]]; the view stores it as `sum_<valueCol>`. */
  def ewmaView(spark: SparkSession, statePath: String, keys: Seq[String],
      periodCol: String, valueCol: String, weights: Seq[Long]): DataFrame =
    graft.ops.Temporal.ewmaLagged(readAggView(spark, statePath),
      keys, periodCol, s"sum_$valueCol", weights)

  /** Batch-equivalence helper: the tumbling aggregation expressed as a plain
    * batch query — used by specs and the oracle gate to pin streaming
    * results to batch results on the same input. */
  def tumblingCountsBatch(events: DataFrame, windowLen: String = "10 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
}
