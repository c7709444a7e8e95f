package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event-stream operators
  * (reference pipeline stages consume SQS/Kinesis-style streams; here
  * the same declarative transforms run incrementally with watermarked
  * state). StreamingSpec drives these through MemoryStream and checks
  * them against the batch operators in graft.operators.EventStream —
  * the batch query is the oracle for the stream.
  *
  * Scale: state is keyed by (window, type) or user — Spark partitions
  * state stores by key across executors; watermarks bound state size.
  */
object StreamOps {

  /** Shuffle partitions of a bounded replay drive (see
    * [[withReplayPartitions]]). */
  private val ReplayPartitions = 8

  /** Run `body` (a bounded MemoryStream replay drive + its drain) with
    * `spark.sql.shuffle.partitions` temporarily lowered to
    * [[ReplayPartitions]].
    *
    * Stateful micro-batches instantiate one state store PER SHUFFLE
    * PARTITION per batch — open, commit (a delta file write+rename
    * each), maintenance — so every batch pays an O(partitions) floor
    * no matter how few rows arrive. The replay harnesses are bounded
    * by construction (their input is a collect()'d fixture), so their
    * state is thousands of keys, not core-count-scaled: measured on
    * the r14 box, 32→8 partitions cut each twin's three-batch replay
    * roughly in half with bit-identical output (state partitioning is
    * invisible to results). A production `readStream` deployment sizes
    * its shuffle partitions by state volume instead; batch-side plans
    * are unaffected because AQE re-coalesces batch shuffles.
    *
    * The conf is restored in finally: streaming locks the partition
    * count into each query's (fresh, temporary) checkpoint at start,
    * so the lowered value must be visible when `body` starts its
    * query, and nothing outside the replay must see it. */
  def withReplayPartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, ReplayPartitions.toString)
    try body finally spark.conf.set(key, prev)
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  case class OpenSession(start: Long, end: Long, n: Long, sum: Double)

  case class UserStateOut(user_id: Long, last_event_type: String,
      last_ts: Timestamp, last_value: Double, n_events: Long, total_value: Double)

  case class UserAgg(lastTs: Long, lastId: Long, lastType: String,
      lastValue: Double, n: Long, sum: Double)

  /** Exactly-once parquet sink: the checkpoint tracks source offsets
    * and committed files, so a stopped query resumed with the same
    * checkpoint+path neither loses nor duplicates rows (spec drives a
    * stop/restart across new source files). partitionBy mirrors the
    * audit store layout (tenant/date/hour) at scale. */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
      partitionBy: Seq[String] = Nil): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val w = df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
  }

  /** D13 streaming twin — the foreachBatch DELTA-MERGE consumer that
    * maintains the incremental join view (`persist_ivm_join`): each
    * micro-batch Δlineitem joins the static orders dim, folds to
    * per-customer decimal partials, and merges into the running state
    * with one full-outer key merge (sum both sides, coalescing
    * absentees to zero). Decimal addition is associative and
    * commutative, so ANY micro-batch partitioning of the input
    * converges to the batch view bit-for-bit — StreamingSpec proves
    * equality under uneven splits, closing the produce≡consume loop
    * P2 gave CDC for the aggregate/join-view family. At 100 TB the
    * state is a bucketed (o_custkey) MERGE target and each batch
    * reads ONLY its delta — the base view is never re-joined; the
    * dim side broadcasts per batch exactly like L6's enrichment. */
  def ivmDeltaMerge(state: DataFrame, delta: DataFrame,
                    orders: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val part = delta
      .join(broadcast(orders.select(col("o_orderkey"), col("o_custkey"))),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(dec)).as("d_rev"),
        count(lit(1)).as("d_n"))
    state.join(part, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("rev"), lit(0).cast(dec)) +
          coalesce(col("d_rev"), lit(0).cast(dec))).cast(dec).as("rev"),
        (coalesce(col("n_lines"), lit(0L)) +
          coalesce(col("d_n"), lit(0L))).as("n_lines"))
  }

  /** The maintained state read back in the batch view's serve shape. */
  def ivmServe(state: DataFrame): DataFrame =
    state.select(col("o_custkey"), col("rev").cast("double").as("revenue"),
      col("n_lines"))

  /** L6 streaming — stream-static enrichment join + running rollup:
    * the static dimension is joined per micro-batch (Spark re-plans
    * the broadcast each batch; no watermark is needed on the static
    * side), and the unwindowed rollup runs in update mode — the
    * standard "enrich the feed against a registry" pattern. The
    * sentinel/unknown users drop out via the inner join, mirroring a
    * registry-validated feed. */
  def enrichedRollup(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Analytics.dsum(col("value")).as("value_sum"))

  /** L7 shared batch/stream — NATIVE session windows: Spark's
    * session_window operator merges per-user event windows
    * [ts, ts+30min) that overlap, so a session ends 30 minutes after
    * its last event. One transform object serves both the batch query
    * (the oracle) and the streaming twin (append mode once the
    * watermark passes a session's end; state is per open session and
    * expires with the watermark — Spark's built-in replacement for the
    * hand-rolled flatMapGroupsWithState sessionizer in [[sessionize]]).
    * Boundary semantics MATCH L2: two events exactly one gap apart
    * merge into one session (empirically verified against the native
    * operator — a new session starts only at a strictly larger gap). */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Analytics.dsum(col("value")).as("value_sum"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("value_sum"))

  /** L1 streaming — tumbling 1h windows with a 10-minute watermark;
    * append mode emits a window only once the watermark passes its
    * end (exactly-once per window). */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Analytics.dsum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  /** L9 streaming — hopping 30-minute windows every 10 minutes with
    * a 10-minute watermark; append mode emits each of the 3
    * overlapping windows an event feeds once the watermark passes
    * that window's end. */
  def hoppingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Analytics.dsum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  /** L3 streaming — duplicate suppression keyed
    * (user, type, minute-bucket); the watermark lets Spark expire
    * per-key state instead of holding it forever. */
  def eventDedup(events: DataFrame): DataFrame =
    events
      .withColumn("ts_bucket", date_trunc("minute", col("ts")))
      .withWatermark("ts_bucket", "10 minutes")
      .dropDuplicates("user_id", "event_type", "ts_bucket")

  /** L5 streaming — watermarked stream-stream interval join: each
    * purchase joins the same user's clicks from the preceding 30
    * minutes. Inner-join results emit as soon as both sides arrive;
    * the watermarks bound how long click state is retained (clicks
    * older than purchase-watermark minus the interval are dropped). */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    p.join(c,
      col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_id"), col("click_ts"))
  }

  /** L8 streaming — LEFT OUTER watermarked interval join: the null
    * (unattributed) row for a purchase emits only once the click-side
    * watermark passes purchase_ts, proving no in-window click can
    * still arrive. Same join condition as [[intervalJoin]]. */
  def intervalJoinOuter(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    p.join(c,
        col("user_id") === col("c_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_id"), col("click_ts"))
  }

  private val GapUs = 1800L * 1000000L

  /** L2 streaming — 30-minute-gap sessionization via
    * flatMapGroupsWithState with event-time timeout: events fold into
    * an open session per user; a gap closes and emits the session; the
    * watermark passing (lastTs + gap) times out and flushes the open
    * session. State per user is O(1). */
  def sessionize(events: Dataset[Event], spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionFn)
  }

  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Timestamp -> epoch micros. getTime carries millis (incl. the
    * sub-second part also present in getNanos), so rebuild from whole
    * seconds + nanos to avoid double-counting. */
  private def us(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private[streaming] def sessionFn(userId: Long, events: Iterator[Event],
      state: GroupState[OpenSession]): Iterator[SessionOut] = {
    if (events.isEmpty && state.hasTimedOut) {
      // watermark passed lastTs + gap: flush the open session
      val out = state.getOption.map(s =>
        SessionOut(userId, toTs(s.start), toTs(s.end), s.n, s.sum)).iterator
      state.remove()
      return out
    }
    val sorted = events.toSeq.sortBy(e => (us(e.ts), e.event_id))
    var open = state.getOption
    val closed = Seq.newBuilder[SessionOut]
    sorted.foreach { e =>
      val t = us(e.ts)
      open match {
        case Some(s) if t - s.end <= GapUs =>
          open = Some(OpenSession(s.start, math.max(s.end, t), s.n + 1, s.sum + e.value))
        case Some(s) =>
          closed += SessionOut(userId, toTs(s.start), toTs(s.end), s.n, s.sum)
          open = Some(OpenSession(t, t, 1L, e.value))
        case None =>
          open = Some(OpenSession(t, t, 1L, e.value))
      }
    }
    open.foreach { s =>
      state.update(s)
      // flush when the watermark passes the session-closing gap
      state.setTimeoutTimestamp(s.end / 1000L + GapUs / 1000L)
    }
    closed.result().iterator
  }

  case class AsOfOut(probe_id: Long, user_id: Long, probe_ts: Timestamp,
      obs_event_id: java.lang.Long, obs_ts: Timestamp,
      obs_value: java.lang.Double)

  case class LastObs(id: Long, tsUs: Long, value: Double)

  /** E5 streaming — as-of join on a single interleaved stream:
    * clicks (observations) update per-user state, purchases (probes)
    * emit immediately with the carried last click — the incremental
    * form of the batch [[graft.plans.AsOfJoin]] operator. State per
    * user is ONE LastObs (bounded, unlike a buffered range join).
    * Same tie rule as batch: at equal ts the observation is applied
    * before the probe. */
  def asofJoin(events: Dataset[Event], spark: SparkSession): Dataset[AsOfOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(asofFn)
  }

  private[streaming] def asofFn(userId: Long, events: Iterator[Event],
      state: GroupState[LastObs]): Iterator[AsOfOut] = {
    // obs-before-probe at equal ts, then id — the batch ordering
    val sorted = events.toSeq.sortBy(e =>
      (us(e.ts), if (e.event_type == "purchase") 1 else 0, e.event_id))
    var last = state.getOption
    val out = Seq.newBuilder[AsOfOut]
    sorted.foreach { e =>
      e.event_type match {
        case "click" =>
          last = Some(LastObs(e.event_id, us(e.ts), e.value))
        case "purchase" =>
          out += AsOfOut(e.event_id, userId, e.ts,
            last.map(l => java.lang.Long.valueOf(l.id)).orNull,
            last.map(l => toTs(l.tsUs)).orNull,
            last.map(l => java.lang.Double.valueOf(l.value)).orNull)
        case _ => // other event types are neither probe nor observation
      }
    }
    last.foreach(state.update)
    out.result().iterator
  }

  case class PipelineState(patient_id: String, code: String,
      n_observations: Long, latest_value: Double,
      latest_effective: Timestamp, latest_ingest_hash: String)

  case class ObsAgg(n: Long, effUs: Long, id: Long, value: Double, hash: String)

  /** P1 streaming — the END-TO-END pipeline twin: the reference's
    * Lambda chain IS event-driven, so the same parse → validate →
    * FHIR-check Column pipeline (stateless, streaming-safe, incl. the
    * Sealed barrier) runs on the stream, and the persisted
    * per-(patient, code) latest state accumulates in
    * mapGroupsWithState — one O(1) state row per entity, the
    * incremental form of P1's window+rollup. Same tie rule as batch:
    * later (effective, event_id) wins. */
  def pipelineLatestState(events: DataFrame, spark: SparkSession): Dataset[PipelineState] = {
    import spark.implicits._
    graft.operators.Normalize.validObsFrom(events)
      .select(col("event_id"), col("patient_id"), col("code"), col("value"),
        col("effective"), col("ingest_hash"))
      .as[(Long, String, String, Double, Timestamp, String)]
      .groupByKey(r => (r._2, r._3))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(pipelineStateFn)
  }

  private[streaming] def pipelineStateFn(key: (String, String),
      rows: Iterator[(Long, String, String, Double, Timestamp, String)],
      state: GroupState[ObsAgg]): PipelineState = {
    var agg = state.getOption.getOrElse(ObsAgg(0L, Long.MinValue, Long.MinValue, 0.0, ""))
    rows.foreach { r =>
      val t = us(r._5)
      val isLater = t > agg.effUs || (t == agg.effUs && r._1 > agg.id)
      agg = ObsAgg(agg.n + 1,
        if (isLater) t else agg.effUs,
        if (isLater) r._1 else agg.id,
        if (isLater) r._4 else agg.value,
        if (isLater) r._6 else agg.hash)
    }
    state.update(agg)
    PipelineState(key._1, key._2, agg.n, agg.value, toTs(agg.effUs), agg.hash)
  }

  case class UpsertAgg(version: Long, lastIk: String, lastTs: Long,
      lastId: Long, lastValue: Double)

  case class UpsertOut(user_id: Long, event_type: String, version: Long,
      last_value: Double, last_ts: Timestamp, last_ik: String)

  /** D2 streaming — the conditional-write upsert twin: the reference
    * IS this mode (one Lambda invocation per queued write, DynamoDB
    * `version = if_not_exists+1` guarded by `idempotencyKey <> :idk`
    * — services/persist/handler.ts:51-54). State per entity is the
    * stored row (version, idempotency key, latest attributes);
    * each write applies iff its key differs from the STORED key,
    * which is the row-at-a-time form of the batch lag() rule —
    * StreamingSpec asserts exact equality with
    * `persist_upsert_version`. Writes apply in (ts, id) order: the
    * micro-batch slice is sorted in-state (bounded by the batch),
    * cross-batch order is the queue's FIFO delivery contract. */
  def upsertState(events: Dataset[Event], spark: SparkSession): Dataset[UpsertOut] = {
    import spark.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(upsertFn)
  }

  private[streaming] def upsertFn(key: (Long, String), events: Iterator[Event],
      state: GroupState[UpsertAgg]): UpsertOut = {
    var st = state.getOption.getOrElse(
      UpsertAgg(0L, null, Long.MinValue, Long.MinValue, 0.0))
    events.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
      val ik = "ik" + (e.event_id % 5)
      // the conditional write: same key as stored -> no-op, row intact
      if (st.lastIk == null || ik != st.lastIk)
        st = UpsertAgg(st.version + 1, ik, us(e.ts), e.event_id, e.value)
    }
    state.update(st)
    UpsertOut(key._1, key._2, st.version, st.lastValue, toTs(st.lastTs), st.lastIk)
  }

case class FunnelAgg(anchors: Seq[Long])

  case class FunnelOut(user_id: Long, stages_completed: Int)

  case class AttrAgg(touches: Seq[(Long, Long, String)],
      lastClick: Long, lastView: Long, lastNone: Long,
      firstClick: Long, firstView: Long, firstNone: Long)

  case class AttrOut(user_id: Long, last_click: Long, last_view: Long,
      last_none: Long, first_click: Long, first_view: Long, first_none: Long)

  /** L14 streaming — the attribution twin: per user,
    * mapGroupsWithState holds the in-window touch buffer (click/view
    * within the lookback) and, at each purchase, picks the
    * last-touch / first-touch channel by exactly the batch query's
    * (ts, event_id) struct order, incrementing per-channel counters
    * — the campaign dashboard as a live stream. State is bounded by
    * the lookback window: touches older than (purchase ts −
    * lookback) can never attribute again under event-time-ordered
    * arrival and are evicted at each purchase — the same bound a
    * watermark would enforce. StreamingSpec sums the final per-user
    * counters and asserts equality with `events_attribution`'s
    * per-channel purchase counts for BOTH models. */
  def attributionState(events: Dataset[Event], spark: SparkSession,
      lookbackDays: Int = 7): Dataset[AttrOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        attrFn(lookbackDays * 86400L * 1000000L) _)
  }

  private[streaming] def attrFn(lookbackUs: Long)(key: Long,
      events: Iterator[Event], state: GroupState[AttrAgg]): AttrOut = {
    var st = state.getOption.getOrElse(
      AttrAgg(Seq.empty, 0L, 0L, 0L, 0L, 0L, 0L))
    events.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
      e.event_type match {
        case "click" | "view" =>
          // evict on the touch path too: a never-converting user
          // (crawler traffic) must not grow state without bound —
          // same event-time-ordered-arrival assumption as below
          st = st.copy(touches =
            st.touches.filter(_._1 >= us(e.ts) - lookbackUs) :+
              ((us(e.ts), e.event_id, e.event_type)))
        case "purchase" =>
          val pts = us(e.ts)
          val win = st.touches.filter(t => t._1 < pts && t._1 >= pts - lookbackUs)
          val last = if (win.isEmpty) "none" else win.maxBy(t => (t._1, t._2))._3
          val first = if (win.isEmpty) "none" else win.minBy(t => (t._1, t._2))._3
          st = st.copy(
            lastClick = st.lastClick + (if (last == "click") 1 else 0),
            lastView = st.lastView + (if (last == "view") 1 else 0),
            lastNone = st.lastNone + (if (last == "none") 1 else 0),
            firstClick = st.firstClick + (if (first == "click") 1 else 0),
            firstView = st.firstView + (if (first == "view") 1 else 0),
            firstNone = st.firstNone + (if (first == "none") 1 else 0),
            // bounded state: with event-time-ordered arrival nothing
            // older than this purchase's window can attribute again
            touches = st.touches.filter(_._1 >= pts - lookbackUs))
        case _ => ()
      }
    }
    state.update(st)
    AttrOut(key, st.lastClick, st.lastView, st.lastNone,
      st.firstClick, st.firstView, st.firstNone)
  }

  /** L11 streaming — the funnel twin: per user, state is the greedy
    * first-touch anchor chain (one event-time µs per completed
    * stage). Because the batch funnel's stage-i anchor is the
    * EARLIEST qualifying event strictly after anchor i−1, forward
    * processing in (event time, id) order sets each anchor exactly
    * once at that same event — so the incremental rule is just "if
    * the next stage's type arrives after the last anchor, append" —
    * and the emitted stages_completed is monotone per user, making
    * the final update-mode row the batch answer. State is O(stages)
    * per user, the funnel-as-a-live-dashboard form. */
  def funnelState(events: Dataset[Event], spark: SparkSession,
      stages: Seq[String] = Seq("view", "click", "purchase"))
      : Dataset[FunnelOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(funnelFn(stages) _)
  }

  private[streaming] def funnelFn(stages: Seq[String])(key: Long,
      events: Iterator[Event], state: GroupState[FunnelAgg]): FunnelOut = {
    var anchors = state.getOption.map(_.anchors).getOrElse(Seq.empty)
    events.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
      val i = anchors.length
      if (i < stages.length && e.event_type == stages(i) &&
          (anchors.isEmpty || us(e.ts) > anchors.last))
        anchors = anchors :+ us(e.ts)
    }
    state.update(FunnelAgg(anchors))
    FunnelOut(key, anchors.length)
  }

  case class MarkovAgg(lastType: String, counts: Map[String, Long])

  case class MarkovOut(user_id: Long, transitions: Map[String, Long])

  /** L18 streaming — the Markov-transition twin: per user,
    * mapGroupsWithState holds only the LAST event (O(1) state) and
    * bumps a per-user "cur→nxt" transition counter at each arrival —
    * the batch lead() chain consumed forward. StreamingSpec merges
    * the final per-user maps and asserts the totals equal
    * `events_markov`'s exact pair counts. */
  def markovState(events: Dataset[Event], spark: SparkSession): Dataset[MarkovOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(markovFn)
  }

  case class FeatAgg(n: Long, nBuys: Long, sumBuys: String,
      firstUs: Long, lastBuyUs: Long)

  case class FeatOut(event_id: Long, user_id: Long, n_prior_events: Long,
      n_prior_purchases: Long, prior_purchase_value: Double,
      hours_active: Long, hours_since_prev_buy: Option[Long],
      label_value: Double)

  /** L24 streaming twin — the ONLINE feature path of
    * `events_feature_snapshot`, i.e. the online/offline-consistency
    * proof feature stores exist to provide: per user, state carries
    * the running behavioral profile (event/purchase counts, exact
    * decimal revenue as a string, first-seen, last-purchase); every
    * purchase EMITS its feature row from the state AS IT WAS BEFORE
    * this event folds in — the same strictly-prior contract as the
    * batch window frame, so the online features a serving system
    * would compute at request time equal the offline training
    * features bit for bit (StreamingSpec proves set equality under
    * micro-batch splits). Training-serving skew is exactly the
    * divergence this twin demonstrates to be zero. */
  def featureSnapshotState(events: Dataset[Event],
      spark: SparkSession): Dataset[FeatOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(featureFn)
  }

  private[streaming] def featureFn(key: Long, events: Iterator[Event],
      state: GroupState[FeatAgg]): Iterator[FeatOut] = {
    var st = state.getOption.getOrElse(FeatAgg(0L, 0L, "0", Long.MinValue, Long.MinValue))
    var sum = BigDecimal(st.sumBuys)
    val out = scala.collection.mutable.ListBuffer.empty[FeatOut]
    def dec(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    events.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
      val t = us(e.ts)
      if (e.event_type == "purchase" && st.n > 0) {
        // features from the state BEFORE this event — strictly prior
        out += FeatOut(e.event_id, key, st.n, st.nBuys, sum.toDouble,
          ((t - st.firstUs) / 3600000000.0).floor.toLong,
          if (st.nBuys == 0) None
          else Some(((t - st.lastBuyUs) / 3600000000.0).floor.toLong),
          dec(e.value).toDouble)
      }
      if (e.event_type == "purchase") {
        sum += dec(e.value)
        st = st.copy(nBuys = st.nBuys + 1, lastBuyUs = t)
      }
      st = st.copy(n = st.n + 1,
        firstUs = if (st.firstUs == Long.MinValue) t else st.firstUs)
    }
    state.update(st.copy(sumBuys = sum.toString))
    out.iterator
  }

  /** Exact per-cell accumulators for the DiD 2×2: purchase count and
    * the exact scale-6 decimal value sum serialized to String — the
    * state stays EXACT under any micro-batch split, and the DiD
    * estimate is a pure function of the four emitted cells. */
  case class DidAgg(n: Long, s: String)

  case class DidCellOut(treated: Boolean, post: Boolean, n: Long,
      value_sum: String)

  /** Same salted-md5 arm assignment as the batch L20/L26 readouts. */
  private[streaming] def treatedOf(salt: String, u: Long): Boolean = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt:$u".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % 2 == 1
  }

  /** L26 streaming twin — the DiD readout as a LIVE experiment
    * monitor: purchases fold into four (arm, period) cells keyed by
    * the same salted-hash assignment and cutoff as the batch
    * operator, each cell carrying (n, exact Σvalue). The estimate is
    * computed OUTSIDE the state as a pure function of the emitted
    * sufficient statistics — StreamingSpec proves final stream cells
    * ≡ batch `events_did` exactly under arbitrary micro-batch
    * splits. Additive counters only: no per-key event retention, so
    * state is four rows regardless of stream length. */
  def didCellState(events: Dataset[Event], spark: SparkSession,
      salt: String = "exp1", cutoffUs: Long): Dataset[DidCellOut] = {
    import spark.implicits._
    events.filter(_.event_type == "purchase")
      .groupByKey(e => (treatedOf(salt, e.user_id), us(e.ts) >= cutoffUs))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(didFn)
  }

  private[streaming] def didFn(key: (Boolean, Boolean),
      events: Iterator[Event], state: GroupState[DidAgg]): DidCellOut = {
    var st = state.getOption.getOrElse(DidAgg(0L, "0"))
    var s = BigDecimal(st.s)
    events.foreach { e =>
      s += BigDecimal(e.value).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      st = st.copy(n = st.n + 1)
    }
    st = st.copy(s = s.toString)
    state.update(st)
    DidCellOut(key._1, key._2, st.n, st.s)
  }

  /** Exact sufficient statistics for one (event_type, user) gap
    * stream. Σgap² passes 2^63 at tiny scale (gap ~10¹¹ µs squared),
    * so both sums live as BigInt serialized to String — the state
    * stays EXACT under any micro-batch split, which is the whole
    * point: mean/σ/burstiness are pure functions of (n, Σ, Σ²). */
  case class GapAgg(lastUs: Long, lastId: Long, n: Long,
      s1: String, s2: String)

  case class GapOut(event_type: String, user_id: Long, n_gaps: Long,
      s1: String, s2: String)

  /** L22 streaming twin — incremental inter-event-gap statistics per
    * (type, user): state carries the last event (for the next gap)
    * plus the exact (n, Σgap, Σgap²) accumulators; each micro-batch
    * folds its events in (ts, event_id) order. Burstiness itself is
    * computed OUTSIDE the state as a pure function of the emitted
    * sufficient statistics — the same per-type reduction the batch
    * operator runs — so StreamingSpec proves final stream state ≡
    * batch `events_burstiness` bit-for-bit under arbitrary splits.
    * Caveat shared with every mapGroupsWithState twin here: within a
    * key, cross-batch late events would create negative gaps; the
    * batch twin defines the contract on the (ts, id) total order and
    * the spec feeds splits in order per key (watermark discipline at
    * scale). */
  def gapStatsState(events: Dataset[Event], spark: SparkSession): Dataset[GapOut] = {
    import spark.implicits._
    events.groupByKey(e => (e.event_type, e.user_id))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(gapStatsFn)
  }

  private[streaming] def gapStatsFn(key: (String, Long),
      events: Iterator[Event], state: GroupState[GapAgg]): GapOut = {
    var st = state.getOption.getOrElse(GapAgg(Long.MinValue, 0L, 0L, "0", "0"))
    var s1 = BigInt(st.s1); var s2 = BigInt(st.s2)
    events.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
      val t = us(e.ts)
      if (st.lastUs != Long.MinValue) {
        val gap = BigInt(t - st.lastUs)
        s1 += gap; s2 += gap * gap
        st = st.copy(n = st.n + 1)
      }
      st = st.copy(lastUs = t, lastId = e.event_id)
    }
    st = st.copy(s1 = s1.toString, s2 = s2.toString)
    state.update(st)
    GapOut(key._1, key._2, st.n, st.s1, st.s2)
  }

  private[streaming] def markovFn(key: Long, events: Iterator[Event],
      state: GroupState[MarkovAgg]): MarkovOut = {
    var st = state.getOption.getOrElse(MarkovAgg(null, Map.empty))
    events.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
      if (st.lastType != null) {
        val k = st.lastType + " " + e.event_type
        st = st.copy(counts = st.counts.updated(k, st.counts.getOrElse(k, 0L) + 1))
      }
      st = st.copy(lastType = e.event_type)
    }
    state.update(st)
    MarkovOut(key, st.counts)
  }

  case class TombAgg(version: Long, nDeletes: Long, lastIk: String,
      lastOp: String, lastTs: Long, lastValue: Double)

  case class TombOut(user_id: Long, event_type: String, version: Long,
      n_deletes: Long, last_value: Double, last_ts: Timestamp, present: Boolean)

  /** D9 streaming — the tombstone twin: the DynamoDB-CDC consumer
    * form of `persist_tombstone`. Per entity, state is the full
    * lineage row (version over ALL applied ops, tombstone count, the
    * stored idempotency key); each applied write folds in under the
    * same conditional-write rule as [[upsertFn]], and the emitted row
    * carries `present` = latest-op-is-a-put — a `present = false`
    * emission IS the DeleteItem the serving-store consumer executes
    * (the row leaves the store), while the STATE keeps the lineage so
    * a later put resurrects the entity with its version history
    * intact, exactly like the batch read view. StreamingSpec asserts
    * the final present slice equals batch D9 and the final absent
    * slice equals F10b's purge list. */
  def tombstoneState(events: Dataset[Event], spark: SparkSession): Dataset[TombOut] = {
    import spark.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(tombstoneFn)
  }

  private[streaming] def tombstoneFn(key: (Long, String), events: Iterator[Event],
      state: GroupState[TombAgg]): TombOut = {
    var st = state.getOption.getOrElse(
      TombAgg(0L, 0L, null, null, Long.MinValue, 0.0))
    events.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
      val ik = "ik" + (e.event_id % 5)
      if (st.lastIk == null || ik != st.lastIk) {
        val op = if (e.event_id % 7 == 0) "delete" else "put"
        st = TombAgg(st.version + 1,
          st.nDeletes + (if (op == "delete") 1L else 0L),
          ik, op, us(e.ts), e.value)
      }
    }
    state.update(st)
    TombOut(key._1, key._2, st.version, st.nDeletes, st.lastValue,
      toTs(st.lastTs), st.lastOp == "put")
  }

  case class Scd2State(version: Long, lastIk: String, fromTs: Long, value: Double)

  case class Scd2Out(user_id: Long, event_type: String, version: Long,
      value: Double, ik: String, valid_from: Timestamp, valid_to: Timestamp)

  /** D7 streaming — the SCD2 history twin: per entity, state is the
    * OPEN version row; each applied write (same conditional-write rule
    * as [[upsertFn]]) EMITS the version it closes, stamped with
    * `valid_to` = the superseding write's time, and opens the next.
    * Append-mode output is therefore exactly the CLOSED-interval rows
    * of the batch `persist_scd2` (the open/current row stays in state
    * until a later write closes it) — StreamingSpec asserts set
    * equality with the batch history's non-current slice. This is the
    * DynamoDB-stream consumer that maintains D7 incrementally: one
    * state row per entity, one emitted row per superseded version. */
  def scd2Closes(events: Dataset[Event], spark: SparkSession): Dataset[Scd2Out] = {
    import spark.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(scd2Fn)
  }

  private[streaming] def scd2Fn(key: (Long, String), events: Iterator[Event],
      state: GroupState[Scd2State]): Iterator[Scd2Out] = {
    var st = state.getOption.orNull
    val out = scala.collection.mutable.ListBuffer.empty[Scd2Out]
    events.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
      val ik = "ik" + (e.event_id % 5)
      if (st == null || ik != st.lastIk) {
        if (st != null)
          out += Scd2Out(key._1, key._2, st.version, st.value, st.lastIk,
            toTs(st.fromTs), toTs(us(e.ts)))
        st = Scd2State(if (st == null) 1L else st.version + 1L, ik, us(e.ts), e.value)
      }
    }
    if (st != null) state.update(st)
    out.iterator
  }

  case class SloCount(tenant_id: String, audit_date: String,
      audit_hour: Int, n: Long, n_err: Long, n6: Long, err6: Long)

  case class SloState(hours: Map[(String, Int), (Long, Long)])

  /** F18 streaming — the live SLO burn-rate monitor: per-tenant state
    * holds the hourly (n, n_err) counters; each trigger folds the
    * batch's events in and re-emits every hour's counters WITH the
    * trailing-6-hour sums recomputed over the ordered hour sequence —
    * exactly the batch F18 window frame (ROWS BETWEEN 5 PRECEDING AND
    * CURRENT ROW over (date, hour)). The burn/alert projection is NOT
    * duplicated here: emissions carry integer counters only and the
    * spec pipes them through the same `Audit.sloServe` the batch query
    * uses, so rounding and alert booleans are shared by construction.
    * Counters only grow, so update-mode emissions are monotone and the
    * final emission per hour equals the batch row. In production the
    * state map is pruned by watermark (only the trailing 6 hours can
    * still change an emission once event-time passes); unbounded here
    * because the spec replays history. */
  def sloBurnCounters(events: Dataset[Event], spark: SparkSession): Dataset[SloCount] = {
    import spark.implicits._
    events.groupByKey(e => "t" + java.lang.Math.floorMod(e.user_id, 4L))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(sloFn)
  }

  private val utcFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd").withZone(java.time.ZoneOffset.UTC)

  private[streaming] def sloFn(tenant: String, events: Iterator[Event],
      state: GroupState[SloState]): Iterator[SloCount] = {
    var hours = state.getOption.map(_.hours).getOrElse(Map.empty)
    events.foreach { e =>
      val inst = java.time.Instant.ofEpochMilli(e.ts.getTime)
      val key = (utcFmt.format(inst),
        inst.atZone(java.time.ZoneOffset.UTC).getHour)
      val (n, ne) = hours.getOrElse(key, (0L, 0L))
      hours += key -> (n + 1L, ne + (if (e.event_type == "error") 1L else 0L))
    }
    state.update(SloState(hours))
    val ordered = hours.toSeq.sortBy(_._1)
    ordered.zipWithIndex.map { case (((date, hr), (n, ne)), i) =>
      val frame = ordered.slice(math.max(0, i - 5), i + 1)
      SloCount(tenant, date, hr, n, ne,
        frame.map(_._2._1).sum, frame.map(_._2._2).sum)
    }.iterator
  }

  case class EwmaCount(service: String, audit_date: String,
      audit_hour: Int, n: Long, dur_sum: Long,
      ewma_num: Long, ewma_den: Long)

  case class EwmaState(hours: Map[(String, Int), (Long, Long)])

  /** F17 streaming — the live EWMA latency-regression monitor (twin
    * of the batch `audit_ewma_alarm`, completing the alarm-family
    * twins beside F18's): per-SERVICE state holds the hourly
    * (n, dur_sum) counters; each trigger folds the batch's events in
    * and re-emits every hour's counters WITH the dyadic-weighted lag
    * sums (Σ 2^(M−k) over the k = 1..M previous PRESENT hours in
    * order — exactly the batch lag(k) row semantics) recomputed.
    * Emissions carry integer counters only; the mean/flag projection
    * stays one expression shared with batch by construction (the
    * cross-multiplied `dur_sum·den > 2·num·n` needs only these
    * columns). Counters only grow, so update-mode emissions are
    * componentwise monotone and the final emission per hour equals
    * the batch row. Production prunes state past M hours by
    * watermark; unbounded here because the spec replays history. */
  def ewmaCounters(events: Dataset[Event], spark: SparkSession,
      memory: Int = 8): Dataset[EwmaCount] = {
    import spark.implicits._
    events.groupByKey(e =>
      if (e.event_type == "signup" || e.event_type == "click" ||
        e.event_type == "view") "ingest"
      else if (e.event_type == "purchase") "persist"
      else "dlq")
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(ewmaFn(memory))
  }

  private[streaming] def ewmaFn(memory: Int)(service: String,
      events: Iterator[Event],
      state: GroupState[EwmaState]): Iterator[EwmaCount] = {
    var hours = state.getOption.map(_.hours).getOrElse(Map.empty)
    events.foreach { e =>
      val inst = java.time.Instant.ofEpochMilli(e.ts.getTime)
      val key = (utcFmt.format(inst),
        inst.atZone(java.time.ZoneOffset.UTC).getHour)
      val (n, ds) = hours.getOrElse(key, (0L, 0L))
      val dur = java.lang.Math.floorMod(
        e.event_id * 7919L + e.user_id * 104729L, 5000L)
      hours += key -> (n + 1L, ds + dur)
    }
    state.update(EwmaState(hours))
    val ordered = hours.toSeq.sortBy(_._1)
    ordered.zipWithIndex.map { case (((date, hr), (n, ds)), i) =>
      val lags = (1 to memory).map { k =>
        if (i - k >= 0) ordered(i - k)._2 else (0L, 0L)
      }
      val num = lags.zipWithIndex.map { case ((_, dsk), j) =>
        dsk * (1L << (memory - (j + 1))) }.sum
      val den = lags.zipWithIndex.map { case ((nk, _), j) =>
        nk * (1L << (memory - (j + 1))) }.sum
      EwmaCount(service, date, hr, n, ds, num, den)
    }.iterator
  }

  case class HystOut(service: String, audit_date: String, audit_hour: Int,
      seen: Long, n: Long, dur_sum: Long, ewma_num: Long, ewma_den: Long,
      enter_hot: Boolean, exit_cold: Boolean, alarm: Boolean,
      alarm_start: Boolean)

  case class HystState(seen: Long, hours: Map[(String, Int), (Long, Long)])

  /** F25 streaming — the live flap-suppressed alert (twin of the
    * batch `audit_alert_hysteresis`, closing the alarm family's one
    * batch-only member beside the F14/F17/F18 twins): per-SERVICE
    * state is exactly (hourly (n, dur_sum) counters) — the EWMA
    * twin's state — and each trigger folds the batch's events in,
    * then REPLAYS the whole two-threshold recurrence
    * alarm(t) = enter(t) ∨ (alarm(t−1) ∧ ¬exit(t)) over the ordered
    * present hours. Thresholds are the batch's cross-multiplied
    * integer predicates computed in BigInt (the DECIMAL(38,0)
    * widening's exact-arithmetic twin — no product may wrap at
    * 100 TB magnitudes, and no float ever decides an alert).
    *
    * Unlike the counter twins, the DERIVED booleans are NOT
    * componentwise monotone across re-emissions (a later batch can
    * flip an earlier hour's alarm through the chain), so each
    * emission carries `seen` — the state's total fold count, strictly
    * increasing per trigger — and the final row per hour is the
    * max-`seen` emission (an update-mode sink's keep-latest
    * semantics, made explicit for the replay spec). Production
    * prunes state past `memory` present hours by watermark; unbounded
    * here because the spec replays history. */
  def hysteresisState(events: Dataset[Event], spark: SparkSession,
      memory: Int = 8, minN: Long = 5L): Dataset[HystOut] = {
    import spark.implicits._
    events.groupByKey(e =>
      if (e.event_type == "signup" || e.event_type == "click" ||
        e.event_type == "view") "ingest"
      else if (e.event_type == "purchase") "persist"
      else "dlq")
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(hysteresisFn(memory, minN))
  }

  private[streaming] def hysteresisFn(memory: Int, minN: Long)(
      service: String, events: Iterator[Event],
      state: GroupState[HystState]): Iterator[HystOut] = {
    var hours = state.getOption.map(_.hours).getOrElse(Map.empty)
    var seen = state.getOption.map(_.seen).getOrElse(0L)
    events.foreach { e =>
      val inst = java.time.Instant.ofEpochMilli(e.ts.getTime)
      val key = (utcFmt.format(inst),
        inst.atZone(java.time.ZoneOffset.UTC).getHour)
      val (n, ds) = hours.getOrElse(key, (0L, 0L))
      val dur = java.lang.Math.floorMod(
        e.event_id * 7919L + e.user_id * 104729L, 5000L)
      hours += key -> (n + 1L, ds + dur)
      seen += 1L
    }
    state.update(HystState(seen, hours))
    val ordered = hours.toSeq.sortBy(_._1)
    var alarm = false
    ordered.zipWithIndex.map { case (((date, hr), (n, ds)), i) =>
      val lags = (1 to memory).map { k =>
        if (i - k >= 0) ordered(i - k)._2 else (0L, 0L)
      }
      val num = lags.zipWithIndex.map { case ((_, dsk), j) =>
        dsk * (1L << (memory - (j + 1))) }.sum
      val den = lags.zipWithIndex.map { case ((nk, _), j) =>
        nk * (1L << (memory - (j + 1))) }.sum
      val enter = den > 0 && n >= minN &&
        BigInt(ds) * BigInt(den) > BigInt(num) * BigInt(n) * 2
      val exit = den > 0 && BigInt(ds) * BigInt(den) < BigInt(num) * BigInt(n)
      val prev = alarm
      alarm = if (enter) true else if (exit) false else alarm
      HystOut(service, date, hr, seen, n, ds, num, den,
        enter, exit, alarm, alarm && !prev)
    }.iterator
  }

  case class IncidentOut(service: String, seen: Long, incident_id: Long,
      start_date: String, start_hour: Int, end_date: String, end_hour: Int,
      span_hours: Long, n_alarm_hours: Long, n_pages: Long)

  /** F26 streaming — the live INCIDENT feed (twin of the batch
    * `audit_incidents`): shares the F25 twin's per-service state
    * (hourly (n, dur_sum) counters — [[HystState]], same fold), and
    * each trigger replays the hysteresis recurrence then regroups the
    * alarm hours into gaps-and-islands incidents. Incident ids are
    * NOT stable across triggers (a new alarm hour can merge two
    * earlier islands — exactly the PagerDuty regroup behavior), so
    * like the hysteresis twin every emission carries `seen` and the
    * consumer keeps the max-`seen` incident SET per service
    * (update-mode keep-latest, made explicit for the replay spec). */
  def incidentState(events: Dataset[Event], spark: SparkSession,
      mergeGap: Int = 2, memory: Int = 8,
      minN: Long = 5L): Dataset[IncidentOut] = {
    import spark.implicits._
    events.groupByKey(e =>
      if (e.event_type == "signup" || e.event_type == "click" ||
        e.event_type == "view") "ingest"
      else if (e.event_type == "purchase") "persist"
      else "dlq")
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(incidentFn(mergeGap, memory, minN))
  }

  private[streaming] def incidentFn(mergeGap: Int, memory: Int, minN: Long)(
      service: String, events: Iterator[Event],
      state: GroupState[HystState]): Iterator[IncidentOut] = {
    val hyst = hysteresisFn(memory, minN)(service, events, state).toSeq
    val alarms = hyst.filter(_.alarm)
      .map(h => (java.time.LocalDate.parse(h.audit_date).toEpochDay * 24L +
        h.audit_hour, h))
      .sortBy(_._1)
    var inc = 0L
    var prev = Long.MinValue
    val withId = alarms.map { case (ah, h) =>
      if (prev == Long.MinValue || ah - prev > mergeGap + 1) inc += 1
      prev = ah
      (inc, ah, h)
    }
    withId.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, rows) =>
      val s = rows.minBy(_._2)
      val e = rows.maxBy(_._2)
      IncidentOut(service, s._3.seen, id,
        s._3.audit_date, s._3.audit_hour, e._3.audit_date, e._3.audit_hour,
        e._2 - s._2 + 1, rows.size.toLong,
        rows.count(_._3.alarm_start).toLong)
    }.iterator
  }

  case class SpikeCount(tenant_id: String, audit_date: String,
      audit_hour: Int, n_total: Long, n_err: Long,
      trail_total: Long, trail_err: Long)

  case class SpikeState(hours: Map[(String, Int), (Long, Long)])

  /** F14 streaming — the live error-spike alarm (twin of the batch
    * `audit_error_spikes`, completing the alarm-family twins beside
    * F17/F18's): per-TENANT state holds the hourly (n_total, n_err)
    * counters; each trigger folds the batch's events in and re-emits
    * every hour's counters WITH the trailing-24-present-hour sums
    * recomputed over the ordered hour sequence — exactly the batch
    * F14 window frame (ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING over
    * the present (date, hour) rows). Emissions carry integer counters
    * only; the rate/spike projection derives from these columns alone
    * (the cross-multiplied `n_err·trail > 2·trail_err·n` flag), so
    * rounding and alert booleans are shared with batch by
    * construction — the one divergence is the EMPTY frame, which
    * batch reports as NULL trailing sums and the typed emission as 0;
    * the flag agrees either way (a non-empty frame always has
    * trail_total ≥ 1). Counters only grow, so update-mode emissions
    * are monotone and the final emission per hour equals the batch
    * row. Production prunes state past 24 present hours by watermark;
    * unbounded here because the spec replays history. */
  def errorSpikeCounters(events: Dataset[Event], spark: SparkSession): Dataset[SpikeCount] = {
    import spark.implicits._
    events.groupByKey(e => "t" + java.lang.Math.floorMod(e.user_id, 4L))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(spikeFn)
  }

  private[streaming] def spikeFn(tenant: String, events: Iterator[Event],
      state: GroupState[SpikeState]): Iterator[SpikeCount] = {
    var hours = state.getOption.map(_.hours).getOrElse(Map.empty)
    events.foreach { e =>
      val inst = java.time.Instant.ofEpochMilli(e.ts.getTime)
      val key = (utcFmt.format(inst),
        inst.atZone(java.time.ZoneOffset.UTC).getHour)
      val (n, ne) = hours.getOrElse(key, (0L, 0L))
      hours += key -> (n + 1L, ne + (if (e.event_type == "error") 1L else 0L))
    }
    state.update(SpikeState(hours))
    val ordered = hours.toSeq.sortBy(_._1)
    ordered.zipWithIndex.map { case (((date, hr), (n, ne)), i) =>
      val frame = ordered.slice(math.max(0, i - 24), i)
      SpikeCount(tenant, date, hr, n, ne,
        frame.map(_._2._1).sum, frame.map(_._2._2).sum)
    }.iterator
  }

  case class CpState(seen: Long, hours: Map[(String, Int), Long])

  case class CpOut(service: String, seen: Long, split_date: String,
      split_hour: Int, n_hours_before: Long, n_hours_after: Long,
      s_before: Long, s_after: Long, direction: String)

  /** F24 streaming — the live changepoint LOCATOR (twin of the batch
    * `audit_changepoint`): per-service state is the hourly volume
    * counters; each trigger folds events in and replays the exact
    * single-split CUSUM argmax over the ordered present hours with
    * the statistic |T·S_k − k·S_T| in BigInt (the DECIMAL(38,0)
    * widening's exact twin — no product wraps at 100 TB counts), ties
    * to the earliest hour, direction by the cross-multiplied integer
    * means — so no float ever locates or classifies the shift. The
    * located split MOVES as data arrives (that is the point of a live
    * regression locator), so emissions carry the strictly-increasing
    * `seen` fold counter and the final row per service is the
    * max-`seen` one. Emits nothing until a service has ≥ 2 present
    * hours (batch requires a non-empty right segment). Production
    * prunes state by watermark; unbounded here for the replay spec. */
  def changepointState(events: Dataset[Event],
      spark: SparkSession): Dataset[CpOut] = {
    import spark.implicits._
    events.groupByKey(e =>
      if (e.event_type == "signup" || e.event_type == "click" ||
        e.event_type == "view") "ingest"
      else if (e.event_type == "purchase") "persist"
      else "dlq")
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(changepointFn)
  }

  private[streaming] def changepointFn(service: String,
      events: Iterator[Event],
      state: GroupState[CpState]): Iterator[CpOut] = {
    var hours = state.getOption.map(_.hours).getOrElse(Map.empty)
    var seen = state.getOption.map(_.seen).getOrElse(0L)
    events.foreach { e =>
      val inst = java.time.Instant.ofEpochMilli(e.ts.getTime)
      val key = (utcFmt.format(inst),
        inst.atZone(java.time.ZoneOffset.UTC).getHour)
      hours += key -> (hours.getOrElse(key, 0L) + 1L)
      seen += 1L
    }
    state.update(CpState(seen, hours))
    val ordered = hours.toSeq.sortBy(_._1)
    val t = ordered.length
    if (t < 2) Iterator.empty
    else {
      val sT = ordered.map(_._2).sum
      var sK = 0L
      var bestStat: BigInt = null
      var bestK = 0
      ordered.zipWithIndex.dropRight(1).foreach { case ((_, n), i) =>
        sK += n
        val k = i + 1
        val stat = (BigInt(t) * BigInt(sK) - BigInt(k) * BigInt(sT)).abs
        if (bestStat == null || stat > bestStat) {
          bestStat = stat; bestK = k
        }
      }
      val sBefore = ordered.take(bestK).map(_._2).sum
      val ((d, h), _) = ordered(bestK - 1)
      val dir = if (BigInt(sT - sBefore) * BigInt(bestK) >
        BigInt(sBefore) * BigInt(t - bestK)) "up" else "down"
      Iterator.single(CpOut(service, seen, d, h, bestK.toLong,
        (t - bestK).toLong, sBefore, sT - sBefore, dir))
    }
  }

  case class MadOut(service: String, seen: Long, audit_date: String,
      audit_hour: Int, n: Long, med: Long, mad: Long, is_outlier: Boolean)

  /** F21 streaming — the live robust-z outlier detector (twin of the
    * batch `audit_mad_outliers`, completing the alarm-family twins
    * beside F14/F17/F18/F24/F25/F26): per-service state is the same
    * hourly volume counters as the F24 twin ([[CpState]], one fold
    * serves both), and each trigger replays BOTH dependent medians
    * (median of counts, then median of absolute deviations — the
    * discrete ceil(T/2) pick, exact integers end to end, the batch's
    * sorted-array recipe) over the present hours and re-emits every
    * hour with its verdict. Median and MAD move as hours arrive, so
    * verdicts are not monotone — emissions carry `seen` and the final
    * row per hour is the max-`seen` one (keep-latest). Production
    * prunes state past the retention window; unbounded here for the
    * replay spec. */
  def madState(events: Dataset[Event], spark: SparkSession,
      k: Int = 3): Dataset[MadOut] = {
    import spark.implicits._
    events.groupByKey(e =>
      if (e.event_type == "signup" || e.event_type == "click" ||
        e.event_type == "view") "ingest"
      else if (e.event_type == "purchase") "persist"
      else "dlq")
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(madFn(k))
  }

  private[streaming] def madFn(k: Int)(service: String,
      events: Iterator[Event],
      state: GroupState[CpState]): Iterator[MadOut] = {
    var hours = state.getOption.map(_.hours).getOrElse(Map.empty)
    var seen = state.getOption.map(_.seen).getOrElse(0L)
    events.foreach { e =>
      val inst = java.time.Instant.ofEpochMilli(e.ts.getTime)
      val key = (utcFmt.format(inst),
        inst.atZone(java.time.ZoneOffset.UTC).getHour)
      hours += key -> (hours.getOrElse(key, 0L) + 1L)
      seen += 1L
    }
    state.update(CpState(seen, hours))
    val ns = hours.values.toSeq.sorted
    val med = ns((ns.length + 1) / 2 - 1)
    val devs = ns.map(x => math.abs(x - med)).sorted
    val mad = devs((devs.length + 1) / 2 - 1)
    val s = seen
    hours.toSeq.sortBy(_._1).iterator.map { case ((d, h), n) =>
      MadOut(service, s, d, h, n, med, mad, math.abs(n - med) > k * mad)
    }
  }

  case class CdcRec(user_id: Long, event_type: String, version: Long,
      n_deletes: Long, last_op: String, last_value: Double)

  case class CdcOut(user_id: Long, event_type: String, version: Long,
      n_deletes: Long, last_op: String, last_value: Double,
      is_purged: Boolean)

  /** P2 streaming — the CDC CONSUMER twin of `pipeline_cdc_roundtrip`:
    * bootstrap from the stored snapshot, then tail the change feed.
    * The input stream is (T1 base records) followed by (non-noop feed
    * records) — exactly what a consumer reads from a snapshot export
    * plus the changefeed topic. Each record carries the entity's full
    * post-image (CDC records ship state, not deltas — D12's shape),
    * so the fold REPLACES state, keeping the higher version: the feed
    * lineage is monotone, which makes the fold arrival-order
    * independent (a replayed/reordered topic converges to the same
    * state). Update-mode emission is the current reconstructed row
    * with the D9/F10b purge classification; StreamingSpec asserts the
    * final state equals the batch roundtrip (and therefore, by the
    * P2 oracle, the direct T2 replay). */
  def cdcApplyState(records: Dataset[CdcRec], spark: SparkSession): Dataset[CdcOut] = {
    import spark.implicits._
    records.groupByKey(r => (r.user_id, r.event_type))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(cdcFn)
  }

  private[streaming] def cdcFn(key: (Long, String), recs: Iterator[CdcRec],
      state: GroupState[CdcRec]): CdcOut = {
    var st = state.getOption.orNull
    recs.foreach { r => if (st == null || r.version >= st.version) st = r }
    state.update(st)
    CdcOut(key._1, key._2, st.version, st.n_deletes, st.last_op,
      st.last_value, st.last_op == "delete")
  }

  /** L4 streaming — per-user rolling state via mapGroupsWithState
    * (update mode): latest event attributes + lifetime counters. */
  def userLatestState(events: Dataset[Event], spark: SparkSession): Dataset[UserStateOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(userStateFn)
  }

  private[streaming] def userStateFn(userId: Long, events: Iterator[Event],
      state: GroupState[UserAgg]): UserStateOut = {
    var agg = state.getOption.getOrElse(UserAgg(Long.MinValue, Long.MinValue, "", 0.0, 0L, 0.0))
    events.foreach { e =>
      val t = us(e.ts)
      val isLater = t > agg.lastTs || (t == agg.lastTs && e.event_id > agg.lastId)
      agg = UserAgg(
        if (isLater) t else agg.lastTs,
        if (isLater) e.event_id else agg.lastId,
        if (isLater) e.event_type else agg.lastType,
        if (isLater) e.value else agg.lastValue,
        agg.n + 1, agg.sum + e.value)
    }
    state.update(agg)
    UserStateOut(userId, agg.lastType, toTs(agg.lastTs), agg.lastValue, agg.n, agg.sum)
  }

  case class OccOut(writer_id: String, txn_date: String, txn_hour: Int,
      seen: Long, start_us: Long, commit_us: Long, n_keys: Long,
      n_conflicts: Long, must_retry: Boolean, first_conflict_writer: String)

  /** seen: applied-write count (monotone — the spec's keep-latest
    * key, since a conflict verdict can change while the attempt's own
    * columns don't); seqIk: per-(user, event_type) last applied
    * idempotency key (the D2 conditional-write dedup); keys:
    * per-(writer, date, hour, event_type) applied-write window in
    * micros. */
  case class OccState(seen: Long, seqIk: Map[String, Long],
      keys: Map[(String, String, Int, String), (Long, Long)])

  /** D11 streaming — the LIVE optimistic-concurrency commit monitor
    * (twin of batch `persist_conflict_check`, the persist family's
    * one batch-only analytical member until now). The stream is the
    * table's COMMIT LOG — a single serialized order by protocol
    * (Delta/Iceberg OCC validates against one log), so the state
    * keys on the log itself (one group): per-(writer, date, hour,
    * key) applied-write windows plus the per-(user, key) last-ik
    * registers that replay D2's conditional-write dedup. Each
    * trigger folds the batch's commits in LOG ORDER (entries are
    * sorted by (ts, event_id) before folding — iterator order inside
    * a trigger is not arrival order) and re-emits every attempt row
    * with windows, write-set size, and the first-committer-wins
    * conflict verdict recomputed — exactly the batch candidate rule
    * (shared key, committed inside the in-flight window, earlier in
    * (commit ts, writer) order). Stays metadata-scale for the same
    * reason batch D11 does: state is O(writers × hours × keys +
    * users × keys), never O(rows); production ages out hours past
    * the watermark. Spec-equal to batch under uneven micro-batch
    * splits (StreamingSpec). */
  def occState(events: Dataset[Event], spark: SparkSession): Dataset[OccOut] = {
    import spark.implicits._
    events.groupByKey(_ => "commitlog")
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(occFn)
  }

  private[streaming] def occFn(log: String, events: Iterator[Event],
      state: GroupState[OccState]): Iterator[OccOut] = {
    var seqIk = state.getOption.map(_.seqIk).getOrElse(Map.empty[String, Long])
    var keys = state.getOption.map(_.keys)
      .getOrElse(Map.empty[(String, String, Int, String), (Long, Long)])
    var seen = state.getOption.map(_.seen).getOrElse(0L)
    // restore log order within the trigger
    events.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
      val ik = java.lang.Math.floorMod(e.event_id, 5L)
      val seqKey = s"${e.user_id}:${e.event_type}"
      if (!seqIk.get(seqKey).contains(ik)) { // conditional write applies
        seqIk += seqKey -> ik
        seen += 1L
        val inst = java.time.Instant.ofEpochMilli(e.ts.getTime)
        val k = ("t" + java.lang.Math.floorMod(e.user_id, 4L),
          utcFmt.format(inst),
          inst.atZone(java.time.ZoneOffset.UTC).getHour, e.event_type)
        val t = us(e.ts)
        val (lo, hi) = keys.getOrElse(k, (Long.MaxValue, Long.MinValue))
        keys += k -> (math.min(lo, t), math.max(hi, t))
      }
    }
    state.update(OccState(seen, seqIk, keys))
    val attempts = keys.toSeq
      .groupBy { case ((w, d, h, _), _) => (w, d, h) }
      .map { case ((w, d, h), ks) =>
        (w, d, h) -> (ks.map(_._2._1).min, ks.map(_._2._2).max, ks.size.toLong)
      }
    attempts.toSeq.sortBy(_._1).map { case ((xw, d, h), (xs, xc, nKeys)) =>
      val conflicting = keys.keysIterator
        .filter { case (w, kd, kh, t) =>
          w != xw && kd == d && kh == h && keys.contains((xw, d, h, t)) }
        .map(_._1)
        .filter { yw =>
          val yc = attempts((yw, d, h))._2
          yc >= xs && (yc < xc || (yc == xc && yw < xw))
        }.toSeq.distinct
      OccOut(xw, d, h, seen, xs, xc, nKeys, conflicting.size.toLong,
        conflicting.nonEmpty,
        if (conflicting.isEmpty) null else conflicting.min)
    }.iterator
  }

  // ---- H4t: streaming ANN serve against the frozen index -----------

  /** A quantized query vector arriving on the realtime serve stream. */
  case class QueryVec(qid: Long, qvec: Array[Long], nsq: Long)

  case class AnnCand(qid: Long, vec_id: Long, cosine: Double, cell: Long)

  case class AnnOut(qid: Long, rank: Int, vec_id: Long, cosine: Double,
      cell: Long)

  /** H4's realtime twin — the day-2 retrieval story of the batch-built
    * ANN index: micro-batched query vectors served against the FROZEN
    * inverted file (H23's refresh discipline: the index between
    * refreshes is immutable, so the serve is a stream-static join,
    * Spark's native shape for it).
    *
    * Stages: (1) probe selection is a per-row flatMap — the centroid
    * table is INDEX-bounded (≤ 256 by H4's MaxCentroids cap) and rides
    * in the closure, the same bounded-broadcast discipline as M18's
    * rule list; scoring replays the exact integer dot + IEEE cosine
    * the batch expression computes, with the batch tie-break
    * (qcent_cos desc, cent_id). (2) candidates come from the
    * stream-static equi-join on the probed cell against the static
    * inverted file — per micro-batch, each query touches only its
    * probed cells' postings. (3) one flatMapGroupsWithState keyed by
    * query id ranks (cosine desc, vec_id) and emits top-k ONCE: the
    * boolean state makes at-least-once query delivery serve
    * exactly-once (a re-delivered query emits nothing), which is the
    * idempotency contract a realtime retrieval endpoint needs.
    * StreamingSpec proves stream ≡ the batch sim_ivf_probe serve
    * under arbitrary micro-batch splits WITH a planted re-delivery. */
  def annServe(queries: Dataset[QueryVec],
               cents: Seq[(Long, Array[Long], Long)],
               assigned: DataFrame, nProbe: Int, k: Int,
               spark: SparkSession): Dataset[AnnOut] = {
    import spark.implicits._
    val probed = queries.flatMap { q =>
      val scored = cents.map { case (cid, cq, cn) =>
        var d = 0L
        var i = 0
        val n = math.min(q.qvec.length, cq.length)
        while (i < n) { d += q.qvec(i) * cq(i); i += 1 }
        (cid, d.toDouble / (math.sqrt(q.nsq.toDouble) * math.sqrt(cn.toDouble)))
      }
      scored.sortBy { case (cid, cos) => (-cos, cid) }.take(nProbe)
        .map { case (cid, _) => (q.qid, q.qvec, q.nsq, cid) }
    }.toDF("qid", "qqvec", "qnsq", "cell")
    val cand = probed.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (graft.functions.VectorExpressions
          .vdotQuantizedNative(col("qqvec"), col("qvec")).cast("double") /
          (sqrt(col("qnsq")) * sqrt(col("nsq")))).as("cosine"),
        col("cell"))
      .as[AnnCand]
    cand.groupByKey(_.qid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        annFn(k) _)
  }

  private[streaming] def annFn(k: Int)(qid: Long, rows: Iterator[AnnCand],
      state: GroupState[Boolean]): Iterator[AnnOut] = {
    if (state.exists) { // re-delivered query: already served, emit nothing
      while (rows.hasNext) rows.next()
      Iterator.empty
    } else {
      state.update(true)
      rows.toSeq.sortBy(c => (-c.cosine, c.vec_id)).take(k).zipWithIndex
        .map { case (c, i) => AnnOut(qid, i + 1, c.vec_id, c.cosine, c.cell) }
        .iterator
    }
  }
}
