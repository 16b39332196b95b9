package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Custom incremental state (SURVEY.md §2.9) — the bespoke CDC
  * materializations that windowed aggregates can't express (running
  * non-algebraic state machines, conditional emissions, per-key
  * TTLs). Every operator here is a `StatefulProcessor` run through
  * `transformWithState`, Spark 4's successor to
  * `[flat]MapGroupsWithState`: typed named state slots in the state
  * store, per-slot TTLConfig and timer callbacks. It needs the RocksDB
  * state-store provider, which `graft.Session` sets.
  *
  * Scale: state is partitioned by key across executors exactly like a
  * streaming aggregation (one entry per key in the state store); use
  * an event-time timer to bound the key universe when keys churn.
  */
// Serializable: the state-transition lambdas below call methods on
// this (stateless) module, so executors deserialize a reference to it.
object StatefulOps extends Serializable {

  case class UserAgg(user_id: Long, n: Long, max_val: Double)

  /** Running count + max per key, emitted on every micro-batch a key
    * changes in (update mode), from a typed value-state slot. */
  class RunningAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), UserAgg] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("agg",
        org.apache.spark.sql.Encoders.product[(Long, Double)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Double)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserAgg] = {
      var (n, m) =
        if (st.exists()) st.get() else (0L, Double.NegativeInfinity)
      rows.foreach { case (_, v) => n += 1; m = math.max(m, v) }
      st.update((n, m))
      Iterator(UserAgg(key, n, m))
    }
  }

  /** Running per-key aggregates over (key, value) pairs (see
    * RunningAggProcessor). */
  def runningUserAggsTws(
      events: Dataset[(Long, Double)]): Dataset[UserAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .transformWithState(new RunningAggProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming sessionization — the incremental twin of the batch
    * per-event session ids (q105, `operators.Sessionize.assign`):
    * state per user is just (second of last event, current session
    * index), O(1) regardless of history. An event landing more than
    * `gapSec` after the user's previous one opens a new session; the
    * event is emitted immediately with its session id. Rows within a
    * micro-batch are ordered by (ts, event_id) inside the group before
    * applying the transition (shuffles don't preserve order); ACROSS
    * batches the operator relies on the changefeed's per-key delivery
    * ordering (the reference's README.md:90) — the same contract every
    * upsert consumer here builds on. This is
    * `sessionizeStreamDynamic` with the same gap on every row.
    * Input (event_id, user_id, ts) → output (event_id, user_id, sess). */
  def sessionizeStreamTws(
      events: Dataset[(Long, Long, java.sql.Timestamp)],
      gapSec: Long = 1800L): Dataset[(Long, Long, Int)] = {
    import events.sparkSession.implicits._
    require(gapSec > 0, s"gapSec must be positive, got $gapSec")
    sessionizeStreamDynamic(
      events.map { case (eid, user, ts) => (eid, user, ts, gapSec) })
  }

  /** DYNAMIC-gap sessionization (s32) — the variant the family lacked:
    * the inactivity gap is PER USER AND PER EVENT, carried on the row
    * (the Spark-first source of a per-key parameter: join the user
    * dimension / config stream upstream of the stateful operator —
    * keyed state then never stores what the join already delivers).
    * The boundary rule: event `i` opens a new session iff it lands
    * more than ITS OWN row's gap after the user's previous event — so
    * a config change applies from the first event that carries it,
    * with no state migration. `sessionizeStreamTws` is this processor
    * fed a constant gap column; state is the O(1) (lastSec, sess) pair.
    * Input (event_id, user_id, ts, gapSec) → (event_id, user_id, sess). */
  class DynamicSessionizeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, java.sql.Timestamp, Long), (Long, Long, Int)] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Int)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Int)]("sess",
        org.apache.spark.sql.Encoders.product[(Long, Int)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Int)] = {
      var (lastSec, sess) =
        if (st.exists()) st.get() else (Long.MinValue, 0)
      val out = rows.toSeq
        .sortBy(r => (r._3.getTime, r._1))
        .map { case (eid, _, ts, gapSec) =>
          val sec = ts.getTime / 1000L
          if (lastSec == Long.MinValue || sec - lastSec > gapSec) sess += 1
          lastSec = sec
          (eid, user, sess)
        }
      st.update((lastSec, sess))
      out.iterator
    }
  }

  /** `DynamicSessionizeProcessor` wired through `transformWithState`. */
  def sessionizeStreamDynamic(
      events: Dataset[(Long, Long, java.sql.Timestamp, Long)])
      : Dataset[(Long, Long, Int)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._2)
      .transformWithState(new DynamicSessionizeProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** One hot-key alert: the key and its running count at the moment
    * it crossed the threshold. */
  case class HotKey(key: Long, n: Long)

  /** The monitor's pure per-key transition (unit-testable without a
    * streaming clock): add this batch's arrivals; the first time the
    * running count reaches the threshold, emit it once. */
  def hotKeyTransition(state: (Long, Boolean), arrivals: Int,
      threshold: Long): ((Long, Boolean), Option[Long]) = {
    val (count, flagged) = state
    val next = count + arrivals
    if (!flagged && next >= threshold) ((next, true), Some(next))
    else ((next, flagged), None)
  }

  /** Streaming hot-key monitor — the continuous twin of the batch
    * skew profile (q126): per-key running arrival counts in the state
    * store, a key emitted ONCE, the first micro-batch its count
    * reaches `threshold`. This is the signal an operator feeds into
    * salting / AQE-skew / broadcast decisions WHILE the workload runs,
    * instead of discovering the hot key in a post-mortem of a stuck
    * task. State per key is (count, flagged, timer) — constant,
    * key-partitioned across executors like any streaming aggregation.
    *
    * A key idle past watermark + TTL is evicted and its count restarts
    * on the next arrival, so the monitor tracks RECENT heat, which is
    * what a re-plan decision wants. Each batch re-registers ONE
    * event-time timer at max(batch max event time, watermark) + ttl
    * (deleting the prior one), and `handleExpiredTimer` clears the
    * key's state when the watermark crosses it. The anchor is the
    * batch's max event time, never the lagging watermark alone: the
    * watermark trails one batch, so anchoring on it would give
    * first-batch state a timeout in the past and the next watermark
    * advance would evict still-hot state. */
  class HotKeyProcessor(threshold: Long, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), HotKey] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Boolean, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Boolean, Long)]("heat",
        org.apache.spark.sql.Encoders.product[(Long, Boolean, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[HotKey] = {
      var n = 0
      var maxMs = Long.MinValue
      rows.foreach { r => n += 1; maxMs = math.max(maxMs, r._2.getTime) }
      val (count, flagged, oldTimer) =
        if (st.exists()) st.get() else (0L, false, Long.MinValue)
      val ((next, nowFlagged), alert) =
        hotKeyTransition((count, flagged), n, threshold)
      val expiry =
        math.max(maxMs, timers.getCurrentWatermarkInMs()) + ttlMs
      if (oldTimer != Long.MinValue) getHandle.deleteTimer(oldTimer)
      getHandle.registerTimer(expiry)
      st.update((next, nowFlagged, expiry))
      alert.map(c => HotKey(key, c)).iterator
    }
    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[HotKey] = {
      st.clear()
      Iterator.empty
    }
  }

  /** The hot-key monitor through `transformWithState` + event-time
    * timers (see HotKeyProcessor). Input (key, event_ts) must be
    * watermarked upstream. */
  def hotKeyStreamTws(events: Dataset[(Long, java.sql.Timestamp)],
      threshold: Long, ttlMs: Long): Dataset[HotKey] = {
    import events.sparkSession.implicits._
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    events
      .groupByKey(_._1)
      .transformWithState(new HotKeyProcessor(threshold, ttlMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Update())
  }

  /** The per-bucket state of the streaming near-dup gate: the SET of
    * prior ids in a MAP state slot. Each UNSEEN id pairs against all
    * priors and joins the set; a re-arrival (at-least-once redelivery)
    * is ONE RocksDB point lookup that emits nothing and leaves the
    * state untouched. The full key iteration only runs for genuinely
    * new ids — exactly when the pair emission needs it — so a hot
    * bucket costs O(new ids × priors) for the emission it must make,
    * never O(priors) per REPEATED arrival. The optional event-time TTL
    * uses HotKeyProcessor's timer discipline: one timer per bucket
    * re-registered at max(batch max event time, watermark) + ttl
    * (never the lagging watermark alone), and `handleExpiredTimer`
    * clears the bucket. */
  class LshGateProcessor(ttlMs: Option[Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, java.sql.Timestamp), (Long, Long)] {
    @transient private var seen:
      org.apache.spark.sql.streaming.MapState[Long, Boolean] = _
    @transient private var timer:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      seen = getHandle.getMapState[Long, Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      timer = getHandle.getValueState[Long]("timer",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(bucket: String,
        rows: Iterator[(String, Long, java.sql.Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var maxMs = Long.MinValue
      rows.foreach { case (_, id, ts) =>
        if (ts != null) maxMs = math.max(maxMs, ts.getTime)
        if (!seen.containsKey(id)) {
          seen.keys().foreach(p =>
            out += ((math.min(p, id), math.max(p, id))))
          seen.updateValue(id, true)
        }
      }
      ttlMs.foreach { ms =>
        val expiry = math.max(maxMs, timers.getCurrentWatermarkInMs()) + ms
        if (timer.exists()) getHandle.deleteTimer(timer.get())
        getHandle.registerTimer(expiry)
        timer.update(expiry)
      }
      out.iterator
    }
    override def handleExpiredTimer(bucket: String,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long)] = {
      seen.clear()
      timer.clear()
      Iterator.empty
    }
  }

  /** Streaming near-dup gate — the continuous form of the batch
    * MinHash/LSH dedup (operators.TextDedup): each arriving document
    * is minhashed entirely map-side, its (seed, sig) bucket keys join
    * the per-bucket STATE of previously-seen ids (LshGateProcessor),
    * candidate pairs against those priors are emitted immediately, and
    * the new id joins its buckets. An ingestion pipeline runs this as
    * the dedup gate IN FRONT of the lake instead of re-scanning the
    * corpus.
    *
    * TTL: pass `eventTimeCol` + `stateTtlMs` to bound the key
    * universe under churn — a bucket that stays idle while the
    * WATERMARK advances past its last arrival + TTL is evicted from
    * the state store; a bucket receiving traffic keeps renewing.
    * Event-time (watermark-driven) timers, not processing-time: they
    * are replay-deterministic, they don't couple state lifetime to
    * wall-clock cluster hiccups, and the engine only fires them when
    * the watermark actually moves.
    *
    * A pair sharing several buckets is emitted once per shared
    * bucket; consumers dedup downstream exactly like the batch form's
    * `.distinct()`. */
  def lshCandidateStreamTws(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, eventTimeCol: Option[String] = None,
      stateTtlMs: Option[Long] = None): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    require(eventTimeCol.isDefined == stateTtlMs.isDefined,
      "stateTtlMs needs eventTimeCol (and vice versa): the TTL is measured against the watermark")
    // delay 0: the watermark tracks max event time directly, so a
    // bucket evicts once the stream moves TTL past its last arrival
    // (callers needing out-of-order tolerance can pre-watermark docs)
    val src = eventTimeCol.fold(docs)(c =>
      docs.withWatermark(c, "0 milliseconds"))
    // the event-time column rides along to the stateful operator: the
    // engine requires the watermarked attribute in its input
    val sigs = graft.operators.TextDedup
      .minhashSignatures(src, idCol, textCol, numHashes,
        carry = eventTimeCol.toSeq)
    val bucket = concat_ws(":", col("seed"), col("sig")).as("bucket")
    val id = col(idCol).cast("long").as("id")
    val ts = eventTimeCol.fold(lit(null).cast("timestamp"))(col)
    val timeMode =
      if (eventTimeCol.isDefined)
        org.apache.spark.sql.streaming.TimeMode.EventTime()
      else org.apache.spark.sql.streaming.TimeMode.None()
    sigs.select(bucket, id, ts.as("ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new LshGateProcessor(stateTtlMs),
        timeMode, OutputMode.Update())
  }

  /** EMBEDDING-SPACE streaming near-dup gate (round 18 — VERDICT r10
    * item 6, completing the multimodal ingest story): s15/s17 gate
    * TEXT arrivals by MinHash bucket state; this is the identical
    * gate for VECTOR arrivals, keyed by q113's signed-random-
    * projection bucket over the integer-quantized embedding
    * (`Similarity.rpLshBuckets` — the same deterministic ±1 matrix
    * and ⌊x·1000⌋ quantization, so streamed buckets equal the batch
    * operator's bit for bit, which is what makes s49's
    * flagged ≡ batch-q113-candidates parity exact). State and
    * emission discipline are LshGateProcessor's verbatim — per-bucket
    * prior ids in MapState (a redelivered id is one point lookup, no
    * re-emission), pairs emitted (min, max) once per shared bucket,
    * optional event-time TTL evicting idle buckets. More `bits` →
    * smaller buckets → higher precision/lower recall; stack several
    * gates (batch stacks seeds) for the banded form. */
  def vectorNearDupStreamTws(vecs: DataFrame, idCol: String,
      vecCol: String, bits: Int = 8, dims: Int = 64,
      eventTimeCol: Option[String] = None,
      stateTtlMs: Option[Long] = None): Dataset[(Long, Long)] = {
    import vecs.sparkSession.implicits._
    require(eventTimeCol.isDefined == stateTtlMs.isDefined,
      "stateTtlMs needs eventTimeCol (and vice versa): the TTL is measured against the watermark")
    val src = eventTimeCol.fold(vecs)(c =>
      vecs.withWatermark(c, "0 milliseconds"))
    val sigs = graft.operators.Similarity
      .rpLshBuckets(src, idCol, vecCol, bits, dims,
        carry = eventTimeCol.toSeq)
    val id = col(idCol).cast("long").as("id")
    val ts = eventTimeCol.fold(lit(null).cast("timestamp"))(col)
    val timeMode =
      if (eventTimeCol.isDefined)
        org.apache.spark.sql.streaming.TimeMode.EventTime()
      else org.apache.spark.sql.streaming.TimeMode.None()
    sigs.select(col("bucket").cast("string").as("bucket"), id, ts.as("ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new LshGateProcessor(stateTtlMs),
        timeMode, OutputMode.Update())
  }

  /** Streaming user-journey transitions — the incremental twin of the
    * batch Markov transition matrix (q132): state per user is ONE
    * value (the last event type seen — constant regardless of
    * history) in a value-state slot, written only once set so the
    * slot never holds a null. Each arrival emits its (src, dst) edge
    * immediately; counting edges into the transition matrix happens
    * on the SINK side (foreachBatch / a batch query over the sink
    * table, as s20 does). Rows within a micro-batch apply in
    * (ts, event_id) order inside the group (shuffles don't preserve
    * order); across batches the operator relies on the changefeed's
    * per-key delivery ordering — the same contract as
    * `sessionizeStreamTws`. Input (event_id, user_id, event_type, ts)
    * → output (src, dst). */
  class TransitionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String, java.sql.Timestamp), (String, String)] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[String] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[String]("last",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, String)] = {
      var last = if (st.exists()) st.get() else null
      val out = rows.toSeq
        .sortBy(r => (r._4.getTime, r._1))
        .flatMap { case (_, _, et, _) =>
          val edge = Option(last).map(l => (l, et))
          last = et
          edge
        }
      if (last != null) st.update(last)
      out.iterator
    }
  }

  /** Transition edges through `transformWithState` (see
    * TransitionProcessor). */
  def transitionStreamTws(
      events: Dataset[(Long, Long, String, java.sql.Timestamp)])
      : Dataset[(String, String)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._2)
      .transformWithState(new TransitionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming STRICT-ORDER funnel (s44) — the continuous twin of
    * `operators.Funnel.strictOrder` / q116: per key, stage k's anchor
    * is the key's FIRST stage-k event strictly after its stage-(k−1)
    * anchor; every stage advance emits immediately as
    * (key, stage_idx 1-based, stage, anchor_ts), so the last stage's
    * row IS the conversion event a downstream alert consumes — no
    * batch recomputation, no per-key event log. State is two numbers
    * (stages reached, last anchor second) regardless of event volume:
    * the greedy chronological scan picks the first qualifying stage-k
    * event, which is exactly the batch form's min-after-anchor, so
    * parity holds whenever a key's events arrive in event-time order
    * across batches (the family's s18 ordering contract; within a
    * batch any order is fine — rows sort on (ts, event_id) first).
    * A regressed key never re-fires: once a stage is anchored it is
    * final, matching the batch semantics where anchors are mins over
    * the full history. */
  class FunnelProcessor(stages: Seq[String])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String, java.sql.Timestamp),
        (Long, Int, String, java.sql.Timestamp)] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Int, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Int, Long)]("funnel",
        org.apache.spark.sql.Encoders.product[(Int, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Int, String, java.sql.Timestamp)] = {
      var (idx, anchorMs) =
        if (st.exists()) st.get() else (0, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, String, java.sql.Timestamp)]
      rows.toSeq.sortBy(r => (r._4.getTime, r._1)).foreach {
        case (_, _, et, ts) =>
          if (idx < stages.length && et == stages(idx) &&
              (idx == 0 || ts.getTime > anchorMs)) {
            anchorMs = ts.getTime
            idx += 1
            out += ((user, idx, stages(idx - 1), ts))
          }
      }
      st.update((idx, anchorMs))
      out.iterator
    }
  }

  /** s45: streaming CADENCE anomaly monitor — the continuous twin of
    * q205's inter-arrival profile and q206's robust screen: per key,
    * an EWMA of inter-arrival gaps (α = 1/4: ewma' = (3·ewma + gap)/4
    * — a power-of-two blend, so the op chain is reproducible exactly
    * by any reference fold) and an alert whenever a gap exceeds
    * `mult` × the PRE-gap EWMA after `minGaps` gaps of warm-up. The
    * alert compares against the ewma BEFORE the offending gap enters
    * it (the gap is real traffic, so it then folds in — a stalled
    * source recovers its baseline instead of alerting forever).
    * O(1) state per key — (lastSec, ewma, nGaps) — regardless of
    * volume; gaps are exact integer seconds on the family's
    * second-truncated grain (s18's contract), and rows fold in
    * (ts, event_id) order so replays are deterministic. */
  /** The cadence fold as a PURE function — the processor below is a
    * thin state-store shell around it, and AlgebraProps pins the
    * invariant that makes the streaming form honest: folding any
    * batch-split of a key's event-time-ordered rows yields the same
    * (state, alerts) as one fold over everything. State is
    * (lastSec, ewma, nGaps); `initState` marks "no event seen". */
  val cadenceInit: (Long, Double, Long) = (Long.MinValue, 0.0, 0L)
  def cadenceFold(state: (Long, Double, Long), key: Long,
      mult: Double, minGaps: Long,
      rows: Seq[(Long, Long, java.sql.Timestamp)])
      : ((Long, Double, Long),
         Seq[(Long, java.sql.Timestamp, Long, Double)]) = {
    var (last, ewma, n) = state
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.sql.Timestamp, Long, Double)]
    rows.sortBy(r => (r._3.getTime, r._1)).foreach { case (_, _, ts) =>
      val sec = ts.getTime / 1000L
      if (last != Long.MinValue) {
        val gap = sec - last
        if (n >= minGaps && gap.toDouble > mult * ewma)
          out += ((key, ts, gap, ewma))
        ewma = if (n == 0L) gap.toDouble
               else (3.0 * ewma + gap.toDouble) / 4.0
        n += 1
      }
      last = sec
    }
    ((last, ewma, n), out.toSeq)
  }

  class CadenceProcessor(mult: Double, minGaps: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, java.sql.Timestamp),
        (Long, java.sql.Timestamp, Long, Double)] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Double, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double, Long)]("cadence",
        org.apache.spark.sql.Encoders.product[(Long, Double, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, java.sql.Timestamp, Long, Double)] = {
      val (next, out) = cadenceFold(
        if (st.exists()) st.get() else cadenceInit,
        key, mult, minGaps, rows.toSeq)
      st.update(next)
      out.iterator
    }
  }

  /** s50: streaming CUSUM level-shift monitor — q226's continuous
    * twin (the batch key finds WHERE a type's rate shifted in
    * history; this flags the shift AS IT HAPPENS): per key, the
    * first `warm` values fix the baseline as their EXACT mean
    * (carried as the integer pair (warm, sumW) — never a float), and
    * every later value folds into the exact cumulative deviation
    * dev_i = warm·Σx − i·sumW (the μ0 division cross-multiplied
    * away, q226's trick); an alert row emits whenever
    * |dev_i| > thresh·warm, i.e. |Σx − i·μ0| > thresh. The
    * deviation is SIGNED — a sustained drop alerts like a spike.
    * O(1) state per key: (nWarm, sumW, i, cum); all integer, so the
    * fold is bit-exact under any batch split (AlgebraProps pins it).
    * Overflow bound (q226's): |dev| ≤ warm·Σx — Long-exact while
    * warm × the key's value total ≤ 9.2e18. */
  val cusumInit: (Long, Long, Long, Long) = (0L, 0L, 0L, 0L)
  def cusumFold(state: (Long, Long, Long, Long), key: Long,
      warm: Long, thresh: Long,
      rows: Seq[(Long, Long, java.sql.Timestamp, Long)])
      : ((Long, Long, Long, Long),
         Seq[(Long, java.sql.Timestamp, Long, Long)]) = {
    var (nw, sumW, i, cum) = state
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.sql.Timestamp, Long, Long)]
    rows.sortBy(r => (r._3.getTime, r._1)).foreach { case (_, _, ts, x) =>
      if (nw < warm) { nw += 1; sumW += x }
      else {
        i += 1; cum += x
        val dev = warm * cum - i * sumW
        if (math.abs(dev) > thresh * warm) out += ((key, ts, dev, i))
      }
    }
    ((nw, sumW, i, cum), out.toSeq)
  }

  class CusumProcessor(warm: Long, thresh: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, java.sql.Timestamp, Long),
        (Long, java.sql.Timestamp, Long, Long)] {
    @transient private var st: org.apache.spark.sql.streaming
      .ValueState[(Long, Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long)]("cusum",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, java.sql.Timestamp, Long, Long)] = {
      val (next, out) = cusumFold(
        if (st.exists()) st.get() else cusumInit,
        key, warm, thresh, rows.toSeq)
      st.update(next)
      out.iterator
    }
  }

  /** `CusumProcessor` wired through `transformWithState`. Input rows
    * are (event_id, key, ts, value); output rows are
    * (key, ts, dev, i) — dev the exact warm-scaled cumulative
    * deviation, i the post-warm-up index. */
  def cusumStreamTws(
      rows: Dataset[(Long, Long, java.sql.Timestamp, Long)],
      warm: Long = 4L, thresh: Long = 10L)
      : Dataset[(Long, java.sql.Timestamp, Long, Long)] = {
    require(warm >= 1L && thresh >= 0L,
      s"cusumStreamTws: bad config warm=$warm thresh=$thresh")
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_._2)
      .transformWithState(new CusumProcessor(warm, thresh),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** s51: streaming BENFORD first-digit monitor — q222's continuous
    * twin (the batch key audits a money column's digit profile in
    * history; this flags a source whose LIVE profile diverges — the
    * fraud / unit-mixup screen an ingest gate runs per source): per
    * key the state is the 9-cell digit histogram plus its total — 10
    * longs, O(1) per key — and every arrival ≥ 1 folds its leading
    * digit in (q222's extraction: the first char of the LONG's
    * decimal string; amounts < 1 are skipped and don't count). The
    * alert rule is ALL-INTEGER: Benford's irrational expectations are
    * pinned as the fixed ppm constants round(log10(1+1/d)·10⁶), and
    * after a warm-up of `warm` counted rows an alert emits whenever
    * max_d |c_d·10⁶ − ppm_d·n| > tauPpm·n — the cross-multiplied
    * form of "some digit's share is off by more than tauPpm
    * millionths", no float anywhere, so the fold is bit-exact under
    * any batch split (AlgebraProps pins it). Overflow bound:
    * c_d·10⁶ ≤ n·10⁶ — Long-exact to 9.2e12 rows per key. */
  val BENFORD_PPM: Array[Long] = Array(
    301030L, 176091L, 124939L, 96910L, 79181L,
    66947L, 57992L, 51153L, 45757L)
  val benfordInit: (Long, Long, Long, Long, Long, Long, Long, Long,
      Long, Long) = (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
  def benfordFold(
      state: (Long, Long, Long, Long, Long, Long, Long, Long, Long, Long),
      key: Long, warm: Long, tauPpm: Long,
      rows: Seq[(Long, Long, java.sql.Timestamp, Long)])
      : ((Long, Long, Long, Long, Long, Long, Long, Long, Long, Long),
         Seq[(Long, java.sql.Timestamp, Long, Int, Long)]) = {
    var n = state._1
    val c = Array(state._2, state._3, state._4, state._5, state._6,
      state._7, state._8, state._9, state._10)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.sql.Timestamp, Long, Int, Long)]
    rows.sortBy(r => (r._3.getTime, r._1)).foreach { case (_, _, ts, x) =>
      if (x >= 1L) {
        val d = x.toString.charAt(0) - '1' // 0-based digit index
        n += 1; c(d) += 1
        if (n >= warm) {
          var wi = 0; var wdev = -1L
          var i = 0
          while (i < 9) {
            val dev = math.abs(c(i) * 1000000L - BENFORD_PPM(i) * n)
            if (dev > wdev) { wdev = dev; wi = i }
            i += 1
          }
          if (wdev > tauPpm * n) out += ((key, ts, n, wi + 1, wdev))
        }
      }
    }
    ((n, c(0), c(1), c(2), c(3), c(4), c(5), c(6), c(7), c(8)), out.toSeq)
  }

  class BenfordProcessor(warm: Long, tauPpm: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, java.sql.Timestamp, Long),
        (Long, java.sql.Timestamp, Long, Int, Long)] {
    @transient private var st: org.apache.spark.sql.streaming
      .ValueState[(Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long, Long, Long,
          Long, Long, Long, Long)]("benford",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long,
          Long, Long, Long, Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, java.sql.Timestamp, Long, Int, Long)] = {
      val (next, out) = benfordFold(
        if (st.exists()) st.get() else benfordInit,
        key, warm, tauPpm, rows.toSeq)
      st.update(next)
      out.iterator
    }
  }

  /** `BenfordProcessor` wired through `transformWithState`. Input
    * rows are (event_id, key, ts, amount); output rows are
    * (key, ts, n, digit, devnum) — digit the worst-deviating leading
    * digit, devnum the exact integer |c_d·10⁶ − ppm_d·n| (divide by
    * n for ppm). */
  def benfordStreamTws(
      rows: Dataset[(Long, Long, java.sql.Timestamp, Long)],
      warm: Long = 10L, tauPpm: Long = 100000L)
      : Dataset[(Long, java.sql.Timestamp, Long, Int, Long)] = {
    require(warm >= 1L && tauPpm >= 0L,
      s"benfordStreamTws: bad config warm=$warm tauPpm=$tauPpm")
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_._2)
      .transformWithState(new BenfordProcessor(warm, tauPpm),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** `CadenceProcessor` wired through `transformWithState`. Input rows
    * are (event_id, key, ts); output rows are
    * (key, ts, gap_s, ewma_before). */
  def cadenceStreamTws(
      events: Dataset[(Long, Long, java.sql.Timestamp)],
      mult: Double = 4.0, minGaps: Long = 3L)
      : Dataset[(Long, java.sql.Timestamp, Long, Double)] = {
    require(mult > 1.0 && minGaps >= 1L,
      s"cadenceStreamTws: bad config mult=$mult minGaps=$minGaps")
    import events.sparkSession.implicits._
    events
      .groupByKey(_._2)
      .transformWithState(new CadenceProcessor(mult, minGaps),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** s46: streaming SESSION ATTRIBUTION — the continuous twin of
    * q212: each purchase emits immediately with its session's
    * first-touch type and the immediately-preceding event's type
    * (last-touch; a purchase that OPENS its session credits 'entry').
    * The session boundary is the batch family's exact rule (q144/
    * q105/q212: strict > gapSec on the second-truncated grain), so
    * the emitted rows equal the batch form's per-purchase frame on
    * the same events. O(1) state per key — (lastSec, firstTouch,
    * prevType) — a session's history is never buffered; rows fold in
    * (ts, event_id) order under the family's per-key event-time-order
    * contract. */
  /** The attribution fold as a PURE function (the cadence-fold
    * discipline): state is (lastSec, firstTouch, prevType) with
    * lastSec = Long.MinValue marking "no event seen"; AlgebraProps
    * pins batch-split invariance. */
  val attributionInit: (Long, String, String) = (Long.MinValue, "", "")
  def attributionFold(state: (Long, String, String), key: Long,
      gapSec: Long, convType: String,
      rows: Seq[(Long, Long, String, Double, java.sql.Timestamp)])
      : ((Long, String, String),
         Seq[(Long, java.sql.Timestamp, String, String, Double)]) = {
    var (last, firstTouch, prevType) = state
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.sql.Timestamp, String, String, Double)]
    rows.sortBy(r => (r._5.getTime, r._1)).foreach {
      case (_, _, et, value, ts) =>
        val sec = ts.getTime / 1000L
        if (last == Long.MinValue || sec - last > gapSec) {
          firstTouch = et; prevType = ""
        }
        if (et == convType)
          out += ((key, ts, firstTouch,
            if (prevType.isEmpty) "entry" else prevType, value))
        prevType = et
        last = sec
    }
    ((last, firstTouch, prevType), out.toSeq)
  }

  class AttributionProcessor(gapSec: Long, convType: String)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String, Double, java.sql.Timestamp),
        (Long, java.sql.Timestamp, String, String, Double)] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, String, String)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, String, String)]("attrib",
        org.apache.spark.sql.Encoders.product[(Long, String, String)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, String, Double, java.sql.Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, java.sql.Timestamp, String, String, Double)] = {
      val (next, out) = attributionFold(
        if (st.exists()) st.get() else attributionInit,
        key, gapSec, convType, rows.toSeq)
      st.update(next)
      out.iterator
    }
  }

  /** `AttributionProcessor` wired through `transformWithState`. Input
    * rows are (event_id, key, type, value, ts); output rows are
    * (key, ts, first_touch, last_touch, value) — one per conversion. */
  def attributionStreamTws(
      events: Dataset[(Long, Long, String, Double, java.sql.Timestamp)],
      gapSec: Long = 1800L, convType: String = "purchase")
      : Dataset[(Long, java.sql.Timestamp, String, String, Double)] = {
    require(gapSec > 0L, s"attributionStreamTws: bad gapSec $gapSec")
    import events.sparkSession.implicits._
    events
      .groupByKey(_._2)
      .transformWithState(new AttributionProcessor(gapSec, convType),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** s47: streaming CONSECUTIVE-pattern detector — the continuous
    * twin of q215's session-chain pattern counts, as a KMP automaton:
    * per key the state is just (lastSec, matchedPrefixLen) — O(1)
    * regardless of volume and O(pattern) regardless of session length
    * (no chain string is ever built). A session gap (strict > gapSec,
    * the family's rule) resets the automaton; a COMPLETED match
    * emits immediately and resets to zero — reset-on-complete is what
    * makes the automaton count EXACTLY q215's greedy non-overlapping
    * replace-shrink occurrences (leftmost non-overlapping matching ≡
    * KMP with restart after each hit — AlgebraProps pins the
    * equivalence against the string form on arbitrary streams). The
    * failure table handles self-overlapping patterns (error,error)
    * that a naive restart-at-zero would undercount mid-stream. */
  def kmpFailure(pattern: Seq[String]): Array[Int] = {
    val fail = Array.fill(pattern.length)(0)
    var k = 0
    for (i <- 1 until pattern.length) {
      while (k > 0 && pattern(i) != pattern(k)) k = fail(k - 1)
      if (pattern(i) == pattern(k)) k += 1
      fail(i) = k
    }
    fail
  }

  /** The pattern fold as a PURE function (the cadence/attribution
    * discipline); state = (lastSec, matched). */
  val patternInit: (Long, Int) = (Long.MinValue, 0)
  def patternFold(state: (Long, Int), key: Long, gapSec: Long,
      pattern: Seq[String], fail: Array[Int],
      rows: Seq[(Long, Long, String, java.sql.Timestamp)])
      : ((Long, Int), Seq[(Long, java.sql.Timestamp)]) = {
    var (last, m) = state
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.sql.Timestamp)]
    rows.sortBy(r => (r._4.getTime, r._1)).foreach { case (_, _, et, ts) =>
      val sec = ts.getTime / 1000L
      if (last == Long.MinValue || sec - last > gapSec) m = 0
      while (m > 0 && pattern(m) != et) m = fail(m - 1)
      if (pattern(m) == et) m += 1
      if (m == pattern.length) { out += ((key, ts)); m = 0 }
      last = sec
    }
    ((last, m), out.toSeq)
  }

  class PatternProcessor(gapSec: Long, pattern: Seq[String])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String, java.sql.Timestamp),
        (Long, java.sql.Timestamp)] {
    private val fail = kmpFailure(pattern)
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Int)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Int)]("pattern",
        org.apache.spark.sql.Encoders.product[(Long, Int)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, java.sql.Timestamp)] = {
      val (next, out) = patternFold(
        if (st.exists()) st.get() else patternInit,
        key, gapSec, pattern, fail, rows.toSeq)
      st.update(next)
      out.iterator
    }
  }

  /** `PatternProcessor` wired through `transformWithState`. Input
    * rows are (event_id, key, type, ts); output rows are (key, ts)
    * — one per completed occurrence, stamped with the completing
    * event's time. */
  def patternStreamTws(
      events: Dataset[(Long, Long, String, java.sql.Timestamp)],
      pattern: Seq[String], gapSec: Long = 1800L)
      : Dataset[(Long, java.sql.Timestamp)] = {
    require(pattern.nonEmpty, "patternStreamTws: empty pattern")
    require(gapSec > 0L, s"patternStreamTws: bad gapSec $gapSec")
    import events.sparkSession.implicits._
    events
      .groupByKey(_._2)
      .transformWithState(new PatternProcessor(gapSec, pattern),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** `FunnelProcessor` wired through `transformWithState`. Input rows
    * are (event_id, key, type, ts); stage names select rows exactly as
    * the batch form's `typeCol` filter does. */
  def funnelStreamTws(
      events: Dataset[(Long, Long, String, java.sql.Timestamp)],
      stages: Seq[String])
      : Dataset[(Long, Int, String, java.sql.Timestamp)] = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"funnelStreamTws: bad stage list $stages")
    import events.sparkSession.implicits._
    events
      .groupByKey(_._2)
      .transformWithState(new FunnelProcessor(stages),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }
}
