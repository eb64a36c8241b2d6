package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues,
  TTLConfig, ValueState}

/** Incremental per-key aggregation over a stream — parity with the
  * reference's `streaming_groupby` (cpp/include/cudf/groupby.hpp:478-520:
  * persistent hash table, batchwise feed, bounded state).
  *
  * Spark mapping: flatMapGroupsWithState with explicit GroupState — the
  * state store is the persistent hash table and micro-batches are the
  * feeds. The reference bounds state with a hard max_distinct_keys cap
  * (it errors past the cap); the idiomatic Spark bound is state
  * EVICTION — processing-time timeout (here) or event-time watermark —
  * which keeps state finite on unbounded key domains instead of failing.
  */
object StatefulOps {

  case class KeyAgg(key: String, count: Long, sum: Double)

  implicit private val stateEnc: Encoder[(Long, Double)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
  implicit private val outEnc: Encoder[KeyAgg] = Encoders.product[KeyAgg]

  case class SessionOut(user: Long, start_us: Long, end_us: Long,
    n_events: Long, sum_value: Double)

  implicit private val sessOutEnc: Encoder[SessionOut] =
    Encoders.product[SessionOut]

  /** The shared session fold of [[sessionizeStream]] (fMGWS) and
    * [[SessionProcessor]] (transformWithState) — one definition so the
    * two APIs provably agree. Drops only rows STRICTLY behind the
    * watermark (Spark delivers rows at eventTime == watermark, dropping
    * strictly-older ones; filtering those too would silently lose
    * boundary events), splits on gaps IN BOTH DIRECTIONS — a
    * within-watermark event more than a gap BEFORE the open session's
    * start cannot merge into it (it would fabricate a session spanning
    * an internal silence); it becomes its own candidate session —
    * and accumulates (start, end, n, sum) in event-time MICROS.
    * Returns the updated open-session state (n == 0 if no rows survived
    * and none existed) plus the sessions CLOSED BY SPLITS, in order —
    * the caller decides WHEN those may be emitted (see [[advanceSession]]:
    * only once the watermark passes end + gap). */
  private def foldSession(user: Long,
      rows: Iterator[(Long, java.sql.Timestamp, Double)],
      state0: (Long, Long, Long, Double), wmMs: Long,
      gapMillis: Long): ((Long, Long, Long, Double), List[SessionOut]) = {
    var (start, end, n, sum) = state0
    var closed = List.empty[SessionOut]
    rows.toSeq.sortBy(_._2.getTime)
      .iterator.filter(_._2.getTime >= wmMs).foreach { case (_, t, v) =>
      val tUs = t.getTime * 1000
      if (n > 0 && tUs - end > gapMillis * 1000) {
        closed ::= SessionOut(user, start, end, n, sum)
        start = tUs; end = tUs; n = 1L; sum = v
      } else if (n > 0 && start - tUs > gapMillis * 1000) {
        // out-of-order stray > gap BEFORE the open session: its own
        // single-event session (only one open session is tracked, the
        // documented streaming-sessionizer granularity)
        closed ::= SessionOut(user, tUs, tUs, 1L, v)
      } else {
        start = math.min(start, tUs); end = math.max(end, tUs)
        n += 1; sum += v
      }
    }
    ((start, end, n, sum), closed.reverse)
  }

  /** Session state carried across batches: the open session plus
    * PENDING closed sessions. A gap split alone does not prove a
    * session emittable in Append mode — an out-of-order event within
    * gap of its end may still arrive while the watermark allows it —
    * so splits ride in state until the watermark passes end + gap. */
  private[streaming] case class SessAcc(start: Long, end: Long, n: Long,
      sum: Double, pending: Seq[SessionOut])
  implicit private val sessAccEnc: Encoder[SessAcc] = Encoders.product[SessAcc]
  private val EmptyAcc = SessAcc(Long.MaxValue, Long.MinValue, 0L, 0.0, Nil)

  /** One step of the sessionizer shared by BOTH state APIs and by both
    * the input and the timer paths: fold the batch's rows, close the
    * open session if the watermark already proves it quiet, emit every
    * pending session whose end + gap the watermark has passed, and
    * compute the next timer (the earliest emission point among what
    * remains, clamped above the watermark as the APIs require). */
  private def advanceSession(user: Long,
      rows: Iterator[(Long, java.sql.Timestamp, Double)],
      acc0: SessAcc, wmMs: Long, gapMillis: Long)
      : (SessAcc, List[SessionOut], Option[Long]) = {
    val (open, closedNow) = foldSession(user, rows,
      (acc0.start, acc0.end, acc0.n, acc0.sum), wmMs, gapMillis)
    var (start, end, n, sum) = open
    var pendingAll = acc0.pending ++ closedNow
    if (n > 0 && end / 1000 + gapMillis <= wmMs) {
      // no event >= the watermark can extend it (any such event would
      // gap-split anyway): the open session is closed
      pendingAll = pendingAll :+ SessionOut(user, start, end, n, sum)
      start = Long.MaxValue; end = Long.MinValue; n = 0L; sum = 0.0
    }
    val (emit, keep) =
      pendingAll.partition(s => s.end_us / 1000 + gapMillis <= wmMs)
    val nextTimeout =
      if (n == 0 && keep.isEmpty) None
      else {
        val cands = keep.map(_.end_us / 1000 + gapMillis) ++
          (if (n > 0) Seq(end / 1000 + gapMillis) else Nil)
        Some(math.max(cands.min, wmMs + 1))
      }
    (SessAcc(start, end, n, sum, keep),
      emit.sortBy(s => (s.start_us, s.end_us)).toList, nextTimeout)
  }

  /** Event-time sessionization with timeout EMISSION: a session closes
    * and is emitted once the watermark passes its end + gap — the
    * streaming counterpart of [[graft.operators.Sessionize]] (batch) and
    * of session_window, but with explicit state so arbitrary session
    * payloads can be accumulated. Rows are (user, eventTime, value); the
    * event-time column must be the one carrying the stream's watermark
    * (Spark requires it to flow into the stateful operator). */
  def sessionizeStream(
      grouped: org.apache.spark.sql.KeyValueGroupedDataset[Long, (Long, java.sql.Timestamp, Double)],
      gapMillis: Long): Dataset[SessionOut] = {
    grouped.flatMapGroupsWithState[SessAcc, SessionOut](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      case (user, rows, state: GroupState[SessAcc]) =>
        // same step for the input and the timeout path — on timeout the
        // rows iterator is empty and the advanced watermark does the work
        val wmMs = state.getCurrentWatermarkMs()
        val (acc, emit, nextTimeout) = advanceSession(user, rows,
          state.getOption.getOrElse(EmptyAcc), wmMs, gapMillis)
        nextTimeout match {
          case Some(ts) =>
            state.update(acc)
            // EventTimeTimeout rejects timestamps <= current watermark;
            // advanceSession already clamped above wmMs.
            state.setTimeoutTimestamp(ts)
          case None => if (state.exists) state.remove()
        }
        emit.iterator
    }
  }

  /** [[sessionizeStream]] on the transformWithState API (Spark 4.x's
    * successor to flatMapGroupsWithState): typed ValueState + explicit
    * event-time TIMERS instead of a per-key timeout timestamp, and the
    * RocksDB state-store provider required by the API gives
    * changelog-checkpointed, memory-bounded state — the configuration
    * SCALING.md prescribes for 100 TB streaming anyway.
    *
    * Timer protocol: every batch re-registers the single timer at
    * session end + gap (stale timers are deleted, except a firing one,
    * which the operator deletes after its handler); an expired timer
    * closes the session only if it is still quiet (expiry ≥ end + gap) —
    * a timer raced by a session-extending event is simply ignored. */
  class SessionProcessor(gapMillis: Long) extends StatefulProcessor[
      Long, (Long, java.sql.Timestamp, Double), SessionOut] {
    @transient private var session: ValueState[SessAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState("session", sessAccEnc, TTLConfig.NONE)

    /** `firing` is the expiry of the timer being handled, if any: the
      * operator deletes that timer itself once the handler returns. */
    private def step(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Double)],
        wmMs: Long, firing: Option[Long]): Iterator[SessionOut] = {
      val (acc, emit, nextTimeout) = advanceSession(user, rows,
        if (session.exists) session.get else EmptyAcc, wmMs, gapMillis)
      getHandle.listTimers().filterNot(firing.contains)
        .foreach(getHandle.deleteTimer)
      nextTimeout match {
        case Some(ts) =>
          session.update(acc)
          getHandle.registerTimer(ts)
        case None => if (session.exists) session.clear()
      }
      emit.iterator
    }

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Double)],
        timerValues: TimerValues): Iterator[SessionOut] =
      step(user, rows, timerValues.getCurrentWatermarkInMs, None)

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] =
      // the advanced watermark does the closing; a timer raced by a
      // session-extending event simply re-registers via step()
      step(user, Iterator.empty, timerValues.getCurrentWatermarkInMs,
        Some(expiredTimerInfo.getExpiryTimeInMs()))
  }

  /** Run [[SessionProcessor]] over a watermarked grouped stream.
    * Requires the RocksDB state-store provider
    * (`spark.sql.streaming.stateStore.providerClass`). */
  def sessionizeStreamTws(
      grouped: KeyValueGroupedDataset[Long, (Long, java.sql.Timestamp, Double)],
      gapMillis: Long): Dataset[SessionOut] =
    grouped.transformWithState(new SessionProcessor(gapMillis),
      TimeMode.EventTime(), OutputMode.Append())

  /** Running (count, sum) per key across micro-batches. If
    * `ttlMillis > 0`, idle keys are evicted after the TTL (bounded
    * state); an evicted key restarts from zero on its next event. */
  def runningAgg(grouped: KeyValueGroupedDataset[String, (String, Double)],
      ttlMillis: Long = 0L): Dataset[KeyAgg] = {
    val timeout = if (ttlMillis > 0) GroupStateTimeout.ProcessingTimeTimeout()
                  else GroupStateTimeout.NoTimeout()
    grouped.flatMapGroupsWithState[(Long, Double), KeyAgg](
      OutputMode.Update(), timeout) {
      case (key, rows, state: GroupState[(Long, Double)]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val (c0, s0) = state.getOption.getOrElse((0L, 0.0))
          var c = c0; var s = s0
          rows.foreach { r => c += 1; s += r._2 }
          state.update((c, s))
          if (ttlMillis > 0) state.setTimeoutDuration(ttlMillis)
          Iterator.single(KeyAgg(key, c, s))
        }
    }
  }

  /** One tagged event of an as-of stream pair: side "L" (reference
    * stream, e.g. quotes) or "R" (probe stream, e.g. trades). */
  case class AsOfIn(key: Long, ts: java.sql.Timestamp, side: String,
    value: Double)

  /** Probe event joined to the latest reference event at-or-before it;
    * left_* are None when no reference event has arrived yet. */
  case class AsOfOut(key: Long, right_ts_us: Long, right_value: Double,
    left_ts_us: Option[Long], left_value: Option[Double])

  implicit private val asofOutEnc: Encoder[AsOfOut] =
    Encoders.product[AsOfOut]

  /** Streaming AS-OF join — the streaming counterpart of
    * [[graft.operators.AsOfJoin]]: each "R" event is joined to the most
    * recent "L" event at or before it. Feed it the UNION of both
    * streams tagged with `side`, grouped by key: state per key is ONE
    * (ts, value) tuple — the latest reference event — so state size is
    * |keys| × 16 bytes regardless of stream length (with optional
    * processing-time TTL eviction on top, like [[runningAgg]]).
    *
    * Batch rows are processed in event-time order, so an L and a
    * later R in the same micro-batch match. Cross-batch ORDER is only
    * as good as the watermark: an L arriving after an R it should have
    * matched (late, out of order across batches) updates state for
    * FUTURE probes but cannot retro-match — the documented append-mode
    * tradeoff (the batch operator is the exact formulation). */
  def asofJoinStream(grouped: KeyValueGroupedDataset[Long, AsOfIn],
      ttlMillis: Long = 0L): Dataset[AsOfOut] = {
    val timeout = if (ttlMillis > 0) GroupStateTimeout.ProcessingTimeTimeout()
                  else GroupStateTimeout.NoTimeout()
    grouped.flatMapGroupsWithState[(Long, Double), AsOfOut](
      OutputMode.Append(), timeout) {
      case (key, rows, state: GroupState[(Long, Double)]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var last = state.getOption
          val out = List.newBuilder[AsOfOut]
          // tie-break equal timestamps L-before-R so an equal-ts
          // reference deterministically matches its probe ("at or
          // before" includes "at"); iterator order after the shuffle
          // is otherwise arbitrary
          rows.toSeq.sortBy(r =>
            (r.ts.getTime, if (r.side == "L") 0 else 1)).foreach { r =>
            val tUs = r.ts.getTime * 1000
            r.side match {
              case "L" =>
                // a LATE cross-batch L (older than stored state) must
                // not regress the reference — "most recent at or
                // before" is monotone in event time
                if (last.forall(_._1 <= tUs)) last = Some((tUs, r.value))
              case "R" =>
                out += AsOfOut(key, tUs, r.value,
                  last.map(_._1), last.map(_._2))
              case other =>
                // fail at the source instead of emitting corrupt rows
                throw new IllegalArgumentException(
                  s"asofJoinStream: side must be 'L' or 'R', got '$other'")
            }
          }
          last.foreach(state.update)
          if (ttlMillis > 0) state.setTimeoutDuration(ttlMillis)
          out.result().iterator
        }
    }
  }

  /** Streaming exact dedup — the streaming counterpart of
    * [[graft.operators.Dedup.exactSurvivors]]: the first row per key
    * survives, later duplicates are dropped, and per-key dedup state is
    * evicted once the watermark passes `delay` (so state is bounded by
    * the dup-arrival horizon, not the stream's lifetime — the property
    * that makes streaming ingest dedup viable at 100 TB/day).
    *
    * Built on dropDuplicatesWithinWatermark: unlike plain
    * dropDuplicates, the event-time column does NOT need to be part of
    * the key — two occurrences with different timestamps still dedup,
    * which is what content-digest keys need. */
  def streamingDedup(df: org.apache.spark.sql.DataFrame,
      eventTimeCol: String, delay: String,
      keys: Seq[String]): org.apache.spark.sql.DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming twin of the NEAR-dup delta screen
    * ([[graft.operators.Dedup.nearDupDeltaPairs]]): admit only stream
    * documents with no verified near-duplicate (minhash-band collision
    * + exact Jaccard >= threshold) in the static, already-ingested
    * corpus. Returns a batch→batch function for
    * `writeStream.foreachBatch` — the idiomatic Spark wiring for this
    * shape, since the anti-join's probe side (band-collided ids) is
    * itself derived from the stream, which a native stream-static join
    * can't express. Inside the batch it is exactly the batch screen:
    * band keys shuffle (id, band) pairs only, each side's signature
    * kernel runs once, candidates verify by exact Jaccard.
    *
    * At 100 TB: the corpus-side work — tokenize + the numHashes-deep
    * signature kernel + band explode — is paid ONCE here, outside the
    * returned closure: the token and band indexes are built and
    * persisted up front, and each micro-batch joins against those
    * materialized frames (foreachBatch replans the static side per
    * batch, so an unindexed corpus would re-run the kernel every few
    * seconds). Compose with [[streamingDedup]] upstream for
    * exact/within-stream dedup; this stage handles cross-corpus NEAR
    * dups only. Call [[graft.operators.IngestScreen.close]] when
    * rebuilding over a refreshed corpus to release the persisted
    * index. */
  def nearDupScreenBatch(corpus: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.8)
      : graft.operators.IngestScreen = {
    import graft.operators.Dedup
    val cToks = Dedup.corpusTokenIndex(corpus, idCol, textCol).persist()
    val cBands = Dedup.corpusBandIndex(cToks, numHashes, bands).persist()
    // persist() is lazy — force materialization NOW so the corpus-scale
    // tokenize/signature cost is genuinely prepaid (as documented)
    // instead of landing inside the first micro-batch's trigger.
    cBands.count()
    new graft.operators.IngestScreen(batch => {
      import org.apache.spark.sql.functions.col
      val collided = Dedup
        .nearDupDeltaPairsIndexed(cToks, cBands, batch, idCol, textCol,
          numHashes, bands, threshold)
        .select(col("delta_id").as(idCol)).distinct()
      batch.join(collided, Seq(idCol), "left_anti")
    }, () => { cToks.unpersist(); cBands.unpersist() })
  }

  /** One input row of a weighted-reservoir stream. */
  case class WRIn(group: String, id: Long, weight: Double)
  /** One reservoir slot: portable priority + the sampled row. */
  case class WREntry(q: Double, id: Long, weight: Double)
  case class WROut(group: String, id: Long, weight: Double)

  implicit private val wrStateEnc: Encoder[Seq[WREntry]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  implicit private val wrOutEnc: Encoder[WROut] = Encoders.product[WROut]

  /** Streaming weighted-priority reservoir — the streaming counterpart
    * of [[graft.operators.Curation.sampleWeightedByGroup]]: per group,
    * the k rows with the smallest priorities q = u/w, where u is the
    * portable md5-60 [[graft.plans.PortableHash]] of (seed, id).
    *
    * Mergeability does the work: "k smallest of a union" is computable
    * from "k smallest so far" merged with the new batch — the same
    * property that lets the batch form plan a partial top-k — so after
    * ANY sequence of micro-batches the state is EXACTLY the batch
    * sample of everything seen. Arrival order, batch boundaries, and
    * replays (same id ⇒ same priority; entries dedup by id) can never
    * change the result — parity is tested against the batch operator.
    *
    * State per group is ≤ k (q, id, weight) triples; each batch emits
    * the group's current sample (Update mode). Rows with NULL-ish
    * (NaN) or non-positive weight are excluded, matching the batch
    * contract. */
  def weightedReservoirStream(grouped: KeyValueGroupedDataset[String, WRIn],
      k: Int, seed: String): Dataset[WROut] = {
    require(k > 0, "k must be positive")
    def priority(id: Long, w: Double): Double =
      graft.plans.PortableHash.md5_60(
        (seed + "|" + id.toString)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .toDouble / 1152921504606846976.0 / w // 2^60, then the weight
    grouped.flatMapGroupsWithState[Seq[WREntry], WROut](
      OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      case (group, rows, state: GroupState[Seq[WREntry]]) =>
        val fresh = rows.collect {
          case r if r.weight > 0.0 && !r.weight.isNaN =>
            WREntry(priority(r.id, r.weight), r.id, r.weight)
        }
        val merged = (state.getOption.getOrElse(Seq.empty) ++ fresh)
          .distinctBy(_.id)
          .sortBy(e => (e.q, e.id))
          .take(k)
        state.update(merged)
        merged.iterator.map(e => WROut(group, e.id, e.weight))
    }
  }

  case class DriftOut(winStart: Long, n: Long, ksNum: Long, tvdNum: Long,
    den: Long)

  implicit private val driftStateEnc: Encoder[Map[Long, Long]] =
    Encoders.kryo[Map[Long, Long]]
  implicit private val driftOutEnc: Encoder[DriftOut] =
    Encoders.product[DriftOut]

  /** The exact-rational drift numerators shared with the batch
    * operator's contract ([[graft.operators.Curation.driftReport]],
    * binWidth = 1): KS = max_v |C_ref·n_g − C_g·n_ref| and
    * TVD numerator = Σ_v |c_g·n_ref − c_ref·n_g|, both over the common
    * denominator n_ref·n_g — pure integer arithmetic, so the streaming
    * and batch paths can never drift from EACH OTHER. */
  private[graft] def driftNums(g: Map[Long, Long],
      ref: Map[Long, Long]): (Long, Long, Long) = {
    // Cross-products accumulate in BigInt, mirroring the batch
    // operator's DECIMAL(38,0) exactness (n_ref·n_g overflows Long past
    // ~3e9-count histograms); emission narrows back to Long with a
    // LOUD failure rather than a silent wrap, so the "streaming can
    // never drift from batch" contract holds or aborts, never lies.
    val ng = BigInt(g.values.sum)
    val nr = BigInt(ref.values.sum)
    var cg = BigInt(0); var cr = BigInt(0)
    var ks = BigInt(0); var tvd = BigInt(0)
    (g.keySet ++ ref.keySet).toSeq.sorted.foreach { v =>
      val dg = BigInt(g.getOrElse(v, 0L)); val dr = BigInt(ref.getOrElse(v, 0L))
      cg += dg; cr += dr
      ks = ks.max((cr * ng - cg * nr).abs)
      tvd += (dg * nr - dr * ng).abs
    }
    def toL(x: BigInt, what: String): Long = {
      require(x.isValidLong,
        s"driftStream $what numerator $x exceeds Long; widen DriftOut " +
          "to decimal before monitoring histograms this hot")
      x.toLong
    }
    (toL(ks, "KS"), toL(tvd, "TVD"), toL(nr * ng, "denominator"))
  }

  /** Streaming distribution-drift monitor — the per-window twin of the
    * batch [[graft.operators.Curation.driftReport]]: per event-time
    * window, accumulate a histogram of an integer metric in state;
    * when the watermark closes the window (event-time timeout at
    * winStart + winMillis), emit ONE row of exact integer drift
    * numerators against the broadcast reference histogram. State per
    * window is the metric's value histogram (domain-bounded, not
    * row-bounded); rows strictly behind the watermark are dropped by
    * Spark before they reach the operator. Consumers alert on
    * ksNum/den or tvdNum/(2·den) exceeding a threshold.
    *
    * Rows are (eventTime, metric) TUPLES of the watermarked dataset's
    * ORIGINAL columns — group with `ds.groupByKey(win of _._1)`, no
    * mapValues: re-serializing the value would mint new attributes that
    * lose the watermark tag and the analyzer rejects the event-time
    * timeout (the sessionizeStream contract). */
  def driftStream(
      grouped: KeyValueGroupedDataset[Long, (java.sql.Timestamp, Long)],
      refCounts: Map[Long, Long], winMillis: Long): Dataset[DriftOut] = {
    require(winMillis > 0, "winMillis must be positive")
    require(refCounts.nonEmpty && refCounts.values.forall(_ > 0),
      "reference histogram must be non-empty with positive counts")
    grouped.flatMapGroupsWithState[Map[Long, Long], DriftOut](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      case (winStart, rows, state: GroupState[Map[Long, Long]]) =>
        if (state.hasTimedOut) {
          val hist = state.getOption.getOrElse(Map.empty)
          state.remove()
          val (ks, tvd, den) = driftNums(hist, refCounts)
          Iterator.single(
            DriftOut(winStart, hist.values.sum, ks, tvd, den))
        } else {
          var hist = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { case (_, v) =>
            hist = hist.updated(v, hist.getOrElse(v, 0L) + 1L)
          }
          state.update(hist)
          // EventTimeTimeout rejects timestamps <= current watermark —
          // a window the watermark already passed fires next batch
          val close = winStart + winMillis
          state.setTimeoutTimestamp(
            math.max(close, state.getCurrentWatermarkMs() + 1))
          Iterator.empty
        }
    }
  }
}
