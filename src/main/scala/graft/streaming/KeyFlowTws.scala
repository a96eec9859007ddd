package graft.streaming

import graft.fold.{FoldOption, TickOption}
import graft.model.{Record, Snapshot}
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming._

/** The per-key engine on `transformWithState` (Spark 4.x arbitrary stateful
  * processing v2) — the preferred runtime (SURVEY.md §7.1 step 4): named
  * timers match the reference's per-key `Set[Instant]` wakeups
  * (reference timer/Timers.scala:12-66), state lives in the RocksDB state
  * store, and the processor carries the same fold/tick/offset-dedup
  * semantics as [[KeyFlow]].
  *
  * Requires `spark.sql.streaming.stateStore.providerClass =
  * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`.
  *
  * Commit mode: the flow entry points turn on RocksDB changelog
  * checkpointing, so a microbatch commits one changelog file per store
  * instead of a flush, a local checkpoint and an SST upload per store.
  * A session that sets
  * `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled`
  * itself keeps its value; `false` opts out. A checkpoint may move between
  * the two modes across restarts. Local checkpoint files go through
  * [[LocalCheckpointFileManager]] (java.nio, no process per file) unless
  * the session names another `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * Idle timer invariant: a live key has exactly one pending `maxIdle`
  * timer, at or before `processedAtMs + maxIdle` (its deadline). The timer
  * is registered when the key gets its first state and is not moved while
  * the key stays active; activity only advances `processedAtMs`. When the
  * timer fires before the deadline, [[handleExpiredTimer]] re-arms it at
  * the deadline and emits nothing. When the deadline has passed too, the
  * key ticks in that batch, as a timer set at the deadline would have.
  * A removed key has no pending timer. The exception is state expired by
  * `stateTtl`, which leaves its timer behind. It fires into no state, or
  * checks a later incarnation's deadline like that key's own timer does,
  * so no deadline ticks twice.
  */
class KeyFlowProcessor[S](
    fold: FoldOption[S, Record],
    tick: TickOption[S],
    config: KeyFlowConfig,
    stateEnc: Encoder[FlowState[S]])
  extends StatefulProcessorWithInitialState[String, KeyFlow.RecordEnv, KeyOutput[S], FlowState[S]] {

  @transient private var state: ValueState[FlowState[S]] = _
  // offset-domain timer basis (T9): the partition-clock value the last
  // offset tick re-armed at — separate state cell so FlowState's wire
  // format (and the external snapshot format) is untouched
  @transient private var offsetBasis: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val ttl = config.stateTtl
      .map(d => new TTLConfig(java.time.Duration.ofMillis(d.toMillis)))
      .getOrElse(TTLConfig.NONE)
    state = getHandle.getValueState[FlowState[S]]("flowState", stateEnc, ttl)
    // the basis ages out WITH the flow state: a TTL-expired key must not
    // leave a basis cell behind (unbounded residue) nor have a stale basis
    // greet its next incarnation
    if (config.tickEveryOffsets.isDefined)
      offsetBasis = getHandle.getValueState[Long]("offsetTimerBasis",
        org.apache.spark.sql.Encoders.scalaLong, ttl)
  }

  /** Eager recovery seed (reference KeyStateOf.eagerRecovery +
    * kafkaEagerRecovery, persistence-kafka package.scala:58-174): a fresh
    * query — fresh checkpoint, no Spark state — starts from per-key state
    * read out of an EXTERNAL store. The seeded snapshot offset arms the
    * P9 replay guard, so re-delivery of already-folded records is a no-op
    * exactly as on an in-checkpoint restart. processedAtMs re-bases to the
    * local timer domain (a previous job's clock means nothing here) and
    * stays in lockstep with the registered timer. */
  override def handleInitialState(
      key: String,
      initial: FlowState[S],
      timerValues: TimerValues): Unit = {
    val now = config.timerDomain match {
      case TimerDomain.Clock => timerValues.getCurrentProcessingTimeInMs()
      case TimerDomain.Watermark => initial.processedAtMs
    }
    state.update(initial.copy(processedAtMs = now))
    config.maxIdle.foreach(d => getHandle.registerTimer(now + d.toMillis))
    // arm the offset timer from the seeded snapshot offset: the recovered
    // key's next window starts where the previous job's fold left off
    config.tickEveryOffsets.foreach(_ => offsetBasis.update(initial.snapshot.offset))
  }

  override def handleInputRows(
      key: String,
      rows: Iterator[KeyFlow.RecordEnv],
      timerValues: TimerValues): Iterator[KeyOutput[S]] = {
    val sorted = rows.toArray.sortBy(_.record.offset)
    if (sorted.isEmpty) return Iterator.empty
    // one store read: `get()` is null when absent, and `exists` is itself a get
    val prev = Option(state.get())
    var snapOffset = prev.map(_.snapshot.offset).getOrElse(Long.MinValue)
    var current: Option[S] = prev.map(_.snapshot.value)
    val maxSeen = math.max(
      prev.map(_.maxPartitionOffset).getOrElse(Long.MinValue),
      sorted.iterator.map(_.partitionMaxOffset).max)
    // Watermark domain: a microbatch quantizes the watermark, so a record
    // can arrive event-time-idle (ts - basis > maxIdle) before any batch
    // ran with a watermark past the key's deadline. In a continuous-
    // watermark world the timer fired BEFORE that record — so fire it
    // retroactively here (tick, then tombstone-or-continue exactly like
    // handleExpiredTimer). Makes event-time expiry deterministic in the
    // data, independent of batch boundaries.
    val retro = scala.collection.mutable.ArrayBuffer.empty[KeyOutput[S]]
    val retroGapMs: Long = config.timerDomain match {
      case TimerDomain.Watermark if config.maxIdle.isDefined => config.maxIdle.get.toMillis
      case _ => Long.MaxValue
    }
    var basis = prev.map(_.processedAtMs).getOrElse(Long.MinValue)
    var firstFolded = Long.MinValue
    sorted.foreach { e =>
      if (e.record.offset > snapOffset) { // replay dedup guard (P9)
        if (firstFolded == Long.MinValue) firstFolded = e.record.offset
        // null-timestamp records are TIMELESS — fold but never expire or
        // advance the basis (twin of KeyFlow.update's guard: an unguarded
        // MinValue ts would underflow the gap check into a spurious fire)
        val ts = if (e.record.timestamp == null) Long.MinValue
          else e.record.timestamp.getTime
        if (ts != Long.MinValue && current.isDefined &&
            basis != Long.MinValue && ts - basis > retroGapMs) {
          val ticked = tick.run(current)
          if (config.removeOnIdle || ticked.isEmpty) {
            // emit the closing state THEN the tombstone: a state that both
            // formed and expired inside this batch would otherwise never
            // appear in the changelog
            retro += KeyOutput[S](key, snapOffset, current, tombstone = false)
            retro += KeyOutput[S](key, snapOffset, None, tombstone = true)
            current = None
          } else {
            // the timer path (handleExpiredTimer) emits the ticked state —
            // the retroactive path must too, or the changelog depends on
            // how the stream was batched
            retro += KeyOutput[S](key, snapOffset, ticked, tombstone = false)
            current = ticked
          }
        }
        current = fold.run(current, e.record)
        snapOffset = e.record.offset
        if (ts > basis) basis = ts
      }
    }
    // offset-domain user timer (T9): tick when the key's source-partition
    // clock has advanced >= n offsets past the armed basis; re-arm
    // window-aligned (a multi-window jump ticks once — TimerWindow
    // semantics). The ticked state flows into the final emission below; a
    // None tick removes the key through the ordinary removal branch.
    config.tickEveryOffsets.foreach { n =>
      // prev.isEmpty = a FRESH state incarnation: any surviving basis cell
      // belongs to a dead incarnation (e.g. flowState TTL'd out between
      // the two) and must be re-armed at this incarnation's first fold,
      // not fire a spurious tick against the old clock position
      val armBasis =
        if (prev.isDefined && offsetBasis.exists) offsetBasis.get()
        else if (prev.isDefined) prev.get.snapshot.offset
        else firstFolded
      // written EVERY invocation, even when the value is unchanged: TWS
      // value-state TTL refreshes per CELL on update, and flowState is
      // rewritten each batch — an unchanged basis left unwritten would
      // expire mid-window under stateTtl while the key stays alive,
      // silently re-arming at the current offset (a skipped tick). The
      // 8-byte rewrite is the price of basis-TTL lockstep with flowState.
      if (armBasis != Long.MinValue)
        offsetBasis.update(armBasis)
      if (current.isDefined && armBasis != Long.MinValue &&
          maxSeen != Long.MinValue && maxSeen - armBasis >= n) {
        current = tick.run(current)
        offsetBasis.update(armBasis + ((maxSeen - armBasis) / n) * n)
      }
    }
    val lagged = config.maxOffsetDifference.exists(d => maxSeen - snapOffset > d)
    current match {
      case Some(s) if !lagged =>
        // timer basis in the configured domain: wall clock, or the key's
        // max event time folded so far (monotone — a late batch must not
        // move an event-time timer backwards)
        val now = config.timerDomain match {
          case TimerDomain.Clock => timerValues.getCurrentProcessingTimeInMs()
          case TimerDomain.Watermark => basis
        }
        state.update(FlowState(Snapshot(snapOffset, "", s), now, maxSeen))
        // a live key keeps the timer it was given with its first state:
        // moving the deadline forward moves processedAtMs only, and the
        // timer re-arms itself at the deadline when it fires early
        if (prev.isEmpty) config.maxIdle.foreach(d => getHandle.registerTimer(now + d.toMillis))
        retro.iterator ++ Iterator.single(KeyOutput(key, snapOffset, Some(s), tombstone = false))
      case _ =>
        // removed keys must not leave a pending timer; the timer sits at
        // or before the deadline, so it is found by listing, not computed
        if (prev.isDefined && config.maxIdle.isDefined)
          getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
        state.clear()
        if (config.tickEveryOffsets.isDefined) offsetBasis.clear()
        retro.iterator ++ Iterator.single(KeyOutput[S](key, snapOffset, None, tombstone = true))
    }
  }

  override def handleExpiredTimer(
      key: String,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[KeyOutput[S]] = {
    val st = state.get()
    if (st == null) return Iterator.empty
    val maxIdleMs = config.maxIdle.fold(0L)(_.toMillis)
    val deadline = st.processedAtMs + maxIdleMs
    // the timer's own clock: Spark fires a timer once this reaches its expiry
    val clock = config.timerDomain match {
      case TimerDomain.Clock => timerValues.getCurrentProcessingTimeInMs()
      case TimerDomain.Watermark => timerValues.getCurrentWatermarkInMs()
    }
    if (deadline > clock) {
      // the key was active after this timer was armed: wait for the deadline
      getHandle.registerTimer(deadline)
      Iterator.empty
    } else {
      val ticked = tick.run(Some(st.snapshot.value))
      val remove = config.removeOnIdle || ticked.isEmpty
      if (remove) {
        state.clear()
        if (config.tickEveryOffsets.isDefined) offsetBasis.clear()
        Iterator.single(KeyOutput[S](key, st.snapshot.offset, None, tombstone = true))
      } else {
        // the new basis is the current time in the timer's domain, not the
        // deadline (mirroring the classic engine's timed-out branch): when
        // the watermark jumped more than maxIdle past the deadline,
        // re-arming at deadline + maxIdle would land at or below the
        // watermark and fire again next microbatch — one spurious tick per
        // maxIdle of event-time gap. This way a long gap ticks exactly
        // once, matching the retroactive path in handleInputRows.
        state.update(st.copy(
          snapshot = st.snapshot.copy(value = ticked.get), processedAtMs = clock))
        getHandle.registerTimer(clock + maxIdleMs)
        Iterator.single(KeyOutput(key, st.snapshot.offset, ticked, tombstone = false))
      }
    }
  }
}

object KeyFlowTws {

  /** Keyed stateful fold with timers via transformWithState. The `maxIdle`
    * timer runs in `config.timerDomain`: processing time, or event time
    * (fires when the query watermark passes the key's last event time +
    * maxIdle — declare a watermark on `records` first, e.g.
    * `records.withWatermark("timestamp", "0 seconds")`). Null-key records
    * are dropped (reference PartitionFlow.scala:160-164). Installs the
    * session defaults of [[KeyFlow.installSessionDefaults]]: changelog
    * commits and [[LocalCheckpointFileManager]]. */
  def flow[S](
      records: Dataset[Record],
      fold: FoldOption[S, Record],
      tick: TickOption[S] = TickOption.id[S],
      config: KeyFlowConfig = KeyFlowConfig())(
      implicit stateEnc: Encoder[FlowState[S]],
      outEnc: Encoder[KeyOutput[S]]): Dataset[KeyOutput[S]] = {
    val (timeMode, keyedGroups) = prepare(records, config)
    keyedGroups.transformWithState(
      new KeyFlowProcessor[S](fold, tick, config, stateEnc),
      timeMode,
      OutputMode.Update())
  }

  /** Shared front half of [[flow]]/[[flowWithInitialState]]: the
    * stateTtl/timer-domain guard, the TimeMode derivation, the null-key
    * drop, partition-clock enrichment, and keying. ONE body because the
    * guard and the TimeMode match are safety-critical — a new
    * TimerDomain handled in one entry point but not the other would be
    * a silent divergence. */
  private def prepare(records: Dataset[Record], config: KeyFlowConfig)
      : (TimeMode, org.apache.spark.sql.KeyValueGroupedDataset[String, KeyFlow.RecordEnv]) = {
    import records.sparkSession.implicits._
    KeyFlow.installSessionDefaults(records.sparkSession)
    require(config.stateTtl.isEmpty || config.timerDomain == TimerDomain.Clock,
      "stateTtl is processing-time-domain only (TWS TTL requires TimeMode.ProcessingTime)")
    val timeMode = (config.maxIdle, config.timerDomain) match {
      case (None, _) if config.stateTtl.isDefined => TimeMode.ProcessingTime()
      case (None, _) => TimeMode.None()
      case (Some(_), TimerDomain.Clock) => TimeMode.ProcessingTime()
      case (Some(_), TimerDomain.Watermark) => TimeMode.EventTime()
    }
    val keyed = records.filter((r: Record) => r.key != null)
    val enriched =
      if (config.maxOffsetDifference.isDefined || config.tickEveryOffsets.isDefined)
        KeyFlow.withPartitionClock(keyed)
      else keyed.map(r => KeyFlow.RecordEnv(r, Long.MinValue))
    (timeMode, enriched.groupByKey((e: KeyFlow.RecordEnv) => config.keyOf(e.record)))
  }

  /** [[flow]] seeded with per-key initial state — the cross-JOB eager
    * recovery of the reference's external-store persistence (K1–K3 /
    * KeyStateOf.eagerRecovery): a brand-new query (fresh checkpoint)
    * begins from state read out of e.g.
    * [[graft.state.ExternalSnapshots.readLatest]], and the seeded snapshot
    * offsets gate replayed records exactly like an in-checkpoint restart
    * (the parity case "cross-job eager recovery" in `ParityCases` proves
    * count continuity + replay idempotence). */
  def flowWithInitialState[S](
      records: Dataset[Record],
      fold: FoldOption[S, Record],
      initial: Dataset[(String, FlowState[S])],
      tick: TickOption[S] = TickOption.id[S],
      config: KeyFlowConfig = KeyFlowConfig())(
      implicit stateEnc: Encoder[FlowState[S]],
      outEnc: Encoder[KeyOutput[S]]): Dataset[KeyOutput[S]] = {
    import records.sparkSession.implicits._
    val (timeMode, keyedGroups) = prepare(records, config)
    keyedGroups.transformWithState(
      new KeyFlowProcessor[S](fold, tick, config, stateEnc),
      timeMode,
      OutputMode.Update(),
      initial.groupByKey(_._1).mapValues(_._2))
  }
}
