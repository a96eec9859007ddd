package graft.streaming

import graft.fold.{FoldOption, TickOption}
import graft.model.{Record, Snapshot}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.concurrent.duration.Duration

/** Per-key streaming engine configuration (reference timer/TimerFlowOf.scala
  * defaults: persistEvery 1 min, maxIdle 10 min, maxOffsetDifference
  * 100 000).
  *
  * Semantics mapping, deliberate and documented:
  *  - `persistEvery` is SUBSUMED: Spark commits state + offsets atomically
  *    every microbatch — a stronger guarantee than the reference's periodic
  *    flush + commit gating (reference PartitionFlow.scala:232-267), so
  *    there is nothing to configure.
  *  - `maxIdle` maps to a processing-time timeout. In the reference, unload
  *    evicts a key from memory while Cassandra keeps the state; in Spark the
  *    state store IS the durable store, so on timeout we run the user tick
  *    and, if `removeOnIdle`, delete the key (state TTL).
  *  - `timerDomain` selects the CLOCK the `maxIdle` timer reads (reference
  *    timer/Timestamp.scala:6-10 carries clock/watermark/offset;
  *    timer/KafkaTimer.scala:16-45 fires a timer per domain):
  *    [[TimerDomain.Clock]] = processing time (wall clock);
  *    [[TimerDomain.Watermark]] = event time — the timer fires when the
  *    QUERY WATERMARK passes the key's last event time + `maxIdle`, with no
  *    new records required for that key. Watermark mode requires the caller
  *    to declare a watermark on the input (`records.withWatermark(
  *    "timestamp", ...)` before [[KeyFlow.flow]]/[[KeyFlowTws.flow]]).
  *  - `maxOffsetDifference` (offset-domain timers) has no Spark clock; the
  *    engine attaches a per-input-partition max-offset "clock" to each
  *    batch (KeyFlow.withPartitionClock) and evicts keys whose held offset
  *    lags more than this. NOTE: in the reference, unload evicts from
  *    memory while Cassandra keeps the state; here eviction DELETES durable
  *    state (tombstone) — pair with ExternalSnapshots if the reference's
  *    persist-then-evict pattern is needed. The clock advances only for
  *    partitions receiving data (SURVEY.md §7.4).
  */
/** Which clock a `maxIdle` timer reads — the reference's timer domains
  * (timer/Timestamp.scala:6-10, minus offsets which are
  * `KeyFlowConfig.maxOffsetDifference`). */
sealed trait TimerDomain
object TimerDomain {
  /** Wall/processing time: fires `maxIdle` after the key was last touched. */
  case object Clock extends TimerDomain
  /** Event time: fires when the query watermark passes the key's max seen
    * event timestamp + `maxIdle` — late-data-safe idle expiry. */
  case object Watermark extends TimerDomain
}

final case class KeyFlowConfig(
    maxIdle: Option[Duration] = None,
    removeOnIdle: Boolean = true,
    maxOffsetDifference: Option[Long] = None,
    namespaceByTopic: Boolean = false,
    timerDomain: TimerDomain = TimerDomain.Clock,
    /** Native state TTL in the transformWithState engine (RocksDB-level
      * expiry): state untouched for this long reads as absent, so the next
      * record folds from scratch — the reference's `RecordExpiration`
      * (CassandraKeys.scala:146,204-208) INSIDE the engine, complementing
      * the read-time TTL of [[graft.state.ExternalSnapshots]]. Unlike
      * `maxIdle` no tick runs and no tombstone is emitted — the state
      * just ages out. Processing-time domain only; ignored by the classic
      * flatMapGroupsWithState engine (no state-TTL support there). */
    stateTtl: Option[Duration] = None,
    /** USER-FACING OFFSET-DOMAIN TIMER (T9 — reference
      * timer/KafkaTimer.scala:16-45 `KafkaTimer.Offset` +
      * `TimerWindow.of(value, window)`): run the Tick every time the key's
      * source-partition offset clock advances `n` offsets past the last
      * tick basis — volume-based wakeups ("every 100k records on my
      * partition"), the third timer domain next to Clock and Watermark.
      * The basis arms at the key's first folded offset and re-arms
      * window-aligned (basis += fired·n, so a clock jump of several
      * windows ticks once, like TimerWindow). A tick returning None
      * removes the key (`removeOnIdle` is NOT consulted — offset ticks
      * are periodic wakeups, not idle expiry). Emulation bound (SURVEY
      * §7.4): the partition clock is observed when the key receives
      * records, so a key with no traffic ticks on its next record —
      * the reference's poll-driven clock has the same data-driven
      * granularity per partition. transformWithState engine only. */
    tickEveryOffsets: Option[Long] = None) {
  /** Grouping key: the reference namespaces state by (topic, key) so equal
    * keys on different topics never share state (KafkaKey.scala:6-11);
    * opt in when subscribing to multiple topics. */
  private[streaming] def keyOf(r: graft.model.Record): String =
    if (namespaceByTopic) r.topic + "\u0001" + r.key else r.key
}

/** Durable per-key state: the user state wrapped in a [[Snapshot]] carrying
  * the offset up to which it is current (replay dedup, reference
  * snapshot/SnapshotFold.scala:10-24) plus bookkeeping mirroring
  * `Timestamps` (reference timer/Timestamps.scala:13-76).
  *
  * `processedAtMs` is the key's timer BASIS in the configured
  * [[TimerDomain]]: wall-clock ms of the last touch (Clock) or the max
  * event-time ms folded so far (Watermark). The key's deadline is
  * `processedAtMs + maxIdle`: [[KeyFlow]] sets its timeout there, and
  * [[KeyFlowTws]] keeps one timer at or before it, re-armed at the
  * deadline when it fires early. */
final case class FlowState[S](
    snapshot: Snapshot[S],
    processedAtMs: Long,
    maxPartitionOffset: Long)

/** Changelog output of the flow: one row per touched key per microbatch;
  * `state = None` is a tombstone (key deleted). */
final case class KeyOutput[S](
    key: String,
    offset: Long,
    state: Option[S],
    tombstone: Boolean)

/** The per-key unit of computation (reference core/.../KeyFlow.scala:15-89,
  * FoldToState.scala:39-91, TickToState.scala:32-49) re-expressed as a
  * `flatMapGroupsWithState` update function:
  *
  *  - records fold in offset order with the snapshot-offset dedup guard, so
  *    replaying a microbatch after failure is idempotent;
  *  - a fold returning None mid-batch deletes-then-may-revive; only the
  *    END-of-batch None removes durable state (reference
  *    FoldToState.scala:62-88 defers deletion to batch end);
  *  - on processing-time timeout the tick runs (reference Tick, O11);
  *    None — or `removeOnIdle` — removes the key.
  */
object KeyFlow {
  /** Spark's conf that makes a RocksDB state store commit a changelog per
    * microbatch instead of a snapshot upload. */
  val ChangelogConfKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Set the engine's streaming defaults on the session, each only where
    * the session has no value for it, so a user's explicit setting wins:
    * [[LocalCheckpointFileManager]] as the checkpoint file manager, and
    * changelog checkpointing for RocksDB state. Called by the flow entry
    * points, before the caller's `start()`; it applies to every streaming
    * query the session starts afterwards. */
  private[streaming] def installSessionDefaults(spark: SparkSession): Unit =
    Seq(LocalCheckpointFileManager.ConfKey -> classOf[LocalCheckpointFileManager].getName,
        ChangelogConfKey -> "true").foreach { case (k, v) =>
      if (spark.conf.getOption(k).isEmpty) spark.conf.set(k, v)
    }

  /** Record plus the max offset observed in its OWN source
    * (topic, partition) this batch — the emulated partition-wide offset
    * clock (SURVEY §7.4): it advances only for partitions receiving data,
    * unlike the reference's clock which advances on every poll. */
  final case class RecordEnv(record: Record, partitionMaxOffset: Long)

  /** Length-prefixed binary codec for [[Record]] spill files — exact
    * field-level round-trip (null key/value/headers/timestamp included;
    * sub-millisecond Timestamp nanos preserved). Not a wire format: the
    * file never leaves the task that wrote it. */
  private[streaming] object RecordSpillCodec {
    private def writeString(out: java.io.DataOutputStream, s: String): Unit =
      if (s == null) out.writeInt(-1)
      else { val b = s.getBytes("UTF-8"); out.writeInt(b.length); out.write(b) }
    private def readString(in: java.io.DataInputStream): String = {
      val n = in.readInt()
      if (n < 0) null
      else { val b = new Array[Byte](n); in.readFully(b); new String(b, "UTF-8") }
    }
    def write(out: java.io.DataOutputStream, r: Record): Unit = {
      writeString(out, r.topic)
      out.writeInt(r.partition)
      out.writeLong(r.offset)
      if (r.timestamp == null) out.writeBoolean(false)
      else {
        out.writeBoolean(true)
        out.writeLong(r.timestamp.getTime)
        out.writeInt(r.timestamp.getNanos)
      }
      out.writeInt(r.timestampType)
      writeString(out, r.key)
      if (r.value == null) out.writeInt(-1)
      else { out.writeInt(r.value.length); out.write(r.value) }
      if (r.headers == null) out.writeInt(-1)
      else {
        out.writeInt(r.headers.size)
        r.headers.foreach { case (k, v) => writeString(out, k); writeString(out, v) }
      }
    }
    def read(in: java.io.DataInputStream): Record = {
      val topic = readString(in)
      val partition = in.readInt()
      val offset = in.readLong()
      val ts =
        if (!in.readBoolean()) null
        else {
          val t = new java.sql.Timestamp(in.readLong())
          t.setNanos(in.readInt())
          t
        }
      val tsType = in.readInt()
      val key = readString(in)
      val vLen = in.readInt()
      val value = if (vLen < 0) null else { val b = new Array[Byte](vLen); in.readFully(b); b }
      val hN = in.readInt()
      val headers =
        if (hN < 0) null
        else (0 until hN).map(_ => (readString(in), readString(in))).toMap
      Record(topic, partition, offset, ts, tsType, key, value, headers)
    }
  }

  /** Records held in heap per Spark partition before the clock pass spills
    * the remainder to local disk. 64k records ≈ a typical
    * `maxOffsetsPerTrigger` share; past it the two-pass buffer costs one
    * sequential local write+read instead of unbounded executor heap. */
  private[streaming] val ClockSpillAfter = 1 << 16

  /** Attach the per-(topic, partition) max offset to every record (one
    * pass per Spark partition per batch — the same bound as the
    * reference's poll batch, PartitionFlow.scala:160-176).
    *
    * Offsets are only comparable within ONE source (topic, partition), and
    * a Spark partition can hold several (upstream coalesce/repartition,
    * multi-topic subscribe) — so each record gets the clock of its own
    * source partition, never the Spark-partition-wide max: comparing a
    * key's offset against another source partition's clock could wrongly
    * tombstone durable state. (A Kafka key lives in exactly one partition
    * of its topic, so the per-key lag check then sees one clock domain.)
    *
    * The clock is only known after the full scan, and streaming plans
    * reject even local sorts, so a buffer is unavoidable — but it is NOT
    * allowed to be the executor heap: beyond [[ClockSpillAfter]] records
    * the remainder streams through a length-prefixed spill file on local
    * disk (deleted on task completion), keeping heap O(spill threshold +
    * #source partitions) however large the microbatch. */
  def withPartitionClock(records: Dataset[Record])(
      implicit env: Encoder[RecordEnv]): Dataset[RecordEnv] =
    records.mapPartitions(it => clockIterator(it, ClockSpillAfter))

  /** The directory the clock pass spills into: Spark's configured
    * executor scratch space, NOT `java.io.tmpdir` — on containerized
    * hosts /tmp is commonly a small (or RAM-backed) tmpfs while
    * `spark.local.dir` / `SPARK_LOCAL_DIRS` point at the large shuffle
    * disks, and a spill that lands on tmpfs consumes the very heap the
    * spill exists to protect. Reads this process's environment, the live
    * `SparkEnv` conf and the JVM property, and resolves them through
    * [[resolveSpillDir]]. */
  private[streaming] def spillDirFor(partitionId: Int): java.nio.file.Path =
    resolveSpillDir(sys.env,
      Option(org.apache.spark.SparkEnv.get).map(_.conf)
        .getOrElse(new org.apache.spark.SparkConf(false)),
      System.getProperty("java.io.tmpdir"), partitionId)

  /** [[spillDirFor]] as a function of its arguments alone. The dirs are
    * the ones Spark's own `Utils.getConfiguredLocalDirs` picks (through
    * [[org.apache.spark.graft.LocalDirs]]), from the first source that is
    * set:
    *  1. `LOCAL_DIRS` (comma list), only when `CONTAINER_ID` is set — a
    *     YARN container; Spark shuffles their order, and refuses a
    *     container without them;
    *  1. `SPARK_EXECUTOR_DIRS` (`File.pathSeparator` list) — set by the
    *     standalone worker for every executor it launches;
    *  1. `SPARK_LOCAL_DIRS` (comma list);
    *  1. `spark.local.dir` in `conf` (comma list);
    *  1. `tmpDir`, the JVM's `java.io.tmpdir`.
    *
    * Blank entries are dropped; if the source Spark picks names no
    * non-blank dir, the spill goes to `tmpDir` rather than to the empty
    * path. With several dirs the partition id picks one (`floorMod`, so -1
    * is safe), spreading concurrent spills across spindles like the disk
    * block manager does. The chosen dir is created if missing. */
  private[streaming] def resolveSpillDir(
      env: Map[String, String], conf: org.apache.spark.SparkConf,
      tmpDir: String, partitionId: Int): java.nio.file.Path = {
    val named = org.apache.spark.graft.LocalDirs.configured(conf, env, tmpDir)
      .map(_.trim).filter(_.nonEmpty)
    val configured = if (named.nonEmpty) named else Array(tmpDir)
    val dir = java.nio.file.Paths.get(
      configured(math.floorMod(partitionId, configured.length)))
    java.nio.file.Files.createDirectories(dir)
    dir
  }

  /** Backstop for spill cleanup when [[clockIterator]] runs OUTSIDE a
    * Spark task (library callers, tests): no TaskContext completion
    * listener exists there, so an abandoned iterator (downstream
    * take/limit) would hold its fd and spill file until JVM exit. The
    * Cleaner closes/deletes when the iterator becomes unreachable. */
  private val SpillCleaner = java.lang.ref.Cleaner.create()

  /** The two-pass kernel; spill threshold and directory injectable for
    * tests (`spillDir = None` resolves the executor scratch dir).
    *
    * Note the spill is written PLAINTEXT: Spark's own shuffle/spill
    * encryption (`spark.io.encryption.enabled`) wraps streams through
    * `private[spark]` machinery this library cannot reach. Deployments
    * whose record payloads must never touch disk unencrypted should rely
    * on encrypted local volumes for `spark.local.dir` (the usual cluster
    * posture) or raise [[ClockSpillAfter]]. */
  private[streaming] def clockIterator(
      it: Iterator[Record], spillAfter: Int,
      spillDir: Option[java.nio.file.Path] = None): Iterator[RecordEnv] = {
    if (!it.hasNext) return Iterator.empty
    val clocks = scala.collection.mutable.HashMap.empty[(String, Int), Long]
    def observe(r: Record): Unit = {
      val k = (r.topic, r.partition)
      val prev = clocks.getOrElse(k, Long.MinValue)
      if (r.offset > prev) clocks.update(k, r.offset)
    }
    val heap = new scala.collection.mutable.ArrayBuffer[Record]
    while (it.hasNext && heap.length < spillAfter) {
      val r = it.next(); observe(r); heap += r
    }
    var spill: java.nio.file.Path = null
    var spilled = 0L
    if (it.hasNext) {
      val pid = Option(org.apache.spark.TaskContext.get())
        .map(_.partitionId()).getOrElse(0)
      spill = java.nio.file.Files.createTempFile(
        spillDir.getOrElse(spillDirFor(pid)), "graft-clock-spill", ".bin")
      // task failure between here and iterator exhaustion must not leak
      // the file; completion listener covers success too (delete is
      // idempotent)
      val sp = spill
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ =>
          java.nio.file.Files.deleteIfExists(sp)))
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(spill), 1 << 16))
      try {
        while (it.hasNext) {
          val r = it.next(); observe(r)
          RecordSpillCodec.write(out, r); spilled += 1
        }
      } finally out.close()
    }
    def env(r: Record) = RecordEnv(r, clocks((r.topic, r.partition)))
    val heapOut = heap.iterator.map(env)
    if (spill == null) heapOut
    else {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(spill), 1 << 16))
      // a downstream limit/take may abandon the iterator mid-file: close
      // the stream at task completion too (idempotent), not only on the
      // fully-consumed path
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ =>
          try in.close() catch { case _: java.io.IOException => () }))
      val total = spilled
      val spillOut = new Iterator[RecordEnv] {
        private var read = 0L
        def hasNext: Boolean = read < total
        def next(): RecordEnv = {
          val r = RecordSpillCodec.read(in)
          read += 1
          if (read == total) { in.close(); java.nio.file.Files.deleteIfExists(spill) }
          env(r)
        }
      }
      if (org.apache.spark.TaskContext.get() == null) {
        // library caller (no task): reclaim an abandoned iterator's fd +
        // file on GC — the action must not capture spillOut itself
        val (cIn, cSpill) = (in, spill)
        SpillCleaner.register(spillOut, () => {
          try cIn.close() catch { case _: java.io.IOException => () }
          java.nio.file.Files.deleteIfExists(cSpill)
        })
      }
      heapOut ++ spillOut
    }
  }

  def update[S](
      fold: FoldOption[S, Record],
      tick: TickOption[S],
      config: KeyFlowConfig)(
      key: String,
      records: Iterator[RecordEnv],
      state: GroupState[FlowState[S]]): Iterator[KeyOutput[S]] = {

    // Re-arm the maxIdle timer in the configured domain. Watermark mode
    // clamps the basis to the current watermark so a re-registration after
    // a tick (basis already passed) lands strictly in the future — Spark
    // rejects event-time timeouts at or before the watermark.
    def setTimeout(basisMs: Long): Unit =
      config.maxIdle.foreach { d =>
        config.timerDomain match {
          case TimerDomain.Clock => state.setTimeoutDuration(d.toMillis)
          case TimerDomain.Watermark =>
            try state.setTimeoutTimestamp(
              math.max(basisMs, state.getCurrentWatermarkMs()) + d.toMillis)
            catch {
              // batch execution has no watermark and never fires timers;
              // event-time expiry still happens via the retroactive path,
              // so skipping the (unfireable) registration is exact
              case _: UnsupportedOperationException => ()
            }
        }
      }

    if (state.hasTimedOut) {
      val prev = state.getOption
      val ticked = tick.run(prev.map(_.snapshot.value))
      val remove = config.removeOnIdle || ticked.isEmpty
      if (remove) {
        state.remove()
        Iterator.single(KeyOutput[S](key, prev.map(_.snapshot.offset).getOrElse(-1L), None, tombstone = true))
      } else {
        val st = prev.get
        // watermark domain: the basis advances with the re-armed timer
        // (max(basis, wm) — the same instant setTimeout arms from), so
        // the retroactive-expiry check cannot re-tick the SAME gap when a
        // record arrives later (mirrors KeyFlowProcessor's expiry basis)
        val newBasis = config.timerDomain match {
          case TimerDomain.Watermark =>
            math.max(st.processedAtMs, state.getCurrentWatermarkMs())
          case TimerDomain.Clock => st.processedAtMs
        }
        state.update(st.copy(
          snapshot = st.snapshot.copy(value = ticked.get), processedAtMs = newBasis))
        setTimeout(newBasis)
        Iterator.single(KeyOutput[S](key, st.snapshot.offset, ticked, tombstone = false))
      }
    } else {
      // Offset order within the batch: the shuffle does not preserve Kafka
      // partition order, so sort the key's batch (bounded by per-key batch
      // volume — the reference materializes the same NonEmptyList per poll,
      // PartitionFlow.scala:160-176).
      val sorted = records.toArray.sortBy(_.record.offset)
      if (sorted.isEmpty) {
        setTimeout(state.getOption.map(_.processedAtMs).getOrElse(Long.MinValue))
        Iterator.empty
      } else {
        val prev = state.getOption
        var snapOffset = prev.map(_.snapshot.offset).getOrElse(Long.MinValue)
        var current: Option[S] = prev.map(_.snapshot.value)
        val maxSeen = math.max(
          prev.map(_.maxPartitionOffset).getOrElse(Long.MinValue),
          sorted.iterator.map(_.partitionMaxOffset).max)
        // Watermark domain: retroactive expiry — see the twin comment in
        // KeyFlowProcessor.handleInputRows. A record arriving event-time-
        // idle (ts - basis > maxIdle) fires the pending timer BEFORE it
        // folds, making event-time expiry batch-boundary-independent.
        val retro = scala.collection.mutable.ArrayBuffer.empty[KeyOutput[S]]
        val retroGapMs: Long = config.timerDomain match {
          case TimerDomain.Watermark if config.maxIdle.isDefined => config.maxIdle.get.toMillis
          case _ => Long.MaxValue
        }
        var eventBasis = prev.map(_.processedAtMs).getOrElse(Long.MinValue)
        sorted.foreach { e =>
          if (e.record.offset > snapOffset) { // replay dedup guard (P9)
            // null-timestamp records are TIMELESS: they fold (offset order
            // is the only folding contract — the spill codec and journal
            // accept null timestamps), but they can neither fire a
            // retroactive expiry (an unguarded MinValue ts would UNDERFLOW
            // ts - basis into a spurious huge positive) nor advance the
            // event-time basis
            val ts = if (e.record.timestamp == null) Long.MinValue
              else e.record.timestamp.getTime
            if (ts != Long.MinValue && current.isDefined &&
                eventBasis != Long.MinValue && ts - eventBasis > retroGapMs) {
              val ticked = tick.run(current)
              if (config.removeOnIdle || ticked.isEmpty) {
                // closing state first, then tombstone — see the twin
                // comment in KeyFlowProcessor.handleInputRows
                retro += KeyOutput[S](key, snapOffset, current, tombstone = false)
                retro += KeyOutput[S](key, snapOffset, None, tombstone = true)
                current = None
              } else {
                // the timer path emits the ticked state — the retroactive
                // path must too, or the changelog depends on batching
                retro += KeyOutput[S](key, snapOffset, ticked, tombstone = false)
                current = ticked
              }
            }
            current = fold.run(current, e.record)
            snapOffset = e.record.offset
            if (ts > eventBasis) eventBasis = ts
          }
        }
        val lagged = config.maxOffsetDifference.exists(d => maxSeen - snapOffset > d)
        current match {
          case Some(s) if !lagged =>
            val basis = config.timerDomain match {
              case TimerDomain.Clock => state.getCurrentProcessingTimeMs()
              case TimerDomain.Watermark => eventBasis
            }
            state.update(FlowState(Snapshot(snapOffset, "", s), basis, maxSeen))
            setTimeout(basis)
            retro.iterator ++ Iterator.single(KeyOutput(key, snapOffset, Some(s), tombstone = false))
          case _ =>
            if (state.exists) state.remove()
            retro.iterator ++ Iterator.single(KeyOutput[S](key, snapOffset, None, tombstone = true))
        }
      }
    }
  }

  /** Run an [[graft.fold.EnhancedFold]]: the fold receives framework
    * callbacks (reference EnhancedFold.scala:20-48). The extras instance is
    * task-local; its persist-request counter is observability only —
    * persistence itself is per-microbatch and atomic (stronger than the
    * reference's additional-persist, which exists to shrink the replay
    * window between periodic flushes). */
  def flowEnhanced[S](
      records: Dataset[Record],
      efold: graft.fold.EnhancedFold[S, Record],
      tick: TickOption[S] = TickOption.id[S],
      config: KeyFlowConfig = KeyFlowConfig())(
      implicit stateEnc: Encoder[FlowState[S]],
      outEnc: Encoder[KeyOutput[S]]): Dataset[KeyOutput[S]] = {
    val extras = new graft.fold.KeyFlowExtras
    flow(records, FoldOption[S, Record]((s, a) => efold.run(extras, s, a)), tick, config)
  }

  /** Declarative entry: keyed stateful fold over a (possibly streaming)
    * Dataset[Record]. Null-key records are dropped (reference
    * PartitionFlow.scala:160-164). Installs the session defaults of
    * [[installSessionDefaults]]. */
  def flow[S](
      records: Dataset[Record],
      fold: FoldOption[S, Record],
      tick: TickOption[S] = TickOption.id[S],
      config: KeyFlowConfig = KeyFlowConfig())(
      implicit stateEnc: Encoder[FlowState[S]],
      outEnc: Encoder[KeyOutput[S]]): Dataset[KeyOutput[S]] = {
    import records.sparkSession.implicits._
    installSessionDefaults(records.sparkSession)
    val timeout = (config.maxIdle, config.timerDomain) match {
      case (None, _) => GroupStateTimeout.NoTimeout()
      case (Some(_), TimerDomain.Clock) => GroupStateTimeout.ProcessingTimeTimeout()
      case (Some(_), TimerDomain.Watermark) => GroupStateTimeout.EventTimeTimeout()
    }
    val keyed = records.filter((r: Record) => r.key != null)
    config.timerDomain match {
      case TimerDomain.Watermark =>
        // flatMapGroupsWithState's analyzer requires the caller's
        // watermarked TOP-LEVEL event-time column on its child, and a typed
        // map re-serializes (strips the metadata) while re-declaring the
        // watermark post-map is "redefining" (disallowed). So in watermark
        // mode the keyed stream is grouped DIRECTLY — typed filter
        // preserves the watermark column — and records wrap into RecordEnv
        // inside the update function. The offset clock needs that map, so
        // watermark + maxOffsetDifference lives in the transformWithState
        // engine ([[KeyFlowTws.flow]]), whose analyzer check is
        // plan-global.
        require(config.maxOffsetDifference.isEmpty,
          "TimerDomain.Watermark with maxOffsetDifference requires the " +
            "transformWithState engine: use KeyFlowTws.flow")
        keyed
          .groupByKey((r: Record) => config.keyOf(r))
          .flatMapGroupsWithState[FlowState[S], KeyOutput[S]](
            OutputMode.Update(), timeout) { (key, rs, st) =>
            update(fold, tick, config)(
              key, rs.map(RecordEnv(_, Long.MinValue)), st)
          }
      case TimerDomain.Clock =>
        // the partition-clock pass is only paid when offset-lag unload is on
        val enriched =
          if (config.maxOffsetDifference.isDefined) withPartitionClock(keyed)
          else keyed.map(r => RecordEnv(r, Long.MinValue))
        enriched
          .groupByKey((e: RecordEnv) => config.keyOf(e.record))
          .flatMapGroupsWithState[FlowState[S], KeyOutput[S]](
            OutputMode.Update(), timeout)(update(fold, tick, config))
    }
  }
}
