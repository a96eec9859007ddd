package graft.streaming

import graft.fold.{FoldOption, TickOption}
import graft.model.{Record, Snapshot}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

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
  *    "timestamp", ...)` before [[KeyFlowTws.flow]]).
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
      * just ages out. Processing-time domain only. */
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
      * granularity per partition. */
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
  * `processedAtMs + maxIdle`: [[KeyFlowProcessor]] keeps one timer at or
  * before it, re-armed at the deadline when it fires early. */
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

/** The pieces shared by the keyed-fold entry points. The per-key unit of
  * computation itself (reference core/.../KeyFlow.scala:15-89,
  * FoldToState.scala:39-91, TickToState.scala:32-49) is [[KeyFlowProcessor]],
  * run by [[KeyFlowTws.flow]]; this object holds the record envelope with
  * its partition offset clock, the clock pass and its spill, and the
  * session defaults the flows install.
  *
  * Checkpoint compatibility: a checkpoint written by the former
  * `KeyFlow.flow` engine (Spark's first-generation arbitrary stateful
  * operator) does not resume on [[KeyFlowTws.flow]]: the operator and its
  * state layout differ. Migrate through [[KeyFlowTws.flowWithInitialState]]
  * seeded from [[graft.state.ExternalSnapshots]].
  */
object KeyFlow {
  /** Spark's conf that makes a RocksDB state store commit a changelog per
    * microbatch instead of a snapshot upload. */
  val ChangelogConfKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Spark's conf naming the state-store provider; transformWithState
    * needs one with multiple column families, which Spark's default
    * HDFS-backed provider lacks. */
  val ProviderConfKey = "spark.sql.streaming.stateStore.providerClass"

  /** Set the engine's streaming defaults on the session, each only where
    * the session has not set it, so a user's explicit setting wins:
    * RocksDB as the state-store provider, [[LocalCheckpointFileManager]]
    * as the checkpoint file manager, and changelog checkpointing for
    * RocksDB state. "Set" means present in the session's own settings
    * (`conf.getAll`): `conf.getOption` also returns a registered default,
    * as it does for the provider. Called by the flow entry points, before
    * the caller's `start()`; it applies to every streaming query the
    * session starts afterwards. */
  private[streaming] def installSessionDefaults(spark: SparkSession): Unit = {
    val set = spark.conf.getAll
    Seq(ProviderConfKey -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        LocalCheckpointFileManager.ConfKey -> classOf[LocalCheckpointFileManager].getName,
        ChangelogConfKey -> "true").foreach { case (k, v) =>
      if (!set.contains(k)) spark.conf.set(k, v)
    }
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

  /** Run an [[graft.fold.EnhancedFold]] through [[KeyFlowTws.flow]]: the
    * fold receives framework callbacks (reference EnhancedFold.scala:20-48).
    * The extras instance is task-local; its persist-request counter is
    * observability only — persistence itself is per-microbatch and atomic
    * (stronger than the reference's additional-persist, which exists to
    * shrink the replay window between periodic flushes). */
  def flowEnhanced[S](
      records: Dataset[Record],
      efold: graft.fold.EnhancedFold[S, Record],
      tick: TickOption[S] = TickOption.id[S],
      config: KeyFlowConfig = KeyFlowConfig())(
      implicit stateEnc: Encoder[FlowState[S]],
      outEnc: Encoder[KeyOutput[S]]): Dataset[KeyOutput[S]] = {
    val extras = new graft.fold.KeyFlowExtras
    KeyFlowTws.flow(records, FoldOption[S, Record]((s, a) => efold.run(extras, s, a)), tick, config)
  }
}
