package graft.streaming

import graft.fold.{FoldOption, TickOption}
import graft.model.Record
import graft.streaming.Parity.{rec, waitFor}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The `timers` group: the engine's timer paths, run by KeyFlowSpec. The
  * queries run on a processing-time trigger and are polled with a
  * deadline, because `processAllAvailable` can block for good once
  * `TimeMode.ProcessingTime` keeps scheduling batches. */
object TimerCases {

  private def check(checks: (String, Boolean)*): Seq[String] =
    checks.collect { case (what, false) => s"MISMATCH $what" }

  private val every200ms = Some(Trigger.ProcessingTime(200))

  val all: Seq[ParityCase] = Seq(

    // per-key count through KeyFlowTws with a processing-time maxIdle: the
    // key must be tombstoned by the timer armed for its SECOND batch
    ParityCase("maxIdle timer ticks and unloads the key (T5, transformWithState)") { c =>
      import c.spark.implicits._
      import c.sqlContext
      val input = MemoryStream[Record]
      val countFold = FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)
      val config = KeyFlowConfig(maxIdle = Some(1.second), removeOnIdle = true)
      val q = c.memory(KeyFlowTws.flow(input.toDS(), countFold, TickOption.id[Long], config),
        "timer", every200ms)
      input.addData(rec("t", 0, "k1", "", eventMs = 0L))
      Thread.sleep(400) // let the first batch commit and register its timer
      // activity moves the deadline; the first timer re-arms at it
      input.addData(rec("t", 1, "k1", "", eventMs = 1000L))
      val ok = waitFor(60000)(c.table[KeyOutput[Long]]("timer")
        .exists(o => o.key == "k1" && o.tombstone && o.offset == 1L))
      q.stop()
      check("k1 tombstoned by the second batch's timer (offset 1)" -> ok)
    },

    // T1's watermark domain: a key idle in EVENT time is tombstoned when
    // the query watermark, advanced by OTHER keys, passes its last event
    // time + maxIdle. Key a at 10 s, then key b at 100 s: a's timer at 15 s
    // fires in the no-data batch; b (timer 105 s) stays. Both engines, a
    // restart between the two batches, and the no-double-tick regression.
    ParityCase("watermark-domain timer: advancing the watermark via another key " +
        "expires an idle key in both engines (T1 watermark domain)") { c =>
      import c.spark.implicits._
      import c.sqlContext
      val countFold = FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)
      val config = KeyFlowConfig(maxIdle = Some(5.seconds), removeOnIdle = true,
        timerDomain = TimerDomain.Watermark)
      type Flow = Dataset[Record] => Dataset[KeyOutput[Long]]
      def bIntact(rows: Array[KeyOutput[Long]]): Boolean =
        rows.exists(o => o.key == "b" && !o.tombstone) &&
          !rows.exists(o => o.key == "b" && o.tombstone)

      def run(name: String)(mk: Flow): Seq[String] = {
        val input = MemoryStream[Record]
        val q = c.memory(mk(input.toDS().withWatermark("timestamp", "0 seconds")), name,
          every200ms)
        def rows = c.table[KeyOutput[Long]](name)
        input.addData(rec("t", 0, "a", "", eventMs = 10000L))
        // a's batch commits (state + its event-time timer at 15 s durable)
        waitFor(30000)(rows.exists(o => o.key == "a" && !o.tombstone))
        input.addData(rec("t", 1, "b", "", eventMs = 100000L)) // watermark past 15 s
        val aTombstoned =
          waitFor(60000)(rows.exists(o => o.key == "a" && o.tombstone && o.offset == 0L))
        val intact = bIntact(rows)
        q.stop()
        check(s"$name: a tombstoned at offset 0" -> aTombstoned, s"$name: b intact" -> intact)
      }

      // the registered event-time timer and the watermark must come back
      // from the CHECKPOINT; the memory sink refuses recovery, so this one
      // collects through foreachBatch
      def runRestart(name: String): Seq[String] = {
        val collected = new ConcurrentLinkedQueue[KeyOutput[Long]]()
        val input = MemoryStream[Record]
        val out = KeyFlowTws.flow(input.toDS().withWatermark("timestamp", "0 seconds"),
          countFold, TickOption.id[Long], config)
        def start() = out.writeStream.outputMode("update")
          .trigger(Trigger.ProcessingTime(200))
          .option("checkpointLocation", c.checkpoint(name))
          .foreachBatch { (b: Dataset[KeyOutput[Long]], _: Long) =>
            b.collect().foreach(collected.add)
          }.start()
        var q = start()
        input.addData(rec("t", 0, "a", "", eventMs = 10000L))
        waitFor(30000)(collected.asScala.exists(o => o.key == "a" && !o.tombstone))
        q.stop() // kill after a's batch committed (timer + watermark durable)
        q = start()
        input.addData(rec("t", 1, "b", "", eventMs = 100000L))
        val aTombstoned = waitFor(60000)(
          collected.asScala.exists(o => o.key == "a" && o.tombstone && o.offset == 0L))
        q.stop()
        check(s"$name: a tombstoned at offset 0" -> aTombstoned,
          s"$name: b intact" -> bIntact(collected.asScala.toArray))
      }

      // after a watermark timer fires a TRANSFORMING tick with
      // removeOnIdle=false, the event-time basis must advance with the
      // re-armed timer: a later record inside the NEW idle window folds
      // into the ticked state without re-ticking the same gap (102, not
      // 202). On the TWS engine this guards the re-arm clamp in
      // KeyFlowProcessor.handleExpiredTimer (basis = max(expiry,
      // watermark)): without it a watermark jump > 2x maxIdle re-fires once
      // per maxIdle of event-time gap.
      def runNoDoubleTick(name: String)(
          mk: (Dataset[Record], FoldOption[Long, Record], TickOption[Long], KeyFlowConfig) =>
            Dataset[KeyOutput[Long]]): Seq[String] = {
        val input = MemoryStream[Record]
        val markTick = TickOption[Long](n => n.map(_ + 100L))
        val cfg = KeyFlowConfig(maxIdle = Some(5.seconds), removeOnIdle = false,
          timerDomain = TimerDomain.Watermark)
        val q = c.memory(mk(input.toDS().withWatermark("timestamp", "0 seconds"),
          countFold, markTick, cfg), name, every200ms)
        def rows = c.table[KeyOutput[Long]](name)
        input.addData(rec("t", 0, "a", "", eventMs = 10000L))
        waitFor(30000)(rows.exists(o => o.key == "a" && o.state.contains(1L)))
        input.addData(rec("t", 1, "b", "", eventMs = 100000L)) // a's timer (15 s) ticks
        waitFor(60000)(rows.exists(o => o.key == "a" && o.state.contains(101L)))
        // inside the NEW idle window (basis ~100 s): must fold, not re-tick
        input.addData(rec("t", 2, "a", "", eventMs = 101000L))
        val folded = waitFor(30000)(rows.exists(o =>
          o.key == "a" && o.offset == 2L && o.state.contains(102L)))
        val noDouble = !rows.exists(o => o.key == "a" && o.state.exists(_ >= 200L))
        q.stop()
        check(s"$name: folded after the tick" -> folded, s"$name: no double tick" -> noDouble)
      }

      run("wmtws")(KeyFlowTws.flow(_, countFold, TickOption.id[Long], config)) ++
        run("wmclassic")(KeyFlow.flow(_, countFold, TickOption.id[Long], config)) ++
        runRestart("wmtwsrestart") ++
        runNoDoubleTick("wmnodouble")(KeyFlow.flow(_, _, _, _)) ++
        runNoDoubleTick("wmnodoubletws")(KeyFlowTws.flow(_, _, _, _))
    },

    // RecordExpiration inside the engine: with stateTtl = 1 s, state
    // untouched past the TTL reads as absent, so a later record folds from
    // scratch (count 1); without TTL the count reaches 2
    ParityCase("native state TTL ages state out inside the engine (RecordExpiration analogue)") { c =>
      import c.spark.implicits._
      import c.sqlContext
      val countFold = FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)
      def lastCount(name: String, config: KeyFlowConfig): Option[Long] = {
        val input = MemoryStream[Record]
        val q = c.memory(KeyFlowTws.flow(input.toDS(), countFold, config = config), name,
          every200ms)
        def rows = c.table[KeyOutput[Long]](name)
        input.addData(rec("t", 0, "k1", "", eventMs = 0L))
        waitFor(60000)(rows.exists(o => o.key == "k1" && o.offset == 0L))
        Thread.sleep(2500) // past the 1 s TTL
        input.addData(rec("t", 1, "k1", "", eventMs = 1000L))
        waitFor(60000)(rows.exists(o => o.key == "k1" && o.offset == 1L))
        val last = rows.filter(o => o.key == "k1" && !o.tombstone).sortBy(_.offset)
          .lastOption.flatMap(_.state)
        q.stop()
        last
      }
      val withTtl = lastCount("ttlon", KeyFlowConfig(stateTtl = Some(1.second)))
      val without = lastCount("ttloff", KeyFlowConfig())
      check(s"with TTL the count restarts at 1 (got $withTtl)" -> withTtl.contains(1L),
        s"without TTL the count reaches 2 (got $without)" -> without.contains(2L))
    },

    // T9 (KafkaTimer.Offset): tickEveryOffsets = 10 ticks a key whenever
    // its partition offset clock passes a window past its own basis. Two
    // keys on one partition, batch clocks 4 / 14 / 39:
    //  - a (first offset 0) ticks 0, 1, 1 times: the 14 -> 39 jump crosses
    //    two windows but ticks ONCE, the basis re-armed window-aligned at 30;
    //  - b (first offset 1) ticks 0, 1, 1 times on its own windows 11, 21,
    //    31 ...
    // State (n_folds, n_ticks) pins both the tick count and that folds run
    // between ticks.
    ParityCase("user offset-domain timers: tickEveryOffsets fires on partition-clock " +
        "windows with per-key bases (T9, KafkaTimer.Offset analogue)") { c =>
      import c.spark.implicits._
      import c.sqlContext
      def r(offset: Long, key: String): Record = rec("t", offset, key, "", eventMs = 1000L + offset)
      val batches = Seq(
        Seq(r(0, "a"), r(1, "b"), r(2, "b"), r(3, "b"), r(4, "a")), // clock 4
        Seq(r(5, "b"), r(9, "b"), r(14, "a")), // clock 14
        Seq(r(20, "b"), r(39, "a"))) // clock 39
      val fold = FoldOption.of[(Long, Long), Record](_ => (1L, 0L))((st, _) => (st._1 + 1, st._2))
      val tick = TickOption[(Long, Long)](_.map(st => (st._1, st._2 + 1)))
      val input = MemoryStream[Record]
      val q = c.memory(KeyFlowTws.flow(input.toDS(), fold, tick,
        KeyFlowConfig(tickEveryOffsets = Some(10L))), "offsettimer",
        Some(Trigger.ProcessingTime(100)))
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      q.stop()
      val rows = c.table[KeyOutput[(Long, Long)]]("offsettimer")
      def latest(k: String): (Long, Long) =
        rows.filter(o => o.key == k && !o.tombstone).maxBy(_.offset).state.get
      check(s"a = ${latest("a")}, want (4,2)" -> (latest("a") == ((4L, 2L))),
        s"b = ${latest("b")}, want (6,2)" -> (latest("b") == ((6L, 2L))),
        // each batch emits one row per key
        "no mid-batch duplicate rows" ->
          !rows.groupBy(o => (o.key, o.offset)).exists(_._2.length > 2))
    })
}
