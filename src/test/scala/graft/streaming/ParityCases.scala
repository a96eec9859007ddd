package graft.streaming

import graft.Tables
import graft.fold.{FoldOption, TickOption}
import graft.functions.{KmvBuffer, KmvJaccardPpm, KmvSketch}
import graft.model.{KafkaKey, Record, Snapshot}
import graft.operators.Lineage.LineageOps
import graft.operators.{Dedup, TextAnalysis}
import graft.state.ExternalSnapshots
import graft.streaming.Parity.{diff, latest, rec, split}
import org.apache.spark.sql.{Column, Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.util.sketch.CountMinSketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The `parity` group (SURVEY §7.5): each stateful query's streaming form —
  * a replay of the sf0.001 tables through [[KeyFlowTws]] or [[KeyFlow]],
  * mostly with an at-least-once replay overlap — must end in the same
  * per-key state as its batch form. Run by StreamBatchParitySpec. */
object ParityCases {

  /** ClusterParity's per-bucket state: distinct-member count and the member
    * list, cleared once the count passes the cap (the bucket is dead either
    * way; the count keeps growing so a replayed overlap can't resurrect
    * it). */
  final case class Bucket(n: Long, members: Seq[Long])

  /** StateEvolution's v1 state: per-key count + sum. */
  final case class AccV1(n: Long, sum: Long)

  /** v2 adds a max-seen field. Option, not Long: Avro evolution needs a
    * null default for the added field — non-nullable additions are not
    * evolvable, which is itself part of the pinned contract. */
  final case class AccV2(n: Long, sum: Long, maxV: Option[Long])

  final case class TypeCount(key: String, event_type: String, n: Long)

  /** Per-user per-event-type counters in a TWS MapState: per-entry updates
    * instead of rewriting a composite fold value. */
  class TypeCountsProcessor extends StatefulProcessor[String, Record, TypeCount] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "byType", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Record],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        val t = new String(r.value, "UTF-8")
        val prev = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, prev + 1L)
        touched += t
      }
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t)))
    }
  }

  final case class SeqOut(key: String, seq: String)

  /** The per-key ordered event buffer (reference `Journals` P6) in a TWS
    * ListState. */
  class JournalBufferProcessor extends StatefulProcessor[String, Record, SeqOut] {
    @transient private var buf: ListState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[String]("journal", Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Record],
        timerValues: TimerValues): Iterator[SeqOut] = {
      // rows within a batch arrive unordered — sort by offset before the
      // append; batches arrive in stream order so the list stays globally
      // ordered per key
      rows.toArray.sortBy(_.offset)
        .foreach(r => buf.appendValue(new String(r.value, "UTF-8")))
      Iterator.single(SeqOut(key, buf.get().mkString(",")))
    }
  }

  /** Events in global (ms, event_id) order, offset = position in that
    * order, so per-key offsets replay in time order; value = `value(row)`. */
  private def timeOrdered(c: ParityCtx, cols: Seq[String], where: Column = lit(true))(
      value: org.apache.spark.sql.Row => String): IndexedSeq[Record] =
    Tables(c.spark, c.data, "events").filter(where)
      .select((Seq(col("user_id"), col("event_id"), expr("ts div 1000000").as("ms")) ++
        cols.map(expr)): _*)
      .collect()
      .sortBy(r => (r.getLong(2), r.getLong(1)))
      .zipWithIndex
      .map { case (r, seq) => rec("events", seq.toLong, r.getLong(0).toString, value(r)) }
      .toIndexedSeq

  val all: Seq[ParityCase] = Seq(

    // count + exact decimal sum of the payload, classic engine
    ParityCase.replay("streaming fold over replayed events equals batch groupBy") { c =>
      import c.spark.implicits._
      val events = Tables(c.spark, c.data, "events")
        .select(col("event_id"), col("user_id"), col("value")).collect()
        .map(r => rec("events", r.getLong(0), r.getLong(1).toString, r.getDouble(2).toString))
        .sortBy(_.offset).toIndexedSeq
      val fold = FoldOption.of[(Long, BigDecimal), Record] { r =>
        (1L, BigDecimal(new String(r.value, "UTF-8")))
      } { (st, r) => (st._1 + 1, st._2 + BigDecimal(new String(r.value, "UTF-8"))) }
      val truth = Tables(c.spark, c.data, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("total"))
        .collect()
        .map(r => r.getLong(0).toString -> ((r.getLong(1), BigDecimal(r.getDecimal(2)))))
        .toMap
      Replay(split(events, 3, overlap = 50), (ds: Dataset[Record]) => KeyFlow.flow(ds, fold),
        truth, identity[Map[String, (Long, BigDecimal)]])
    },

    // q_session_agg: per-user gap-6h sessions through watermark-domain
    // maxIdle timers, with a kill-and-recover from checkpoint halfway
    // (open sessions, timers and the watermark must come back from
    // state); each changelog segment is one session
    ParityCase("timer-dependent parity: watermark-domain sessionization equals batch " +
        "Sessionize.byGap (q_session_agg semantics, forked)") { c =>
      import c.spark.implicits._
      import c.sqlContext
      val gapMs = 6L * 3600 * 1000
      val e = Tables(c.spark, c.data, "events")
        .select(col("user_id"), col("event_id"), expr("ts div 1000000").as("ms"))
      val truth: Map[String, Seq[(Long, Long, Long)]] =
        graft.operators.Sessionize.byGap(e, "user_id", "ms", "event_id", gapMs)
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n"), min("ms").as("s"), max("ms").as("e"))
          .collect()
          .map(r => (r.getLong(0).toString, (r.getLong(2), r.getLong(3), r.getLong(4))))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(t => (t._2, t._3)).toSeq }
      val feed = eventTimeFeed(e)
      val fold = FoldOption.of[(Long, Long, Long), Record] { r =>
        val ts = r.timestamp.getTime; (1L, ts, ts)
      } { (st, r) =>
        val ts = r.timestamp.getTime
        (st._1 + 1, math.min(st._2, ts), math.max(st._3, ts))
      }
      val config = KeyFlowConfig(maxIdle = Some(gapMs.millis), removeOnIdle = true,
        timerDomain = TimerDomain.Watermark)
      val input = MemoryStream[Record]
      val out = KeyFlowTws.flow(input.toDS().withWatermark("timestamp", "0 seconds"),
        fold, TickOption.id[(Long, Long, Long)], config)
      // the memory sink refuses checkpoint restart; foreachBatch runs on
      // the driver
      val collected = new ConcurrentLinkedQueue[KeyOutput[(Long, Long, Long)]]()
      def start() = out.writeStream.outputMode("update")
        .option("checkpointLocation", c.checkpoint("sessions"))
        .foreachBatch { (b: Dataset[KeyOutput[(Long, Long, Long)]], _: Long) =>
          b.collect().foreach(collected.add)
        }.start()
      var q = start()
      val spans = Parity.eventTimeSpans(feed, 8)
      spans.zipWithIndex.foreach { case ((a, b), i) =>
        if (i == spans.length / 2) { q.stop(); q = start() }
        input.addData(feed.slice(a, b)); q.processAllAvailable()
      }
      q.stop()
      val streamed = collected.asScala.toArray.groupBy(_.key).map { case (k, ks) =>
        val (closed, open) = segments(ks)
        k -> (closed ++ open).sortBy(t => (t._2, t._3))
      }
      diff(streamed, truth)
    },

    // q_unload_idle (T5): users with an event in the stream's last 12 h,
    // with TOTAL event count and last event time. 12 h, not the query's
    // 2 days, because at sf0.001 no user is 2 days idle: 12 h unloads 5 of
    // 15 users at the end and forces ~300 mid-stream unload-then-revive
    // cycles. Totals hold because each segment's closing state is emitted
    // before its tombstone, so a revived user's count is the sum of its
    // closed segments plus the open one.
    ParityCase("timer-dependent parity: watermark-domain idle unload equals batch " +
        "q_unload_idle (T5 semantics, forked)") { c =>
      import c.spark.implicits._
      import c.sqlContext
      val idleMs = 12L * 3600 * 1000
      val e = Tables(c.spark, c.data, "events")
        .select(col("user_id"), col("event_id"), expr("ts div 1000000").as("ms"))
      val gmax = e.agg(max("ms")).head().getLong(0)
      val truth: Map[String, (Long, Long)] = e.groupBy("user_id")
        .agg(count(lit(1)).as("n"), max("ms").as("last_ms"))
        .filter(col("last_ms") >= gmax - idleMs)
        .collect()
        .map(r => r.getLong(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
      val feed = eventTimeFeed(e)
      val lastOffset = feed.groupBy(_.key).map { case (k, rs) => k -> rs.map(_.offset).max }
      val expectUnloaded = lastOffset.keySet -- truth.keySet
      val fold = FoldOption.of[(Long, Long), Record] { r =>
        (1L, r.timestamp.getTime)
      } { (st, r) => (st._1 + 1, math.max(st._2, r.timestamp.getTime)) }
      val config = KeyFlowConfig(maxIdle = Some(idleMs.millis), removeOnIdle = true,
        timerDomain = TimerDomain.Watermark)
      val input = MemoryStream[Record]
      val q = c.memory(KeyFlowTws.flow(input.toDS().withWatermark("timestamp", "0 seconds"),
        fold, TickOption.id[(Long, Long)], config), "unload", Some(Trigger.ProcessingTime(200)))
      Parity.eventTimeSpans(feed, 6).foreach { case (a, b) =>
        input.addData(feed.slice(a, b)); q.processAllAvailable()
      }
      // end-of-stream timers fire in no-data batches once the final
      // watermark is in force: poll until every expected unload is
      // tombstoned at that user's final offset
      var rows = c.table[KeyOutput[(Long, Long)]]("unload")
      Parity.waitFor(120000) {
        rows = c.table[KeyOutput[(Long, Long)]]("unload")
        expectUnloaded.forall(u =>
          rows.exists(o => o.key == u && o.tombstone && o.offset == lastOffset(u)))
      }
      q.stop()
      val streamed = rows.groupBy(_.key).flatMap { case (k, ks) =>
        segments(ks) match {
          case (closed, Some((n, lastMs))) => Some(k -> ((closed.map(_._1).sum + n, lastMs)))
          case (_, None) => None
        }
      }
      diff(streamed, truth)
    },

    // q_dedup_exact: per content digest, (count, min kept id), over the
    // documents plus re-crawls of every third doc (so digest groups of
    // size > 1 exist)
    ParityCase.replay("LLM-pipeline parity: incremental exact dedup through KeyFlowTws equals " +
        "batch Dedup.exact (q_dedup_exact semantics, forked)") { c =>
      import c.spark.implicits._
      val base = Tables(c.spark, c.data, "documents")
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val corpus = base ++ base.filter(_._1 % 3 == 0).map { case (id, t) => (id + 1000000L, t) }
      val corpusDf = c.spark.createDataFrame(corpus.toSeq).toDF("doc_id", "text")
      val truth = Dedup.exact(corpusDf, "doc_id", "text")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val digests = corpusDf
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val feed = corpus.map(_._1).sorted
        .map(id => rec("documents", id, digests(id), id.toString)).toIndexedSeq
      def docId(r: Record): Long = new String(r.value, "UTF-8").toLong
      val fold = FoldOption.of[(Long, Long), Record] { r =>
        (1L, docId(r))
      } { (st, r) => (st._1 + 1, math.min(st._2, docId(r))) }
      Replay(split(feed, 4, overlap = 20), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, identity[Map[String, (Long, Long)]])
    },

    // incremental decontamination (Dedup.exactAgainst): each batch dedups
    // within itself (minimum id per digest) and against everything ingested
    // before, from a seeded "yesterday's index" (every 5th doc). The seed
    // arrives as marker records (id -1); the fold is first-writer-wins and
    // records are fed id-ascending within each batch, so the first record
    // a key folds is the batch minimum. Every batch after the first
    // re-sends the previous batch's tail.
    ParityCase.replay("LLM-pipeline parity: incremental decontamination through KeyFlowTws " +
        "equals batch Dedup.exactAgainst folded over batches (forked)") { c =>
      import c.spark.implicits._
      val base = Tables(c.spark, c.data, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val recrawls = base.filter(_._1 % 3 == 0).map { case (id, d) => (id + 1000000L, d) }
      val seenSeed = base.filter(_._1 % 5 == 0).map(_._2).distinct.toSeq
      val stream = (base ++ recrawls).sortBy(_._1)
      val thirds = (1 to 2).map(i => stream.length * i / 3)
      val batches = Seq(stream.slice(0, thirds(0)), stream.slice(thirds(0), thirds(1)),
        stream.slice(thirds(1), stream.length))
      // truth: exactAgainst per batch, the seen set accumulating
      var seenDf = seenSeed.toDF("digest")
      val kept = scala.collection.mutable.Map[String, Long]()
      batches.foreach { b =>
        val bDf = b.toSeq.toDF("doc_id", "digest")
        Dedup.exactAgainst(bDf, seenDf, "doc_id", "digest")
          .select("digest", "doc_id")
          .collect().foreach(r => kept(r.getString(0)) = r.getLong(1))
        seenDf = seenDf.union(bDf.select("digest")).distinct().lineageCut()
      }
      val fold = FoldOption.of[Long, Record](r => new String(r.value, "UTF-8").toLong)((st, _) => st)
      // offsets: one ascending sequence, seed first, then the batches
      var off = 0L
      val seedFeed = seenSeed.map { d => off += 1; rec("documents", off, d, "-1") }
      val batchFeeds = batches.map(_.toSeq.map { case (id, d) =>
        off += 1; rec("documents", off, d, id.toString)
      })
      val replays = batchFeeds.indices.map { i =>
        (if (i == 0) Seq.empty else batchFeeds(i - 1).takeRight(15)) ++ batchFeeds(i)
      }
      Replay(seedFeed +: replays, (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        kept.toMap, (m: Map[String, Long]) => m.filter(_._2 >= 0L)) // seeded keys were never kept
    },

    // q_corpus_line_dedup: every (doc, pos, line) instance in crawl order,
    // keyed by the line digest, folding keep-first (count, min (doc, pos),
    // line); the final states must REASSEMBLE into the batch operator's
    // per-doc (text_dedup, kept, dropped) bit for bit
    ParityCase.replay("LLM-pipeline parity: incremental corpus-line dedup through KeyFlowTws " +
        "reassembles into batch dedupLinesCorpus exactly (forked)") { c =>
      import c.spark.implicits._
      val raw = Tables(c.spark, c.data, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          concat(lit("nav: "), col("source"), lit("\n"), col("text"),
            lit("\nid: "), col("doc_id"), lit("\ncookie notice")).as("raw"))
      val truth = TextAnalysis.dedupLinesCorpus(raw, "doc_id", "raw")
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
      val docs = raw.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val instances = docs.flatMap { case (id, text) =>
        text.split("\n", -1).zipWithIndex.map { case (line, pos) => (id, pos.toLong, line) }
      }
      val digest = instances.map(_._3).distinct.map { line =>
        line -> java.security.MessageDigest.getInstance("MD5")
          .digest(line.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }.toMap
      // value "id:pos:line"; split limit 3 keeps any ':' in the line
      val feed = instances.zipWithIndex.map { case ((id, pos, line), seq) =>
        rec("lines", seq.toLong, digest(line), s"$id:$pos:$line")
      }.toIndexedSeq
      def parse(r: Record): (Long, Long, String) = {
        val parts = new String(r.value, "UTF-8").split(":", 3)
        (parts(0).toLong, parts(1).toLong, if (parts.length > 2) parts(2) else "")
      }
      val fold = FoldOption.of[(Long, Long, Long, String), Record] { r =>
        val (id, pos, line) = parse(r); (1L, id, pos, line)
      } { (st, r) =>
        val (id, pos, _) = parse(r)
        val firstWins = st._2 < id || (st._2 == id && st._3 <= pos)
        (st._1 + 1, if (firstWins) st._2 else id, if (firstWins) st._3 else pos, st._4)
      }
      val totals = instances.groupBy(_._1).map { case (id, xs) => id -> xs.length.toLong }
      def reassemble(states: Map[String, (Long, Long, Long, String)]) = {
        val keepersByDoc = states.values.toSeq.groupBy(_._2)
        totals.map { case (id, total) =>
          val keep = keepersByDoc.getOrElse(id, Seq.empty).sortBy(_._3)
          id -> ((keep.map(_._4).mkString("\n"), keep.length.toLong, total - keep.length))
        }
      }
      Replay(split(feed, 4, overlap = 50), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, reassemble)
    },

    // q_minhash_lsh, the production ingest shape: one record per (doc,
    // band) keyed by the band bucket, carrying the doc's signature; each
    // bucket appends first-seen docs. Candidate pairs reassembled from the
    // final buckets, with the batch plan's estimate arithmetic, must equal
    // the declared operator's pairs, planted tail-token near-dups included.
    ParityCase.replay("LLM-pipeline parity: incremental MinHash-LSH near-dup dedup through " +
        "KeyFlowTws equals batch minhashLshPairs (forked)") { c =>
      import c.spark.implicits._
      val (k, bands, rowsPerBand, minEstPpm) = (5, 16, 4, 500000L)
      val perms = bands * rowsPerBand
      val base = Tables(c.spark, c.data, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val planted = base.orderBy(col("doc_id")).limit(25)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(col("text"), lit(" mutated-tail-token")).as("text"))
      val corpus = base.unionAll(planted)
      val truth = Dedup.minhashLshPairs(corpus, "doc_id", "text",
          k = k, bands = bands, rowsPerBand = rowsPerBand, minEstPpm = minEstPpm)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> true).toMap
      // the SAME kernel + band-hash expressions as the batch plan
      val feed = corpus.select(col("doc_id").as("doc"),
          graft.functions.MinHashSig(col("text"), k, perms).as("sig"))
        .select(col("doc"), col("sig"),
          explode(array((0 until bands).map { b =>
            struct(lit(b).as("band"),
              xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bh"))
          }: _*)).as("bb"))
        .select(col("doc"), col("bb.band"), col("bb.bh"), col("sig"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getSeq[Long](3)))
        .sortBy(t => (t._1, t._2)) // crawl order: by doc, then band
        .zipWithIndex.map { case ((doc, band, bh, sig), seq) =>
          rec("minhash", seq.toLong, s"$band:$bh", doc.toString + "|" + sig.mkString(","))
        }.toIndexedSeq
      def parse(r: Record): (Long, Seq[Long]) = {
        val s = new String(r.value, "UTF-8").split("\\|", 2)
        (s(0).toLong, s(1).split(",").toSeq.map(_.toLong))
      }
      // value-level dedup on top of the engine's offset-replay guard
      val fold = FoldOption.of[Seq[(Long, Seq[Long])], Record](r => Seq(parse(r))) { (st, r) =>
        val (doc, sig) = parse(r)
        if (st.exists(_._1 == doc)) st else st :+ ((doc, sig))
      }
      def estPpm(a: Seq[Long], b: Seq[Long]): Long =
        a.iterator.zip(b.iterator).count { case (x, y) => x == y } * 1000000L / perms
      def pairs(buckets: Map[String, Seq[(Long, Seq[Long])]]) = buckets.values.flatMap { docs =>
        for {
          i <- docs.indices; j <- (i + 1) until docs.size
          (d1, s1) = docs(i); (d2, s2) = docs(j)
          est = estPpm(s1, s2) if est >= minEstPpm
        } yield (math.min(d1, d2), math.max(d1, d2), est) -> true
      }.toMap
      Replay(split(feed, 4, overlap = 64), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, pairs)
    },

    // q_token_stats keyed by SOURCE (few hot keys, the opposite regime of
    // the per-digest dedup): (n_docs, n_tokens, n_chars). Null text rides
    // as empty bytes: the batch SUMs skip it while n_docs counts it, which
    // the empty-string measure (1, 0, 0) reproduces.
    ParityCase.replay("LLM-pipeline parity: incremental token accounting through KeyFlowTws equals " +
        "batch q_token_stats (forked)") { c =>
      import c.spark.implicits._
      val docs = Tables(c.spark, c.data, "documents")
      val truth = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.bpeTokenCount(col("text"))).as("t"),
          sum(length(col("text")).cast("long")).as("c"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val feed = docs.select(col("doc_id"), col("source"), col("text")).collect()
        .map(r => rec("documents", r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) "" else r.getString(2)))
        .sortBy(_.offset).toIndexedSeq
      // the declared query's token regex (Java semantics on both sides);
      // char count in CODE POINTS like Spark's length()
      val tokenRe = "[a-z]+|[0-9]+|[^a-z0-9 ]".r
      val measure: Record => (Long, Long, Long) = { r =>
        val t = new String(r.value, "UTF-8")
        (1L, tokenRe.findAllIn(t).size.toLong, t.codePointCount(0, t.length).toLong)
      }
      val fold = FoldOption.of[(Long, Long, Long), Record](measure) { (st, r) =>
        val m = measure(r)
        (st._1 + m._1, st._2 + m._2, st._3 + m._3)
      }
      Replay(split(feed, 4, overlap = 15), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, identity[Map[String, (Long, Long, Long)]])
    },

    // q_sample_bottomk: per source, the sorted bottom-k (xxhash64(doc_id,
    // 42), doc_id) list; set-semantics insertion makes the fold idempotent
    // under at-least-once delivery
    ParityCase.replay("LLM-pipeline parity: incremental bottom-k sampling through KeyFlowTws equals " +
        "batch q_sample_bottomk (forked)") { c =>
      import c.spark.implicits._
      val K = 10
      val truth = graft.SparkEntry.queries("q_sample_bottomk")(c.spark, c.data)
        .collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1)
        .map { case (src, xs) => src -> xs.map(_._2).toList.sorted }
      val feed = Tables(c.spark, c.data, "documents")
        .select(col("source"), col("doc_id")).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
        .zipWithIndex.map { case ((src, id), seq) => rec("docs", seq.toLong, src, id.toString) }
        .toIndexedSeq
      def insert(st: List[(Long, Long)], id: Long): List[(Long, Long)] = {
        val pair = (org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L), id)
        if (st.contains(pair)) st else (pair :: st).sorted.take(K)
      }
      val fold = FoldOption.of[List[(Long, Long)], Record] { r =>
        insert(Nil, new String(r.value, "UTF-8").toLong)
      } { (st, r) => insert(st, new String(r.value, "UTF-8").toLong) }
      Replay(split(feed, 4, overlap = 30), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, (m: Map[String, List[(Long, Long)]]) => m.map { case (k, v) => k -> v.sorted })
    },

    // cross-job eager recovery (K1-K3): job 1 folds a prefix and persists
    // per-key snapshots to ExternalSnapshots; job 2, a fresh query with no
    // Spark state, seeds flowWithInitialState from readLatest and consumes
    // the rest WITH a 100-record replay overlap. Final counts (and last
    // offsets) must equal the one-shot batch aggregate.
    ParityCase("cross-job eager recovery: a fresh query seeded from ExternalSnapshots continues " +
        "the fold with replay idempotence (K1-K3 semantics, forked)") { c =>
      import c.spark.implicits._
      val events = Tables(c.spark, c.data, "events")
        .select(col("event_id"), col("user_id")).collect()
        .map(r => rec("events", r.getLong(0), r.getLong(1).toString, ""))
        .sortBy(_.offset)
      val (phaseA, phaseB) = events.splitAt(events.length * 3 / 5)
      val countFold = FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)
      def finalStates(rows: Array[KeyOutput[Long]]): Map[String, (Long, Long)] =
        rows.groupBy(_.key).map { case (k, rs) =>
          val last = rs.maxBy(_.offset)
          k -> ((last.state.get, last.offset))
        }
      val job1 = finalStates(c.replay("bootjob1", Seq(phaseA.toSeq))(KeyFlowTws.flow(_, countFold)))
      val store = c.checkpoint("store")
      ExternalSnapshots.upsert(job1.toSeq.map { case (user, (n, offset)) =>
        ExternalSnapshots.rowFor(KafkaKey("app", "g", "events", 0, user), offset, "",
          n.toString.getBytes("UTF-8"))
      }.toDS(), store)
      val seed = ExternalSnapshots.readLatest(c.spark, store, "app", "g").collect()
        .map(r => (r.getAs[String]("key"), FlowState(
          Snapshot(r.getAs[Long]("offset"), "",
            new String(r.getAs[Array[Byte]]("value"), "UTF-8").toLong),
          0L, Long.MinValue)))
        .toSeq.toDS()
      // the tail of phase A (already folded by job 1) + all of B
      val job2 = finalStates(c.replay("bootjob2", Seq(
          (phaseA.takeRight(100) ++ phaseB.take(phaseB.length / 2)).toSeq,
          phaseB.drop(phaseB.length / 2).toSeq))(
        KeyFlowTws.flowWithInitialState(_, countFold, seed)))
      val truth = Tables(c.spark, c.data, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"), max("event_id").as("maxo"))
        .collect()
        .map(r => r.getLong(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
      // keys untouched by job 2 keep their seeded counts
      diff(job1 ++ job2, truth)
    },

    // the user state S gains an Option field between two runs on ONE
    // checkpoint. Avro encoding: old state decodes with the field defaulted
    // and the fold continues exactly. Default unsaferow: the restart fails
    // loudly with a schema error (never a silent misread), after which the
    // documented drain -> lift -> seed migration through ExternalSnapshots
    // converges to the same truth with the replay guard still armed. The
    // restarted queries write through foreachBatch: the memory sink
    // refuses checkpoint recovery before any schema check could run.
    ParityCase("state-schema evolution across a checkpoint restart: graceful under avro " +
        "encoding, loud failure + ExternalSnapshots migration under unsaferow (forked)") { c =>
      import c.spark.implicits._
      import c.sqlContext
      val value: Record => Long = r => new String(r.value, "UTF-8").toLong
      val foldV1 = FoldOption.of[AccV1, Record](r => AccV1(1L, value(r))) {
        (s, r) => AccV1(s.n + 1L, s.sum + value(r))
      }
      val foldV2 = FoldOption.of[AccV2, Record](r => AccV2(1L, value(r), Some(value(r)))) {
        (s, r) => AccV2(s.n + 1L, s.sum + value(r),
          Some(math.max(s.maxV.getOrElse(Long.MinValue), value(r))))
      }
      // 2000 records over 41 keys; every key appears in both phases
      val all = (0 until 2000).map { i =>
        rec("t", i.toLong, "k" + (i % 41),
          java.lang.Math.floorMod(i * 0x9E3779B9L, 1000L).toString, eventMs = i.toLong)
      }
      val (phase1, phase2) = all.splitAt(1200)
      val truthAll = all.groupBy(_.key).map { case (k, rs) => k -> ((rs.length.toLong, rs.map(value).sum)) }
      val truthMaxP2 = phase2.groupBy(_.key).map { case (k, rs) => k -> rs.map(value).max }
      val bufV1 = new ConcurrentLinkedQueue[KeyOutput[AccV1]]()
      val bufV2 = new ConcurrentLinkedQueue[KeyOutput[AccV2]]()
      // counts/sums continue across the evolution; maxV covers ONLY
      // post-evolution records (old state decodes with maxV = None)
      def checkTruth(leg: String): Seq[String] = {
        val got = latest(bufV2.asScala.toArray)
        val bad = truthAll.toSeq.sortBy(_._1).collect {
          case (k, (n, sum)) if !got.get(k).exists(a =>
              a.n == n && a.sum == sum && a.maxV.contains(truthMaxP2(k))) =>
            s"MISMATCH $leg $k got=${got.get(k)} want=($n,$sum,max=${truthMaxP2.get(k)})"
        }
        bad.take(3) ++ (if (got.size != truthAll.size)
          Seq(s"MISMATCH $leg keys got=${got.size} want=${truthAll.size}") else Nil)
      }
      def start[S](out: Dataset[KeyOutput[S]], buf: ConcurrentLinkedQueue[KeyOutput[S]],
                   ckpt: String) =
        out.writeStream.outputMode("update").option("checkpointLocation", ckpt)
          .foreachBatch { (ds: Dataset[KeyOutput[S]], _: Long) => ds.collect().foreach(buf.add) }
          .start()
      val encodingFormat = "spark.sql.streaming.stateStore.encodingFormat"

      // leg 1: avro — graceful evolution on the SAME checkpoint and source
      c.spark.conf.set(encodingFormat, "avro")
      val avro = {
        val ckpt = c.checkpoint("avro")
        val in = MemoryStream[Record]
        val q1 = start(KeyFlowTws.flow(in.toDS(), foldV1), bufV1, ckpt)
        in.addData(phase1); q1.processAllAvailable(); q1.stop()
        val q2 = start(KeyFlowTws.flow(in.toDS(), foldV2), bufV2, ckpt)
        in.addData(phase2); q2.processAllAvailable(); q2.stop()
        checkTruth("avro")
      }

      // leg 2: unsaferow — the restart must fail loudly
      c.spark.conf.set(encodingFormat, "unsaferow")
      bufV1.clear(); bufV2.clear()
      val ckpt = c.checkpoint("unsaferow")
      val in = MemoryStream[Record]
      val q1 = start(KeyFlowTws.flow(in.toDS(), foldV1), bufV1, ckpt)
      in.addData(phase1); q1.processAllAvailable(); q1.stop()
      val v1States = bufV1.asScala.toArray.groupBy(_.key).map { case (k, rows) =>
        val last = rows.maxBy(_.offset)
        k -> ((last.state.get.n, last.state.get.sum, last.offset))
      }
      val loud = try {
        val q2 = start(KeyFlowTws.flow(in.toDS(), foldV2), bufV2, ckpt)
        in.addData(phase2); q2.processAllAvailable()
        // a silently running query is itself the contract violation
        q2.stop()
        Seq("MISMATCH unsaferow restart: no error (silent acceptance — contract broken)")
      } catch {
        case e: Throwable =>
          def chain(t: Throwable): Seq[String] =
            if (t == null) Nil
            else s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}" +:
              chain(t.getCause)
          println("[parity] unsaferow restart failed loudly as documented: " +
            chain(e).find(m => m.toLowerCase.contains("schema") || m.contains("STATE_STORE"))
              .getOrElse(chain(e).head))
          Nil
      }

      // leg 3: the documented migration — drain -> lift -> seed; the tail
      // of phase 1 re-delivers and must no-op against the seeded offsets,
      // so maxV still covers only phase-2 records
      bufV2.clear()
      val store = c.checkpoint("store")
      ExternalSnapshots.upsert(v1States.toSeq.map { case (k, (n, sum, off)) =>
        ExternalSnapshots.rowFor(KafkaKey("app", "g", "t", 0, k), off, "",
          s"$n,$sum".getBytes("UTF-8"))
      }.toDS(), store)
      val seed = ExternalSnapshots.readLatest(c.spark, store, "app", "g").collect()
        .map { r =>
          val Array(n, sum) = new String(r.getAs[Array[Byte]]("value"), "UTF-8").split(',')
          (r.getAs[String]("key"), FlowState(
            Snapshot(r.getAs[Long]("offset"), "", AccV2(n.toLong, sum.toLong, None)),
            0L, Long.MinValue))
        }.toSeq.toDS()
      val in3 = MemoryStream[Record]
      val q3 = start(KeyFlowTws.flowWithInitialState(in3.toDS(), foldV2, seed), bufV2,
        c.checkpoint("migration"))
      in3.addData(phase1.takeRight(100) ++ phase2)
      q3.processAllAvailable(); q3.stop()
      avro ++ loud ++ checkTruth("migration")
    },

    // q_scd2: events keyed by user in (ms, event_id) order, folding the
    // version list (a new version on each type change). Replay-safe ONLY
    // through the offset guard: a re-delivered change would append a
    // phantom version.
    ParityCase.replay("incrementally maintained SCD2 dimension equals the batch q_scd2 build " +
        "row for row (forked)") { c =>
      import c.spark.implicits._
      val truth = graft.SparkEntry.queries("q_scd2")(c.spark, c.data)
        .select("user_id", "version", "event_type", "valid_from_ms")
        .collect()
        .map(r => (r.getLong(0).toString, (r.getLong(1), r.getString(2), r.getLong(3))))
        .groupBy(_._1)
        .map { case (u, xs) => u -> xs.map(_._2).toList.sortBy(_._1) }
      val feed = timeOrdered(c, Seq("event_type"))(r => s"${r.getString(3)}|${r.getLong(2)}")
      val step: (List[(Long, String, Long)], Record) => List[(Long, String, Long)] = { (hist, r) =>
        val Array(tpe, ms) = new String(r.value, "UTF-8").split('|')
        hist.lastOption match {
          case Some((_, last, _)) if last == tpe => hist
          case _ => hist :+ ((hist.size + 1L, tpe, ms.toLong))
        }
      }
      val fold = FoldOption.of[List[(Long, String, Long)], Record](r => step(Nil, r))(step)
      Replay(split(feed, 4, overlap = 40), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, identity[Map[String, List[(Long, String, Long)]]])
    },

    // q_time_to_convert's per-user grain (first view ms, first purchase
    // ms), -1 = not seen; the min-fold is idempotent, so the offset guard
    // is a safety property here. The converted-user count must also equal
    // Σ n_users of the declared decile output.
    ParityCase.replay("incremental conversion tracking equals the batch q_time_to_convert grain " +
        "user for user (forked)") { c =>
      import c.spark.implicits._
      val truth = Tables(c.spark, c.data, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", expr("ts div 1000000"))).as("v_ms"),
          min(when(col("event_type") === "purchase", expr("ts div 1000000"))).as("p_ms"))
        .collect()
        .map { r =>
          def g(i: Int): Long = if (r.isNullAt(i)) -1L else r.getLong(i)
          r.getLong(0).toString -> ((g(1), g(2)))
        }.toMap
      val feed = timeOrdered(c, Seq("event_type"), col("event_type").isin("view", "purchase"))(
        r => s"${r.getString(3)}|${r.getLong(2)}")
      val step: ((Long, Long), Record) => (Long, Long) = { (st, r) =>
        val Array(tpe, msStr) = new String(r.value, "UTF-8").split('|')
        val ms = msStr.toLong
        def mn(cur: Long): Long = if (cur < 0 || ms < cur) ms else cur
        if (tpe == "view") (mn(st._1), st._2) else (st._1, mn(st._2))
      }
      val fold = FoldOption.of[(Long, Long), Record](r => step((-1L, -1L), r))(step)
      val declared = graft.SparkEntry.queries("q_time_to_convert")(c.spark, c.data)
        .agg(coalesce(sum("n_users"), lit(0L))).collect()(0).getLong(0)
      def converted(m: Map[String, (Long, Long)]): Seq[String] = {
        val n = m.valuesIterator.count { case (v, p) => v >= 0 && p >= 0 && p > v }
        if (n == declared) Nil else Seq(s"MISMATCH converted users stream=$n declared=$declared")
      }
      Replay(split(feed, 4, overlap = 25), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, identity[Map[String, (Long, Long)]], converted)
    },

    // q_event_pattern: 'vc*p' as a 2-state DFA in fold state. S0 -v-> S1;
    // S1 -c-> S1; S1 -p-> S0 (a match); S1 -v-> S1 (the dead candidate is
    // replaced by one starting at this 'v'); anything else -> S0. A
    // character that kills the open candidate can never resurrect an
    // earlier one, so this equals the left-to-right non-overlapping regex
    // scan. Order-sensitive and not replay-idempotent.
    ParityCase.replay("online CEP pattern DFA equals the batch regex count user for user (forked)") { c =>
      import c.spark.implicits._
      val truth = graft.SparkEntry.queries("q_event_pattern")(c.spark, c.data)
        .collect()
        .map(r => r.getLong(0).toString -> ((r.getLong(1), r.getLong(2))))
        .toMap
      val feed = timeOrdered(c, Seq("substring(event_type, 1, 1)"))(_.getString(3))
      // state: (inCandidate 0/1, matches, nEvents)
      val step: ((Long, Long, Long), Record) => (Long, Long, Long) = { (st, r) =>
        val (s, m, n) = st
        val next = new String(r.value, "UTF-8").charAt(0) match {
          case 'v' => (1L, m)
          case 'c' => (s, m)
          case 'p' => if (s == 1L) (0L, m + 1) else (0L, m)
          case _ => (0L, m)
        }
        (next._1, next._2, n + 1)
      }
      val fold = FoldOption.of[(Long, Long, Long), Record](r => step((0L, 0L, 0L), r))(step)
      Replay(split(feed, 4, overlap = 35), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, (m: Map[String, (Long, Long, Long)]) =>
          m.map { case (u, (_, matches, n)) => u -> ((n, matches)) })
    },

    // q_twap: state (first ms, last ms, last cents, area, n); each event
    // closes the previous value's interval. The integral is NOT
    // replay-idempotent: the overlap passes only through the P9 offset
    // guard.
    ParityCase.replay("online time-weighted average equals the batch q_twap row for row (forked)") { c =>
      import c.spark.implicits._
      val truth = graft.SparkEntry.queries("q_twap")(c.spark, c.data)
        .collect().map { r =>
          r.getLong(0).toString ->
            ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
        }.toMap
      val feed = timeOrdered(c, Seq("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))(
        r => s"${r.getLong(2)}|${r.getLong(3)}")
      val step: ((Long, Long, Long, Long, Long), Record) => (Long, Long, Long, Long, Long) = {
        (st, r) =>
          val Array(ms, cents) = new String(r.value, "UTF-8").split('|').map(_.toLong)
          val (first, lastMs, lastC, area, n) = st
          (first, ms, cents, area + lastC * (ms - lastMs), n + 1)
      }
      val fold = FoldOption.of[(Long, Long, Long, Long, Long), Record] { r =>
        val Array(ms, cents) = new String(r.value, "UTF-8").split('|').map(_.toLong)
        (ms, ms, cents, 0L, 1L)
      }(step)
      Replay(split(feed, 4, overlap = 30), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, (m: Map[String, (Long, Long, Long, Long, Long)]) =>
          m.map { case (u, (first, lastMs, _, area, n)) =>
            val dur = lastMs - first
            u -> ((n, dur, if (dur == 0) None else Some(area / dur)))
          })
    },

    // per-source KMV sketches (k unsigned-smallest token hashes) must equal
    // the batch kmv_sketch aggregate hash for hash. The merge is
    // idempotent, so the replay overlap is harmless by construction
    // (contrast Count-Min); one q_kmv_overlap cell is re-checked through
    // the declared reader expression on both sides.
    ParityCase.replay("incrementally maintained KMV sketch equals the batch kmv_sketch aggregate " +
        "hash for hash (forked)") { c =>
      import c.spark.implicits._
      val K = 128
      val tok = Tables(c.spark, c.data, "documents")
        .select(col("source"), col("doc_id"),
          explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("token"))
        .filter(length(col("token")) >= 3)
      val truth = tok.groupBy("source")
        .agg(KmvSketch(xxhash64(col("token")), K).as("sk"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      // one record per doc keyed by source: its token hashes, packed
      val feed = tok.groupBy("source", "doc_id")
        .agg(collect_list(xxhash64(col("token"))).as("hs"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
        .sortBy(_._2)
        .zipWithIndex.map { case ((src, _, hs), seq) =>
          val bb = ByteBuffer.allocate(8 * hs.length).order(ByteOrder.LITTLE_ENDIAN)
          hs.foreach(bb.putLong)
          Record("docs", 0, seq.toLong, new Timestamp(0L), 0, src, bb.array(), Map.empty)
        }.toIndexedSeq
      def mergeDoc(st: Array[Long], r: Record): Array[Long] = {
        val buf = new KmvBuffer(K)
        st.foreach(buf.add)
        val bb = ByteBuffer.wrap(r.value).order(ByteOrder.LITTLE_ENDIAN)
        while (bb.remaining() >= 8) buf.add(bb.getLong)
        buf.set.iterator().asScala.map(_.longValue).toArray
      }
      val fold = FoldOption.of[Array[Long], Record](r => mergeDoc(Array.empty, r))(mergeDoc)
      val srcs = truth.keySet.toSeq.sorted.take(2)
      def jac(m: Map[String, Seq[Long]]): Long = {
        val t = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)
        def lit(s: String) =
          org.apache.spark.sql.catalyst.expressions.Literal.create(m(s).toArray, t)
        KmvJaccardPpm(lit(srcs(0)), lit(srcs(1)), K).eval(null).asInstanceOf[Long]
      }
      def cell(streamed: Map[String, Seq[Long]]): Seq[String] =
        if (srcs.length < 2 || jac(streamed) == jac(truth)) Nil
        else Seq(s"MISMATCH jaccard cell $srcs stream=${jac(streamed)} batch=${jac(truth)}")
      Replay(split(feed, 3, overlap = 5), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, (m: Map[String, Array[Long]]) => m.map { case (k, v) => k -> v.toSeq }, cell)
    },

    // per-source Count-Min sketches as state, probed for 12 tokens, must
    // equal the built-in count_min_sketch aggregate + cms_probe exactly
    // (CMS merges are commutative counter sums at fixed eps, confidence,
    // seed). A counting sketch is NOT replay-idempotent, so the batches
    // are disjoint: this leans on the exactly-once microbatch commit.
    ParityCase.replay("incrementally maintained Count-Min sketch equals the batch count_min_sketch " +
        "aggregate probe-for-probe (forked)") { c =>
      import c.spark.implicits._
      val (eps, conf, seed) = (0.001, 0.99, 42)
      val docs = Tables(c.spark, c.data, "documents")
      val words = explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
      val probes = docs.select(words.as("w")).distinct().orderBy("w").limit(12)
        .collect().map(_.getString(0)).toSeq
      val truth = docs.select(col("source"), words.as("w"))
        .groupBy("source")
        .agg(count_min_sketch(col("w"), lit(eps), lit(conf), lit(seed)).as("sk"))
        .crossJoin(probes.toDF("token"))
        .select(col("source"), col("token"),
          graft.functions.CmsProbe(col("sk"), col("token")).as("est"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      def ser(s: CountMinSketch): Array[Byte] = {
        val bos = new ByteArrayOutputStream(); s.writeTo(bos); bos.toByteArray
      }
      def addAll(bytes: Array[Byte], text: String): Array[Byte] = {
        val s = CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
        val m = java.util.regex.Pattern.compile("[a-z]+").matcher(text)
        while (m.find()) s.addBinary(m.group.getBytes("UTF-8"))
        ser(s)
      }
      val empty = ser(CountMinSketch.create(eps, conf, seed))
      val fold = FoldOption.of[Array[Byte], Record] { r =>
        addAll(empty, new String(r.value, "UTF-8"))
      } { (st, r) => addAll(st, new String(r.value, "UTF-8")) }
      val feed = docs.select(col("source"), col("doc_id"), col("text")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._2)
        .zipWithIndex.map { case ((src, _, text), seq) => rec("docs", seq.toLong, src, text) }
        .toIndexedSeq
      def estimates(m: Map[String, Array[Byte]]) = m.toSeq.flatMap { case (src, bytes) =>
        val s = CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
        probes.map(t => (src, t) -> s.estimateCount(t.getBytes("UTF-8")))
      }.toMap
      Replay(split(feed, 3), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, estimates)
    },

    ParityCase("TWS map-state surface: per-key sub-keyed counters equal the batch (user, type) " +
        "aggregate (forked)") { c =>
      import c.spark.implicits._
      val events = Tables(c.spark, c.data, "events")
        .select(col("event_id"), col("user_id"), col("event_type")).collect()
        .map(r => rec("events", r.getLong(0), r.getLong(1).toString, r.getString(2)))
        .sortBy(_.offset)
      val rows = c.replay("mapstate", events.grouped(math.max(events.length / 4, 1)).map(_.toSeq).toSeq)(
        _.groupByKey(_.key)
          .transformWithState(new TypeCountsProcessor, TimeMode.None(), OutputMode.Update()))
      // counters only grow: the largest emitted count per (user, type) wins
      val streamed = rows.groupBy(tc => (tc.key, tc.event_type))
        .map { case (k, rs) => k -> rs.map(_.n).max }
      val truth = Tables(c.spark, c.data, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      diff(streamed, truth)
    },

    // the streaming twin of Dedup.autoClusters: per band bucket, the member
    // list up to autoBucketCap (past it the bucket is dead — the
    // dropHotBuckets discipline), over a planted corpus in ONE over-cap
    // block: two mutual near-dup mega-clusters, 170 identical boilerplate
    // docs (every bucket over the 160 cap) and noise. Star edges from the
    // final bucket minima run through the SAME verifyStarEdges + connected
    // components + label tail as the batch operator; labels must be
    // bit-exact, both mega-clusters linked, every boilerplate doc a
    // singleton.
    ParityCase.replay("cluster-contract parity (r14): incremental band-bucket state through TWS " +
        "reassembles into BIT-EXACT autoClusters labels, cap discipline included (forked)") { c =>
      import c.spark.implicits._
      val (k, bands, rowsPerBand, minPpm, maxBlockPopulation) = (3, 16, 4, 900000L, 20L)
      val perms = bands * rowsPerBand
      val cap = Dedup.autoBucketCap(maxBlockPopulation) // 160
      val megaA = (1L to 30L).map(i =>
        i -> ("the quick brown fox jumps over the lazy dog again and again " +
          s"with shared boilerplate marker ${i % 2}"))
      val megaB = (31L to 60L).map(i =>
        i -> ("an entirely different second mega cluster about spark physical " +
          s"plans and shuffle exchanges variant ${i % 2}"))
      val noise = (201L to 205L).map(i =>
        i -> s"unrelated hot-block text q$i r$i s$i t$i u$i v$i w$i x$i y$i z$i")
      val boiler = (401L to 570L).map(i => // 170 identical > cap 160
        i -> "boilerplate cookie banner accept all cookies to continue reading")
      val all = megaA ++ megaB ++ noise ++ boiler
      val corpus = c.spark.createDataFrame(all).toDF("doc_id", "text").withColumn("blk", lit(0))
      val truth = Dedup.autoClusters(corpus, "doc_id", "text", Seq("blk"), k = k,
          minPpm = minPpm, maxBlockPopulation = maxBlockPopulation,
          bands = bands, rowsPerBand = rowsPerBand)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val feed = corpus.select(col("doc_id").as("doc"),
          graft.functions.MinHashSig(col("text"), k, perms).as("sig"))
        .select(col("doc"),
          explode(array((0 until bands).map { b =>
            struct(lit(b).as("band"),
              xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bh"))
          }: _*)).as("bb"))
        .select(col("doc"), col("bb.band"), col("bb.bh"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
        .zipWithIndex.map { case ((doc, band, bh), seq) =>
          rec("clusters", seq.toLong, s"$band:$bh", doc.toString)
        }.toIndexedSeq
      def docOf(r: Record): Long = new String(r.value, "UTF-8").toLong
      val fold = FoldOption.of[Bucket, Record](r => Bucket(1L, Seq(docOf(r)))) { (st, r) =>
        val d = docOf(r)
        if (st.members.contains(d) && st.n <= cap) st
        else {
          val n = st.n + 1
          if (n > cap) Bucket(n, Seq.empty) else Bucket(n, st.members :+ d)
        }
      }
      // alive buckets (n <= cap) emit min -> member, bandStarEdges' contract
      def labels(buckets: Map[String, Bucket]): Map[Long, Long] = {
        val starEdges = buckets.values.toSeq.flatMap { b =>
          if (b.n > cap || b.members.size < 2) Nil
          else b.members.filterNot(_ == b.members.min).map(d => (b.members.min, d))
        }.distinct
        val verified = Dedup.verifyStarEdges(corpus, "doc_id", "text",
          c.spark.createDataFrame(starEdges).toDF("doc1", "doc2"), k, minPpm, packedAscii = true)
        val comps = Dedup.connectedComponents(verified, "doc1", "doc2")
        corpus.select(col("doc_id").as("doc"))
          .join(comps.withColumnRenamed("node", "doc").hint("shuffle_hash"), Seq("doc"), "left")
          .select(col("doc"), coalesce(col("comp"), col("doc")).as("cluster"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      def shape(streamed: Map[Long, Long]): Seq[String] = {
        val ids = all.map(_._1).toSet
        val checks = Seq(
          "every doc labelled" -> (streamed.keySet == ids),
          "mega-cluster A linked" -> ((1L to 30L).map(streamed.get).distinct.size == 1),
          "mega-cluster B linked" -> ((31L to 60L).map(streamed.get).distinct.size == 1),
          "boilerplate docs singletons (cap fired)" ->
            (401L to 570L).forall(i => streamed.get(i).contains(i)))
        checks.collect { case (what, false) => s"MISMATCH $what" }
      }
      Replay(split(feed, 4, overlap = 64), (ds: Dataset[Record]) => KeyFlowTws.flow(ds, fold),
        truth, labels, shape)
    },

    // event types appended to a ListState in offset order; the final
    // buffer equals string_agg(event_type ORDER BY event_id), the
    // q_fold_ordered claim carried by the store's list order
    ParityCase("TWS list-state surface: the per-key ordered journal buffer reassembles into " +
        "the batch ordered sequence (P6 semantics, forked)") { c =>
      import c.spark.implicits._
      val events = Tables(c.spark, c.data, "events")
        .select(col("event_id"), col("user_id"), col("event_type")).collect()
        .map(r => rec("events", r.getLong(0), r.getLong(1).toString, r.getString(2)))
        .sortBy(_.offset)
      val rows = c.replay("liststate", events.grouped(math.max(events.length / 4, 1)).map(_.toSeq).toSeq)(
        _.groupByKey(_.key)
          .transformWithState(new JournalBufferProcessor, TimeMode.None(), OutputMode.Update()))
      // the longest emitted sequence per user is the final buffer
      val streamed = rows.groupBy(_.key).map { case (k, rs) => k -> rs.map(_.seq).maxBy(_.length) }
      val truth = events.groupBy(_.key)
        .map { case (k, rs) => k -> rs.map(r => new String(r.value, "UTF-8")).mkString(",") }
      diff(streamed, truth)
    },

    // keep-last fold through the classic engine; the offset guard makes it
    // max_by(event_id) even with old offsets replayed after new ones
    ParityCase.replay("streaming last-state (SnapshotFold semantics) equals batch max_by") { c =>
      import c.spark.implicits._
      val events = Tables(c.spark, c.data, "events")
        .select(col("event_id"), col("user_id"), col("event_type")).collect()
        .map(r => rec("events", r.getLong(0), r.getLong(1).toString, r.getString(2)))
      val last = FoldOption[String, Record]((_, r) => Some(new String(r.value, "UTF-8")))
      val (hi, lo) = events.partition(_.offset % 3 == 0)
      val truth = Tables(c.spark, c.data, "events")
        .groupBy("user_id").agg(expr("max_by(event_type, event_id)").as("t"))
        .collect().map(r => r.getLong(0).toString -> r.getString(1)).toMap
      Replay(Seq(hi.toSeq, lo.toSeq ++ hi.take(100).toSeq),
        (ds: Dataset[Record]) => KeyFlow.flow(ds, last), truth, identity[Map[String, String]])
    })

  /** A key's changelog cut into segments: a tombstone at offset o closes
    * the segment whose final state row carries offset o; the max-offset
    * state row past the last tombstone is the open segment. Keyed on
    * offsets, so rows replayed after a restart collapse. */
  private def segments[S](ks: Array[KeyOutput[S]]): (Seq[S], Option[S]) = {
    val tombOffsets = ks.filter(_.tombstone).map(_.offset).toSet
    val states = ks.filter(o => !o.tombstone && o.state.isDefined)
    val closed = states.filter(o => tombOffsets.contains(o.offset))
      .groupBy(_.offset).map(_._2.head.state.get).toSeq
    val lastTomb = if (tombOffsets.isEmpty) Long.MinValue else tombOffsets.max
    (closed, states.filter(_.offset > lastTomb).maxByOption(_.offset).map(_.state.get))
  }

  /** Events as records in event-time order, offset = feed index, the event
    * time in the record timestamp. */
  private def eventTimeFeed(e: org.apache.spark.sql.DataFrame): IndexedSeq[Record] =
    e.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._2))
      .zipWithIndex
      .map { case ((u, _, ms), idx) => rec("events", idx.toLong, u.toString, "", eventMs = ms) }
      .toIndexedSeq
}
