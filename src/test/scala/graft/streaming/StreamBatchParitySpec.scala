package graft.streaming

import graft.{SparkTestBase, Tables}
import graft.fold.FoldOption
import graft.model.Record
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** SURVEY §7.5: the stateful queries must agree between their batch
  * (DataFrame) form and their streaming (MemoryStream replay) form. This
  * replays the real sf0.001 `events` table through KeyFlow in several
  * microbatches — with a partial replay overlap to exercise the
  * at-least-once dedup guard — and asserts the final per-key states equal
  * the batch aggregation exactly.
  */
class StreamBatchParitySpec extends SparkTestBase {

  test("streaming fold over replayed events equals batch groupBy") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"

    val events = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .collect()
      .map(r => Record("events", 0, r.getLong(0), new Timestamp(0L), 0,
        r.getLong(1).toString, r.getDouble(2).toString.getBytes("UTF-8"), Map.empty))
      .sortBy(_.offset)

    // count + exact decimal sum of the payload
    val fold = FoldOption.of[(Long, BigDecimal), Record] { r =>
      (1L, BigDecimal(new String(r.value, "UTF-8")))
    } { (st, r) => (st._1 + 1, st._2 + BigDecimal(new String(r.value, "UTF-8"))) }

    val input = MemoryStream[Record]
    val out = KeyFlow.flow(input.toDS(), fold)
    val ckpt = tempDir("parity-ckpt").toString
    val q = out.writeStream.format("memory").queryName("parity")
      .outputMode("update").option("checkpointLocation", ckpt).start()

    // 3 microbatches; batch 2 re-sends the tail of batch 1 (replay overlap)
    val (b1, rest) = events.splitAt(events.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b1.takeRight(50).toSeq ++ b2.toSeq); q.processAllAvailable()
    input.addData(b3.toSeq); q.processAllAvailable()

    val streamed = spark.table("parity").as[KeyOutput[(Long, BigDecimal)]]
      .collect().groupBy(_.key)
      .map { case (k, rows) => k -> rows.maxBy(_.offset).state.get }

    val batch = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("total"))
      .collect()
      .map(r => r.getLong(0).toString -> ((r.getLong(1), BigDecimal(r.getDecimal(2)))))
      .toMap

    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (k, (n, total)) =>
      assert(n == batch(k)._1, s"count mismatch for $k")
      assert(total.compare(batch(k)._2) == 0, s"sum mismatch for $k")
    }
    q.stop()
  }

  test("timer-dependent parity: watermark-domain sessionization equals batch Sessionize.byGap " +
    "(q_session_agg semantics, forked)") {
    // the smoke replays sf0.001 events through KeyFlowTws with event-time
    // maxIdle timers — including a mid-stream restart — and diffs per-user
    // session lists against the batch oracle query shape (585 sessions)
    assert(forkSmoke("graft.streaming.SessionParitySmoke") == 0,
      "SessionParitySmoke reported a stream/batch session mismatch")
  }

  test("timer-dependent parity: watermark-domain idle unload equals batch q_unload_idle " +
    "(T5 semantics, forked)") {
    // the smoke replays sf0.001 events through KeyFlowTws with a 12h
    // event-time maxIdle and removeOnIdle=true — 5 of 15 users unload at
    // end of stream and ~300 mid-stream unload-then-revive cycles run
    // through the closing-state segment-sum reconstruction — and diffs
    // the loaded set's (n_events, last_ms) against the batch aggregate
    assert(forkSmoke("graft.streaming.UnloadParitySmoke") == 0,
      "UnloadParitySmoke reported a stream/batch unload mismatch")
  }

  test("LLM-pipeline parity: incremental exact dedup through KeyFlowTws equals " +
    "batch Dedup.exact (q_dedup_exact semantics, forked)") {
    // the smoke replays sf0.001 documents (plus synthetic re-crawls so
    // digest groups of size > 1 exist) through KeyFlowTws keyed by content
    // digest, folding (count, min id) across 4 microbatches with a replay
    // overlap, and diffs final states against the declared batch operator
    assert(forkSmoke("graft.streaming.DedupParitySmoke") == 0,
      "DedupParitySmoke reported a stream/batch dedup mismatch")
  }

  test("LLM-pipeline parity: incremental decontamination through KeyFlowTws " +
    "equals batch Dedup.exactAgainst folded over batches (forked)") {
    // the smoke replays sf0.001 documents + re-crawls keyed by digest,
    // seeded with "yesterday's index" (every 5th doc) as marker records,
    // first-writer-wins fold, at-least-once overlap per batch; the final
    // kept map must equal exactAgainst accumulated over the same batches
    assert(forkSmoke("graft.streaming.ExactAgainstParitySmoke") == 0,
      "ExactAgainstParitySmoke reported a stream/batch decontamination mismatch")
  }

  test("LLM-pipeline parity: incremental corpus-line dedup through KeyFlowTws " +
    "reassembles into batch dedupLinesCorpus exactly (forked)") {
    // the smoke replays every (doc, pos, line) instance of the
    // q_corpus_line_dedup synthesis in crawl order, keyed by line digest,
    // folding keep-first (count, min (doc, pos), line) across 4
    // microbatches with a replay overlap — then REASSEMBLES the final
    // states into per-doc (text_dedup, kept, dropped) and diffs against
    // the declared batch operator bit-for-bit
    assert(forkSmoke("graft.streaming.LineDedupParitySmoke") == 0,
      "LineDedupParitySmoke reported a stream/batch line-dedup mismatch")
  }

  test("LLM-pipeline parity: incremental MinHash-LSH near-dup dedup through " +
    "KeyFlowTws equals batch minhashLshPairs (forked)") {
    // the production ingest shape: per-(doc, band) records keyed by the
    // band bucket fold first-seen (doc, signature) lists against the
    // seen-corpus state across 4 microbatches with an at-least-once
    // overlap; candidate pairs reassembled from the final bucket states
    // (batch plan's exact estimate arithmetic) must equal the declared
    // q_minhash_lsh operator's pair set, planted near-dups included
    assert(forkSmoke("graft.streaming.MinHashDedupParitySmoke") == 0,
      "MinHashDedupParitySmoke reported a stream/batch near-dup mismatch")
  }

  test("LLM-pipeline parity: incremental token accounting through KeyFlowTws equals " +
    "batch q_token_stats (forked)") {
    // the smoke replays sf0.001 documents through KeyFlowTws keyed by
    // SOURCE (low-cardinality hot keys, the opposite regime of the
    // per-digest dedup smoke), folding (n_docs, n_tokens, n_chars) across
    // 4 microbatches with a replay overlap, and diffs the running ledger
    // against the declared q_token_stats batch aggregate
    assert(forkSmoke("graft.streaming.TokenStatsParitySmoke") == 0,
      "TokenStatsParitySmoke reported a stream/batch token-ledger mismatch")
  }

  test("LLM-pipeline parity: incremental bottom-k sampling through KeyFlowTws equals " +
    "batch q_sample_bottomk (forked)") {
    // the smoke replays sf0.001 documents keyed by source, folding the
    // sorted bottom-k (xxhash64, doc_id) pair list across 4 microbatches
    // with a replay overlap (set-semantics insertion = idempotent under
    // at-least-once), and diffs final samples against the declared query
    assert(forkSmoke("graft.streaming.BottomKParitySmoke") == 0,
      "BottomKParitySmoke reported a stream/batch sample mismatch")
  }

  test("cross-job eager recovery: a fresh query seeded from ExternalSnapshots continues " +
    "the fold with replay idempotence (K1-K3 semantics, forked)") {
    // job 1 folds a prefix and persists snapshots to the external store;
    // job 2 (fresh checkpoint, zero Spark state) seeds
    // flowWithInitialState from readLatest, consumes the rest WITH a
    // 100-record replay overlap, and must equal the one-shot batch
    // aggregate - the reference's golden restart invariant across
    // independent jobs sharing only the store
    assert(forkSmoke("graft.streaming.BootstrapSmoke") == 0,
      "BootstrapSmoke reported a cross-job recovery mismatch")
  }

  test("state-schema evolution across a checkpoint restart: graceful under avro " +
    "encoding, loud failure + ExternalSnapshots migration under unsaferow (forked)") {
    // the user state S gains an Option field between two runs on ONE
    // checkpoint: avro encoding must decode old state with the field
    // defaulted and continue the fold exactly; default unsaferow must
    // refuse the restart with a schema error (never silently misread),
    // after which the documented store-drain -> lift -> seed migration
    // converges to the same truth with the replay guard still armed
    assert(forkSmoke("graft.streaming.StateEvolutionSmoke") == 0,
      "StateEvolutionSmoke: a state-evolution contract leg failed (see stdout)")
  }

  test("incrementally maintained SCD2 dimension equals the batch q_scd2 build " +
    "row for row (forked)") {
    // events replayed keyed by user in (ms, event_id) order across 4
    // microbatches with a replay overlap; the change-detection fold is
    // replay-safe ONLY through the engine's offset guard — a re-delivered
    // change would otherwise append a phantom version
    assert(forkSmoke("graft.streaming.Scd2ParitySmoke") == 0,
      "Scd2ParitySmoke reported a version-history mismatch")
  }

  test("incremental conversion tracking equals the batch q_time_to_convert grain " +
    "user for user (forked)") {
    // per-user (first view, first purchase) state maintained online with a
    // replay overlap; the converted-user count must also tie back to the
    // declared decile output's Σ n_users
    assert(forkSmoke("graft.streaming.ConvertParitySmoke") == 0,
      "ConvertParitySmoke reported a conversion-state mismatch")
  }

  test("online CEP pattern DFA equals the batch regex count user for user (forked)") {
    // 'vc*p' as a 2-state DFA in fold state; equivalence to the
    // left-to-right non-overlapping regex scan argued in the smoke's doc
    assert(forkSmoke("graft.streaming.CepParitySmoke") == 0,
      "CepParitySmoke reported a pattern-count mismatch")
  }

  test("online time-weighted average equals the batch q_twap row for row (forked)") {
    // the interval integral is NOT replay-idempotent — the replay overlap
    // passes only through the P9 offset guard
    assert(forkSmoke("graft.streaming.TwapParitySmoke") == 0,
      "TwapParitySmoke reported an integral mismatch")
  }

  test("incrementally maintained KMV sketch equals the batch kmv_sketch aggregate " +
    "hash for hash (forked)") {
    // bottom-k union is associative, commutative AND idempotent, so the
    // replay overlap is harmless by construction (contrast CmsParitySmoke);
    // a sampled overlap cell re-checks the declared reader expression
    assert(forkSmoke("graft.streaming.KmvParitySmoke") == 0,
      "KmvParitySmoke reported a sketch mismatch")
  }

  test("incrementally maintained Count-Min sketch equals the batch count_min_sketch " +
    "aggregate probe-for-probe (forked)") {
    // per-source CMS kept as per-key state across 3 disjoint microbatches
    // (counting state is exactly-once territory — the checkpoint protocol
    // guarantee, not replay idempotence); estimates must match the
    // built-in aggregate + cms_probe path EXACTLY because CMS merges are
    // commutative counter sums at fixed (eps, confidence, seed)
    assert(forkSmoke("graft.streaming.CmsParitySmoke") == 0,
      "CmsParitySmoke reported a stream/batch sketch estimate mismatch")
  }

  test("TWS map-state surface: per-key sub-keyed counters equal the batch (user, type) " +
    "aggregate (forked)") {
    // per-user per-event-type counts maintained in getMapState across 4
    // microbatches - per-entry updates instead of rewriting a composite
    // value (what reference users hand-build inside their fold S)
    assert(forkSmoke("graft.streaming.MapStateSmoke") == 0,
      "MapStateSmoke reported a map-state ledger mismatch")
  }

  test("cluster-contract parity (r14): incremental band-bucket state through TWS " +
    "reassembles into BIT-EXACT autoClusters labels, cap discipline included (forked)") {
    // the streaming twin of the linear-output production dedup path:
    // per-bucket member state (bounded by autoBucketCap), star edges from
    // final bucket minima, the SAME verifyStarEdges + CC tail as batch;
    // an over-cap boilerplate group proves the dropHotBuckets discipline
    // fires identically on both sides
    assert(forkSmoke("graft.streaming.ClusterParitySmoke") == 0,
      "ClusterParitySmoke reported a cluster-label mismatch")
  }

  test("TWS list-state surface: the per-key ordered journal buffer reassembles into " +
    "the batch ordered sequence (P6 semantics, forked)") {
    // event types appended to a ListState in offset order across 4
    // microbatches; the final buffer equals string_agg ORDER BY event_id
    assert(forkSmoke("graft.streaming.ListStateSmoke") == 0,
      "ListStateSmoke reported a journal-buffer order mismatch")
  }

  test("streaming last-state (SnapshotFold semantics) equals batch max_by") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val events = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .collect()
      .map(r => Record("events", 0, r.getLong(0), new java.sql.Timestamp(0L), 0,
        r.getLong(1).toString, r.getString(2).getBytes("UTF-8"), Map.empty))

    // keep-last fold; the engine's offset guard makes it max_by(event_id)
    val last = FoldOption[String, Record]((_, r) => Some(new String(r.value, "UTF-8")))
    val input = MemoryStream[Record]
    val out = KeyFlow.flow(input.toDS(), last)
    val q = out.writeStream.format("memory").queryName("paritylast")
      .outputMode("update")
      .option("checkpointLocation", tempDir("parity2").toString)
      .start()
    // deliberately out-of-order batches: old offsets replayed after new ones
    val (hi, lo) = events.partition(_.offset % 3 == 0)
    input.addData(hi.toSeq); q.processAllAvailable()
    input.addData(lo.toSeq ++ hi.take(100).toSeq); q.processAllAvailable()

    val streamed = spark.table("paritylast").as[KeyOutput[String]]
      .collect().groupBy(_.key)
      .map { case (k, rows) => k -> rows.maxBy(_.offset).state.get }
    val batch = Tables(spark, dir, "events")
      .groupBy("user_id").agg(expr("max_by(event_type, event_id)").as("t"))
      .collect().map(r => r.getLong(0).toString -> r.getString(1)).toMap
    assert(streamed == batch)
    q.stop()
  }
}
