package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Lineage.LineageOps

/** Deduplication operators for training-data pipelines, designed so every
  * variant scales: candidate generation is always a bucket equi-join (hash
  * shuffle on a small key), never an all-pairs cross join; verification
  * runs only inside buckets.
  *
  *  - exact:      group by content hash (one shuffle on a 128-bit key)
  *  - ngram:      exact Jaccard over k-shingle sets, blocked
  *  - minhashLsh: MinHash signatures banded into LSH buckets
  *  - simhash:    64-bit SimHash, chunk-banded (pigeonhole on Hamming dist)
  */
object Dedup {

  /** Round-trace for the CC loop (perf diagnostics; stderr only). */
  private val ccDebug = sys.props.contains("graft.cc.debug")

  /** Pin a CPU-dense exchange to the session's configured shuffle width.
    *
    * AQE's partition coalescing is BYTE-based (advisoryPartitionSizeInBytes)
    * and cannot see compute density: a candidate-pair stream is a few MB of
    * (long, long) rows, so AQE coalesces its exchange to ONE partition —
    * and the per-pair verify kernel downstream (sorted-intersect, dot
    * product) then runs single-threaded (measured: a 4.1 s one-task stage
    * inside q_dedup_ngram_auto at sf0.1 holding 4.0 s of pure kernel CPU).
    * An explicit-width repartition is exempt from AQE coalescing by
    * Spark's own rule (user-specified repartitions are preserved) and
    * costs no extra exchange (it IS the join's required distribution).
    *
    * Width (r16): these exchanges exist for COMPUTE density, so the width
    * tracks the cluster's compute — `defaultParallelism` as the floor, at
    * most 2x it for wave balance — rather than pinning flat at
    * `spark.sql.shuffle.partitions`, which is tuned for byte-heavy
    * exchanges (a 2000-partition shuffle knob would schedule 2000 tasks
    * under a 56-row candidate set; a CPU-dense kernel stage can never use
    * more than the core count productively). The knob still CAPS the
    * width when it is the smaller bound, so sessions that deliberately
    * run narrow stay narrow. (A candidate-COUNT-aware width would need an
    * extra action in the query path — rejected; the r15/r16 local bench
    * sets shuffle.partitions = cores, so this is bit-identical locally.) */
  private[graft] def pinWidth(df: DataFrame, cols: Column*): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val conf = df.sparkSession.sessionState.conf.numShufflePartitions
    val width = math.max(sc.defaultParallelism,
      math.min(conf, 2 * sc.defaultParallelism))
    df.repartition(width, cols: _*)
  }

  /** Exact duplicate groups by md5(text): (digest, n_dups, keep_id). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("digest"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Incremental (cross-corpus) exact dedup by an arbitrary content key —
    * the web-crawl shape: yesterday's index is `seen`, today's batch
    * dedups first within itself (keep the min id per key) and then
    * against everything already ingested (anti-join on the key). The key
    * is whatever content identity the pipeline dedups on: an md5 digest,
    * a canonical URL ([[Corpus.canonicalUrl]]), or a near-dup fingerprint
    * ([[TextAnalysis.minShingleFingerprint]]). NULL keys are dropped on
    * both sides — unknown content must not dedup against other unknowns
    * (same policy as the cluster star edges). Shape at scale: every step
    * is a hash equi-join on the key; the seen side reduces to DISTINCT
    * keys before joining (slim, but corpus-sized — deliberately NOT
    * broadcast; at 100 TB the seen-key table is itself TBs and the
    * anti-join must shuffle both sides on the key). */
  def exactAgainst(batch: DataFrame, seen: DataFrame,
                   idCol: String, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // keep-min via a window min, NOT groupBy+join-back: the batch is
    // consumed ONCE, so an expensive key projection (a fingerprint
    // kernel) is evaluated once per row — the join-back shape paid the
    // same shuffle plus a second evaluation of the batch subtree
    // (measured 3x the fingerprint sweeps on the declared query)
    val b = batch.filter(col(keyCol).isNotNull)
      .withColumn("__min", min(col(idCol)).over(Window.partitionBy(keyCol)))
      .filter(col(idCol) === col("__min")).drop("__min")
    b.join(seen.filter(col(keyCol).isNotNull).select(col(keyCol)).distinct(),
      Seq(keyCol), "left_anti")
  }

  /** Skew guard for bucket self-joins: drop rows whose bucket key holds
    * more than `cap` members. A bucket of size m emits m(m−1)/2 candidate
    * pairs, so one pathologically common band value (boilerplate text, a
    * zero-vector embedding cell) turns the equi-join quadratic — the
    * standard large-corpus remedy (public dedup practice, e.g. the
    * AllPairs/LSH literature's frequency caps) is to declare buckets above
    * a population cap non-discriminative and skip them, trading bounded
    * recall for a hard per-bucket cost ceiling of cap(cap−1)/2.
    *
    * Shape at scale: bucket sizes via map-side partial count on the SLIM
    * key projection; the over-cap key list is tiny by construction
    * (≤ |rows|/cap keys) and broadcast for a map-side anti-join — the big
    * side never shuffles for the guard. */
  def dropHotBuckets(bucketed: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    if (cap == Int.MaxValue) return bucketed
    val keys = keyCols.map(col)
    val hot = bucketed.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap).select(keys: _*)
    bucketed.join(broadcast(hot), keyCols, "left_anti")
  }

  /** Distributed connected components over an undirected edge list — the
    * last mile of every dedup pipeline: pair-finders (exact hash, MinHash,
    * SimHash, URL canonicalization, ...) each emit edges, and the TRANSITIVE
    * closure of their union is the dedup cluster (A≈B by one signal, B≈C by
    * another ⇒ {A,B,C} is one cluster; keep `min(id)` per component).
    *
    * Algorithm: min-label propagation fused with pointer jumping (path
    * halving). Each round does (1) `comp(u) ← min(comp(u), min over
    * neighbors' comp)` — one equi-join + one partial-agg groupBy — and (2)
    * `comp(u) ← comp(comp(u))` — one self-join on the label table. Labels
    * are monotone non-increasing and round (2) halves pointer chains, so
    * convergence takes O(log n) rounds on any topology (a plain
    * neighbor-min loop needs O(diameter) — unbounded on chain-shaped
    * clusters); every round is shuffle-bounded by |E|, nothing is ever
    * collected to the driver. The driver-side loop only compares two
    * counts per round (the changed-label count), which is the standard
    * iterate-until-fixpoint shape (same as GraphX/Pregel at 100 TB).
    *
    * Returns (node, component) for every node appearing in `edges`, where
    * `component` = min node id of the component. Nodes absent from `edges`
    * are their own singleton component — left-join and coalesce at the
    * call site (see q_dedup_cluster). The returned table is an EAGER local
    * checkpoint: lineage-free (no recompute cascade through the unpersisted
    * rounds), not an entry in the SQL cache manager, and its blocks are
    * reclaimed by the ContextCleaner once the caller drops the reference —
    * so a session running many clusterings leaks nothing. (Set
    * `spark.graft.checkpoint.dir` to switch every cut to reliable
    * checkpoint() — executor-loss-safe; see [[Lineage]].)
    *
    * Skew: a hub node (one root referenced by millions of edges — the
    * shape star-edge inputs produce) concentrates the neighbor-min join on
    * one key; the per-round label attach is a STREAMING partition-local
    * probe against a bounded (|V|/P) label map, so a hub's adjacency is
    * never buffered per key (the hazard of a cogroup-style join; the old
    * DF loop relied on AQE's skew split for the same guarantee). Pointer
    * jumping also collapses hub components in one round, so hot keys
    * never persist across rounds.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    // r16: the 3-5 fixpoint rounds run as PLAIN RDD joins. The former
    // DataFrame loop was correct and shuffle-bounded, but every round paid
    // Catalyst analysis + AQE stage-by-stage re-planning (each exchange
    // becomes its own scheduled job under AQE), which made the CC family a
    // fixed ~4.5-6 s scheduling floor at ANY scale factor (measured equal
    // at sf0.001 and sf0.1; AQE off was WORSE — r15). RDD rounds keep the
    // identical algorithm — min-label propagation fused with pointer
    // jumping, neighbor-min folded into init — with ONE job of 3 slim
    // shuffles per round and no per-round planning. Labels are a pure
    // fixpoint of min() operations, so the output is bit-identical
    // (ConnectedComponentsSpec / PipelineOpsSpec / the q_dedup_cluster
    // oracle pin it).
    //
    // Partitioner width = the pinWidth compute rule (see pinWidth): every
    // per-round join is partitioner-aligned, so only the per-round label
    // re-keys shuffle — the edge table (the big side at 100 TB) moves
    // ONCE, at build.
    val conf = spark.sessionState.conf.numShufflePartitions
    val p = new org.apache.spark.HashPartitioner(
      math.max(sc.defaultParallelism, math.min(conf, 2 * sc.defaultParallelism)))
    val biDf =
      edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
        .union(edges.select(col(dstCol).cast("long").as("u"), col(srcCol).cast("long").as("v")))
    // (v, u) keyed by the neighbor-lookup side; InternalRow primitives, no
    // Row allocation. Null endpoints fail loudly — the old DF loop would
    // have silently labeled a NULL node; no declared caller emits one.
    val bi = biDf.queryExecution.toRdd.mapPartitions { it =>
      it.map { ir =>
        require(!ir.isNullAt(0) && !ir.isNullAt(1),
          "graft.Dedup.connectedComponents: edge endpoints must be non-null")
        (ir.getLong(1), ir.getLong(0))
      }
    }.partitionBy(p)
      // MEMORY_AND_DISK, matching the old Dataset persist: at scale the
      // edge table must SPILL when it outgrows storage memory, not drop
      // partitions and recompute them through the upstream plan each round
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // overflow-safe Σcomp (the convergence witness — comp ids only ever
    // DECREASE, so the labels changed iff the sum strictly dropped):
    // per-partition long accumulation that spills to BigInteger on
    // overflow, never a per-element boxed add.
    def labelSum(rdd: org.apache.spark.rdd.RDD[(Long, Long)]): java.math.BigInteger =
      rdd.mapPartitions { it =>
        var acc = 0L
        var big = java.math.BigInteger.ZERO
        it.foreach { kv =>
          val v = kv._2
          val s = acc + v
          if (((acc ^ s) & (v ^ s)) < 0L) { // signed-overflow test
            big = big.add(java.math.BigInteger.valueOf(acc)); acc = v
          } else acc = s
        }
        Iterator.single(big.add(java.math.BigInteger.valueOf(acc)))
      }.fold(java.math.BigInteger.ZERO)(_.add(_))
    // initial label = min(self, min neighbor): the first neighbor-min round
    // folded into initialization. (An r15 A/B additionally folded one
    // pointer-jump into the init — round counts did not drop on any
    // declared query's graph, so the extra |V| self-join was reverted.)
    var labels = bi.map { case (v, u) => (u, v) }
      .reduceByKey(p, (a: Long, b: Long) => math.min(a, b))
      .mapPartitions(_.map { case (u, mv) => (u, math.min(u, mv)) },
        preservesPartitioning = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    // per-partition label lookup for the partitioner-aligned map joins
    // below: bounded by |V|/P entries — the same per-task memory a
    // shuffled-hash build holds — and the PROBE side streams, so a hub key
    // (one root referenced by millions of edges) never buffers its
    // adjacency the way an RDD cogroup-join would (the skew case AQE's
    // skew split absorbed in the old DF loop).
    def lookup(it: Iterator[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
      val m = new scala.collection.mutable.LongMap[Long]()
      it.foreach { case (k, v) => m.update(k, v) }
      m
    }
    while (!converged && it < maxIter) {
      // (1) neighbor-min: bi and labels share p, so comp(v) attaches by a
      // streaming partition-local probe (zero shuffle); the reduceByKey
      // shuffles |E| (u, comp) pairs WITH map-side combine (≤ distinct-u
      // entries per map partition cross the wire). Every v in bi is also a
      // u (bi is symmetric), so the label probe is total over bi's keys.
      val nbrMin = bi.zipPartitions(labels) { (eIt, lIt) =>
        val m = lookup(lIt)
        eIt.map { case (v, u) => (u, m(v)) }
      }.reduceByKey(p, (a: Long, b: Long) => math.min(a, b))
      val stepped = labels.zipPartitions(nbrMin) { (lIt, nIt) =>
        val m = lookup(nIt)
        lIt.map { case (u, c) => (u, math.min(c, m.getOrElse(u, c))) }
      }
      // (2) pointer jumping: comp(u) ← comp(comp(u)); comp ids are always
      // node ids, so the lookup side is stepped itself (comp(x) ≤ x, and
      // missing comps keep their value — the old left join's coalesce).
      // (r15 A/B: a DOUBLE jump per round cut q_embedding_cluster from 5
      // rounds to 4 but left q_dedup_cluster's propagation-bound graph at
      // 5 while taxing every round with an extra |V| self-join — net
      // loss, reverted.)
      val jumped = stepped.map { case (node, comp) => (comp, node) }
        .partitionBy(p)
        .zipPartitions(stepped) { (bIt, sIt) =>
          val m = lookup(sIt)
          bIt.map { case (comp, node) => (node, m.getOrElse(comp, comp)) }
        }
        .partitionBy(p)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val s = labelSum(jumped) // the ONE action per round
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist()
      labels = jumped
      it += 1
      if (ccDebug) System.err.println(
        s"[cc] round $it sum=$s converged=$converged")
    }
    bi.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"graft.Dedup.connectedComponents did not converge in $maxIter rounds")
    // Hand back a pinned Dataset and release the loop's cache entry: the
    // checkpoint reads the still-cached labels (cheap), owns its own
    // blocks afterwards, and never registers with the cache manager.
    // (spark.graft.checkpoint.dir switches this cut to reliable
    // checkpoint() — executor-loss-safe; see Lineage.)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("comp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val labelDf = spark.createDataFrame(
      labels.map { case (n, c) => org.apache.spark.sql.Row(n, c) }, outSchema)
    val out = labelDf.lineageCut()
    labels.unpersist()
    out
  }

  /** Routing policy for the blocked all-pairs demo paths when a block
    * exceeds `maxBlockPopulation`:
    *
    *  - [[PairRoute.FailFast]] (default): raise at runtime naming the
    *    block and the scale paths — nothing quadratic ever runs.
    *  - [[PairRoute.Auto]]: per-block hybrid. Blocks under the cap keep
    *    the exact all-pairs demo plan; docs in over-cap blocks route
    *    through bounded candidate generation (MinHash-LSH for Jaccard,
    *    winnowed fingerprints for containment — each measure's documented
    *    scale twin), with candidates restricted to same-block pairs and
    *    then EXACT-verified with the caller's k and threshold, so every
    *    emitted score is identical to the demo path's. The only semantic
    *    difference is recall inside hot blocks, which becomes the
    *    candidate generator's (LSH/winnow) guarantee instead of
    *    exhaustive — the same trade the production paths make.
    */
  sealed trait PairRoute
  object PairRoute {
    case object FailFast extends PairRoute
    case object Auto extends PairRoute
  }

  /** Most hot blocks a [[PairRoute.Auto]] split will enumerate on the
    * driver (they are expected to be FEW — boilerplate keys); beyond
    * this the blocking scheme itself is broken and auto-routing would
    * hide it. */
  private val MaxAutoHotBlocks = 10000

  /** Candidate-bucket cap for the [[PairRoute.Auto]] fallbacks: a band /
    * fingerprint bucket larger than this is dropped (`dropHotBuckets`)
    * so one boilerplate bucket spanning a mega-block cannot regenerate
    * the C(n,2) pair volume the route exists to avoid. 8x the block cap
    * keeps full recall for blocks that are merely somewhat over the cap
    * (the common hot case) while bounding per-bucket pair work at
    * C(8·cap, 2) — the same trade the production paths' maxBucket makes. */
  private[graft] def autoBucketCap(maxBlockPopulation: Long): Int =
    math.min(Int.MaxValue.toLong / 8, maxBlockPopulation).toInt * 8

  /** Tag the one-global-block case so every consumer groups/joins on a
    * real column set; returns (tagged df, effective block cols). */
  private def tagGlobalBlock(
      df: DataFrame, blockCols: Seq[String]): (DataFrame, Seq[String]) =
    if (blockCols.nonEmpty) (df, blockCols)
    else (df.withColumn("__gblk", lit(1)), Seq("__gblk"))

  /** THE definition of "hot block": per-block populations above the cap —
    * one slim aggregate, NULL keys counted as a real block. Shared by the
    * FailFast guard and the Auto split so the two can never disagree on
    * which blocks are hot. Returns the block columns + `__blk_n`. */
  private def overCapBlocks(tagged: DataFrame, cols: Seq[String],
      maxBlockPopulation: Long): DataFrame =
    tagged.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("__blk_n"))
      .filter(col("__blk_n") > maxBlockPopulation)

  /** Over-cap block keys as a driver-side list (bounded by
    * [[MaxAutoHotBlocks]], fail-fast past it). Works on the PROJECTED
    * doc table (id + block cols only) — one slim aggregate. */
  private def hotBlockKeys(
      docs: DataFrame, blockCols: Seq[String],
      maxBlockPopulation: Long, caller: String): Array[org.apache.spark.sql.Row] = {
    val (tagged, cols) = tagGlobalBlock(docs, blockCols)
    val hot = overCapBlocks(tagged, cols, maxBlockPopulation)
      .select(cols.map(col): _*)
      .limit(MaxAutoHotBlocks + 1)
      .collect()
    require(hot.length <= MaxAutoHotBlocks,
      s"graft.Dedup.$caller: more than $MaxAutoHotBlocks blocks exceed " +
        s"maxBlockPopulation=$maxBlockPopulation — the blocking scheme is " +
        "degenerate; fix the block keys instead of auto-routing")
    hot
  }

  /** Split `docs` into (cool, hot) halves by membership of the hot block
    * keys (null-safe on every block column — NULL is a real block). */
  private def splitByHotBlocks(
      docs: DataFrame, blockCols: Seq[String],
      hotKeys: Array[org.apache.spark.sql.Row]): (DataFrame, DataFrame) = {
    if (hotKeys.isEmpty) return (docs, docs.limit(0))
    if (blockCols.isEmpty) return (docs.limit(0), docs) // one global block, and it is hot
    val spark = docs.sparkSession
    val schema = org.apache.spark.sql.types.StructType(
      blockCols.map(c => docs.schema(c).copy(name = s"__hot_$c")))
    val hotDf = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(hotKeys: _*), schema))
    val cond = blockCols.map(c => col(c) <=> col(s"__hot_$c")).reduce(_ && _)
    (docs.join(hotDf, cond, "left_anti"), docs.join(hotDf, cond, "left_semi"))
  }

  /** Exact verification of a (doc1, doc2) candidate table against the
    * k-shingle measure — the shared second half of [[lshVerifiedPairs]]
    * and the [[PairRoute.Auto]] hot-block fallbacks. Shingles are
    * computed ONLY for docs that appear in a candidate pair (semi-join →
    * map-side filter on the corpus scan); the expensive intersect is
    * pinned above the joins by the pushdown barrier. `containment`
    * switches the measure (and column name: jacc_ppm / cont_ppm);
    * `packedAscii` MUST mirror the caller's demo-plan setting or the
    * hot-route scores would come from a different shingle encoding
    * (packed is ASCII-only, k <= 7) than the cool blocks'. */
  private def exactVerifyPairs(
      docs: DataFrame, idCol: String, textCol: String,
      cands: DataFrame, k: Int, minPpm: Long,
      containment: Boolean, packedAscii: Boolean = true): DataFrame = {
    val pairDocs = cands
      .select(explode(array(col("doc1"), col("doc2"))).as("__pdoc")).distinct()
    val shingleExpr =
      if (packedAscii) array_sort(TextAnalysis.shinglesPacked(col(textCol), k))
      else TextAnalysis.shingles(col(textCol), k)
    // fanOutKernel BEFORE the shingle projection: on an unsplittable scan
    // the kernel would otherwise run single-threaded (guide §2.5 input
    // skew; a no-op on real layouts). Projected to (id, text) first so the
    // round-robin exchange — identical to the one lshSignatures builds
    // over the same docs — is shared via ReuseExchange in the verified
    // pipelines instead of fanning the corpus twice.
    val fanned = graft.Tables.fanOutKernel(
      docs.select(col(idCol), col(textCol)))
    // ONE pinned exchange on doc feeds both re-attach builds (the
    // minhashLshPairs sigs pattern): alias-aware partitioning propagates
    // hashpartitioning(doc) through the doc1/doc2 renames, so the shingle
    // kernel + sort runs ONCE and the arrays shuffle once — the former
    // per-side projections computed the kernel twice and shuffled the
    // arrays twice (measured as two ~6 s taskSum map stages at sf0.1)
    val sh = pinWidth(fanned
      .join(pairDocs, col(idCol) === col("__pdoc"), "left_semi")
      .select(col(idCol).as("doc"), shingleExpr.as("sh")), col("doc"))
    // shuffle-HASH builds on the shingle side, not sort-merge: SMJ sorts
    // the candidate stream WITH its attached shingle arrays (~9 KB/row),
    // so the external sorter's reservation scales with candidates x
    // array size — measured 1.4 GiB peak task memory + 31 GiB spill on
    // q_dedup_ngram_auto at x30 (SCALING.md footprint table). A hash
    // build bounds peak memory at one PARTITION of the slim per-doc
    // shingle table instead, and the array-carrying candidate stream is
    // never sorted. pinWidth on the candidate stream before each join:
    // the exchanges carry only id pairs (bytes-tiny), so AQE coalesces
    // them to one partition and the per-pair intersect kernels in the
    // join stages run single-threaded (measured 4.1 s one-task stage at
    // sf0.1; see pinWidth).
    val withSh = pinWidth(cands, col("doc1"))
      .join(sh.select(col("doc").as("doc1"), col("sh").as("sh1")).hint("shuffle_hash"), "doc1")
      .transform(pinWidth(_, col("doc2")))
      .join(sh.select(col("doc").as("doc2"), col("sh").as("sh2")).hint("shuffle_hash"), "doc2")
    val inter =
      if (packedAscii) graft.functions.SortedIntersectCount(col("sh1"), col("sh2"))
      else size(array_intersect(col("sh1"), col("sh2"))).cast("long")
    if (containment) {
      val minSize =
        greatest(least(size(col("sh1")), size(col("sh2"))).cast("long"), lit(1L))
      if (packedAscii)
        // two-phase: the cheap early-exit kernel gates; the exact count
        // runs only for survivors (the demo plan's packed shape)
        withSh
          .filter(graft.functions.PushdownBarrier.long(
            graft.functions.ContainmentAtLeast(col("sh1"), col("sh2"), minPpm)
              .cast("long")) === 1L)
          .select(col("doc1"), col("doc2"),
            floor(inter * lit(1000000L) / minSize).cast("long").as("cont_ppm"))
      else
        // no cheap gate exists unpacked: compute cont_ppm ONCE and filter
        // on the column (gating on a second full intersect would double
        // the per-pair kernel work — the demo plan's unpacked shape)
        withSh
          .select(col("doc1"), col("doc2"),
            floor(inter * lit(1000000L) / minSize).cast("long").as("cont_ppm"))
          .filter(graft.functions.PushdownBarrier.long(col("cont_ppm")) >= minPpm)
    } else {
      // provably result-equivalent size-ratio prefilter:
      // J ≤ min(|A|,|B|)/max(|A|,|B|)
      val sizeGuard =
        size(col("sh1")).cast("long") * lit(1000000L) >= lit(minPpm) * size(col("sh2")).cast("long") &&
          size(col("sh2")).cast("long") * lit(1000000L) >= lit(minPpm) * size(col("sh1")).cast("long")
      // greatest(.., 1): belt-and-braces against union = 0. The shingle
      // kernels clamp to >= 1 shingle per non-null text (n = max(len-k+1,
      // 1), ShingleKernels.scala:24), so the 0/0 state is unreachable
      // HERE — the guard exists so the expression stays total if a future
      // caller feeds pre-built arrays that can be empty (the
      // TextAnalysis.jaccardPpm situation, where it is load-bearing)
      val union = greatest(
        size(col("sh1")).cast("long") + size(col("sh2")).cast("long") - inter, lit(1L))
      if (packedAscii)
        // two-phase (r16, the containment discipline): the early-exit
        // threshold kernel — provably ⟺ the floor-div predicate, see
        // JaccardAtLeast — rejects the dominant non-qualifying pairs
        // after touching a fraction of the arrays; the exact count runs
        // only for the few survivors
        withSh.filter(sizeGuard)
          .filter(graft.functions.PushdownBarrier.long(
            graft.functions.JaccardAtLeast(col("sh1"), col("sh2"), minPpm)
              .cast("long")) === 1L)
          .select(col("doc1"), col("doc2"),
            floor(inter * lit(1000000L) / union).cast("long").as("jacc_ppm"))
      else
        withSh.filter(sizeGuard)
          .select(col("doc1"), col("doc2"),
            floor(inter * lit(1000000L) / union).cast("long").as("jacc_ppm"))
          .filter(graft.functions.PushdownBarrier.long(col("jacc_ppm")) >= minPpm)
    }
  }

  /** Restrict a candidate pair table to SAME-BLOCK pairs (null-safe) —
    * the [[PairRoute.Auto]] fallback must not emit pairs the demo plan's
    * block-equality join could never produce. */
  private def sameBlockPairs(
      cands: DataFrame, docs: DataFrame, idCol: String,
      blockCols: Seq[String]): DataFrame = {
    if (blockCols.isEmpty) return cands
    // block re-attach hash-builds on the doc-sized sides: `docs` here is
    // the Auto route's checkpointed hot split (corpus-sized, unreliable
    // ExistingRDD stats) — the planner's broadcast pick scales the
    // per-task hash relation with the corpus (q_lm_score hazard class)
    val b1 = docs.select(col(idCol).as("doc1") +:
      blockCols.map(c => col(c).as(s"__b1_$c")): _*).hint("shuffle_hash")
    val b2 = docs.select(col(idCol).as("doc2") +:
      blockCols.map(c => col(c).as(s"__b2_$c")): _*).hint("shuffle_hash")
    cands.join(b1, "doc1").join(b2, "doc2")
      .filter(blockCols.map(c => col(s"__b1_$c") <=> col(s"__b2_$c")).reduce(_ && _))
      .select(col("doc1"), col("doc2"))
  }

  /** Fail-fast population guard for the blocked all-pairs demo paths: a
    * block of n docs enumerates C(n,2) candidate pairs, so a silently hot
    * block (boilerplate language tag, empty length band) turns the "demo
    * quadratic" into a cluster-eating join with only a doc comment in the
    * way. The guard computes per-block populations (one slim aggregate
    * over the doc table), broadcasts only the OFFENDERS (expected empty),
    * and raises a runtime error naming the block and the scale paths the
    * caller should be on — [[lshVerifiedPairs]] / [[winnowedPairs]] —
    * before the pair join materializes anything. `Long.MaxValue`
    * disables (the explicit caller override). The guard join is
    * NULL-SAFE (`<=>`), matching both the groupBy above it (which
    * already counts NULL keys as one block) and the null-safe pair join
    * in [[blockedPairScaffold]] — a hot block whose key is NULL (lang
    * NULL on every boilerplate doc) must trip the fail-fast, not slip
    * through an equi-join that never matches NULL. */
  private def guardBlockPopulation(
      df: DataFrame, blockCols: Seq[String],
      maxBlockPopulation: Long, caller: String): DataFrame = {
    require(maxBlockPopulation > 0, "maxBlockPopulation must be positive")
    if (maxBlockPopulation == Long.MaxValue) return df
    val (tagged, cols) = tagGlobalBlock(df, blockCols)
    val hot = overCapBlocks(tagged, cols, maxBlockPopulation)
      .select(cols.map(c => col(c).as(s"__hot_$c")) :+ col("__blk_n"): _*)
    val hotCond = cols.map(c => col(c) <=> col(s"__hot_$c")).reduce(_ && _)
    val guarded = tagged.join(broadcast(hot), hotCond, "left")
      .drop(cols.map(c => s"__hot_$c"): _*)
      .withColumn("__blk_guard", assert_true(col("__blk_n").isNull,
        concat(lit(s"graft.Dedup.$caller: block ("),
          concat_ws(",", cols.map(c => col(c).cast("string")): _*),
          lit(") has population "), col("__blk_n"),
          lit(s" > maxBlockPopulation=$maxBlockPopulation; this demo path is " +
            "O(block^2) — use lshVerifiedPairs/winnowedPairs (scale paths) " +
            "or raise the cap explicitly"))))
      .filter(col("__blk_guard").isNull)
      .drop("__blk_n", "__blk_guard")
    if (blockCols.nonEmpty) guarded else guarded.drop("__gblk")
  }

  /** Shared scaffolding of the blocked all-pairs builders
    * ([[ngramJaccardPairs]], [[ngramContainmentPairs]]): shingle
    * projection, (doc1, sh1) / (doc2, sh2) sides with block columns
    * renamed on the right, the block-equality + doc1<doc2 join condition,
    * and the intersect-cardinality expression (merge-pass kernel for
    * packed shingles, array_intersect otherwise). The population guard
    * runs on the shingled table BEFORE the self-join fan-out. */
  private def blockedPairScaffold(
      docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], k: Int, packedAscii: Boolean,
      maxBlockPopulation: Long, caller: String)
      : (DataFrame, DataFrame, Column, Column) = {
    // packed + sorted shingles unlock the merge-pass intersect expression
    val shingleExpr =
      if (packedAscii) array_sort(TextAnalysis.shinglesPacked(col(textCol), k))
      else TextAnalysis.shingles(col(textCol), k)
    // ONE pinned exchange on the block key feeds BOTH join sides (the
    // minhashLshPairs sigs pattern): alias-aware partitioning propagates
    // through the per-side renames, so the shingle kernel + per-doc sort
    // runs ONCE and the arrays cross the wire once — the former per-side
    // projections recomputed the kernel and re-shuffled the arrays per
    // side. The join is NULL-SAFE, and Spark rewrites <=> keys to
    // (coalesce(k, default), isnull(k)) pairs — the pin must use exactly
    // those expressions in that order or EnsureRequirements stacks a
    // second exchange on top (verified in the executed plan). Empty
    // blockCols (global block) or a type with no default literal here
    // keeps the unpinned shape.
    // fanOutKernel BEFORE the shingle projection (guide §2.5): the per-doc
    // shingle+sort kernel is the scaffold's dominant map cost and runs
    // single-threaded on an unsplittable scan; a no-op on real layouts.
    // The population-guard aggregate above the projection prunes __sh, so
    // the kernel never runs for the count.
    val fanned = graft.Tables.fanOutKernel(
      docs.select((col(idCol) +: blockCols.map(col)) :+ col(textCol): _*))
    val guarded = guardBlockPopulation(
      fanned.select(
        (col(idCol) +: blockCols.map(col)) :+ shingleExpr.as("__sh"): _*),
      blockCols, maxBlockPopulation, caller)
    import org.apache.spark.sql.types._
    def defaultLit(dt: DataType): Option[Column] = dt match {
      case StringType  => Some(lit(""))
      case LongType    => Some(lit(0L))
      case IntegerType => Some(lit(0))
      case ShortType   => Some(lit(0.toShort))
      case ByteType    => Some(lit(0.toByte))
      case BooleanType => Some(lit(false))
      case DoubleType  => Some(lit(0.0))
      case FloatType   => Some(lit(0.0f))
      case _           => None
    }
    val pinKeys = blockCols.map { c =>
      defaultLit(guarded.schema(c).dataType)
        .map(d => Seq(coalesce(col(c), d), isnull(col(c))))
    }
    val withShingles =
      if (blockCols.nonEmpty && pinKeys.forall(_.isDefined))
        pinWidth(guarded, pinKeys.flatMap(_.get): _*)
      else guarded
    val a = withShingles.select(
      col(idCol).as("doc1") +: col("__sh").as("sh1") +: blockCols.map(col): _*)
    // hash-build on the right side: left to itself the planner sort-merges
    // the block-key self-join, externally sorting BOTH sides with their
    // shingle arrays attached (the r11 payload-sort hazard; PlanAudit's
    // SMJ-array sweep now pins this). The build side is bounded by the
    // population guard above — one partition of block-guarded shingles —
    // and neither side ever sorts.
    val b = withShingles.select(
      col(idCol).as("doc2") +: col("__sh").as("sh2") +:
        blockCols.map(c => col(c).as(s"${c}_r")): _*)
      .hint("shuffle_hash")
    // null-safe: a NULL block key is a real block (consistent with the
    // population guard's groupBy), not a key that silently never pairs
    val joinCond = blockCols.map(c => col(c) <=> col(s"${c}_r"))
      .foldLeft(col("doc1") < col("doc2"))(_ && _)
    val inter =
      if (packedAscii) graft.functions.SortedIntersectCount(col("sh1"), col("sh2"))
      else size(array_intersect(col("sh1"), col("sh2"))).cast("long")
    (a, b, joinCond, inter)
  }

  /** Exact k-shingle Jaccard pairs above `minPpm`, blocked by (lang,
    * length band) to bound the candidate set. Returns (doc1, doc2,
    * jacc_ppm) with doc1 < doc2.
    *
    * DEMO PATH — quadratic in block population. Any block exceeding
    * `maxBlockPopulation` fails fast at runtime (see
    * [[guardBlockPopulation]]); the scale paths are [[lshVerifiedPairs]]
    * (bounded candidates, identical exact scores) and
    * [[prefixCandidates]] (rare-token prefix filtering). Pass
    * `Long.MaxValue` to disable the guard explicitly. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      k: Int,
      minPpm: Long,
      packedAscii: Boolean = true,
      maxBlockPopulation: Long = 10000L,
      route: PairRoute = PairRoute.FailFast): DataFrame = route match {
    case PairRoute.Auto =>
      // materialize the slim working set ONCE: the Auto route consumes
      // the docs subtree from many consumers (hot-key aggregate, the
      // anti/semi splits, LSH signatures, block re-attachment twice,
      // verify shingles) — against an expensive upstream plan each would
      // recompute the lot (the eager-checkpoint-before-self-joins house
      // rule; spark.graft.checkpoint.dir makes it reliable — see Lineage)
      val slim = docs
        .select((idCol +: textCol +: blockCols).distinct.map(col): _*)
        .lineageCut()
      val hotKeys = hotBlockKeys(slim.select(blockCols.map(col): _*),
        blockCols, maxBlockPopulation, "ngramJaccardPairs")
      if (hotKeys.isEmpty)
        ngramJaccardPairs(slim, idCol, textCol, blockCols, k, minPpm,
          packedAscii, Long.MaxValue)
      else {
        val (cool, hotDocs) = splitByHotBlocks(slim, blockCols, hotKeys)
        val coolPairs = ngramJaccardPairs(cool, idCol, textCol, blockCols, k,
          minPpm, packedAscii, Long.MaxValue)
        // hot blocks: LSH candidates (Jaccard's scale twin), same-block
        // only, then exact verify with the CALLER's k/threshold/encoding —
        // emitted scores are identical to the demo plan's. Candidate
        // buckets are CAPPED (the dropHotBuckets boilerplate trade): one
        // band bucket shared by a whole mega-block would regenerate the
        // C(n,2) blowup Auto exists to prevent, so buckets above
        // 8x maxBlockPopulation are dropped — recall inside such buckets
        // is the price of bounded candidates, exactly as in the
        // production paths.
        // the generator MUST estimate the measure being verified: signatures
        // are built over the CALLER's k (a k=3 Jaccard of 0.9 can be a k=5
        // Jaccard of 0.4 — generating at the default shingle size would
        // silently drop pairs the demo plan emits before verify ever ran)
        val cands = sameBlockPairs(
          minhashLshPairs(hotDocs, idCol, textCol, k = k,
            minEstPpm = math.min(500000L, minPpm / 2),
            maxBucket = autoBucketCap(maxBlockPopulation)).select("doc1", "doc2"),
          hotDocs, idCol, blockCols)
        coolPairs.unionByName(
          exactVerifyPairs(hotDocs, idCol, textCol, cands, k, minPpm,
            containment = false, packedAscii = packedAscii))
      }
    case PairRoute.FailFast =>
    val (a, b, blockCond, inter) =
      blockedPairScaffold(docs, idCol, textCol, blockCols, k, packedAscii,
        maxBlockPopulation, "ngramJaccardPairs")
    // size-ratio prefilter: J = |∩|/|∪| ≤ min(|A|,|B|)/max(|A|,|B|), so
    // pairs failing the ratio can never reach minPpm — provably
    // result-equivalent, and it skips the expensive intersect for most
    // candidate pairs.
    val sizeGuard =
      size(col("sh1")).cast("long") * lit(1000000L) >= lit(minPpm) * size(col("sh2")).cast("long") &&
        size(col("sh2")).cast("long") * lit(1000000L) >= lit(minPpm) * size(col("sh1")).cast("long")
    val joinCond = blockCond && sizeGuard
    // greatest(.., 1): belt-and-braces — the kernels' >= 1 shingle clamp
    // makes union = 0 unreachable here (exactVerifyPairs note)
    val union = greatest(
      size(col("sh1")).cast("long") + size(col("sh2")).cast("long") - inter, lit(1L))
    // Barrier pins the expensive jaccard filter ABOVE the join — otherwise
    // the optimizer pushes it into the join condition ahead of the cheap
    // guards and the intersect runs for every candidate pair (see
    // graft.functions.PushdownBarrier).
    if (packedAscii)
      // two-phase (r16): the early-exit threshold kernel (provably ⟺ the
      // floor-div predicate — JaccardAtLeast scaladoc) rejects the
      // dominant non-qualifying pairs after touching a fraction of the
      // arrays; the exact merge-pass count runs only for survivors.
      a.join(b, joinCond)
        .filter(graft.functions.PushdownBarrier.long(
          graft.functions.JaccardAtLeast(col("sh1"), col("sh2"), minPpm)
            .cast("long")) === 1L)
        .select(col("doc1"), col("doc2"),
          floor(inter * lit(1000000L) / union).cast("long").as("jacc_ppm"))
    else
      a.join(b, joinCond)
        .select(col("doc1"), col("doc2"),
          floor(inter * lit(1000000L) / union).cast("long").as("jacc_ppm"))
        .filter(graft.functions.PushdownBarrier.long(col("jacc_ppm")) >= minPpm)
  }

  /** Exact k-shingle CONTAINMENT pairs (Broder 1997's asymmetric measure):
    * `cont_ppm = |A∩B| / min(|A|, |B|)` — 1.0 whenever the smaller
    * shingle set sits entirely inside the larger, however different the
    * sizes. This is the subset-duplication detector Jaccard structurally
    * misses: a quote, a mirrored section, or a doc embedded in a larger
    * page has J = |A|/|B| (arbitrarily small) but containment = 1.
    *
    * Same blocked-all-pairs shape and caveat as [[ngramJaccardPairs]]:
    * quadratic in block population, the oracle-exact demo, guarded by the
    * same `maxBlockPopulation` fail-fast; production candidates come from
    * the LSH paths ([[winnowedPairs]] for the subset-dup case). Note there is deliberately NO
    * size-ratio prefilter here — the size-asymmetric pairs a Jaccard
    * blocker may discard are exactly containment's targets (so block on
    * size-independent keys, e.g. language, not length bands). The
    * denominator is exact on both engines; the expensive intersect is
    * pinned above the join by the pushdown barrier. */
  def ngramContainmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      k: Int,
      minPpm: Long,
      packedAscii: Boolean = true,
      maxBlockPopulation: Long = 10000L,
      route: PairRoute = PairRoute.FailFast): DataFrame = route match {
    case PairRoute.Auto =>
      // one slim materialization for the route's many consumers — the
      // ngramJaccardPairs discipline
      val slim = docs
        .select((idCol +: textCol +: blockCols).distinct.map(col): _*)
        .lineageCut()
      val hotKeys = hotBlockKeys(slim.select(blockCols.map(col): _*),
        blockCols, maxBlockPopulation, "ngramContainmentPairs")
      if (hotKeys.isEmpty)
        ngramContainmentPairs(slim, idCol, textCol, blockCols, k, minPpm,
          packedAscii, Long.MaxValue)
      else {
        val (cool, hotDocs) = splitByHotBlocks(slim, blockCols, hotKeys)
        val coolPairs = ngramContainmentPairs(cool, idCol, textCol, blockCols,
          k, minPpm, packedAscii, Long.MaxValue)
        // hot blocks: winnowed-fingerprint candidates — CONTAINMENT's
        // scale twin, not LSH: MinHash estimates Jaccard, which is
        // arbitrarily small for exactly the subset-duplication pairs this
        // measure targets, while winnowing guarantees any shared
        // substring of length >= w + k - 1 shares a fingerprint. w = 4
        // keeps the guarantee tight (k+3 chars) at ~n/4 fingerprints/doc.
        // Fingerprint buckets are capped like the Jaccard route's band
        // buckets (bounded candidates over boilerplate-bucket recall).
        val cands = sameBlockPairs(
          winnowedPairs(hotDocs, idCol, textCol, k = k, w = 4, minShared = 1L,
            maxBucket = autoBucketCap(maxBlockPopulation))
            .select("doc1", "doc2"),
          hotDocs, idCol, blockCols)
        coolPairs.unionByName(
          exactVerifyPairs(hotDocs, idCol, textCol, cands, k, minPpm,
            containment = true, packedAscii = packedAscii))
      }
    case PairRoute.FailFast =>
    val (a, b, joinCond, inter) =
      blockedPairScaffold(docs, idCol, textCol, blockCols, k, packedAscii,
        maxBlockPopulation, "ngramContainmentPairs")
    val minSize =
      greatest(least(size(col("sh1")), size(col("sh2"))).cast("long"), lit(1L))
    if (packedAscii) {
      // two-phase: the early-exit threshold kernel (provably ⟺ the
      // floor-div predicate) rejects the dominant non-qualifying pairs
      // after touching a fraction of the arrays; the exact count then
      // runs only for the few survivors. Barrier pins the kernel filter
      // ABOVE the join (the ngramJaccardPairs discipline).
      a.join(b, joinCond)
        .filter(graft.functions.PushdownBarrier.long(
          graft.functions.ContainmentAtLeast(col("sh1"), col("sh2"), minPpm)
            .cast("long")) === 1L)
        .select(col("doc1"), col("doc2"),
          floor(inter * lit(1000000L) / minSize).cast("long").as("cont_ppm"))
    } else {
      a.join(b, joinCond)
        .select(col("doc1"), col("doc2"),
          floor(inter * lit(1000000L) / minSize).cast("long").as("cont_ppm"))
        .filter(graft.functions.PushdownBarrier.long(col("cont_ppm")) >= minPpm)
    }
  }

  /** Winnowed-fingerprint candidate pairs — the PRODUCTION path for
    * local/subset duplication (the quadratic [[ngramContainmentPairs]]
    * demo's scale twin, exactly as the LSH paths are for Jaccard):
    * [[graft.functions.WinnowFps]] selects ~n/w fingerprints per doc with
    * the Schleimer-Wilkerson-Aiken guarantee that ANY shared substring of
    * length >= w + k - 1 produces at least one shared fingerprint, so a
    * corpus-linear explode + fingerprint equi-join surfaces every
    * substantial local overlap — quotes, mirrored sections, embedded
    * docs — without enumerating pairs.
    *
    * Scale shape: fingerprint table is a pure kernel projection (no
    * shuffle); ONE exchange on the fingerprint key feeds both sides of
    * the self-join (the lshNearDupPairs pattern); `maxBucket` caps
    * boilerplate fingerprints exactly like the LSH band joins; the pair
    * aggregate carries two ids. Returns (doc1, doc2, n_shared_fps),
    * doc1 < doc2, n_shared_fps >= minShared. */
  def winnowedPairs(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, w: Int, minShared: Long,
                    maxBucket: Int = Int.MaxValue): DataFrame = {
    val fps = docs.select(col(idCol).as("id"),
      explode(graft.functions.WinnowFps(col(textCol), k, w)).as("fp"))
    val capped = dropHotBuckets(fps, Seq("fp"), maxBucket)
      .repartition(col("fp"))
    val l = capped.select(col("id").as("doc1"), col("fp"))
    val r = capped.select(col("id").as("doc2"), col("fp").as("fp_r"))
    l.join(r, col("fp") === col("fp_r") && col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2")
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
  }

  /** Shift-resistant near-dup pairs by shared CONTENT-DEFINED chunks —
    * the edit-tolerant dedup family ([[graft.functions.CdcChunks]]:
    * LBFS/FastCDC boundaries): two mirrors of a long page that differ by
    * one injected banner still share almost every chunk digest, where
    * fixed-offset blocking desynchronizes after the edit. Digests are
    * de-duplicated per doc first so `n_shared_chunks` is a set
    * intersection.
    *
    * Scale shape = [[winnowedPairs]] verbatim: the chunk table is a pure
    * kernel projection, ONE exchange on the digest feeds both sides of
    * the self-join, `maxBucket` caps boilerplate chunks, the pair
    * aggregate carries two ids. Returns (doc1, doc2, n_shared_chunks),
    * doc1 < doc2, n_shared_chunks >= minShared. */
  def cdcPairs(docs: DataFrame, idCol: String, textCol: String,
               avgBits: Int, minShared: Long,
               maxBucket: Int = Int.MaxValue): DataFrame = {
    val fps = docs.select(col(idCol).as("id"),
      explode(array_distinct(graft.functions.CdcChunks(col(textCol), avgBits))).as("fp"))
    val capped = dropHotBuckets(fps, Seq("fp"), maxBucket)
      .repartition(col("fp"))
    val l = capped.select(col("id").as("doc1"), col("fp"))
    val r = capped.select(col("id").as("doc2"), col("fp").as("fp_r"))
    l.join(r, col("fp") === col("fp_r") && col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2")
      .agg(count(lit(1)).as("n_shared_chunks"))
      .filter(col("n_shared_chunks") >= minShared)
  }

  /** MinHash + LSH candidate pairs with estimated Jaccard (fraction of
    * matching signature slots, in ppm). `bands` × `rowsPerBand` = perms.
    *
    * Signature shape built for scale: explode shingles to rows, hash each
    * shingle ONCE (xxhash64 of the string), then take `perms` minimums of
    * cheap long re-hashes under a partial (map-side) aggregate — the
    * shuffle carries only `perms` longs per doc, and the string is never
    * hashed more than once. (A naive per-permutation pass over the shingle
    * array recomputes the array `perms` times — O(perms·n²) per doc.)
    */
  /** (doc, sig) MinHash signature table. Shared core of
    * [[minhashLshPairs]] and [[lshVerifiedPairs]]. A pure projection via
    * the one-pass native kernel ([[graft.functions.MinHashSig]]) — the
    * former explode → perms-way min-aggregate shape paid a full hash
    * shuffle for what is per-row work (bit-identical replacement,
    * MinHashKernelsSpec). */
  private def lshSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, perms: Int): DataFrame =
    // fanOutKernel: the MinHash kernel is the heaviest per-row projection
    // in the pipeline and runs single-threaded on an unsplittable scan
    // (guide §2.5; a no-op on real layouts). Projected to (id, text) first
    // so the round-robin exchange is shared (ReuseExchange) with the
    // exactVerifyPairs fan over the same docs in the verified pipelines.
    graft.Tables.fanOutKernel(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"),
        graft.functions.MinHashSig(col(textCol), k, perms).as("sig"))

  /** (doc, band, bh) banded LSH bucket keys — deliberately WITHOUT the
    * signature column, so the band self-join's pair shuffle carries only
    * ids (2 longs/pair, not 2×perms). */
  private def lshBanded(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bh"))
      }: _*)).as("bb"))
      .select(col("doc"), col("bb.band"), col("bb.bh"))

  /** The raw band-bucket candidate stream (BEFORE pair dedup), shared by
    * [[minhashLshPairs]] and the LshDupProbe measurement seam so the probe
    * always measures the production plan shape — a private copy here
    * already once adjudicated an optimization (the min-band rejection)
    * and must not drift.
    *
    * The band self-join is pinned SORT-MERGE: the banded table is
    * CORPUS-SIZED (docs × bands) with misleading size estimates (Generate
    * under-counts the explode; the Auto route's input is additionally a
    * checkpointed ExistingRDD), so left alone the planner BROADCASTS a
    * whole banded side — measured 277 MiB per task at x30 and linear in
    * corpus, the q_lm_score hazard class (PlanAudit's checkpoint-
    * broadcast sweep pins the route). Among the bounded-memory shapes,
    * merge beats shuffle_hash here (x30 warm 4.3 vs 7.1 s measured): the
    * sorted rows are slim 20-byte (doc, band, bh) triples — no array
    * payload, so the SMJ-array rule doesn't apply — and the external
    * sort costs less than hash-probing hot buckets. The broadcast shape's
    * remaining edge (3.6 s) was its even, doc-partitioned pair emission —
    * paid for with an unbounded per-task relation; rejected. */
  private def bandPairsRaw(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame = {
    // pinWidth: the banded table is slim 20-byte triples, so AQE coalesces
    // the self-join's exchange to ONE partition and the C(bucket,2) pair
    // emission — the join's real cost — runs single-threaded (measured as
    // a 3.2 s one-task stage inside q_dedup_ngram_auto at sf0.1). Pinning
    // keeps the per-bucket emission spread across the session's shuffle
    // width; both join sides read the SAME pinned exchange (reused).
    val banded = pinWidth(dropHotBuckets(
      lshBanded(sigs, bands, rowsPerBand), Seq("band", "bh"), maxBucket),
      col("band"), col("bh"))
    banded.as("l").join(banded.as("r").hint("merge"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc1"), col("r.doc").as("doc2"))
  }

  /** Measurement seam (LshDupProbe): [[bandPairsRaw]] over freshly built
    * signatures — quantifies the band-duplication factor a min-band
    * emission rule would remove. Not a query path. */
  private[graft] def bandJoinRawForProbe(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, rowsPerBand: Int, maxBucket: Int): DataFrame =
    bandPairsRaw(
      lshSignatures(docs, idCol, textCol, k, bands * rowsPerBand)
        .transform(pinWidth(_, col("doc"))),
      bands, rowsPerBand, maxBucket)

  /** Star-edge emission over the LSH band buckets — the LINEAR candidate
    * shape for CLUSTER output: each doc contributes one edge per band to
    * its bucket's MIN doc (`doc -> bucket-min`), so a bucket of n members
    * emits n−1 edges where the pair join emits C(n,2). The star edges'
    * transitive closure over a bucket equals the pair join's closure
    * whenever bucket members that belong together verify against the
    * bucket min (always true for mutual near-dup mega-clusters — the case
    * that makes pair output quadratic); see [[autoClusters]] for the
    * recall boundary when they don't. Same bucket-cap discipline as
    * [[bandPairsRaw]]; the per-bucket min is a window over the capped
    * (band, bh) key — partition size is bounded by `maxBucket`, so the
    * in-partition sort can never become a hot-key wall. */
  private def bandStarEdges(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinWidth for the window exchange — the bandPairsRaw rationale
    val banded = pinWidth(dropHotBuckets(
      lshBanded(sigs, bands, rowsPerBand), Seq("band", "bh"), maxBucket),
      col("band"), col("bh"))
    banded
      .withColumn("__m", min(col("doc")).over(
        Window.partitionBy(col("band"), col("bh"))))
      .filter(col("doc") =!= col("__m"))
      .select(col("__m").as("doc1"), col("doc").as("doc2"))
      .dropDuplicates("doc1", "doc2")
  }

  /** CLUSTER emission for the Auto dedup route — the output contract
    * production dedup consumes at 100 TB. The pair routes' declared
    * output is the full qualifying pair list, which is C(n,2) inside a
    * mega-cluster (measured 16 GiB of x30 sorter spill on
    * q_dedup_ngram_auto — inherent to that contract, not to the plan);
    * keep-best only ever needs `doc -> cluster-min`, a LINEAR object.
    * This operator never materializes all-pairs anywhere:
    *
    *  - cool blocks (population <= `maxBlockPopulation`) keep the exact
    *    demo pair plan — bounded at C(cap, 2) per block by construction;
    *  - hot blocks route through [[bandStarEdges]]: <= `bands` candidate
    *    edges per doc (each to its band bucket's min), same-block
    *    restricted, then EXACT-verified with the caller's k/threshold —
    *    every edge that enters the closure is a true qualifying pair, so
    *    clusters can never over-merge relative to the pair route;
    *  - the union feeds [[connectedComponents]]; every input doc gets a
    *    row, singletons labeled by themselves.
    *
    * Recall boundary (the one semantic difference from CC over the pair
    * route, documented not hidden): a hot-block pair (B, C) can fail to
    * link if in EVERY band bucket B and C share, the bucket min A is
    * near-dup to neither (star edges (A,B), (A,C) fail verify and (B,C)
    * is never tested). Mutual near-dup clusters — the mega-cluster case
    * this operator exists for — always link: every member verifies
    * against the bucket min, which is itself a member. Elsewhere the
    * multi-band redundancy applies (a miss needs a foreign min in ALL
    * `bands` shared buckets); the residual is the same bounded-recall
    * trade the Auto pair route already makes inside capped buckets.
    *
    * Returns (doc, cluster) with cluster = min doc id of the component.
    * Rows-only semantics (xxhash64 candidate generation + iterative CC);
    * PipelineOpsSpec pins cluster-set equality with CC-over-pairs. */
  def autoClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      k: Int,
      minPpm: Long,
      packedAscii: Boolean = true,
      maxBlockPopulation: Long = 10000L,
      bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    // one slim materialization for the route's many consumers — the
    // ngramJaccardPairs Auto discipline
    val slim = docs
      .select((idCol +: textCol +: blockCols).distinct.map(col): _*)
      .lineageCut()
    val hotKeys = hotBlockKeys(slim.select(blockCols.map(col): _*),
      blockCols, maxBlockPopulation, "autoClusters")
    val (cool, hotDocs) = splitByHotBlocks(slim, blockCols, hotKeys)
    // cap disabled: the split above already bounds every cool block
    val coolPairs = ngramJaccardPairs(cool, idCol, textCol, blockCols, k,
      minPpm, packedAscii, Long.MaxValue).select("doc1", "doc2")
    val edges =
      if (hotKeys.isEmpty) coolPairs
      else {
        // signatures over the CALLER's k (the Auto route rule: the
        // generator must estimate the measure being verified)
        val sigs = lshSignatures(hotDocs, idCol, textCol, k,
          bands * rowsPerBand).transform(pinWidth(_, col("doc")))
        val star = sameBlockPairs(
          bandStarEdges(sigs, bands, rowsPerBand,
            autoBucketCap(maxBlockPopulation)),
          hotDocs, idCol, blockCols)
        // verification volume is LINEAR (<= bands edges per doc), so the
        // pair route's signature-estimate prefilter buys nothing here —
        // the exact verify runs directly on the star edges
        coolPairs.unionByName(
          verifyStarEdges(hotDocs, idCol, textCol, star, k, minPpm,
            packedAscii))
      }
    val labels = connectedComponents(edges, "doc1", "doc2")
    // label re-attach hash-builds: the label table is corpus-sized with
    // unreliable checkpointed-RDD stats (the q_lm_score hazard class)
    slim.select(col(idCol).as("doc"))
      .join(labels.withColumnRenamed("node", "doc").hint("shuffle_hash"),
        Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("comp"), col("doc")).as("cluster"))
  }

  /** Exact verification of star-edge candidates — the shared tail of
    * [[autoClusters]]' hot leg and its STREAMING twin (the
    * `graft.streaming.ParityCases` case "cluster-contract parity (r14)"):
    * package-private so the incremental cluster-contract case verifies
    * through the SAME exact
    * kernel and plan shape as the batch operator (parity against a
    * reimplementation would prove nothing). */
  private[graft] def verifyStarEdges(docs: DataFrame, idCol: String,
      textCol: String, star: DataFrame, k: Int, minPpm: Long,
      packedAscii: Boolean): DataFrame =
    exactVerifyPairs(docs, idCol, textCol, star, k, minPpm,
      containment = false, packedAscii = packedAscii)
      .select("doc1", "doc2")

  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      minEstPpm: Long = 500000L,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val perms = bands * rowsPerBand
    // The signature projection is referenced by THREE consumers (the band
    // table and both re-attach joins); pinning it behind an explicit
    // exchange on `doc` lets ReuseExchange hand all of them the same
    // shuffle output, so the kernel computes each signature ONCE instead
    // of once per consumer — the sig table is ~2 longs/KB of text, so the
    // extra slim shuffle is far cheaper than re-scanning the corpus.
    val sigs = lshSignatures(docs, idCol, textCol, k, perms)
      .transform(pinWidth(_, col("doc")))
    val pairs = bandPairsRaw(sigs, bands, rowsPerBand, maxBucket)
      .dropDuplicates("doc1", "doc2")
    // signatures re-attach AFTER pair dedup via two hash joins against the
    // doc-sized signature table (its exchange is built once and reused):
    // the band join + dedup shuffles move 2 longs per candidate instead of
    // 2×perms — the difference between shuffling ids and shuffling the
    // whole signature matrix at corpus scale. shuffle_hash, not SMJ: a
    // sort-merge would externally SORT the candidate stream with its
    // attached 2-perm-long sig payload (candidates × 0.5 KB of sorter
    // memory/spill — the r11 footprint harness measured 31 GiB of this
    // at x30), while a hash build holds only one PARTITION of the slim
    // doc-sized sig table.
    // pinWidth: id-pair exchanges are bytes-tiny, so AQE coalesces them
    // to one partition and the per-pair PositionalEqCount kernel runs
    // single-threaded (see pinWidth)
    pinWidth(pairs, col("doc1"))
      .join(sigs.select(col("doc").as("doc1"), col("sig").as("sig1")).hint("shuffle_hash"), "doc1")
      .transform(pinWidth(_, col("doc2")))
      .join(sigs.select(col("doc").as("doc2"), col("sig").as("sig2")).hint("shuffle_hash"), "doc2")
      .select(col("doc1"), col("doc2"),
        // per-pair agreement via the native kernel (the zip_with+filter
        // formulation evaluated interpreted for every candidate pair)
        (graft.functions.PositionalEqCount(col("sig1"), col("sig2"))
          * lit(1000000L) / lit(perms.toLong)).cast("long").as("est_jacc_ppm"))
      .filter(col("est_jacc_ppm") >= minEstPpm)
  }

  /** Cross-corpus fuzzy decontamination: MinHash-LSH candidate join
    * BETWEEN corpora (train × eval, not a self-join) with the signature
    * Jaccard estimate — the scale path when [[Corpus.contamination]]'s
    * exact broadcast-gram check outgrows the eval set. A train doc that
    * near-duplicates any eval doc is flagged even when no single 8-gram
    * survives verbatim (paraphrase drift), which exact gram matching
    * misses.
    *
    * Scale shape: the train corpus stays put — signatures are a pure
    * kernel projection, band keys of the (small by nature) eval side are
    * BROADCAST to the train band table, and only surviving candidate ids
    * shuffle for the pair dedup. The eval signature table re-attaches by
    * broadcast as well, so the one shuffle that touches train-sized data
    * carries 2 longs per band hit. If an eval set ever outgrows broadcast,
    * drop the hints and the band join degrades gracefully to sort-merge on
    * (band, bh).
    */
  def minhashContamination(
      train: DataFrame, trainIdCol: String, trainTextCol: String,
      eval: DataFrame, evalIdCol: String, evalTextCol: String,
      k: Int = 5,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      minEstPpm: Long = 500000L,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val perms = bands * rowsPerBand
    val tSigs = lshSignatures(train, trainIdCol, trainTextCol, k, perms)
      .transform(pinWidth(_, col("doc")))
    val eSigs = lshSignatures(eval, evalIdCol, evalTextCol, k, perms)
    val tBand = dropHotBuckets(
      lshBanded(tSigs, bands, rowsPerBand), Seq("band", "bh"), maxBucket)
    val eBand = lshBanded(eSigs, bands, rowsPerBand)
    val pairs = tBand.as("l")
      .join(broadcast(eBand.as("r")),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh"))
      .select(col("l.doc").as("train_id"), col("r.doc").as("eval_id"))
      .dropDuplicates("train_id", "eval_id")
    pairs
      .join(tSigs.select(col("doc").as("train_id"), col("sig").as("sig1")), "train_id")
      .join(broadcast(eSigs.select(col("doc").as("eval_id"), col("sig").as("sig2"))), "eval_id")
      .select(col("train_id"), col("eval_id"),
        (graft.functions.PositionalEqCount(col("sig1"), col("sig2"))
          * lit(1000000L) / lit(perms.toLong)).cast("long").as("est_jacc_ppm"))
      .filter(col("est_jacc_ppm") >= minEstPpm)
  }

  /** Scale-safe exact near-dup: MinHash-LSH candidate generation → EXACT
    * k-shingle Jaccard verification with the codegen'd merge-pass
    * intersect. This is the recommended big-corpus path, replacing blocked
    * all-pairs ([[ngramJaccardPairs]]): candidate volume is bounded by LSH
    * bucket collisions (tuned by bands × rowsPerBand) instead of growing
    * quadratically with block population. Every emitted pair's `jacc_ppm`
    * is exact, so precision is exact.
    *
    * Candidate generation runs on `candidateK`-shingles (default 5) even
    * though verification scores `verifyK`-shingles (default 3): short
    * shingles are nearly universal across a big corpus (there are only
    * ~27k lowercase 3-grams), which makes 3-gram MinHash signatures
    * non-discriminative and floods the bands with unrelated pairs
    * (measured 18x slower at sf0.1). Candidates are additionally
    * prefiltered by the near-free signature estimate at `estFloorPpm`
    * before the expensive exact intersect. The floor is deliberately far
    * below `minPpm` because it measures candidateK-gram similarity, which
    * runs BELOW verifyK-gram similarity for near-dup text (longer shingles
    * penalize each edit more).
    *
    * Scale shape: one shuffle for the signature agg (map-side partial
    * mins, `bands × rowsPerBand` longs per doc), a bucket equi-join, the
    * estimate filter, then two hash joins back to the shingle table for
    * the few surviving pairs.
    */
  def lshVerifiedPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      verifyK: Int = 3,
      candidateK: Int = 5,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      minPpm: Long = 800000L,
      estFloorPpm: Long = 500000L,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val cands = minhashLshPairs(docs, idCol, textCol, candidateK, bands, rowsPerBand,
        minEstPpm = estFloorPpm, maxBucket = maxBucket)
      .select("doc1", "doc2")
    // Exact-verify shingles are computed ONLY for documents that appear in
    // a surviving candidate pair: near-dup pairs are sparse, so the
    // semi-join (candidate ids are small → broadcast, map-side filter on
    // the corpus scan) skips the per-doc shingle sort for almost the whole
    // corpus. The candidate subplan ends in a dropDuplicates exchange, so
    // AQE's runtime stage dedup computes it once across its consumers.
    // (NOT exchange-pinned like lshSignatures: the shingle table is
    // corpus-sized, and a pinning shuffle would move the whole corpus.)
    exactVerifyPairs(docs, idCol, textCol, cands, verifyK, minPpm,
      containment = false)
  }

  /** EXACT k-shingle Jaccard pairs ≥ `minPpm` via prefix filtering — the
    * AllPairs/PPJoin candidate scheme (Bayardo et al., WWW'07; Vernica et
    * al., SIGMOD'10; both public literature). Unlike LSH this is exact in
    * BOTH directions: complete recall and exact scores, with no blocking
    * key required.
    *
    * Theorem (completeness): order every doc's distinct shingles by a
    * common total order and take the first `|x| − ⌈t·|x|⌉ + 1` as the
    * prefix. Any pair with Jaccard ≥ t shares at least one PREFIX token
    * on both sides: J ≥ t forces overlap ≥ t·max(|A|,|B|); if the
    * globally-smallest common token sat outside A's prefix, all common
    * tokens would fit in A's last ⌈t·|A|⌉−1 positions — fewer than the
    * required overlap (and symmetrically for B).
    *
    * The order used is ascending DOCUMENT FREQUENCY (ties by token
    * value): prefixes then hold each doc's rarest shingles, so the
    * candidate equi-join on (block, prefix-token) collides only on rare
    * tokens — candidate volume is Σ_t C(prefix_df(t), 2) over RARE t,
    * not block-population². Any consistent order is correct; rarity
    * order is what makes it scale (and AQE absorbs residual skew from
    * the token shuffle).
    *
    * APPLICABILITY BOUNDARY (measured): the filter only pays off when the
    * token universe is much larger than the corpus, so that genuinely
    * rare tokens exist — real-text word n-grams or char shingles over
    * diverse text. On the low-entropy synthetic corpus (272 distinct
    * trigrams at sf0.1) the "rarest" prefix tokens are shared by hundreds
    * of docs and the candidate count measured 49.8M — WORSE than the
    * 12.5M all-pairs — so the declared queries keep blocked all-pairs
    * ([[ngramJaccardPairs]]) for oracle-exact semantics and
    * [[lshVerifiedPairs]] as the big-corpus path, whose signature-level
    * aggregation stays discriminative even on small universes.
    *
    * Scale shape: one agg for document frequency (map-side partial), one
    * shuffle to re-order each doc's tokens, a prefix-token equi-join
    * carrying only ids, then the same size-guard + merge-pass exact
    * verify as [[ngramJaccardPairs]]. Every stage is bounded linearly in
    * corpus size except the candidate join, which is bounded by rare-token
    * collisions — the textbook exact set-similarity join at scale.
    *
    * `blockCols = Nil` gives global exact near-dup over the whole corpus;
    * non-empty blocks reproduce [[ngramJaccardPairs]] output exactly with
    * far fewer candidate pairs (document frequency is computed per block
    * so the order stays consistent within every comparable pair).
    */
  def prefixJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String] = Nil,
      k: Int = 3,
      minPpm: Long = 800000L): DataFrame = {
    val sh = docs.select(
      (col(idCol).as("doc") +: blockCols.map(col)) :+
        array_sort(TextAnalysis.shinglesPacked(col(textCol), k)).as("sh"): _*)
    val cands = prefixCandidates(sh, blockCols, minPpm)
    // exact verification — same shape as [[lshVerifiedPairs]]
    // same shuffle-hash-build + pinWidth rationale as exactVerifyPairs
    val withSh = pinWidth(cands, col("doc1"))
      .join(sh.select(col("doc").as("doc1"), col("sh").as("sh1")).hint("shuffle_hash"), "doc1")
      .transform(pinWidth(_, col("doc2")))
      .join(sh.select(col("doc").as("doc2"), col("sh").as("sh2")).hint("shuffle_hash"), "doc2")
    val sizeGuard =
      size(col("sh1")).cast("long") * lit(1000000L) >= lit(minPpm) * size(col("sh2")).cast("long") &&
        size(col("sh2")).cast("long") * lit(1000000L) >= lit(minPpm) * size(col("sh1")).cast("long")
    val inter = graft.functions.SortedIntersectCount(col("sh1"), col("sh2"))
    val union = size(col("sh1")).cast("long") + size(col("sh2")).cast("long") - inter
    withSh.filter(sizeGuard)
      .select(col("doc1"), col("doc2"),
        floor(inter * lit(1000000L) / union).cast("long").as("jacc_ppm"))
      .filter(graft.functions.PushdownBarrier.long(col("jacc_ppm")) >= minPpm)
  }

  /** [[prefixCandidates]] from raw documents — count these against
    * C(corpus, 2) to decide whether the prefix filter pays off on a given
    * corpus BEFORE running the full join. */
  def prefixCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], k: Int, minPpm: Long): DataFrame =
    prefixCandidates(
      docs.select(
        (col(idCol).as("doc") +: blockCols.map(col)) :+
          array_sort(TextAnalysis.shinglesPacked(col(textCol), k)).as("sh"): _*),
      blockCols, minPpm)

  /** The candidate stage of [[prefixJaccardPairs]], exposed so the
    * applicability boundary is MEASURABLE: count these against
    * C(corpus, 2) to decide whether the prefix filter pays off on a given
    * corpus (it does iff rare tokens exist — see the boundary note above).
    * Input `sh`: (doc, blockCols..., sh sorted-distinct token array). */
  def prefixCandidates(
      sh: DataFrame,
      blockCols: Seq[String],
      minPpm: Long): DataFrame = {
    val tok = sh.select(
      col("doc") +: blockCols.map(col) :+ explode(col("sh")).as("t"): _*)
    val dfreq = tok.groupBy("t", blockCols: _*)
      .agg(count(lit(1)).as("df"))
    // re-order each doc's (distinct) tokens rare-first; (df, t) is a total
    // order so the array_sort makes collect_list deterministic
    val ordered = tok.join(dfreq, blockCols :+ "t")
      .groupBy("doc")
      .agg(array_sort(collect_list(struct(col("df"), col("t")))).as("ot"),
        blockCols.map(c => first(col(c)).as(c)): _*)
      .select(col("doc") +: blockCols.map(col) :+
        transform(col("ot"), x => x.getField("t")).as("toks"): _*)
    // prefix length |x| − ⌈t·|x|⌉ + 1 (ceil in exact integer math; the
    // double division is exact — minPpm·|x| ≪ 2^53)
    val sz = size(col("toks")).cast("long")
    val prefixLen = (sz - floor((lit(minPpm) * sz + lit(999999L)) / lit(1000000L)) + lit(1)).cast("int")
    val pre = ordered.select(
      col("doc") +: blockCols.map(col) :+
        explode(slice(col("toks"), lit(1), prefixLen)).as("t"): _*)
    val joinCond = blockCols.map(c => col(s"l.$c") === col(s"r.$c"))
      .foldLeft(col("l.t") === col("r.t") && col("l.doc") < col("r.doc"))(_ && _)
    pre.as("l").join(pre.as("r"), joinCond)
      .select(col("l.doc").as("doc1"), col("r.doc").as("doc2"))
      .dropDuplicates("doc1", "doc2")
  }

  /** 64-bit SimHash from a column of token hashes: bit j is 1 iff the sum
    * of ±1 votes (bit j of each hash) is positive. Native one-pass kernel
    * ([[graft.functions.SimHash64]]) — the former 64-x-`aggregate`
    * formulation ran interpreted and traversed the hash array 64 times per
    * document (bit-identical replacement, SignatureKernelsSpec). */
  def simHashFromHashes(hashesCol: Column): Column =
    graft.functions.SimHash64(hashesCol)

  /** 64-bit SimHash over whitespace tokens — fused tokenize + hash + vote
    * in one byte-level pass ([[graft.functions.SimHashText]]; the former
    * `transform(split(...), xxhash64)` ran interpreted per token). */
  def simHash(textCol: Column): Column =
    graft.functions.SimHashText(textCol)

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, banded
    * into `maxHamming + 1` disjoint bit chunks: two 64-bit hashes within
    * Hamming distance d agree on at least one of d+1 chunks (pigeonhole),
    * so the equi-join candidate set is COMPLETE at the declared threshold
    * and never a cross join. (A fixed 4-chunk banding is only complete for
    * d ≤ 3 — round 1's silent recall hole.)
    *
    * Scale note: chunk width is 64/(d+1) bits, so bucket selectivity
    * degrades as d grows (d=12 → 13 chunks of ~5 bits → 32-value buckets).
    * On a large corpus declare the smallest radius you mean, and set
    * `maxBucket` to cap pathological buckets ([[dropHotBuckets]] — caps
    * per-bucket join cost at the expense of the pigeonhole completeness
    * guarantee for pairs whose only agreeing chunks were over-cap). */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val nChunks = maxHamming + 1
    val base = 64 / nChunks
    val rem = 64 % nChunks
    // first `rem` chunks are one bit wider; offsets partition all 64 bits
    val widths = Seq.tabulate(nChunks)(c => if (c < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val hashed = docs
      .select(col(idCol).as("doc"), simHash(col(textCol)).as("sh"))
    val chunked = hashed.select(col("doc"), col("sh"),
      explode(array((0 until nChunks).map { c =>
        val mask = if (widths(c) == 64) -1L else (1L << widths(c)) - 1
        struct(lit(c).as("chunk"),
          shiftright(col("sh"), offsets(c)).bitwiseAND(lit(mask)).as("cv"))
      }: _*)).as("cc"))
      .select(col("doc"), col("sh"), col("cc.chunk"), col("cc.cv"))
    // slim (doc, sh, chunk, cv) rows: pin behind one exchange so both join
    // sides reuse a single SimHash computation (same discipline as the
    // minhash sig pin)
    val guarded = dropHotBuckets(chunked, Seq("chunk", "cv"), maxBucket)
      .repartition(col("chunk"), col("cv"))
    guarded.as("l").join(guarded.as("r"),
        col("l.chunk") === col("r.chunk") && col("l.cv") === col("r.cv") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc1"), col("r.doc").as("doc2"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).cast("int").as("hamming"))
      .dropDuplicates("doc1", "doc2")
      .filter(col("hamming") <= maxHamming)
  }
}
