package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Truth-table specs for the pipeline operators whose declared queries are
  * rows-only checked (hash functions not reproducible in the SQL oracle).
  */
class PipelineOpsSpec extends SparkTestBase {

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("Dedup.exact groups identical texts and keeps the min id") {
    val out = Dedup.exact(
      docsDf(1L -> "aaa bbb", 2L -> "aaa bbb", 3L -> "ccc"), "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((2L, 1L), (1L, 3L))) // (n_docs, keep_id)
  }

  test("exactAgainst: within-batch keep-min, seen keys excluded, null keys dropped") {
    import spark.implicits._
    // batch: key A duplicated (keep 10), key B unique, key C collides with
    // seen, key D duplicated AND seen (both copies must go), null key out
    val batch = Seq((10L, "A"), (11L, "A"), (12L, "B"), (13L, "C"),
      (14L, "D"), (15L, "D"), (16L, null.asInstanceOf[String]))
      .toDF("doc_id", "key")
    val seen = Seq((1L, "C"), (2L, "D"), (3L, "D"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "key")
    val out = Dedup.exactAgainst(batch, seen, "doc_id", "key")
      .select("doc_id", "key").as[(Long, String)].collect().toSet
    assert(out == Set((10L, "A"), (12L, "B")))
    // empty seen side degenerates to plain within-batch keep-one
    val solo = Dedup.exactAgainst(batch, seen.filter(col("doc_id") < 0), "doc_id", "key")
      .select("doc_id").as[Long].collect().toSet
    assert(solo == Set(10L, 12L, 13L, 14L))
  }

  test("connectedComponents: chains, merged stars, disjoint clusters") {
    import spark.implicits._
    // chain 1-2-3-4-5 (worst case for plain neighbor-min), triangle
    // 10-11-12, disjoint pair 20-21
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("src", "dst")
    val comp = Dedup.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents equals driver-side union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 6) {
      val n = 10 + rnd.nextInt(40)
      val m = 1 + rnd.nextInt(60)
      val edges = (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        // truth: union-find attaching the larger root under the smaller, so
        // every root is its component's min id
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val truth = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(x => x -> find(x)).toMap
        val got = Dedup.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == truth, s"round=$round n=$n edges=$edges")
      }
    }
  }

  test("connectedComponents leaves no entry in the SQL cache manager") {
    import spark.implicits._
    // Repeated clusterings in one session (Bench loops, WarmBench A/B)
    // must not accumulate cached label tables: the result is a local
    // checkpoint, not a cacheManager entry.
    spark.sharedState.cacheManager.clearCache()
    for (_ <- 1 to 3) {
      val edges = Seq((2L, 1L), (3L, 2L), (10L, 11L)).toDF("src", "dst")
      val comp = Dedup.connectedComponents(edges, "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "connectedComponents must release every DataFrame it persists")
  }

  test("q_pipeline_e2e leaves no entry in the SQL cache manager") {
    // The scored projection is handed off as an eager localCheckpoint, not
    // a persist(): repeated invocations must not pin a corpus-sized cache
    // entry for the session.
    spark.sharedState.cacheManager.clearCache()
    for (_ <- 1 to 2) {
      val rows = graft.SparkEntry.queries("q_pipeline_e2e")(
        spark, "/root/testdata/sf0.001").collect()
      assert(rows.nonEmpty)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "q_pipeline_e2e must not register with the cache manager")
  }

  test("connectedComponents: pointer jumping converges on a 64-node chain well under maxIter") {
    import spark.implicits._
    // plain neighbor-min needs O(diameter)=63 rounds here; path halving
    // must land it in O(log n) — maxIter=10 proves the claim
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = Dedup.connectedComponents(chain, "src", "dst", maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 64 && comp.values.forall(_ == 1L))
  }

  test("MinHash estimate tracks exact Jaccard for near-dup vs unrelated") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val nearDup = base + " tonight"
    val unrelated = "completely different words describing an unrelated subject entirely"
    val docs = docsDf(1L -> base, 2L -> nearDup, 3L -> unrelated)
      .withColumn("band", lit(0))
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 5, bands = 16, rowsPerBand = 4, minEstPpm = 0L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // near-dup pair must be found with a high estimate
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) > 600000L)
    // unrelated pair either not a candidate or estimated low
    assert(pairs.getOrElse((1L, 3L), 0L) < 400000L)
  }

  test("minhashContamination: near-dup train docs flagged, clean absent, eval broadcast") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val train = docsDf(
      1L -> (base + " extra"), // near-dup of eval 100
      2L -> "completely different words describing an unrelated subject entirely",
      3L -> base) // exact dup of eval 100
    val eval = docsDf(100L -> base,
      101L -> "another evaluation prompt with its own private phrasing nobody shares")
    val out = Dedup.minhashContamination(
      train, "doc_id", "text", eval, "doc_id", "text", minEstPpm = 500000L)
    val hits = out.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // the exact dup estimates 1.0; the near-dup clears the 0.5 floor
    assert(hits((3L, 100L)) == 1000000L)
    assert(hits.contains((1L, 100L)) && hits((1L, 100L)) >= 500000L)
    // the clean doc and the unshared eval prompt flag nothing
    assert(!hits.keys.exists { case (t, e) => t == 2L || e == 101L })
    // eval side broadcasts: the train corpus never shuffles for candidates
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval band keys must broadcast, got:\n$plan")
  }

  test("dropHotBuckets skew guard: no-op above max population, hot buckets excised below") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    // 10 identical docs (every band bucket they share has 10 members) plus
    // one small near-dup pair in its own buckets
    val boiler = (1L to 10L).map(_ -> base)
    val pairTexts = Seq(
      20L -> "completely different words describing an unrelated subject entirely",
      21L -> "completely different words describing an unrelated subject entirely today")
    val docs = docsDf((boiler ++ pairTexts): _*)
    def pairsWith(cap: Int) =
      Dedup.minhashLshPairs(docs, "doc_id", "text", minEstPpm = 0L, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairsWith(Int.MaxValue)
    assert(pairsWith(1000) == uncapped) // cap above any bucket: identical output
    val capped = pairsWith(5)
    assert(capped.subsetOf(uncapped))
    // the 10-doc boilerplate bucket (45 pairs) is gone; the small pair survives
    assert(!capped.exists { case (a, b) => a <= 10 && b <= 10 })
    assert(capped.contains((20L, 21L)))
    // simhash takes the same guard
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sim.exists { case (a, b) => a <= 10 && b <= 10 })
  }

  test("LSH-verified pairs cover the blocked exact pairs with identical exact scores") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val docs = docsDf(
      1L -> base,
      2L -> (base + " extra"),
      3L -> base.replace("quick", "quiet"),
      4L -> "completely different text about other things entirely unrelated",
      5L -> base)
      .withColumn("blk", lit(0))
    // single all-covering block -> ngramJaccardPairs is the full truth set
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 600000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val lsh = Dedup.lshVerifiedPairs(docs, "doc_id", "text",
        verifyK = 3, candidateK = 5, bands = 16, rowsPerBand = 4,
        minPpm = 600000L, estFloorPpm = 300000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(exact.nonEmpty)
    assert(exact.keySet.subsetOf(lsh.keySet), // full recall on this corpus
      s"missing pairs: ${exact.keySet -- lsh.keySet}")
    exact.keys.foreach(p => assert(lsh(p) == exact(p))) // verification is exact
    lsh.keys.foreach(p => assert(exact.contains(p))) // precision is exact too
  }

  test("Containment pairs: subset duplication scores 1.0 where Jaccard misses it; " +
    "brute-force set equality") {
    import org.apache.spark.sql.functions._
    val small = "the quick brown fox jumps over the lazy dog"
    val docs = docsDf(
      1L -> small,
      2L -> (small + " and then a very long continuation follows with many additional " +
        "sentences about completely unrelated topics stretching the document out far"),
      3L -> "entirely different content with no overlap at all whatsoever here",
      4L -> small)
      .withColumn("blk", lit(0))
    val out = Dedup.ngramContainmentPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 0L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // independent brute force over char-trigram sets
    def sh(t: String) =
      (0 until math.max(t.length - 2, 1)).map(i => t.substring(i, math.min(i + 3, t.length))).toSet
    val texts = Map(1L -> small, 2L -> docs.filter(col("doc_id") === 2)
      .collect()(0).getString(1), 3L -> "entirely different content with no overlap at all whatsoever here", 4L -> small)
    for (a <- texts.keys; b <- texts.keys if a < b) {
      val (sa, sb) = (sh(texts(a)), sh(texts(b)))
      val expect = (sa & sb).size.toLong * 1000000L / math.max(math.min(sa.size, sb.size), 1)
      assert(out((a, b)) == expect, s"pair ($a,$b)")
    }
    // the headline property: 1 ⊂ 2 → containment 1.0, Jaccard far below
    assert(out((1L, 2L)) == 1000000L)
    val jacc = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 0L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(jacc((1L, 2L)) < 500000L, s"jaccard unexpectedly high: ${jacc((1L, 2L))}")
    assert(out((1L, 4L)) == 1000000L) // identical docs contain each other
  }

  test("block-population guard: fail-fast on a planted hot block; output " +
    "unchanged under the cap; explicit opt-out works") {
    import org.apache.spark.sql.functions._
    val texts = (1L to 60L).map(i => i -> s"document number $i with shared boilerplate text common to all")
    val docs = docsDf(texts: _*).withColumn("blk", lit(0))
    // 60 docs in one block, cap 50 -> the demo path must refuse to run
    val e = intercept[Exception] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 800000L, maxBlockPopulation = 50L).count()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    assert(rootMsg(e).contains("maxBlockPopulation"), rootMsg(e).take(500))
    assert(rootMsg(e).contains("lshVerifiedPairs"), "error must name the scale path")
    // same planted block passes untouched when the cap accommodates it /
    // is explicitly disabled, and both produce the identical pair set
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 100000L, maxBlockPopulation = 60L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 100000L, maxBlockPopulation = Long.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    assert(capped == uncapped && capped.nonEmpty)
    // containment twin honours the same guard
    val e2 = intercept[Exception] {
      Dedup.ngramContainmentPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 900000L, maxBlockPopulation = 50L).count()
    }
    assert(rootMsg(e2).contains("ngramContainmentPairs"), rootMsg(e2).take(500))
    // empty blockCols = one global block, still guarded
    val e3 = intercept[Exception] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", Nil,
        k = 3, minPpm = 800000L, maxBlockPopulation = 50L).count()
    }
    assert(rootMsg(e3).contains("maxBlockPopulation"), rootMsg(e3).take(500))
  }

  test("block-population guard: NULL block keys form a real block — the " +
    "fail-fast trips on a hot NULL block and NULL-keyed docs pair together") {
    import org.apache.spark.sql.functions._
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    // 60 docs whose block column is NULL (lang undetected on boilerplate):
    // an equi-join guard would never match them and the O(n^2) self-join
    // would run unguarded — the null-safe guard must refuse instead
    val texts = (1L to 60L).map(i => i -> s"document number $i with shared boilerplate text common to all")
    val nullBlk = docsDf(texts: _*).withColumn("blk", lit(null).cast("int"))
    val e = intercept[Exception] {
      Dedup.ngramJaccardPairs(nullBlk, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 800000L, maxBlockPopulation = 50L).count()
    }
    assert(rootMsg(e).contains("maxBlockPopulation"), rootMsg(e).take(500))
    // under the cap, NULL-keyed docs DO pair with each other (null-safe
    // pair join) and never across into a non-NULL block
    val mixed = docsDf((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
        (3L, "alpha beta gamma delta"), (4L, "unrelated text entirely different"))
      .withColumn("blk", when(col("doc_id") <= 2L, lit(null).cast("int")).otherwise(lit(7)))
    val pairs = Dedup.ngramJaccardPairs(mixed, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 900000L, maxBlockPopulation = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"expected the NULL-block pair only, got $pairs")
  }

  test("PairRoute.Auto: above-cap blocks fall back to verified candidates " +
    "(not a failure) — A/B pair-set equality vs the uncapped demo plan") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup.PairRoute
    // hot block (blk=0): 40 near-identical docs; cool block (blk=1): a
    // handful incl. one near-dup pair — Auto must keep the exact plan for
    // the cool block and LSH/winnow-route only the hot one
    val hotTexts = (1L to 40L).map(i =>
      i -> ("the quick brown fox jumps over the lazy dog again and again " +
        s"with shared boilerplate marker ${i % 2}"))
    val coolTexts = Seq(
      101L -> "completely different cool-block document about spark plans",
      102L -> "completely different cool-block document about spark plans",
      103L -> "an unrelated text that matches nothing else in this corpus")
    val docs = docsDf(hotTexts ++ coolTexts: _*)
      .withColumn("blk", when(col("doc_id") <= 40L, lit(0)).otherwise(lit(1)))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // JACCARD: demo (uncapped) is the truth; Auto with cap 20 must equal it
    val truthJ = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      Seq("blk"), k = 3, minPpm = 900000L, maxBlockPopulation = Long.MaxValue))
    val autoJ = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      Seq("blk"), k = 3, minPpm = 900000L, maxBlockPopulation = 20L,
      route = PairRoute.Auto))
    assert(truthJ.nonEmpty && truthJ.keySet.exists(_._1 > 100L),
      "test needs both hot and cool pairs in the truth set")
    assert(autoJ == truthJ, s"auto=${autoJ.size} truth=${truthJ.size} " +
      s"missing=${(truthJ.keySet -- autoJ.keySet).take(5)} " +
      s"extra=${(autoJ.keySet -- truthJ.keySet).take(5)}")
    // CONTAINMENT: plant a subset-dup inside the hot block (low Jaccard,
    // containment 1.0 — the case LSH candidates would miss, winnow not)
    val subsetDocs = docsDf((hotTexts :+
        (50L -> "the quick brown fox jumps over the lazy dog") :+
        (51L -> ("PREFIX PAD TEXT the quick brown fox jumps over the lazy dog " +
          "SUFFIX PAD TEXT plus a long unrelated tail making jaccard small " +
          "and then some more filler words to widen the size gap further"))
      ): _*).withColumn("blk", lit(0))
    val truthC = pairSet(Dedup.ngramContainmentPairs(subsetDocs, "doc_id", "text",
      Seq("blk"), k = 3, minPpm = 950000L, maxBlockPopulation = Long.MaxValue))
    val autoC = pairSet(Dedup.ngramContainmentPairs(subsetDocs, "doc_id", "text",
      Seq("blk"), k = 3, minPpm = 950000L, maxBlockPopulation = 20L,
      route = PairRoute.Auto))
    assert(truthC.contains((50L, 51L)), "planted subset-dup missing from truth")
    assert(autoC == truthC, s"auto=${autoC.size} truth=${truthC.size} " +
      s"missing=${(truthC.keySet -- autoC.keySet).take(5)} " +
      s"extra=${(autoC.keySet -- truthC.keySet).take(5)}")
    // packedAscii=false must flow through to the hot-route verify: scores
    // still equal the (unpacked) demo plan's on the same corpus
    val truthU = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      Seq("blk"), k = 3, minPpm = 900000L, packedAscii = false,
      maxBlockPopulation = Long.MaxValue))
    val autoU = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      Seq("blk"), k = 3, minPpm = 900000L, packedAscii = false,
      maxBlockPopulation = 20L, route = PairRoute.Auto))
    assert(autoU == truthU && truthU == truthJ,
      s"unpacked: auto=${autoU.size} truth=${truthU.size} packedTruth=${truthJ.size}")
    // the Auto hot path must stay an equi-join plan: no nested loop, no
    // cartesian — the whole point of rerouting is bounded candidates
    val autoPlan = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
      k = 3, minPpm = 900000L, maxBlockPopulation = 20L, route = PairRoute.Auto)
      .queryExecution.executedPlan.toString
    assert(!autoPlan.contains("CartesianProduct") &&
      !autoPlan.contains("BroadcastNestedLoopJoin"), autoPlan.take(400))
    // FailFast default still refuses the hot block
    val e = intercept[Exception] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 900000L, maxBlockPopulation = 20L).count()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    assert(rootMsg(e).contains("maxBlockPopulation"))
  }

  test("autoClusters: cluster sets equal CC over the pair route (hot mutual-dup " +
    "mega-clusters + cool exact pairs + singletons); every doc labeled once") {
    import org.apache.spark.sql.functions._
    // hot block (blk=0, 60 docs > cap 20): TWO disjoint mutual near-dup
    // groups — the mega-cluster case whose pair output is C(n,2) — plus
    // unrelated noise docs that must stay singletons. cool block (blk=1,
    // under cap): one exact near-dup pair + a singleton.
    val hotA = (1L to 30L).map(i =>
      i -> ("the quick brown fox jumps over the lazy dog again and again " +
        s"with shared boilerplate marker ${i % 2}"))
    val hotB = (31L to 60L).map(i =>
      i -> ("an entirely different second mega cluster about spark physical " +
        s"plans and shuffle exchanges variant ${i % 2}"))
    val hotNoise = (201L to 205L).map(i =>
      i -> s"unrelated hot-block text q$i r$i s$i t$i u$i v$i w$i x$i y$i z$i")
    val coolTexts = Seq(
      301L -> "completely different cool-block document about parquet files",
      302L -> "completely different cool-block document about parquet files",
      303L -> "a cool-block singleton matching nothing else in this corpus")
    val docs = docsDf(hotA ++ hotB ++ hotNoise ++ coolTexts: _*)
      .withColumn("blk", when(col("doc_id") <= 205L, lit(0)).otherwise(lit(1)))
    // truth pairs: the uncapped demo plan (proven equal to the Auto route
    // by the pair-route spec above); reference clusters via an
    // INDEPENDENT driver-side union-find with min representatives
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
      k = 3, minPpm = 900000L, maxBlockPopulation = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val allIds = (hotA ++ hotB ++ hotNoise ++ coolTexts).map(_._1)
    val parent = scala.collection.mutable.Map(allIds.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    truth.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    val expected = allIds.map(i => i -> find(i)).toMap
    assert(expected.values.toSet.size < allIds.size &&
      expected(1L) == expected(30L) && expected(31L) == expected(60L) &&
      expected(1L) != expected(31L) && expected(301L) == expected(302L),
      "test corpus must produce two hot mega-clusters and one cool pair")
    val got = Dedup.autoClusters(docs, "doc_id", "text", Seq("blk"),
      k = 3, minPpm = 900000L, maxBlockPopulation = 20L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == allIds.toSet, "every input doc labeled exactly once")
    assert(got == expected,
      s"cluster drift: ${got.toSeq.filter(kv => expected(kv._1) != kv._2).take(8)}")
    // output contract is LINEAR: one row per doc, never a pair list
    assert(got.size == allIds.size)
    // the plan must stay equi-join only (the final declared tree; the
    // construction-time CC subplans are covered by the runtime sweep)
    val plan = Dedup.autoClusters(docs, "doc_id", "text", Seq("blk"),
      k = 3, minPpm = 900000L, maxBlockPopulation = 20L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
  }

  test("autoClusters -> keepBest composition (q_dedup_auto_keep): survivor " +
    "set equals an independent union-find + max-score pick over the exact " +
    "pair route; exactly one survivor per cluster; singletons survive") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Corpus, TextAnalysis}
    // same corpus shape as the autoClusters spec: two hot mutual-dup
    // mega-clusters over the cap, a cool exact pair, singletons — the
    // planted shape whose PAIR contract is quadratic and whose cluster
    // contract is what production keep-best consumes
    val hotA = (1L to 30L).map(i =>
      i -> ("the quick brown fox jumps over the lazy dog again and again " +
        s"with shared boilerplate marker ${i % 2}"))
    val hotB = (31L to 60L).map(i =>
      i -> ("an entirely different second mega cluster about spark physical " +
        s"plans and shuffle exchanges variant ${i % 2}"))
    val hotNoise = (201L to 205L).map(i =>
      i -> s"unrelated hot-block text q$i r$i s$i t$i u$i v$i w$i x$i y$i z$i")
    val coolTexts = Seq(
      301L -> "completely different cool-block document about parquet files",
      302L -> "completely different cool-block document about parquet files",
      303L -> "a cool-block singleton matching nothing else in this corpus")
    val all = hotA ++ hotB ++ hotNoise ++ coolTexts
    val docs = docsDf(all: _*)
      .withColumn("blk", when(col("doc_id") <= 205L, lit(0)).otherwise(lit(1)))
    // reference clusters: exact pair route + driver union-find (as in the
    // autoClusters spec)
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
      k = 3, minPpm = 900000L, maxBlockPopulation = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val allIds = all.map(_._1)
    val parent = scala.collection.mutable.Map(allIds.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    truth.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    // reference scores: the SAME quality kernel the query composes, read
    // back per doc — the independence is in the survivor PICK, not the
    // score definition
    val scoreOf = docs.select(col("doc_id"),
        TextAnalysis.qualityScorePpm(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val members = allIds.groupBy(find)
    val expectedSurvivors = members.map { case (root, ids) =>
      val best = ids.maxBy(i => (scoreOf(i), -i))
      best -> (root, ids.size.toLong)
    }
    // operator composition exactly as the declared query builds it
    val clusters = Dedup.autoClusters(docs, "doc_id", "text", Seq("blk"),
      k = 3, minPpm = 900000L, maxBlockPopulation = 20L)
    val scored = docs.select(col("doc_id").as("doc"),
      TextAnalysis.qualityScorePpm(col("text")).as("quality_ppm"))
    val kept = Corpus.keepBest(
        clusters.join(scored.hint("shuffle_hash"), Seq("doc")),
        "cluster", "quality_ppm", "doc")
      .collect().map(r => (r.getAs[Long]("doc"),
        (r.getAs[Long]("cluster"), r.getAs[Long]("n_group")))).toMap
    assert(kept.keySet == expectedSurvivors.keySet,
      s"survivor drift: missing=${(expectedSurvivors.keySet -- kept.keySet).take(5)} " +
        s"extra=${(kept.keySet -- expectedSurvivors.keySet).take(5)}")
    assert(kept == expectedSurvivors,
      s"label/population drift: ${kept.toSeq.filter(kv => expectedSurvivors(kv._1) != kv._2).take(5)}")
    // exactly one survivor per cluster, and every cluster is represented
    assert(kept.values.map(_._1).toSeq.sorted ==
      members.keys.toSeq.sorted, "one survivor per component")
  }

  test("autoClusters recall boundary (r14 #4): on the adversarial chain shape " +
    "(non-mutual similarity, foreign min in shared buckets) the declared " +
    "16-band config links every fully chain-similar triple") {
    import org.apache.spark.sql.functions._
    // the planted shape from StarRecallProbe (measured table in
    // SCALING.md): per chain A < B < C with J(A,B), J(B,C) >= 0.8 but
    // J(A,C) < 0.8 — A keeps winning bucket minima it cannot verify
    // against C, so a (B,C) link needs some B-C bucket free of A. The
    // full sweep (bands in {8,16,32}, pair-route comparator) is the
    // probe; this pin keeps the declared default honest: 16 bands x 4
    // rows gave 150/150 on the probe corpus, asserted here at 60 chains
    // (deterministic seed) so a signature/banding regression that
    // weakens the multi-band redundancy fails loudly.
    val docs = graft.tools.StarRecallProbe.chainCorpus(spark, 60, seed = 7L)
      .localCheckpoint(true)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 800000L, maxBlockPopulation = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val eligible = (0 until 60).filter { c =>
      val b = c.toLong * 10
      exact((b + 1, b + 2)) && exact((b + 2, b + 3)) && !exact((b + 1, b + 3))
    }
    assert(eligible.size >= 50,
      s"corpus must stay adversarial: only ${eligible.size}/60 eligible chains")
    val labels = Dedup.autoClusters(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 800000L, maxBlockPopulation = 20L,
        bands = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val missed = eligible.filterNot { c =>
      val b = c.toLong * 10
      labels(b + 1) == labels(b + 2) && labels(b + 2) == labels(b + 3)
    }
    assert(missed.isEmpty,
      s"16-band star-edge recall regressed: missed chains $missed")
  }

  test("sub-k docs (text shorter than k) score 0 ppm and are dropped by " +
    "any positive threshold — and the division never sees union = 0") {
    import org.apache.spark.sql.functions._
    // two sub-k docs in ONE block: the shingle kernels CLAMP to one
    // truncated shingle (n = max(len-k+1, 1), ShingleKernels.scala:24),
    // so each doc has exactly one — disjoint — shingle: intersect 0,
    // union 2, 0 ppm, dropped. union = 0 is unreachable through these
    // paths (greatest(union, 1) in the plan is belt-and-braces for
    // callers that bypass the kernels, e.g. TextAnalysis.jaccardPpm on
    // arbitrary arrays); this test pins the sub-k behavior itself
    val docs = docsDf((1L, "ab"), (2L, "xy"), (3L, "a real document with text"),
        (4L, "a real document with text"))
      .withColumn("blk", lit(0))
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 800000L, maxBlockPopulation = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 4L)), s"got $pairs") // empty-empty pair absent, real pair kept
    // unpacked twin takes the same guard
    val pairsU = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("blk"),
        k = 3, minPpm = 800000L, packedAscii = false,
        maxBlockPopulation = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsU == Set((3L, 4L)), s"got $pairsU")
  }

  test("Containment threshold kernel: exact boundary, early exits, degenerate arrays") {
    import graft.functions.ContainmentAtLeast.atLeast
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Long*) = new GenericArrayData(xs.toArray)
    // inter=4, min=5 → cont = 800000 exactly: >= 800000 passes, >= 800001 fails
    assert(atLeast(arr(1, 2, 3, 4, 5), arr(1, 2, 3, 4, 6), 800000L))
    assert(!atLeast(arr(1, 2, 3, 4, 5), arr(1, 2, 3, 4, 6), 800001L))
    assert(atLeast(arr(1, 2, 3), arr(1, 2, 3), 1000000L))       // identical
    assert(!atLeast(arr(1, 2, 3), arr(4, 5, 6), 1L))            // disjoint
    assert(atLeast(arr(1, 2, 3), arr(4, 5, 6), 0L))             // zero threshold
    assert(atLeast(arr(), arr(1, 2), 0L) && !atLeast(arr(), arr(1, 2), 1L)) // empty side
    // tiny set fully inside a big one: containment 1.0 despite the size gap
    assert(atLeast(arr(10, 20), arr(1L to 100L: _*), 1000000L))
    assert(!atLeast(arr(10, 200), arr(1L to 100L: _*), 1000000L)) // one miss → 0.5
  }

  test("Jaccard threshold kernel: exact boundary, early exits, equals the floor-div predicate") {
    import graft.functions.JaccardAtLeast.atLeast
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Long*) = new GenericArrayData(xs.toArray)
    // inter=4, union=6 → jacc = 666666 exactly (floor): >= 666666 passes, >= 666667 fails
    assert(atLeast(arr(1, 2, 3, 4, 5), arr(1, 2, 3, 4, 6), 666666L))
    assert(!atLeast(arr(1, 2, 3, 4, 5), arr(1, 2, 3, 4, 6), 666667L))
    assert(atLeast(arr(1, 2, 3), arr(1, 2, 3), 1000000L))       // identical
    assert(!atLeast(arr(1, 2, 3), arr(4, 5, 6), 1L))            // disjoint
    assert(atLeast(arr(1, 2, 3), arr(4, 5, 6), 0L))             // zero threshold
    assert(!atLeast(arr(), arr(1, 2), 1L) && atLeast(arr(), arr(1, 2), 0L)) // empty side
    assert(atLeast(arr(), arr(), 0L) && !atLeast(arr(), arr(), 1L)) // both empty: union clamps to 1
    // property: kernel ⟺ floor(inter*1e6/union) >= minPpm on random sorted-distinct arrays
    val rnd = new scala.util.Random(42)
    (1 to 2000).foreach { _ =>
      val a = rnd.shuffle((0L to 30L).toList).take(rnd.nextInt(12)).sorted
      val b = rnd.shuffle((0L to 30L).toList).take(rnd.nextInt(12)).sorted
      val inter = a.toSet.intersect(b.toSet).size.toLong
      val union = math.max(a.size.toLong + b.size.toLong - inter, 1L)
      val ppm = inter * 1000000L / union
      val t = rnd.nextInt(1000001).toLong
      assert(atLeast(arr(a: _*), arr(b: _*), t) == (ppm >= t),
        s"a=$a b=$b t=$t ppm=$ppm")
    }
  }

  test("Containment threshold path equals the plain filter path at a real threshold") {
    import org.apache.spark.sql.functions._
    val base = "the quick brown fox jumps over the lazy dog and then some more words"
    val docs = docsDf(
      1L -> base,
      2L -> (base + " with a very long continuation of entirely new material following here"),
      3L -> "unrelated text that shares nothing with the others at all in any way",
      4L -> base,
      5L -> (base.take(30) + " zzz divergent tail material entirely"))
      .withColumn("blk", lit(0))
    def run(packed: Boolean) =
      Dedup.ngramContainmentPairs(docs, "doc_id", "text", Seq("blk"),
          k = 3, minPpm = 700000L, packedAscii = packed)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val threshold = run(packed = true)   // early-exit kernel path
    val plain = run(packed = false)      // full-intersect filter path
    assert(threshold.nonEmpty)
    assert(threshold == plain)
  }

  test("Prefix-filtered pairs EQUAL the all-pairs truth set, blocked and global") {
    // a corpus with near-dups at varied similarity, spread over two blocks
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val other = "completely different text about other things entirely unrelated to it"
    val docs = docsDf(
      1L -> base,
      2L -> (base + " extra"),
      3L -> base.replace("quick", "quiet"),
      4L -> other,
      5L -> base,
      6L -> (other + " also"),
      7L -> base.replace("lazy dog", "sleepy cat"))
      .withColumn("blk", (col("doc_id") % 2).cast("int"))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // blocked: prefix filtering must reproduce blocked all-pairs exactly
    val blockedTruth = toMap(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      Seq("blk"), k = 3, minPpm = 500000L))
    val blockedPrefix = toMap(Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      Seq("blk"), k = 3, minPpm = 500000L))
    assert(blockedTruth.nonEmpty)
    assert(blockedPrefix == blockedTruth)
    // global: single all-covering block is the global truth set
    val globalTruth = toMap(Dedup.ngramJaccardPairs(
      docs.withColumn("one", lit(0)), "doc_id", "text", Seq("one"),
      k = 3, minPpm = 500000L))
    val globalPrefix = toMap(Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      Nil, k = 3, minPpm = 500000L))
    assert(globalTruth.keySet.size > blockedTruth.keySet.size) // cross-block pairs exist
    assert(globalPrefix == globalTruth)
  }

  test("Prefix filter boundary is two-sided, measured: diverse tokens shrink candidates, " +
    "low entropy does not") {
    val rnd = new scala.util.Random(42)
    // diverse corpus: random 60-char texts over the full alphabet — the
    // trigram universe (26^3 ≈ 17.6k) dwarfs the corpus, so prefix tokens
    // are genuinely rare (real-text-like). 5 planted near-dups keep the
    // truth set non-empty.
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val diverseBase = (0 until 120).map(i => (i.toLong, randText(60)))
    val planted = (0 until 5).map(i => (500L + i, diverseBase(i)._2 + "x"))
    val diverse = docsDf((diverseBase ++ planted): _*)
    val nD = 125L
    val allPairsD = nD * (nD - 1) / 2 // 7750
    val candD = Dedup.prefixCandidates(diverse, "doc_id", "text", Nil, 3, 800000L).count()
    assert(candD * 10 < allPairsD,
      s"diverse corpus: expected candidates << all-pairs, got $candD of $allPairsD")
    // and the filtered join still returns the EXACT truth set there
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val truthD = toMap(Dedup.ngramJaccardPairs(
      diverse.withColumn("one", lit(0)), "doc_id", "text", Seq("one"),
      k = 3, minPpm = 800000L))
    assert(truthD.size >= 5) // the planted near-dups
    assert(toMap(Dedup.prefixJaccardPairs(diverse, "doc_id", "text", Nil,
      k = 3, minPpm = 800000L)) == truthD)

    // low-entropy corpus: same shape, 3-letter alphabet — only 27 possible
    // trigrams, every "rare" prefix token is shared corpus-wide, and the
    // filter cannot pay off (the sf0.1 documents table measured the same:
    // 49.8M candidates vs 12.5M all-pairs)
    val low = docsDf((0 until 60).map(i => (i.toLong, randText(60)
      .map(c => ('a' + (c - 'a') % 3).toChar))): _*)
    val nL = 60L
    val allPairsL = nL * (nL - 1) / 2 // 1770
    val candL = Dedup.prefixCandidates(low, "doc_id", "text", Nil, 3, 800000L).count()
    assert(candL * 3 > allPairsL,
      s"low-entropy corpus: candidates should approach all-pairs, got $candL of $allPairsL")
  }

  test("SimHash: identical texts at distance 0; near-dups within threshold") {
    // many distinct tokens -> stable bit margins -> replacing one token
    // flips only the few bits whose vote margin was exactly ±1
    val words = (0 until 400).map(i => s"w$i")
    val base = words.mkString(" ")
    val nearDup = (words.dropRight(1) :+ "zzz").mkString(" ")
    val out = Dedup.simhashPairs(
      docsDf(1L -> base, 2L -> base, 3L -> nearDup),
      "doc_id", "text", maxHamming = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(out((1L, 2L)) == 0)
    assert(out.get((1L, 3L)).exists(_ <= 16))
  }

  test("SimHash banding is exhaustive: pairs equal brute-force Hamming at the declared radius") {
    import spark.implicits._
    // doc i replaces the first 3i tokens of a 300-token base — a spread of
    // Hamming distances, including several in (3, 12] that the round-1
    // fixed-4-chunk banding could silently miss
    val docs = (0 until 25).map { i =>
      (i.toLong,
        (0 until 300).map(j => if (j < i * 3) s"rep${i}_$j" else s"tok$j").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val maxH = 12
    val hashed = df.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
    val bruteAll = hashed.as("l").join(hashed.as("r"), col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("d1"), col("r.doc_id").as("d2"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).cast("int").as("h"))
      .filter(col("h") <= maxH)
      .as[(Long, Long, Int)].collect()
    val brute = bruteAll.map(t => (t._1, t._2)).toSet
    // the truth set must exercise the region the old banding couldn't see
    assert(bruteAll.exists(_._3 > 3), "test data has no pair with distance in (3, 12]")
    val banded = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = maxH)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(banded == brute) // complete recall AND exact precision
  }

  test("Similarity.cosine matches hand computation") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val sim = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(sim - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("LSH top-k achieves full recall on clustered vectors") {
    import spark.implicits._
    // two tight clusters: ids 0-4 near (1,0,...), ids 10-14 near (0,1,...)
    def v(base: Array[Float], eps: Float, d: Int) = {
      val a = base.clone(); a(d) = a(d) + eps; a
    }
    val e1 = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)
    val e2 = Array.tabulate(8)(i => if (i == 1) 1.0f else 0.0f)
    val rows =
      (0 until 5).map(i => (i.toLong, v(e1, 0.01f * i, 3))) ++
        (10 until 15).map(i => (i.toLong, v(e2, 0.01f * i, 4)))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") === 0 || col("vec_id") === 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .select("qid", "cand_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 3, planes = 16)
      .select("qid", "cand_id").as[(Long, Long)].collect().toSet
    assert(brute == lsh) // clusters are far apart -> LSH must find all
  }

  test("IVF top-k achieves full recall on clustered vectors") {
    import spark.implicits._
    def v(base: Array[Float], eps: Float, d: Int) = {
      val a = base.clone(); a(d) = a(d) + eps; a
    }
    val e1 = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)
    val e2 = Array.tabulate(8)(i => if (i == 1) 1.0f else 0.0f)
    val rows =
      (0 until 5).map(i => (i.toLong, v(e1, 0.01f * i, 3))) ++
        (10 until 15).map(i => (i.toLong, v(e2, 0.01f * i, 4)))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") === 0 || col("vec_id") === 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .select("qid", "cand_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3,
      nlist = 2, nprobe = 1)
      .select("qid", "cand_id").as[(Long, Long)].collect().toSet
    assert(ivf == brute) // clusters are far apart: 1 probe finds everything
  }

  test("IVF search plan has no ML fit or UDF stage (build is a separate step)") {
    import spark.implicits._
    val rows = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(8)(d => if (d == i % 2) 1.0f + 0.01f * i else 0.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 2)
    val index = IvfIndex.build(emb, "embedding", nlist = 2, seed = 42L)
    val out = Similarity.ivfSearch(emb, queries, "vec_id", "embedding", 3, index, nprobe = 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), "search plan must not contain a UDF stage")
    assert(!plan.toLowerCase.contains("kmeans"), "search plan must not contain an ML stage")
    assert(out.count() > 0)
  }

  test("IVF index persists: save/load round-trips across a fresh session with identical search") {
    import spark.implicits._
    val rows = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(8)(d => if (d == i % 2) 1.0f + 0.01f * i else 0.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 2)
    val index = IvfIndex.build(emb, "embedding", nlist = 2, seed = 42L)
    val dir = tempDir("ivf_store").toString
    val path = s"$dir/centroids"
    // stamped with the fingerprint getOrBuild will ask for below
    IvfIndex.save(spark, index, path,
      IvfIndex.fingerprint("persist-spec-key", "embedding", 2, 42L))

    // a fresh session (new SQL state, shared context — the driver-restart
    // analogue available in-sandbox) must load the identical index
    val fresh = spark.newSession()
    val loaded = IvfIndex.load(fresh, path).getOrElse(fail("index not found after save"))
    assert(loaded.centroids.length == index.centroids.length)
    assert(loaded.centroids.zip(index.centroids).forall { case (a, b) => a.sameElements(b) })
    val before = Similarity.ivfSearch(emb, queries, "vec_id", "embedding", 3, index, nprobe = 1)
      .select("qid", "cand_id").as[(Long, Long)].collect().toSet
    val after = Similarity.ivfSearch(emb, queries, "vec_id", "embedding", 3, loaded, nprobe = 1)
      .select("qid", "cand_id").as[(Long, Long)].collect().toSet
    assert(before == after)

    // getOrBuild consults the store BEFORE fitting: with a stored index the
    // corpus is never touched (an unfittable empty corpus proves it)
    val empty = emb.filter(col("vec_id") < 0)
    val viaStore = IvfIndex.getOrBuild("persist-spec-key", empty, "embedding",
      nlist = 2, seed = 42L, storePath = Some(path))
    assert(viaStore.centroids.zip(index.centroids).forall { case (a, b) => a.sameElements(b) })
    assert(IvfIndex.load(fresh, s"$dir/absent").isEmpty)
    // a store whose stamp does not match the requested parameters fails
    // loudly instead of silently serving wrong centroids (stale nlist)
    val e = intercept[IllegalArgumentException] {
      IvfIndex.getOrBuild("persist-spec-key", empty, "embedding",
        nlist = 4, seed = 42L, storePath = Some(path))
    }
    assert(e.getMessage.contains("storePath") || e.getMessage.contains("parameters"))
  }

  test("IVF build is reproducible and cache key covers all build params") {
    import spark.implicits._
    val rows = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => if (d == i % 2) 1.0f + 0.01f * i else 0.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    // same params, different physical layout -> identical centroids
    // (the round-2 limit() sample was partition-order dependent)
    val a = IvfIndex.build(emb.repartition(7), "embedding", nlist = 2, seed = 7L, maxFitVectors = 16)
    val b = IvfIndex.build(emb.repartition(3).sortWithinPartitions(col("vec_id").desc),
      "embedding", nlist = 2, seed = 7L, maxFitVectors = 16)
    assert(a.centroids.zip(b.centroids).forall { case (x, y) => x.sameElements(y) })
    // different maxFitVectors must NOT alias in the cache
    val c1 = IvfIndex.getOrBuild("cache-key-spec", emb, "embedding", nlist = 2, seed = 7L,
      maxFitVectors = 16)
    val c2 = IvfIndex.getOrBuild("cache-key-spec", emb, "embedding", nlist = 2, seed = 7L,
      maxFitVectors = 40)
    assert((c1 ne c2), "distinct build params must fit distinct cache entries")
  }

  test("Multimodal decode stub: plumbing produces typed features") {
    import spark.implicits._
    val payloads = Multimodal.withPayload(docsDf(7L -> "hello world"), "doc_id", "text")
    val feats = Multimodal.decodeFeatures(payloads, "doc_id").collect()
    assert(feats.length == 1)
    val f = feats.head
    assert(f.doc_id == 7L && f.n_bytes == 11L)
    assert(f.width == 64 + 11 % 960 && f.n_frames == 1)
    // a recognized image container takes the REAL header-parse path
    val png: Array[Byte] =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 0, 0, 0, 13).map(_.toByte) ++
        "IHDR".getBytes ++ Array[Byte](0, 0, 1, 0, 0, 0, 0, 80, 8, 6, 0, 0, 0)
    val imgFeats = Multimodal.decodeFeatures(
      Seq((9L, png)).toDF("doc_id", "payload"), "doc_id").collect()
    assert(imgFeats.head.width == 256 && imgFeats.head.height == 80)
    assert(imgFeats.head.n_frames == 1)
    val plan = Multimodal.sampleFramePlan(
      payloads.withColumn("n_frames", lit(10)).select(col("doc_id"), col("n_frames")), 3)
      .head()
    assert(plan.getAs[scala.collection.Seq[Int]]("frame_ids").toList == List(0, 3, 6, 9))
  }

  test("TextAnalysis.repetitionPpm on known strings") {
    import spark.implicits._
    val df = Seq(
      (1L, "aaaa"),    // grams aaa,aaa -> 2/2 = 1e6
      (2L, "abcabc"),  // abc,bca,cab,abc -> 2/4 = 500000
      (3L, "abcdef"))  // all distinct -> 1/4 = 250000
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionPpm(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1000000L, 2L -> 500000L, 3L -> 250000L))
  }

  test("TextAnalysis: token counts and jaccard on known strings") {
    import spark.implicits._
    val df = Seq(("one two three", "one two four")).toDF("a", "b")
    val r = df.select(
      TextAnalysis.tokenCount(col("a")),
      TextAnalysis.jaccardPpm(
        TextAnalysis.shingles(col("a"), 3), TextAnalysis.shingles(col("a"), 3))).head()
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 1000000L) // self-jaccard is exactly 1
    // newline/tab-separated text counts its words too — a 1-word-per-line
    // doc must not read as ONE token (that saturated stopword density and
    // flattened BM25's length normalization)
    val multi = Seq(Tuple1("one\ntwo\tthree\r\nfour")).toDF("a")
    assert(multi.select(TextAnalysis.tokenCount(col("a"))).head().getLong(0) == 5L)
  }
}
