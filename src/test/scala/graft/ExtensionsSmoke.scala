package graft

/** Forked-JVM smoke for the extension registration, forked by
  * GraftExtensionsSpec: extensions bind at session construction, so it
  * needs a fresh JVM. Exits 0 iff every SQL function evaluates correctly. */
object ExtensionsSmoke {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val row = spark.sql(
      """SELECT
        |  sorted_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS ic,
        |  float_dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                    array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dp
        |""".stripMargin).head()

    // optimizer rule: the naive formulation must be rewritten to the
    // native kernel (visible in the optimized plan) and agree on the value
    val df = spark.range(3).selectExpr(
      """size(array_intersect(
        |  array_sort(array_distinct(array(id, id + 1, 5L))),
        |  array_sort(array_distinct(array(id + 1, 7L))))) AS n""".stripMargin)
    val rewritten = df.queryExecution.optimizedPlan.toString.contains("sorted_intersect_count")
    val n = df.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)

    // nullable ELEMENTS (containsNull=true on a non-nullable array) must
    // NOT be rewritten — the kernel's getLong would read garbage from null
    // slots; array_intersect's null semantics must be preserved
    val dfNullable = spark.range(3).selectExpr(
      """size(array_intersect(
        |  array_sort(array_distinct(array(CASE WHEN id > 0 THEN id END, 5L))),
        |  array_sort(array_distinct(array(id + 1, 5L))))) AS n""".stripMargin)
    val notRewritten =
      !dfNullable.queryExecution.optimizedPlan.toString.contains("sorted_intersect_count")
    val n2 = dfNullable.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)

    // media header parsers as SQL functions (PNG 2x3; 1 s of 8 kHz mono
    // 8-bit PCM — hex literals follow the public container layouts)
    val media = spark.sql(
      """SELECT
        |  image_meta(unhex('89504E470D0A1A0A0000000D49484452' ||
        |    '0000000200000003' || '0806000000')).width AS iw,
        |  audio_meta(unhex('524946460000000057415645' ||
        |    '666D742010000000' || '0100' || '0100' || '401F0000' ||
        |    '401F0000' || '0100' || '0800' || '64617461401F0000')).duration_ms AS adm
        |""".stripMargin).head()
    val mediaOk = media.getInt(0) == 2 && media.getLong(1) == 1000L

    // kernel functions callable from SQL (simhash64 of one all-ones hash
    // = that hash; positional agreement of identical arrays = length)
    val kern = spark.sql(
      """SELECT simhash64(array(CAST(-1 AS BIGINT))) AS sh,
        |  positional_eq_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS pe,
        |  simhash_text('abc abc') AS st,
        |  xxhash64('abc') AS xh,
        |  size(minhash_sig('abcdef', 3, 16)) AS ms,
        |  shingle_set('abab', 2) AS ss,
        |  size(packed_shingle_set('abab', 2)) AS ps,
        |  repetition_ppm('aaaa', 3) AS rp,
        |  bpe_token_count('the query') AS bp,
        |  quantize_int8(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT))) AS qz,
        |  int_dot_product(array(2, -3), array(4, 5)) AS idp,
        |  deflate_len(repeat('a', 200)) AS dl,
        |  adjacent_join(array('a', 'b', 'c'), ' ') AS aj,
        |  size(winnow_fps(repeat('ab', 40), 8, 16)) AS wf,
        |  merge_pair(array('a', 'b', 'a'), 'a', 'b') AS mp,
        |  size(cdc_chunks(repeat('abcde', 100), 4)) AS cc
        |""".stripMargin).head()
    val kernOk = kern.getLong(0) == -1L && kern.getLong(1) == 2L &&
      // two identical tokens vote every bit of their hash twice → the
      // simhash IS the token hash
      kern.getLong(2) == kern.getLong(3) &&
      kern.getInt(4) == 16 &&
      kern.getSeq[String](5) == Seq("ab", "ba") && kern.getInt(6) == 2 &&
      kern.getLong(7) == 1000000L &&
      kern.getLong(8) == 2L && // "the"→1, "query"→1 (BpeTokenCountSpec traces)
      kern.getSeq[Int](9) == Seq(127, -63) && // floor(±x·127 + 0.5)
      kern.getLong(10) == -7L &&
      // 200 repeated bytes must deflate to a handful (LZ77 back-reference)
      kern.getLong(11) > 0L && kern.getLong(11) < 40L &&
      kern.getSeq[String](12) == Seq("a b", "b c") &&
      // period-2 text: one hash dominates every window -> one fingerprint
      kern.getInt(13) == 1 &&
      kern.getSeq[String](14) == Seq("ab", "a") &&
      // 500 bytes at avg 16: clamp guarantees between 500/64 and 500/4 cuts
      kern.getInt(15) >= 7 && kern.getInt(15) <= 126

    // the native aggregate through SQL: exact on a stream with <= k
    // distinct items (MG is lossless below capacity)
    val hh = spark.sql(
      """SELECT misra_gries_topk(w, 4) AS s FROM (
        |  SELECT explode(split('a a a b b c', ' ')) AS w)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    val hhOk = hh.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("a", 3L), ("b", 2L), ("c", 1L))

    // KLL below capacity = exact lower quantile; bottom-k = sorted prefix
    val kll = spark.sql(
      """SELECT kll_quantiles(v, 8, '0.5,1.0') AS s FROM (
        |  SELECT explode(sequence(1L, 5L)) AS v)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    val kllOk = kll.map(r => (r.getDouble(0), r.getLong(1))) ==
      Seq((0.5, 3L), (1.0, 5L))
    val bk = spark.sql(
      """SELECT bottom_k_by_key(v * 10L, v, 2) AS s FROM (
        |  SELECT explode(array(5L, 1L, 3L)) AS v)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    val bkOk = bk.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((10L, 1L), (30L, 3L))

    // gram_digests: 4 grams for 6 chars at k=3; repeated gram hashes equal
    val gd = spark.sql("SELECT gram_digests('abcabc', 3) AS g")
      .head().getSeq[Long](0)
    val gdOk = gd.length == 4 && gd(0) == gd(3) && gd(0) != gd(1)

    // frame_decode: passthrough frame (marker 0) strips to the payload —
    // SQL access to the snapshot store's value frames
    val fd = spark.sql("SELECT frame_decode(unhex('00414243')) AS b").head()
    val fdOk = new String(fd.getAs[Array[Byte]](0), "UTF-8") == "ABC"

    // cms_probe reads the built-in count_min_sketch binary: tiny stream,
    // wide sketch → exact counts
    val cms = spark.sql(
      """SELECT cms_probe(sk, 'a') AS ca, cms_probe(sk, 'z') AS cz FROM (
        |  SELECT count_min_sketch(w, 0.0001d, 0.99d, 42) AS sk FROM (
        |    SELECT explode(split('a a a b', ' ')) AS w))""".stripMargin).head()
    val cmsOk = cms.getLong(0) == 3L && cms.getLong(1) == 0L

    // interleave_bits: 3 on even positions, 1 on odd -> 0b111; 3-col
    // zorder_key: (1,1,1) -> 0b111
    val il = spark.sql(
      "SELECT interleave_bits(3L, 1L) AS z, zorder_key(1L, 1L, 1L) AS z3, " +
        "hilbert_key(1L, 0L, 1) AS h").head()
    // 1-bit Hilbert curve: (0,0)=0 (0,1)=1 (1,1)=2 (1,0)=3
    val ilOk = il.getLong(0) == 7L && il.getLong(1) == 7L && il.getLong(2) == 3L

    // KMV distinct sketch: below capacity the sketches ARE the sets, so
    // the Jaccard of {1..10} vs {6..15} is exactly floor(5e6/15) and the
    // distinct estimate is exact
    val kmv = spark.sql(
      """SELECT kmv_jaccard_ppm(a.s, b.s, 16) AS j,
        |  kmv_distinct_estimate(a.s, 16) AS da
        |FROM (SELECT kmv_sketch(xxhash64(CAST(v AS STRING)), 16) AS s
        |      FROM (SELECT explode(sequence(1, 10)) AS v)) a,
        |     (SELECT kmv_sketch(xxhash64(CAST(v AS STRING)), 16) AS s
        |      FROM (SELECT explode(sequence(6, 15)) AS v)) b""".stripMargin).head()
    val kmvOk = kmv.getLong(0) == 333333L && kmv.getLong(1) == 10L

    // LevenshteinBandRewrite: `levenshtein(a,b) <= k` must become a
    // length-band short-circuit + the banded 3-arg levenshtein, and agree
    // row for row with a Scala reference on edge cases (null, equal,
    // multibyte, far-apart lengths, boundary distance)
    val levRows = Seq(
      ("kitten", "sitting"),    // classic distance 3
      ("abc", "abc"),           // 0
      ("abc", null),            // null -> dropped
      ("héllo", "hallo"),       // multibyte, distance 2
      ("short", "muchlongerstring"), // length band rejects
      ("ab", "ba"))             // 2
    val levDf = spark.createDataFrame(
      spark.sparkContext.parallelize(levRows.map(p => org.apache.spark.sql.Row(p._1, p._2))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType))))
    val levFiltered = levDf.filter("levenshtein(a, b) <= 3")
    val levPlan = levFiltered.queryExecution.optimizedPlan.toString
    val levRewritten = levPlan.contains("length(") && levPlan.contains("Some(3)) >= 0")
    def levRef(x: String, y: String): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    val levExpected = levRows.filter(p => p._1 != null && p._2 != null && levRef(p._1, p._2) <= 3)
      .map(_._1).sorted
    val levGot = levFiltered.collect().map(_.getString(0)).sorted.toSeq
    val levOk = levRewritten && levGot == levExpected

    val ok = row.getLong(0) == 2L && math.abs(row.getDouble(1) - 11.0) < 1e-12 &&
      rewritten && n == 3 && notRewritten && n2 == 3 && mediaOk && kernOk && hhOk &&
      kllOk && bkOk && gdOk && fdOk && cmsOk && ilOk && kmvOk && levOk
    spark.stop()
    println(s"EXTENSIONS_SMOKE_OK=$ok (rewrite=$rewritten n=$n notRewritten=$notRewritten n2=$n2 media=$mediaOk kern=$kernOk hh=$hhOk kll=$kllOk bk=$bkOk gd=$gdOk fd=$fdOk cms=$cmsOk il=$ilOk kmv=$kmvOk lev=$levOk)")
    sys.exit(if (ok) 0 else 1)
  }
}
