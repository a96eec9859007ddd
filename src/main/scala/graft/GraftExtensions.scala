package graft

import graft.functions.{AdjacentJoin, AudioMeta, BpeTokenCountExpr, CmsProbe, InterleaveBits, ZOrderKey, DeflateLen, FloatDotProduct, MergePair, ImageMeta, IntDotProduct, MinHashSig, PackedShingleSet, PositionalEqCount, QuantizeInt8, RepetitionPpm, ShingleSet, SimHash64, SimHashText, SortedIntersectCount, VideoMeta, WinnowFps}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers graft's native expressions
  * as SQL functions so `spark.sql(...)` users get them too.
  *
  * Activate with `spark.sql.extensions=graft.GraftExtensions` (config must
  * be set when the session is created).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectOptimizerRule(_ => graft.functions.IntersectCountRewrite)
    extensions.injectOptimizerRule(_ => graft.functions.LevenshteinBandRewrite)
    extensions.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "sorted_intersect_count(arrayA, arrayB)")
        SortedIntersectCount(exprs(0), exprs(1))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("float_dot_product"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot_product"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "float_dot_product(vecA, vecB)")
        FloatDotProduct(exprs(0), exprs(1))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("image_meta"),
      new ExpressionInfo(classOf[ImageMeta].getName, "image_meta"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 1, "image_meta(payload)")
        ImageMeta(exprs.head)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("audio_meta"),
      new ExpressionInfo(classOf[AudioMeta].getName, "audio_meta"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 1, "audio_meta(payload)")
        AudioMeta(exprs.head)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("video_meta"),
      new ExpressionInfo(classOf[VideoMeta].getName, "video_meta"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 1, "video_meta(payload)")
        VideoMeta(exprs.head)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 1, "simhash64(hashes)")
        SimHash64(exprs.head)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("interleave_bits"),
      new ExpressionInfo(classOf[InterleaveBits].getName, "interleave_bits"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "interleave_bits(a, b)")
        InterleaveBits(exprs(0), exprs(1))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("zorder_key"),
      new ExpressionInfo(classOf[ZOrderKey].getName, "zorder_key"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length >= 2 && exprs.length <= 4, "zorder_key(c1, c2[, c3[, c4]])")
        ZOrderKey(exprs)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("cms_probe"),
      new ExpressionInfo(classOf[CmsProbe].getName, "cms_probe"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "cms_probe(sketch, item)")
        CmsProbe(exprs(0), exprs(1))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("positional_eq_count"),
      new ExpressionInfo(classOf[PositionalEqCount].getName, "positional_eq_count"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "positional_eq_count(arrayA, arrayB)")
        PositionalEqCount(exprs(0), exprs(1))
      }))

    // kernels whose tuning parameter must be a literal (baked into the plan)
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    extensions.injectFunction((
      new FunctionIdentifier("simhash_text"),
      new ExpressionInfo(classOf[SimHashText].getName, "simhash_text"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "simhash_text(text)")
        SimHashText(exprs.head)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "minhash_sig(text, k, perms)")
        MinHashSig(exprs.head, intLit(exprs(1), "k"), intLit(exprs(2), "perms"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "shingle_set"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "shingle_set(text, k)")
        ShingleSet(exprs.head, intLit(exprs(1), "k"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("packed_shingle_set"),
      new ExpressionInfo(classOf[PackedShingleSet].getName, "packed_shingle_set"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "packed_shingle_set(text, k)")
        PackedShingleSet(exprs.head, intLit(exprs(1), "k"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("repetition_ppm"),
      new ExpressionInfo(classOf[RepetitionPpm].getName, "repetition_ppm"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "repetition_ppm(text, k)")
        RepetitionPpm(exprs.head, intLit(exprs(1), "k"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[BpeTokenCountExpr].getName, "bpe_token_count"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "bpe_token_count(text)")
        BpeTokenCountExpr(exprs.head)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "winnow_fps(text, k, w)")
        WinnowFps(exprs.head, intLit(exprs(1), "k"), intLit(exprs(2), "w"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("adjacent_join"),
      new ExpressionInfo(classOf[AdjacentJoin].getName, "adjacent_join"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "adjacent_join(arr, sep)")
        val sep = exprs(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
          case other => throw new IllegalArgumentException(
            s"sep must be a string literal, got $other")
        }
        AdjacentJoin(exprs.head, sep)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("merge_pair"),
      new ExpressionInfo(classOf[MergePair].getName, "merge_pair"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "merge_pair(arr, left, right)")
        def strLit(e: Expression, what: String): String = e match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
          case other => throw new IllegalArgumentException(
            s"$what must be a string literal, got $other")
        }
        MergePair(exprs.head, strLit(exprs(1), "left"), strLit(exprs(2), "right"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "deflate_len"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "deflate_len(text)")
        DeflateLen(exprs.head)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("quantize_int8"),
      new ExpressionInfo(classOf[QuantizeInt8].getName, "quantize_int8"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "quantize_int8(vec)")
        QuantizeInt8(exprs.head)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("int_dot_product"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "int_dot_product"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "int_dot_product(arrayA, arrayB)")
        IntDotProduct(exprs(0), exprs(1))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[graft.functions.CdcChunks].getName, "cdc_chunks"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "cdc_chunks(text, avgBits)")
        graft.functions.CdcChunks(exprs.head, intLit(exprs(1), "avgBits"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("misra_gries_topk"),
      new ExpressionInfo(classOf[graft.functions.MisraGries].getName, "misra_gries_topk"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "misra_gries_topk(item, k)")
        // the registry hands back a raw AggregateFunction; the analyzer
        // wraps it in an AggregateExpression like any built-in aggregate
        graft.functions.MisraGries(exprs.head, intLit(exprs(1), "k"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("gram_digests"),
      new ExpressionInfo(classOf[graft.functions.GramDigests].getName, "gram_digests"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "gram_digests(text, k)")
        graft.functions.GramDigests(exprs.head, intLit(exprs(1), "k"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("kll_quantiles"),
      new ExpressionInfo(classOf[graft.functions.KllQuantiles].getName, "kll_quantiles"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "kll_quantiles(value, k, 'q1,q2,...')")
        val qs = exprs(2) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
            s.toString.split(",").toSeq.map(_.trim.toDouble)
          case other => throw new IllegalArgumentException(
            s"quantiles must be a comma-separated string literal, got $other")
        }
        graft.functions.KllQuantiles(exprs.head, intLit(exprs(1), "k"), qs)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("bottom_k_by_key"),
      new ExpressionInfo(classOf[graft.functions.BottomKByKey].getName, "bottom_k_by_key"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "bottom_k_by_key(sortKey, id, k)")
        graft.functions.BottomKByKey(exprs(0), exprs(1), intLit(exprs(2), "k"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("hilbert_key"),
      new ExpressionInfo(classOf[graft.functions.HilbertKey].getName, "hilbert_key"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "hilbert_key(x, y, bits)")
        graft.functions.HilbertKey(exprs(0), exprs(1), intLit(exprs(2), "bits"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[graft.functions.KmvSketch].getName, "kmv_sketch"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "kmv_sketch(hash, k)")
        graft.functions.KmvSketch(exprs.head, intLit(exprs(1), "k"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("kmv_jaccard_ppm"),
      new ExpressionInfo(classOf[graft.functions.KmvJaccardPpm].getName, "kmv_jaccard_ppm"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "kmv_jaccard_ppm(sketchA, sketchB, k)")
        graft.functions.KmvJaccardPpm(exprs(0), exprs(1), intLit(exprs(2), "k"))
      }))
    extensions.injectFunction((
      new FunctionIdentifier("frame_decode"),
      new ExpressionInfo(classOf[graft.functions.FrameDecode].getName, "frame_decode"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "frame_decode(bytes)")
        graft.functions.FrameDecode(exprs.head)
      }))
    extensions.injectFunction((
      new FunctionIdentifier("kmv_distinct_estimate"),
      new ExpressionInfo(classOf[graft.functions.KmvDistinctEstimate].getName, "kmv_distinct_estimate"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "kmv_distinct_estimate(sketch, k)")
        graft.functions.KmvDistinctEstimate(exprs.head, intLit(exprs(1), "k"))
      }))
  }
}
