package graft

import graft.functions.ZOrderKey
import graft.operators.Layout
import org.apache.spark.sql.functions._

/** Variadic Morton key vs a bit-by-bit reference, plus the 3-dim layout
  * proof on real written files. */
class ZOrderKeySpec extends SparkTestBase {
  import spark.implicits._

  private def refMorton(vals: Seq[Long]): Long = {
    val k = vals.size
    val bits = 64 / k
    var z = 0L
    for (j <- vals.indices; i <- 0 until bits)
      z |= ((vals(j) >> i) & 1L) << (i * k + j)
    z
  }

  test("spreadN matches the reference for k = 2, 3, 4") {
    val rnd = new scala.util.Random(7)
    for (k <- 2 to 4; _ <- 1 to 500) {
      val vals = Seq.fill(k)(rnd.nextLong() & ((1L << (64 / k)) - 1))
      val z = vals.zipWithIndex.map { case (v, j) => ZOrderKey.spreadN(v, k) << j }
        .reduce(_ | _)
      assert(z === refMorton(vals), s"k=$k vals=$vals")
    }
  }

  test("2-column zorder_key agrees with InterleaveBits") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 300) {
      val (a, b) = (rnd.nextLong() & 0xFFFFFFFFL, rnd.nextLong() & 0xFFFFFFFFL)
      val z2 = (ZOrderKey.spreadN(a, 2) << 0) | (ZOrderKey.spreadN(b, 2) << 1)
      assert(z2 === graft.functions.InterleaveBits.morton(a, b))
    }
  }

  test("codegen path agrees with interpreted eval (3 and 4 columns)") {
    val df3 = Seq((5L, 3L, 1L), (100L, 200L, 300L), (0L, 0L, 0L))
      .toDF("a", "b", "c")
      .select(ZOrderKey(Seq(col("a"), col("b"), col("c"))).as("z"), col("a"), col("b"), col("c"))
    df3.collect().foreach { r =>
      val expect = refMorton(Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(r.getLong(0) === expect)
    }
    val df4 = Seq((1L, 2L, 3L, 4L)).toDF("a", "b", "c", "d")
      .select(ZOrderKey(Seq(col("a"), col("b"), col("c"), col("d"))).as("z"))
    assert(df4.head().getLong(0) === refMorton(Seq(1L, 2L, 3L, 4L)))
  }

  test("whole-stage codegen actually compiles the kernel (no silent fallback)") {
    // spark.range forces a WholeStageCodegen stage (a literal toDF would
    // constant-fold to a LocalRelation and prove nothing)
    val df = spark.range(8).select(col("id"),
      ZOrderKey(Seq(col("id"), col("id") + 1, col("id") + 2)).as("z"))
    val code = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(code.contains("spreadN"),
      "generated code lacks the kernel call — doGenCode fell back silently")
    df.collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) === refMorton(Seq(id, id + 1, id + 2)))
    }
  }

  test("null input yields null key") {
    val df = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
      .select(ZOrderKey(Seq(col("a"), col("b"))).as("z"))
    assert(df.head().isNullAt(0))
  }

  test("octant contiguity: the low corner of a 3-dim grid is one z-range") {
    val codes = for (a <- 0L until 2L; b <- 0L until 2L; c <- 0L until 2L)
      yield refMorton(Seq(a, b, c))
    assert(codes.sorted === (0L until 8L))
  }

  test("3-column zorderWriteN bounds all three dimensions per file") {
    val base = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val tmp = tempDir("z3").toString
    Layout.zorderWriteN(base, Seq("l_orderkey", "l_partkey", "l_suppkey"), s"$tmp/z3", 8)
    val boxes = spark.read.parquet(s"$tmp/z3")
      .groupBy(input_file_name())
      .agg(min("l_orderkey"), max("l_orderkey"), min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey"))
      .collect()
    assert(boxes.length === 8)
    def avgSpanFrac(lo: Int, hi: Int): Double = {
      val full = boxes.map(_.getLong(hi)).max - boxes.map(_.getLong(lo)).min
      boxes.map(b => (b.getLong(hi) - b.getLong(lo)).toDouble).sum / boxes.length / full
    }
    // every dimension's average per-file span must be below full-span
    assert(avgSpanFrac(1, 2) < 0.85, "orderkey")
    assert(avgSpanFrac(3, 4) < 0.85, "partkey")
    assert(avgSpanFrac(5, 6) < 0.85, "suppkey")
  }
}
