package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

/** End-to-end proof that the z-order layout buys file-level pruning on
  * BOTH dimensions: write sf0.001 lineitem z-ordered vs linearly sorted,
  * read back per produced file, and compare the min-max boxes a stats-
  * based reader would prune against. */
class LayoutSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val files = 8

  /** per-file (minP, maxP, minS, maxS) via input_file_name. */
  private def boxes(path: String): Seq[(Long, Long, Long, Long)] =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_partkey").as("p0"), max("l_partkey").as("p1"),
        min("l_suppkey").as("s0"), max("l_suppkey").as("s1"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq

  test("z-order bounds both dimensions; linear leaves one full-span") {
    val base = Tables(spark, dir, "lineitem").select("l_partkey", "l_suppkey")
    val tmp = tempDir("layout").toString
    Layout.zorderWrite(base, "l_partkey", "l_suppkey", s"$tmp/z", files)
    Layout.linearWrite(base, "l_partkey", s"$tmp/lin", files)
    val (z, lin) = (boxes(s"$tmp/z"), boxes(s"$tmp/lin"))
    assert(z.size == files && lin.size == files)

    val (minS, maxS) = (lin.map(_._3).min, lin.map(_._4).max)
    // linear layout: (nearly) every file spans the full suppkey range
    assert(lin.count(b => b._3 == minS && b._4 == maxS) >= files - 1,
      "linear files should be full-span on the non-sort column")
    // z-order: suppkey spans shrink in most files
    val fullSpan = (maxS - minS).toDouble
    val zAvgSpan = z.map(b => (b._4 - b._3).toDouble).sum / z.size
    assert(zAvgSpan < 0.8 * fullSpan,
      s"z-order avg suppkey span $zAvgSpan not < 0.8 * $fullSpan")

    // pruning: a point predicate on suppkey can skip files under z-order
    val probe = (minS + maxS) / 2
    def candidates(bs: Seq[(Long, Long, Long, Long)]): Int =
      bs.count(b => b._3 <= probe && probe <= b._4)
    assert(candidates(z) < candidates(lin),
      s"z-order should scan fewer candidate files (${candidates(z)} vs ${candidates(lin)})")
    // and partkey (the dimension linear is sorted on) stays usable:
    // z-order files must not be full-span on partkey either
    val (minP, maxP) = (lin.map(_._1).min, lin.map(_._2).max)
    val zAvgP = z.map(b => (b._2 - b._1).toDouble).sum / z.size
    assert(zAvgP < 0.8 * (maxP - minP).toDouble)
  }

  test("curve writers survive an EMPTY input (routine for an incremental " +
    "re-layout partition) instead of NPE-ing on null min/max stats") {
    val base = Tables(spark, dir, "lineitem").select("l_partkey", "l_suppkey")
    val empty = base.filter(col("l_partkey") < 0)
    val tmp = tempDir("layout_empty").toString
    Layout.zorderWrite(empty, "l_partkey", "l_suppkey", s"$tmp/z", 4)
    Layout.zorderWriteN(empty, Seq("l_partkey", "l_suppkey"), s"$tmp/zn", 4)
    Layout.hilbertWrite(empty, "l_partkey", "l_suppkey", s"$tmp/h", 4)
    assert(spark.read.parquet(s"$tmp/z").count() == 0)
    assert(spark.read.parquet(s"$tmp/zn").count() == 0)
    assert(spark.read.parquet(s"$tmp/h").count() == 0)
  }

  test("compaction plan covers every file once, bounds group bytes, and " +
    "executing it preserves rows while shrinking the file count") {
    import spark.implicits._
    val tmp = tempDir("compact").toString
    // 40 deliberately tiny files
    (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(40).write.mode("overwrite").parquet(s"$tmp/small")
    val target = 64L * 1024
    val plan = Layout.compactionPlan(spark, s"$tmp/small", target)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))

    // exact cover: every parquet file planned exactly once
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/small")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/small"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSet
    assert(plan.map(_._2).toSet == onDisk && plan.length == onDisk.size)

    // bound: every group < target + max single file
    val maxFile = plan.map(_._3).max
    plan.groupBy(_._1).foreach { case (g, rows) =>
      val bytes = rows.map(_._3).sum
      assert(bytes == rows.head._5, s"group_bytes mismatch for $g")
      assert(bytes < target + maxFile, s"group $g bytes $bytes over bound")
    }
    val nGroups = plan.map(_._1).distinct.length
    assert(nGroups > 1 && nGroups < 40, s"expected real grouping, got $nGroups")

    // execute: row counts preserved, file count shrinks to one per group
    Layout.compact(spark, Layout.compactionPlan(spark, s"$tmp/small", target),
      s"$tmp/out")
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 10000)
    assert(out.select("id").distinct().count() == 10000)
    val outFiles = out.select(input_file_name()).distinct().count()
    assert(outFiles == nGroups, s"expected $nGroups output files, got $outFiles")
  }
}
