package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Hilbert curve key: correctness by the curve's defining properties
  * (bijection, unit-step adjacency), codegen parity, and the locality
  * claim quantified against the Morton/Z-order key.
  */
class HilbertKeySpec extends SparkTestBase {

  test("xy2d/d2xy are inverse bijections on the full grid (bits=5)") {
    val bits = 5
    val n = 1L << bits
    val seen = collection.mutable.Set[Long]()
    for (x <- 0L until n; y <- 0L until n) {
      val d = HilbertKey.xy2d(x, y, bits)
      assert(d >= 0 && d < n * n)
      assert(seen.add(d), s"duplicate curve position $d")
      assert(HilbertKey.d2xy(d, bits) == ((x, y)))
    }
    assert(seen.size == (n * n).toInt)
  }

  test("consecutive curve positions are grid-adjacent (the Hilbert property " +
    "Z-order lacks)") {
    val bits = 5
    val n = (1L << bits) * (1L << bits)
    var hilbertJumps = 0
    var mortonJumps = 0
    var prevH = HilbertKey.d2xy(0, bits)
    for (d <- 1L until n) {
      val (x, y) = HilbertKey.d2xy(d, bits)
      val step = math.abs(x - prevH._1) + math.abs(y - prevH._2)
      assert(step == 1, s"curve jump at d=$d: $prevH -> ($x,$y)")
      prevH = (x, y)
    }
    // Morton: count consecutive-key pairs that are NOT grid-adjacent
    val byZ = (for (x <- 0L until 32L; y <- 0L until 32L)
      yield ((InterleaveBits.spread(x) | (InterleaveBits.spread(y) << 1)), x, y)).sortBy(_._1)
    byZ.sliding(2).foreach {
      case Seq((_, x1, y1), (_, x2, y2)) =>
        if (math.abs(x2 - x1) + math.abs(y2 - y1) > 1) mortonJumps += 1
      case _ =>
    }
    hilbertJumps = 0 // proven zero by the assertion loop above
    assert(mortonJumps > 100,
      s"expected many Morton quadrant jumps, got $mortonJumps")
  }

  test("consecutive-chunk bounding boxes are tighter than Morton's") {
    val bits = 5
    // NOT a power of 4: quadrant-aligned chunks tile identically for both
    // curves; real file splits are not aligned, and there Hilbert's
    // no-jump property pays (measured: 61 vs Morton 96 vs linear 64)
    val chunk = 48 // cells per simulated file
    def avgBoxArea(order: Seq[(Long, Long)]): Double = {
      val areas = order.grouped(chunk).filter(_.size == chunk).map { cells =>
        val xs = cells.map(_._1)
        val ys = cells.map(_._2)
        ((xs.max - xs.min + 1) * (ys.max - ys.min + 1)).toDouble
      }.toSeq
      areas.sum / areas.size
    }
    val grid = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val hilbert = grid.sortBy { case (x, y) => HilbertKey.xy2d(x, y, bits) }
    val morton = grid.sortBy { case (x, y) => (InterleaveBits.spread(x) | (InterleaveBits.spread(y) << 1)) }
    val (ha, ma) = (avgBoxArea(hilbert), avgBoxArea(morton))
    assert(ha < ma, s"hilbert avg box $ha should beat morton $ma")
    val linear = grid.sortBy { case (x, y) => x * 32 + y }
    assert(ha < avgBoxArea(linear),
      s"hilbert avg box $ha should beat linear ${avgBoxArea(linear)}")
  }

  test("codegen evaluates identically to the static helper") {
    import spark.implicits._
    val rows = (0 until 500).map(i => ((i * 37L) % 1024, (i * 91L) % 1024))
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"), HilbertKey(col("x"), col("y"), 10).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, h) =>
      assert(h == HilbertKey.xy2d(x, y, 10))
    }
  }

  test("null inputs yield null; out-of-range bits are masked") {
    import spark.implicits._
    val r = Seq((Some(3L), Option.empty[Long])).toDF("x", "y")
      .select(HilbertKey(col("x"), col("y"), 4).as("h")).head()
    assert(r.isNullAt(0))
    // masking: adding 2^bits multiples leaves the key unchanged
    assert(HilbertKey.xy2d(5L + 16L, 7L, 4) == HilbertKey.xy2d(5L, 7L, 4))
  }

  test("hilbertWrite produces files whose boxes beat linear layout on both dims") {
    import spark.implicits._
    val dir = tempDir("hilbert").toString
    val df = (0 until 4096).map(i => (i % 64, i / 64)).toDF("a", "b")
    graft.operators.Layout.hilbertWrite(df, "a", "b", s"$dir/h", 8)
    graft.operators.Layout.linearWrite(df, "a", s"$dir/l", 8)
    def boxes(path: String): Seq[(Long, Long)] = {
      import org.apache.spark.sql.functions.{input_file_name, max => fmax, min => fmin}
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(fmin("a"), fmax("a"), fmin("b"), fmax("b"))
        .collect().toSeq
        .map(r => ((r.getInt(2) - r.getInt(1) + 1).toLong,
          (r.getInt(4) - r.getInt(3) + 1).toLong))
    }
    val h = boxes(s"$dir/h")
    val l = boxes(s"$dir/l")
    // the layout claim is BALANCE: a linear sort leaves the non-sort
    // dimension full-span in every file; the curve bounds both spans
    val hAvgB = h.map(_._2).sum.toDouble / h.size
    val lAvgB = l.map(_._2).sum.toDouble / l.size
    assert(hAvgB < lAvgB * 0.75,
      s"hilbert files should bound the non-sort dim: hilbert=$hAvgB linear=$lAvgB")
    val hMaxA = h.map(_._1).max
    assert(hMaxA < 64, s"hilbert files should also bound dim a, max span $hMaxA")
  }
}
