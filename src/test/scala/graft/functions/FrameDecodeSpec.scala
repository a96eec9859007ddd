package graft.functions

import graft.SparkTestBase
import graft.state.Compressor
import org.apache.spark.sql.functions._

/** The frame_decode expression's branch table at the SQL level: the
  * ExternalSnapshots round-trips prove store-level behavior; this pins
  * the expression itself — passthrough, LZ4, null, and the loud
  * unknown-marker rejection (a silent wrong decode here corrupts every
  * cross-job state read). */
class FrameDecodeSpec extends SparkTestBase {
  import spark.implicits._

  private def decode(frame: Array[Byte]): Array[Byte] =
    Seq(Tuple1(frame)).toDF("f")
      .select(FrameDecode(col("f")).as("b")).head().getAs[Array[Byte]](0)

  test("passthrough frame (marker 0) strips to the payload") {
    val payload = "hello".getBytes("UTF-8")
    assert(decode(Compressor.encodeFrame(payload, 1000)).sameElements(payload))
  }

  test("LZ4 frame (marker 1) round-trips above the threshold") {
    val payload = noiseText(64, span = 4).getBytes("UTF-8") ++
      Array.fill(20000)('x'.toByte)
    val frame = Compressor.encodeFrame(payload, 10000)
    assert(frame(0) == 1, "fixture must take the compressed branch")
    assert(frame.length < payload.length, "compressible fixture must shrink")
    assert(decode(frame).sameElements(payload))
  }

  test("null input stays null (nullSafeEval)") {
    val r = Seq(Tuple1(null: Array[Byte])).toDF("f")
      .select(FrameDecode(col("f")).as("b")).head()
    assert(r.isNullAt(0))
  }

  test("unknown marker fails loudly instead of decoding garbage") {
    val e = intercept[Exception] { decode(Array[Byte](7, 1, 2, 3)) }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(_.contains("unknown frame marker"))))
  }

  test("empty frame is rejected") {
    val e = intercept[Exception] { decode(Array.empty[Byte]) }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("empty frame"))))
  }
}
