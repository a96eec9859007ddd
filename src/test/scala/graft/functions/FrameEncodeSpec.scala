package graft.functions

import graft.SparkTestBase
import graft.state.ExternalSnapshots
import net.jpountz.lz4.LZ4Factory
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}

import java.nio.ByteBuffer

/** The frame_encode expression against the frame layout stores already
  * hold: every frame must be the byte string the earlier per-row encoder
  * wrote, so old and new files of one store decode alike. Each case runs
  * through generated code and through the interpreted path. */
class FrameEncodeSpec extends SparkTestBase {
  private val threshold = ExternalSnapshots.CompressionThresholdBytes

  /** The earlier encoder, as it framed values before the expression:
    * passthrough below the threshold, else LZ4 into a
    * `maxCompressedLength` buffer copied behind a 5-byte header. */
  private def earlierFrame(payload: Array[Byte]): Array[Byte] =
    if (payload.length < threshold) Array[Byte](0) ++ payload
    else {
      val c = LZ4Factory.fastestInstance().fastCompressor()
      val max = c.maxCompressedLength(payload.length)
      val buf = new Array[Byte](max)
      val n = c.compress(payload, 0, payload.length, buf, 0, max)
      ByteBuffer.allocate(5 + n).put(1.toByte).putInt(payload.length).put(buf, 0, n).array()
    }

  private val noise = { val b = new Array[Byte](40000); new scala.util.Random(7).nextBytes(b); b }
  private val inputs: Seq[(String, Array[Byte])] = Seq(
    "below the threshold" -> Array.fill(threshold - 1)('a'.toByte),
    "at the threshold" -> Array.fill(threshold)('b'.toByte),
    "above the threshold" -> (noiseText(3000, span = 4) * 8).getBytes("UTF-8"),
    "incompressible" -> noise,
    "empty" -> Array.empty[Byte],
    "null" -> null)

  /** `frame_encode` over `inputs` in a session with `confs`, read from an
    * RDD so no optimizer rule folds the projection away. */
  private def encodeAll(confs: (String, String)*): (Map[String, Array[Byte]], Boolean) = {
    val s: SparkSession = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("b", BinaryType)))
    val rows = inputs.indices.map(i => Row(i, inputs(i)._2))
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
      .select(col("i"), FrameEncode(col("b"), threshold).as("f"))
    val codegen = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }.nonEmpty
    (df.collect().map(r => inputs(r.getInt(0))._1 -> r.getAs[Array[Byte]](1)).toMap, codegen)
  }

  private def framesMatch(got: Map[String, Array[Byte]]): Unit = inputs.foreach {
    case ("null", _) => assert(got("null") == null, "a tombstone must stay null")
    case (name, payload) =>
      assert(java.util.Arrays.equals(got(name), earlierFrame(payload)), s"$name: frame differs")
      assert(java.util.Arrays.equals(graft.state.Compressor.decodeFrame(got(name)), payload),
        s"$name: frame does not decode to its payload")
  }

  test("frames equal the earlier encoder's through generated code") {
    val (got, codegen) = encodeAll(
      "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    assert(codegen, "the projection must run in whole-stage codegen")
    assert(got("at the threshold")(0) == 1 && got("below the threshold")(0) == 0,
      "values at the threshold compress, values below it pass through")
    framesMatch(got)
  }

  test("frames equal the earlier encoder's with codegen off") {
    val (got, codegen) = encodeAll(
      "spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(!codegen)
    framesMatch(got)
  }
}
