package graft.state

import net.jpountz.lz4.LZ4Factory
import java.nio.ByteBuffer

/** State compression with the reference's behavior (reference
  * persistence/compression/Compressor.scala:27-96): payloads at or above a
  * threshold are LZ4-compressed with a small header; smaller payloads pass
  * through. Layout: [1-byte marker][4-byte big-endian original length][lz4
  * block] for compressed, [0-marker][raw] for passthrough — a
  * self-describing frame so readers need no side channel.
  *
  * In the Spark engine the state store already compresses (RocksDB), so
  * this codec is for the EXTERNAL snapshot sink where bytes cross systems.
  * Both halves are static so generated code can call them:
  * `graft.functions.FrameEncode` on the write path, `FrameDecode` on the
  * read path.
  */
object Compressor {
  private val factory = LZ4Factory.fastestInstance()

  /** Largest compression scratch buffer a thread keeps between frames; a
    * bigger payload compresses into a buffer of its own. */
  private val ScratchBytes = 1 << 20
  private val scratch = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](0))

  /** `payload` as a frame: passthrough below `threshold`, LZ4 at or above
    * it. Allocates only the frame: the LZ4 block is compressed into a
    * per-thread scratch buffer and copied behind the header. */
  def encodeFrame(payload: Array[Byte], threshold: Int): Array[Byte] =
    if (payload.length < threshold) {
      val out = new Array[Byte](payload.length + 1) // marker 0
      System.arraycopy(payload, 0, out, 1, payload.length)
      out
    } else {
      val compressor = factory.fastCompressor()
      val max = compressor.maxCompressedLength(payload.length)
      var buf = scratch.get
      if (buf.length < max) {
        buf = new Array[Byte](max)
        if (max <= ScratchBytes) scratch.set(buf)
      }
      val n = compressor.compress(payload, 0, payload.length, buf, 0, max)
      val out = new Array[Byte](5 + n)
      ByteBuffer.wrap(out).put(1.toByte).putInt(payload.length).put(buf, 0, n)
      out
    }

  /** A frame's original payload — the body `graft.functions.FrameDecode`'s
    * generated code calls, so the snapshot read path decodes inside
    * whole-stage codegen instead of an interpreted row loop. */
  def decodeFrame(frame: Array[Byte]): Array[Byte] = {
    require(frame.nonEmpty, "empty frame")
    frame(0) match {
      case 0 => java.util.Arrays.copyOfRange(frame, 1, frame.length)
      case 1 =>
        val bb = ByteBuffer.wrap(frame, 1, frame.length - 1)
        val origLen = bb.getInt
        val out = new Array[Byte](origLen)
        factory.fastDecompressor().decompress(frame, 5, out, 0, origLen)
        out
      case m => throw new IllegalArgumentException(s"unknown frame marker $m")
    }
  }
}
