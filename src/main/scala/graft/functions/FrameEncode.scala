package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType}

/** `bytes` → its [[graft.state.Compressor]] frame: passthrough below
  * `threshold` bytes, LZ4 at or above it; null stays null (a snapshot
  * tombstone). The write leg of the external snapshot store and the mirror
  * of [[FrameDecode]]: `ExternalSnapshots.upsert` frames values inside the
  * projection that feeds the parquet writer, so no row is deserialized
  * into an object and serialized back just to have its value framed. */
case class FrameEncode(child: Expression, threshold: Int)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "frame_encode"

  override protected def nullSafeEval(input: Any): Any =
    graft.state.Compressor.encodeFrame(input.asInstanceOf[Array[Byte]], threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.state.Compressor$$.MODULE$$.encodeFrame($c, $threshold)")

  override protected def withNewChildInternal(newChild: Expression): FrameEncode =
    copy(child = newChild)
}

object FrameEncode {
  /** Column wrapper. */
  def apply(bytes: Column, threshold: Int): Column =
    ColumnBridge.column(FrameEncode(ColumnBridge.expression(bytes), threshold))
}
