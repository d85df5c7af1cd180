package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StructField, StructType}
import graft.multimodal.ContainerWalk

/** Native Catalyst expression running the five bounded container walks
  * of [[graft.multimodal.ContainerWalk]] over a binary payload:
  * `struct<riff, png, jpeg, mp4, sos>`, one sub-struct per walk. A
  * sub-struct is NULL when the payload does not carry that walk's entry
  * magic; a field inside it is NULL when its find is absent. NULL
  * payload ⇒ NULL.
  *
  * The typed decoder ([[graft.multimodal.Media.realDecode]]) calls the
  * same walks, so the Spark plans and the `mapPartitions` face cannot
  * disagree. A walk is a short data-dependent loop over at most ten
  * headers, so the expression evaluates interpreted
  * ([[CodegenFallback]]) — no generated-code size to tune, and no
  * per-step struct allocations as an `aggregate` fold would make.
  */
case class ContainerWalksOfBinary(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${t.sql}")
  }

  override def dataType: DataType = ContainerWalksOfBinary.schema

  override def prettyName: String = "container_walks_of_binary"

  override protected def nullSafeEval(input: Any): Any = {
    import ContainerWalksOfBinary.row
    val b = input.asInstanceOf[Array[Byte]]
    InternalRow(
      ContainerWalk.riff(b).map(r => row(r.fmtOff, r.dataOff, r.dataLen,
        r.channels, r.sampleRate, r.bits)).orNull,
      ContainerWalk.png(b).map(p => row(p.ihdrOff, p.w, p.ht, p.depth,
        p.ctype, p.idatOff, p.idatLen)).orNull,
      ContainerWalk.jpeg(b).map(j => row(j.sofOff, j.prec, j.ht, j.w,
        j.ncomp)).orNull,
      ContainerWalk.mp4(b).map(m => row(m.tkhdOff, m.w, m.ht, m.mvhdOff,
        m.mts, m.mdur, m.mdatOff, m.mdatLen)).orNull,
      ContainerWalk.sos(b).map(s => row(s.sdata)).orNull)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ContainerWalksOfBinary = copy(child = newChild)
}

object ContainerWalksOfBinary {

  private def walk(fields: String*): StructType =
    StructType(fields.map(StructField(_, LongType)))

  /** The field names of each walk, in the order [[nullSafeEval]] fills
    * them. */
  val schema: StructType = StructType(Seq(
    StructField("riff", walk("fmt_off", "data_off", "data_len", "channels",
      "sample_rate", "bits")),
    StructField("png", walk("ihdr_off", "w", "ht", "depth", "ctype",
      "idat_off", "idat_len")),
    StructField("jpeg", walk("sof_off", "prec", "ht", "w", "ncomp")),
    StructField("mp4", walk("tkhd_off", "w", "ht", "mvhd_off", "mts", "mdur",
      "mdat_off", "mdat_len")),
    StructField("sos", walk("sdata"))))

  private def row(fields: Option[Long]*): InternalRow =
    InternalRow.fromSeq(fields.map(_.getOrElse(null)))
}
