package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.codec.{DnaCodec, Goldman}

/** Native Catalyst expressions for the hot codec path (SURVEY.md §4.2
  * phase-2 promotion): `DnaEncode`/`DnaDecode` participate in
  * whole-stage codegen via `defineCodeGen` — the generated Java calls
  * the static codec directly, with none of the Scala-UDF
  * null-wrapper/encoder boxing on either side. Registered as SQL
  * functions `dna_encode` / `dna_decode` by [[GraftExtensions]].
  */
case class DnaEncode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dna_encode requires BINARY input, got ${child.dataType.sql}")
  override def dataType: DataType = StringType
  override def prettyName: String = "dna_encode"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromBytes(Goldman.bytesToDnaAscii(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromBytes(" +
        s"graft.codec.Goldman.bytesToDnaAscii($c))")

  override protected def withNewChildInternal(newChild: Expression): DnaEncode =
    copy(child = newChild)
}

/** dna_decode(dna, target_length_bytes) → binary. Inverse of
  * [[DnaEncode]]; fixed-width semantics (left-pad / right-truncate)
  * exactly as `plugins/utils/dna_encoding.py:63-76`.
  */
case class DnaDecode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dna_decode requires (STRING, INT), got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "dna_decode"

  override protected def nullSafeEval(dna: Any, len: Any): Any =
    Goldman.dnaToBytes(dna.asInstanceOf[UTF8String].toString,
      len.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (d, l) =>
      s"graft.codec.Goldman.dnaToBytes($d.toString(), $l)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DnaDecode =
    copy(left = newLeft, right = newRight)
}

/** dna_process(text, chunk_size, nsym) → report struct: the fused
  * per-file encode→validate→reconstruct pipeline kernel
  * (`plugins/utils/dna_encoding.py:416-476`) as a native expression.
  * This is the pipeline's codec-bound hot path and the one place a file
  * is encoded: the struct also carries the file's `chunks` (the S8
  * chunk+meta rows, `dags/dag.py:551-563`), which the chunk consumers
  * explode instead of encoding the text again. The codegen form keeps
  * it inside whole-stage codegen — the generated Java calls the static
  * kernel and receives an InternalRow directly, with no ScalaUDF
  * encoder boxing of the input string or the output struct per row.
  * `chunk_size`/`nsym` must be integer literals (they are compiled
  * into the generated code).
  */
case class DnaProcess(child: Expression, chunkSize: Int, nsym: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dna_process requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = DnaProcess.schema
  override def prettyName: String = "dna_process"

  override protected def nullSafeEval(input: Any): Any =
    DnaProcess.run(input.asInstanceOf[UTF8String], chunkSize, nsym)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.DnaProcess.run($c, $chunkSize, $nsym)")

  override protected def withNewChildInternal(newChild: Expression): DnaProcess =
    copy(child = newChild)
}

object DnaProcess {
  /** One chunk row: the same fields as the UDF form's `ChunkOut`. */
  private val chunkSchema: StructType = StructType(Seq(
    StructField("chunk_id", StringType),
    StructField("idx", IntegerType, nullable = false),
    StructField("chunk_nbytes", IntegerType, nullable = false),
    StructField("checksum", StringType),
    StructField("dna_sequence", StringType),
    StructField("ecc_hex", StringType)))

  /** Same field names/order as the UDF form's `ReportOut`, so
    * `$"r.*"` call sites are interchangeable.
    */
  val schema: StructType = StructType(Seq(
    StructField("original_checksum", StringType),
    StructField("reconstructed_checksum", StringType),
    StructField("n_chunks", IntegerType),
    StructField("total_dna_bases", LongType),
    StructField("status", StringType),
    StructField("chunks", ArrayType(chunkSchema))))

  /** Static kernel entry the generated Java calls directly. */
  def run(text: UTF8String, chunkSize: Int, nsym: Int): InternalRow = {
    val r = DnaCodec.processText(text.toString, chunkSize, nsym)
    val chunks = r.encoded.map { c =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(c.chunkId),
        c.index,
        c.nbytes,
        UTF8String.fromBytes(DnaCodec.hexAscii(c.md5)),
        UTF8String.fromBytes(c.dna),
        UTF8String.fromBytes(DnaCodec.hexAscii(c.parity))))
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(r.originalChecksum),
      UTF8String.fromString(r.reconstructedChecksum),
      r.dnaChunksCount,
      r.totalDnaBases,
      UTF8String.fromString(r.status),
      new GenericArrayData(chunks.toArray[Any])))
  }
}
