package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: FNV-1a 64-bit hash of a string column.
  *
  * The custom-Expression tier of the extension surface (preference order
  * in SURVEY.md §2.2: compose built-ins > custom Expression > custom plan >
  * mapPartitions). A codegen'd per-byte loop stays inside whole-stage
  * codegen — no UDF boxing, no interpreted expression-tree walk — which is
  * what a hot fingerprint/bucketing path needs at 100 TB. The reference's
  * analogous code is its block-content hash (sha1 over serialized rows,
  * /root/reference/block.go:94-107); FNV-1a is the cheap rolling variant a
  * fingerprint pipeline uses when cryptographic strength isn't needed.
  *
  * Registered as SQL function `fnv64` by [[GraftExtensions]].
  */
case class FnvHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv64"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fnv64 requires a string argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    FnvHash64.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FnvHash64.hash($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): FnvHash64 =
    copy(child = newChild)
}

object FnvHash64 {
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L

  /** FNV-1a over a long's 8 little-endian bytes — the numeric-key variant
    * used by [[Bloom]] for its second hash family.
    */
  def hashLong(v: Long): Long = {
    var h = Offset
    var i = 0
    while (i < 8) {
      h ^= ((v >>> (i * 8)) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }

  /** Reference implementation, also the codegen target (public so the
    * generated code can call it).
    */
  def hash(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }
}
