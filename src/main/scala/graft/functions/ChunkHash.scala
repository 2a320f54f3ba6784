package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** `chunk_hash(path, idx, content, algo)` — the reference's domain-
  * separated chunk digest (F3, /root/reference/dirhash.py:288-303) as a
  * native Catalyst expression:
  *
  *   digest = H( utf8(path) || 0x00 || ascii_decimal(idx) || 0x00 || content )
  *
  * This is the DataFrame route of SURVEY.md §2.8 F3: the typed
  * `core.Chunker` pipeline streams blocks through the digest without
  * materializing rows (right for the dirhash job itself), while this
  * expression exposes the exact same bytes-level spec to relational
  * queries (content-addressed dedup over any binary column) with codegen
  * and all ten whitelisted algorithms.
  */
object ChunkHashOps {

  /** One chunk digest; `algo` must be a whitelisted name (Algos.get). */
  def compute(path: UTF8String, idx: Long, content: Array[Byte],
      algo: UTF8String): Array[Byte] = {
    val d = graft.core.Chunker.chunkDigest(algo.toString, path.getBytes, idx)
    d.update(content)
    d.digest()
  }

  case class ChunkHash(first: Expression, second: Expression,
      third: Expression, fourth: Expression) extends QuaternaryExpression {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(p: Any, i: Any, c: Any, a: Any): Any =
      compute(p.asInstanceOf[UTF8String], i.asInstanceOf[Long],
        c.asInstanceOf[Array[Byte]], a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (p, i, c, a) =>
        s"${ev.value} = graft.functions.ChunkHashOps.compute($p, $i, $c, $a);")
    override protected def withNewChildrenInternal(p: Expression, i: Expression,
        c: Expression, a: Expression): ChunkHash = copy(p, i, c, a)
  }

  /** Registers `chunk_hash` on the session (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("chunk_hash",
      exprs => ChunkHash(exprs(0), exprs(1), exprs(2), exprs(3)), "built-in")
}
