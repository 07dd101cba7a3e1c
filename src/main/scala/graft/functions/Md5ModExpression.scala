package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.mr.Md5Partitioning

/** Reference-exact md5-mod-R routing as a Catalyst expression:
  * `int(md5(key_utf8), 16) % R` (SURVEY.md §2.1 F4, goldens in
  * `/root/reference/tests/test_worker_08.py:226-243`).
  *
  * The RDD-level [[graft.mr.Md5LinePartitioner]] serves the byte-compat MR
  * pipeline; this expression computes the same partition id as a column.
  * It is a value, not a layout: `df.repartition(R, md5_mod(col, R))`
  * hash-partitions on that value, i.e. sends a row to
  * `pmod(murmur3(md5_mod), R)`, which is not the reference's partition.
  * Codegen calls straight into the shared digest routine on the string's
  * UTF-8 bytes — one virtual call per row, no `String` decode.
  */
case class Md5Mod(child: Expression, numPartitions: Int) extends UnaryExpression {
  require(numPartitions > 0, "numPartitions must be positive")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "md5_mod"

  def compute(s: UTF8String): Int = s.getBaseObject match {
    case bytes: Array[Byte] =>
      Md5Partitioning.partition(bytes, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt,
        s.numBytes, numPartitions)
    case _ =>
      val bytes = s.getBytes
      Md5Partitioning.partition(bytes, 0, bytes.length, numPartitions)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5mod", this, classOf[Md5Mod].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5ModExpression {
  def md5_mod(c: Column, r: Int): Column =
    GraftSqlBridge.column(Md5Mod(GraftSqlBridge.expression(c), r))
}
