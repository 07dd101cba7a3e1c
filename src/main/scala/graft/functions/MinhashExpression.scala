package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform

/** MinHash hash step of a token array: for every word 3-gram, in position
  * order, md5 of its space-joined UTF-8 bytes → [[MinhashExpression.top56]]
  * → `% MinhashM` — the value `Hashing.md5Long(shingle) % MinhashM` gives,
  * with no shingle string and no hex text in between. Repeated shingles
  * repeat their hash (a min over them is unchanged).
  *
  * One virtual call per DOCUMENT (the [[WordShingles]] CodegenFallback
  * argument): the digest is fed the token bytes in place, so a document
  * costs one md5 per shingle and one long array.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(v: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(MinhashExpression.hashes(v.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash slot step of a hash array: slot i is the min over the hashes h
  * of `(MinhashA(i)·h + MinhashB(i)) % MinhashM` — the
  * [[MinhashExpression.MinhashA]] family — folded in one pass over the
  * array. Over an empty array every slot is `Long.MaxValue`; callers keep
  * only documents with a shingle. */
case class MinhashSlots(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_slots"

  override def nullSafeEval(v: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(MinhashExpression.slots(v.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashExpression {
  /** Words per shingle: every shingle consumer reads word 3-grams. */
  val ShingleWords = 3

  /** Carter–Wegman universal hash family over the Mersenne prime 2^31−1:
    * slot i of shingle-hash h is (A(i)·h + B(i)) mod M. All arithmetic
    * stays inside int64 — h, A(i) < M so A(i)·h < 2^62 — in BOTH engines
    * (DuckDB BIGINT errors on overflow rather than wrapping, so staying in
    * range is a correctness requirement, not a nicety). Constants are
    * fixed pseudorandom values; independence across slots is what keeps
    * band collisions ≈ J^rows (a derived h1 + i·h2 family was measured
    * 5× worse on false-positive candidates — correlated slot minima). The
    * DuckDB slot step (`Dedup.slotsSql`) reads the same constants. */
  val MinhashM = 2147483647L
  val MinhashA: IndexedSeq[Long] = Vector(
    300537208L, 318191818L, 1632373033L, 336989641L, 1037712787L, 1853115849L,
    733686386L, 762488286L, 833838633L, 1011080508L, 2099359591L, 1271464279L,
    1779067578L, 1570600698L, 1604944238L, 1068580105L)
  val MinhashB: IndexedSeq[Long] = Vector(
    1258153104L, 204742078L, 714890015L, 924184435L, 1149325504L, 1583711222L,
    1777668512L, 2100953239L, 503223453L, 323304978L, 722671194L, 519185490L,
    496142157L, 1994051211L, 547206507L, 1677539535L)

  private val A = MinhashA.toArray
  private val B = MinhashB.toArray
  private val Space = Array[Byte](' ')

  /** The digest's first 7 bytes as a big-endian unsigned 56-bit value —
    * what parsing its first 14 hex chars base-16 gives, with no text in
    * between. */
  def top56(digest: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < 7) {
      acc = (acc << 8) | (digest(i) & 0xffL)
      i += 1
    }
    acc
  }

  def shingle_hashes(tokens: Column): Column =
    GraftSqlBridge.column(ShingleHashes(GraftSqlBridge.expression(tokens)))

  def minhash_slots(hashes: Column): Column =
    GraftSqlBridge.column(MinhashSlots(GraftSqlBridge.expression(hashes)))

  private[functions] def hashes(tokens: ArrayData): Array[Long] = {
    val m = tokens.numElements() - ShingleWords + 1
    if (m <= 0) return Array.emptyLongArray
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var k = 0
      while (k < ShingleWords) {
        if (k > 0) md.update(Space)
        val s = tokens.getUTF8String(i + k)
        s.getBaseObject match {
          case bytes: Array[Byte] =>
            md.update(bytes, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
          case _ => md.update(s.getBytes)
        }
        k += 1
      }
      out(i) = top56(md.digest()) % MinhashM
      i += 1
    }
    out
  }

  private[functions] def slots(hashes: ArrayData): Array[Long] = {
    val mins = Array.fill(A.length)(Long.MaxValue)
    var j = 0
    while (j < hashes.numElements()) {
      val h = hashes.getLong(j)
      var i = 0
      while (i < A.length) {
        val v = (A(i) * h + B(i)) % MinhashM
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    mins
  }
}
