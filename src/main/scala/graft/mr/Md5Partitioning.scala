package graft.mr

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.Partitioner

/** Reference-exact data routing: partition = int(md5(key_utf8), 16) % R.
  *
  * The reference's shuffle routes each `key TAB value` line by the md5 of
  * its key (verified against the goldens in
  * `/root/reference/tests/test_worker_08.py:226-243`: at R=2, keys "",
  * "bye", "hello" → part 0; "world", "goodbye", "hadoop" → part 1).
  * Spark's built-in hashpartitioning is Murmur3, so byte-compat needs this
  * custom routing — a cheap pure function, usable both as an RDD
  * [[Partitioner]] and as a column expression ([[graft.functions.Md5Mod]]).
  *
  * Each distinct line of every MR map task, and every row of an
  * `md5_mod` column, crosses this code, so a call allocates nothing for
  * keys up to 64K chars: each thread keeps one digest, its output buffer
  * and a buffer for the key's UTF-8 bytes.
  */
object Md5Partitioning {

  private final class Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var utf8 = new Array[Byte](256) // grows to at most 3 * MaxBufferedChars
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Route a whole key. Thread-safe: the digest state is per thread. */
  def partition(key: String, numPartitions: Int): Int =
    partitionPrefix(key, key.length, numPartitions)

  /** Route a `key TAB value` line by its key, without cutting the key out. */
  def partitionLine(line: String, numPartitions: Int): Int = {
    val tab = line.indexOf('\t')
    partitionPrefix(line, if (tab < 0) line.length else tab, numPartitions)
  }

  /** Route a key given as UTF-8 bytes (`bytes[offset, offset + length)`). */
  def partition(bytes: Array[Byte], offset: Int, length: Int, numPartitions: Int): Int = {
    val s = scratch.get
    s.md.update(bytes, offset, length)
    mod(s, numPartitions)
  }

  /** Keys longer than this are encoded into a fresh array, so no thread
    * keeps a buffer sized for the longest key it ever routed. */
  private val MaxBufferedChars = 1 << 16

  private def partitionPrefix(str: String, end: Int, numPartitions: Int): Int = {
    val s = scratch.get
    if (end > MaxBufferedChars) s.md.update(str.substring(0, end).getBytes(StandardCharsets.UTF_8))
    else {
      val n = encodeUtf8(str, end, s) // may grow s.utf8: read the field after
      s.md.update(s.utf8, 0, n)
    }
    mod(s, numPartitions)
  }

  /** int(hexdigest, 16) % R folded MSB-first: the running remainder stays
    * below R, so `(acc << 8) | byte` always fits a Long. */
  private def mod(s: Scratch, numPartitions: Int): Int = {
    s.md.digest(s.digest, 0, 16)
    var acc = 0L
    var i = 0
    while (i < 16) {
      acc = ((acc << 8) | (s.digest(i) & 0xffL)) % numPartitions
      i += 1
    }
    acc.toInt
  }

  /** UTF-8 bytes of `str[0, end)` into the thread's buffer; returns their
    * count. Same bytes as `String.getBytes(UTF_8)`, which writes `?` for a
    * surrogate that is not half of a pair. */
  private def encodeUtf8(str: String, end: Int, s: Scratch): Int = {
    if (s.utf8.length < 3 * end)
      s.utf8 = new Array[Byte](math.min(3 * MaxBufferedChars, math.max(3 * end, 2 * s.utf8.length)))
    val b = s.utf8
    var n = 0
    var i = 0
    while (i < end) {
      val c = str.charAt(i)
      if (c < 0x80) {
        b(n) = c.toByte; n += 1
      } else if (c < 0x800) {
        b(n) = (0xc0 | (c >> 6)).toByte
        b(n + 1) = (0x80 | (c & 0x3f)).toByte
        n += 2
      } else if (!Character.isSurrogate(c)) {
        b(n) = (0xe0 | (c >> 12)).toByte
        b(n + 1) = (0x80 | ((c >> 6) & 0x3f)).toByte
        b(n + 2) = (0x80 | (c & 0x3f)).toByte
        n += 3
      } else if (Character.isHighSurrogate(c) && i + 1 < end &&
          Character.isLowSurrogate(str.charAt(i + 1))) {
        val cp = Character.toCodePoint(c, str.charAt(i + 1))
        b(n) = (0xf0 | (cp >> 18)).toByte
        b(n + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
        b(n + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
        b(n + 3) = (0x80 | (cp & 0x3f)).toByte
        n += 4
        i += 1
      } else {
        b(n) = '?'.toByte; n += 1
      }
      i += 1
    }
    n
  }

  /** Key of a `key TAB value` line: prefix before the first TAB; a line
    * with no TAB is all key. Empty keys are legal records
    * (`/root/reference/tests/test_worker_04.py:120`). */
  def keyOf(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }
}

/** RDD partitioner wrapping [[Md5Partitioning.partition]]; keys are the
  * line-prefix strings. */
class Md5Partitioner(val numPartitions0: Int) extends Partitioner {
  override def numPartitions: Int = numPartitions0
  override def getPartition(key: Any): Int =
    Md5Partitioning.partition(key.asInstanceOf[String], numPartitions0)
  override def equals(other: Any): Boolean = other match {
    // getClass, not instanceof: Md5LinePartitioner(R) routes by the line's
    // KEY PREFIX while this routes by the raw key — treating them as equal
    // would let Spark skip a shuffle on a cogroup/join of RDDs partitioned
    // by each, silently mis-colocating keys.
    case o: Md5Partitioner => o.getClass == getClass && o.numPartitions0 == numPartitions0
    case _ => false
  }
  override def hashCode: Int = getClass.hashCode * 31 + numPartitions0
}
