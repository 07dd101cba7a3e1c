package graft.mr

import org.scalatest.funsuite.AnyFunSuite

/** Routing parity with the reference goldens
  * (`/root/reference/tests/test_worker_08.py:226-243`): at R=2 the
  * intermediate files show "", "bye", "hello" in part 0 and "world",
  * "goodbye", "hadoop" in part 1 — reproduced exactly by
  * int(md5(key),16) % R. */
class Md5PartitioningSpec extends AnyFunSuite {

  test("md5-mod routing matches test_worker_08 goldens at R=2") {
    assert(Md5Partitioning.partition("", 2) === 0)
    assert(Md5Partitioning.partition("bye", 2) === 0)
    assert(Md5Partitioning.partition("hello", 2) === 0)
    assert(Md5Partitioning.partition("world", 2) === 1)
    assert(Md5Partitioning.partition("goodbye", 2) === 1)
    assert(Md5Partitioning.partition("hadoop", 2) === 1)
  }

  test("keyOf takes the prefix before the first TAB; no TAB = whole line") {
    assert(Md5Partitioning.keyOf("hello\t1") === "hello")
    assert(Md5Partitioning.keyOf("\t1") === "")
    assert(Md5Partitioning.keyOf("a\tb\tc") === "a")
    assert(Md5Partitioning.keyOf("noTabHere") === "noTabHere")
  }

  test("partitions land in [0, R) across many keys and R values") {
    for (r <- Seq(1, 2, 3, 7, 32); k <- Seq("", "x", "hello world", "éclat", "a\nb"))
      assert((0 until r).contains(Md5Partitioning.partition(k, r)))
  }

  test("keys of any length route by the md5 of their getBytes(UTF_8)") {
    // Short keys are encoded into a per-thread buffer, very long ones
    // (past 64K chars) into a fresh array; both must digest the same bytes.
    def ref(k: String, r: Int): Int =
      new java.math.BigInteger(1, java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8"))).mod(java.math.BigInteger.valueOf(r)).intValue()
    val unit = "a\u00e9\u65e5\ud83d\ude00\ud800"
    for (n <- Seq(1, 100, 10922, 10923, 20000); r <- Seq(2, 7, 64)) {
      val k = unit * n
      assert(Md5Partitioning.partition(k, r) === ref(k, r), s"${k.length} chars, R=$r")
      assert(Md5Partitioning.partitionLine(k + "\tv", r) === ref(k, r), s"${k.length} chars + TAB, R=$r")
    }
  }

  test("C byte ordering sorts bytes unsigned (non-ASCII after ASCII)") {
    // 'é' (0xc3 0xa9 in UTF-8) must sort after all ASCII, unlike UTF-16
    // code-unit string comparison which agrees here but differs for
    // surrogate-range text; and "" sorts first.
    val sorted = Seq("z", "", "é", "a").sorted(CByteOrdering)
    assert(sorted === Seq("", "a", "z", "é"))
    assert(CByteOrdering.compare("a", "a") === 0)
    assert(CByteOrdering.compare("ab", "a") > 0)
  }
}
