package graft.mr

import java.math.BigInteger
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.Md5Mod

/** Property tests for the pure MR kernel (SURVEY.md §5 calls out that the
  * reference ships none — these strengthen the port's test posture). */
object MrProperties extends Properties("graft.mr") {

  val line: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumStr.map(_.take(6)), Gen.const(""), Gen.const("word"))).map(_.mkString(" "))
  val corpus: Gen[List[String]] = Gen.listOfN(30, line)

  /** A generated string whose failure report escapes every code unit
    * outside printable ASCII: an unpaired surrogate cannot be written into
    * the UTF-8 test report, and the report writer would fail the run. */
  final case class Text(s: String) {
    override def toString: String =
      s.flatMap(c => if (c >= 0x20 && c < 0x7f) c.toString else f"\\u${c.toInt}%04x")
  }

  /** Arbitrary UTF-16 text: every UTF-8 width, TABs, U+E000–U+FFFF (which
    * UTF-16 orders after supplementary characters and UTF-8 before),
    * surrogate pairs, and unpaired high and low surrogates (which
    * `getBytes(UTF_8)` writes as `?`). */
  val unicodeStr: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.choose('a', 'e').map(_.toString),
    1 -> Gen.const("\t"),
    1 -> Gen.choose('\u0000', '\u007f').map(_.toString),
    1 -> Gen.choose('\u0080', '\u07ff').map(_.toString),
    1 -> Gen.choose('\u0800', '\ud7ff').map(_.toString),
    2 -> Gen.choose('\ue000', '\uffff').map(_.toString),
    2 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))),
    1 -> Gen.choose('\ud800', '\udbff').map(_.toString),
    1 -> Gen.choose('\udc00', '\udfff').map(_.toString))).map(_.mkString)
  val unicodeText: Gen[Text] = unicodeStr.map(Text)

  /** Two strings with a common prefix, so comparisons reach past it. */
  val unicodePair: Gen[(Text, Text)] =
    for (p <- unicodeStr; a <- unicodeStr; b <- unicodeStr) yield (Text(p + a), Text(p + b))

  def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  property("md5 partition ∈ [0,R) and stable") = forAll(unicodeText, Gen.choose(1, 64)) {
    case (Text(k), r) =>
      val p = Md5Partitioning.partition(k, r)
      p >= 0 && p < r && p == Md5Partitioning.partition(k, r)
  }

  property("md5 partition matches an independent digest-fold implementation") =
    forAll(unicodeText, Gen.choose(1, 64)) { case (Text(k), r) =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(utf8(k))
      // Fold bytes MSB-first instead of BigInteger — independent arithmetic.
      val m = d.foldLeft(0L)((acc, b) => ((acc << 8) | (b & 0xffL)) % r).toInt
      val big = new BigInteger(1, d).mod(BigInteger.valueOf(r)).intValue()
      Md5Partitioning.partition(k, r) == m && m == big
    }

  property("line routing == md5 of the key before the first TAB") =
    forAll(unicodeText, Gen.choose(1, 64)) { case (Text(l), r) =>
      new Md5LinePartitioner(r).getPartition(l) == Md5Partitioning.partition(Md5Partitioning.keyOf(l), r)
    }

  property("md5_mod on UTF8String bytes == md5 partition of the String") =
    forAll(unicodeText, Gen.choose(1, 64)) { case (Text(s), r) =>
      val expr = Md5Mod(Literal(""), r)
      // also from the middle of a larger array: the offset must be honored
      val inner = UTF8String.fromBytes(utf8("<<" + s + ">>"), 2, utf8(s).length)
      val p = Md5Partitioning.partition(s, r)
      expr.compute(UTF8String.fromString(s)) == p && expr.compute(inner) == p
    }

  property("CByteOrdering == unsigned byte-array lexicographic order") =
    forAll(unicodePair) { case (Text(a), Text(b)) =>
      def ref(x: String, y: String): Int = {
        val (xb, yb) = (utf8(x).map(_ & 0xff), utf8(y).map(_ & 0xff))
        xb.zip(yb).find { case (p, q) => p != q }
          .map { case (p, q) => p - q }.getOrElse(xb.length - yb.length)
      }
      Integer.signum(CByteOrdering.compare(a, b)) == Integer.signum(ref(a, b)) &&
        Integer.signum(CByteOrdering.compare(b, a)) == Integer.signum(ref(b, a))
    }

  property("wcReduceSh over a sorted stream == groupBy counts") = forAll(corpus) { lines =>
    val mapped = NativeQueries.wcMapSh(lines.iterator).toList.sorted(CByteOrdering)
    val reduced = NativeQueries.wcReduceSh(mapped.iterator).toList
    val expect = mapped.groupBy(Md5Partitioning.keyOf).view
      .mapValues(_.size.toLong).toMap
    val got = reduced.map { l =>
      val i = l.lastIndexOf('\t'); l.substring(0, i) -> l.substring(i + 1).toLong
    }.toMap
    got == expect && reduced.map(Md5Partitioning.keyOf) == reduced.map(Md5Partitioning.keyOf).sorted(CByteOrdering)
  }

  property("wc map+reduce conserves token count") = forAll(corpus) { lines =>
    val mapped = NativeQueries.wcMapSh(lines.iterator).toList
    val reduced = NativeQueries.wcReduceSh(mapped.sorted(CByteOrdering).iterator).toList
    reduced.map(l => l.substring(l.lastIndexOf('\t') + 1).toLong).sum == mapped.size
  }

  property("partition routing splits keys disjointly across R") = forAll(corpus, Gen.choose(1, 8)) {
    (lines, r) =>
      val mapped = NativeQueries.wcMapSh(lines.iterator).toList
      val routed = mapped.groupBy(l => Md5Partitioning.partition(Md5Partitioning.keyOf(l), r))
      routed.keys.forall(p => p >= 0 && p < r) &&
        routed.values.map(_.size).sum == mapped.size
  }
}
