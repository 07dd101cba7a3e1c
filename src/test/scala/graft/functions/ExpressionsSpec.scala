package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.mr.Md5Partitioning

class ExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("md5_mod expression agrees with the RDD partitioner for varied keys") {
    import spark.implicits._
    val keys = Seq("", "bye", "hello", "world", "goodbye", "hadoop", "éclat", "a b\tc", "0")
    for (r <- Seq(1, 2, 5, 32)) {
      val got = keys.toDF("k")
        .select(col("k"), Md5ModExpression.md5_mod(col("k"), r).as("p"))
        .collect().map(x => x.getString(0) -> x.getInt(1)).toMap
      keys.foreach { k => assert(got(k) === Md5Partitioning.partition(k, r), s"key=$k r=$r") }
    }
  }

  test("md5_mod reproduces the test_worker_08 routing goldens in a DataFrame plan") {
    import spark.implicits._
    val df = Seq("", "bye", "hello", "world", "goodbye", "hadoop").toDF("word")
      .repartition(2, Md5ModExpression.md5_mod(col("word"), 2))
    // Routing golden: "", bye, hello → 0; world, goodbye, hadoop → 1.
    val byPart = df.select(col("word"), Md5ModExpression.md5_mod(col("word"), 2).as("p"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(Seq("", "bye", "hello").forall(byPart(_) == 0))
    assert(Seq("world", "goodbye", "hadoop").forall(byPart(_) == 1))
  }

  test("shingle_hashes and minhash_slots equal md5LongJvm(shingle) % M folded into 16 slot minima") {
    import spark.implicits._
    import graft.operators.{Dedup, Hashing}
    import MinhashExpression.{MinhashA, MinhashB, MinhashM}
    // a small vocabulary with 2-, 3- and 4-byte UTF-8 tokens (𝄞 is a
    // surrogate pair), so repeated shingles within a doc are common
    val vocab = Seq("a", "b", "the", "café", "naïve", "日本", "語", "𝄞", "x\u00e9y", "zz")
    val rnd = new scala.util.Random(15)
    val docs = Seq(
      Seq("a", "b", "the"),               // exactly 3 tokens: one shingle
      Seq("日本", "語", "𝄞"),             // exactly 3 multi-byte tokens
      Seq("a", "b", "a", "b", "a", "b")   // "a b a" and "b a b" twice each
    ) ++ Seq.fill(40)(Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))))
    def expectedHashes(t: Seq[String]): Seq[Long] =
      t.sliding(3).map(w => Hashing.md5LongJvm(w.mkString(" ")) % MinhashM).toSeq
    def expectedSlots(t: Seq[String]): Seq[Long] = {
      val hs = expectedHashes(t)
      (0 until Dedup.MinhashHashes).map(i =>
        hs.map(h => (MinhashA(i) * h + MinhashB(i)) % MinhashM).min)
    }
    val rows = docs.toDF("t")
      .select(col("t"),
        MinhashExpression.shingle_hashes(col("t")).as("h"),
        MinhashExpression.minhash_slots(MinhashExpression.shingle_hashes(col("t"))).as("sig"))
      .collect()
    assert(rows.length === docs.size)
    rows.foreach { r =>
      val t = r.getSeq[String](0)
      assert(r.getSeq[Long](1) === expectedHashes(t), s"hashes of $t")
      assert(r.getSeq[Long](2) === expectedSlots(t), s"signature of $t")
    }
    assert(rows.exists(r => r.getSeq[Long](1).distinct.size < r.getSeq[Long](1).size),
      "the sample must repeat a shingle within a doc")
  }

  test("vec_dot handles nulls and length mismatch defensively") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(3.0, 4.0, 9.0))),
      (None, Some(Array(1.0)))
    ).toDF("a", "b")
    val rows = df.select(VectorExpressions.vec_dot(col("a"), col("b"))).collect()
    assert(rows(0).getDouble(0) === 11.0) // min-length fold
    assert(rows(1).isNullAt(0))           // null array → null
  }
}
