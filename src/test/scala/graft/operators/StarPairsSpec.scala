package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The star-pairing equivalence that licenses the round-11 scale fix:
  * per-bucket (min, member) edges produce EXACTLY the connected
  * components of the all-pairs expansion — on real data and on a
  * crafted bucket — while emitting a subset of its edges at
  * bucket-linear volume. */
class StarPairsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.01"

  private def componentsOf(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Dedup.clustersOfPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("sf0.01: star components == all-pairs components, star edges are a subset") {
    val d = Dedup.tokenized(spark, Sf).localCheckpoint()
    val all = Dedup.minhashLshOfTokenized(d).localCheckpoint()
    val star = Dedup.minhashLshStarOfTokenized(d).localCheckpoint()
    val allEdges = all.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val starEdges = star.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starEdges.nonEmpty && starEdges.subsetOf(allEdges),
      "every star edge must be an in-bucket pair of the all-pairs expansion")
    assert(starEdges.size <= allEdges.size)
    assert(componentsOf(star) === componentsOf(all))
  }

  test("crafted bucket: {1,2,3,4} colliding in one band gives 3 star edges, same single component") {
    import spark.implicits._
    // four docs with identical text -> identical signatures -> one bucket
    // (shingles "a b c", "b c d", "c d e")
    val d = Seq(1L, 2L, 3L, 4L).map(id => (id, Seq("a", "b", "c", "d", "e"))).toDF("doc_id", "t")
    val star = Dedup.minhashLshStarOfTokenized(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star === Set((1L, 2L), (1L, 3L), (1L, 4L)),
      s"star must pair every member with the bucket minimum, got $star")
    val comp = componentsOf(Dedup.minhashLshStarOfTokenized(d))
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("quadratic vs linear: on a k-replica bucket the star emits k-1 edges, all-pairs k(k-1)/2") {
    import spark.implicits._
    val k = 40
    // (shingles "x y z", "y z w")
    val d = (1L to k.toLong).map(id => (id, Seq("x", "y", "z", "w"))).toDF("doc_id", "t")
    val nStar = Dedup.minhashLshStarOfTokenized(d).count()
    val nAll = Dedup.minhashLshOfTokenized(d).count()
    assert(nStar === (k - 1).toLong)
    assert(nAll === (k.toLong * (k - 1)) / 2)
  }
}
