package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** LSH parameter sweep ([[Dedup.lshTune]]): the nesting theorem (a band
  * match implies slotwise matches, so wider configs' candidate sets contain
  * narrower ones — true whenever the bucket cap does not bind), the output's
  * arithmetic invariants on the real corpus (including recall ≤ 1 under the
  * round-10 union-of-configs truth denominator), the bucket cap binding on
  * a crafted boilerplate flood, and the explicit zero-candidate rows a
  * fully-capped corpus must emit instead of an empty sweep. */
class LshTuneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"

  private def candSets(d: org.apache.spark.sql.DataFrame): Map[Int, Set[(Long, Long)]] =
    Dedup.lshTuneCandidates(d).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty)

  test("candidate sets nest: each config's candidates contain every narrower config's") {
    val cands = candSets(Dedup.tokenized(spark, Sf))
    // (2×8) ⊆ (4×4) ⊆ (8×2) ⊆ (16×1): an r-row band equality implies both
    // aligned r/2-row halves match, which are bands of the next config.
    Seq(2, 4, 8).zip(Seq(4, 8, 16)).foreach { case (narrow, wide) =>
      assert(cands(narrow).subsetOf(cands(wide)),
        s"bands=$narrow candidates escape bands=$wide: ${cands(narrow) -- cands(wide)}")
    }
    assert(cands(16).nonEmpty, "the widest arm must find candidates on the real corpus")
  }

  test("the 4-band arm's candidates are minhash_lsh's pairs: one signature, one 4×4 split") {
    import org.apache.spark.sql.functions.max
    val d = Dedup.tokenized(spark, Sf).localCheckpoint()
    // the sweep drops buckets above TuneBucketCap and minhash_lsh does not;
    // on this corpus no 4×4 bucket reaches the cap, so the uncapped pair
    // set is the one to match
    val biggest = Dedup.minhashBands(d).groupBy("band", "bk").count()
      .agg(max("count")).head().getLong(0)
    assert(biggest <= Dedup.TuneBucketCap, s"a $biggest-doc bucket exceeds the cap")
    val lsh = Dedup.minhashLsh(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "minhash_lsh must find pairs on the real corpus")
    assert(candSets(d)(4) === lsh)
  }

  test("sweep output invariants on the real corpus") {
    val rows = Dedup.lshTune(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    assert(rows.keySet === Set(2L, 4L, 8L, 16L))
    val truth = rows(16L)._4
    rows.foreach { case (bands, (rpb, nc, nt, tp, prec, rec)) =>
      assert(rpb === 16L / bands)
      assert(nt <= nc, s"bands=$bands: true pairs exceed candidates")
      // the union denominator is a superset of EVERY config's true pairs —
      // holds even where the cap breaks nesting, unlike the old widest-arm
      // denominator
      assert(nt <= truth, s"bands=$bands: true pairs exceed the truth denominator")
      assert(tp === truth, "truth column must repeat the union count on all rows")
      assert(prec === nt * 1000000L / nc)
      if (truth > 0) {
        assert(rec === nt * 1000000L / truth)
        assert(rec <= 1000000L, s"bands=$bands: recall must never exceed 1")
      }
    }
    // the cap does not bind on this corpus (nesting test above), so the
    // widest arm's candidates contain every config's: union truth equals
    // the widest arm's true pairs and pins its recall at exactly 1
    if (truth > 0) assert(rows(16L)._6 === 1000000L)
    // wider configs can only add candidates (nesting, cap not binding here)
    assert(rows(2L)._2 <= rows(4L)._2 && rows(4L)._2 <= rows(8L)._2 &&
      rows(8L)._2 <= rows(16L)._2)
  }

  test("bucket cap kills a boilerplate flood; honest pairs survive (crafted)") {
    import spark.implicits._
    val flood = Seq.tabulate(250)(i =>
      (1000L + i, (1 to 30).map(k => s"same$k").mkString(" ")))
    val a = (1L, (1 to 40).map(k => s"w$k").mkString(" "))
    val b = (2L, ((1 to 36).map(k => s"w$k") ++ Seq("x1", "x2", "x3", "x4")).mkString(" "))
    val docs = (flood :+ a :+ b).toDF("doc_id", "text")
    val cands = candSets(docs.select(org.apache.spark.sql.functions.col("doc_id"),
      TextOps.tokens(org.apache.spark.sql.functions.col("text")).as("t")))
    val floodIds = (1000L until 1250L).toSet
    cands.values.flatten.foreach { case (x, y) =>
      assert(!(floodIds(x) && floodIds(y)),
        s"flood pair ($x,$y) must be dropped by the bucket cap")
    }
    assert(cands(16).contains((1L, 2L)),
      "the honest near-dup pair must surface in the widest arm")
  }

  test("a fully-capped corpus emits explicit zero-candidate rows, not an empty sweep") {
    import spark.implicits._
    // 250 identical docs: every band bucket in every config holds all 250
    // ids (> TuneBucketCap), so every config's candidate set is empty. The
    // pre-round-10 widest-arm truth frame came back EMPTY here and the
    // crossJoin silently emptied the whole sweep output.
    val docs = Seq.tabulate(250)(i =>
      (i.toLong, (1 to 30).map(k => s"same$k").mkString(" "))).toDF("doc_id", "text")
    val d = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      TextOps.tokens(org.apache.spark.sql.functions.col("text")).as("t"))
    val rows = Dedup.lshTuneOfTokenized(d).collect()
    assert(rows.map(_.getLong(0)).toSet === Set(2L, 4L, 8L, 16L))
    rows.foreach { r =>
      assert(r.getLong(2) === 0L, "n_candidates must be an explicit 0")
      assert(r.getLong(3) === 0L, "n_true_pairs must be an explicit 0")
      assert(r.getLong(4) === 0L, "truth_pairs must be an explicit 0")
      assert(r.isNullAt(5), "precision over zero candidates is NULL (0/0)")
      assert(r.isNullAt(6), "recall over an empty truth set is NULL")
    }
  }
}
