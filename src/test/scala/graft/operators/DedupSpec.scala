package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"

  private def resultSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("prefix-filtered jaccard is exact vs the full inverted-index join (t=0.8)") {
    val fast = resultSet(Dedup.ngramJaccard(spark, Sf, 0.8))
    val naive = resultSet(Dedup.ngramJaccardNaive(spark, Sf, 0.8))
    assert(fast === naive)
    assert(fast.nonEmpty) // the corpus has near-dup pairs at 0.8
  }

  test("prefix-filtered jaccard is exact at a looser threshold (t=0.5, more pairs)") {
    val fast = resultSet(Dedup.ngramJaccard(spark, Sf, 0.5))
    val naive = resultSet(Dedup.ngramJaccardNaive(spark, Sf, 0.5))
    assert(fast === naive)
    assert(fast.size >= resultSet(Dedup.ngramJaccard(spark, Sf, 0.8)).size)
  }

  test("containment: excerpt-in-container found at overlap ~1 where jaccard is blind; df cap honored") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // doc 2 = a verbatim excerpt of doc 1 (9 of doc 1's 38 tokens) → every
    // excerpt shingle is in the container: overlap = 1, jaccard ≈ 7/36.
    val container = "alpha bravo charlie delta echo foxtrot golf hotel india juliett " +
      "kilo lima mike november oscar papa quebec romeo sierra tango uniform victor " +
      "whiskey xray yankee zulu one two three four five six seven eight nine ten eleven twelve"
    val excerpt = "kilo lima mike november oscar papa quebec romeo sierra"
    // unrelated doc 3 shares nothing real; docs 4/5 share ONLY a ubiquitous
    // shingle (present in 4 of 5 docs, above the df ≤ n/2 cap used here)
    // → capped, no candidate from it.
    val common = "common shingle here"
    val docs = Seq(
      (1L, container + " " + common),
      (2L, excerpt),
      (3L, "totally different words everywhere nothing shared at all " + common),
      (4L, common + " unrelated tail apple banana cherry"),
      (5L, common + " another tail dates elderberry figs")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentOf(docs, tPpm = 900000L, dfCapNum = 1, dfCapDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // ONLY the excerpt pair survives: doc 2 (7 shingles) fully inside doc 1
    assert(got === Set((2L, 1L, 7L, 7L, 1000000L)))
    // ...and Jaccard is blind to exactly that pair: 7 shared shingles over
    // a union dominated by the container → far below any dedup threshold.
    val shSets = Dedup.shinglesOfTokenized(
        docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t")))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    val jaccard12 = (shSets(1L) & shSets(2L)).size.toDouble /
      (shSets(1L) | shSets(2L)).size
    assert(jaccard12 < 0.25, s"crafted pair must be jaccard-blind, got $jaccard12")
  }

  test("containment: ABSOLUTE df cap binds independently of the fraction rule") {
    import spark.implicits._
    // Four docs share one shingle ("shared token run"); with the fraction
    // rule disabled (den=1: df ≤ n_docs always true), only the absolute
    // cap can stop the pair expansion. maxDf=3 < 4 ⇒ zero candidates;
    // maxDf=4 readmits the shingle ⇒ the fully-contained pair surfaces.
    val docs = Seq(
      (1L, "shared token run alpha bravo charlie delta"),
      (2L, "shared token run"), // 1 shingle, fully inside doc 1
      (3L, "shared token run echo foxtrot golf hotel"),
      (4L, "shared token run india juliett kilo lima")
    ).toDF("doc_id", "text")
    val capped = Dedup.containmentOf(docs, tPpm = 900000L,
      dfCapNum = 1, dfCapDen = 1, maxDf = 3)
    assert(capped.count() === 0L, "df=4 shingle must be dropped by maxDf=3")
    val open = Dedup.containmentOf(docs, tPpm = 900000L,
      dfCapNum = 1, dfCapDen = 1, maxDf = 4)
      .select("doc_contained", "doc_container").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(open.contains((2L, 1L)), s"maxDf=4 must readmit the pair, got $open")
  }

  test("containment: prefix-filtered candidates are exact vs the naive all-kept-pairs contract") {
    import spark.implicits._
    // (a) the real corpus, default knobs — the registered-query regime
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val docs001 = graft.Tables.documents(spark, Sf)
    val fast = rows(Dedup.containmentOf(docs001, 900000L, 1, 10))
    val naive = rows(Dedup.containmentOfNaive(docs001, 900000L, 1, 10))
    assert(fast === naive)
    // (b) crafted regime where the prefix filter BITES: a 40-token
    // boilerplate block shared by every doc (kept — df caps wide open)
    // plus per-doc unique tails, with one true excerpt pair. The shared
    // shingles have max df and sort LAST per doc, so prefixes hold only
    // the rare tail shingles; the naive generator pairs everything
    // through the boilerplate, the prefix generator must reach the same
    // FINAL output from far fewer candidates.
    val boiler = (1 to 40).map(i => s"boiler$i").mkString(" ")
    val crafted = (1L to 12L).map { i =>
      (i, boiler + " " + (1 to 15).map(j => s"tail${i}x$j").mkString(" "))
    } :+ (13L, boiler) :+ // pure-boilerplate doc: contained in all 12
      (14L, boiler + " " + (1 to 15).map(j => s"tail2x$j").mkString(" ") + " extraword")
    val cdf = crafted.toDF("doc_id", "text")
    // den=1: fraction cap open; t=0.9 exercises a >1-element prefix
    val f2 = rows(Dedup.containmentOf(cdf, 900000L, 1, 1))
    val n2 = rows(Dedup.containmentOfNaive(cdf, 900000L, 1, 1))
    assert(f2 === n2)
    assert(f2.exists(t => t._1 === 13L), "pure-boilerplate doc must be found contained")
    assert(f2.exists(t => (t._1, t._2) === (2L, 14L) || (t._1, t._2) === (14L, 2L)),
      "doc 14 (doc 2 + one word) must pair with doc 2")
    // (c) threshold sweep on the same crafted corpus — prefix length
    // varies with t, equality must hold at each
    for (t <- Seq(500000L, 750000L, 990000L)) {
      assert(rows(Dedup.containmentOf(cdf, t, 1, 1)) ===
        rows(Dedup.containmentOfNaive(cdf, t, 1, 1)), s"diverged at tPpm=$t")
    }
  }

  test("containment KMV sketch: finds the true excerpt pairs; small-doc estimates are exact") {
    import spark.implicits._
    // Excerpt (doc 2) fully inside container (doc 1): both docs have
    // fewer shingles than the sketch size, so sketches are the full sets
    // and the estimator degenerates to the EXACT containment — the pair
    // must surface at est = 1e6. Unrelated docs share nothing.
    val container = "alpha bravo charlie delta echo foxtrot golf hotel india juliett " +
      "kilo lima mike november oscar papa quebec romeo"
    val docs = Seq(
      (1L, container),
      (2L, "echo foxtrot golf hotel india juliett kilo"),
      (3L, "totally different words everywhere nothing shared at all whatsoever here")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentKmvOf(docs, 600000L, Dedup.ContainSketchK, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got === Set((2L, 1L, 1000000L)), s"got $got")
  }

  test("containment KMV sketch: estimate tracks exact containment on sketch-truncated docs") {
    import spark.implicits._
    // Docs much larger than k: doc 2 = the first 60% of doc 1's tokens +
    // unique tail. The bottom-k estimator must land within a coarse band
    // of the exact value (k=16 → σ ≈ 1/√16 = 25%), and be deterministic.
    val shared = (1 to 60).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " " + (1 to 40).map(i => s"a$i").mkString(" ")),
      (2L, shared + " " + (1 to 10).map(i => s"b$i").mkString(" "))
    ).toDF("doc_id", "text")
    // exact: doc 2 has 58+12=70 shingles (n-2 per run boundary effects
    // aside), ~58 shared → containment ≈ 0.83; just assert band + agree
    val exact = Dedup.containmentOf(docs, 1L, 1, 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
    val est = Dedup.containmentKmvOf(docs, 1L, Dedup.ContainSketchK, 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    val key = (2L, 1L)
    assert(exact.contains(key) && est.contains(key), s"exact=$exact est=$est")
    val (e, s) = (exact(key).toDouble, est(key).toDouble)
    assert(math.abs(e - s) / e < 0.5, s"estimate $s too far from exact $e")
    // determinism: re-running yields the identical estimate (pure hash math)
    val est2 = Dedup.containmentKmvOf(docs, 1L, Dedup.ContainSketchK, 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    assert(est === est2)
  }

  test("substring pairs: crafted goldens — shared runs found with exact max span, sub-threshold runs absent") {
    import spark.implicits._
    // docs 1/2 share EXACTLY a 10-token verbatim run (L=8 threshold);
    // docs 1/3 share a 7-token run — below threshold, must be absent;
    // doc 4 shares nothing; docs 5/6 are verbatim copies (span = full
    // length, capped at the 24-token bound... here 12 tokens < bound).
    val run10 = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val run7 = "s1 s2 s3 s4 s5 s6 s7"
    val twin = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"
    val docs = Seq(
      (1L, s"alpha beta $run10 gamma delta $run7 epsilon"),
      (2L, s"zeta eta theta $run10 iota"),
      (3L, s"$run7 kappa lambda mu nu xi omicron pi"),
      (4L, "rho sigma tau upsilon phi chi psi omega one two"),
      (5L, twin),
      (6L, twin)
    ).toDF("doc_id", "text")
    val got = Dedup.substringPairsOf(docs, 8, 24, 4, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet === Set((1L, 2L), (5L, 6L)), s"got $got")
    assert(got((1L, 2L))._1 === 10L, "max shared run between 1 and 2 is the 10-token block")
    assert(got((5L, 6L))._1 === 12L, "verbatim twins share their full 12 tokens")
  }

  test("substring pairs: span caps at the suffix bound; boilerplate key cap drops mega-groups") {
    import spark.implicits._
    val long = (1 to 40).map(i => s"w$i").mkString(" ") // 40-token shared run
    val docs = Seq((1L, s"pre $long"), (2L, s"$long post")).toDF("doc_id", "text")
    val got = Dedup.substringPairsOf(docs, 8, 24, 4, 1000).collect()
    assert(got.length === 1)
    assert(got.head.getLong(2) === 24L, "span must cap at the 24-token suffix bound")
    // maxDf=1: every key has df >= 2 here (shared run) -> zero candidates
    assert(Dedup.substringPairsOf(docs, 8, 24, 4, 1).count() === 0L,
      "the absolute key cap must bound candidate generation independently")
  }

  test("minhash-LSH candidates cover every true jaccard>=0.9 pair (recall sanity)") {
    val lsh = Dedup.minhashLsh(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strong = resultSet(Dedup.ngramJaccardNaive(spark, Sf, 0.9)).map(t => (t._1, t._2))
    // With 4 bands × 4 rows, P(candidate | J=0.9) = 1-(1-0.9^4)^4 ≈ 0.98;
    // on this corpus every strong pair should surface.
    assert(strong.subsetOf(lsh), s"missed: ${strong -- lsh}")
  }

  test("clusters: a valid connected-components labeling of the LSH pair graph") {
    val pairs = Dedup.minhashLsh(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val label = Dedup.clusters(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Every doc appearing in a pair is labeled; paired docs share a label
    // (so transitive chains collapse to ONE survivor).
    for ((a, b) <- pairs) {
      assert(label.contains(a) && label.contains(b))
      assert(label(a) === label(b), s"pair ($a,$b) split across clusters")
    }
    // The label really is the component MIN, and labels are component
    // members (each cluster id labels itself).
    for ((doc, c) <- label) assert(c <= doc)
    assert(label.values.toSet.forall(c => label(c) === c))
    // Independent ground truth: brute-force union-find on the driver.
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    for ((a, b) <- pairs) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val truth = label.keys.map(d => d -> find(d)).toMap
    assert(label === truth)
  }

  test("pagerank: fixed-point iteration matches a driver-side BigInt-free reference") {
    val pairs = Dedup.minhashLsh(spark, Sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val got = Dedup.pagerank(spark, Sf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n = deg.size.toLong
    val scale = Dedup.PagerankScale
    val teleport = (scale * 15L / 100L) / n
    var r = deg.keys.map(_ -> scale / n).toMap
    for (_ <- 1 to Dedup.PagerankIters) {
      val contrib = r.map { case (u, ru) => u -> ru / deg(u) }
      val sums = edges.groupBy(_._2).view.mapValues(_.map(e => contrib(e._1)).sum).toMap
      r = sums.map { case (v, sv) => v -> (teleport + (85L * sv) / 100L) }
    }
    assert(got === r)
    // mass is conserved up to floor-division leakage
    assert(got.values.sum <= scale && got.values.sum > scale * 8 / 10)
  }

  test("simhash blocking finds EXACTLY the brute-force hamming<=2 pairs (pigeonhole completeness)") {
    val fps = Dedup.simhash(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- fps; (b, hb) <- fps if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 2
    } yield (a, b, d.toLong)).toSet
    val blocked = Dedup.simhashPairs(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked === brute)
    assert(blocked.nonEmpty)
  }

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    for ((a, b) <- pairs) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(d => d -> find(d)).toMap
  }

  test("clustersOfPairs matches union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val pairs = Seq.fill(40 + rnd.nextInt(30)) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val got = Dedup.clustersOfPairs(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === unionFind(pairs))
    }
  }

  test("clustersOfPairs converges on a worst-case 50-node chain (diameter = rounds bound)") {
    import spark.implicits._
    val chain = (0L until 49L).map(i => (i, i + 1))
    val got = Dedup.clustersOfPairs(chain.toDF("doc_a", "doc_b"), maxIters = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 49L).map(_ -> 0L).toMap)
  }

  test("clustersOfPairs: a star about its min converges with maxIters = 1") {
    import spark.implicits._
    // the fused start labels every node with the centre; one round confirms
    val star = (1L to 9L).map(i => (0L, i))
    val got = Dedup.clustersOfPairs(star.toDF("doc_a", "doc_b"), maxIters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 9L).map(_ -> 0L).toMap)
  }

  test("clustersOfPairs: an n-node chain needs exactly n - 1 rounds after the fused start") {
    import spark.implicits._
    // the start labels node i with i - 1, so node n - 1 reaches 0 after
    // n - 2 rounds and one more round confirms the fixpoint
    val n = 12
    val chain = (0L until n - 1L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.clustersOfPairs(chain, maxIters = n - 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L until n.toLong).map(_ -> 0L).toMap)
    val e = intercept[IllegalArgumentException](Dedup.clustersOfPairs(chain, maxIters = n - 2))
    assert(e.getMessage.contains("did not converge"))
  }

  test("incremental dedup agrees with the self-dedup pair set on cross-side pairs") {
    import org.apache.spark.sql.functions._
    val batch = Dedup.IncrementalBatchSources.toSet
    val side = graft.Tables.documents(spark, Sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> batch.contains(r.getString(1))).toMap
    // self-dedup pairs, restricted to (batch, reference) crossings
    val crossPairs = Dedup.minhashLsh(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        if (side(a) && !side(b)) Some(a -> b)
        else if (side(b) && !side(a)) Some(b -> a)
        else None
      }.toSet
    val inc = Dedup.incremental(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // every batch doc's candidate count and best match must equal what the
    // corpus-wide pair set says about its cross-side neighbors
    val byBatch = crossPairs.groupBy(_._1)
    inc.foreach { case (doc, n, best) =>
      val expect = byBatch.getOrElse(doc, Set.empty)
      assert(n === expect.size.toLong, s"doc $doc candidate count")
      assert(best === (if (expect.isEmpty) -1L else expect.map(_._2).min),
        s"doc $doc best match")
    }
    assert(inc.map(_._1).toSet === side.filter(_._2).keySet,
      "every batch doc appears exactly once, including zero-match docs")
    assert(inc.exists(_._2 > 0) && inc.exists(_._2 === 0L),
      "fixture should exercise both matched and novel batch docs")
  }

  test("keepBest: per cluster exactly one survivor, and it is the (score desc, id asc) argmax") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.keepBest(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val q = TextAnalysis.quality(spark, Sf)
      .select(col("doc_id"), col("quality_score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      val kept = members.filter(_._3)
      assert(kept.length === 1, s"cluster $cluster must keep exactly one member")
      val want = members.map(_._1).minBy(id => (-q(id), id))
      assert(kept.head._1 === want, s"cluster $cluster survivor must be the quality argmax")
      assert(members.forall(_._4 === want), "canonical must point at the survivor")
    }
    // membership matches the min-label clustering exactly (same components)
    val comp = Dedup.clusters(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(t => (t._1, t._2)).toSet === comp)
    // the survivor rule genuinely differs from min-id somewhere on this corpus
    assert(rows.exists { case (doc, cluster, kept, _) => kept && doc != cluster },
      "fixture should contain a cluster whose best member is not the min id")
  }

  test("sourceOverlapKmv: sub-sketch sources are EXACT (inter_est = |intersection|); disjoint/identical extremes") {
    import spark.implicits._
    // every source far below k = 128 distinct shingles → sketches are the
    // full sets and the estimator must collapse to exact set arithmetic:
    // ku = |A∪B|, i = |A∩B|, inter_est = i·(nA+nB) div (nA+nB) = i
    val docs = Seq(
      ("x", 1L, "a b c d e f"),            // shingles: abc bcd cde def (4)
      ("y", 2L, "c d e f g h"),            // cde def efg fgh (4); ∩x = {cde, def}
      ("z", 3L, "p q r s t u"),            // disjoint from x and y
      ("w", 4L, "a b c d e f")             // identical to x
    ).toDF("source", "doc_id", "text")
    val got = Dedup.sourceOverlapKmvOf(docs, Dedup.SourceSketchK).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got.keySet === Set(("w", "x"), ("w", "y"), ("w", "z"),
      ("x", "y"), ("x", "z"), ("y", "z")))
    // identical sources: full overlap
    assert(got(("w", "x")) === ((4L, 4L, 4L, 1000000L, 1000000L)))
    // half-overlapping: i=2, union=6 → jaccard 333333 ppm; containment 2/4
    assert(got(("x", "y")) === ((4L, 4L, 2L, 333333L, 500000L)))
    // disjoint pairs: all zeros
    Seq(("w", "z"), ("x", "z"), ("y", "z")).foreach { p =>
      val (_, _, inter, jac, cont) = got(p)
      assert((inter, jac, cont) === ((0L, 0L, 0L)), s"pair $p must be disjoint")
    }
  }

  test("sourceOverlapKmv: real corpus emits the full |S| choose 2 matrix, deterministic, ppm in range") {
    val a = Dedup.sourceOverlapKmv(spark, Sf).collect()
    val b = Dedup.sourceOverlapKmv(spark, Sf).collect()
    assert(a.map(_.toSeq).toSet === b.map(_.toSeq).toSet, "estimator must be deterministic")
    val srcs = a.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.length
    assert(a.length === srcs * (srcs - 1) / 2, "one row per unordered source pair")
    a.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs are canonically ordered")
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000000L)
      assert(r.getLong(6) >= 0L && r.getLong(6) <= 1000000L)
      assert(r.getLong(4) >= 0L && r.getLong(4) <= math.min(r.getLong(2), r.getLong(3)),
        "intersection estimate cannot exceed the smaller set")
    }
  }
}
