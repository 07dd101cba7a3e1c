package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"
  // the next scale factor, for cases that need a corpus where two methods disagree
  private val Sf01 = Sf.stripSuffix("sf0.001") + "sf0.01"

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def queryPairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // (query, n_brute, n_index, n_overlap, recall_fp) per brute query,
  // recomputed from the two probes' (query, neighbor) pairs
  private def recallRows(brute: Set[(Long, Long)], index: Set[(Long, Long)]) =
    brute.groupBy(_._1).map { case (q, bs) =>
      val vs = index.filter(_._1 == q)
      val ov = bs.count(vs.contains).toLong
      (q, bs.size.toLong, vs.size.toLong, ov, 1000000L * ov / bs.size)
    }.toSet

  test("knn_recall equals the overlap of the two probes' own outputs") {
    val expected = recallRows(queryPairs(Similarity.knnBrute(spark, Sf)),
      queryPairs(Similarity.knnIvf(spark, Sf, k = 5)))
    val got = Similarity.knnRecall(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === expected)
    // the eval is informative only if the index is actually approximate
    assert(got.exists(_._5 < 1000000L) || got.forall(_._5 == 1000000L))
  }

  test("knn_recall_compressed equals each compressed probe's overlap with knn_brute") {
    // sf0.01 is the input where IVFPQ and its rerank disagree on some
    // query: at sf0.001 their rows are identical, so a swap of the two
    // method labels would pass unseen there
    Seq(Sf -> false, Sf01 -> true).foreach { case (sf, discriminating) =>
      val brute = queryPairs(Similarity.knnBrute(spark, sf))
      val expected = Seq(
        "sq8" -> Similarity.knnSq8(spark, sf),
        "ivfpq" -> Similarity.knnIvfPq(spark, sf),
        "rerank" -> Similarity.knnIvfRerank(spark, sf)).flatMap { case (m, probe) =>
        recallRows(brute, queryPairs(probe)).map { case (q, nb, ni, ov, r) => (m, q, nb, ni, ov, r) }
      }.toSet
      val got = Similarity.knnRecallCompressed(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toSet
      assert(got === expected, s"on $sf")
      assert(got.size === 3 * Similarity.NumQueries, s"one row per (method, query) on $sf")
      if (discriminating) {
        def rows(m: String) = got.collect { case (`m`, q, nb, ni, ov, r) => q -> (nb, ni, ov, r) }.toMap
        val (ivfpq, rerank) = (rows("ivfpq"), rows("rerank"))
        assert(ivfpq.keySet.exists(q => ivfpq(q) != rerank(q)),
          s"ivfpq and rerank rows must differ for some query on $sf")
      }
    }
  }

  test("knn_pq: ADC ranking recalls exact-L2 neighbors above the measured floor") {
    import org.apache.spark.sql.functions._
    val pq = Similarity.knnPq(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact L2 top-5 baseline (same metric PQ approximates; cosine brute
    // would confound quantization loss with the metric difference)
    val e = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id").asc)
    val exact = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("d2", Similarity.dist2(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = pq.count(exact.contains)
    // measured 24/50 on this (near-uniform, PQ-worst-case) corpus with the
    // 16×64 codebook; the floor catches a geometry/codebook regression
    assert(overlap >= 20, s"PQ recall collapsed: $overlap/50 vs exact L2")
    assert(pq.size === 50, "5 neighbors per query, 10 queries")
  }

  test("knn_sq8: per-dim 8-bit quantization recalls exact-L2 neighbors near-perfectly") {
    import org.apache.spark.sql.functions._
    val sq = Similarity.knnSq8(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id").asc)
    val exact = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("d2", Similarity.dist2(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = sq.count(exact.contains)
    info(s"SQ8 recall: $overlap/50 vs exact L2")
    // per-dimension 8-bit codes are far finer than PQ's 16 subspace
    // codebooks (floor 20/50 above) — a drop below 45 means the
    // encode/decode chain broke, not that the corpus got hard
    assert(overlap >= 45, s"SQ8 recall collapsed: $overlap/50 vs exact L2")
    assert(sq.size === 50, "5 neighbors per query, 10 queries")
  }

  test("knn_ivfpq: candidates stay in the query's cluster; ADC distances agree with knn_pq") {
    import org.apache.spark.sql.functions._
    val cluster = Similarity.ivfAssigned(spark, Sf)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfpq = Similarity.knnIvfPq(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(ivfpq.nonEmpty)
    ivfpq.keys.foreach { case (q, n) =>
      assert(cluster(n) === cluster(q), s"neighbor $n outside query $q's cluster")
    }
    // where the unpartitioned PQ ranking surfaces the same pair, the ADC
    // distance must be identical (same codes, same tables)
    val pq = Similarity.knnPq(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val shared = ivfpq.keySet intersect pq.keySet
    assert(shared.nonEmpty)
    shared.foreach(k => assert(ivfpq(k) === pq(k)))
  }

  test("knn_ivf_rerank: exact scores on the shortlist; recall >= plain IVFPQ") {
    val rerank = Similarity.knnIvfRerank(spark, Sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    // Stage-2 scores must be the EXACT cosine — every (query, neighbor)
    // pair also ranked by the brute-force baseline carries the identical
    // rounded score (quantization may move the shortlist, never a score).
    val brute = Similarity.knnBrute(spark, Sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val common = rerank.keySet.intersect(brute.keySet)
    assert(common.nonEmpty)
    common.foreach(p => assert(rerank(p) === brute(p),
      s"rerank score diverged from exact cosine on $p"))
    // Reranking a 20-candidate shortlist cannot recall FEWER true cosine
    // neighbors than the ADC-ordered top-5 of the same index.
    val ivfpq = Similarity.knnIvfPq(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteSet = brute.keySet
    assert(rerank.keySet.count(bruteSet.contains) >= ivfpq.count(bruteSet.contains),
      "rerank recalled fewer brute neighbors than plain IVFPQ")
  }

  test("SRP-LSH output is a verified subset of the exhaustive near-dup baseline") {
    val srp = pairSet(Similarity.embeddingNearDupSrp(spark, Sf))
    val exhaustive = pairSet(Dedup.embeddingNearDup(spark, Sf))
    // precision 1: every surviving pair is a true pair with the exact score
    assert(srp.subsetOf(exhaustive), s"false positives: ${srp -- exhaustive}")
  }

  test("SRP-LSH is deterministic across runs") {
    val a = pairSet(Similarity.embeddingNearDupSrp(spark, Sf))
    val b = pairSet(Similarity.embeddingNearDupSrp(spark, Sf))
    assert(a === b)
  }

  test("SRP-LSH finds exact duplicates and strong near-dups (crafted corpus)") {
    import spark.implicits._
    val base = Array.tabulate(Similarity.EmbeddingDim)(i => math.sin(i + 1.0).toFloat)
    val nearDup = base.clone(); nearDup(0) = base(0) + 0.001f
    val other = Array.tabulate(Similarity.EmbeddingDim)(i => math.cos(3.0 * i + 1.0).toFloat)
    val e = Seq((0L, base), (1L, base), (2L, nearDup), (3L, other)).toDF("vec_id", "embedding")
    val got = pairSet(Similarity.embeddingNearDupSrpOf(e, 0.9))
      .map(t => (t._1, t._2))
    // identical vectors share every band; the tiny perturbation flips no sign
    assert(got.contains((0L, 1L)))
    assert(got.contains((0L, 2L)) && got.contains((1L, 2L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), "unrelated vector paired")
  }

  test("SRP window binds on an oversized bucket: missing pairs are EXACTLY rank distance > W") {
    // Round-13 differential spec for the sorted-neighborhood rewrite: every
    // other SRP spec (and the oracle corpus) exercises buckets <= W+1
    // members, where the window is equivalent to all-pairs — this one
    // builds ONE bucket of SemWindow+8 members so the rank window actually
    // binds, and pins recall against the exhaustive baseline's own code
    // path (Dedup.embeddingNearDupOf).
    import spark.implicits._
    val n = Similarity.SemWindow + 8 // 40 > W+1 = 33
    val base = Array.tabulate(Similarity.EmbeddingDim)(i => math.sin(i + 1.0).toFloat)
    // POSITIVE per-vector scaling: flips no projection sign, so all n
    // vectors share every (band, code) bucket AND every rotated sort key —
    // the in-bucket order degrades to vec_id, making the windowed pair set
    // exactly {(a,b): b-a <= W}. Cosine stays ~1 (>= any threshold), so the
    // exhaustive truth is all C(n,2) pairs and recall is a pure function
    // of the window geometry.
    val e = (0 until n).map(k => (k.toLong, base.map(x => x * (1.0f + 0.001f * k))))
      .toDF("vec_id", "embedding")
    val got = pairSet(Similarity.embeddingNearDupSrpOf(e, 0.9)).map(t => (t._1, t._2))
    val exhaustive = pairSet(Dedup.embeddingNearDupOf(e, 0.9)).map(t => (t._1, t._2))
    assert(exhaustive.size === n * (n - 1) / 2, "crafted corpus must be all near-dups")
    // precision 1: the window can only MISS pairs, never invent them
    assert(got.subsetOf(exhaustive), s"false positives: ${got -- exhaustive}")
    // the window binds exactly at rank distance W: nothing inside missed,
    // nothing outside kept
    val expected = exhaustive.filter { case (a, b) => b - a <= Similarity.SemWindow }
    assert(got === expected,
      s"missed inside window: ${expected -- got}; kept outside: ${got -- expected}")
    val recall = got.size.toDouble / exhaustive.size
    assert(recall >= 0.9 && recall < 1.0,
      f"recall $recall%.4f — must show the window binding (<1) but stay high (>=0.9)")
  }

  test("sign matrix is md5-derived and ±1 only") {
    val v = Similarity.srpSignVec(7)
    assert(v.length === Similarity.EmbeddingDim)
    assert(v.forall(x => x == 1.0 || x == -1.0))
    // spot-check one entry against an independent digest computation
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("7:1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (Integer.parseInt(hex.substring(0, 1), 16) % 2) * 2 - 1
    assert(v.head === expected.toDouble)
  }

  test("dedupSemantic: greedy keep rule matches the pair set; kept+dropped partition the corpus") {
    import org.apache.spark.sql.functions._
    val verdict = Similarity.dedupSemantic(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    val n = graft.Tables.embeddings(spark, Sf).count()
    assert(verdict.length === n, "one verdict row per vector")
    // Independent derivation of the rule from the near-dup PAIR set: a
    // vector is dropped iff it appears as the HIGHER id of some pair, and
    // its canonical is the smallest lower-id partner.
    val pairs = Similarity.embeddingNearDupIvf(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val minPartner = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    for ((id, _, kept, canonical) <- verdict) {
      minPartner.get(id) match {
        case Some(exp) =>
          assert(!kept && canonical === exp, s"vec $id must drop into $exp")
        case None =>
          assert(kept && canonical === id, s"vec $id must survive as itself")
      }
    }
    // survivors of a dup group are themselves kept (greedy rule sanity)
    val keptSet = verdict.filter(_._3).map(_._1).toSet
    val danglingCanon = verdict.filter(v => !v._3 && !keptSet.contains(v._4) &&
      minPartner.contains(v._4))
    // NOTE: greedy (not transitive) semantics - a canonical may itself be
    // dropped only if IT has a lower-id near partner; assert the chain
    // terminates at a kept vector within the pair graph.
    for ((_, _, _, c) <- danglingCanon)
      assert(minPartner.contains(c), s"canonical $c neither kept nor pair-covered")
  }

  test("embeddingNearDupIvf equals in-cluster ALL-PAIRS where clusters fit the window (sf0.001 regime)") {
    import org.apache.spark.sql.functions._
    // The round-8 sorted-neighborhood window silently restricts candidates
    // in clusters with > W+1 members; in the regime where every cluster
    // fits the window it must be EXACTLY the all-pairs answer — the same
    // differential dedup_semantic and knnJoin carry (round-8 ADVICE).
    val got = Similarity.embeddingNearDupIvf(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = Similarity.ivfAssigned(spark, Sf)
      .select(col("vec_id"), col("cluster"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val byCluster = a.groupBy(_._2)
    assert(byCluster.values.map(_.size).max <= Similarity.SemWindow + 1,
      "reference regime requires clusters inside the window")
    def cos(x: Array[Double], y: Array[Double]) = {
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val want = (for {
      (_, members) <- byCluster.toSeq
      Seq((ia, _, va), (ib, _, vb)) <- members.toSeq.combinations(2)
      c = cos(va, vb) if c >= 0.4
    } yield (math.min(ia, ib), math.max(ia, ib),
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got === want)
    assert(got.nonEmpty, "regime must actually exercise pairs")
  }

  test("knnJoin equals exact in-cluster top-k where clusters fit the window (sf0.001 regime)") {
    import org.apache.spark.sql.functions._
    val got = Similarity.knnJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver reference: exact all-pairs within each cluster, top-3 by
    // (cos desc, id asc) — valid because every sf0.001 cluster has <= W+1
    // members, where the window degenerates to all-pairs
    val a = Similarity.ivfAssigned(spark, Sf)
      .select(col("vec_id"), col("cluster"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val byCluster = a.groupBy(_._2)
    assert(byCluster.values.map(_.size).max <= Similarity.SemWindow + 1,
      "reference regime requires clusters inside the window")
    def cos(x: Array[Double], y: Array[Double]) = {
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val want = (for {
      (_, members) <- byCluster.toSeq
      (id, _, v) <- members
    } yield {
      members.filter(_._1 != id)
        .map { case (nid, _, nv) => (nid, cos(v, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }
        .take(3).zipWithIndex
        .map { case ((nid, _), i) => (id, nid, (i + 1).toLong) }
    }).flatten.toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("embeddingOutliers: exactly the bottom-k per trained cluster under a driver recomputation") {
    import org.apache.spark.sql.functions._
    val got = Similarity.embeddingOutliers(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver ground truth: trained centroids, per-vector best assignment,
    // ascending-score rank per cluster — same tie rules
    val cents = Similarity.kmeansTrain(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3) / 1e6))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val vecs = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    def dotL2R(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val want = vecs.map { case (id, v) =>
      val (cl, sc) = cents.toSeq.sortBy(_._1).map { case (c, cv) =>
        (c, dotL2R(v, cv) / math.sqrt(dotL2R(cv, cv)))
      }.maxBy { case (c, s) => (s, -c) }
      (cl, id, sc)
    }.groupBy(_._1).toSeq.flatMap { case (cl, members) =>
      members.sortBy(m => (m._3, m._2)).take(Similarity.OutliersPerCluster)
        .zipWithIndex.map { case ((_, id, _), i) => (cl, id, (i + 1).toLong) }
    }.toSet
    assert(got === want)
    assert(got.nonEmpty)
    // ranks per cluster are contiguous from 1 and capped
    got.groupBy(_._1).foreach { case (cl, rows) =>
      val ranks = rows.map(_._3).toSeq.sorted
      assert(ranks === (1L to ranks.size))
      assert(ranks.size <= Similarity.OutliersPerCluster, s"cluster $cl overflows kOut")
    }
  }

  test("knn_ivf_trained equals an in-memory replay of trained assignment and in-cluster top-k") {
    import org.apache.spark.sql.functions._
    // sf0.01 is the input where scoring the assignment by plain dot(v, c)
    // instead of dot/|c| changes the output: at sf0.001 no query's in-cluster
    // top-5 moves, so that mutant would pass unseen there
    Seq(Sf -> false, Sf01 -> true).foreach { case (sf, discriminating) =>
      val got = Similarity.knnIvfTrained(spark, sf).collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
      // kmeansTrain's centroid rows, decoded from fixed point per cluster
      val cents = Similarity.kmeansTrain(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3) / 1e6))
        .groupBy(_._1).toSeq.sortBy(_._1).map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3).toSeq }
      val vecs = graft.Tables.embeddings(spark, sf)
        .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      def dotL2R(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      def cos(a: Seq[Double], b: Seq[Double]) =
        dotL2R(a, b) / (math.sqrt(dotL2R(a, a)) * math.sqrt(dotL2R(b, b)))
      // argmax of score(v, c), lowest cluster on ties
      def assign(score: (Seq[Double], Seq[Double]) => Double): Map[Long, Long] =
        vecs.map { case (id, v) =>
          id -> cents.map { case (c, cv) => (c, score(v, cv)) }.maxBy { case (c, s) => (s, -c) }._1
        }
      def topK(cluster: Map[Long, Long]) = (0L until Similarity.NumQueries.toLong).flatMap { q =>
        vecs.keys.filter(id => id != q && cluster(id) == cluster(q)).toSeq
          .map(id => (id, cos(vecs(q), vecs(id))))
          .sortBy { case (id, c) => (-c, id) }.take(5)
          .zipWithIndex.map { case ((id, c), i) => ((q, id, (i + 1).toLong), c) }
      }.toMap
      val cluster = assign((v, c) => dotL2R(v, c) / math.sqrt(dotL2R(c, c)))
      val want = topK(cluster)
      assert(got.keySet === want.keySet, s"on $sf")
      got.foreach { case (key, c) => assert(math.abs(c - want(key)) < 1e-6, s"cos_sim of $key on $sf") }
      // the codebook actually partitions: more than one cluster serves queries
      assert((0L until Similarity.NumQueries.toLong).map(cluster).toSet.size > 1, s"on $sf")
      if (discriminating) {
        val byDot = assign(dotL2R)
        assert(vecs.keys.exists(id => byDot(id) != cluster(id)),
          s"some vector's dot and dot/|c| argmaxes must differ on $sf")
        assert(topK(byDot).keySet !== want.keySet,
          s"a plain-dot assignment must change knn_ivf_trained's rows on $sf")
      }
    }
  }

  // driver-side mirror of the binary pack: midrange thresholds, MSB-first
  // 32-bit words — shared by the two knnBinary tests below
  private def driverBinaryPack() = {
    import org.apache.spark.sql.functions._
    val vecs = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val d = vecs.values.head.length
    val mn = Array.tabulate(d)(i => vecs.values.map(_(i)).min)
    val mx = Array.tabulate(d)(i => vecs.values.map(_(i)).max)
    val wb = Similarity.BinWordBits
    val nw = (d + wb - 1) / wb
    def pack(v: Array[Double]): Seq[Long] =
      (0 until nw).map { j =>
        (0 until wb).foldLeft(0L) { (acc, b) =>
          val i = j * wb + b
          acc + (if (i < d && v(i) * 2.0 > mn(i) + mx(i)) 1L << (wb - 1 - b) else 0L)
        }
      }
    (vecs, vecs.map { case (id, v) => id -> pack(v) })
  }

  test("knnBinary: packed codes match a driver midrange-threshold pack bit-for-bit") {
    val (vecs, want) = driverBinaryPack()
    val got = Similarity.binaryCodes(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got.keySet === vecs.keySet)
    vecs.keys.foreach { id => assert(got(id) === want(id), s"vec $id pack diverged") }
    // the pack is discriminative on this corpus, not constant
    assert(want.values.toSet.size > want.size / 2, "codes collapsed")
  }

  test("knnBinary: equals the driver Hamming-shortlist -> exact-rerank recomputation; recall floor vs brute") {
    val (vecs, codes) = driverBinaryPack()
    def dotL2R(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def cos(a: Array[Double], b: Array[Double]) =
      dotL2R(a, b) / (math.sqrt(dotL2R(a, a)) * math.sqrt(dotL2R(b, b)))
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
    val want = (0L until Similarity.NumQueries.toLong).flatMap { q =>
      val short = vecs.keys.filter(_ != q).toSeq
        .map(id => (id, ham(codes(q), codes(id))))
        .sortBy { case (id, h) => (h, id) }.take(Similarity.BinShortlist)
      short.map { case (id, h) => (id, h, cos(vecs(q), vecs(id))) }
        .sortBy { case (id, _, c) => (-c, id) }.take(5)
        .zipWithIndex.map { case ((id, h, c), i) => (q, id, (i + 1).toLong, h) }
    }.toSet
    val rows = Similarity.knnBinary(spark, Sf).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
    // exact rerank: cos_sim agrees with the brute scorer on the same pairs
    val brute = Similarity.knnBrute(spark, Sf, k = 5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    rows.foreach { r =>
      brute.get((r.getLong(0), r.getLong(1))).foreach { bc =>
        assert(math.abs(r.getDouble(4) - bc) < 1e-9)
      }
    }
    // informational recall floor vs exact top-5 (1-bit codes on a
    // near-uniform corpus are the worst case; a collapse means the
    // pack/threshold broke, not that recall is fashionable)
    val bruteSet = brute.keySet
    val overlap = got.map(t => (t._1, t._2)).count(bruteSet.contains)
    assert(overlap >= 10, s"binary recall collapsed: $overlap/50 vs brute")
  }

  test("knn_ivf_multiprobe: p=1 IS knn_ivf; p=C IS brute; recall is monotone in p") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // nprobe=1 degenerates to the single-cluster probe, pair-for-pair.
    assert(rows(Similarity.knnIvfMultiprobe(spark, Sf, k = 3, p = 1)) ===
      rows(Similarity.knnIvf(spark, Sf, k = 3)))
    // nprobe=C scans every cluster = the exhaustive baseline, pair-for-pair.
    assert(rows(Similarity.knnIvfMultiprobe(spark, Sf, k = 5, p = Similarity.NumCentroids)) ===
      rows(Similarity.knnBrute(spark, Sf, k = 5)))
    // recall@k vs brute is non-decreasing in p (the candidate pool only
    // grows, under one total order), and the default p=4 must be a strict
    // improvement over p=1 somewhere for the knob to be informative.
    val brute = rows(Similarity.knnBrute(spark, Sf, k = 5)).map(t => (t._1, t._2))
    def recall(p: Int): Map[Long, Int] = {
      val got = rows(Similarity.knnIvfMultiprobe(spark, Sf, k = 5, p = p)).map(t => (t._1, t._2))
      brute.groupBy(_._1).map { case (q, bs) => q -> bs.count(got.contains) }
    }
    val byP = Seq(1, 2, 4, 8).map(p => p -> recall(p))
    byP.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      ra.keys.foreach { q =>
        assert(ra(q) <= rb(q), s"recall dropped for query $q going p=$pa -> p=$pb")
      }
    }
    assert(byP.head._2.values.sum < byP(2)._2.values.sum,
      "p=4 recalls no more than p=1: the multi-probe knob is not biting on this corpus")
  }

  test("embedding_health: concentration extremes and zero-vector accounting (crafted)") {
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] = Array.tabulate(64)(i => f(i).toFloat)
    val aligned = Seq.tabulate(5)(_ => vec(i => if (i < 4) 0.5 else 0.0))
    val anti = Seq(vec(i => if (i == 0) 1.0 else 0.0), vec(i => if (i == 0) -1.0 else 0.0))
    val ortho = Seq(vec(i => if (i == 0) 2.0 else 0.0), vec(i => if (i == 1) 2.0 else 0.0))
    val withZero = Seq(vec(i => if (i == 0) 3.0 else 0.0), vec(_ => 0.0))
    val emb = (aligned.map((1L, _)) ++ anti.map((2L, _)) ++
        ortho.map((3L, _)) ++ withZero.map((4L, _)))
      .toDF("label", "embedding")
    val got = Similarity.embeddingHealthOf(emb).collect()
      .map(r => r.getLong(0) -> r).toMap
    // identical directions: mrl2 -> 1 (minus quantization floor loss)
    assert(got(1L).getLong(6) >= 900000L && got(1L).getLong(6) <= 1000000L)
    // antipodal pair: directions cancel, mrl2 -> 0
    assert(got(2L).getLong(6) <= 5000L)
    // orthogonal pair: mrl2 -> 1/n = 1/2 (from below, quantization floors)
    assert(got(3L).getLong(6) >= 450000L && got(3L).getLong(6) <= 500000L)
    // zero vector: counted, excluded from norm stats and directions
    val z = got(4L)
    assert(z.getLong(1) === 2L && z.getLong(2) === 1L)
    assert(z.getLong(3) === z.getLong(4), "min/max norm must come from the one non-zero vector")
    assert(z.getLong(3) === 3000000L - 1L || z.getLong(3) === 3000000L,
      s"norm of the 3.0-spike vector, floored ppm: ${z.getLong(3)}")
    // all-aligned norm stats: every vector has |v| = 1
    assert(got(1L).getLong(5) === got(1L).getLong(3), "avg == min when all norms equal")
  }

  test("embedding_drift: identical halves read ~1.0, orthogonal halves ~0, one-sided labels null (crafted)") {
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] = Array.tabulate(64)(i => f(i).toFloat)
    val same = vec(i => if (i < 4) 0.5 else 0.0)
    val ortho = vec(i => if (i >= 4 && i < 8) 0.5 else 0.0)
    val emb =
      // label 1: both sides carry the same direction -> cos ~ 1, delta 0
      Seq((0L, 1, same), (2L, 1, same), (1L, 1, same), (3L, 1, same)) ++
      // label 2: new side rotates into an orthogonal subspace -> cos ~ 0
      Seq((10L, 2, same), (12L, 2, same), (11L, 2, ortho), (13L, 2, ortho)) ++
      // label 3: old side only -> cos and new-side stats are null
      Seq((20L, 3, same))
    val got = Similarity.embeddingDriftOf(emb.toDF("vec_id", "label", "embedding"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(3) >= 999000L && got(1L).getLong(3) <= 1000000L)
    assert(got(1L).getLong(6) === 0L, "identical halves: zero norm delta")
    assert(math.abs(got(2L).getLong(3)) <= 1000L, s"orthogonal halves: ${got(2L).getLong(3)}")
    assert(got(3L).isNullAt(3) && got(3L).isNullAt(5) && got(3L).isNullAt(6))
    assert(got(3L).getLong(1) === 1L && got(3L).getLong(2) === 0L)
  }

  test("embedding_drift equals a driver recomputation on the real sf0.001 corpus") {
    val emb = graft.Tables.embeddings(spark, Sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Float](2).toArray))
    val want = emb.groupBy(_._2).map { case (label, rows) =>
      def sideStats(par: Long) = {
        val vs = rows.filter(_._1 % 2 == par)
        val fps = vs.map(_._3.map(x => math.floor(x.toDouble * 1000000).toLong))
        val nps = vs.map { case (_, _, e) =>
          val v = e.map(_.toDouble)
          math.floor(math.sqrt(v.map(x => x * x).sum) * 1000000).toLong
        }
        (vs.length.toLong, fps, nps.sum)
      }
      val (nOld, fOld, npOld) = sideStats(0)
      val (nNew, fNew, npNew) = sideStats(1)
      def cent(n: Long, fs: Array[Array[Long]]): Array[Long] =
        Array.tabulate(64)(d => if (n > 0) fs.map(_(d)).sum / n else 0L)
      val (co, cn) = (cent(nOld, fOld), cent(nNew, fNew))
      val dotp = (0 until 64).map(d => co(d).toDouble * cn(d).toDouble).sum
      val no2 = co.map(x => x.toDouble * x.toDouble).sum
      val nn2 = cn.map(x => x.toDouble * x.toDouble).sum
      val cos = if (nOld > 0 && nNew > 0 && no2 > 0 && nn2 > 0)
        Some(math.floor(dotp * 1000000.0 / (math.sqrt(no2) * math.sqrt(nn2))).toLong)
      else None
      (label, nOld, nNew, cos,
        if (nOld > 0) Some(npOld / nOld) else None,
        if (nNew > 0) Some(npNew / nNew) else None,
        if (nOld > 0 && nNew > 0) Some(npNew / nNew - npOld / nOld) else None)
    }.toSet
    val got = Similarity.embeddingDrift(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))).toSet
    assert(got === want)
  }

  test("embedding_health equals a driver recomputation on the real sf0.001 corpus") {
    val emb = graft.Tables.embeddings(spark, Sf)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1).toArray))
    val want = emb.groupBy(_._1).map { case (label, rows) =>
      val stats = rows.map { case (_, e) =>
        val v = e.map(_.toDouble)
        val nrm = math.sqrt(v.map(x => x * x).sum)
        val ppm = math.floor(nrm * 1000000).toLong
        val q = if (ppm > 0) v.map(x => math.floor(x / nrm * 1024).toLong)
                else Array.fill(64)(0L)
        (ppm, q)
      }
      val dir = stats.filter(_._1 > 0)
      val s = Array.tabulate(64)(d => stats.map(_._2(d)).sum)
      val sumsq = s.map(x => x.toDouble * x.toDouble).sum
      val nDir = dir.length.toLong
      val dd = 1024.0 * nDir
      (label, rows.length.toLong, (rows.length - dir.length).toLong,
        dir.map(_._1).min, dir.map(_._1).max, dir.map(_._1).sum / nDir,
        math.floor(sumsq * 1000000.0 / (dd * dd)).toLong)
    }.toSet
    val got = Similarity.embeddingHealth(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got === want)
  }

  test("contamination_semantic equals a driver brute-force recomputation; eval rows never flagged") {
    import org.apache.spark.sql.functions._
    val rows = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val (evals, corpus) = rows.partition(r =>
      r._1 >= Similarity.EvalLo && r._1 < Similarity.EvalHi)
    val want = corpus.flatMap { case (id, v) =>
      val hits = evals.map { case (eid, ev) => (eid, cos(v, ev)) }
        .filter(_._2 >= Similarity.ContamSemTau)
      if (hits.isEmpty) None
      else {
        val (eid, c) = hits.minBy { case (eid, c) => (-c, eid) }
        Some((id, eid, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }.toSet
    val got = Similarity.contaminationSemantic(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(got.nonEmpty, "the threshold must flag something on the real corpus")
    // the eval set itself is never in the flagged output (it is the probe,
    // not the corpus — otherwise every eval row self-flags at cos 1)
    val flagged = got.map(_._1)
    assert(flagged.forall(id => id < Similarity.EvalLo || id >= Similarity.EvalHi))
  }

  test("contamination_semantic: threshold 1-epsilon flags only exact/near-identical vectors (crafted)") {
    // a corpus vector equal to an eval vector must flag at cos ~1 with that
    // eval id even under an extreme threshold; everything else drops
    val got = Similarity.contaminationSemantic(spark, Sf, threshold = 0.999999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    got.foreach { case (_, _, c) => assert(c >= 0.999999) }
  }
}
