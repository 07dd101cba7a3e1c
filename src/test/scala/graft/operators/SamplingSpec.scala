package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.TempDirs.withTempDir

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"

  test("weightedSample: saturation keeps long docs surely; the kept set is the threshold predicate") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, Sf)
      .select(col("doc_id"), col("n_chars"),
        (Hashing.md5Long(col("doc_id").cast("string")) % Sampling.WeightMod).as("coin"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val kept = Sampling.weightedSample(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    docs.foreach { case (id, nChars, coin) =>
      val threshold =
        Sampling.WeightMod * math.min(nChars, Sampling.WeightTau) / Sampling.WeightTau
      assert(kept.contains(id) === (coin < threshold),
        s"doc $id membership disagrees with its hash coin")
      kept.get(id).foreach(t => assert(t === threshold))
      if (nChars >= Sampling.WeightTau)
        assert(kept.contains(id), s"saturated doc $id (n_chars=$nChars) must be kept")
    }
    // the sample is a real subsample: some docs in, some out
    assert(kept.nonEmpty && kept.size < docs.length)
    // determinism: a second evaluation draws the identical set
    assert(Sampling.weightedSample(spark, Sf).collect()
      .map(_.getLong(0)).toSet === kept.keySet)
  }

  test("pack_sequences: offsets are exact per-source prefix sums, bins follow from offsets") {
    val rows = Sampling.packSequences(spark, Sf).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // driver-side ground truth: scanLeft over (source, doc_id)-sorted tokens
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._2)
      val expectedOffsets = sorted.map(_._3).scanLeft(0L)(_ + _).init
      assert(sorted.map(_._4).toSeq === expectedOffsets.toSeq)
      sorted.foreach { case (_, _, _, off, bin) =>
        assert(bin === off / Sampling.PackBinTokens)
      }
      // packing order means bins never decrease within a source
      assert(sorted.map(_._5).toSeq === sorted.map(_._5).sorted.toSeq)
      assert(sorted.head._4 === 0L, "first doc of a source starts at offset 0")
    }
    assert(rows.map(_._5).max >= 1, "corpus should fill more than one bin")
  }

  test("trainingMixTemperature flattens the language mix toward low-resource langs") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, Sf)
    val total = docs.count().toDouble
    val nEn = docs.filter(col("lang") === "en").count().toDouble
    val drawn = Sampling.trainingMixTemperature(spark, Sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val perLang = drawn.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perLang.keySet === Set("en", "de", "es", "fr", "zh"),
      "every language keeps presence in the mix")
    // α=0.5 must pull en's share BELOW its flat (proportional) share
    val enShare = perLang("en").toDouble / drawn.length
    assert(enShare < nEn / total, s"temperature must flatten: en $enShare vs flat ${nEn / total}")
    drawn.foreach { case (_, rn, quota) => assert(rn <= quota) }
  }

  test("zorder_layout: BOTH key ranges narrow per bucket, unlike a single-column sort") {
    import org.apache.spark.sql.functions._
    val z = Sampling.zorderLayout(spark, Sf).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    def avg(xs: Seq[Long]) = xs.sum.toDouble / xs.size
    val zPartSpan = avg(z.map(t => t._2 - t._1).toSeq)
    val zSuppSpan = avg(z.map(t => t._4 - t._3).toSeq)
    // the contrast layout: same bucket count, clustered by partkey ALONE
    val li = graft.Tables.lineitem(spark, Sf).select(col("l_partkey"), col("l_suppkey"))
    val mp = li.agg(max(col("l_partkey"))).collect()(0).getLong(0)
    val ms = li.agg(max(col("l_suppkey"))).collect()(0).getLong(0)
    val sorted = li
      .groupBy(expr(s"((l_partkey - 1) * ${Sampling.ZBuckets}) div $mp").as("bucket"))
      .agg(min(col("l_suppkey")).as("lo"), max(col("l_suppkey")).as("hi"))
      .collect().map(r => r.getLong(2) - r.getLong(1))
    val sortedSuppSpan = avg(sorted.toSeq)
    // z-order: each bucket covers ~1/sqrt(64) of each dimension
    assert(zPartSpan < mp / 4.0, s"partkey span $zPartSpan must stay narrow")
    assert(zSuppSpan < ms / 4.0, s"suppkey span $zSuppSpan must stay narrow")
    // the sorted layout leaves the second dimension unprunable (~full range)
    assert(zSuppSpan < 0.3 * sortedSuppSpan,
      s"z-order suppkey span $zSuppSpan vs sorted layout $sortedSuppSpan")
  }

  test("shard_manifest: fingerprint flips on one changed doc and XOR-merges across deliveries") {
    withTempDir("graft-man-") { tmp =>
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, length, lit}
      def write(dir: String, docs: Seq[(Long, String)]): String = {
        docs.toDF("doc_id", "text")
          .withColumn("lang", lit("en")).withColumn("source", lit("t"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
        dir
      }
      def manifest(dir: String): Map[Long, (Long, Long)] =
        Sampling.shardManifest(spark, dir).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(5))).toMap
      val base = (1L to 40L).map(i => i -> s"document number $i body")
      val a = manifest(write(
        java.nio.file.Files.createTempDirectory(tmp, "a").toString, base))
      // One changed document: exactly that doc's shard fingerprint flips.
      val changed = base.map { case (i, t) => if (i == 7L) i -> (t + " EDITED") else i -> t }
      val b = manifest(write(
        java.nio.file.Files.createTempDirectory(tmp, "b").toString, changed))
      val editedShard = Sampling.shardAssign(spark,
        write(java.nio.file.Files.createTempDirectory(tmp, "c").toString, base))
        .filter(col("doc_id") === 7L).head.getLong(1)
      for ((shard, (n, fp)) <- a) {
        assert(b(shard)._1 === n, s"shard $shard row count must not change")
        if (shard == editedShard) assert(b(shard)._2 !== fp, "edited shard fingerprint must flip")
        else assert(b(shard)._2 === fp, s"untouched shard $shard fingerprint must hold")
      }
      // Mergeability: manifest(first ∪ second) = per-shard XOR of the parts —
      // the property that lets 100 TB deliveries verify incrementally.
      val part1 = base.take(25)
      val part2 = base.drop(25)
      val m1 = manifest(write(java.nio.file.Files.createTempDirectory(tmp, "1").toString, part1))
      val m2 = manifest(write(java.nio.file.Files.createTempDirectory(tmp, "2").toString, part2))
      for ((shard, (n, fp)) <- a) {
        val (n1, f1) = m1.getOrElse(shard, (0L, 0L))
        val (n2, f2) = m2.getOrElse(shard, (0L, 0L))
        assert(n1 + n2 === n, s"shard $shard counts must add")
        assert((f1 ^ f2) === fp, s"shard $shard fingerprints must XOR-merge")
      }
    }
  }

  test("compactionPlan: start-offset binning is exact and covers every shard once") {
    import org.apache.spark.sql.functions._
    val target = 30000L
    val rows = Sampling.compactionPlan(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val manifest = Sampling.shardManifest(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.map(_._1).toSet === manifest.keySet, "every shard planned exactly once")
    // Re-derive the binning driver-side from the manifest alone.
    val ordered = manifest.toSeq.map { case (s, (n, c)) => (s, n, c) }
      .sortBy { case (s, _, c) => (-c, s) }
    var cum = 0L
    val expected = ordered.map { case (s, _, c) =>
      val bin = cum / target; cum += c; s -> bin
    }.toMap
    for ((shard, _, _, bin) <- rows)
      assert(bin === expected(shard), s"shard $shard bin mismatch")
    // bins are contiguous from 0 (no empty output file in the plan)
    val bins = rows.map(_._4).toSet
    assert(bins === (0L until bins.size).toSet, s"bins must be contiguous: $bins")
  }

  test("zonemapPrune: hash layout never prunes, range is one-sided, zorder prunes both dims") {
    val rows = Sampling.zonemapPrune(spark, Sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(5)))
      .groupBy(_._1).view.mapValues(v => v.map(_._2).max).toMap
    // hash: every file spans the whole domain — every probe scans everything
    assert(rows(("hash", "partkey")) === 1000000L)
    assert(rows(("hash", "suppkey")) === 1000000L)
    // range on its sort column: strictly better than zorder on that column…
    assert(rows(("range", "partkey")) < rows(("zorder", "partkey")))
    // …but blind on the other column, where zorder still prunes
    assert(rows(("range", "suppkey")) === 1000000L)
    assert(rows(("zorder", "partkey")) < 1000000L)
    assert(rows(("zorder", "suppkey")) < 1000000L)
  }

  test("pack_chunks: fragments tile the concatenated stream — full bins, exact doc partitions, boundary cuts") {
    val w = Sampling.PackBinTokens
    val rows = Sampling.packChunks(spark, Sf).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // per doc: fragments are contiguous, start at 0, and partition [0, n)
    rows.groupBy(t => (t._1, t._2)).foreach { case ((_, id), frs) =>
      val sorted = frs.sortBy(_._3)
      assert(sorted.head._4 === 0L, s"doc $id first fragment must start at token 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 === b._4, s"doc $id fragments not contiguous")
          assert(b._3 === a._3 + 1, s"doc $id fragments skip a bin")
        case _ =>
      }
      sorted.foreach(f => assert(f._5 > f._4, s"doc $id empty fragment"))
    }
    // per source: every bin except the last holds EXACTLY binTokens tokens
    rows.groupBy(_._1).foreach { case (src, frs) =>
      val perBin = frs.groupBy(_._3).view
        .mapValues(_.map(f => f._5 - f._4).sum).toMap
      val lastBin = perBin.keys.max
      val total = frs.map(f => f._5 - f._4).sum
      perBin.foreach { case (bin, tokens) =>
        if (bin < lastBin) assert(tokens === w, s"$src bin $bin holds $tokens, want $w")
      }
      assert(perBin(lastBin) === (if (total % w == 0) w.toLong else total % w))
    }
    // boundary-cut identity: tok_start > 0 ⟺ the fragment starts its bin,
    // i.e. global position off + tok_start = bin_id·w. Recompute offsets.
    val bySrc = rows.groupBy(_._1)
    bySrc.foreach { case (_, frs) =>
      val docLen = frs.groupBy(_._2).view.mapValues(_.map(f => f._5 - f._4).sum).toMap
      val offs = docLen.toSeq.sortBy(_._1)
        .scanLeft((0L, 0L)) { case ((_, acc), (id, n)) => (id, acc + n) }
        .sliding(2).map { case Seq((_, acc), (id, _)) => id -> acc }.toMap
      frs.foreach { case (_, id, bin, st, _) =>
        if (st > 0) assert(offs(id) + st === bin * w,
          s"doc $id fragment at tok $st should open bin $bin exactly")
      }
    }
  }

  test("pack_multimodal: combined-space tiling, full bins, and the image/text split reconciles with the parsed frames") {
    val w = Sampling.PackBinTokens
    val rows = Sampling.packMultimodal(spark, Sf).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    // driver ground truth per doc: text tokens + parsed-frame image budget
    val docs = graft.Tables.documents(spark, Sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wantImg = docs.map { case (id, text) =>
      id -> (1L + text.getBytes("UTF-8").length % 16) * Sampling.ImgTokens
    }.toMap
    val wantText = docs.map { case (id, text) =>
      id -> "[a-z0-9]+".r.findAllIn(text.toLowerCase).size.toLong
    }.toMap
    // per doc: fragments tile [0, n_total); img/text shares reconcile
    rows.groupBy(_._2).foreach { case (id, frs) =>
      val sorted = frs.sortBy(_._4)
      assert(sorted.head._4 === 0L, s"doc $id must start at combined token 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 === b._4, s"doc $id fragments not contiguous")
        case _ =>
      }
      assert(sorted.last._5 === wantImg(id) + wantText(id),
        s"doc $id fragments must cover the combined token space")
      assert(frs.map(_._6).sum === wantImg(id),
        s"doc $id image-token volume must equal parsed frames x budget")
      assert(frs.map(_._7).sum === wantText(id),
        s"doc $id text-token volume must equal its whitespace token count")
      frs.foreach { case (_, _, _, st, en, img, txt) =>
        assert(img + txt === en - st, s"doc $id fragment split must sum to its span")
        assert(img >= 0 && txt >= 0)
        // layout contract: frames first — a fragment past the image block
        // carries no image tokens, one inside it is all image
        if (st >= wantImg(id)) assert(img === 0L)
        if (en <= wantImg(id)) assert(txt === 0L)
      }
    }
    // per source: every bin except the last is exactly full — zero padding
    rows.groupBy(_._1).foreach { case (src, frs) =>
      val perBin = frs.groupBy(_._3).view
        .mapValues(_.map(f => f._5 - f._4).sum).toMap
      val lastBin = perBin.keys.max
      perBin.foreach { case (bin, tokens) =>
        if (bin < lastBin) assert(tokens === w, s"$src bin $bin holds $tokens, want $w")
      }
    }
  }

  test("dsirSelect: target-vocabulary docs outscore off-target ones, mixed in between, top-k picks them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    // Target slice speaks vocabulary A; off-target raw docs speak B; one
    // raw doc mixes the two. Importance scoring must order A > mixed > B.
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "omega sigma tau rho kappa lambda"
    val docs = (
      (1L to 5L).map(i => (i, s"$a $a", "en")) ++          // the target model
        (11L to 14L).map(i => (i, s"$a $a", "xx")) ++      // raw, target-like
        Seq((20L, s"$a $b", "xx")) ++                      // raw, mixed
        (31L to 34L).map(i => (i, s"$b $b", "xx"))         // raw, off-target
      ).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val all = Sampling.dsirSelectOfDocs(docs, "en", k = 14).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val aScores = (11L to 14L).map(all)
    val bScores = (31L to 34L).map(all)
    assert(aScores.min > all(20L) && all(20L) > bScores.max,
      s"expected A > mixed > B, got A=$aScores mixed=${all(20L)} B=$bScores")
    // target docs themselves score like the target-like raws (same text)
    assert(all(1L) === all(11L))
    // a tight top-k draws only target-like docs, never the off-target ones
    val top = Sampling.dsirSelectOfDocs(docs, "en", k = 9).collect()
      .map(_.getLong(0)).toSet
    assert(top === ((1L to 5L) ++ (11L to 14L)).toSet)
    // determinism: a second evaluation yields the identical selection
    val again = Sampling.dsirSelectOfDocs(docs, "en", k = 14).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again === all)
  }
}
