package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.TempDirs.withTempDir

/** Crafted-golden coverage for the attribution family: the sf testdata is
  * oracle-checked end-to-end, but its matched sets are mostly 1–2 touches —
  * the U-shape's middle-split branch and the window boundary need inputs
  * built to hit them. */
class EventOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val T = 1700000000000000L // anchor instant, epoch µs

  /** Write a crafted events table under `tmp`; rows are (event_id, us, user_id, type, value). */
  private def writeEvents(tmp: java.nio.file.Path, rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(tmp, "attr").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", col("us") * 1000L) // canonical int64 ns layout
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("U-shape attribution: 1/2/3/4-touch weights, window boundary, no-touch exclusion") {
    withTempDir("graft-attr") { tmp =>
      val min = 60L * 1000000L
      val dir = writeEvents(tmp, Seq(
        // user 100: 3 touches → 40/20/40 of 10.0
        (1L, T, 100L, "purchase", 10.0),
        (11L, T - 30 * min, 100L, "click", 0.0),
        (12L, T - 10 * min, 100L, "click", 0.0),
        (13L, T - 5 * min, 100L, "click", 0.0),
        // user 200: single touch → full 8.0
        (2L, T, 200L, "purchase", 8.0),
        (21L, T - min, 200L, "click", 0.0),
        // user 300: 2 touches → 50/50 of 6.0
        (3L, T, 300L, "purchase", 6.0),
        (31L, T - 50 * min, 300L, "click", 0.0),
        (32L, T - 20 * min, 300L, "click", 0.0),
        // user 400: 4 touches → 40/10/10/40 of 5.0
        (4L, T, 400L, "purchase", 5.0),
        (41L, T - 40 * min, 400L, "click", 0.0),
        (42L, T - 30 * min, 400L, "click", 0.0),
        (43L, T - 20 * min, 400L, "click", 0.0),
        (44L, T - 10 * min, 400L, "click", 0.0),
        // user 500: only click is OUTSIDE the hour window → purchase excluded
        (5L, T, 500L, "purchase", 9.0),
        (51L, T - 120 * min, 500L, "click", 0.0),
        // user 600: click EXACTLY at the -1h boundary is included (>=)
        (6L, T, 600L, "purchase", 2.0),
        (61L, T - 60 * min, 600L, "click", 0.0)))
      val got = EventOps.attributionPosition(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2)) ->
          (r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
      assert(got.size === 11, s"expected 11 attributed touches, got ${got.keySet}")
      assert(!got.keys.exists(_._1 == 5L), "out-of-window purchase must be excluded")
      // 3 touches: first/last 4.0, middle 2.0
      assert(got((1L, 11L)) === ((3L, 1L, 4.0)))
      assert(got((1L, 12L)) === ((3L, 2L, 2.0)))
      assert(got((1L, 13L)) === ((3L, 3L, 4.0)))
      // 1 touch: everything
      assert(got((2L, 21L)) === ((1L, 1L, 8.0)))
      // 2 touches: 50/50
      assert(got((3L, 31L)) === ((2L, 1L, 3.0)))
      assert(got((3L, 32L)) === ((2L, 2L, 3.0)))
      // 4 touches: 2.0 / 0.5 / 0.5 / 2.0
      assert(got((4L, 41L)) === ((4L, 1L, 2.0)))
      assert(got((4L, 42L)) === ((4L, 2L, 0.5)))
      assert(got((4L, 43L)) === ((4L, 3L, 0.5)))
      assert(got((4L, 44L)) === ((4L, 4L, 2.0)))
      // boundary click at exactly -1h attributes fully
      assert(got((6L, 61L)) === ((1L, 1L, 2.0)))
      // Weights per purchase must sum to the purchase value (conservation).
      val sums = got.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._3).sum).toMap
      assert(sums === Map(1L -> 10.0, 2L -> 8.0, 3L -> 6.0, 4L -> 5.0, 6L -> 2.0))
    }
  }

  test("linear and U-shape attribution agree on 1- and 2-touch purchases") {
    withTempDir("graft-attr") { tmp =>
      val min = 60L * 1000000L
      val dir = writeEvents(tmp, Seq(
        (1L, T, 100L, "purchase", 7.0),
        (11L, T - min, 100L, "click", 0.0),
        (2L, T, 200L, "purchase", 4.0),
        (21L, T - 2 * min, 200L, "click", 0.0),
        (22L, T - min, 200L, "click", 0.0)))
      def byKey(df: org.apache.spark.sql.DataFrame) = df
        .select("purchase_id", "click_id", "attributed").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val linear = byKey(EventOps.attribution(spark, dir))
      val ushape = byKey(EventOps.attributionPosition(spark, dir))
      assert(linear === ushape, "n<=2 is the degenerate case where both models coincide")
    }
  }

  test("ewma: constant series locks to the constant; a spike decays by exact halves; gaps pull the baseline") {
    import spark.implicits._
    // type A: constant 6/hour for 40 hours; type B: one 1024-count spike
    // at hour 100 then silence for 25 hours (zeros are real observations).
    val counts =
      (0L until 40L).map(h => ("A", h, 6L)) ++
      Seq(("B", 100L, 1024L)) ++ Seq(("B", 125L, 2L))
    val got = EventOps.ewmaOfCounts(counts.toDF("event_type", "h", "n")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 3600) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // constant series, full window (t >= 20): EWMA == the constant exactly
    (20L until 40L).foreach { t =>
      assert(got(("A", t))._2 === 6000L, s"A@$t")
      assert(got(("A", t))._3 === 1000L, "actual/baseline == 1 for a flat series")
    }
    // spike decay: the numerator halves per hour; the window is partial
    // until d = 20 (no observations exist before the series start), so the
    // normalizer is 2^21 - 2^(20-d): ewma(100+d) = 1024·2^(20-d)·1000 div it
    val wsum = (1L << 21) - 1
    (0L to 20L).foreach { d =>
      val wd = (1L << 21) - (1L << (20 - d).toInt)
      val expect = 1024L * (1L << (20 - d).toInt) * 1000L / wd
      assert(got(("B", 100L + d))._2 === expect, s"B@${100 + d}")
    }
    // after the spike leaves the window the baseline is back to ~zero,
    // and the hour-125 burst of 2 reads as a large ratio
    assert(got(("B", 124L))._2 === 0L)
    assert(got(("B", 125L))._3 === 2L * 1000000L / math.max(2L * 1000L * (1L << 20) / wsum, 1L))
  }

  test("ewma is exact past the old int64 wrap bound (the oracle-blind overflow)") {
    import spark.implicits._
    // x = 5e12 events/hour: the weighted sum s = x·(2^21−1) ≈ 1.05e19
    // EXCEEDS Long.MaxValue (9.22e18) — before the round-10 DECIMAL(38,0)
    // widening, s (and s·1000) wrapped silently in non-ANSI Spark and the
    // old int64 oracle computed the SAME wrapped value, so the hash check
    // was blind to it. A constant series makes the exact answer trivial:
    // ewma == x at every full-window hour, ratio exactly 1000.
    val x = 5_000_000_000_000L
    assert(BigInt(x) * ((1L << 21) - 1) > BigInt(Long.MaxValue),
      "the crafted volume must actually exceed the old intermediate bound")
    val counts = (0L until 25L).map(h => ("big", h, x))
    val got = EventOps.ewmaOfCounts(counts.toDF("event_type", "h", "n")).collect()
      .map(r => r.getLong(1) / 3600 -> ((r.getLong(3), r.getLong(4)))).toMap
    (20L until 25L).foreach { t =>
      assert(got(t)._1 === x * 1000L, s"ewma_milli@$t must be exactly x·1000")
      assert(got(t)._2 === 1000L, s"ratio_permille@$t must be exactly 1")
    }
    // partial-window hours are exact too: s/wsum with no wrap anywhere
    (0L until 20L).foreach { t =>
      assert(got(t)._1 === x * 1000L, s"constant series: partial window still locks@$t")
    }
  }

  test("ewma equals a driver recomputation on the real sf0.001 corpus") {
    val counts = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(expr("((ts - pmod(ts, 3600000000000)) div 3600000000000)").as("h"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    val want = counts.groupBy(_._1).toSeq.flatMap { case (et, rows) =>
      val byH = rows.map(r => r._2 -> r._3).toMap
      val (h0, h1) = (byH.keys.min, byH.keys.max)
      (h0 to h1).map { t =>
        var s = 0L; var w = 0L
        (0 to EventOps.EwmaHorizon).foreach { k =>
          val src = t - k
          if (src >= h0) { val wk = 1L << (EventOps.EwmaHorizon - k); w += wk
            s += byH.getOrElse(src, 0L) * wk }
        }
        val x = byH.getOrElse(t, 0L)
        val em = s * 1000L / w
        (et, t * 3600L, x, em, x * 1000000L / math.max(em, 1L))
      }
    }.toSet
    val got = EventOps.ewma(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }
}
