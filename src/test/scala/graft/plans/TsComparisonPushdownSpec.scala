package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}
import graft.TempDirs.withTempDir

/** The pushdown rule must be EXACTLY the identity on results: it rewrites
  * `normalized-ts cmp literal` onto the raw parquet column, and any
  * off-by-one in the integer floor/ceil inversions would silently include
  * or drop boundary rows. Values are chosen adversarially: exact multiples
  * of 1000 (the k | L branch), ±1 neighbors (k ∤ L), and pre-1970
  * negatives (where truncating division would differ from floor).
  */
class TsComparisonPushdownSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // µs instants; ns twins are these ×1000. Includes negatives and ±1 edges.
  private val micros = Seq(-2000001L, -2000000L, -1999999L, -1L, 0L, 1L,
    999L, 1000L, 1001L, 5000000L, 5000001L, 1704844800000000L)

  /** Runs `body` on the events table of these instants, written into a
    * scratch dir. */
  private def withEvents[A](body: DataFrame => A): A = withTempDir("graft-tspush") { d =>
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      .withColumn("user_id", lit(1L)).withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    body(Tables.events(spark, d.toString))
  }

  // Cutoffs in ns, hitting exact-multiple and non-multiple cases.
  private val cutoffsNs = Seq(-2000000000000L, -1999999000L - 1L, -1L, 0L, 1L,
    999000L, 1000000L, 1000001L, 5000000000000L, 5000000001000L - 1L,
    1704844800000000000L)

  for (c <- cutoffsNs) {
    test(s"all four comparisons agree with driver-side evaluation at cutoff $c") {
      withEvents { events =>
        val nsById = micros.zipWithIndex.map { case (us, i) => i.toLong -> us * 1000L }.toMap
        def got(df: DataFrame): Set[Long] =
          df.select("event_id").collect().map(_.getLong(0)).toSet
        assert(got(events.filter(col("ts") < c)) === nsById.filter(_._2 < c).keySet, "<")
        assert(got(events.filter(col("ts") <= c)) === nsById.filter(_._2 <= c).keySet, "<=")
        assert(got(events.filter(col("ts") > c)) === nsById.filter(_._2 > c).keySet, ">")
        assert(got(events.filter(col("ts") >= c)) === nsById.filter(_._2 >= c).keySet, ">=")
        // literal-on-left mirror
        assert(got(events.filter(lit(c) > col("ts"))) === nsById.filter(_._2 < c).keySet, "lit >")
        assert(got(events.filter(lit(c) <= col("ts"))) === nsById.filter(_._2 >= c).keySet, "lit <=")
      }
    }
  }

  test("the rewritten predicate reaches PushedFilters on the raw parquet column") {
    withEvents { events =>
      val p = events.filter(col("ts") < 1000000L)
        .queryExecution.executedPlan.toString
      assert(p.contains("PushedFilters") && p.contains("LessThan(ts"),
        s"ts range predicate must prune at the scan:\n$p")
    }
  }

  test("the rule leaves arbitrary long arithmetic alone (fires only on the ts-norm shape)") {
    // `value_cents * 3 < lit` is user arithmetic, not the loader's
    // unix_micros(cast(...)) normalization: legacy-mode overflow semantics
    // must survive, so the multiply must still be present in the optimized
    // plan (no exact-quotient rewrite) — ADVICE r6 guard.
    val df = spark.range(5).select((col("id") * 3L).as("m")).filter(col("m") < 7L)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("* 3") || opt.contains("3 *"),
      s"non-ts multiply must not be rewritten:\n$opt")
    assert(df.count() === 3L) // 0,3,6 — semantics unchanged
  }

  test("ceilDiv edge: Long.MinValue literal does not wrap (bound stays correct)") {
    // ts >= Long.MinValue must keep ALL rows: the old `floorDiv(l-1,k)+1`
    // spelling wrapped l-1 to Long.MaxValue, inverting the bound.
    withEvents { events =>
      assert(events.filter(col("ts") >= Long.MinValue).count() === micros.size.toLong)
      assert(events.filter(col("ts") < Long.MinValue).count() === 0L)
    }
  }

  test("a range query over normalized ts prunes row groups identically to raw (count parity)") {
    // End-to-end sanity on the REAL testdata: normalized filter result ==
    // the same cutoff applied via a raw timestamp comparison.
    val sf = "/root/testdata/sf0.001"
    val cutUs = 1704844800000000L
    val viaNorm = Tables.events(spark, sf).filter(col("ts") < cutUs * 1000).count()
    val viaRaw = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("ts") < timestamp_micros(lit(cutUs)).cast(TimestampNTZType)).count()
    assert(viaNorm === viaRaw)
  }
}
