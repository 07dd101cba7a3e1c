package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.TempDirs.withTempDir

class AuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"

  test("testdata star schema audits clean, with real cardinalities") {
    val rows = Audit.fkIntegrity(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.size === 7)
    // Clean corpus: zero orphans on every edge, nonzero cardinalities.
    // (Unreferenced parents are informational, not violations: at sf0.001
    // the 10 suppliers cover only 10 of 25 nations.)
    rows.foreach { case (fk, (childRows, distinctKeys, orphans, _)) =>
      assert(orphans === 0L, fk)
      assert(childRows > 0L, fk)
      assert(distinctKeys > 0L && distinctKeys <= childRows, fk)
    }
    assert(rows("supplier.s_nationkey->nation.n_nationkey")._4 === 15L)
    // nation has 25 rows / 25 distinct region-referencing keys? No — 25
    // nations over 5 regions: distinct child keys = 5.
    assert(rows("nation.n_regionkey->region.r_regionkey")._1 === 25L)
    assert(rows("nation.n_regionkey->region.r_regionkey")._2 === 5L)
  }

  test("injected violations are counted: orphans (incl. NULL keys) and unreferenced parents") {
    import spark.implicits._
    val child = Seq(
      (1L, Option(10L)), (2L, Option(10L)), // two rows on a live parent
      (3L, Option(99L)), (4L, Option(99L)), (5L, Option(99L)), // three orphaned rows, one bad key
      (6L, None) // NULL FK = orphan (a join would drop it)
    ).toDF("id", "fk")
    val parent = Seq(10L, 20L, 30L).toDF("pk") // 20 and 30 are never referenced
    val r = Audit.edgeProfileOn(child, "fk", parent, "pk", "child.fk->parent.pk").collect().head
    assert(r.getString(0) === "child.fk->parent.pk")
    assert(r.getLong(1) === 6L) // child_rows
    assert(r.getLong(2) === 2L) // distinct non-null keys: 10, 99
    assert(r.getLong(3) === 4L) // orphan rows: three 99s + the NULL
    assert(r.getLong(4) === 2L) // unreferenced parents: 20, 30
  }

  test("row_quality_gate counts every crafted violation class exactly once") {
    withTempDir("graft-rqg") { tmp =>
      import spark.implicits._
      val dir = tmp.toString
      val ns2024 = 1704067200L * 1000000000L
      // (event_id, ts_ns, user_id, type, value): one clean row + one or two
      // violations per rule, including the NULL forms.
      Seq(
        (1L, Option(ns2024), Option(7L), "click", Option(1.0)), // clean
        (2L, Option(ns2024), Option(0L), "click", Option(1.0)), // user_id = 0
        (3L, Option(ns2024), None: Option[Long], "view", Option(1.0)), // user_id NULL
        (9L, Option(ns2024), Option(-3L), "click", Option(1.0)), // user_id negative
        (4L, Option(ns2024), Option(8L), "click", Option(-0.5)), // negative value
        (5L, Option(ns2024), Option(9L), "purchase", None: Option[Double]), // value NULL
        (6L, Option(ns2024), Option(10L), "bogus", Option(2.0)), // unknown type
        (7L, Option(915148800L * 1000000000L), Option(11L), "click", Option(1.0)), // 1999
        (8L, Option(2082758400L * 1000000000L), Option(12L), "click", Option(1.0)) // 2036
      ).toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = Audit.rowQualityGate(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      // 9 rows total: user rule trips on 0, NULL, and -3 (all three forms).
      assert(got("null_or_nonpositive_user") === ((3L, 9L, 333333L)))
      assert(got("negative_or_null_value") === ((2L, 9L, 222222L)))
      assert(got("unknown_event_type") === ((1L, 9L, 111111L)))
      assert(got("ts_outside_2000_2035") === ((2L, 9L, 222222L)))
    }
  }

  test("bloomSemijoinPrune matches a driver re-derivation of the bloom algebra") {
    import org.apache.spark.sql.functions._
    val row = Audit.bloomSemijoinPrune(spark, Sf).collect() match {
      case Array(r) => r
      case other => fail(s"expected 1 summary row, got ${other.length}")
    }
    // driver reference: same hash family, same self-sizing, plain Scala sets
    val build = graft.Tables.supplier(spark, Sf)
      .join(graft.Tables.nation(spark, Sf), col("s_nationkey") === col("n_nationkey"))
      .join(graft.Tables.region(spark, Sf).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val perKey = graft.Tables.lineitem(spark, Sf)
      .groupBy(col("l_suppkey").cast("long").as("k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = java.lang.Long.highestOneBit(8L * math.max(build.size, 1) - 1) << 1
    def positions(key: Long): Seq[Long] = {
      val h = Hashing.md5LongJvm(key.toString)
      Seq(h % m, (h / m) % m)
    }
    val bits = build.flatMap(positions)
    val cand = perKey.keySet.filter(k => positions(k).forall(bits))
    val tru = perKey.keySet.filter(build)
    assert(row.getAs[Long]("n_build_keys") === build.size.toLong)
    assert(row.getAs[Long]("m_bits") === m)
    assert(row.getAs[Long]("n_bits_set") === bits.size.toLong)
    assert(row.getAs[Long]("n_probe_keys") === perKey.size.toLong)
    assert(row.getAs[Long]("n_candidate_keys") === cand.size.toLong)
    assert(row.getAs[Long]("n_true_keys") === tru.size.toLong)
    assert(row.getAs[Long]("n_fp_keys") === (cand.size - tru.size).toLong)
    assert(row.getAs[Long]("n_rows_pass") === cand.toSeq.map(perKey).sum)
    assert(row.getAs[Long]("n_rows_true") === tru.toSeq.map(perKey).sum)
    // bloom soundness: no false negatives, candidates ⊇ true matches
    assert(tru.subsetOf(cand))
    // the filter actually prunes at this scale (6 of 10 supplier keys die)
    assert(row.getAs[Long]("n_rows_pass") < row.getAs[Long]("n_probe_rows"))
  }

  test("joinCardinalityKmv matches a driver re-derivation of the KMV set algebra") {
    import org.apache.spark.sql.functions._
    val r = Audit.joinCardinalityKmv(spark, Sf).collect()
    assert(r.length === 1)
    val row = r.head
    val (na, nb, nu, ni, uEst, iEst) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
       row.getLong(4), row.getLong(5))
    // driver reference from the raw key sets, same hash + estimator
    val k = TextAnalysis.KmvK
    val ha = graft.Tables.events(spark, Sf).filter(col("user_id").isNotNull)
      .select(col("user_id").cast("string")).distinct()
      .collect().map(x => Hashing.md5LongJvm(x.getString(0))).toSet
    val hb = graft.Tables.customer(spark, Sf)
      .select(col("c_custkey").cast("string")).distinct()
      .collect().map(x => Hashing.md5LongJvm(x.getString(0))).toSet
    assert((na, nb) === ((ha.size.toLong, hb.size.toLong)))
    assert(ni === (ha & hb).size.toLong)
    assert(nu === (ha | hb).size.toLong)
    val sa = ha.toSeq.sorted.take(k).toSet
    val sb = hb.toSeq.sorted.take(k).toSet
    val su = (sa | sb).toSeq.sorted.take(k)
    val wantU = if (su.size < k) su.size.toLong
                else TextAnalysis.KmvNumerator / su.max
    val nBoth = su.count(h => sa(h) && sb(h)).toLong
    assert(uEst === wantU)
    assert(iEst === nBoth * wantU / su.size)
    // estimator sanity: inter bounded by union, exactness in small range
    assert(iEst <= uEst)
    if (su.size < k) { assert(uEst === nu); assert(iEst === ni) }
  }
}
