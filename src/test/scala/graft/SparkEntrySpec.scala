package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.resolve`, the one query-name parser behind Bench's
  * SPARK_GRAFT_BENCH_ONLY, Verify's filter argument, Probe, Explain and
  * PrintSql. */
class SparkEntrySpec extends AnyFunSuite {

  test("resolve: ALL is the sorted registry, lists are trimmed, unknown names all reported") {
    val all = SparkEntry.resolve("ALL")
    assert(all.size === 194)
    assert(all === SparkEntry.queries.keys.toSeq.sorted)
    assert(all.toSet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.resolve(" q1_agg , ,fk_integrity,, ") === Seq("q1_agg", "fk_integrity"))
    assert(SparkEntry.resolve("") === Seq.empty)
    val e = intercept[IllegalArgumentException](
      SparkEntry.resolve("q1_agg,q1_agh, fk_integrity ,no_such_query"))
    assert(e.getMessage.contains("q1_agh") && e.getMessage.contains("no_such_query"), e.getMessage)
    assert(!e.getMessage.contains("fk_integrity"), e.getMessage)
  }

  test("a misspelt SPARK_GRAFT_BENCH_ONLY-style list is rejected before any query runs") {
    val spark = SparkTestSession.spark
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // Bench resolves its list before it builds its session; a bad entry
      // fails the whole list rather than measuring a smaller subset.
      intercept[IllegalArgumentException](SparkEntry.resolve("q1_agg,q3_topkk"))
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark)
      assert(jobs.get === 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
