package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.EventOps

class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"

  test("streaming hourly aggregation equals the batch plan's result") {
    val streamed = StreamingOps.streamingHourly(spark, Sf)
      .collect().map(_.toSeq).toSet
    val batch = EventOps.hourly(spark, Sf)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("production sessionize: incremental emission across micro-batches, timeout close, ordinal continuity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingOps.{Ev, SessionRow}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val min = 60L * 1000000L
    val hour = 60L * min
    val t0 = 1700000000L * 1000000L
    val gapUs = 30L * min
    val name = "graft_stream_sess_mb"
    val source = MemoryStream[Ev]
    val ckpt = graft.LocalDirs.streamingCkpt(name)
    val q = StreamingOps.sessionizeStream(source.toDS(), gapUs)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", ckpt).start()
    def rows() = spark.table(name).as[SessionRow].collect().toSeq
      .sortBy(r => (r.user_id, r.session_id))
    try {
      // Batch 1: one open session for user 1 — nothing may be emitted yet.
      source.addData(Ev(1, 10, t0, 1.5), Ev(1, 11, t0 + 10 * min, 2.25))
      q.processAllAvailable()
      assert(rows().isEmpty)
      // Batch 2: a post-gap event closes session 1 in the DATA path; the
      // new session 2 stays open in state.
      source.addData(Ev(1, 12, t0 + 2 * hour, 0.5))
      q.processAllAvailable()
      assert(rows() === Seq(SessionRow(1, 1, 2, 10, 11, 3.75)))
      // Batch 3: ANOTHER user's far-future event advances the watermark
      // past session 2's gap edge — the event-time TIMEOUT closes it (user
      // 1 has no data in this batch).
      source.addData(Ev(2, 99, t0 + 10 * hour, 0.25))
      q.processAllAvailable()
      assert(rows() === Seq(
        SessionRow(1, 1, 2, 10, 11, 3.75), SessionRow(1, 2, 1, 12, 12, 0.5)))
      // Batch 4+5: user 1 RETURNS after a timeout-closed session — the
      // ordinal continues at 3 (tombstone counter), not back at 1; the
      // next watermark push times it out too.
      source.addData(Ev(1, 13, t0 + 20 * hour, 1.0))
      q.processAllAvailable()
      source.addData(Ev(2, 100, t0 + 40 * hour, 0.0))
      q.processAllAvailable()
      assert(rows() === Seq(
        SessionRow(1, 1, 2, 10, 11, 3.75), SessionRow(1, 2, 1, 12, 12, 0.5),
        SessionRow(1, 3, 1, 13, 13, 1.0), SessionRow(2, 1, 1, 99, 99, 0.25)))
    } finally { q.stop(); graft.LocalDirs.rmTree(ckpt) }
  }

  test("streaming dedup suppresses re-ingested duplicates across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingOps.Doc
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val name = "graft_stream_dedup_mb"
    val source = MemoryStream[Doc]
    val ckpt = graft.LocalDirs.streamingCkpt(name)
    val q = source.toDS()
      .select(org.apache.spark.sql.functions.md5($"text").as("content_hash"))
      .dropDuplicates("content_hash")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", ckpt).start()
    try {
      source.addData(Doc(1, "alpha"), Doc(2, "beta"), Doc(3, "alpha"))
      q.processAllAvailable()
      assert(spark.table(name).count() === 2) // in-batch dup suppressed
      source.addData(Doc(4, "beta"), Doc(5, "gamma")) // cross-batch dup + new
      q.processAllAvailable()
      assert(spark.table(name).count() === 3)
    } finally { q.stop(); graft.LocalDirs.rmTree(ckpt) }
  }

  test("watermarked dedup bounds state: expired hashes are evicted, in-horizon dups suppressed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val name = "graft_stream_dedup_wm"
    // (event-time µs, text); 1-hour dedup horizon — the production form of
    // streamingDedup whose state does NOT grow with the corpus.
    val source = MemoryStream[(Long, String)]
    val ckpt = graft.LocalDirs.streamingCkpt(name)
    val q = source.toDS().toDF("us", "text")
      .withColumn("event_time", timestamp_micros(col("us")))
      .select(col("event_time"), md5(col("text")).as("content_hash"))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", ckpt).start()
    val hr = 3600L * 1000000L
    try {
      // batch 1: two distinct docs + an in-batch dup; watermark → t=2h-1h=1h
      source.addData((1L * hr, "alpha"), (1L * hr, "beta"), (2L * hr, "alpha"))
      q.processAllAvailable()
      assert(spark.table(name).count() === 2, "in-horizon duplicate must be suppressed")
      // batch 2: far future advances the watermark past every stored hash
      source.addData((10L * hr, "gamma"))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"expired dedup state must be evicted (state=$stateRows)")
      // batch 3: "alpha" again, far outside the horizon → re-emitted (the
      // documented watermark-dedup contract: exact within the horizon)
      source.addData((11L * hr, "alpha"))
      q.processAllAvailable()
      assert(spark.table(name).count() === 4)
    } finally { q.stop(); graft.LocalDirs.rmTree(ckpt) }
  }

  test("watermarked dedup (chunked feed, horizon > span) equals batch distinct keys") {
    val streamed = StreamingOps.streamingDedupWatermarked(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.Tables.events(spark, Sf)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup (chunked feed) equals batch distinct hashes") {
    val streamed = StreamingOps.streamingDedup(spark, Sf)
      .collect().map(_.getString(0)).toSet
    val batch = graft.Tables.documents(spark, Sf)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text"))).distinct()
      .collect().map(_.getString(0)).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingOps.streamingIntervalJoin(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = graft.Tables.events(spark, Sf).withColumn("us", expr("ts div 1000"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("us").as("pus"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("us").as("cus"))
    val batch = p.join(c, col("user_id") === col("cu") &&
        col("cus") >= col("pus") - 3600000000L && col("cus") <= col("pus"))
      .select(col("purchase_id"), col("user_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream LEFT OUTER join equals batch; watermark flush drains the null tail") {
    import org.apache.spark.sql.functions._
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))
    val streamed = StreamingOps.streamingJoinOuter(spark, Sf)
      .collect().map(key).toSet
    val ev = graft.Tables.events(spark, Sf).withColumn("us", expr("ts div 1000"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("us").as("pus"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("us").as("cus"))
    val batch = p.join(c, col("user_id") === col("cu") &&
        col("cus") >= col("pus") - 3600000000L && col("cus") <= col("pus"), "left_outer")
      .select(col("purchase_id"), col("user_id"), col("click_id"))
      .collect().map(key).toSet
    assert(streamed === batch)
    // the outer path must actually fire: unmatched purchases emit null
    // click_ids, and they can only have surfaced via the sentinel flush
    // (the corpus tail's purchases are inside the final watermark window)
    assert(streamed.exists(_._3.isEmpty))
    assert(streamed.exists(_._3.nonEmpty))
  }

  test("streaming sessionize (chunked feed) equals the batch sessionize rows") {
    val batch = EventOps.sessionize(spark, Sf)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    // Both arbitrary-state forms: flatMapGroupsWithState and the
    // transformWithState processor (under its pinned RocksDB store).
    for ((form, run) <- Seq(
        "flatMapGroupsWithState" -> (() => StreamingOps.streamingSessionize(spark, Sf)),
        "transformWithState" -> (() => StreamingOps.streamingSessionizeTws(spark, Sf)))) {
      val streamed = run().collect().map(_.toSeq).toSet
      assert(streamed === batch, s"$form sessions diverged from the batch sessionize")
    }
  }

  test("streaming transitions (transformWithState, chunked feed) equal the batch matrix") {
    val streamed = StreamingOps.streamingTransitions(spark, Sf).collect().map(_.toSeq).toSet
    val batch = EventOps.transitions(spark, Sf).collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream FULL OUTER join equals batch; the flush drains both null tails") {
    import org.apache.spark.sql.functions._
    def opt(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    def key(r: org.apache.spark.sql.Row) = (opt(r, 0), opt(r, 1), opt(r, 2))
    val streamed = StreamingOps.streamingJoinFull(spark, Sf).collect().map(key).toSet
    val ev = graft.Tables.events(spark, Sf).withColumn("us", expr("ts div 1000"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("us").as("pus"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("us").as("cus"))
    val batch = p.join(c, col("user_id") === col("cu") &&
        col("cus") >= col("pus") - 3600000000L && col("cus") <= col("pus"), "full_outer")
      .select(col("purchase_id"), coalesce(col("user_id"), col("cu")), col("click_id"))
      .collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.exists(_._1.isEmpty), "unmatched clicks must surface")
    assert(streamed.exists(_._3.isEmpty), "unmatched purchases must surface")
    assert(streamed.exists(r => r._1.nonEmpty && r._3.nonEmpty))
  }

  test("stream-static enrichment equals the batch purchases ⋈ customer ⋈ nation") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val streamed = rows(StreamingOps.streamingEnrich(spark, Sf))
    val batch = rows(graft.Tables.events(spark, Sf).filter(col("event_type") === "purchase")
      .join(graft.Tables.customer(spark, Sf), col("user_id") === col("c_custkey"))
      .join(graft.Tables.nation(spark, Sf), col("c_nationkey") === col("n_nationkey"))
      .select(col("event_id"), col("user_id"), col("c_name"), col("n_name"), col("value")))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("a replay deletes its checkpoint and feeds: no graft-ckpt entry outlives the run") {
    val root = new java.io.File(s"${graft.LocalDirs.scratchRoot}/graft-ckpt")
    def entries(prefix: String) =
      Option(root.list()).getOrElse(Array.empty[String]).filter(_.startsWith(prefix)).toSet
    // The upsert prefix covers the run's checkpoint and its final snapshot
    // (graft_stream_upsert_snap-), which lives in JVM-scoped scratch.
    for ((prefix, run) <- Seq(
        "graft_stream_dedup-" -> (() => StreamingOps.streamingDedup(spark, Sf)),
        "graft_stream_hourly-" -> (() => StreamingOps.streamingHourly(spark, Sf)),
        "graft_stream_upsert" -> (() => StreamingOps.streamingUpsert(spark, Sf)))) {
      val before = entries(prefix)
      assert(run().count() > 0)
      assert(entries(prefix) === before, s"$prefix run left scratch behind")
    }
  }

  test("foreachBatch upsert: chunked-feed snapshot equals the batch latest-per-user") {
    import org.apache.spark.sql.functions._
    val snap = StreamingOps.streamingUpsert(spark, Sf, numChunks = 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000").desc, col("event_id").desc)
    val batch = graft.Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), expr("ts div 1000").as("last_us"), col("value").as("last_value"))
    assert(snap.exceptAll(batch).isEmpty && batch.exceptAll(snap).isEmpty,
      "4-chunk continuous upsert must converge to the batch snapshot")
  }

  test("foreachBatch upsert converges under randomized OUT-OF-ORDER feeds and chunkings") {
    // The latest-wins comparison must make the final snapshot independent
    // of how the feed is split AND of arrival order (the batch-always-newer
    // assumption a naive prefer-update merge would make silently).
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val evs = (1 to 60).map { i =>
        StreamingOps.UpEv(rnd.nextInt(8).toLong, i.toLong,
          rnd.nextInt(1000).toLong, rnd.nextInt(100) / 10.0)
      }
      val shuffled = rnd.shuffle(evs) // deliberately NOT time-ordered
      val got = StreamingOps.streamingUpsertOf(spark, shuffled, numChunks = 2 + rnd.nextInt(3))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = evs.groupBy(_.user_id).map { case (u, es) =>
        val last = es.maxBy(e => (e.us, e.event_id))
        (u, last.us, last.value)
      }.toSet
      assert(got === want, s"seed $seed: chunked out-of-order upsert diverged from batch latest")
    }
  }

  test("stateful family is result-invariant under the RocksDB state store provider") {
    // The default HDFS-backed in-memory state store is exactly what does
    // NOT survive 100 TB-scale state; production stateful streaming runs
    // RocksDB. Same corpus, same operators, provider swapped — every
    // stateful family (flatMapGroupsWithState sessionize, session_window
    // aggregation, dropDuplicatesWithinWatermark, two-sided outer interval
    // join) must reproduce its batch twin exactly. Results must depend on
    // the state CONTENTS, never on which store implementation held them.
    import org.apache.spark.sql.functions._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sess = StreamingOps.streamingSessionize(spark, Sf)
        .collect().map(_.toSeq).toSet
      val sessBatch = EventOps.sessionize(spark, Sf).collect().map(_.toSeq).toSet
      assert(sess === sessBatch, "sessionize diverged under RocksDB")
      assert(sess.nonEmpty)

      val native = StreamingOps.streamingSessionWindow(spark, Sf)
        .collect().map(_.toSeq).toSet
      assert(native.nonEmpty, "session_window produced nothing under RocksDB")

      val dd = StreamingOps.streamingDedupWatermarked(spark, Sf)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val ddBatch = graft.Tables.events(spark, Sf)
        .select(col("user_id"), col("event_type")).distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(dd === ddBatch, "watermarked dedup diverged under RocksDB")

      def ojKey(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))
      val oj = StreamingOps.streamingJoinOuter(spark, Sf).collect().map(ojKey).toSet
      val ev = graft.Tables.events(spark, Sf).withColumn("us", expr("ts div 1000"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("us").as("pus"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("us").as("cus"))
      val ojBatch = p.join(c, col("user_id") === col("cu") &&
          col("cus") >= col("pus") - 3600000000L && col("cus") <= col("pus"), "left_outer")
        .select(col("purchase_id"), col("user_id"), col("click_id"))
        .collect().map(ojKey).toSet
      assert(oj === ojBatch, "outer interval join diverged under RocksDB")
      assert(oj.exists(_._3.isEmpty), "outer null tail must still drain under RocksDB")

      // MERGE equivalence (the snapshot_merge ↔ events_stream_upsert pair):
      // the foreachBatch upsert keeps its state in the published snapshot,
      // not the state store, so provider invariance here proves the MERGE
      // semantics carry no hidden provider dependence end-to-end.
      val up = StreamingOps.streamingUpsert(spark, Sf, numChunks = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(expr("ts div 1000").desc, col("event_id").desc)
      val upBatch = graft.Tables.events(spark, Sf)
        .filter(col("event_type") === "purchase")
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w2))
        .filter(col("rn") === 1)
        .select(col("user_id"), expr("ts div 1000").as("last_us"), col("value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(up === upBatch, "foreachBatch upsert diverged under RocksDB")
    } finally spark.conf.set(key, prev)
  }

  test("watermarked window stream starts and produces a bounded-state plan") {
    val df = StreamingOps.watermarkedWindowCounts(spark, Sf)
    assert(df.isStreaming)
    val q = df.writeStream.outputMode("append").format("memory")
      .queryName("graft_stream_wm_test").start()
    try q.processAllAvailable() finally q.stop()
    // Append mode withholds windows the watermark hasn't passed; with a
    // single batch the watermark only advances at the END of the batch, so
    // row count is ≤ the batch window count — semantics, not a bug.
    val n = spark.table("graft_stream_wm_test").count()
    val batchWindows = EventOps.hourly(spark, Sf).count()
    assert(n <= batchWindows)
  }

  test("checkpoint restart: stateful aggregation resumes exactly-once across a stop/start") {
    // The streaming analog of the F13 fault-tolerance proof: kill a query
    // mid-corpus, restart it from the SAME checkpoint, and verify the
    // resumed query neither loses the pre-crash state (counts would be
    // missing chunk 1) nor reprocesses consumed input (counts would double).
    import org.apache.spark.sql.functions._
    val base = graft.LocalDirs.streamingCkpt("graft_stream_restart")
    val inDir = s"$base/in"
    val ckpt = s"$base/ckpt"
    val clicks = graft.Tables.events(spark, Sf)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value"))
    val schema = clicks.schema
    def counts(table: String) = spark.table(table).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def startQuery(qn: String) = spark.readStream.schema(schema).parquet(inDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
      .writeStream.outputMode("complete").format("memory").queryName(qn)
      .option("checkpointLocation", ckpt).start()

    try {
      clicks.filter(col("event_id") % 2 === 0).write.parquet(inDir)
      val q1 = startQuery("graft_restart_run1")
      try q1.processAllAvailable() finally q1.stop()
      val afterChunk1 = counts("graft_restart_run1")
      assert(afterChunk1.values.sum > 0)

      // New files arrive while the query is DOWN; the restart must pick up
      // exactly these and merge onto the recovered state store.
      clicks.filter(col("event_id") % 2 === 1).write.mode("append").parquet(inDir)
      val q2 = startQuery("graft_restart_run2")
      try q2.processAllAvailable() finally q2.stop()
      val resumed = counts("graft_restart_run2")

      val batch = clicks.groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(resumed === batch)
      assert(resumed !== afterChunk1) // chunk 2 really arrived after the stop
    } finally graft.LocalDirs.rmTree(base)
  }

  test("streaming KMV (chunked feed, watermark-fired windows) equals the batch min-k sketch") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Hashing, TextAnalysis}
    // 3 chunks so at least one hourly window is guaranteed to straddle a
    // chunk boundary — the cross-batch set-union-and-trim merge path.
    val streamed = StreamingOps.streamingKmv(spark, Sf, numChunks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val k = TextAnalysis.KmvK
    val pairs = graft.Tables.events(spark, Sf)
      .filter(col("user_id").isNotNull)
      .select(expr("(ts div 1000) div 3600000000 * 3600000000").as("win_us"),
        Hashing.md5Long(col("user_id").cast("string")).as("h"))
      .distinct()
    val ranked = pairs
      .withColumn("rn", row_number().over(Window.partitionBy("win_us").orderBy("h")))
      .filter(col("rn") <= k)
    val batch = ranked.groupBy("win_us")
      .agg(count(lit(1)).as("n"), max(col("h")).as("kth"))
      .select(col("win_us"), col("n"),
        when(col("n") < k, col("n"))
          .otherwise(expr(s"${TextAnalysis.KmvNumerator}L div kth")).cast("long").as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // Exactly-once window close: one row per window, no sentinel leak.
    assert(streamed.map(_._1).size === streamed.size)
    // Small-range rule engaged somewhere (sf0.001 hours hold < k users) —
    // there the sketch IS exact.
    assert(streamed.exists { case (_, n, est) => n < k && n === est })
  }

  test("streaming HLL (chunked feed) equals the batch register math; merge is chunk-order-proof") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Hashing, TextAnalysis}
    val m = TextAnalysis.HllM
    // 3 chunks: at least one window's registers merge across batches.
    val streamed = StreamingOps.streamingHll(spark, Sf, numChunks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver-side reference: identical register math from the raw ids
    val raw = graft.Tables.events(spark, Sf)
      .filter(col("event_id").isNotNull)
      .select(expr("(ts div 1000) div 3600000000 * 3600000000").as("w"),
        col("event_id").cast("string"))
      .collect().map(r => (r.getLong(0), Hashing.md5LongJvm(r.getString(1))))
    val batch = raw.groupBy(_._1).map { case (w, rows) =>
      val regs = rows.groupBy(x => x._2 % m).map { case (_, xs) =>
        xs.map { x =>
          val v = x._2 / m
          if (v == 0) TextAnalysis.HllRhoMax.toLong
          else math.min(java.lang.Long.numberOfTrailingZeros(v) + 1L, TextAnalysis.HllRhoMax.toLong)
        }.max
      }
      val z = (m - regs.size) * (1L << 45) + regs.map(r => 1L << (45 - r)).sum
      (w, regs.size.toLong, TextAnalysis.HllNumerator / z)
    }.toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // one row per window: every timer fired exactly once, no sentinel leak
    assert(streamed.map(_._1).size === streamed.size)
  }

  test("streaming CMS (chunked feed) equals the batch sketch probe cells; JVM md5 twin matches Catalyst") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Hashing, TextAnalysis}
    val depth = TextAnalysis.CmsDepth
    val width = TextAnalysis.CmsWidth
    // The driver-side hash twin must agree with the Column expression the
    // scan projection uses — one divergent bucket would shift a counter.
    val samples = (0 until depth).flatMap(d => StreamingOps.CmsProbeUsers.map(u => s"$d:$u"))
    import spark.implicits._
    val catalyst = samples.toDF("s").select(Hashing.md5Long(col("s")))
      .collect().map(_.getLong(0))
    assert(catalyst.toSeq === samples.map(Hashing.md5LongJvm))
    // 3 chunks: cross-batch counter accumulation on boundary windows.
    val streamed = StreamingOps.streamingCms(spark, Sf, numChunks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Batch twin: per-(window, user) counts -> cells -> min over depth,
    // absent cells reading zero.
    val pu = graft.Tables.events(spark, Sf)
      .filter(col("user_id").isNotNull)
      .groupBy(expr("(ts div 1000) div 3600000000 * 3600000000").as("win_us"),
        col("user_id").cast("string").as("u"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
    val cells = scala.collection.mutable.Map.empty[(Long, Int, Int), Long]
    pu.foreach { case ((win, u), cnt) =>
      (0 until depth).foreach { d =>
        val b = (Hashing.md5LongJvm(s"$d:$u") % width).toInt
        cells((win, d, b)) = cells.getOrElse((win, d, b), 0L) + cnt
      }
    }
    val wins = pu.map(_._1._1).distinct
    val batch = (for {
      win <- wins
      u <- StreamingOps.CmsProbeUsers
    } yield {
      val est = (0 until depth).map { d =>
        cells.getOrElse((win, d, (Hashing.md5LongJvm(s"$d:$u") % width).toInt), 0L)
      }.min
      (win, u, est)
    }).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // CMS never underestimates: probe estimate >= the probe's true count.
    val truth = pu.collect { case ((win, u), cnt) => (win, u) -> cnt }.toMap
    assert(streamed.forall { case (win, u, est) =>
      est >= truth.getOrElse((win, u.toString), 0L) })
  }

  test("feed cache contract: distinct keys isolate; a colliding key replays the FIRST-staged master") {
    import spark.implicits._
    // The cache's documented contract is that the key DETERMINES the staged
    // frame's content. This spec makes the contract enforced, not just
    // documented: distinct keys must stage their own frames, and a key
    // collision must (by design) hand back the first-staged master — the
    // failure mode a call site with an under-specified key would hit.
    val df1 = Seq((1L, 10L), (2L, 20L)).toDF("id", "us")
    val df2 = Seq((3L, 30L), (4L, 40L), (5L, 50L)).toDF("id", "us")
    def runDir() =
      s"${graft.LocalDirs.scratchRoot}/graft-io/feedspec-${java.util.UUID.randomUUID}"
    def idsOf(feed: StreamingOps.ChunkFeed): Set[Long] =
      spark.read.parquet(feed.chunks.flatten.map(_.getAbsolutePath): _*)
        .select("id").collect().map(_.getLong(0)).toSet
    val salt = java.util.UUID.randomUUID.toString // keys fresh per suite run
    val fA = StreamingOps.stageTimeChunksCached(df1, "us", 2, runDir(), s"spec-$salt-A")
    val fB = StreamingOps.stageTimeChunksCached(df2, "us", 2, runDir(), s"spec-$salt-B")
    assert(idsOf(fA) === Set(1L, 2L), "key A must stage df1")
    assert(idsOf(fB) === Set(3L, 4L, 5L), "distinct key B must stage df2, not reuse A")
    // Colliding key, different frame: the master wins — replaying df1.
    val fC = StreamingOps.stageTimeChunksCached(df2, "us", 2, runDir(), s"spec-$salt-A")
    assert(idsOf(fC) === Set(1L, 2L),
      "a colliding key must replay the first-staged master (the contract call sites must respect)")
    // Per-run physical isolation: deleting run A's links must not disturb
    // run C's view of the shared master (hardlinks, not shared paths).
    fA.chunks.flatten.foreach(f => f.delete(): Unit)
    assert(idsOf(fC) === Set(1L, 2L), "hardlinked runs must be physically independent")
    // Sentinel cache: same contract.
    val s1 = StreamingOps.stageSentinelCached(
      Seq((-1L, 99L)).toDF("id", "us"), runDir(), s"spec-$salt-sent")
    val s2 = StreamingOps.stageSentinelCached(
      Seq((-2L, 77L)).toDF("id", "us"), runDir(), s"spec-$salt-sent")
    def sentIds(fs: Seq[java.io.File]) =
      spark.read.parquet(fs.map(_.getAbsolutePath): _*)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(sentIds(s1) === Set(-1L))
    assert(sentIds(s2) === Set(-1L), "colliding sentinel key must replay the master")
  }
}
