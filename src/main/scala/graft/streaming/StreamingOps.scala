package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Exact._

/** Structured Streaming surface: the same event aggregations as
  * [[graft.operators.EventOps]], run through `readStream` so the operator
  * library is streaming-native where it should be.
  *
  * The reference has no streaming surface (SURVEY.md §2.3); this exists
  * because a 100 TB training-data pipeline ingests continuously. Batch and
  * streaming share the aggregation expressions — only the source/sink
  * differ, which is exactly Spark's unified-engine design.
  *
  * Feed discipline: every registered query runs through ONE replay loop,
  * [[replay]]. A demo names its query, its input [[Side]]s (frame, order
  * column, optional sentinel row), its stream transform and the confs it
  * needs; the loop stages each side as time-split parquet chunks
  * ([[stageTimeChunks]], cached per session and hard-linked per run),
  * starts the memory sink on a fresh checkpoint, renames chunk k of every
  * side into its watch dir per micro-batch (the sentinels ride the last
  * drop), stops the query and deletes the run's scratch — feeds and
  * checkpoint alike. The corpus is staged by one distributed Spark write
  * and replayed by file renames, so NO registered pipeline ever
  * materializes rows on the driver (a `collect()`-fed MemoryStream demo
  * would bottleneck at 100× scale even though the operator under test is
  * driver-free). MemoryStream appears only in specs and the spec-only
  * upsert harness, where crafted/out-of-order micro-corpora need per-row
  * control.
  */
object StreamingOps {


  /** Streaming state/offset checkpoints on fast scratch (tmpfs by default,
    * GRAFT_LOCAL_DIR overrides — see [[graft.LocalDirs]]): state-store and
    * offset-log fsyncs were the slowest part of the demo streams on this
    * host's throttled disk. Unique per run — these are throwaway demo
    * checkpoints, not recovery points. */
  private def ckptDir(name: String): String = graft.LocalDirs.streamingCkpt(name)

  /** A staged chunk replay: `watchDir` is the directory the streaming file
    * source watches; `chunks(k)` are the staged parquet part-files of
    * time-chunk k, moved in by [[replay]] one chunk per micro-batch. */
  private[streaming] case class ChunkFeed(watchDir: String,
      chunks: IndexedSeq[Seq[java.io.File]], maxOrder: Option[Long])

  /** Stages `df` as `numChunks` TIME-DISJOINT parquet chunk directories
    * under `baseDir/stage`, ready to be replayed into `baseDir/in` (the
    * watch dir) one chunk per micro-batch.
    *
    * The split points are exact quantiles of `orderCol` (distributed
    * computation; only O(numChunks) scalars reach the driver) and the
    * chunk assignment is a narrow map + one partitioned write — corpus
    * rows NEVER transit the driver, which is the point of this feeder
    * versus a collect()-fed MemoryStream. Chunks are disjoint half-open
    * ranges of `orderCol`, so replaying them in order is a time-ordered
    * ingest: each side's next chunk is strictly above the watermark its
    * previous chunks established, making watermark semantics (session
    * timeouts, join-state eviction, dedup horizons) EXACT over the replay,
    * not best-effort. */
  private def stageTimeChunks(df: DataFrame, orderCol: String, numChunks: Int,
      baseDir: String): ChunkFeed = {
    val stageDir = s"$baseDir/stage"
    val watchDir = s"$baseDir/in"
    new java.io.File(watchDir).mkdirs()
    // relativeError 0 = exact quantiles. orderCol values are epoch-µs/ids
    // well under 2^53, so the double round-trip is exact too. The appended
    // p=1.0 probe returns the column MAX in the SAME distributed pass — the
    // sentinel watermark flushes need it, and the separate agg(max) job
    // each caller previously ran per side was pure fixed overhead on the
    // streaming demos. An empty input yields an empty quantile array →
    // maxOrder = None (the callers' named both-empty failure).
    val probs = ((1 until numChunks).map(_.toDouble / numChunks) :+ 1.0).toArray
    val qs = df.stat.approxQuantile(orderCol, probs, 0.0)
    val (bounds, maxOrder) =
      if (qs.isEmpty) (Array.empty[Double], None)
      else (qs.init, Some(qs.last.toLong))
    val chunkExpr = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(orderCol) > lit(b), 1).otherwise(0)
    }
    df.withColumn("chunk", chunkExpr)
      .write.partitionBy("chunk").mode("overwrite").parquet(stageDir)
    val chunks = (0 until numChunks).map { k =>
      val d = new java.io.File(s"$stageDir/chunk=$k")
      if (d.isDirectory) d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      else Seq.empty[java.io.File]
    }
    ChunkFeed(watchDir, chunks, maxOrder)
  }

  /** Session-scoped staged-feed cache: the demo/bench harness replays the
    * SAME deterministic input per query name, and the bench takes 3–5
    * passes per query — so the quantile pass + partitioned staging write
    * (two Spark jobs per feed per pass, pure fixed overhead) run ONCE per
    * (cacheKey) per JVM and every subsequent run HARDLINKS the master's
    * part-files into its own throwaway feed dirs (a metadata op). The
    * replay itself is untouched: per-run watch dirs stay unique (the file
    * source tracks seen paths), [[replay]] renames only the per-run links
    * and deletes only the per-run tree — the master under
    * [[graft.LocalDirs.jvmScratchRoot]] lives until JVM exit. Keys MUST
    * determine the staged frame's content (table, projection, filter,
    * sfDir, chunking); [[replay]] builds them from the query name, side,
    * sfDir, order column and chunk count. */
  private val stagedMasters =
    new java.util.concurrent.ConcurrentHashMap[String, ChunkFeed]()
  private val masterSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def linkOrCopy(src: java.io.File, dst: java.io.File): java.io.File = {
    dst.getParentFile.mkdirs()
    try java.nio.file.Files.createLink(dst.toPath, src.toPath)
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      // REPLACE_EXISTING: if createLink failed for any reason other than
      // cross-filesystem (e.g. dst already present from a retried run),
      // a plain copy would throw FileAlreadyExistsException instead of
      // falling back cleanly.
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    dst
  }

  private[streaming] def stageTimeChunksCached(df: => DataFrame, orderCol: String,
      numChunks: Int, baseDir: String, cacheKey: String): ChunkFeed = {
    val key = s"$cacheKey|$orderCol|$numChunks"
    val master = stagedMasters.computeIfAbsent(key, _ =>
      stageTimeChunks(df, orderCol, numChunks,
        s"${graft.LocalDirs.jvmScratchRoot}/feed-${masterSeq.getAndIncrement()}"))
    val watchDir = s"$baseDir/in"
    new java.io.File(watchDir).mkdirs()
    val chunks = master.chunks.zipWithIndex.map { case (files, k) =>
      files.map(f => linkOrCopy(f, new java.io.File(s"$baseDir/stage/chunk=$k", f.getName)))
    }
    ChunkFeed(watchDir, chunks, master.maxOrder)
  }

  /** [[stageSentinel]] with the same session cache: sentinel frames are
    * tiny but each previously cost a full coalesce(1) parquet write JOB per
    * run. Content is deterministic given the cache key ([[replay]] folds
    * the sentinel row itself into it). */
  private val sentinelMasters =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[java.io.File]]()

  private[streaming] def stageSentinelCached(df: => DataFrame, dir: String,
      cacheKey: String): Seq[java.io.File] = {
    val master = sentinelMasters.computeIfAbsent(cacheKey, _ =>
      stageSentinel(df,
        s"${graft.LocalDirs.jvmScratchRoot}/sent-${masterSeq.getAndIncrement()}"))
    master.map(f => linkOrCopy(f, new java.io.File(dir, f.getName)))
  }

  /** Stages a sentinel frame as parquet part-files OUTSIDE the watch dir,
    * before the stream starts; [[replay]] renames them in later. Writing
    * the sentinel directly into the watch dir mid-replay (the previous
    * form) raced the trigger loop: the Spark write job takes long enough
    * that the engine's background listing often split the final chunk and
    * its sentinels into two data micro-batches — a whole extra
    * batch+commit cycle of pure overhead (measured on the join demos). A
    * rename is sub-millisecond, so folding the pre-staged files into the
    * last chunk drop reliably lands them in the SAME listing. */
  private def stageSentinel(df: DataFrame, dir: String): Seq[java.io.File] = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
  }

  /** Renames files into a watch dir under a tag (metadata op, no data
    * movement); the file source picks them up on the next trigger. */
  private def dropFiles(watchDir: String, tag: String, files: Seq[java.io.File]): Unit =
    files.foreach { f =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(watchDir, s"$tag-${f.getName}"))
    }

  /** Max event time across the given staged side(s) — read from the feeds'
    * own quantile pass (zero extra jobs), NULL-safely: an empty side has no
    * max ([[ChunkFeed.maxOrder]] = None; a testdata round with no clicks at
    * smoke scale). Sides may individually be empty; only when EVERY side is
    * empty is there no watermark flush target, and that fails with a named
    * message instead of an opaque NullPointerException. */
  private def maxUsOrFail(what: String, feeds: ChunkFeed*): Long = {
    val maxes = feeds.flatMap(_.maxOrder)
    require(maxes.nonEmpty, s"$what: every input side is empty — the sentinel " +
      "watermark flush needs at least one real event time to advance past")
    maxes.max
  }

  /** State-partition count for the streaming demos — local-mode tuning,
    * not semantics: each micro-batch pays a fixed cost per state partition
    * (store open/commit/snapshot) and the demo keyspaces are small, so 4
    * beats the session default (32) and the previous 8; 2 over-serializes.
    * Settled three times at sf0.1: round 9 (15-query family, one window)
    * parts=4 28.8 s, parts=2 29.9 s, parts=2 + changelog 29.8 s; round 13
    * re-confirmed 4; round 14 under join state v3, parts=2 10.5–10.7 s vs
    * 8.01 s summed over the join trio.
    *
    * Every streaming query runs on these partitions with Spark 4's
    * checkpoint file CHECKSUMS (`ChecksumCheckpointFileManager`, twin
    * .checksum file per delta/log write) disabled: these are throwaway
    * unique-per-run checkpoints that are never restarted from, so bit-rot
    * protection buys nothing and doubles the per-commit file count
    * (measured: summed per-batch store commit time ~3-5 s across the 32
    * store instances of a join batch). [[replay]] restores both settings
    * afterwards; a production run keeps checksums on its durable
    * checkpoints. */
  private val StateParts = Seq("spark.sql.shuffle.partitions" -> "4",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

  /** The RocksDB state store: `transformWithState` requires it (multiple
    * column families for named state + timers), so every tws demo pins it
    * for its run — which also makes those the registered queries that
    * exercise the PRODUCTION store on every correctness pass. */
  private val RocksDb = Seq("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Stream-stream joins run with join state format v3 — ONE RocksDB store
    * per partition with virtual column families instead of v2's four — and
    * RocksDB changelog checkpointing, where a commit appends a changelog
    * delta (O(changed keys)) instead of zipping a full snapshot. The
    * streaming family's floor is the per-batch store-commit fan-out: a
    * StreamingQueryListener measured 0.51–0.75 s summed commit per batch
    * across the 16 v2 store instances of a 4-partition join, data or no
    * data, falling to 0.15–0.18 s on steady-state batches with both
    * changes. Round-14 interleaved A/B at sf0.1 (join/full/outer summed):
    * v2 8.77 s, v3 8.29 s, v3 + changelog 8.01 s (−9%). Values are
    * provider-independent — the oracle hash-checks all three join demos. */
  private val JoinStoreV3 = RocksDb ++ Seq(
    "spark.sql.streaming.join.stateFormatVersion" -> "3",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Runs `body` with the given session confs set, restoring them after. */
  private def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One input of a [[replay]]: `df` is staged as time chunks on
    * `orderCol`; `sentinel`, given the max order over all sides, is the
    * row folded into this side's LAST chunk drop — a watermark-advancing
    * flush whose own output the demo filters out. Its fields follow
    * `df`'s columns. */
  private case class Side(df: DataFrame, orderCol: String,
      sentinel: Option[Long => Product] = None)

  /** The replay loop of every streaming query. Stages each side's
    * time-split feed (session-cached, hard-linked per run) and its
    * sentinel, builds `query` over one file-source stream per side, and
    * runs it on a fresh checkpoint under [[StateParts]] plus `confs`:
    * into the memory sink `name` (read it with `spark.table(name)`), or
    * into `foreachBatch` when given. Batch k drops chunk k of every side
    * (the sentinels ride the last), then `feed(k)` (the spec-only
    * MemoryStream harness), then drains with `processAllAvailable`. The
    * run's whole scratch — feeds, sentinels, checkpoint — lives under one
    * dir, deleted once the query stops, success or not. With no sides it
    * is a plain bounded run: `numChunks` drains, nothing staged.
    *
    * Returns the sides' max order (the sentinel base), or Long.MaxValue
    * when no side has a sentinel. */
  private def replay(spark: SparkSession, name: String, sfDir: String, numChunks: Int,
      sides: Seq[Side], confs: Seq[(String, String)] = Nil, outputMode: String = "append",
      foreachBatch: Option[(DataFrame, Long) => Unit] = None, feed: Int => Unit = _ => ())(
      query: Seq[DataFrame] => DataFrame): Long = {
    val run = ckptDir(name)
    try {
      def key(i: Int) = s"$name|$i|$sfDir"
      val feeds = sides.zipWithIndex.map { case (s, i) =>
        stageTimeChunksCached(s.df, s.orderCol, numChunks, s"$run/feed$i", key(i))
      }
      val maxOrder =
        if (sides.exists(_.sentinel.isDefined)) maxUsOrFail(name, feeds: _*) else Long.MaxValue
      val sentinels = sides.zipWithIndex.map { case (s, i) =>
        s.sentinel.toSeq.flatMap { sentinel =>
          val row = sentinel(maxOrder)
          stageSentinelCached(spark.createDataFrame(
            java.util.List.of(Row.fromTuple(row)), s.df.schema), s"$run/sent$i", s"${key(i)}|$row")
        }
      }
      val out = query(sides.zip(feeds).map { case (s, f) =>
        spark.readStream.schema(s.df.schema).parquet(f.watchDir)
      })
      withConfs(spark, StateParts ++ confs: _*) {
        val w = out.writeStream.outputMode(outputMode).option("checkpointLocation", s"$run/ckpt")
        val q = foreachBatch.fold(w.format("memory").queryName(name))(w.foreachBatch(_)).start()
        try (0 until numChunks).foreach { k =>
          feeds.foreach(f => dropFiles(f.watchDir, s"chunk$k", f.chunks(k)))
          if (k == numChunks - 1) // the sentinel flush rides the last batch
            feeds.zip(sentinels).foreach { case (f, sent) => dropFiles(f.watchDir, "sentinel", sent) }
          feed(k)
          q.processAllAvailable()
        } finally q.stop()
      }
      maxOrder
    } finally graft.LocalDirs.rmTree(run)
  }

  /** Hourly per-type counts/sums computed THROUGH the streaming engine:
    * parquet file-stream source → stateful aggregation (complete mode) →
    * in-memory sink, drained synchronously. Returns the final result table;
    * values are identical to the batch `events_hourly` (same expressions,
    * same exact-decimal sums), which is what the oracle checks.
    *
    * In production the same plan runs with `writeStream.trigger(...)` on a
    * real sink; state is bounded (#hours × #types keys). */
  def streamingHourly(spark: SparkSession, sfDir: String): DataFrame = {
    // RAW physical schema (NOT Tables.events' normalized one: the stream
    // reads the raw files, so the ts normalization must run stream-side).
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val name = "graft_stream_hourly"
    replay(spark, name, sfDir, 1, Nil, outputMode = "complete") { _ =>
      // File-stream sources take a directory; glob-filter to the events table.
      Tables.normalizeEvents(spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(sfDir))
        // Floor-division hour bucket, shared with the batch twin (see
        // EventOps.hourEpochExpr for the pre-1970 parity rationale).
        .groupBy(expr(graft.operators.EventOps.hourEpochExpr).as("hour_epoch"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value"), 24, 6).as("sum_value"))
    }
    // Materialize: the memory-sink table is session-scoped mutable state.
    spark.table(name)
  }
  case class Ev(user_id: Long, event_id: Long, us: Long, value: Double)
  case class SessionRow(user_id: Long, session_id: Long, n_events: Long,
      first_event_id: Long, last_event_id: Long, sum_value: Double)

  /** Open-session state — AGGREGATES ONLY, never an event buffer, so
    * per-key state is O(1) no matter how long a session runs. `sumMicros`
    * is the exact scale-6 sum as an unscaled long (the BigDecimal twin of
    * the batch DECIMAL(24,6) cast — sums of longs are exact, and
    * `BigDecimal(sumMicros, 6).toDouble` reproduces the batch double).
    *
    * `n == 0` is the TOMBSTONE form: no session is open, but `sid`
    * remembers the last emitted ordinal so a user who returns after a
    * timeout-closed session continues 1,2,3,… exactly like the batch
    * numbering. Ordinal session ids inherently need a per-user lifetime
    * counter; the tombstone is that counter (O(1), no timeout armed), not
    * a buffer. */
  case class OpenSession(sid: Long, n: Long, minId: Long, maxId: Long,
      sumMicros: Long, lastUs: Long)

  private def micros(v: Double): Long =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  private def emitRow(user: Long, s: OpenSession): SessionRow =
    SessionRow(user, s.sid, s.n, s.minId, s.maxId, BigDecimal(s.sumMicros, 6).toDouble)

  /** PRODUCTION-SHAPE gap sessionization over any streaming event source:
    * `flatMapGroupsWithState` with an EVENT-TIME TIMEOUT. Per user, state
    * holds only the open session's aggregates; closed sessions are emitted
    * the moment a batch observes the gap, and the final open session is
    * emitted by the state-store timeout once the watermark passes
    * `last event + gap` — no end-of-stream flush, no unbounded buffer.
    * Session ids are 1-based per user in µs order, matching the batch
    * [[graft.operators.EventOps.sessionize]] and its DuckDB oracle.
    *
    * Within a batch events are sorted here; ACROSS batches ordering is the
    * watermark's job — an event older than the open session's `lastUs`
    * that arrives in a later batch would be appended (classic
    * at-watermark-granularity semantics; the delay parameter is the
    * disorder budget, and the demo harness feeds time-split chunks so the
    * guarantee is exact). */
  def sessionizeStream(
      stream: Dataset[Ev],
      gapUs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[SessionRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    watermarked(stream.toDF(), watermarkDelay)
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // Watermark passed lastUs + gap: the open session is closed.
            // Leave the sid-counter tombstone (no timeout armed) so a
            // returning user continues the ordinal sequence.
            val s = state.get
            state.update(OpenSession(s.sid, 0L, 0L, 0L, 0L, s.lastUs))
            Iterator.single(emitRow(user, s))
          } else {
            val sorted = evs.toIndexedSeq.sortBy(e => (e.us, e.event_id))
            val out = List.newBuilder[SessionRow]
            var cur = state.getOption.orNull
            sorted.foreach { e =>
              val m = micros(e.value)
              cur =
                if (cur == null)
                  OpenSession(1L, 1L, e.event_id, e.event_id, m, e.us)
                else if (cur.n == 0L) // tombstone: continue the ordinals
                  OpenSession(cur.sid + 1L, 1L, e.event_id, e.event_id, m, e.us)
                else if (e.us - cur.lastUs > gapUs) {
                  out += emitRow(user, cur)
                  OpenSession(cur.sid + 1L, 1L, e.event_id, e.event_id, m, e.us)
                } else
                  OpenSession(cur.sid, cur.n + 1,
                    math.min(cur.minId, e.event_id), math.max(cur.maxId, e.event_id),
                    cur.sumMicros + m, math.max(cur.lastUs, e.us))
            }
            // The data path always sees ≥1 event, so cur is a live session.
            state.update(cur)
            // Close via timeout when the watermark passes the gap edge.
            // (max-guard: a timestamp at/behind the watermark is illegal.)
            state.setTimeoutTimestamp(math.max(
              (cur.lastUs + gapUs) / 1000L + 1L, state.getCurrentWatermarkMs() + 1L))
            out.result().iterator
          }
      }
  }

  /** Gap-based sessionization through the streaming engine, fed as
    * TIME-SPLIT parquet chunk drops through a file source (no driver-side
    * rows — see the object doc), plus one far-future watermark-advancing
    * sentinel row so every session (including each user's last) is emitted
    * by the event-time-timeout path — the oracle then checks the
    * production operator at full strength. */
  def streamingSessionize(spark: SparkSession, sfDir: String, gapMinutes: Int = 30,
      numChunks: Int = 2): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val name = "graft_stream_sessionize"
    // Sentinel: one literal row (driver-built by construction, not a
    // corpus collect) whose far-future timestamp pushes the watermark
    // past every real session's gap edge, firing the timeouts. Its own
    // (marker-id) session stays open and is filtered out below.
    replay(spark, name, sfDir, numChunks, Seq(Side(sessionEvents(spark, sfDir), "us",
        Some(maxUs => Ev(-1L, -1L, maxUs + 1000L * gapUs, 0.0))))) { s =>
      sessionizeStream(s.head.as[Ev], gapUs).toDF()
    }
    spark.table(name).filter(NotSentinelSession)
  }

  /** (user_id, event_id, us, value): the event columns the three
    * sessionizers replay. */
  private def sessionEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).selectExpr("user_id", "event_id", "ts div 1000 AS us", "value")

  /** Sentinel discrimination by the event_id = -1 MARKER the sessionizers'
    * sentinel row carries, never by user_id sign: negative/NULL user ids
    * are legal data the quality gate contemplates, so a sign filter would
    * silently drop real rows under generator drift (ADVICE r6). A real
    * session can't consist solely of the marker id — only the sentinel's
    * own session matches. */
  private val NotSentinelSession =
    !(col("first_event_id") === -1L && col("last_event_id") === -1L)

  /** `df` with `event_time` (from its `us` column) as the watermark,
    * `delay` behind the max event time seen. */
  private def watermarked(df: DataFrame, delay: String = "0 seconds"): DataFrame =
    df.withColumn("event_time", timestamp_micros(col("us"))).withWatermark("event_time", delay)

  /** Gap-based sessionization via Spark's NATIVE `session_window`
    * aggregation — the declarative twin of [[sessionizeStream]]'s
    * flatMapGroupsWithState form. The engine merges overlapping
    * `[t, t + gap)` windows per key in the state store and emits a session
    * when the watermark passes its end, so the operator is a plain
    * `groupBy(session_window(...), user_id).agg(...)` — no hand-written
    * state machine, and the state layout (session-window store) is
    * purpose-built. Semantics differ from the gaps-and-islands form at ONE
    * boundary: windows `[prev, prev+gap)` and `[prev+gap, ...)` do not
    * overlap, so a successor exactly `gap` after its predecessor starts a
    * NEW session (the island oracle below uses `>= gap`, where
    * [[EventOps.sessionizeSql]]'s uses `> gap`).
    *
    * Output keeps epoch integers: `session_start_us` = window start (first
    * event), `session_last_us` = window end − gap (last event — exact
    * integer arithmetic, since a merged session window always ends at
    * last-event-time + gap). Same chunk feed + far-future sentinel pattern
    * as [[streamingSessionize]]. */
  def streamingSessionWindow(spark: SparkSession, sfDir: String, gapMinutes: Int = 30,
      numChunks: Int = 2): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val name = "graft_stream_session_native"
    // Far-future sentinel (same pattern as streamingSessionize): advances
    // the watermark past every real session's end so append mode emits
    // them all; its own session is filtered out below.
    replay(spark, name, sfDir, numChunks, Seq(Side(sessionEvents(spark, sfDir), "us",
        Some(maxUs => Ev(-1L, -1L, maxUs + 2000L * gapUs, 0.0))))) { s =>
      watermarked(s.head)
        .groupBy(session_window(col("event_time"), s"$gapMinutes minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event_id"),
          max(col("event_id")).as("last_event_id"), dsum(col("value"), 24, 6).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          (unix_micros(col("session_window.end")) - gapUs).as("session_last_us"),
          col("n_events"), col("first_event_id"), col("last_event_id"), col("sum_value"))
    }
    spark.table(name).filter(NotSentinelSession)
  }

  /** Gap sessionization as a [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * for Spark 4's `transformWithState` — the third implementation of the
    * same session semantics, on the CURRENT arbitrary-state API (the
    * successor to `flatMapGroupsWithState`): typed named state
    * (`ValueState`) instead of one opaque state object, and EXPLICIT
    * event-time timers (`registerTimer`/`handleExpiredTimer`) instead of a
    * single implicit timeout slot. Semantics are identical to
    * [[sessionizeStream]] — same O(1) open-session aggregates, same
    * tombstone ordinal counter, same watermark-driven close — so the same
    * DuckDB oracle checks all three forms.
    *
    * The gap timer is re-armed on every batch that touches the key: TWS
    * timers are additive (registering does not replace), so the previous
    * timer is deleted first, with the armed expiry tracked in its own
    * `ValueState` — the bookkeeping `flatMapGroupsWithState` hid. */
  class GapSessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, SessionRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
      ExpiredTimerInfo, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var open: ValueState[OpenSession] = _
    @transient private var timer: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)
      timer = getHandle.getValueState[Long]("timer", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[SessionRow] = {
      val sorted = rows.toIndexedSeq.sortBy(e => (e.us, e.event_id))
      val out = List.newBuilder[SessionRow]
      var cur = if (open.exists()) open.get() else null
      sorted.foreach { e =>
        val m = micros(e.value)
        cur =
          if (cur == null)
            OpenSession(1L, 1L, e.event_id, e.event_id, m, e.us)
          else if (cur.n == 0L) // tombstone: continue the ordinals
            OpenSession(cur.sid + 1L, 1L, e.event_id, e.event_id, m, e.us)
          else if (e.us - cur.lastUs > gapUs) {
            out += emitRow(user, cur)
            OpenSession(cur.sid + 1L, 1L, e.event_id, e.event_id, m, e.us)
          } else
            OpenSession(cur.sid, cur.n + 1,
              math.min(cur.minId, e.event_id), math.max(cur.maxId, e.event_id),
              cur.sumMicros + m, math.max(cur.lastUs, e.us))
      }
      open.update(cur)
      // Re-arm the ONE gap timer (timers add, not replace — delete first).
      if (timer.exists()) getHandle.deleteTimer(timer.get())
      val t = math.max((cur.lastUs + gapUs) / 1000L + 1L, tv.getCurrentWatermarkInMs() + 1L)
      getHandle.registerTimer(t)
      timer.update(t)
      out.result().iterator
    }
    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionRow] = {
      timer.clear()
      if (!open.exists()) Iterator.empty
      else {
        val s = open.get()
        if (s.n == 0L) Iterator.empty // already a tombstone
        else {
          open.update(OpenSession(s.sid, 0L, 0L, 0L, 0L, s.lastUs))
          Iterator.single(emitRow(user, s))
        }
      }
    }
  }

  /** [[GapSessionProcessor]] through the engine: same chunk feed + sentinel
    * pattern as [[streamingSessionize]]. `transformWithState` requires the
    * RocksDB state store (multiple column families for named state +
    * timers), so this demo pins the provider for its run — which also
    * makes it the registered query that exercises the PRODUCTION store on
    * every correctness pass. */
  def streamingSessionizeTws(spark: SparkSession, sfDir: String, gapMinutes: Int = 30,
      numChunks: Int = 2): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val gapUs = gapMinutes * 60L * 1000000L
    val name = "graft_stream_session_tws"
    replay(spark, name, sfDir, numChunks, Seq(Side(sessionEvents(spark, sfDir), "us",
        Some(maxUs => Ev(-1L, -1L, maxUs + 1000L * gapUs, 0.0)))), RocksDb) { s =>
      watermarked(s.head).as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new GapSessionProcessor(gapUs),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
    }
    spark.table(name).filter(NotSentinelSession)
  }

  /** Island oracle with the session-window boundary rule (`>= gap` starts a
    * new session; see [[streamingSessionWindow]]). */
  def streamingSessionWindowSql(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH ordered AS (
       |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
       |  FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= $gapUs THEN 1 ELSE 0 END AS new_session
       |  FROM ordered),
       |sess AS (
       |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged)
       |SELECT user_id, min(us) AS session_start_us, max(us) AS session_last_us,
       |  count(*) AS n_events, min(event_id) AS first_event_id,
       |  max(event_id) AS last_event_id, ${graft.operators.Exact.sqlSum("value", 24, 6)} AS sum_value
       |FROM sess GROUP BY user_id, session_id""".stripMargin
  }

  case class TEv(user_id: Long, event_id: Long, us: Long, event_type: String)
  case class LastEv(us: Long, eventId: Long, tpe: String)
  case class TransitionRow(prev_type: String, next_type: String)

  /** Per-user LAST-EVENT state for continuous Markov transition
    * extraction: O(1) state per user (one (us, id, type) triple — never an
    * event buffer), each arriving event emits exactly one (prev → next)
    * step against it. No timers: a transition needs no timeout semantics,
    * so this is the MINIMAL transformWithState shape — pure keyed state,
    * append emission on arrival. */
  class TransitionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TEv, TransitionRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var last: ValueState[LastEv] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LastEv]("last", Encoders.product[LastEv], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[TEv],
        tv: TimerValues): Iterator[TransitionRow] = {
      // Within a batch events sort here; ACROSS batches the time-split
      // feed preserves per-user order (chunks partition event time), so
      // the fold reproduces the batch lag() pairing exactly.
      val sorted = rows.toIndexedSeq.sortBy(e => (e.us, e.event_id))
      val out = List.newBuilder[TransitionRow]
      var cur = if (last.exists()) last.get() else null
      sorted.foreach { e =>
        if (cur != null) out += TransitionRow(cur.tpe, e.event_type)
        cur = LastEv(e.us, e.event_id, e.event_type)
      }
      last.update(cur)
      out.result().iterator
    }
  }

  /** The Markov transition matrix computed THROUGH the streaming engine —
    * the continuous twin of [[graft.operators.EventOps.transitions]] and
    * the second `transformWithState` operator (alongside the tws
    * sessionizer, which needs timers; this one shows the pure-keyed-state
    * minimum). Runs under the RocksDB provider like every tws path.
    * Transition steps emit on arrival (append mode, no flush round
    * needed); the final matrix aggregation + integer-ppm share runs over
    * the emitted steps and hash-matches the batch oracle. */
  def streamingTransitions(spark: SparkSession, sfDir: String,
      numChunks: Int = 2): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.expressions.Window
    val evs = Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "ts div 1000 AS us", "event_type")
    val name = "graft_stream_transitions"
    replay(spark, name, sfDir, numChunks, Seq(Side(evs, "us")), RocksDb) { s =>
      s.head.as[TEv]
        .groupByKey(_.user_id)
        .transformWithState(new TransitionProcessor, TimeMode.None(), OutputMode.Append())
        .toDF()
    }
    spark.table(name)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("t", sum(col("n")).over(Window.partitionBy()))
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("n * 1000000 div t").as("share_ppm"))
  }

  case class KEv(win_us: Long, h: Long, us: Long)
  case class KmvSt(hs: Array[Long])
  case class KmvRow(win_us: Long, n_sketch: Long, kmv_estimate: Long)

  /** Per-WINDOW KMV cardinality state: the k smallest DISTINCT 56-bit
    * user hashes seen for the hour, kept sorted — O(k) longs per window
    * forever, the whole point of running a sketch instead of a streaming
    * `count(DISTINCT)` whose state grows with the user population. The
    * min-k-of-distinct merge is a set union followed by trim, so it is
    * associative, commutative and idempotent — batch order, chunk
    * boundaries and intra-window duplicates cannot change the final
    * sketch, which is why the streaming result hash-matches the batch
    * oracle exactly. ONE event-time timer per window, armed once at the
    * fixed window end (the window end never moves, so there is no
    * delete/re-arm dance like the gap sessionizer's moving timer — just an
    * armed flag): when the watermark passes it, the window's final
    * estimate emits once and the state drops. */
  class KmvWindowProcessor(k: Int, numerator: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KEv, KmvRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
      ExpiredTimerInfo, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var sk: ValueState[KmvSt] = _
    @transient private var armed: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sk = getHandle.getValueState[KmvSt]("sk", Encoders.product[KmvSt], TTLConfig.NONE)
      armed = getHandle.getValueState[Boolean]("armed", Encoders.scalaBoolean, TTLConfig.NONE)
    }
    override def handleInputRows(win: Long, rows: Iterator[KEv],
        tv: TimerValues): Iterator[KmvRow] = {
      val prev = if (sk.exists()) sk.get().hs else Array.empty[Long]
      val merged = (prev ++ rows.map(_.h)).distinct.sorted.take(k)
      sk.update(KmvSt(merged))
      // Fixed end-of-window timer, armed ONCE per window (re-registering
      // the same instant would be a warned no-op); max() only guards the
      // (impossible under time-partitioned chunks) late-row case from
      // registering in the past.
      if (!armed.exists()) {
        getHandle.registerTimer(
          math.max((win + WinUs) / 1000L + 1L, tv.getCurrentWatermarkInMs() + 1L))
        armed.update(true)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(win: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[KmvRow] =
      if (!sk.exists()) Iterator.empty
      else {
        val hs = sk.get().hs
        sk.clear()
        armed.clear()
        val est = if (hs.length < k) hs.length.toLong else numerator / hs.last
        Iterator.single(KmvRow(win, hs.length.toLong, est))
      }
  }

  private val WinUs = 3600000000L // 1-hour tumbling windows, µs

  /** Streaming DISTINCT-USERS-PER-HOUR via a KMV sketch — the continuous
    * twin of [[graft.operators.TextAnalysis.distinctKmv]] and the third
    * `transformWithState` operator, showing the shape the other two don't:
    * keyed state PLUS a fixed event-time timer (the sessionizer's timer
    * moves; the transition extractor has none). Cardinality-per-window is
    * the canonical streaming-sketch job: exact distinct needs per-window
    * state proportional to the user population, the sketch needs k longs,
    * and because KMV's estimate is a pure integer function of the min-k
    * distinct hashes (TextAnalysis.scala KMV scaladoc) the streaming
    * output is bit-comparable against a batch DuckDB oracle — a property
    * HLL's float harmonic mean lacked until [[streamingHll]]'s fixed-point
    * integer spelling. Windows close on WATERMARK ADVANCEMENT:
    * the far-future sentinel folded into the last chunk pushes the
    * watermark past every real window end, firing all timers in the final
    * no-data micro-batch (same flush discipline as the outer joins).
    * Runs under the RocksDB provider like every tws path.
    *
    * At 100 TB the plan holds: the keyed shuffle ships (window, hash)
    * pairs — the same volume any windowed count pays — and per-window
    * state stays k longs no matter how many users an hour holds; hot
    * windows are a fan-in concern for the batch-side `distinct` that
    * Spark's partial aggregation already bounds. */
  def streamingKmv(spark: SparkSession, sfDir: String, numChunks: Int = 2): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.operators.{Hashing, TextAnalysis}
    val evs = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(
        expr(s"(ts div 1000) div $WinUs * $WinUs").as("win_us"),
        Hashing.md5Long(col("user_id").cast("string")).as("h"),
        expr("ts div 1000").as("us"))
    val name = "graft_stream_kmv"
    val maxUs = replay(spark, name, sfDir, numChunks, Seq(Side(evs, "us",
        Some(maxUs => KEv(sentinelWin(maxUs), -1L, sentinelWin(maxUs))))), RocksDb) { s =>
      watermarked(s.head).as[KEv]
        .groupByKey(_.win_us)
        .transformWithState(
          new KmvWindowProcessor(TextAnalysis.KmvK, TextAnalysis.KmvNumerator),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
    }
    // Structural sentinel filter: the sentinel's window START is beyond
    // every real event by construction (no marker-column dependence). Its
    // timer never fires anyway (own window end > the watermark it sets) —
    // this is belt-and-braces against a future flush-discipline change.
    spark.table(name).filter(col("win_us") < lit(sentinelWin(maxUs)))
  }

  /** The window sketches' sentinel window (and event time): two windows
    * past the data, so its OWN window's end stays above the watermark it
    * sets and it never emits, while every real window's end falls below
    * it and every real timer fires. */
  private def sentinelWin(maxUs: Long): Long = (maxUs / WinUs + 2L) * WinUs

  case class HllEv(win_us: Long, bucket: Long, rho: Long, us: Long)
  case class HllSt(regs: Array[Long])
  case class HllRow(win_us: Long, n_used: Long, hll_est: Long)

  /** Per-window HyperLogLog registers — the third streaming sketch,
    * completing the trio (KMV: how many distinct — small-range exact;
    * CMS: how often these keys; HLL: how many distinct in the n ≫ m
    * regime at 512 longs per window). Historically this repo's sketches
    * avoided HLL as not oracle-verifiable (float harmonic mean); the
    * fixed-point integer estimator of
    * [[graft.operators.TextAnalysis.hllDistinct]] removed that bar, so
    * the streaming twin inherits bit-exact batch comparability. Register
    * merge is elementwise MAX — commutative, associative, idempotent —
    * so chunk boundaries, duplicates and arrival order cannot change the
    * final registers (same argument as KMV's union-and-trim). bucket/rho
    * arrive PRE-COMPUTED per row (codegen'd md5 expressions in the scan
    * stage); the hot loop is one array-max per event. Fixed end-of-window
    * timer, emit once, drop state — identical lifecycle to
    * [[KmvWindowProcessor]]. */
  class HllWindowProcessor(m: Int, numerator: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, HllEv, HllRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
      ExpiredTimerInfo, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var st: ValueState[HllSt] = _
    @transient private var armed: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[HllSt]("st", Encoders.product[HllSt], TTLConfig.NONE)
      armed = getHandle.getValueState[Boolean]("armed", Encoders.scalaBoolean, TTLConfig.NONE)
    }
    override def handleInputRows(win: Long, rows: Iterator[HllEv],
        tv: TimerValues): Iterator[HllRow] = {
      val regs = if (st.exists()) st.get().regs else new Array[Long](m)
      rows.foreach { e =>
        val b = e.bucket.toInt
        if (e.rho > regs(b)) regs(b) = e.rho
      }
      st.update(HllSt(regs))
      if (!armed.exists()) {
        getHandle.registerTimer(
          math.max((win + WinUs) / 1000L + 1L, tv.getCurrentWatermarkInMs() + 1L))
        armed.update(true)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(win: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[HllRow] =
      if (!st.exists()) Iterator.empty
      else {
        val regs = st.get().regs
        st.clear()
        armed.clear()
        var used = 0L
        var z = 0L
        var i = 0
        while (i < m) {
          if (regs(i) > 0) { used += 1; z += 1L << (45 - regs(i)) }
          else z += 1L << 45
          i += 1
        }
        Iterator.single(HllRow(win, used, numerator / z))
      }
  }

  /** Streaming DISTINCT-EVENT-IDS-PER-HOUR via HLL registers — the
    * ingest-health monitor (estimated distinct ids vs raw row count
    * exposes duplicate floods without per-id state): [[HllWindowProcessor]]
    * over 1-hour tumbling windows, same chunked replay + far-future
    * sentinel + RocksDB provider discipline as [[streamingKmv]]. At 100 TB
    * the keyed shuffle ships (window, bucket, rho) triples and per-window
    * state is 512 longs regardless of id volume. */
  def streamingHll(spark: SparkSession, sfDir: String, numChunks: Int = 2): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.operators.{Hashing, TextAnalysis}
    val m = TextAnalysis.HllM
    val evs = Tables.events(spark, sfDir)
      .filter(col("event_id").isNotNull)
      .select(
        expr(s"(ts div 1000) div $WinUs * $WinUs").as("win_us"),
        Hashing.md5Long(col("event_id").cast("string")).as("h"),
        expr("ts div 1000").as("us"))
      .select(col("win_us"), (col("h") % m).as("bucket"),
        expr(s"h div $m").as("x"), col("us"))
      .select(col("win_us"), col("bucket"),
        expr(s"CASE WHEN x = 0 THEN ${TextAnalysis.HllRhoMax} ELSE least(bit_count((x & (-x)) - 1) + 1, ${TextAnalysis.HllRhoMax}) END")
          .cast("long").as("rho"),
        col("us"))
    val name = "graft_stream_hll"
    val maxUs = replay(spark, name, sfDir, numChunks, Seq(Side(evs, "us",
        Some(maxUs => HllEv(sentinelWin(maxUs), 0L, 1L, sentinelWin(maxUs))))), RocksDb) { s =>
      watermarked(s.head).as[HllEv]
        .groupByKey(_.win_us)
        .transformWithState(
          new HllWindowProcessor(m.toInt, TextAnalysis.HllNumerator),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
    }
    spark.table(name).filter(col("win_us") < lit(sentinelWin(maxUs)))
  }

  /** Batch oracle for [[streamingHll]]: identical register math per
    * 1-hour window in DuckDB. */
  def streamingHllSql: String = {
    import graft.operators.{Hashing, TextAnalysis}
    val m = TextAnalysis.HllM
    val rmax = TextAnalysis.HllRhoMax
    val h = Hashing.md5LongSql("CAST(event_id AS VARCHAR)")
    s"""WITH ids AS (SELECT epoch_us(ts) // $WinUs * $WinUs AS win_us,
       |    ($h) % $m AS bucket, ($h) // $m AS x
       |  FROM events WHERE event_id IS NOT NULL),
       |rho AS (SELECT win_us, bucket,
       |    CAST(CASE WHEN x = 0 THEN $rmax
       |         ELSE least(bit_count((x & (-x)) - 1) + 1, $rmax) END AS BIGINT) AS rho
       |  FROM ids),
       |regs AS (SELECT win_us, bucket, max(rho) AS r FROM rho GROUP BY 1, 2)
       |SELECT win_us, CAST(count(*) AS BIGINT) AS n_used,
       |  CAST(${TextAnalysis.HllNumerator} //
       |       (($m - count(*)) * ${1L << 45} + sum(1::BIGINT << (45 - r))) AS BIGINT) AS hll_est
       |FROM regs GROUP BY win_us""".stripMargin
  }

  case class CmsEv(win_us: Long, b0: Long, b1: Long, b2: Long, b3: Long, us: Long)
  case class CmsState(cs: Array[Long])
  case class CmsProbeRow(win_us: Long, user_id: Long, cms_est: Long)

  /** Per-WINDOW Count-Min sketch: depth×width int64 counters — 32 KiB per
    * window forever, however many users the hour holds — completing the
    * streaming sketch pair ([[KmvWindowProcessor]] answers "how many
    * distinct", this answers "how often did THESE keys occur"). The
    * per-depth bucket ids arrive PRE-COMPUTED on each row (Catalyst
    * [[graft.operators.TextAnalysis.cmsBucket]] md5 expressions, codegen'd
    * in the scan stage before the shuffle), so the hot loop is four array
    * increments per event — no hashing inside the state store. Counter
    * addition commutes, so chunk boundaries and arrival order cannot
    * change the final sketch; at the fixed end-of-window timer the probe
    * keys' cells (min over depth rows) emit once and the state drops. */
  class CmsWindowProcessor(depth: Int, width: Int, probes: Seq[(Long, Array[Int])])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CmsEv, CmsProbeRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
      ExpiredTimerInfo, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var st: ValueState[CmsState] = _
    @transient private var armed: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[CmsState]("st", Encoders.product[CmsState], TTLConfig.NONE)
      armed = getHandle.getValueState[Boolean]("armed", Encoders.scalaBoolean, TTLConfig.NONE)
    }
    override def handleInputRows(win: Long, rows: Iterator[CmsEv],
        tv: TimerValues): Iterator[CmsProbeRow] = {
      val cs = if (st.exists()) st.get().cs else new Array[Long](depth * width)
      rows.foreach { e =>
        cs(e.b0.toInt) += 1
        cs(width + e.b1.toInt) += 1
        cs(2 * width + e.b2.toInt) += 1
        cs(3 * width + e.b3.toInt) += 1
      }
      st.update(CmsState(cs))
      if (!armed.exists()) {
        getHandle.registerTimer(
          math.max((win + WinUs) / 1000L + 1L, tv.getCurrentWatermarkInMs() + 1L))
        armed.update(true)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(win: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[CmsProbeRow] =
      if (!st.exists()) Iterator.empty
      else {
        val cs = st.get().cs
        st.clear()
        armed.clear()
        probes.iterator.map { case (u, cells) =>
          var est = Long.MaxValue
          var d = 0
          while (d < depth) { est = math.min(est, cs(d * width + cells(d))); d += 1 }
          CmsProbeRow(win, u, est)
        }
      }
  }

  /** Tracked probe users for [[streamingCms]] — the "watch these known
    * keys" monitoring shape (a probe with no events in a window reports
    * its collision mass, exactly as CMS defines it). */
  val CmsProbeUsers: Seq[Long] = 0L until 8L

  /** Streaming HEAVY-KEY FREQUENCY estimation per hour window via a
    * Count-Min sketch — the fourth `transformWithState` operator and the
    * frequency half of the streaming sketch pair (with [[streamingKmv]]).
    * Exact per-user hourly counts need state proportional to the active
    * user set; the CMS needs depth×width counters per window, full stop —
    * the sketch contract an unbounded 100 TB ingest requires. Everything
    * deterministic: md5-derived buckets (computed in the codegen'd scan
    * projection, not in the state store), integer counters, and a min
    * over depth cells per probe — so the streaming result hash-matches
    * the batch DuckDB oracle cell-for-cell. Same fixed-timer /
    * sentinel-flush / RocksDB discipline as the KMV window. */
  def streamingCms(spark: SparkSession, sfDir: String, numChunks: Int = 2): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.operators.{Hashing, TextAnalysis}
    val depth = TextAnalysis.CmsDepth
    val width = TextAnalysis.CmsWidth
    val uStr = col("user_id").cast("string")
    val evs = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(
        expr(s"(ts div 1000) div $WinUs * $WinUs").as("win_us"),
        TextAnalysis.cmsBucket(lit(0), uStr).as("b0"),
        TextAnalysis.cmsBucket(lit(1), uStr).as("b1"),
        TextAnalysis.cmsBucket(lit(2), uStr).as("b2"),
        TextAnalysis.cmsBucket(lit(3), uStr).as("b3"),
        expr("ts div 1000").as("us"))
    val probes = CmsProbeUsers.map { u =>
      u -> Array.tabulate(depth)(d => (Hashing.md5LongJvm(s"$d:$u") % width).toInt)
    }
    val name = "graft_stream_cms"
    val maxUs = replay(spark, name, sfDir, numChunks, Seq(Side(evs, "us",
        Some(maxUs => CmsEv(sentinelWin(maxUs), 0L, 0L, 0L, 0L, sentinelWin(maxUs))))), RocksDb) { s =>
      watermarked(s.head).as[CmsEv]
        .groupByKey(_.win_us)
        .transformWithState(new CmsWindowProcessor(depth, width, probes),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
    }
    spark.table(name).filter(col("win_us") < lit(sentinelWin(maxUs)))
  }

  /** Batch oracle for [[streamingCms]]: per-window sketch cells from the
    * per-(window, user) counts, probe estimate = min over depth rows with
    * absent cells reading zero (a fresh counter array). */
  def streamingCmsSql: String = {
    import graft.operators.{Hashing, TextAnalysis}
    val width = TextAnalysis.CmsWidth
    val ids = (0 until TextAnalysis.CmsDepth).map(i => s"($i)").mkString(", ")
    val probeVals = CmsProbeUsers.map(u => s"('$u')").mkString(", ")
    s"""WITH pu AS (
       |  SELECT (epoch_us(ts) // $WinUs) * $WinUs AS win_us,
       |    CAST(user_id AS VARCHAR) AS u, count(*) AS cnt
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
       |ids(i) AS (VALUES $ids),
       |sketch AS (SELECT win_us, i, ${Hashing.md5LongSql("i || ':' || u")} % $width AS b,
       |    CAST(sum(cnt) AS BIGINT) AS c
       |  FROM pu CROSS JOIN ids GROUP BY 1, 2, 3),
       |probes(u) AS (VALUES $probeVals),
       |wins AS (SELECT DISTINCT win_us FROM pu)
       |SELECT w.win_us, CAST(p.u AS BIGINT) AS user_id,
       |  CAST(min(COALESCE(s.c, 0)) AS BIGINT) AS cms_est
       |FROM wins w CROSS JOIN probes p CROSS JOIN ids
       |LEFT JOIN sketch s ON s.win_us = w.win_us AND s.i = ids.i
       |  AND s.b = ${Hashing.md5LongSql("ids.i || ':' || p.u")} % $width
       |GROUP BY 1, 2""".stripMargin
  }

  /** Batch oracle for [[streamingKmv]]: the same min-k-of-distinct
    * integer pipeline as `distinct_kmv`'s, keyed by the hour window. */
  def streamingKmvSql: String = {
    import graft.operators.{Hashing, TextAnalysis}
    val k = TextAnalysis.KmvK
    s"""WITH pairs AS (
       |  SELECT DISTINCT (epoch_us(ts) // $WinUs) * $WinUs AS win_us,
       |    ${Hashing.md5LongSql("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events WHERE user_id IS NOT NULL),
       |ranked AS (SELECT win_us, h,
       |    row_number() OVER (PARTITION BY win_us ORDER BY h) AS rn FROM pairs),
       |topk AS (SELECT win_us, count(*) AS n_sketch, max(h) AS kth
       |  FROM ranked WHERE rn <= $k GROUP BY 1)
       |SELECT win_us, CAST(n_sketch AS BIGINT) AS n_sketch,
       |  CAST(CASE WHEN n_sketch < $k THEN n_sketch
       |            ELSE ${TextAnalysis.KmvNumerator} // kth END AS BIGINT) AS kmv_estimate
       |FROM topk""".stripMargin
  }

  case class Doc(doc_id: Long, text: String)

  /** Watermarked STREAM-STREAM interval join: clicks and purchases arrive
    * on separate streams; each purchase joins the same user's clicks from
    * the preceding hour. Inner stream-stream joins emit a pair as soon as
    * both rows have arrived; the watermarks plus the two-sided time
    * condition are what let the engine EVICT buffered rows once the other
    * side's watermark passes their join range — bounded state, the
    * production requirement for an unbounded ingest.
    *
    * Each side replays its own time-split chunk sequence (two file
    * sources, two watch dirs). Per-side time-disjoint chunks keep eviction
    * exact without cross-side alignment: the global watermark is the MIN
    * over sources of each side's max event time, so no later chunk can
    * deliver a row at or below it, and a buffered row is only evicted once
    * every possible partner is, by chunk order, already ingested. The
    * DuckDB interval-join oracle therefore checks this path
    * value-for-value. */
  def streamingIntervalJoin(spark: SparkSession, sfDir: String,
      numChunks: Int = 2): DataFrame = {
    val name = "graft_stream_ivjoin"
    replay(spark, name, sfDir, numChunks, joinSides(spark, sfDir, flush = false), JoinStoreV3) { s =>
      purchaseClickJoin(s, "inner")
        .select(col("purchase_id"), col("p_user").as("user_id"), col("click_id"))
    }
    spark.table(name)
  }

  /** The join demos' (clicks, purchases) sides as (user_id, event_id, us).
    * With `flush`, each side carries ONE sentinel row — event_id = -1
    * marker, negative user_id (-1 clicks, -2 purchases), event time two
    * hours past the corpus — folded into the final chunk drop: that batch's
    * max event time advances the watermark past every real row's join
    * window, and the engine's own watermark-required no-data micro-batch
    * evicts-and-emits the outer tail. */
  private def joinSides(spark: SparkSession, sfDir: String, flush: Boolean): Seq[Side] =
    Seq("click" -> -1L, "purchase" -> -2L).map { case (tpe, sentinelUser) =>
      Side(Tables.events(spark, sfDir).filter(col("event_type") === tpe)
          .selectExpr("user_id", "event_id", "ts div 1000 AS us"), "us",
        if (flush) Some(maxUs => (sentinelUser, -1L, maxUs + 2L * 3600L * 1000000L)) else None)
    }

  /** Purchases joined to the same user's clicks from the preceding hour,
    * over the replay's (clicks, purchases) streams, each watermarked at
    * its own max event time. */
  private def purchaseClickJoin(streams: Seq[DataFrame], joinType: String): DataFrame = {
    val Seq(c, p) = streams
    val clicks = c.select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        timestamp_micros(col("us")).as("c_time"))
      .withWatermark("c_time", "0 seconds")
    val purchases = p.select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        timestamp_micros(col("us")).as("p_time"))
      .withWatermark("p_time", "0 seconds")
    purchases.join(clicks, expr(
      "p_user = c_user AND c_time >= p_time - INTERVAL 1 HOUR AND c_time <= p_time"), joinType)
  }

  /** Watermarked stream-stream LEFT OUTER interval join — the fourth
    * streaming join family: every purchase emits, with click_id = NULL
    * when no click from the preceding hour exists. Outer emission is the
    * part plain inner joins never exercise: an unmatched left row can only
    * be emitted once the RIGHT side's watermark has passed its entire join
    * window (no future click can match), i.e. null rows surface on
    * WATERMARK ADVANCEMENT, not on data arrival.
    *
    * End-of-stream therefore needs an explicit flush: a finite replay ends
    * with the watermark at max-event-time, leaving the tail's unmatched
    * rows buffered forever. The feeder folds ONE sentinel row per side
    * (negative user_ids, event times beyond the corpus + join range) into
    * the FINAL chunk drop: that batch's max event time advances the
    * watermark past every real row's join window, and the engine's own
    * watermark-required no-data micro-batch (constructed because the
    * stateful join reports it needs another pass when the watermark moves;
    * `processAllAvailable` does not return until it has run) is what
    * evicts-and-emits the real tail — no extra data rounds, so the flush
    * costs one state-store commit cycle instead of the two full
    * sentinel-drop rounds this demo used previously. Sentinels are
    * filtered from the result; whether the sentinels' OWN unmatched rows
    * surface depends on trailing no-data batches, so nothing observable
    * depends on them. This is exactly the "advance the watermark to drain
    * outer state" discipline a production pipeline applies when draining
    * a topic before decommission. */
  def streamingJoinOuter(spark: SparkSession, sfDir: String,
      numChunks: Int = 2): DataFrame = {
    val name = "graft_stream_lojoin"
    replay(spark, name, sfDir, numChunks, joinSides(spark, sfDir, flush = true), JoinStoreV3) { s =>
      purchaseClickJoin(s, "leftOuter")
        .select(col("purchase_id"), col("p_user").as("user_id"), col("click_id"))
    }
    // The purchase-side sentinel surfaces as an unmatched row whose
    // purchase_id IS the event_id = -1 marker the feeder wrote; the click
    // sentinel is inner-side and never emits. Discriminating on the marker
    // (never the user_id sign) keeps real negative/NULL-user purchases —
    // the drift case the quality gate contemplates (ADVICE r6).
    spark.table(name).filter(col("purchase_id") =!= -1L)
  }

  val streamingJoinOuterSql: String =
    """SELECT p.purchase_id, p.user_id, c.click_id
      |FROM (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
      |      FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
      |      FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND c.cus BETWEEN p.pus - 3600000000 AND p.pus""".stripMargin

  /** Watermarked stream-stream FULL OUTER interval join — completing the
    * outer family: matches emit on arrival, unmatched PURCHASES
    * null-extend when the click watermark passes their window (as in
    * [[streamingJoinOuter]]), and unmatched CLICKS null-extend when the
    * purchase watermark passes theirs — BOTH sides' state is
    * watermark-evicted, both tails need the flush. The same one-sentinel-
    * per-side fold drains both directions in one watermark advancement
    * (each side's sentinel advances ITS event-time max, and the no-data
    * micro-batch evicts both stores). user_id comes back via COALESCE of
    * the two key columns — for a match either side supplies it, for an
    * outer row the surviving side does; sentinel rows are discriminated by
    * the event_id = -1 marker they carry, never by the user_id sign. */
  def streamingJoinFull(spark: SparkSession, sfDir: String,
      numChunks: Int = 2): DataFrame = {
    val name = "graft_stream_fojoin"
    replay(spark, name, sfDir, numChunks, joinSides(spark, sfDir, flush = true), JoinStoreV3) { s =>
      purchaseClickJoin(s, "fullOuter")
        .select(col("purchase_id"),
          coalesce(col("p_user"), col("c_user")).as("user_id"), col("click_id"))
    }
    // Sentinels surface only as unmatched outer rows carrying the
    // event_id = -1 marker in their surviving side's id column (their
    // far-future event times sit beyond every real join window, so they can
    // never MATCH a real row). Filtering on the marker — not the user_id
    // sign — keeps real negative/NULL-user rows and NULL-keyed outer rows,
    // exactly what streamingJoinFullSql's oracle keeps (ADVICE r6).
    spark.table(name).filter(
      coalesce(col("purchase_id"), lit(0L)) =!= -1L &&
      coalesce(col("click_id"), lit(0L)) =!= -1L)
  }

  val streamingJoinFullSql: String =
    """SELECT p.purchase_id,
      |  CAST(coalesce(p.user_id, c.user_id) AS BIGINT) AS user_id, c.click_id
      |FROM (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
      |      FROM events WHERE event_type = 'purchase') p
      |FULL JOIN (SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
      |      FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND c.cus BETWEEN p.pus - 3600000000 AND p.pus""".stripMargin

  val streamingIntervalJoinSql: String =
    """SELECT p.purchase_id, p.user_id, c.click_id
      |FROM (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
      |      FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
      |      FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND c.cus BETWEEN p.pus - 3600000000 AND p.pus""".stripMargin

  /** STREAM-STATIC enrichment join — the third streaming join family
    * alongside the stateful stream-stream join and the stateful
    * aggregations: each micro-batch of the purchase stream probes a STATIC
    * dimension table (customer ⋈ nation), which requires NO state store at
    * all — the dim side is simply available to every batch, the join is
    * stateless, and append mode emits enriched rows as they arrive. This
    * is the workhorse shape of production ingest (enrich events with
    * user/account/geo dims before landing them); at 100 TB/day the static
    * side is a broadcast or bucket-joined dim exactly as in batch, because
    * stream-static planning IS batch planning per micro-batch. nation
    * keeps its fixed-cardinality broadcast hint; sf-scaled customer is
    * left to the planner, per the standing hint discipline. */
  def streamingEnrich(spark: SparkSession, sfDir: String, numChunks: Int = 2): DataFrame = {
    val purch = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .selectExpr("event_id", "user_id", "ts div 1000 AS us", "value")
    val name = "graft_stream_enrich"
    replay(spark, name, sfDir, numChunks, Seq(Side(purch, "us"))) { s =>
      // The static side is materialized ONCE (r14, guide §2.1/§5): a
      // stream-static join re-plans AND re-executes the static subtree every
      // micro-batch, so without this the customer⋈nation join ran per batch
      // (4× here). The checkpoint is the "cache the enrichment dim" posture a
      // production ingest takes — per batch the dim side is a block scan.
      val dims = Tables.customer(spark, sfDir)
        .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
        .localCheckpoint()
      s.head.join(dims, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_name"), col("n_name"), col("value"))
    }
    spark.table(name)
  }

  val streamingEnrichSql: String =
    """SELECT e.event_id, e.user_id, c.c_name, n.n_name, e.value
      |FROM events e
      |JOIN customer c ON c.c_custkey = e.user_id
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |WHERE e.event_type = 'purchase'""".stripMargin

  /** Streaming EXACT dedup — the continuous-ingest twin of
    * [[graft.operators.Dedup.exact]]: hash each arriving document and
    * `dropDuplicates` on the hash through the streaming engine, so state
    * is ONE small row per distinct hash (never a document buffer) and a
    * re-ingested duplicate is suppressed across micro-batches. Emits each
    * distinct content hash exactly once (append mode), which is
    * deterministic regardless of feed order — that is what lets the DuckDB
    * oracle (`SELECT DISTINCT md5(text)`) hash-check the streaming path at
    * full strength. The horizon-bounded production form is
    * [[streamingDedupWatermarked]]; this unbounded form matches the batch
    * operator's semantics exactly. */
  def streamingDedup(spark: SparkSession, sfDir: String, numChunks: Int = 2): DataFrame = {
    val docs = Tables.documents(spark, sfDir).selectExpr("doc_id", "text")
    val name = "graft_stream_dedup"
    replay(spark, name, sfDir, numChunks, Seq(Side(docs, "doc_id"))) { s =>
      s.head.select(md5(col("text")).as("content_hash")).dropDuplicates("content_hash")
    }
    spark.table(name)
  }

  /** PRODUCTION-FORM streaming dedup: `dropDuplicatesWithinWatermark` over
    * an event-time column, so state holds one row per key seen within the
    * watermark horizon and the store EVICTS keys the watermark has passed —
    * the bounded-state requirement for an unbounded ingest that the
    * unbounded-exact [[streamingDedup]] demo deliberately forgoes.
    *
    * The registered demo dedups (user_id, event_type) pairs with a horizon
    * wider than the corpus' 30-day span, making the emitted set exactly
    * DISTINCT — deterministic, so the DuckDB oracle checks this engine
    * path value-for-value. The eviction/re-emission behavior the horizon
    * exists for (suppress within, evict beyond) is pinned on crafted feeds
    * in StreamingOpsSpec, where the horizon is 1 hour and the feed
    * straddles it. */
  def streamingDedupWatermarked(spark: SparkSession, sfDir: String,
      numChunks: Int = 2, horizonDays: Int = 35): DataFrame = {
    val horizon = s"$horizonDays days"
    val evs = Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_type", "ts div 1000 AS us")
    // The DISTINCT oracle is only exact while the horizon exceeds the
    // corpus' time span: a span past the horizon means the store evicts
    // live keys and re-emits them, and the first symptom would be an
    // unexplained oracle hash-mismatch. Fail loudly at the source instead
    // if testdata ever outgrows the default. (One min/max agg — scalars.)
    val span = evs.agg(min(col("us")), max(col("us"))).head
    require(span.getLong(1) - span.getLong(0) < horizonDays * 86400L * 1000000L,
      s"events span exceeds the $horizon dedup horizon; the DISTINCT oracle " +
        "no longer models eviction-free behavior - widen horizonDays")
    val name = "graft_stream_dedup_wm"
    replay(spark, name, sfDir, numChunks, Seq(Side(evs, "us"))) { s =>
      watermarked(s.head, horizon)
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    }
    spark.table(name)
  }

  val streamingDedupWatermarkedSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  case class UpEv(user_id: Long, event_id: Long, us: Long, value: Double)

  /** foreachBatch upsert kernel over an arbitrary streaming source of
    * purchase events: each micro-batch reduces to latest-per-key
    * (WindowGroupLimit), full-outer-merges with the current snapshot under
    * a latest-wins (us, event_id) comparison — correct under ANY batch
    * split, not just ordered feeds — and publishes a new snapshot version
    * (the overwrite-and-swap a lakehouse MERGE INTO does transactionally).
    * State lives in the TABLE, not the state store, so the stream restarts
    * for free and the snapshot is queryable mid-stream. The superseded
    * version is deleted right after the new one is published (an A/B
    * swap). The final version, which the returned frame reads lazily,
    * lives under [[graft.LocalDirs.jvmScratchRoot]] and goes at JVM exit.
    *
    * Scale: every merge is |keys|-bounded (both sides pre-reduced), the
    * snapshot is partitioned storage (not driver memory), and at 100 TB
    * the same loop runs with bucket-co-located snapshot+batch on the merge
    * key. `run` starts the ingest (chunk drops or MemoryStream pushes)
    * with the merge as its `foreachBatch`; the returned frame is the final
    * snapshot. */
  private def upsertRun(spark: SparkSession)(
      run: ((DataFrame, Long) => Unit) => Unit): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val baseDir =
      s"${graft.LocalDirs.jvmScratchRoot}/graft_stream_upsert_snap-${java.util.UUID.randomUUID}"
    var currentVersion = -1L
    def snapPath(v: Long) = s"$baseDir/v$v"
    run { (batch, batchId) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us").desc, col("event_id").desc)
      val latest = batch
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      val merged =
        if (currentVersion < 0) latest
        else {
          val snap = spark.read.parquet(snapPath(currentVersion))
          snap.as("s").join(latest.as("u"),
              col("s.user_id") === col("u.user_id"), "full_outer")
            .select(
              coalesce(col("u.user_id"), col("s.user_id")).as("user_id"),
              when(col("s.user_id").isNull ||
                  (col("u.user_id").isNotNull &&
                    (col("u.us") > col("s.us") ||
                      (col("u.us") === col("s.us") && col("u.event_id") > col("s.event_id")))),
                struct(col("u.us").as("us"), col("u.event_id").as("event_id"),
                  col("u.value").as("value")))
                .otherwise(struct(col("s.us").as("us"), col("s.event_id").as("event_id"),
                  col("s.value").as("value"))).as("r"))
            .select(col("user_id"), col("r.us").as("us"),
              col("r.event_id").as("event_id"), col("r.value").as("value"))
        }
      merged.write.mode("overwrite").parquet(snapPath(batchId))
      val superseded = currentVersion
      currentVersion = batchId
      // A/B swap: the new version is durable, so the old one (fully
      // read by the merge's write above) is garbage now.
      if (superseded >= 0) graft.LocalDirs.rmTree(snapPath(superseded))
    }
    if (currentVersion < 0) // empty feed → no batch ever fired, no snapshot
      spark.range(0).selectExpr("id AS user_id", "id AS last_us",
        "CAST(id AS DOUBLE) AS last_value")
    else
      spark.read.parquet(snapPath(currentVersion))
        .select(col("user_id"), col("us").as("last_us"), col("value").as("last_value"))
  }

  /** CONTINUOUS UPSERT via `foreachBatch` — the streaming twin of the batch
    * [[graft.operators.Relational.snapshotMerge]] MERGE kernel, fed as
    * time-split chunk drops through a file source. Returns the final
    * snapshot; the oracle checks it equals the batch
    * latest-purchase-per-user over the whole table. */
  def streamingUpsert(spark: SparkSession, sfDir: String, numChunks: Int = 3): DataFrame = {
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .selectExpr("user_id", "event_id", "ts div 1000 AS us", "value")
    // The snapshot lives in its own JVM-scoped dir (and must survive — the
    // returned frame reads it lazily); the replay deletes only its feed and
    // checkpoint.
    upsertRun(spark) { merge =>
      replay(spark, "graft_stream_upsert", sfDir, numChunks, Seq(Side(purchases, "us")),
        foreachBatch = Some(merge))(_.head)
    }
  }

  /** Spec-only harness of [[upsertRun]] over an explicit feed — crafted and
    * RANDOMIZED OUT-OF-ORDER event sets need per-row control, so this is
    * the one place a MemoryStream (driver-fed by construction) remains; the
    * registered query is [[streamingUpsert]]'s file-source form. */
  def streamingUpsertOf(spark: SparkSession, purchases: Seq[UpEv],
      numChunks: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[UpEv]
    val chunkSize = math.max(1, math.ceil(purchases.length.toDouble / numChunks).toInt)
    val chunks = purchases.grouped(chunkSize).toIndexedSeq
    upsertRun(spark) { merge =>
      replay(spark, "graft_stream_upsert", "", chunks.size, Nil, foreachBatch = Some(merge),
        feed = k => source.addData(chunks(k)))(_ => source.toDS().toDF())
    }
  }

  val streamingUpsertSql: String =
    """SELECT user_id, us AS last_us, value AS last_value FROM (
      |  SELECT user_id, epoch_us(ts) AS us, value, row_number() OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase') WHERE rn = 1""".stripMargin

  /** Windowed streaming aggregation with a watermark (append mode): used by
    * the streaming spec to pin the watermark/window semantics; not part of
    * the oracle surface because append mode intentionally withholds
    * still-open windows. */
  def watermarkedWindowCounts(spark: SparkSession, sfDir: String): DataFrame = {
    // Raw schema + stream-side normalization, as in [[streamingHourly]].
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = Tables.normalizeEvents(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir))
    stream
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
  }
}
