package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.mr.{Exec, JobSpec, MapReduceEngine, Native, NativeQueries}

/** Closed-loop benchmark harness: one JVM, `local[cpus]`, one client that runs
  * one job or query at a time (the reference Manager's FIFO queue).
  *
  *  1. set up `setups` times (session start + first read), keeping the last;
  *     the first of them also pays for JVM class loading;
  *  2. run the workload's untimed preparation (the query oracle dumps) and
  *     `warmups` untimed passes;
  *  3. run timed passes until their summed wall time reaches `seconds`,
  *     checking every output against the oracle outside the timed region.
  *
  * With `trace 1` passes alternate traced/untraced: traced passes record
  * spans and listener totals (the per-layer metrics), untraced ones give the
  * baseline for the tracing overhead. Writes one JSON result to `out`.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1 --data DIR
  *   --expected DIR --work DIR --out FILE --cpus N --setups N --warmups N
  *   --queries a,b,c --exec-dir DIR
  */
object Harness {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, expected: String, work: String, out: String,
                        cpus: Int, setups: Int, warmups: Int, queries: Seq[String],
                        execDir: String)

  /** A pass's timed wall seconds, units attempted, failure messages and
    * (traced) per-layer values. */
  final case class Outcome(wallS: Double, attempted: Int, failures: Seq[String],
                           layers: Map[String, Double] = Map.empty)

  /** What a traced pass records into. */
  final case class TraceCtx(tracer: Tracer, passSpan: Int, listener: LayerListener)

  trait Workload {
    def inputBytes: Long
    /** Untimed work needed before checking outputs (e.g. oracle dumps). */
    def prepare(): Outcome = Outcome(0.0, 0, Nil)
    def pass(i: Int, tr: Option[TraceCtx]): Outcome
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv.getOrElse("expected", ""), kv("work"), kv("out"), kv("cpus").toInt,
      kv("setups").toInt, kv("warmups").toInt,
      kv.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty), kv.getOrElse("exec-dir", ""))

    val setupS = (1 to c.setups).map { k =>
      val t0 = System.nanoTime()
      val s = session(c)
      s.sparkContext.setLogLevel("WARN")
      firstTouch(s, c)
      val dt = (System.nanoTime() - t0) / 1e9
      if (k < c.setups) stopSession(s)
      dt
    }
    val spark = SparkSession.active
    val wl: Workload = c.workload match {
      case "mr_wordcount" | "mr_grep_exec" => new MrWorkload(spark, c)
      case "query_mix" => new QueryMix(spark, c)
    }
    val listener = new LayerListener
    val streams = new StreamListener
    if (c.trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(streams)
    }

    val tw = System.nanoTime()
    val prep = wl.prepare()
    var failures = prep.failures.toVector
    var attempted = prep.attempted
    (1 to c.warmups).foreach { w =>
      val o = wl.pass(-w, None)
      attempted += o.attempted; failures ++= o.failures
    }
    val warmupS = (System.nanoTime() - tw) / 1e9
    System.err.println(f"[harness] setup ${setupS.mkString(" ")} s, warm-up $warmupS%.3f s")

    val tracer = new Tracer
    val passes = Vector.newBuilder[Map[String, Any]]
    val layerRows = Vector.newBuilder[Map[String, Double]]
    var elapsed = 0.0
    var i = 0
    val minPasses = if (c.trace) 4 else 2
    while (elapsed < c.seconds || i < minPasses) {
      val traced = c.trace && i % 2 == 0
      val gc0 = gcSeconds()
      val ctx = if (!traced) None else {
        listener.clear(); streams.clear()
        listener.recording = true; streams.recording = true
        Some(TraceCtx(tracer, 0, listener))
      }
      val start = tracer.now()
      val t0 = System.nanoTime()
      val o = try wl.pass(i, ctx.map(_.copy(passSpan = tracer.add(0, i, "pass", start, start))))
      catch { case NonFatal(e) => Outcome((System.nanoTime() - t0) / 1e9, 1, Seq(s"pass $i: $e")) }
      if (traced) {
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        listener.recording = false; streams.recording = false
        val gc = gcSeconds() - gc0
        layerRows += o.layers ++ listenerLayers(c, listener, streams) + ("jvm.gc_s" -> gc)
      }
      attempted += o.attempted; failures ++= o.failures
      elapsed += o.wallS
      System.err.println(f"[harness] pass $i%d ${o.wallS}%.3f s traced=$traced")
      passes += Map("pass" -> i, "pass_s" -> o.wallS, "traced" -> traced,
        "live_heap_mb" -> liveHeapMb())
      i += 1
    }
    // Close each pass span at its measured length (the span tree's root).
    val passList = passes.result()
    val spans = tracer.spans.map { s =>
      if (s.name != "pass") s
      else s.copy(endNs = s.startNs + (passList(s.pass)("pass_s").asInstanceOf[Double] * 1e9).toLong)
    }

    val result = Map(
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace, "cpus" -> c.cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "input_bytes" -> wl.inputBytes, "setup_s" -> setupS, "warmup_s" -> warmupS,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.take(20),
      "passes" -> passList, "layers" -> layerRows.result(),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> Tracer.selfNs(s, spans), "attrs" -> s.attrs)))
    Files.writeString(Paths.get(c.out), Serialization.write(result)(DefaultFormats))
    stopSession(spark)
  }

  def session(c: Conf): SparkSession = SparkSession.builder()
    .master(s"local[${c.cpus}]")
    .appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", c.cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.local.dir", s"${c.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      graft.BenchCore.initialPartitions(c.data, c.cpus))
    .getOrCreate()

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The first read a user pays for after start-up. */
  private def firstTouch(s: SparkSession, c: Conf): Unit =
    if (c.workload == "query_mix")
      Seq("documents", "events")
        .foreach(t => s.read.parquet(s"${c.data}/$t.parquet").count())
    else s.sparkContext.textFile(c.data).take(1): Unit

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after a full collection, in MiB. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val MB = 1048576.0

  /** Per-pass listener totals under the metric names of the workload's layer. */
  private def listenerLayers(c: Conf, l: LayerListener, st: StreamListener): Map[String, Double] = {
    val s = l.sums
    if (c.workload == "query_mix") Map(
      "query.construct_jobs" -> s("construct_jobs"), "query.jobs" -> s("jobs"),
      "query.stages" -> s("stages"), "query.tasks" -> s("tasks"),
      "query.executor_cpu_s" -> s("cpu_s"),
      "query.shuffle_read_mb" -> s("shuffle_read_bytes") / MB,
      "query.shuffle_write_mb" -> s("shuffle_write_bytes") / MB,
      "query.spill_mb" -> s("spill_bytes") / MB, "query.scan_mb" -> s("scan_bytes") / MB,
      "stream.batches" -> st.sums("batches"), "stream.add_batch_s" -> st.sums("add_batch_s"),
      "stream.planning_s" -> st.sums("planning_s"), "stream.commit_s" -> st.sums("commit_s"),
      "stream.state_commit_s" -> st.sums("state_commit_s"),
      "stream.state_rows" -> st.stateRows, "stream.state_mb" -> st.stateBytes / MB)
    else {
      val t = l.resultTaskS.sorted
      Map(
        "mr.map_stage_s" -> s("map.task_s"), "mr.reduce_stage_s" -> s("result.task_s"),
        "mr.executor_cpu_s" -> s("cpu_s"), "mr.shuffle_records" -> s("shuffle_write_records"),
        "mr.shuffle_write_mb" -> s("shuffle_write_bytes") / MB, "mr.spill_mb" -> s("spill_bytes") / MB,
        "mr.fetch_wait_s" -> s("fetch_wait_s"), "mr.tasks" -> s("tasks"),
        "mr.reduce_task_max_s" -> t.lastOption.getOrElse(0.0),
        "mr.reduce_task_median_s" -> (if (t.isEmpty) 0.0 else t(t.size / 2)))
    }
  }

  // ------------------------------------------------------------------ MR

  /** One MapReduceEngine job per pass: the wc_map.sh/wc_reduce.sh Native
    * twins (M=4, R=8), or the benchmark's Exec grep scripts over byte-range
    * splits (R=1). Each pass's part files are byte-compared with the
    * oracle's, then deleted. */
  final class MrWorkload(spark: SparkSession, c: Conf) extends Workload {
    private val engine = new MapReduceEngine(spark)
    private val native = c.workload == "mr_wordcount"
    private val mapT = new StreamTimers(spark.sparkContext, "map")
    private val redT = new StreamTimers(spark.sparkContext, "reduce")
    private val expected = new File(c.expected).listFiles().filter(_.isFile).sortBy(_.getName)
      .map(f => f.getName -> Files.readAllBytes(f.toPath)).toSeq

    val inputBytes: Long = new File(c.data).listFiles().filter(_.isFile).map(_.length).sum

    private def spec(out: String, traced: Boolean): JobSpec =
      if (native) {
        val m: Iterator[String] => Iterator[String] = NativeQueries.wcMapSh
        val r: Iterator[String] => Iterator[String] = NativeQueries.wcReduceSh
        JobSpec(c.data, out,
          Native(if (traced) StreamTimers.wrap(m, mapT) else m),
          Native(if (traced) StreamTimers.wrap(r, redT) else r),
          numMappers = 4, numReducers = 8)
      } else JobSpec(c.data, out,
        Exec(Seq("python3", s"${c.execDir}/grep_map.py")),
        Exec(Seq("python3", s"${c.execDir}/grep_reduce.py")),
        numMappers = c.cpus, numReducers = 1, splitFilesByBytes = true)

    def pass(i: Int, tr: Option[TraceCtx]): Outcome = {
      val out = new File(s"${c.work}/out/pass$i")
      deleteTree(out)
      mapT.reset(); redT.reset()
      val name = if (native) "job:wordcount" else "job:grep"
      val start = tr.map(_.tracer.now()).getOrElse(0L)
      val t0 = System.nanoTime()
      val err = try { engine.submit(spec(out.getPath, tr.isDefined)); None }
      catch { case NonFatal(e) => Some(s"pass $i: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      val parts = Option(out.listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
      val bad = err.toSeq ++ (
        if (err.isDefined) Nil
        else if (parts.map(_.getName) != expected.map(_._1)) Seq(s"pass $i: part files ${parts.map(_.getName)}")
        else parts.zip(expected).collect {
          case (f, (n, want)) if !java.util.Arrays.equals(Files.readAllBytes(f.toPath), want) =>
            s"pass $i: $n differs from the oracle"
        })
      val partMb = parts.map(_.length).sum / MB
      deleteTree(out)
      val layers = tr.map { t =>
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        val job = t.tracer.add(t.passSpan, i, name, start, start + (wall * 1e9).toLong)
        val s = t.listener.sums
        val sec = (a: org.apache.spark.util.LongAccumulator) => a.value / 1e9
        val ls = if (!native) Map("mr.read_s" -> 0.0, "mr.map_s" -> 0.0, "mr.route_sort_write_s" -> 0.0,
          "mr.merge_s" -> 0.0, "mr.reduce_s" -> 0.0, "mr.sink_s" -> 0.0)
        else {
          // Map task: read | map | the rest (md5 routing, serialisation and
          // the shuffle write; with R <= 200 reducers, no aggregator and no
          // map-side combine Spark takes the bypass-merge writer, which does
          // not sort). Reduce task: the shuffle reader fetches and sorts
          // (the whole CByteOrdering sort) eagerly, before the reducer's
          // first pull, so merge is the residual after reduce and sink (the
          // part-file writes between the output pulls).
          val reduce = sec(redT.outer) - sec(redT.inner)
          val sink = sec(redT.outerActive) - sec(redT.outer)
          Map(
            "mr.read_s" -> sec(mapT.inner), "mr.map_s" -> (sec(mapT.outer) - sec(mapT.inner)),
            "mr.route_sort_write_s" -> (s("map.task_s") - sec(mapT.outer)),
            "mr.merge_s" -> (s("result.task_s") - reduce - sink), "mr.reduce_s" -> reduce,
            "mr.sink_s" -> sink)
        }
        // Stage spans carry their summed task seconds and self-time split.
        val parts = Map("map" -> Set("mr.read_s", "mr.map_s", "mr.route_sort_write_s"),
          "result" -> Set("mr.merge_s", "mr.reduce_s", "mr.sink_s"))
        t.listener.stageSpans.foreach { case (kind, a, b) =>
          t.tracer.add(job, i, if (kind == "map") "map_stage" else "reduce_stage", a * 1000000L, b * 1000000L,
            Map("task_s" -> s(s"$kind.task_s")) ++ ls.filter(kv => parts(kind)(kv._1)))
        }
        ls + ("mr.part_mb" -> partMb)
      }.getOrElse(Map.empty)
      Outcome(wall, 1, bad, layers)
    }
  }

  // ----------------------------------------------------------- query mix

  /** The query library plus the streaming layer: each pass runs every query
    * once, in a seed-permuted order, timing construction (the query call),
    * planning (`executedPlan`) and execution (one job over `toRdd` that
    * folds the rows to a count and a content hash). Each pass's count and
    * hash are checked against those of the query's oracle dump, which
    * `run.py` compares with DuckDB running the query's `oracleSql` twin. */
  final class QueryMix(spark: SparkSession, c: Conf) extends Workload {
    private val fns = c.queries.map(n => n -> SparkEntry.queries(n)).toMap
    private var digests = Map.empty[String, (Long, Long)]

    val inputBytes: Long =
      new File(c.data).listFiles().filter(_.getName.endsWith(".parquet")).map(treeBytes).sum

    override def prepare(): Outcome = {
      val dumps = c.queries.map { n =>
        val dir = s"${c.work}/qout/$n"
        try {
          fns(n)(spark, c.data).coalesce(1).write.mode("overwrite").parquet(dir)
          n -> Right(digest(spark.read.parquet(dir)))
        } catch { case NonFatal(e) => n -> Left(s"oracle dump $n: $e") }
      }
      digests = dumps.collect { case (n, Right(d)) => n -> d }.toMap
      Files.createDirectories(Paths.get(c.work, "qout"))
      Files.writeString(Paths.get(c.work, "qout", "oracle_sql.json"), Serialization.write(
        c.queries.map(n => n -> SparkEntry.oracleSql(n)).toMap)(DefaultFormats))
      Outcome(0.0, dumps.size, dumps.collect { case (_, Left(msg)) => msg })
    }

    def pass(i: Int, tr: Option[TraceCtx]): Outcome = {
      val order = new scala.util.Random(c.seed * 1000003L + i).shuffle(c.queries)
      var wall = 0.0
      val layers = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val bad = order.flatMap { n =>
        var t = tr.map(_.tracer.now()).getOrElse(0L)
        val qStart = t
        val phases = Vector.newBuilder[(String, Long, Long)]
        def phase[A](p: String)(body: => A): A = {
          tr.foreach(_.listener.phase = p)
          val r = body
          val e = tr.map(_.tracer.now()).getOrElse(0L)
          phases += ((p, t, e)); t = e
          r
        }
        val t0 = System.nanoTime()
        val res = try {
          val df = phase("construct")(fns(n)(spark, c.data))
          phase("plan")(df.queryExecution.executedPlan)
          Right(phase("exec")(digest(df)))
        } catch { case NonFatal(e) => Left(s"pass $i $n: $e") }
        val dt = (System.nanoTime() - t0) / 1e9
        wall += dt
        System.err.println(f"[harness] pass $i%d $n%s $dt%.3f s")
        tr.foreach { x =>
          x.listener.phase = ""
          val q = x.tracer.add(x.passSpan, i, s"query:$n", qStart, t)
          phases.result().foreach { case (p, a, b) =>
            x.tracer.add(q, i, p, a, b)
            layers(s"query.${p}_s") += (b - a) / 1e9
            if (p == "construct") layers(s"query.$n.construct_s") += (b - a) / 1e9
          }
          layers(s"query.$n.s") += (t - qStart) / 1e9
        }
        res match {
          case Left(msg) => Some(msg)
          case Right(d) if !digests.get(n).contains(d) =>
            Some(s"pass $i $n: (rows, hash) $d, oracle dump has ${digests.get(n)}")
          case _ => None
        }
      }
      Outcome(wall, order.size, bad, layers.toMap)
    }
  }

  /** Row count and an order-independent content hash of a plan's output (the
    * sum of each row's XXH64 over its UnsafeRow bytes), in one job. */
  private def digest(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n, h = 0L
      rows.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeBytes).sum else f.length

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(): Unit
  }
}
