package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.util.LongAccumulator

/** One traced interval. Spans of one pass share `pass`; `parent` is the id
  * of the span that caused this one (0 for a pass). Times are epoch ns. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty)

/** In-memory span store; written out once, when the run ends. */
final class Tracer {
  private val t0Nano = System.nanoTime()
  private val t0EpochNs = System.currentTimeMillis() * 1000000L
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  def now(): Long = t0EpochNs + (System.nanoTime() - t0Nano)

  def add(parent: Int, pass: Int, name: String, startNs: Long, endNs: Long,
          attrs: Map[String, Double] = Map.empty): Int = synchronized {
    nextId += 1
    spans += Span(nextId, parent, pass, name, startNs, endNs, attrs)
    nextId
  }
}

object Tracer {
  /** Self time of a span: its duration minus the union of its children. */
  def selfNs(s: Span, spans: collection.Seq[Span]): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs) - covered
  }
}

/** Iterator that sums the nanoseconds spent inside `in` and adds them to an
  * accumulator once, when its task ends (one add per task, not per record).
  * With `active`, it also adds the time from its first call to its last
  * return: that minus the inside time is the consumer's time between pulls. */
final class TimedIterator[A](in: Iterator[A], inside: LongAccumulator,
                             active: Option[LongAccumulator] = None) extends Iterator[A] {
  private var ns = 0L
  private var first = 0L
  private var last = 0L
  Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
    inside.add(ns)
    active.foreach(_.add(last - first))
  })
  private def timed[B](body: => B): B = {
    val t = System.nanoTime()
    if (first == 0L) first = t
    val r = body
    last = System.nanoTime()
    ns += last - t
    r
  }
  def hasNext: Boolean = timed(in.hasNext)
  def next(): A = timed(in.next())
}

/** Accumulators behind a traced Native mapper or reducer: `inner` is time
  * inside the stage's input iterator, `outer` time inside the transform's
  * output iterator (includes `inner`), and `outerActive` the span from the
  * first to the last pull of the output (adds the consumer's time). */
final class StreamTimers(sc: SparkContext, label: String) {
  val inner: LongAccumulator = sc.longAccumulator(s"$label.inner")
  val outer: LongAccumulator = sc.longAccumulator(s"$label.outer")
  val outerActive: LongAccumulator = sc.longAccumulator(s"$label.outerActive")
  def reset(): Unit = { inner.reset(); outer.reset(); outerActive.reset() }
}

object StreamTimers {
  def wrap(f: Iterator[String] => Iterator[String], t: StreamTimers): Iterator[String] => Iterator[String] = {
    val inner = t.inner; val outer = t.outer; val active = Some(t.outerActive)
    lines => new TimedIterator(f(new TimedIterator(lines, inner)), outer, active)
  }
}

/** Stage, task and job totals from the Spark listener bus, plus streaming
  * progress. Counts only while `recording`; `phase` tags which harness span
  * a job started under (to count jobs fired during query construction). */
final class LayerListener extends SparkListener {
  @volatile var recording = false
  @volatile var phase = ""
  val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val resultTaskS = mutable.ArrayBuffer.empty[Double]
  /** (kind, submitted, completed) of each recorded stage, epoch ms. */
  val stageSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val stageStart = mutable.Map.empty[Int, Long]
  /** Stage id -> "map" (shuffle map tasks) or "result", from its tasks. */
  private val stageKind = mutable.Map.empty[Int, String]

  private def add(k: String, v: Double): Unit = sums(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      add("jobs", 1)
      if (phase == "construct") add("construct_jobs", 1)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageStart(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    if (recording) {
      val tm = info.taskMetrics
      val kind = stageKind.getOrElse(info.stageId, "result")
      add("stages", 1)
      add("tasks", info.numTasks)
      add(s"$kind.task_s", tm.executorRunTime / 1e3)
      add("cpu_s", tm.executorCpuTime / 1e9)
      add("spill_bytes", tm.diskBytesSpilled.toDouble)
      add("scan_bytes", tm.inputMetrics.bytesRead.toDouble)
      add("shuffle_write_bytes", tm.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_write_records", tm.shuffleWriteMetrics.recordsWritten.toDouble)
      add("shuffle_read_bytes", tm.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_wait_s", tm.shuffleReadMetrics.fetchWaitTime / 1e3)
      val end = info.completionTime.getOrElse(System.currentTimeMillis())
      stageSpans += ((kind, stageStart.getOrElse(info.stageId, end), end))
    }
    stageStart.remove(info.stageId)
    stageKind.remove(info.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKind(e.stageId) = if (e.taskType == "ResultTask") "result" else "map"
    if (recording && e.taskType == "ResultTask" && e.taskMetrics != null)
      resultTaskS += e.taskMetrics.executorRunTime / 1e3
  }

  def clear(): Unit = synchronized { sums.clear(); resultTaskS.clear(); stageSpans.clear() }
}

/** Micro-batch progress of every streaming query run while recording. */
final class StreamListener extends StreamingQueryListener {
  @volatile var recording = false
  val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Last progress of each query run: its state size when it stopped. */
  private val lastState = mutable.Map.empty[java.util.UUID, (Double, Double)]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    if (recording) {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      sums("batches") += 1
      sums("add_batch_s") += ms("addBatch")
      sums("planning_s") += ms("queryPlanning")
      sums("commit_s") += ms("commitOffsets") + ms("walCommit")
      sums("state_commit_s") += p.stateOperators.map(_.commitTimeMs / 1e3).sum
      lastState(p.runId) = (p.stateOperators.map(_.numRowsTotal.toDouble).sum,
        p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
    }
  }

  def stateRows: Double = synchronized(lastState.values.map(_._1).sum)
  def stateBytes: Double = synchronized(lastState.values.map(_._2).sum)
  def clear(): Unit = synchronized { sums.clear(); lastState.clear() }
}
