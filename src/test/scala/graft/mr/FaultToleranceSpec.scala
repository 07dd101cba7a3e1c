package graft.mr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** F13 verified, not asserted: the Spark analog of the reference's
  * dead-worker reassignment tests
  * (`/root/reference/tests/test_manager_05.py:271-288` — kill a worker
  * mid-map, the task is reassigned, output is unchanged). Here the failure
  * is a first-attempt exception inside a map or a reduce task; the test
  * session runs `local[4, 2]` (`spark.task.maxFailures` semantics: tasks
  * get one retry), so the DAGScheduler must resubmit the attempt and the job must
  * produce byte-identical output to an undisturbed run.
  *
  * F8+F15, the sink: a job publishes exactly R `part-%05d` files through
  * Hadoop's output committer, a job whose reduce task fails on every attempt
  * leaves its output dir empty, and a rerun replaces a stale part file. No
  * drill runs with speculation on: Spark starts its speculation checker only
  * outside local mode, so a local session never launches a duplicate
  * attempt. */
class FaultToleranceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val RefInput = "/root/reference/tests/testdata/input"
  private val WcGolden = "/root/reference/tests/testdata/correct/word_count_correct.txt"
  private def haveFixtures = Files.isDirectory(Paths.get(RefInput))

  private def readLines(p: Path): List[String] =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n", -1).toList.dropRight(1)

  test("a failed first task attempt is reassigned and output matches the golden byte-exactly") {
    assume(haveFixtures)
    FaultToleranceSpec.drills.set(0)
    // Same stream semantics as wc_map.sh, but the first attempt of map
    // partition 0 dies before emitting anything. (A user accumulator would
    // not see failed-attempt updates — countFailedValues=false — so the
    // injection counter is a static; the test session is single-JVM.)
    val failingMapper = Native { lines =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        FaultToleranceSpec.drills.incrementAndGet()
        throw new RuntimeException("F13 drill: injected first-attempt map failure")
      }
      NativeQueries.wcMapSh(lines)
    }
    val out = Files.createTempDirectory("graft-f13-")
    out.toFile.deleteOnExit()
    MrJob.run(spark, JobSpec(RefInput, out.toString,
      failingMapper, Native(NativeQueries.wcReduceSh),
      numMappers = 4, numReducers = 1))
    assert(FaultToleranceSpec.drills.get() === 1,
      "the injected failure must have fired exactly once (attempt 0), then been retried")
    // Identical to the undisturbed golden: the retry re-ran the SAME file
    // split (deterministic F2 assignment), not a different one.
    assert(readLines(out.resolve("part-00000")) === readLines(Paths.get(WcGolden)))
  }

  /** Generated corpus in four files, no reference checkout: a Zipf-ish
    * draw over nine edge-case words for one token in four, and a word from
    * a million-word generated vocabulary for the rest, so each reduce
    * partition's part file runs to tens of KiB. */
  private lazy val corpus: Seq[String] = {
    val rnd = new scala.util.Random(3)
    val words = Vector("the", "a", "", "[x]", "Zipf", "\u00e9t\u00e9", "\ud83d\ude00", "\ue000", "tail")
    Seq.fill(1600)(Seq.fill(1 + rnd.nextInt(6))(
      if (rnd.nextInt(4) > 0) f"generated-word-${rnd.nextInt(1 << 20)}%07d"
      else words(math.min(words.size - 1, (-math.log(rnd.nextDouble()) * 2).toInt))).mkString(" "))
  }

  /** The sink writes through an 8 KiB buffer; a reduce drill must die only
    * after its part's first `n` lines carry more bytes than that, so the
    * dying attempt has put a torn file on disk, not just in memory. */
  private def assertTearsFile(part: Array[Byte], n: Int): Unit = {
    val bytes = new String(part, StandardCharsets.UTF_8).split("\n").take(n)
      .map(_.getBytes(StandardCharsets.UTF_8).length + 1).sum
    assert(bytes > 8192, s"the drill dies after $n lines, only $bytes bytes: still inside the writer buffer")
  }

  private lazy val corpusDir: Path = {
    val in = Files.createTempDirectory("graft-f13-in-")
    in.toFile.deleteOnExit()
    corpus.grouped(400).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(in.resolve(f"file$i%02d"), chunk.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    in
  }

  private val Parts = (0 until 3).map(i => f"part-$i%05d")

  private def tmpOut(): Path = {
    val out = Files.createTempDirectory("graft-f13-out-")
    out.toFile.deleteOnExit()
    out
  }

  /** Word count of the corpus at R=3 into `out`; the bytes of each part file. */
  private def runWordCount(mapper: LineProc, reducer: LineProc, out: Path = tmpOut()): Seq[Array[Byte]] = {
    MrJob.run(spark, JobSpec(corpusDir.toString, out.toString, mapper, reducer,
      numMappers = 4, numReducers = 3))
    Parts.map(p => Files.readAllBytes(out.resolve(p)))
  }

  /** Every name in `dir`, hidden ones included, sorted. */
  private def listing(dir: Path): Seq[String] =
    Option(dir.toFile.list()).map(_.toSeq.sorted).getOrElse(Nil)

  /** `f`'s output, except that the first attempt (or, with `everyAttempt`,
    * each attempt) of `partition` in a stage whose tasks run `f` throws
    * once it has emitted `n` lines. */
  private def dieAfter(partition: Int, n: Int, f: Iterator[String] => Iterator[String],
      everyAttempt: Boolean = false): Native =
    Native { lines =>
      val tc = TaskContext.get()
      val out = f(lines)
      if (tc != null && tc.partitionId() == partition && (everyAttempt || tc.attemptNumber() == 0)) {
        FaultToleranceSpec.drills.incrementAndGet()
        out.zipWithIndex.map { case (l, i) =>
          if (i == n) throw new RuntimeException(s"F13 drill: attempt dies after $n lines")
          l
        }
      } else out
    }

  private def assertSameParts(drilled: Seq[Array[Byte]], undisturbed: Seq[Array[Byte]]): Unit = {
    assert(FaultToleranceSpec.drills.get() === 1,
      "the injected failure must have fired exactly once (attempt 0), then been retried")
    for (i <- 0 until 3)
      assert(java.util.Arrays.equals(drilled(i), undisturbed(i)), s"${Parts(i)} differs")
  }

  test("hermetic: an attempt that dies halfway through its map output leaves the output byte-identical") {
    // The first attempt of map partition 0 emits half of its lines into
    // the map task's line count, then dies; its partial counts must not
    // reach the output.
    val half = NativeQueries.wcMapSh(corpus.take(400).iterator).size / 2
    FaultToleranceSpec.drills.set(0)
    val drilled = runWordCount(dieAfter(0, half, NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh))
    val undisturbed = runWordCount(Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh))
    assertSameParts(drilled, undisturbed)
    val counts = drilled.flatMap(b => new String(b, StandardCharsets.UTF_8).split("\n"))
      .filter(_.nonEmpty)
      .map { l => val i = l.lastIndexOf('\t'); l.substring(0, i) -> l.substring(i + 1).toLong }
      .toMap
    val expect = corpus.flatMap(_.split("[\\[\\] \t]", -1)).map(_.toLowerCase)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(counts === expect)
  }

  test("hermetic: a map attempt that dies after its count table has flushed leaves the output byte-identical") {
    // Each word count line fans out into 64 tagged copies, so map partition
    // 0 emits more distinct lines than the count table holds. Its first
    // attempt dies only after the table filled and handed its pairs to the
    // shuffle writer; the retry must rewrite the whole map output.
    val fanOut: Iterator[String] => Iterator[String] = lines =>
      NativeQueries.wcMapSh(lines).flatMap(l => Iterator.tabulate(64)(j => s"$j:$l"))
    val out0 = fanOut(corpus.take(400).iterator).toVector
    val n = out0.size * 3 / 4
    assert(new MrJob.LineCounts(out0.take(n).iterator).size > out0.take(n).distinct.size,
      "the table must have flushed before the attempt dies")
    FaultToleranceSpec.drills.set(0)
    val drilled = runWordCount(dieAfter(0, n, fanOut), Native(NativeQueries.wcReduceSh))
    val undisturbed = runWordCount(Native(fanOut), Native(NativeQueries.wcReduceSh))
    assertSameParts(drilled, undisturbed)
  }

  test("hermetic: a reduce attempt that dies halfway through its output leaves the output byte-identical") {
    // The first attempt of reduce partition 0 emits half of its part
    // file's lines, then dies; the retry re-reads the counted shuffle
    // output, expands it again and rewrites the whole file.
    val undisturbed = runWordCount(Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh))
    val half = new String(undisturbed(0), StandardCharsets.UTF_8).count(_ == '\n') / 2
    assert(half > 0)
    assertTearsFile(undisturbed(0), half)
    FaultToleranceSpec.drills.set(0)
    val drilled = runWordCount(Native(NativeQueries.wcMapSh), dieAfter(0, half, NativeQueries.wcReduceSh))
    assertSameParts(drilled, undisturbed)
  }

  test("hermetic: a committed job's output dir holds exactly part-00000 … part-00002") {
    // No checksum files, no _SUCCESS marker, no _temporary scratch dir.
    val out = tmpOut()
    val parts = runWordCount(Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh), out)
    assert(listing(out) === Parts)
    assert(parts.forall(_.nonEmpty))
  }

  test("hermetic: a job whose reduce task fails on every attempt leaves its output dir empty") {
    // Reduce partition 1 dies halfway through its part file on both of its
    // attempts, so the job fails; neither its half-written file nor the
    // other partitions' committed files may stay behind.
    val undisturbed = runWordCount(Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh))
    val half = new String(undisturbed(1), StandardCharsets.UTF_8).count(_ == '\n') / 2
    assert(half > 0)
    assertTearsFile(undisturbed(1), half)
    FaultToleranceSpec.drills.set(0)
    val out = tmpOut()
    intercept[org.apache.spark.SparkException] {
      runWordCount(Native(NativeQueries.wcMapSh),
        dieAfter(1, half, NativeQueries.wcReduceSh, everyAttempt = true), out)
    }
    assert(FaultToleranceSpec.drills.get() === 2, "both attempts of reduce partition 1 must have died")
    assert(listing(out) === Nil)
  }

  test("hermetic: a rerun into the same output dir replaces its part files byte for byte") {
    val out = tmpOut()
    val first = runWordCount(Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh), out)
    // A stale, half-written part file from an earlier run must be replaced.
    Files.write(out.resolve(Parts(1)), first(1).take(first(1).length / 2))
    val rerun = runWordCount(Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh), out)
    for (i <- 0 until 3)
      assert(java.util.Arrays.equals(rerun(i), first(i)), s"${Parts(i)} differs")
    assert(listing(out) === Parts)
  }
}

object FaultToleranceSpec {
  val drills = new AtomicInteger(0)
}
