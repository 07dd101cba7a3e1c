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
  * produce byte-identical output to an undisturbed run. */
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

  /** Generated Zipf-ish corpus in four files, no reference checkout. */
  private lazy val corpus: Seq[String] = {
    val rnd = new scala.util.Random(3)
    val words = Vector("the", "a", "", "[x]", "Zipf", "\u00e9t\u00e9", "\ud83d\ude00", "\ue000", "tail")
    Seq.fill(1600)(Seq.fill(1 + rnd.nextInt(6))(
      words(math.min(words.size - 1, (-math.log(rnd.nextDouble()) * 2).toInt))).mkString(" "))
  }

  private lazy val corpusDir: Path = {
    val in = Files.createTempDirectory("graft-f13-in-")
    in.toFile.deleteOnExit()
    corpus.grouped(400).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(in.resolve(f"file$i%02d"), chunk.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    in
  }

  /** Word count of the corpus at R=3; the bytes of each part file. */
  private def runWordCount(mapper: LineProc, reducer: LineProc): Seq[Array[Byte]] = {
    val out = Files.createTempDirectory("graft-f13-out-")
    out.toFile.deleteOnExit()
    MrJob.run(spark, JobSpec(corpusDir.toString, out.toString, mapper, reducer,
      numMappers = 4, numReducers = 3))
    (0 until 3).map(i => Files.readAllBytes(out.resolve(f"part-$i%05d")))
  }

  /** `f`'s output, except that the first attempt of `partition` in a stage
    * whose tasks run `f` throws once it has emitted `n` lines. */
  private def dieAfter(partition: Int, n: Int, f: Iterator[String] => Iterator[String]): Native =
    Native { lines =>
      val tc = TaskContext.get()
      val out = f(lines)
      if (tc != null && tc.partitionId() == partition && tc.attemptNumber() == 0) {
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
      assert(java.util.Arrays.equals(drilled(i), undisturbed(i)), f"part-$i%05d differs")
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

  test("hermetic: a reduce attempt that dies halfway through its output leaves the output byte-identical") {
    // The first attempt of reduce partition 0 emits half of its part
    // file's lines, then dies; the retry re-reads the counted shuffle
    // output, expands it again and rewrites the whole file.
    val undisturbed = runWordCount(Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh))
    val half = new String(undisturbed(0), StandardCharsets.UTF_8).count(_ == '\n') / 2
    assert(half > 0)
    FaultToleranceSpec.drills.set(0)
    val drilled = runWordCount(Native(NativeQueries.wcMapSh), dieAfter(0, half, NativeQueries.wcReduceSh))
    assertSameParts(drilled, undisturbed)
  }
}

object FaultToleranceSpec {
  val drills = new AtomicInteger(0)
}
