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
  * is a first-attempt exception inside a map task; the test session runs
  * `local[4, 2]` (`spark.task.maxFailures` semantics: tasks get one
  * retry), so the DAGScheduler must resubmit the attempt and the job must
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

  test("hermetic: an attempt that dies halfway through its map output leaves the output byte-identical") {
    // Generated corpus, no reference checkout. The first attempt of map
    // partition 0 emits half of its records into the map-side combine,
    // then dies; its partial counts must not reach the output.
    val rnd = new scala.util.Random(3)
    val words = Vector("the", "a", "", "[x]", "Zipf", "\u00e9t\u00e9", "\ud83d\ude00", "\ue000", "tail")
    val lines = Seq.fill(1600)(Seq.fill(1 + rnd.nextInt(6))(
      words(math.min(words.size - 1, (-math.log(rnd.nextDouble()) * 2).toInt))).mkString(" "))
    val in = Files.createTempDirectory("graft-f13-in-")
    in.toFile.deleteOnExit()
    lines.grouped(400).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(in.resolve(f"file$i%02d"), chunk.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    val half = NativeQueries.wcMapSh(lines.take(400).iterator).size / 2
    FaultToleranceSpec.drills.set(0)
    val failingMapper = Native { lines =>
      val tc = TaskContext.get()
      val out = NativeQueries.wcMapSh(lines)
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        FaultToleranceSpec.drills.incrementAndGet()
        out.zipWithIndex.map { case (l, i) =>
          if (i == half) throw new RuntimeException("F13 drill: map attempt dies halfway")
          l
        }
      } else out
    }
    def run(mapper: LineProc): Seq[Array[Byte]] = {
      val out = Files.createTempDirectory("graft-f13-out-")
      out.toFile.deleteOnExit()
      MrJob.run(spark, JobSpec(in.toString, out.toString, mapper, Native(NativeQueries.wcReduceSh),
        numMappers = 4, numReducers = 3))
      (0 until 3).map(i => Files.readAllBytes(out.resolve(f"part-$i%05d")))
    }
    val drilled = run(failingMapper)
    assert(FaultToleranceSpec.drills.get() === 1,
      "the injected failure must have fired exactly once (attempt 0), then been retried")
    val undisturbed = run(Native(NativeQueries.wcMapSh))
    for (i <- 0 until 3)
      assert(java.util.Arrays.equals(drilled(i), undisturbed(i)), f"part-$i%05d differs")
    val counts = drilled.flatMap(b => new String(b, StandardCharsets.UTF_8).split("\n"))
      .filter(_.nonEmpty)
      .map { l => val i = l.lastIndexOf('\t'); l.substring(0, i) -> l.substring(i + 1).toLong }
      .toMap
    val expect = lines.flatMap(_.split("[\\[\\] \t]", -1)).map(_.toLowerCase)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(counts === expect)
  }
}

object FaultToleranceSpec {
  val drills = new AtomicInteger(0)
}
