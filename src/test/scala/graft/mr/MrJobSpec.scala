package graft.mr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.TempDirs.withTempDir

/** End-to-end jobs against the reference's own fixtures and goldens
  * (read-only under /root/reference; outputs go to temp dirs).
  * Mirrors tests/test_integration_00..02 semantics. */
class MrJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val RefInput = "/root/reference/tests/testdata/input"
  private val RefExec = "/root/reference/tests/testdata/exec"
  private val WcGolden = "/root/reference/tests/testdata/correct/word_count_correct.txt"
  private val GrepGolden = "/root/reference/tests/testdata/correct/grep_correct.txt"

  private def haveFixtures = Files.isDirectory(Paths.get(RefInput))

  private def tmpOut(tmp: Path, tag: String): Path = Files.createTempDirectory(tmp, s"$tag-")

  private def readLines(p: Path): List[String] =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n", -1).toList.dropRight(1) // files end with trailing newline

  /** `lines` written into three files of a fresh input dir under `tmp`. */
  private def inputOf(tmp: Path, tag: String, lines: Seq[String]): Path = {
    val in = Files.createTempDirectory(tmp, s"$tag-in-")
    lines.grouped((lines.size + 2) / 3).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(in.resolve(f"file$i%02d"), chunk.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    in
  }

  /** The bytes of each part file of a job over `in` with R reducers. */
  private def partBytes(tmp: Path, in: Path, mapper: LineProc, reducer: LineProc, r: Int): Seq[Seq[Byte]] = {
    val out = tmpOut(tmp, "twin")
    MrJob.run(spark, JobSpec(in.toString, out.toString, mapper, reducer, numMappers = 2, numReducers = r))
    (0 until r).map(i => Files.readAllBytes(out.resolve(f"part-$i%05d")).toSeq)
  }

  test("native word count matches word_count_correct.txt (merged, like test_integration_01)") {
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val out = tmpOut(tmp, "wc-native")
      val engine = new MapReduceEngine(spark)
      val (_, parts) = engine.submit(JobSpec(RefInput, out.toString,
        Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh),
        numMappers = 2, numReducers = 2))
      assert(parts.size === 2)
      val got = parts.flatMap(p => readLines(Paths.get(p))).sorted(CByteOrdering)
      val want = readLines(Paths.get(WcGolden)).sorted(CByteOrdering)
      assert(got === want)
    }
  }

  test("native word count with R=1 reproduces the golden byte order exactly") {
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val out = tmpOut(tmp, "wc-r1")
      MrJob.run(spark, JobSpec(RefInput, out.toString,
        Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh),
        numMappers = 4, numReducers = 1))
      val got = readLines(out.resolve("part-00000"))
      val want = readLines(Paths.get(WcGolden))
      assert(got === want) // C-sorted stream in, grouped stream out — no resort
    }
  }

  test("exec word count (reference wc_map.sh/wc_reduce.sh) matches golden") {
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val out = tmpOut(tmp, "wc-exec")
      MrJob.run(spark, JobSpec(RefInput, out.toString,
        Exec(Seq(s"$RefExec/wc_map.sh")), Exec(Seq(s"$RefExec/wc_reduce.sh")),
        numMappers = 2, numReducers = 2))
      val got = (0 until 2).flatMap(i => readLines(out.resolve(f"part-$i%05d")))
        .sorted(CByteOrdering).toList
      val want = readLines(Paths.get(WcGolden)).sorted(CByteOrdering)
      assert(got === want)
    }
  }

  test("exec .py word count (reference wc_map.py/wc_reduce.py) == native py twins byte-exactly") {
    // The .py pair differs from the .sh pair: whitespace str.split() with
    // no empties, NO lowercasing, and SPACE-separated reduce output
    // (wc_reduce.py:16 f-string). Different mapper counts on purpose — the
    // output must be invariant to the map-task split.
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val outExec = tmpOut(tmp, "wcpy-exec")
      val outNat = tmpOut(tmp, "wcpy-native")
      MrJob.run(spark, JobSpec(RefInput, outExec.toString,
        Exec(Seq(s"$RefExec/wc_map.py")), Exec(Seq(s"$RefExec/wc_reduce.py")),
        numMappers = 2, numReducers = 2))
      MrJob.run(spark, JobSpec(RefInput, outNat.toString,
        Native(NativeQueries.wcMapPy), Native(NativeQueries.wcReducePy),
        numMappers = 3, numReducers = 2))
      for (i <- 0 until 2) {
        val got = readLines(outExec.resolve(f"part-$i%05d"))
        assert(got.nonEmpty)
        assert(got === readLines(outNat.resolve(f"part-$i%05d")))
        // Space-separated "<key> <count>" reduce output, per the .py contract.
        assert(got.forall(l => l.matches(".* \\d+") && !l.contains("\t")))
      }
    }
  }

  test("vendored wc scripts reproduce word_count_correct.txt (no reference binaries)") {
    // The resource-extracted pipeline (what mr_wordcount_exec uses when the
    // reference checkout is absent) must hit the same golden as the
    // reference's own wc_map.sh/wc_reduce.sh.
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val res = ExecFixtures.extract(tmp, "wc_map.sh", "wc_reduce.sh")
      val out = tmpOut(tmp, "wc-vendored")
      MrJob.run(spark, JobSpec(RefInput, out.toString,
        Exec(Seq(res(0))), Exec(Seq(res(1))), numMappers = 2, numReducers = 1))
      assert(readLines(out.resolve("part-00000")) === readLines(Paths.get(WcGolden)))
    }
  }

  test("exec grep matches grep_correct.txt byte-exactly (test_integration_00: M=2, R=1)") {
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val out = tmpOut(tmp, "grep-exec")
      MrJob.run(spark, JobSpec(RefInput, out.toString,
        Exec(Seq(s"$RefExec/grep_map.py")), Exec(Seq(s"$RefExec/grep_reduce.py")),
        numMappers = 2, numReducers = 1))
      assert(readLines(out.resolve("part-00000")) === readLines(Paths.get(GrepGolden)))
    }
  }

  test("exec grep with a NON-DEFAULT argv query term (grep_map.py sys.argv) matches the native twin") {
    // The reference's grep_map.py reads its query from sys.argv (falling
    // back to "product"); Exec(Seq(script, arg)) must deliver the argument
    // to the forked process. Differential golden: the native grepMap twin
    // is already proven byte-exact against the reference's grep fixtures,
    // so exec-with-argv must reproduce it for a term the default would
    // never match.
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val term = "money"
      val outExec = tmpOut(tmp, "grep-exec-argv")
      MrJob.run(spark, JobSpec(RefInput, outExec.toString,
        Exec(Seq(s"$RefExec/grep_map.py", term)), Exec(Seq(s"$RefExec/grep_reduce.py")),
        numMappers = 2, numReducers = 1))
      val outNative = tmpOut(tmp, "grep-native-argv")
      MrJob.run(spark, JobSpec(RefInput, outNative.toString,
        Native(NativeQueries.grepMap(term)), Native(NativeQueries.grepReduce),
        numMappers = 2, numReducers = 1))
      val got = readLines(outExec.resolve("part-00000"))
      assert(got === readLines(outNative.resolve("part-00000")))
      assert(got.nonEmpty, s"term '$term' must match some input lines or the golden is vacuous")
      assert(got !== readLines(Paths.get(GrepGolden)),
        "argv term must change the output vs the default 'product' query")
    }
  }

  test("native grep matches grep golden too") {
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val out = tmpOut(tmp, "grep-native")
      MrJob.run(spark, JobSpec(RefInput, out.toString,
        Native(NativeQueries.grepMap("product")), Native(NativeQueries.grepReduce),
        numMappers = 2, numReducers = 1))
      assert(readLines(out.resolve("part-00000")) === readLines(Paths.get(GrepGolden)))
    }
  }

  test("map routing matches test_worker_08 partition goldens (R=2)") {
    // Partition+sort the mapper output of the reference input through the
    // job's own shuffle and check the per-partition key sets against the
    // md5 routing contract.
    assume(haveFixtures)
    val mapped = spark.sparkContext.textFile(RefInput).mapPartitions(NativeQueries.wcMapSh)
    val parts = MrJob.shuffleSort(mapped, 2)
      .mapPartitionsWithIndex { case (pid, it) => it.map(l => (pid, Md5Partitioning.keyOf(l))) }
      .distinct().collect().toSet
    for (k <- Seq("", "bye", "hello") if parts.exists(_._2 == k))
      assert(parts.contains((0, k)) && !parts.contains((1, k)))
    for (k <- Seq("world", "goodbye", "hadoop") if parts.exists(_._2 == k))
      assert(parts.contains((1, k)) && !parts.contains((0, k)))
  }

  test("hermetic: shuffleSort routes test_worker_08's keys to their golden partitions (R=2)") {
    // tests/test_worker_08.py:226-243: "", "bye", "hello" go to partition
    // 0 and "world", "goodbye", "hadoop" to partition 1; each partition's
    // stream comes out C-sorted with every duplicate kept.
    val text = Seq("hello world", "Goodbye  Hadoop", "bye\thello", "", "world[bye]")
    val mapped = spark.sparkContext.parallelize(text, 2).mapPartitions(NativeQueries.wcMapSh)
    val parts = MrJob.shuffleSort(mapped, 2).glom().collect().map(_.toList).toList
    assert(parts === List(
      List("\t1", "\t1", "\t1", "bye\t1", "bye\t1", "hello\t1", "hello\t1"),
      List("goodbye\t1", "hadoop\t1", "world\t1", "world\t1")))
  }

  test("hermetic: exec word count (vendored wc_map.sh/wc_reduce.sh) == native twins byte-exactly") {
    // A Zipf-ish draw over words that hit tr's split set (brackets, TABs,
    // runs of spaces), ASCII case, non-ASCII and supplementary characters,
    // with empty lines; and lines of distinct mixed-case words.
    withTempDir("graft-mr-") { tmp =>
      val rnd = new scala.util.Random(17)
      val words = Vector("the", "The", "THE", "a", "[tag]", "x[y]z", "", "\t", "caf\u00e9", "\ud83d\ude00",
        "\ue000", "Zipf", "tail")
      val zipf = Seq.fill(800)(Seq.fill(rnd.nextInt(8))(
        words(math.min(words.size - 1, (-math.log(rnd.nextDouble()) * 3).toInt))).mkString(" "))
      val distinct = (0 until 800).map(i => s"w$i-${rnd.alphanumeric.take(1 + rnd.nextInt(10)).mkString} W$i")
      val Seq(map, reduce) = ExecFixtures.extract(tmp, "wc_map.sh", "wc_reduce.sh")
      for ((tag, lines) <- Seq("zipf" -> zipf, "distinct" -> distinct)) {
        val in = inputOf(tmp, s"wc-$tag", lines)
        val exec = partBytes(tmp, in, Exec(Seq(map)), Exec(Seq(reduce)), 3)
        val native = partBytes(tmp, in, Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh), 3)
        assert(exec.forall(_.nonEmpty), s"$tag: an empty part file")
        for (i <- 0 until 3) assert(exec(i) === native(i), f"$tag: part-$i%05d differs")
      }
    }
  }

  test("hermetic: exec .py word count (vendored wc_map.py/wc_reduce.py) == native py twins byte-exactly") {
    // Python str.split() semantics over runs of Unicode whitespace, no case
    // folding, and the reducer's space-separated "key count" lines.
    withTempDir("graft-mr-") { tmp =>
      val Seq(map, reduce) = ExecFixtures.extract(tmp, "wc_map.py", "wc_reduce.py")
      for ((tag, lines) <- ExecFixtures.pyWordCorpora(23)) {
        val in = inputOf(tmp, s"wcpy-$tag", lines)
        val exec = partBytes(tmp, in, Exec(Seq(map)), Exec(Seq(reduce)), 3)
        val native = partBytes(tmp, in, Native(NativeQueries.wcMapPy), Native(NativeQueries.wcReducePy), 3)
        assert(exec.forall(_.nonEmpty), s"$tag: an empty part file")
        for (i <- 0 until 3) assert(exec(i) === native(i), f"$tag: part-$i%05d differs")
      }
    }
  }

  test("hermetic: exec grep (vendored grep_*.py) == native twins, default and argv query") {
    // Lines padded with spaces and TABs (both sides strip them), some with
    // an inner TAB (both reducers drop those), and the query words in
    // several cases and inside longer words.
    withTempDir("graft-mr-") { tmp =>
      val rnd = new scala.util.Random(19)
      val words = Vector("product", "Product", "PRODUCTS", "byproduct", "money", "Money", "mon", "ey",
        "caf\u00e9", "\ud83d\ude00", "plain", "text")
      val pads = Vector("", " ", "  ", "\t")
      val lines = Seq.fill(600)(pads(rnd.nextInt(pads.size)) +
        Seq.fill(rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(if (rnd.nextInt(10) == 0) "\t" else " ") +
        pads(rnd.nextInt(pads.size)))
      val in = inputOf(tmp, "grep", lines)
      val Seq(map, reduce) = ExecFixtures.extract(tmp, "grep_map.py", "grep_reduce.py")
      val outs = for ((query, argv) <- Seq("product" -> Seq(map), "money" -> Seq(map, "money"))) yield {
        val exec = partBytes(tmp, in, Exec(argv), Exec(Seq(reduce)), 1)
        val native = partBytes(tmp, in, Native(NativeQueries.grepMap(query)), Native(NativeQueries.grepReduce), 1)
        assert(exec.head.nonEmpty, s"query '$query' matches no line: the comparison is vacuous")
        assert(exec === native, s"query '$query'")
        exec
      }
      assert(outs(0) !== outs(1), "the argv query must change the output")
    }
  }

  test("input files named with a comma, brackets, braces or * are each read once, as named") {
    // A path string would be split at the comma, and Hadoop would glob the
    // rest: in[1] matches only in1, x{y} only xy, and f* both f* and fx.
    withTempDir("graft-mr-") { tmp =>
      val files = Seq("a,b" -> "comma", "in[1]" -> "bracket", "in1" -> "one", "x{y}" -> "brace",
        "xy" -> "plain", "f*" -> "star", "fx" -> "sibling")
      val in = Files.createTempDirectory(tmp, "names-in-")
      for ((name, word) <- files)
        Files.write(in.resolve(name), s"$word $word\n".getBytes(StandardCharsets.UTF_8))
      val want = files.map { case (_, word) => word -> 2L }.toMap
      for (split <- Seq(false, true)) {
        val out = tmpOut(tmp, s"names-$split")
        val spec = JobSpec(in.toString, out.toString,
          Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh),
          numMappers = 2, numReducers = 3, splitFilesByBytes = split)
        MrJob.run(spark, spec)
        val got = (0 until 3).flatMap(i => readLines(out.resolve(f"part-$i%05d")))
          .map { l => val i = l.lastIndexOf('\t'); l.substring(0, i) -> l.substring(i + 1).toLong }
          .toMap
        assert(got === want, s"splitFilesByBytes=$split")
        if (!split) {
          val listed = MrJob.listInputFiles(spark, in.toString)
          assert(MrJob.readInput(spark.sparkContext, listed, spec).getNumPartitions === files.size,
            "compat mode reads one partition per file")
        }
      }
    }
  }

  test("randomized corpus: MR pipeline counts == native groupBy counts") {
    // Differential check with a seeded random corpus (deterministic):
    // union of all part files must agree with a straight DataFrame count.
    withTempDir("graft-mr-") { tmp =>
      val rnd = new scala.util.Random(42)
      // Brackets included deliberately: tr '[ \t]' treats them as literal
      // split characters, so "[tag]" must count as ""/"tag"/"" segments.
      val words = Vector("alpha", "beta", "gamma", "", "DELTA", "épsilon", "[tag]", "mix[ed", "a]b")
      val lines = Seq.fill(200)(Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" "))
      val in = Files.createTempDirectory(tmp, "rand-in-")
      lines.grouped(50).zipWithIndex.foreach { case (chunk, i) =>
        Files.write(in.resolve(f"file$i%02d"), chunk.mkString("", "\n", "\n").getBytes("UTF-8"))
      }
      val out = tmpOut(tmp, "rand")
      MrJob.run(spark, JobSpec(in.toString, out.toString,
        Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh),
        numMappers = 3, numReducers = 4))
      val got = (0 until 4).flatMap(i => readLines(out.resolve(f"part-$i%05d")))
        .map { l => val i = l.lastIndexOf('\t'); l.substring(0, i) -> l.substring(i + 1).toLong }
        .toMap
      val expect = lines.flatMap(_.split("[\\[\\] \t]", -1)).map(_.toLowerCase)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got === expect)
    }
  }

  test("bracket corpus: reference wc_map.sh/wc_reduce.sh == native twins byte-exactly") {
    // The reference fixtures contain no '['/']', so the goldens cannot
    // distinguish "split on space/tab" from tr's real "split on
    // [, ], space, tab". This differential runs the reference's OWN
    // executables on a bracket-heavy corpus and byte-compares against the
    // native twins — ground truth for the ADVICE bracket fix.
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val lines = Seq("alpha [tag] beta", "x[y]z", "[[]]", "plain words here",
        "mix[ed bra]ckets [and] SHOUT[ING]", "")
      val in = Files.createTempDirectory(tmp, "bracket-in-")
      Files.write(in.resolve("file00"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      val outExec = tmpOut(tmp, "bracket-exec")
      val outNat = tmpOut(tmp, "bracket-native")
      MrJob.run(spark, JobSpec(in.toString, outExec.toString,
        Exec(Seq(s"$RefExec/wc_map.sh")), Exec(Seq(s"$RefExec/wc_reduce.sh")),
        numMappers = 1, numReducers = 2))
      MrJob.run(spark, JobSpec(in.toString, outNat.toString,
        Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh),
        numMappers = 1, numReducers = 2))
      for (i <- 0 until 2)
        assert(readLines(outExec.resolve(f"part-$i%05d")) === readLines(outNat.resolve(f"part-$i%05d")))
      // Sanity: the brackets really did split ("tag" counted, "[tag]" never emitted).
      val all = (0 until 2).flatMap(i => readLines(outNat.resolve(f"part-$i%05d")))
      assert(all.contains("tag\t1") && !all.exists(_.startsWith("[tag]")))
    }
  }

  test("byte-split native mode (F2 large-file path) reproduces the golden byte-exactly") {
    // splitFilesByBytes lets Hadoop TextInputFormat cut files into byte
    // ranges (the 10 GB-file shape) instead of one-partition-per-file;
    // line-local mappers must produce identical output. Verified against
    // the R=1 golden, and the map stage must actually have >1 partition.
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val out = tmpOut(tmp, "wc-split")
      val spec = JobSpec(RefInput, out.toString,
        Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh),
        numMappers = 8, numReducers = 1, splitFilesByBytes = true)
      MrJob.run(spark, spec)
      assert(readLines(out.resolve("part-00000")) === readLines(Paths.get(WcGolden)))
      val files = MrJob.listInputFiles(spark, RefInput)
      assert(MrJob.readInput(spark.sparkContext, files, spec).getNumPartitions > 1)
    }
  }

  test("Md5LinePartitioner equality: same R equal, different R not") {
    // Equal partitioners make Spark treat RDDs partitioned by each as
    // co-partitioned and skip the shuffle on a cogroup, so equality must
    // mean identical routing.
    assert(new Md5LinePartitioner(4) == new Md5LinePartitioner(4))
    assert(new Md5LinePartitioner(4).hashCode == new Md5LinePartitioner(4).hashCode)
    assert(new Md5LinePartitioner(4) != new Md5LinePartitioner(8))
    assert(new Md5LinePartitioner(4) != new org.apache.spark.HashPartitioner(4))
  }

  test("FIFO engine assigns sequential job ids") {
    assume(haveFixtures)
    withTempDir("graft-mr-") { tmp =>
      val engine = new MapReduceEngine(spark)
      val (id0, _) = engine.submit(JobSpec(RefInput, tmpOut(tmp, "fifo0").toString,
        Native(NativeQueries.grepMap("product")), Native(NativeQueries.grepReduce), 1, 1))
      val (id1, _) = engine.submit(JobSpec(RefInput, tmpOut(tmp, "fifo1").toString,
        Native(NativeQueries.grepMap("product")), Native(NativeQueries.grepReduce), 1, 1))
      assert(id0 === 0 && id1 === 1)
    }
  }

  test("hermetic: FIFO engine assigns sequential job ids and makes each output dir on admission") {
    withTempDir("graft-mr-") { tmp =>
      val in = Files.createTempDirectory(tmp, "fifo-in-")
      for (i <- 0 until 3)
        Files.write(in.resolve(s"file0$i"), s"a product $i\nnone\n".getBytes(StandardCharsets.UTF_8))
      val engine = new MapReduceEngine(spark)
      val outs = Seq("fifo0", "fifo1").map(tag => tmpOut(tmp, tag).resolve("out"))
      val ids = outs.map { out =>
        engine.submit(JobSpec(in.toString, out.toString,
          Native(NativeQueries.grepMap("product")), Native(NativeQueries.grepReduce), 1, 1))._1
      }
      assert(ids === Seq(0, 1))
      for (out <- outs) {
        assert(out.toFile.list().toSeq === Seq("part-00000"))
        assert(readLines(out.resolve("part-00000")) === List("a product 0", "a product 1", "a product 2"))
      }
    }
  }

  test("hermetic: shuffleSort merges test_worker_07's sorted runs into one reduce stream (R=1)") {
    // The two map outputs of test_worker_07 (maptask0000{0,1}-part00000),
    // one map partition each, through the job's own shuffle and the wc
    // reducer; expected output per the reference's
    // tests/test_worker_07.py:127-135.
    val runs = Seq(Seq("\t1", "bye\t1", "hello\t1"), Seq("\t1", "hello\t1"))
    val maps = spark.sparkContext.parallelize(runs, 2).flatMap(identity)
    assert(maps.glom().collect().map(_.toSeq).toSeq === runs)
    val merged = MrJob.shuffleSort(maps, 1)
    assert(merged.mapPartitions(NativeQueries.wcReduceSh).collect().toList === List("\t2", "bye\t1", "hello\t2"))
  }
}
