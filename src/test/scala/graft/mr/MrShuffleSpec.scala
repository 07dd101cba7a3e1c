package graft.mr

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.TempDirs.withTempDir

/** The shuffle contract byte for byte, with no reference checkout: an
  * identity job over generated corpora must write into each `part-%05d`
  * exactly the lines an independent oracle routes there — md5 of the key
  * bytes folded mod R — in unsigned-byte order, duplicates kept. The
  * reducer is a Native identity and `/bin/cat` through `RDD.pipe`; the
  * corpora range from a few lines repeated thousands of times (the
  * counted shuffle's best case) to all-distinct lines. */
class MrShuffleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val R = 4

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** int(md5(key), 16) % r, folded byte by byte. */
  private def route(line: String, r: Int): Int = {
    val key = line.takeWhile(_ != '\t')
    MessageDigest.getInstance("MD5").digest(utf8(key))
      .foldLeft(0L)((acc, b) => ((acc << 8) | (b & 0xffL)) % r).toInt
  }

  /** Expected bytes of each part file. */
  private def oracle(lines: Seq[String], r: Int): Seq[Array[Byte]] = {
    val byPart = lines.groupBy(route(_, r))
    (0 until r).map { p =>
      val out = new ByteArrayOutputStream()
      byPart.getOrElse(p, Nil).map(utf8)
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
        .foreach { b => out.write(b); out.write('\n') }
      out.toByteArray
    }
  }

  /** Writes the lines into three files of `dir`; no line holds a `\r` or
    * `\n`, so every line reads back as written. */
  private def writeInput(dir: Path, lines: Seq[String]): Unit =
    lines.grouped(math.max(1, (lines.size + 2) / 3)).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(dir.resolve(f"file$i%02d"), utf8(chunk.mkString("", "\n", "\n")))
    }

  private def assertPartsMatch(out: Path, want: Seq[Array[Byte]], name: String): Unit =
    for (p <- 0 until R) {
      val part = f"part-$p%05d"
      assert(java.util.Arrays.equals(Files.readAllBytes(out.resolve(part)), want(p)),
        s"$name: $part differs from the oracle")
    }

  private def assertIdentityJobsMatchOracle(lines: Seq[String]): Unit =
    withTempDir("graft-mr-shuffle-in-") { in =>
      writeInput(in, lines)
      val want = oracle(lines, R)
      val identity: Iterator[String] => Iterator[String] = it => it
      val jobs = Seq(
        "native" -> (Native(identity), false),
        "exec cat" -> (Exec(Seq("/bin/cat")), false),
        "native, byte-split" -> (Native(identity), true))
      for ((name, (reducer, split)) <- jobs) withTempDir("graft-mr-shuffle-out-") { out =>
        MrJob.run(spark, JobSpec(in.toString, out.toString, Native(identity), reducer,
          numMappers = 2, numReducers = R, splitFilesByBytes = split))
        assertPartsMatch(out, want, name)
      }
    }

  /** The shuffle dependencies under `rdd`, nearest first. */
  private def shuffleDeps(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
    rdd.dependencies.flatMap {
      case d: ShuffleDependency[_, _, _] => d +: shuffleDeps(d.rdd)
      case d => shuffleDeps(d.rdd)
    }

  test("the shuffle routes counted lines: no aggregator, no map-side combine, C-byte key order") {
    // Spark's map-side combine hashes every record before combining it;
    // counting inside the map task first hashes each distinct line once.
    val sorted = MrJob.shuffleSort(spark.sparkContext.parallelize(Seq("b\t1", "a\t1", "b\t1"), 2), R)
    val deps = shuffleDeps(sorted)
    assert(deps.size === 1)
    val dep = deps.head
    assert(!dep.mapSideCombine)
    assert(dep.aggregator.isEmpty)
    val ordering: Option[Any] = dep.keyOrdering
    assert(ordering === Some(CByteOrdering))
    dep.partitioner match {
      case p: Md5LinePartitioner => assert(p.numPartitions === R)
      case p => fail(s"partitioner is ${p.getClass.getName}, not Md5LinePartitioner")
    }
    assert(sorted.collect().toSeq.sortWith(CByteOrdering.lt) === Seq("a\t1", "b\t1", "b\t1"))
  }

  private val words = Vector("alpha", "beta", "", "Gamma", "\u00e9psilon", "\u65e5\u672c",
    "a\tb", "k\t", "\tv", "x\ty\tz", "\ue000", "\ufffd", "\ud83d\ude00", "\ud800\udc00", "zeta")

  test("duplicate-heavy Zipf lines: every part file equals the oracle byte for byte") {
    val rnd = new scala.util.Random(7)
    val cdf = words.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
    def zipf(): String = {
      val u = rnd.nextDouble() * cdf.last
      words(cdf.indexWhere(_ >= u))
    }
    assertIdentityJobsMatchOracle(Seq.fill(6000)(s"${zipf()}\t1"))
  }

  test("all-distinct lines: every part file equals the oracle byte for byte") {
    val rnd = new scala.util.Random(11)
    assertIdentityJobsMatchOracle((0 until 3000).map(i =>
      s"${rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString}-$i\t${rnd.nextInt()}"))
  }

  test("empty lines, lines with no TAB and keys followed by several TABs") {
    val edge = Seq("", "", "\t", "\t\t", "noTab", "noTab", "a\tb\tc", "a\tb", "a", "a\t",
      "\t\tx", " ", " \t ", "[x]\t1", "a b\t1", "a\u0001\t1")
    assertIdentityJobsMatchOracle((0 until 40).flatMap(_ => edge))
  }

  test("non-ASCII, supplementary characters and U+E000-U+FFFF beside surrogate pairs") {
    // UTF-16 order puts U+E000-U+FFFF after every supplementary character;
    // UTF-8 (C-locale) order puts them before.
    val bmpHigh = Seq("\ue000", "\ue001", "\ufb01", "\uff21", "\ufffd", "\uffff")
    val astral = Seq("\ud800\udc00", "\ud83d\ude00", "\ud83e\udd80", "\udbff\udfff")
    val mixed = for (b <- bmpHigh; a <- astral; t <- Seq("", "\t1", "\tv\tw"))
      yield Seq(s"k$b$t", s"k$a$t", s"$a$b$t", s"$b$a$t", s"\u00e9$a$t", s"\u00df$b$t")
    assertIdentityJobsMatchOracle(mixed.flatten ++ mixed.flatten.take(50))
  }

  /** An identity job over `lines` in ONE file (so one map task), byte for
    * byte against the oracle with both reducers, after checking that the
    * map task's count table flushed: the shuffle's parent RDD emits more
    * `(line, n)` pairs than there are distinct lines. */
  private def assertFlushingJobMatchesOracle(lines: Seq[String]): Unit =
    withTempDir("graft-mr-flush-in-") { in => withTempDir("graft-mr-flush-out-") { out =>
      Files.write(in.resolve("file00"), utf8(lines.mkString("", "\n", "\n")))
      val identity: Iterator[String] => Iterator[String] = it => it
      val spec = JobSpec(in.toString, "", Native(identity), Native(identity), numMappers = 2, numReducers = R)
      val mapped = MrJob.readInput(spark.sparkContext, MrJob.listInputFiles(spark, in.toString), spec)
      assert(mapped.getNumPartitions === 1)
      val pairs = shuffleDeps(MrJob.shuffleSort(mapped, R)).head.rdd.count()
      val distinct = lines.distinct.size
      assert(pairs > distinct, s"$pairs pairs for $distinct distinct lines: the table never flushed")
      val want = oracle(lines, R)
      for ((name, reducer) <- Seq("native" -> Native(identity), "exec-cat" -> Exec(Seq("/bin/cat")))) {
        val parts = out.resolve(name)
        MrJob.run(spark, spec.copy(outputDir = parts.toString, reducer = reducer))
        assertPartsMatch(parts, want, name)
      }
    } }

  test("more distinct lines than the count table holds: equal lines split across flushes") {
    // Three rounds over more distinct lines than the entry cap, so every
    // line's copies land in different flushes; a hot line every seventh
    // record is counted in every flush.
    val distinct = MrJob.LineCounts.MaxEntries + MrJob.LineCounts.MaxEntries / 4
    val lines = for {
      round <- 0 until 3
      i <- 0 until distinct
      hot <- if (i % 7 == 0) Seq(true, false) else Seq(false)
    } yield if (hot) s"hot\t$round" else s"k$i\tv${i % 5}"
    assertFlushingJobMatchesOracle(lines)
  }

  test("long lines past the count table's char cap: equal lines split across flushes") {
    // 48 distinct lines of 64-128 Ki chars, twice over, so the char cap
    // fills the table long before its entry cap; half of the keys are
    // longer than the md5 router's buffer, half end at a TAB.
    val rnd = new scala.util.Random(13)
    val long = (0 until 48).map { i =>
      val body = rnd.alphanumeric.take((1 << 16) + rnd.nextInt(1 << 16)).mkString
      if (i % 2 == 0) s"$i-$body" else s"$i\t$body"
    }
    assert(long.map(_.length.toLong).sum > MrJob.LineCounts.MaxChars)
    assertFlushingJobMatchesOracle(long ++ long.reverse)
  }
}
