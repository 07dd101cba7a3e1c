package graft.mr

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.hadoop.io.{LongWritable, NullWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, FileOutputFormat, JobConf, RecordWriter, Reporter,
  TextInputFormat}
import org.apache.hadoop.util.Progressable
import org.apache.spark.{Aggregator, Partitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.SparkSession

/** The reference's whole job contract as one Spark pipeline (SURVEY.md §3.4):
  *
  * {{{
  *   read dir (F1) → split files round-robin (F2) → mapper (F3)
  *   → md5-mod-R partition (F4) → C-locale sort (F5, merged shuffle F6)
  *   → reducer over sorted stream (F7) → committed part-%05d files (F8)
  * }}}
  *
  * Mapper/reducer are *line-stream transformers*: either a streamed external
  * executable ([[Exec]] — the reference's Hadoop-streaming contract, run via
  * `RDD.pipe`, stdin = input lines, stdout = output lines) or a [[Native]]
  * Scala iterator function (no process boundary, codegen-adjacent speed).
  * The reference's own mapper/reducer programs (under
  * `/root/reference/tests/testdata/exec/`) run unmodified as [[Exec]]
  * stages.
  *
  * Scheduling, heartbeats, retries and shutdown (F9–F15) intentionally map
  * to Spark internals — DAGScheduler stage barriers, executor heartbeats,
  * `spark.task.maxFailures`, `spark.stop()` — per SURVEY.md §2.1; nothing to
  * reimplement. So does the sink: `saveAsHadoopFile` runs the old-API
  * `FileOutputCommitter`, which gives each task attempt a scratch dir under
  * `_temporary/` and renames into place only the attempt that Spark's
  * `OutputCommitCoordinator` lets commit (F15), so the output dir ends up
  * holding exactly R part files, or nothing if the job fails.
  */
sealed trait LineProc
/** External executable honoring the stdin/stdout line protocol. */
final case class Exec(cmd: Seq[String]) extends LineProc
/** Native per-stream transform (maps an entire sorted line stream). */
final case class Native(f: Iterator[String] => Iterator[String]) extends LineProc

final case class JobSpec(
    inputDir: String,
    outputDir: String,
    mapper: LineProc,
    reducer: LineProc,
    numMappers: Int = 2,
    numReducers: Int = 2,
    /** false (default) = reference-compat F2: each FILE is its own map
      * task (exec mappers fork once per file, like the reference's
      * one-Popen-per-file accounting), and `numMappers` does not group
      * files into fewer tasks. true = let Spark split files by BYTE
      * RANGES across `numMappers`+ tasks — the right shape when one
      * input file is 10 GB. Only valid when the mapper is line-local
      * (emits per line with no cross-line state), which every shipped
      * mapper is; reducers are unaffected (they always run after the
      * partition+sort barrier). */
    splitFilesByBytes: Boolean = false)

/** C-locale (byte-wise) whole-line ordering — the reference sorts with
  * `LC_ALL=C sort` (the reference's `tests/test_worker_11.py:104-105`):
  * unsigned comparison of the lines' `getBytes(UTF_8)`, not UTF-16
  * code-unit comparison.
  *
  * Compares chars in place. Below the first differing char both lines
  * encode to the same bytes, and two differing non-surrogate chars order
  * as their UTF-8 encodings do, so the char difference decides. Only when
  * the char at the first difference is a surrogate (a supplementary
  * character sorts above U+E000–U+FFFF in UTF-8, below it in UTF-16, and
  * an unpaired one encodes as `?`) does it compare the encoded bytes. */
object CByteOrdering extends Ordering[String] {
  override def compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) {
      if (a.length == b.length) 0
      else if (Character.isSurrogate((if (a.length > n) a else b).charAt(n))) compareBytes(a, b)
      else a.length - b.length
    } else {
      val ca = a.charAt(i)
      val cb = b.charAt(i)
      if (Character.isSurrogate(ca) || Character.isSurrogate(cb)) compareBytes(a, b)
      else ca - cb
    }
  }

  private def compareBytes(a: String, b: String): Int = {
    val ab = a.getBytes(StandardCharsets.UTF_8)
    val bb = b.getBytes(StandardCharsets.UTF_8)
    java.util.Arrays.compareUnsigned(ab, bb)
  }
}

/** Routes a whole line to md5(key-before-first-TAB) mod R. Equal only to
  * itself at the same R: Spark skips the shuffle of a cogroup/join whose
  * inputs carry equal partitioners, so a partitioner that routes
  * differently must never compare equal. */
class Md5LinePartitioner(override val numPartitions: Int) extends Partitioner {
  override def getPartition(key: Any): Int =
    Md5Partitioning.partitionLine(key.asInstanceOf[String], numPartitions)
  override def equals(other: Any): Boolean = other match {
    case o: Md5LinePartitioner => o.getClass == getClass && o.numPartitions == numPartitions
    case _ => false
  }
  override def hashCode: Int = getClass.hashCode * 31 + numPartitions
}

/** Writes each line plus `\n` in UTF-8 (an unpaired surrogate becomes `?`)
  * to the file the commit path names `part-%05d` in the task attempt's
  * scratch dir. The file is opened on the raw FS under a
  * `ChecksumFileSystem`, so no `.crc` file lands beside it. */
class PartFileOutputFormat extends FileOutputFormat[NullWritable, String] {
  /** The engine makes the output dir on admission, so it already exists. */
  override def checkOutputSpecs(ignored: FileSystem, job: JobConf): Unit = ()

  override def getRecordWriter(ignored: FileSystem, job: JobConf, name: String,
      progress: Progressable): RecordWriter[NullWritable, String] = {
    val file = FileOutputFormat.getTaskOutputPath(job, name)
    val fs = file.getFileSystem(job) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    val w = new BufferedWriter(new OutputStreamWriter(fs.create(file, progress), StandardCharsets.UTF_8))
    new RecordWriter[NullWritable, String] {
      def write(key: NullWritable, line: String): Unit = { w.write(line); w.write('\n') }
      def close(reporter: Reporter): Unit = w.close()
    }
  }
}

/** TextInputFormat over an explicit list of files: `listStatus` looks each
  * listed path up instead of globbing it, so a file named `in[1]`, `x{y}`
  * or `f*` opens exactly that file. */
class ListedTextInputFormat extends TextInputFormat {
  override protected def listStatus(job: JobConf): Array[FileStatus] =
    FileInputFormat.getInputPaths(job).map(p => p.getFileSystem(job).getFileStatus(p))
}

/** [[ListedTextInputFormat]] with one split per file (F2 compat mode). */
class WholeFileTextInputFormat extends ListedTextInputFormat {
  override protected def isSplitable(fs: FileSystem, file: Path): Boolean = false
}

object MrJob {

  private val PipeEnv = Map("LC_ALL" -> "C")

  /** F1: deterministic sorted listing of the input directory's files
    * (`/root/reference/tests/test_manager_02.py:162-197`). */
  def listInputFiles(spark: SparkSession, inputDir: String): Seq[String] = {
    val p = new Path(inputDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile).map(_.getPath.toString).sorted.toSeq
  }

  /** F1+F2: all of a job's files through one HadoopRDD. The paths go in as
    * `Path`s, so a comma in a name is escaped rather than split on, and
    * [[ListedTextInputFormat]] opens each without globbing it. Compat mode
    * reads one partition per file (exec mappers fork once per file, like
    * the reference's one-Popen-per-file accounting in its
    * `tests/test_worker_11.py:152-154`). Byte-split mode
    * lets TextInputFormat cut newline-aligned byte ranges of about
    * total/numMappers, so one 10 GB file still parallelizes; line-local
    * mappers give identical output.
    *
    * The JobConf is handed to Spark, which then uses it as is; a path
    * string read (`textFile`) would instead cache a JobConf per RDD in
    * SparkEnv's soft-valued metadata map, where a full GC leaves it. */
  private[mr] def readInput(sc: SparkContext, files: Seq[String], job: JobSpec): RDD[String] = {
    val conf = new JobConf(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(conf, files.map(new Path(_)): _*)
    val format =
      if (job.splitFilesByBytes) classOf[ListedTextInputFormat] else classOf[WholeFileTextInputFormat]
    sc.hadoopRDD(conf, format, classOf[LongWritable], classOf[Text], job.numMappers)
      .map(_._2.toString)
  }

  /** F3/F7: run a mapper or reducer over every partition's line stream.
    * Exec stages talk UTF-8 whatever the JVM's default charset: under a
    * POSIX locale that default is ASCII, and `pipe` would turn every
    * non-ASCII character into `?` on its way to and from the process. */
  def applyProc(proc: LineProc, rdd: RDD[String]): RDD[String] = proc match {
    case Exec(cmd) => rdd.pipe(cmd, PipeEnv, encoding = "UTF-8")
    case Native(f) => rdd.mapPartitions(f)
  }

  /** F4+F5+F6: md5-mod-R routing with byte-wise whole-line sort; Spark's
    * sort-based shuffle externally sorts and merges per partition — the
    * same sort/merge topology the reference implements by hand.
    *
    * Equal lines are interchangeable and the whole-line sort puts them side
    * by side, so each map task first counts its lines (a spillable
    * [[org.apache.spark.util.collection.ExternalAppendOnlyMap]] keyed by
    * the line) and only then routes them: md5 runs once per distinct line
    * per map task, not once per record. The shuffle itself has no
    * aggregator and no map-side combine, so up to
    * `spark.shuffle.sort.bypassMergeThreshold` (200) reducers the map side
    * takes the bypass-merge writer; the reduce side sorts the `(line, n)`
    * pairs without re-summing them and expands each into n copies. Every
    * reducer, Native or Exec, reads the same stream as if each line had
    * been shuffled on its own. */
  def shuffleSort(mapped: RDD[String], numReducers: Int): RDD[String] = {
    val count = new Aggregator[String, Long, Long](n => n, _ + _, _ + _)
    val counted = mapped.mapPartitions(lines =>
      count.combineValuesByKey(lines.map((_, 1L)), TaskContext.get()))
    new ShuffledRDD[String, Long, Long](counted, new Md5LinePartitioner(numReducers))
      .setKeyOrdering(CByteOrdering)
      .mapPartitions(expandCounts)
  }

  /** Sorted `(line, n)` pairs back into n copies of each line, lazily. */
  private def expandCounts(counted: Iterator[(String, Long)]): Iterator[String] =
    new Iterator[String] {
      private var line: String = _
      private var left = 0L
      def hasNext: Boolean = left > 0 || counted.hasNext
      def next(): String = {
        if (left == 0) {
          val (l, n) = counted.next()
          line = l
          left = n
        }
        left -= 1
        line
      }
    }

  /** Run a complete job; returns the R output file paths
    * (`outputDir/part-00000 … part-{R-1}`). */
  def run(spark: SparkSession, job: JobSpec): Seq[String] = {
    val files = listInputFiles(spark, job.inputDir)
    require(files.nonEmpty, s"no input files in ${job.inputDir}")
    // F3: mapper over each map task's lines.
    val mapped = applyProc(job.mapper, readInput(spark.sparkContext, files, job))

    // F7: reducer over each merged sorted partition stream.
    val reduced = applyProc(job.reducer, shuffleSort(mapped, job.numReducers))

    // F8+F15: part-%05d through the commit path; no _SUCCESS marker.
    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    conf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    reduced.map(l => (NullWritable.get, l)).saveAsHadoopFile(job.outputDir,
      classOf[NullWritable], classOf[String], classOf[PartFileOutputFormat], conf)
    (0 until reduced.getNumPartitions).map(i => new Path(job.outputDir, f"part-$i%05d").toString)
  }
}
