package graft.mr

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The reference's whole job contract as one Spark pipeline (SURVEY.md §3.4):
  *
  * {{{
  *   read dir (F1) → split files round-robin (F2) → mapper (F3)
  *   → md5-mod-R partition (F4) → C-locale sort (F5, merged shuffle F6)
  *   → reducer over sorted stream (F7) → part-%05d sink (F8)
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
  * reimplement.
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
    /** false (default) = reference-compat F2: each FILE is one map
      * partition (exec mappers fork once per file, like the reference's
      * one-Popen-per-file accounting). true = let Spark split files by
      * BYTE RANGES across `numMappers`+ tasks — the right shape when one
      * input file is 10 GB. Only valid when the mapper is line-local
      * (emits per line with no cross-line state), which every shipped
      * mapper is; reducers are unaffected (they always run after the
      * partition+sort barrier). */
    splitFilesByBytes: Boolean = false)

/** C-locale (byte-wise) whole-line ordering — the reference sorts with
  * `LC_ALL=C sort` (`/root/reference/tests/test_worker_11.py:104-105`).
  * Unsigned UTF-8 byte comparison, not UTF-16 code-unit comparison. */
object CByteOrdering extends Ordering[String] {
  override def compare(a: String, b: String): Int = {
    val ab = a.getBytes(StandardCharsets.UTF_8)
    val bb = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(ab.length, bb.length)
    while (i < n) {
      val d = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    ab.length - bb.length
  }
}

/** Routes a whole line to md5(key-before-first-TAB) mod R. */
class Md5LinePartitioner(numPartitions0: Int) extends Md5Partitioner(numPartitions0) {
  override def getPartition(key: Any): Int =
    Md5Partitioning.partition(Md5Partitioning.keyOf(key.asInstanceOf[String]), numPartitions0)
}

object MrJob {

  private val PipeEnv = Map("LC_ALL" -> "C")

  /** F1+F2: deterministic sorted listing, file i → map task i % M
    * (`/root/reference/tests/test_manager_02.py:162-197`). */
  def listInputFiles(spark: SparkSession, inputDir: String): Seq[String] = {
    val p = new Path(inputDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile).map(_.getPath.toString).sorted.toSeq
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
    * sort-based shuffle externally sorts and k-way-merges per partition —
    * the same sort/merge topology the reference implements by hand. */
  def shuffleSort(mapped: RDD[String], numReducers: Int): RDD[String] = {
    implicit val lineOrdering: Ordering[String] = CByteOrdering
    mapped
      .map(line => (line, null))
      .repartitionAndSortWithinPartitions(new Md5LinePartitioner(numReducers))
      .keys
  }

  /** Run a complete job; returns the R output file paths
    * (`outputDir/part-00000 … part-{R-1}`). */
  def run(spark: SparkSession, job: JobSpec): Seq[String] = {
    val sc = spark.sparkContext
    val files = listInputFiles(spark, job.inputDir)
    require(files.nonEmpty, s"no input files in ${job.inputDir}")

    // F2+F3. Compat mode (default): group files round-robin into map
    // tasks; each input file is a separate partition so Exec mappers fork
    // once per file, exactly like the reference's one-Popen-per-file
    // accounting (/root/reference/tests/test_worker_11.py:152-154).
    // Byte-split mode: hand the whole file list to one textFile so Hadoop
    // TextInputFormat splits by byte ranges (~total/numMappers per task,
    // newline-aligned) — a single 10 GB file parallelizes instead of
    // pinning one task; line-local mappers produce identical output.
    val mapped = if (job.splitFilesByBytes) {
      applyProc(job.mapper, sc.textFile(files.mkString(","), job.numMappers))
    } else {
      val taskRdds = files.indices.groupBy(_ % job.numMappers).toSeq.sortBy(_._1).map {
        case (_, idxs) =>
          val taskFiles = idxs.map(files)
          val fileRdds = taskFiles.map(f => applyProc(job.mapper, sc.textFile(f, 1)))
          if (fileRdds.size == 1) fileRdds.head else sc.union(fileRdds)
      }
      if (taskRdds.size == 1) taskRdds.head else sc.union(taskRdds)
    }

    // F7: reducer over each merged sorted partition stream.
    val reduced = applyProc(job.reducer, shuffleSort(mapped, job.numReducers))

    // F8: deterministic part-%05d sink, written executor-side through the
    // Hadoop FileSystem API (works on local FS and HDFS/object stores).
    writePartFiles(spark, reduced, job.outputDir)
  }

  def writePartFiles(spark: SparkSession, rdd: RDD[String], outputDir: String): Seq[String] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val out = new Path(outputDir)
    val fs = out.getFileSystem(conf.value)
    fs.mkdirs(out)
    val n = rdd.getNumPartitions
    rdd.foreachPartition { lines =>
      val pid = TaskContext.getPartitionId()
      val path = new Path(outputDir, f"part-$pid%05d")
      val pfs = path.getFileSystem(conf.value)
      val os = pfs.create(path, true)
      try {
        val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(os, StandardCharsets.UTF_8))
        lines.foreach { l => w.write(l); w.write('\n') }
        w.flush()
      } finally os.close()
    }
    (0 until n).map(i => new Path(outputDir, f"part-$i%05d").toString)
  }
}
