package graft.mr

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** The MapReduce engine surfaced through the oracle-checked query contract:
  * the same jobs the golden tests run against reference fixtures, executed
  * over `documents.text` as the line corpus and verified value-for-value
  * against DuckDB. This closes the loop — the parity engine itself sits
  * behind the strongest correctness gate, not just byte-compare tests.
  */
object MrQueries {

  private val Reducers = 8

  /** `documents.text` as the line corpus through map → md5-mod-R
    * partition → C-sort → reduce, the shuffle step [[MrJob.run]] runs. */
  private def mapReduce(spark: SparkSession, sfDir: String, mapper: LineProc,
      reducer: LineProc, reducers: Int): RDD[String] = {
    import spark.implicits._
    val lines = Tables.documents(spark, sfDir).select("text").as[String].rdd
    MrJob.applyProc(reducer, MrJob.shuffleSort(MrJob.applyProc(mapper, lines), reducers))
  }

  /** A word count job's `word\tcount` reducer lines as a (word, cnt) frame. */
  private def wordCount(spark: SparkSession, sfDir: String, mapper: LineProc,
      reducer: LineProc): DataFrame = {
    import spark.implicits._
    mapReduce(spark, sfDir, mapper, reducer, Reducers).map { l =>
      val i = l.lastIndexOf('\t')
      (l.substring(0, i), l.substring(i + 1).toLong)
    }.toDF("word", "cnt")
  }

  /** Word count through the full MR dataflow (map → md5-mod partition →
    * C-sort → streaming reduce), i.e. F3+F4+F5+F6+F7 of SURVEY.md §2.1,
    * with wc_map.sh/wc_reduce.sh stream semantics. */
  def mrWordcount(spark: SparkSession, sfDir: String): DataFrame =
    wordCount(spark, sfDir, Native(NativeQueries.wcMapSh), Native(NativeQueries.wcReduceSh))

  /** Oracle twin of wc_map.sh tokenization: split on single `[` `]`
    * space/tab characters (tr's SET1 brackets are literals) KEEPING empty
    * segments (tr turns each separator into a newline), then lowercase. */
  val mrWordcountSql: String =
    """SELECT lower(w) AS word, count(*) AS cnt
      |FROM (SELECT unnest(string_split_regex(text, '[\[\] \t]')) AS w FROM documents)
      |GROUP BY 1""".stripMargin

  /** Directory holding the wc exec pair. Primary: vendored copies of the
    * public course-skeleton scripts (src/main/resources/graft/exec/,
    * byte-equivalent pipelines — proven against the reference's own
    * binaries and goldens in MrJobSpec) extracted to `java.io.tmpdir` so
    * the query runs with NO reference checkout mounted. NOT extracted to
    * [[graft.LocalDirs.scratchRoot]]: that defaults to tmpfs, which
    * hardened hosts mount noexec — scratch stays data-only. A post-extract
    * `canExecute` probe catches a noexec tmpdir too; fallback is the
    * mounted reference fixtures. Fails loudly only when neither works. */
  private lazy val wcExecDir: String = {
    val names = Seq("wc_map.sh", "wc_reduce.sh")
    val ref = "/root/reference/tests/testdata/exec"
    val streams = names.map(n => Option(getClass.getResourceAsStream(s"/graft/exec/$n")))
    val extracted: Option[String] =
      if (!streams.forall(_.isDefined)) { streams.flatten.foreach(_.close()); None }
      else {
        val dir = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft-exec-")
        dir.toFile.deleteOnExit()
        names.zip(streams.flatten).foreach { case (n, in) =>
          val p = dir.resolve(n)
          try java.nio.file.Files.copy(in, p) finally in.close()
          p.toFile.setExecutable(true)
          p.toFile.deleteOnExit()
        }
        // setExecutable lies on noexec mounts; trust only the probe.
        if (names.forall(n => dir.resolve(n).toFile.canExecute)) Some(dir.toString) else None
      }
    extracted.getOrElse {
      require(new java.io.File(s"$ref/wc_map.sh").canExecute,
        s"wc exec pair not extractable to an executable tmpdir and not under $ref")
      ref
    }
  }

  /** Word count through the EXEC streaming surface: the wc_map.sh /
    * wc_reduce.sh pipelines run via `RDD.pipe` (F3/F7's
    * arbitrary-executable contract). Stream semantics equal the native
    * twins (proven byte-exact in MrJobSpec against the reference's own
    * unmodified binaries), so the same DuckDB oracle checks this path at
    * full strength. On a multi-node cluster the extracted scripts would be
    * shipped with `sc.addFile`; local mode shares the driver filesystem. */
  def mrWordcountExec(spark: SparkSession, sfDir: String): DataFrame =
    wordCount(spark, sfDir,
      Exec(Seq(s"$wcExecDir/wc_map.sh")), Exec(Seq(s"$wcExecDir/wc_reduce.sh")))

  /** Grep through the MR dataflow with grep_map.py/grep_reduce.py stream
    * semantics (strip, drop blanks, lowercase containment, constant key). */
  def mrGrep(spark: SparkSession, sfDir: String, q: String = "vector"): DataFrame = {
    import spark.implicits._
    mapReduce(spark, sfDir, Native(NativeQueries.grepMap(q)), Native(NativeQueries.grepReduce), 1)
      .toDF("line")
  }

  /** Oracle with the STREAM's exact whitespace semantics: the native twins
    * trim with Java `String.trim` (strips every char ≤ 0x20, not just
    * spaces like DuckDB `trim()`), and the reducer DROPS any line whose
    * trimmed text still contains a TAB (its `split("\t")` then yields ≠2
    * fields). Both are latent on today's tab-free corpus but would break
    * the gate on realistic text. */
  def mrGrepSql(q: String = "vector"): String =
    s"""WITH t AS (SELECT regexp_replace(text, '^[\\x00-\\x20]+|[\\x00-\\x20]+$$', '', 'g') AS line FROM documents)
       |SELECT line FROM t
       |WHERE line <> '' AND contains(lower(line), '$q') AND NOT contains(line, chr(9))""".stripMargin
}
