package graft.mr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}

/** The `mr_*` oracle queries checked against independent DataFrame oracles
  * over `documents.text`, with no reference checkout: the MR stream
  * semantics (tokenize, md5-mod-R shuffle, C-sort, grouped reduce) must
  * agree with a plain `groupBy` / filter. The sf0.001 text is lower-case,
  * single-spaced and tab-free, so a small edge corpus adds upper case,
  * brackets, tabs, runs of separators, blank lines and non-ASCII. */
class MrQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val edgeDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mr-edge").toString
    Seq("Hello  World", "[Bracket]ed\tTab Vector", " trailing vector ", "", "   ",
      "\tVECTOR\t", "a\tvector b", "café Café vector", "x]]y[ [", "no match here")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def counts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  for (corpus <- Seq("sf0.001", "edge")) {
    def dir = if (corpus == "edge") edgeDir else "/root/testdata/sf0.001"
    def text = Tables.documents(spark, dir).select("text")
    lazy val native = counts(MrQueries.mrWordcount(spark, dir))

    test(s"$corpus: mr_wordcount equals a split-on-[ ] space tab, lowercase groupBy") {
      // limit -1 keeps the empty pieces, as tr turns each separator into a
      // newline of its own
      val oracle = counts(text
        .select(explode(split(col("text"), "[\\[\\] \t]", -1)).as("piece"))
        .groupBy(lower(col("piece")).as("word")).agg(count(lit(1)).as("cnt")))
      assert(oracle.nonEmpty)
      assert(native === oracle)
    }

    test(s"$corpus: mr_wordcount_exec equals mr_wordcount") {
      assert(counts(MrQueries.mrWordcountExec(spark, dir)) === native)
    }

    test(s"$corpus: mr_grep equals a trim, non-empty, lowercase-match, tab-free filter") {
      val got = MrQueries.mrGrep(spark, dir).collect().map(_.getString(0)).sorted.toSeq
      val oracle = text
        .select(regexp_replace(col("text"), "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "").as("line"))
        .where(col("line") =!= "" && lower(col("line")).contains("vector") &&
          !col("line").contains("\t"))
        .collect().map(_.getString(0)).sorted.toSeq
      assert(oracle.nonEmpty)
      assert(got === oracle)
    }
  }
}
