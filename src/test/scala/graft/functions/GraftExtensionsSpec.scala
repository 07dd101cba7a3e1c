package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.mr.Md5Partitioning

class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("register(spark): custom expressions callable from SQL with codegen semantics") {
    assert(spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0) === 11.0)
    assert(spark.sql("SELECT word_shingles(array('a', 'b', 'c', 'd'), 3) AS s")
      .head().getSeq[String](0) === Seq("a b c", "b c d"))
    assert(spark.sql("SELECT md5_mod('hello', 4) AS p").head().getInt(0)
      === Md5Partitioning.partition("hello", 4))
  }

  test("SQL vec_dot agrees with the Column API on table data") {
    graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("emb_ext_test")
    val viaSql = spark.sql(
      """SELECT vec_id, vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                       CAST(embedding AS ARRAY<DOUBLE>)) AS d
        |FROM emb_ext_test""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    import org.apache.spark.sql.functions.col
    val viaCol = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"),
        VectorExpressions.vec_dot(
          graft.operators.Similarity.toDoubleVec(col("embedding")),
          graft.operators.Similarity.toDoubleVec(col("embedding"))).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql === viaCol)
  }

  test("non-literal arity/type misuse fails analysis with a clear message") {
    val e = intercept[Exception](spark.sql("SELECT word_shingles(array('a'), 1 + 1)").collect())
    assert(e.getMessage.contains("literal INT") || e.getMessage.contains("word_shingles"))
  }

  test("spark.sql.extensions config path injects the functions into fresh sessions") {
    // The suite's SparkContext was created with
    // spark.sql.extensions=graft.functions.GraftExtensions (a STATIC conf —
    // it must be present at context creation, exactly like --conf on a
    // cluster). newSession() builds a brand-new SessionState whose function
    // registry starts from the extensions alone — so resolving here proves
    // the config-driven injection itself.
    val fresh: SparkSession = spark.newSession()
    assert(fresh ne spark, "must be a distinct session object")
    assert(fresh.sql("SELECT vec_dot(array(2.0d, 3.0d), array(4.0d, 5.0d)) AS d")
      .head().getDouble(0) === 23.0)
    assert(fresh.sql("SELECT md5_mod('abc', 7) AS p").head().getInt(0)
      === Md5Partitioning.partition("abc", 7))
  }
}
