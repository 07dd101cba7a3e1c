package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the custom Catalyst expressions: makes `vec_dot`,
  * `word_shingles`, `md5_mod` and `winnow_fps` callable from
  * `spark.sql(...)` — not just the Column API — and adds the ts-pushdown
  * optimizer rule. There is one wiring path, the static session conf
  * `spark.sql.extensions=graft.functions.GraftExtensions` (`--conf` on a
  * cluster; `GraftSession`, `SparkTestSession` and perfbench's harness set
  * it), which instantiates this class and injects both into every new
  * session.
  *
  * It registers the SAME codegen'd expressions the Column API uses — a SQL
  * query calling `vec_dot` gets the tight primitive loop inside
  * whole-stage codegen, not a UDF. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // Scan-pruning rule: inverts the loader's monotone ts normalization in
    // literal comparisons so time-range predicates reach PushedFilters on
    // the raw parquet column (see TsComparisonPushdown's scaladoc).
    ext.injectOptimizerRule(_ => graft.plans.TsComparisonPushdown)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a literal INT, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  /** (identifier, info, builder) triples in the shape
    * `SparkSessionExtensions.injectFunction` takes. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        arity("vec_dot", args, 2); DotProduct(args(0), args(1))
      }),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => {
        arity("word_shingles", args, 2)
        WordShingles(args(0), intLit(args(1), "word_shingles", "n"))
      }),
    (FunctionIdentifier("md5_mod"),
      new ExpressionInfo(classOf[Md5Mod].getName, "md5_mod"),
      (args: Seq[Expression]) => {
        arity("md5_mod", args, 2)
        Md5Mod(args(0), intLit(args(1), "md5_mod", "numPartitions"))
      }),
    (FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fps"),
      (args: Seq[Expression]) => {
        arity("winnow_fps", args, 3)
        WinnowFingerprints(args(0), intLit(args(1), "winnow_fps", "k"),
          intLit(args(2), "winnow_fps", "w"))
      }))
}
