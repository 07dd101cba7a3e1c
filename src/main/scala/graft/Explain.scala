package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: the formatted physical plan of each named query, then `reps`
  * timed passes, each re-planned from scratch as Bench's are.
  *
  * Usage: runMain graft.Explain <q1>[,<q2>...]|ALL [sfDir] [reps] [outDir]
  *
  * Plans go to stdout, or with `outDir` to `<outDir>/<query>.txt`; then
  * streaming queries get no plan file, since invoking one RUNS the stream
  * and the returned memory-table frame's plan says nothing about it. A
  * query's plan text is the formatted plan of every action its
  * construction runs (eager `localCheckpoint`s, driver-side counts), in
  * order, then the returned frame's plan — a frame read back from a
  * checkpoint is a bare RDD scan, and the work lives in those actions.
  * A pass splits into construct (building the frame, including eager
  * driver-sequenced work: k-means/BPE loops, checkpoints), plan (analysis
  * through physical planning) and exec (Bench's full-row `toRdd.count`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: runMain graft.Explain <q1>[,...]|ALL [sfDir] [reps] [outDir]")
    val names = SparkEntry.resolve(args(0))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val reps = if (args.length > 2) args(2).toInt else 2
    val outDir = args.lift(3).map(new java.io.File(_))
    outDir.foreach(_.mkdirs())
    val spark = GraftSession.local(GraftSession.cpus, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        if (outDir.nonEmpty && (name.startsWith("events_stream") || name == "docs_stream_dedup"))
          System.err.println(s"[explain] $name: streaming query, no plan file")
        else {
          val plan = plansOf(spark)(fn(spark, sfDir))
          outDir match {
            case Some(d) =>
              val f = java.nio.file.Files.writeString(d.toPath.resolve(s"$name.txt"), plan + "\n")
              System.err.println(s"[explain] wrote $f")
            case None => println(plan)
          }
        }
        (1 to reps).iterator.map(r => r -> BenchCore.timedPass(spark, name, sfDir, "explain"))
          .takeWhile(_._2.ok).foreach { case (r, p) =>
            println(f"[explain] $name rep$r: ${p.rows} rows, construct ${p.constructS}%.3fs, " +
              f"plan ${p.planS}%.3fs, exec ${p.execS}%.3fs, total ${p.total}%.3fs")
          }
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** The formatted plans of the actions `construct` runs, each headed by
    * its action name, then the returned frame's. */
  private def plansOf(spark: SparkSession)(construct: => DataFrame): String = {
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(s"== construction action: $funcName ==\n${qe.explainString(FormattedMode)}\n")
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df = try construct finally {
      GraftSqlBridge.drainListeners(spark)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    (actions.asScala.toSeq :+
      s"== returned frame ==\n${df.queryExecution.explainString(FormattedMode)}").mkString("\n")
  }
}
