package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: the formatted physical plan of each named query, then `reps`
  * timed passes, each re-planned from scratch as Bench's are.
  *
  * Usage: runMain graft.Explain <q1>[,<q2>...]|ALL [sfDir] [reps] [outDir]
  *
  * Plans go to stdout, or with `outDir` to `<outDir>/<query>.txt`; then
  * streaming queries get no plan file, since invoking one RUNS the stream
  * and the returned memory-table frame's plan says nothing about it.
  * A pass splits into construct (building the frame, including eager
  * driver-sequenced work: k-means/BPE loops, checkpoints), plan (analysis
  * through physical planning) and exec (Bench's full-row `toRdd.count`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: runMain graft.Explain <q1>[,...]|ALL [sfDir] [reps] [outDir]")
    val names0 = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val names = if (names0 == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted else names0
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")
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
          val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          outDir match {
            case Some(d) =>
              val f = java.nio.file.Files.writeString(d.toPath.resolve(s"$name.txt"), plan + "\n")
              System.err.println(s"[explain] wrote $f")
            case None => println(plan)
          }
        }
        for (r <- 1 to reps) {
          BenchCore.gcIfPressured()
          val t0 = System.nanoTime()
          val qe = fn(spark, sfDir).queryExecution
          val t1 = System.nanoTime()
          qe.executedPlan
          val t2 = System.nanoTime()
          val n = qe.toRdd.count()
          val t3 = System.nanoTime()
          println(f"[explain] $name rep$r: $n rows, construct ${(t1 - t0) / 1e9}%.3fs, " +
            f"plan ${(t2 - t1) / 1e9}%.3fs, exec ${(t3 - t2) / 1e9}%.3fs, total ${(t3 - t0) / 1e9}%.3fs")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
