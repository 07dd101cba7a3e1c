package graft

/** Offline re-derivation of the details file from a campaign's windows log
  * ([[BenchCore.derive]], the same function every bench run ends with) —
  * for when the log already holds sufficient evidence but no run has
  * derived from it since, e.g. under an older assembly rule. Exits 1 when
  * the log holds no full-surface window.
  *
  * Usage: runMain graft.BenchAssemble [detailsPath]
  *   detailsPath defaults to bench_details.json; the log is
  *   <detailsPath>.windows.jsonl.
  */
object BenchAssemble {
  def main(args: Array[String]): Unit = {
    val detailsPath = args.headOption.getOrElse("bench_details.json")
    BenchCore.writeDerived(detailsPath, SparkEntry.queries.keys.toSeq.sorted) match {
      case None =>
        System.err.println(s"[assemble] no full-surface window in ${BenchCore.windowsLog(detailsPath)}")
        sys.exit(1)
      case Some(d) => println(BenchCore.compact(d.details))
    }
  }
}
