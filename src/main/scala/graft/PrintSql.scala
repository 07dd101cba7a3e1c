package graft

/** Dev tool: print the DuckDB oracle SQL for the named queries (or all) so
  * candidate SQL can be prototyped against DuckDB before a Verify run.
  * Usage: runMain graft.PrintSql [-o file] [name[,name...] ...]
  *
  * With `-o`, only the oracle text goes to `file` (sbt writes its own
  * `[info]`/`[success]` lines into the same stdout), so two checkouts'
  * files compare byte for byte.
  */
object PrintSql {
  def main(args: Array[String]): Unit = {
    val (out, rest) = args.toSeq match {
      case "-o" +: file +: names => (Some(file), names)
      case names => (None, names)
    }
    val names = SparkEntry.resolve(if (rest.nonEmpty) rest.mkString(",") else "ALL")
    val text = names.map(n => s"-- >>> $n\n${SparkEntry.oracleSql(n)}\n-- <<< $n\n").mkString
    out match {
      case Some(f) =>
        java.nio.file.Files.writeString(java.nio.file.Path.of(f), text)
        System.err.println(s"[printsql] wrote ${names.size} queries to $f")
      case None => print(text)
    }
  }
}
