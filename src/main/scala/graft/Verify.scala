package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional dev-loop filter: comma-separated query names as a 3rd arg
    // (the driver always passes exactly 2 args → full dump).
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val spark = GraftSession.local(GraftSession.cpus, sfDir)
    new java.io.File(outDir).mkdirs()
    // A query that throws must become a RED row in the round artifact, not a
    // silently shrunken denominator (round-5 lesson: 28 broken queries were
    // invisible because the dump simply lacked their directories). Collect
    // first-line error messages and persist them as _errors.json beside
    // oracle_sql.json (the exit status stays 0 — see the note at the end).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(q => only.forall(_.contains(q._1))).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        val first = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.nextOption().getOrElse(e.getClass.getName)
        errors(name) = first
        System.err.println(s"[verify] $name FAILED: $first")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_.contains(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    // Exit 0 even on failures — a nonzero status could make a driver discard
    // the whole dump; _errors.json is the failure signal. Summarize loudly.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
  }
}
