package graft
import java.nio.file.{Files, Paths}

import org.json4s.{JObject, JString}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional dev-loop filter: a SparkEntry.resolve list as a 3rd arg
    // (the driver always passes exactly 2 args → full dump).
    val names = SparkEntry.resolve(args.lift(2).getOrElse("ALL"))
    val spark = GraftSession.local(GraftSession.cpus, sfDir)
    new java.io.File(outDir).mkdirs()
    // A query that throws must become a RED row in the round artifact, not a
    // silently shrunken denominator (round-5 lesson: 28 broken queries were
    // invisible because the dump simply lacked their directories). Collect
    // first-line error messages and persist them as _errors.json beside
    // oracle_sql.json (the exit status stays 0 — see the note at the end).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        val first = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.nextOption().getOrElse(e.getClass.getName)
        errors(name) = first
        System.err.println(s"[verify] $name FAILED: $first")
      }
    }
    // json4s escapes quotes, backslashes and every control char — a tab or
    // CR in builder-authored SQL must not make the driver's json.load fail.
    def json(kvs: Iterable[(String, String)]): String =
      BenchCore.compact(JObject(kvs.map { case (k, v) => k -> JString(v) }.toList))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json(names.map(n => n -> SparkEntry.oracleSql(n))))
    Files.writeString(Paths.get(s"$outDir/_errors.json"), json(errors))
    spark.stop()
    // Exit 0 even on failures — a nonzero status could make a driver discard
    // the whole dump; _errors.json is the failure signal. Summarize loudly.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
  }
}
