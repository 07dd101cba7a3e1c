package graft

import org.json4s.{JNull, JObject, JValue}
import org.json4s.JsonDSL._

/** Decade-scale probe runner: times named registry queries on
  * SPARK_GRAFT_SF_DIR and APPENDS one JSON line per timed pass to the
  * probe artifact — the evidence file is written BY THE RUNNER, not by a
  * later hand-edit, so a PLANS.md scale claim can never again point at an
  * empty artifact (round-12 postmortem: `probes_r12.jsonl` contained only
  * `PROBES_DONE` while PLANS.md cited numbers "it carries").
  *
  * Differences from [[Bench]], all deliberate:
  *   - append-per-pass: a later pass OOMing the JVM (exactly how round 12
  *     lost dedup_embedding_ivf's sf100 timing) leaves every earlier pass
  *     already on disk;
  *   - cold/warm labeling: pass 1 is the query's FIRST encounter in this
  *     JVM ("cold" — sf100-shaped code paths JIT/size-adapt on first
  *     encounter, measured ~1.9× in round 12, and the sf0.001 warmup
  *     cannot remove it because it never runs the decade-sized plan);
  *     later passes are "warm". Probe rows of record use the warm minimum,
  *     with the cold pass kept beside it;
  *   - no noise machinery: probes are single-query, SOLO (sf100 points are
  *     only comparable solo — a bundle member inherits its predecessor's
  *     un-reclaimed checkpoint blocks), and bracketing calibrations are
  *     recorded for the reader instead of gating anything;
  *   - never touches the bench windows log or details file.
  *
  * Usage: runMain graft.Probe <query>[,<query>...]
  * Env: SPARK_GRAFT_SF_DIR (target data), SPARK_GRAFT_PROBE_OUT (artifact,
  * default probes.jsonl), SPARK_GRAFT_PROBE_PASSES (default 2 = one cold +
  * one warm), SPARK_GRAFT_WARM_DIR / SPARK_GRAFT_CPUS as in [[Bench]]; the
  * page-cache warm of SPARK_GRAFT_SF_DIR always runs ([[BenchCore.warmUp]]).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val names = SparkEntry.resolve(args.mkString(","))
    require(names.nonEmpty, "usage: runMain graft.Probe <query>[,<query>...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "probes.jsonl")
    val passes = sys.env.get("SPARK_GRAFT_PROBE_PASSES").map(_.toInt)
      .filter(p => p >= 1 && p <= 9).getOrElse(2)
    val cpus = GraftSession.cpus
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val codeId = BenchCore.codeId(new java.io.File("."))
    val heapGb = Runtime.getRuntime.maxMemory / (1L << 30)

    val spark = GraftSession.local(cpus, sfDir)

    def append(fields: JObject): Unit = {
      // append-mode write, flushed per line: the artifact survives a later
      // OOM. Also mirrored to stdout for the launcher's log.
      val line = BenchCore.compact(("ts" -> now()) ~ fields ~
        ("code" -> codeId) ~ ("heap_gb" -> heapGb) ~ ("cpus" -> cpus))
      val w = new java.io.FileWriter(outPath, java.nio.charset.StandardCharsets.UTF_8, true)
      try w.write(line + "\n") finally w.close()
      println(line)
    }
    def now(): String = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("MM-dd'T'HH:mm:ss"))

    // JIT/codegen warmup for the probed queries only, then the data warm.
    BenchCore.warmUp(spark, names, sfDir, warmDir, "probe")

    names.foreach { name =>
      val calBefore = BenchCore.calibrate(spark)
      var coldSec = Double.NaN
      var warmMin = Double.NaN
      var allOk = true
      (1 to passes).foreach { pass =>
        val kind = if (pass == 1) "cold" else "warm"
        val p = BenchCore.timedPass(spark, name, sfDir, s"probe pass $pass")
        val (sec, ok) = (p.total, p.ok)
        allOk &&= ok
        if (ok && pass == 1) coldSec = sec
        if (ok && pass > 1 && (warmMin.isNaN || sec < warmMin)) warmMin = sec
        append(("query" -> name) ~ ("sf" -> sfDir) ~ ("pass" -> pass) ~ ("kind" -> kind) ~
          ("sec" -> BenchCore.dec(sec, 2)) ~ ("ok" -> ok) ~
          ("cal_before" -> BenchCore.dec(calBefore, 2)))
      }
      val calAfter = BenchCore.calibrate(spark)
      def j(d: Double): JValue = if (d.isNaN) JNull else BenchCore.dec(d, 2)
      append(("query" -> name) ~ ("sf" -> sfDir) ~ ("summary" -> true) ~
        ("passes" -> passes) ~ ("cold_sec" -> j(coldSec)) ~ ("warm_min_sec" -> j(warmMin)) ~
        ("ok" -> allOk) ~ ("cal_before" -> BenchCore.dec(calBefore, 2)) ~
        ("cal_after" -> BenchCore.dec(calAfter, 2)))
    }
    spark.stop()
  }
}
