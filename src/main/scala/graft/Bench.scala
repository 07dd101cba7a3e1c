package graft

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR,
  * appends the window to `<details>.windows.jsonl`, re-derives the details
  * file from that log ([[BenchCore.derive]]) and prints ONE short JSON line
  * {"metric":"total","value":…,"refused":[…],"details":…}.
  *
  * A warmup pass runs each query once at sf0.001 (untimed): local-mode cold
  * JVMs otherwise charge whole-stage-codegen compilation and C2 JIT of the
  * parquet/shuffle/agg machinery to whichever query happens to run first
  * (measured: 20–120 s of first-run skew at sf0.1, on plans whose warm cost
  * is 1–5 s). On a long-lived cluster those costs are paid once per
  * executor lifetime, not per query — warmup reproduces that steady state.
  *
  * NOISE SELF-DEFENSE (this host has noisy neighbors; identical full-bench
  * runs have measured 22 s to 265 s, and round 4's driver capture was ~35%
  * inflated vs a clean re-run of the same commit):
  *   - a fixed CALIBRATION workload — a pinned in-memory generate→hash-agg→
  *     sort over `spark.range`, no IO, no data dependence — is timed at
  *     bench start, middle, and end; `noise_index` = max/min of those three
  *     timings. On a quiet host the same workload repeats within a few
  *     percent (index ≈ 1.0); external throttling during the window shows
  *     up as index ≫ 1 with the per-pass timings saying WHEN. Readers can
  *     therefore tell "the code got slower" from "the host got slower"
  *     without re-running.
  *   - ADAPTIVE re-measurement: every query gets 3 passes; if the good-pass
  *     spread exceeds 50% of the median (one pass hit a throttled window),
  *     up to 2 extra passes run and the median is taken over all of them —
  *     5 samples reject up to two corrupted ones. Per-query pass counts are
  *     recorded so an artifact reader can see which timings needed rescue.
  *   - POST-RUN NOISE RECOVERY (round 6; logic + chaos test in BenchCore /
  *     BenchChaosSpec): noise_index > 3 means the throttle outlasted the
  *     per-query defenses somewhere — wait until calibration returns to
  *     ≤1.5× the best observed, then SCREEN every query with one clean
  *     pass and fully re-measure those the screen undercuts by >20%,
  *     keeping min(old, re-run); re-measured names land in the details
  *     artifact under "rescued".
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = GraftSession.cpus
    // Hashed at launch, so the id names the sources this run was built from.
    val codeId = BenchCore.codeId(new java.io.File("."))
    val spark = GraftSession.local(cpus, sfDir)

    // Dev-only subset filter (comma-separated names): scaling audits time
    // the heaviest queries on a larger synthetic corpus without paying the
    // full 118-query pass. The driver's per-round bench never sets this.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    BenchCore.warmUp(spark, ordered, sfDir, warmDir, "bench")

    // Measurement + noise defense live in BenchCore (median-of-3, adaptive
    // 5-pass escalation, and — when the calibration noise_index exceeds
    // 3 — a post-run recovery wait + worst-spread re-measurement; the
    // logic is deterministic-tested in BenchChaosSpec against a replayed
    // round-5-style throttle window). A failed pass contributes no timing
    // and the name lands in "failed", so a fast crash can't make the
    // total look better.
    val byName = SparkEntry.queries
    def onePass(name: String): (Double, Boolean) = {
      BenchCore.gcIfPressured()
      val t0 = System.nanoTime()
      // FULL-ROW materialization, not Dataset.count(): count-star lets the
      // optimizer PRUNE every aggregate expression the count doesn't need,
      // so card-shaped queries timed a hollowed plan (measured at sf1:
      // quality_classifier 0.78 s counted vs 5.3 s materialized, token_count
      // 0.34 vs 2.5, q1_agg 0.51 vs 2.0). toRdd.count() walks the optimized
      // plan's own UnsafeRow output — every column computed, nothing
      // collected — which is the work a consumer of the result actually
      // pays. Round 11 forward: benches are NOT comparable to the
      // count()-era canonicals; the campaign re-baselines.
      val ok =
        try { byName(name)(spark, sfDir).queryExecution.toRdd.count(): Unit; true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // Dev-only single-pass probe mode for very large tiered decades
    // (sf100); the driver's per-round bench never sets it, so every
    // canonical capture stays median-of-3-to-5.
    val basePasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .map(_.toInt).filter(p => p >= 1 && p <= 5).getOrElse(3)
    val core = BenchCore.measure(ordered, onePass, () => BenchCore.calibrate(spark),
      log = System.err.println(_), basePasses = basePasses)

    // Canonical noise gate (BenchCore.canonicalAcceptable). The exit
    // calibration separates self-inflicted mid-run calibration drift
    // (GC/heap state between memory-heavy queries — present in every
    // full-surface window ever captured on this host, identical across
    // same-code runs) from external throttling: a quiet host returns to the
    // window's best calibration once the bench's own pressure stops.
    // Skipped when the raw noise_index already accepts (round 11, ADVICE):
    // the gate's first disjunct decides regardless of the exit state, so
    // the three passes would be pure added wall-clock on every quiet
    // window. exit fields emit as null in that case.
    val noiseIndex = core.noiseIndex
    val exitCalOpt =
      if (noiseIndex <= BenchCore.CanonicalNoiseGate) None
      else Some((1 to 3).map(_ => BenchCore.calibrate(spark)).min)
    val exitRatioOpt = exitCalOpt.map(_ / math.max(core.calibrations.min, 1e-9))
    // Per-query throttle evidence counts only where relative spread is
    // meaningful: a 0.1 s query at ±0.1 s of scheduler jitter reads as
    // 100% spread on a perfectly quiet host (measured: ~90 sub-second
    // queries escalate in EVERY full-surface window), so the gate's dirty
    // signal takes multi-second queries only — where >50% through full
    // escalation really does mean an external window landed on them.
    val spreadDirty = core.queries.exists(q =>
      q.ok && q.median >= BenchCore.DirtyMedianFloor &&
        q.passes >= 5 && q.spreadPct > BenchCore.UnstableSpread)
    val accepted = BenchCore.canonicalAcceptable(noiseIndex, exitRatioOpt, spreadDirty)
    val rec = BenchCore.WindowRecord(
      ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("MM-dd'T'HH:mm:ss")),
      codeId = codeId, sf = sfDir, work = "full_rows", noiseIndex = noiseIndex,
      exitRatio = exitRatioOpt, spreadDirty = spreadDirty, queries = core.queries,
      accepted = accepted, passes = basePasses, cpus = cpus,
      heapGb = (Runtime.getRuntime.maxMemory >> 30).toInt,
      calibrations = core.calibrations, exitCalibration = exitCalOpt,
      rescueRan = core.rescueRan)
    val line = BenchCore.renderWindow(rec)
    System.err.println(s"[bench] window=$line")

    // The windows log is the only state the bench keeps: this window is
    // appended, and the details file is re-derived from the whole log
    // (BenchCore.derive: the identity's latest accepted window, else an
    // assembly over its windows, else its latest refused window flagged
    // noisy). An unidentifiable build must not feed the log: it could
    // never join an assembly, so the append would only grow the log.
    val detailsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAILS", "bench_details.json")
    if (codeId == "unknown")
      System.err.println("[bench] WARNING: code id is 'unknown' (not launched from the repo " +
        "root) — window evidence will NOT be persisted")
    else try {
      java.nio.file.Files.write(BenchCore.windowsLog(detailsPath),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND): Unit
    } catch { case e: Throwable =>
      System.err.println(s"[bench] windows log append failed: ${e.getMessage}")
    }
    val derived =
      try BenchCore.writeDerived(detailsPath, SparkEntry.queries.keys.toSeq.sorted)
      catch { case e: Throwable =>
        System.err.println(s"[bench] details derivation failed: ${e.getMessage}"); None
      }
    System.err.println(derived.fold(s"[bench] no full-surface window in the log: $detailsPath not written")(
      d => s"[bench] details=${BenchCore.compact(d.details)}"))
    println(BenchCore.summaryLine(rec, derived, detailsPath))
    spark.stop()
  }
}
