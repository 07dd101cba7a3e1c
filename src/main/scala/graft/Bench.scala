package graft

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total","value":…,"queries":{…}}.
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
    val spark = GraftSession.local(GraftSession.cpus, sfDir)

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
    val results = core.queries
    val cals = core.calibrations
    val noiseIndex = core.noiseIndex

    def fmt(d: Double) = f"$d%.4f"
    val qs = results.map(r => "\"" + r.name + "\":" + fmt(r.median)).mkString("{", ",", "}")
    val spreads = results.map(r => "\"" + r.name + "\":" + f"${r.spreadPct}%.1f").mkString("{", ",", "}")
    val passCounts = results.map(r => "\"" + r.name + "\":" + r.passes).mkString("{", ",", "}")
    val failed = results.filterNot(_.ok).map("\"" + _.name + "\"").mkString("[", ",", "]")
    val rescued = results.filter(_.rescued).map("\"" + _.name + "\"").mkString("[", ",", "]")
    val total = results.map(_.median).sum
    val calJson = cals.map(fmt).mkString("[", ",", "]")
    // Stdout carries ONE SHORT machine-readable JSON line: the driver
    // tail-captures ~2.2 KB of stdout, and a 100+-query map (~2.9 KB)
    // overflowed it for three straight rounds (BENCH_r01..r03 all
    // `parsed: null`). Totals/failed/counts/noise stay on stdout; the full
    // per-query median+spread+passes map is written to a repo artifact
    // (path overridable via SPARK_GRAFT_BENCH_DETAILS) and mirrored to
    // stderr.
    // Canonical noise gate (BenchCore.canonicalAcceptable): a throttled
    // window's capture is diverted to <path>.noisy — kept for inspection,
    // never the cross-round comparison baseline. The exit calibration
    // separates self-inflicted mid-run calibration drift (GC/heap state
    // between memory-heavy queries — present in every full-surface window
    // ever captured on this host, identical across same-code runs) from
    // external throttling: a quiet host returns to the window's best
    // calibration once the bench's own pressure stops.
    // Skipped when the raw noise_index already accepts (round 11, ADVICE):
    // the gate's first disjunct decides regardless of the exit state, so
    // the three passes would be pure added wall-clock on every quiet
    // window. exit fields emit as null in that case.
    val exitCalOpt =
      if (noiseIndex <= BenchCore.CanonicalNoiseGate) None
      else Some((1 to 3).map(_ => BenchCore.calibrate(spark)).min)
    val exitRatioOpt = exitCalOpt.map(_ / math.max(cals.min, 1e-9))
    // Per-query throttle evidence counts only where relative spread is
    // meaningful: a 0.1 s query at ±0.1 s of scheduler jitter reads as
    // 100% spread on a perfectly quiet host (measured: ~90 sub-second
    // queries escalate in EVERY full-surface window), so the gate's dirty
    // signal takes multi-second queries only — where >50% through full
    // escalation really does mean an external window landed on them.
    val spreadDirty = results.exists(q =>
      q.ok && q.median >= BenchCore.DirtyMedianFloor &&
        q.passes >= 5 && q.spreadPct > BenchCore.UnstableSpread)
    val requestedPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAILS", "bench_details.json")
    // A BENCH_ONLY subset run must NEVER write the canonical details path:
    // a quiet 2-query window would otherwise clobber the full-surface
    // canonical with an n=2 artifact. Subset details always divert to
    // .subset; their evidence reaches the canonical only through the
    // windows sidecar + offline assembly.
    val isSubset = only.nonEmpty
    val gateAccepted = BenchCore.canonicalAcceptable(noiseIndex, exitRatioOpt, spreadDirty)
    val detailsPath =
      if (isSubset) requestedPath + ".subset"
      else BenchCore.detailsPathFor(requestedPath, noiseIndex, exitRatioOpt, spreadDirty)
    val accepted = !isSubset && gateAccepted
    val exitCalJson = exitCalOpt.map(fmt).getOrElse("null")
    val exitRatioJson = exitRatioOpt.map(r => f"$r%.2f").getOrElse("null")
    // Refused-window campaign telemetry (round-11 ask #7): refusals append
    // to a sidecar that survives across bench JVMs, so the round's BENCH_r*
    // stdout line carries how many windows were tried before one landed.
    // An ACCEPTED canonical capture records the campaign in its details
    // artifact and clears the sidecar — the campaign concluded.
    val sidecarPath = requestedPath + ".refused.jsonl"
    val sidecarFile = new java.io.File(sidecarPath)
    val priorRefusals: Seq[BenchCore.Refusal] =
      if (!sidecarFile.isFile) Seq.empty
      else try {
        val src = scala.io.Source.fromFile(sidecarFile, "UTF-8")
        try src.getLines().flatMap(BenchCore.parseRefusal).toList finally src.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] refusal sidecar read failed: ${e.getMessage}"); Seq.empty
      }
    val refusals: Seq[BenchCore.Refusal] =
      if (isSubset) priorRefusals // subset runs are not campaign windows
      else if (accepted) {
        if (sidecarFile.isFile && !sidecarFile.delete())
          System.err.println(s"[bench] could not clear refusal sidecar $sidecarPath")
        priorRefusals
      } else {
        val ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter.ofPattern("MM-dd'T'HH:mm:ss"))
        val cur = BenchCore.Refusal(ts, noiseIndex, exitRatioOpt.getOrElse(1.0), spreadDirty)
        try {
          val w = new java.io.FileWriter(sidecarFile, java.nio.charset.StandardCharsets.UTF_8, true)
          try w.write(BenchCore.renderRefusal(cur) + "\n") finally w.close()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] refusal sidecar append failed: ${e.getMessage}")
        }
        priorRefusals :+ cur
      }
    if (!accepted && !isSubset)
      System.err.println(f"[bench] noise_index $noiseIndex%.2f, exit_ratio $exitRatioJson%s, " +
        s"spread_dirty $spreadDirty: canonical capture refused (window ${refusals.size} of the " +
        s"campaign), details diverted to $detailsPath")
    else if (noiseIndex > BenchCore.CanonicalNoiseGate)
      System.err.println(f"[bench] noise_index $noiseIndex%.2f accepted: exit calibration " +
        s"$exitCalJson s recovered to ${exitRatioJson}x of the window's best and every query stabilized")
    // "noisy": the gate's verdict travels INSIDE the artifact (round 14,
    // VERDICT ask #7): refused windows used to divert ONLY to the .noisy
    // sidecar, which the driver never reads — two straight rounds of
    // refused windows left the driver's per-query PERF table empty. The
    // per-query medians now always reach the primary details path too
    // (below), explicitly flagged so a reader applies the caveat instead
    // of getting no data at all.
    val detailsJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","passes":$basePasses,"estimator":"median","work":"full_rows","n":${results.size},"noisy":${!gateAccepted},"noise_index":${f"$noiseIndex%.2f"},"calibration_sec":$calJson,"exit_calibration_sec":$exitCalJson,"exit_ratio":$exitRatioJson,"refused":${BenchCore.refusalsJson(refusals)},"failed":$failed,"rescued":$rescued,"rescue_ran":${core.rescueRan},"queries":$qs,"spread_pct":$spreads,"pass_count":$passCounts}"""
    try {
      val w = new java.io.PrintWriter(detailsPath, "UTF-8")
      try w.println(detailsJson) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] details write failed: ${e.getMessage}") }
    System.err.println(s"[bench] details=$detailsJson")

    // ---- Per-query quiet-window assembly (round 12, BenchCore scaladoc).
    // Every full-pass window (accepted or refused, full-surface or a
    // TARGETED BENCH_ONLY re-measure of specific unadjudicated queries)
    // appends its per-query medians to a windows sidecar keyed by git
    // HEAD; when a FULL-surface window is refused but >=2 same-code
    // windows exist and every query has at least one stable (or
    // cross-window-agreeing) candidate, the canonical is ASSEMBLED from
    // the per-query minima and lands at the requested path, explicitly
    // marked. Single-pass probes (basePasses 1) never feed the sidecar,
    // and subset windows never trigger in-process assembly themselves
    // (graft.BenchAssemble is the offline path that can conclude a
    // campaign after a targeted re-measure).
    val codeId = sys.env.getOrElse("SPARK_GRAFT_CODE_ID",
      BenchCore.gitHeadId(new java.io.File(".")))
    val windowsPath = requestedPath + ".windows.jsonl"
    val windowsFile = new java.io.File(windowsPath)
    // An unidentifiable build (CWD outside the repo, unborn HEAD) must not
    // feed the sidecar: eligibleWindows rejects "unknown" so every such
    // append would silently grow the sidecar while stalling assembly
    // forever (ADVICE, round 13). Warn loudly and skip instead.
    if (codeId == "unknown")
      System.err.println("[bench] WARNING: code id is 'unknown' (not launched from the repo " +
        "root and SPARK_GRAFT_CODE_ID unset) — window evidence will NOT be persisted; " +
        "this window cannot join any assembly campaign")
    val sidecarEligible = basePasses >= 3 && codeId != "unknown"
    val fullSurfaceWindow = only.isEmpty && sidecarEligible
    var assembled: Option[BenchCore.Assembled] = None
    if (sidecarEligible && isSubset) {
      // Targeted subset window: persist the evidence; assembly is offline.
      val ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("MM-dd'T'HH:mm:ss"))
      val rec = BenchCore.WindowRecord(ts, codeId, sfDir, "full_rows",
        noiseIndex, exitRatioOpt, spreadDirty, results)
      try {
        val w = new java.io.FileWriter(windowsFile, java.nio.charset.StandardCharsets.UTF_8, true)
        try w.write(BenchCore.renderWindow(rec) + "\n") finally w.close()
        System.err.println(s"[bench] subset window (${results.size} queries) appended to $windowsPath")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] windows sidecar append failed: ${e.getMessage}")
      }
    }
    if (fullSurfaceWindow) {
      val ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("MM-dd'T'HH:mm:ss"))
      val rec = BenchCore.WindowRecord(ts, codeId, sfDir, "full_rows",
        noiseIndex, exitRatioOpt, spreadDirty, results)
      if (accepted) {
        // A window-accepted canonical supersedes any campaign in flight.
        if (windowsFile.isFile && !windowsFile.delete())
          System.err.println(s"[bench] could not clear windows sidecar $windowsPath")
      } else {
        try {
          val w = new java.io.FileWriter(windowsFile, java.nio.charset.StandardCharsets.UTF_8, true)
          try w.write(BenchCore.renderWindow(rec) + "\n") finally w.close()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] windows sidecar append failed: ${e.getMessage}")
        }
        val windows: Seq[BenchCore.WindowRecord] =
          try {
            val src = scala.io.Source.fromFile(windowsFile, "UTF-8")
            try src.getLines().flatMap(BenchCore.parseWindow).toList finally src.close()
          } catch { case e: Throwable =>
            System.err.println(s"[bench] windows sidecar read failed: ${e.getMessage}"); Seq.empty
          }
        val eligible = BenchCore.eligibleWindows(windows, codeId, sfDir, "full_rows", ordered)
        assembled = BenchCore.assemble(eligible, ordered)
        assembled match {
          case None =>
            System.err.println(s"[bench] assembly not yet possible: ${eligible.size} eligible " +
              s"window(s) for code $codeId (need >=${BenchCore.MinAssemblyWindows} with every query stable somewhere)")
          case Some(asm) =>
            val aTotal = asm.queries.map(_.median).sum
            val asmJson = BenchCore.assembledJson(asm, sfDir, basePasses, codeId,
              eligible.map(_.noiseIndex), refusals)
            try {
              val w = new java.io.PrintWriter(requestedPath, "UTF-8")
              try w.println(asmJson) finally w.close()
              // Campaign concluded: the refusal history is recorded in the
              // artifact itself; both sidecars reset for the next campaign.
              if (sidecarFile.isFile) sidecarFile.delete(): Unit
              if (windowsFile.isFile) windowsFile.delete(): Unit
            } catch { case e: Throwable =>
              System.err.println(s"[bench] assembled canonical write failed: ${e.getMessage}")
            }
            System.err.println(f"[bench] ASSEMBLED canonical from ${asm.windows} windows: " +
              f"total $aTotal%.2f s (window totals were ${eligible.map(_.queries.filter(_.ok).map(_.median).sum).map(t => f"$t%.1f").mkString("/")})")
            System.err.println(s"[bench] assembled=$asmJson")
        }
      }
    }
    // Refused full-surface window with no assembled canonical available:
    // the per-query medians still land at the PRIMARY details path, flagged
    // "noisy":true (round-14 ask #7 — the driver reads only this path, and
    // a silent sidecar diversion starved its per-query comparison two
    // rounds running; flagged data with a caveat beats no data). The .noisy
    // sidecar copy above is kept as the campaign's inspection history.
    if (fullSurfaceWindow && !accepted && assembled.isEmpty) {
      try {
        val w = new java.io.PrintWriter(requestedPath, "UTF-8")
        try w.println(detailsJson) finally w.close()
        System.err.println(s"[bench] refused window's per-query medians written to " +
          s"$requestedPath with noisy=true (no assembled canonical available)")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] noisy-flagged details write failed: ${e.getMessage}")
      }
    }
    val asmField = assembled.map(a => s""","assembled_from":${a.windows},"assembled_total":${fmt(a.queries.map(_.median).sum)}""").getOrElse("")
    // refused[] capped at the 8 most recent on stdout (the driver tail-
    // captures ~2.2 KB); refused_n carries the campaign's full count and
    // the details artifact the full array.
    // The reported details path is wherever the freshest per-query data
    // actually lives: the primary path unless this was a subset run (which
    // never touches it).
    val reportedDetails =
      if (fullSurfaceWindow && !accepted && assembled.isEmpty) requestedPath else detailsPath
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$failed,"sf":"$sfDir","passes":$basePasses,"estimator":"median","work":"full_rows","noise_index":${f"$noiseIndex%.2f"},"refused_n":${refusals.size},"refused":${BenchCore.refusalsJson(refusals, cap = 8)}$asmField,"details":"$reportedDetails"}""")
    spark.stop()
  }
}
