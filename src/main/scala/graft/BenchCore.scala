package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{avg, sum}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The bench measurement loop, factored pure so the noise defense is
  * TESTABLE: pass-runner and calibrator are injected functions, which lets
  * BenchChaosSpec replay a recorded throttle window deterministically and
  * assert the defense actually recovers clean medians — the round-5 driver
  * capture (noise_index 18.44, a ~18× mid-run throttle) showed the 5-pass
  * adaptive rescue alone can be beaten when the throttle outlasts every
  * pass of a query.
  *
  * Defense layers (cheapest first):
  *   1. median of 3 passes — rejects one corrupted pass;
  *   2. adaptive re-measurement to 5 passes when the good-pass spread
  *      exceeds 50% — rejects two;
  *   3. NEW (round 6): post-run noise recovery. If the calibration
  *      noise_index exceeds [[NoiseThreshold]] — or any query escalated
  *      to 5 passes and STILL shows >[[UnstableSpread]]% spread (a
  *      throttle window the three calibration points missed but which
  *      provably landed on that query and outlasted its escalation) —
  *      the host was throttled during the window; wait until a fresh
  *      calibration lands within
  *      [[RecoveredFactor]]× of the best calibration seen (bounded
  *      retries), then run ONE clean SCREENING pass per query: where it
  *      undercuts the recorded median by more than [[ScreenSlack]], the
  *      first-round median was throttle-inflated — re-measure that query
  *      in full and keep the smaller median. Screening the whole surface
  *      (≈⅓ of a bench) instead of a worst-spread decile is deliberate: a
  *      query whose EVERY pass fell inside the throttle window has
  *      near-zero spread, so spread cannot identify exactly the queries
  *      the window fully covered (proven in BenchChaosSpec). min(old,
  *      re-run) is safe because external throttling only ever inflates a
  *      timing and the re-run happens AFTER recovery was observed.
  */
object BenchCore {
  val NoiseThreshold = 3.0
  val UnstableSpread = 50.0 // escalated to 5 passes AND still above = dirty window
  val RecoveredFactor = 1.5
  val ScreenSlack = 0.8 // screening pass < 80% of old median → re-measure
  val MaxRecoveryProbes = 40

  /** Canonical-capture noise gate (round 10): round 9 committed three
    * same-code canonical refreshes spanning 117.5–151.1 s (±22%), so
    * cross-round per-query comparisons were dominated by host throttling,
    * not code. A capture that fails [[canonicalAcceptable]] is kept in the
    * windows log but never replaces an accepted or assembled details file
    * of its code ([[derive]]). 1.5 is the recovery criterion the rescue
    * sweep already trusts ([[RecoveredFactor]]).
    *
    * The EXIT-CALIBRATION clause exists by measurement, not taste: on a
    * full 182-query window the mid/end calibrations sit 1.7–2.4× above
    * the start one in EVERY capture ever taken on this host — including
    * the very capture the round-9 verdict labeled "cleaner" (noise 2.40,
    * cals 0.30/0.48/0.72) — because a calibration sampled between
    * memory-heavy queries inherits their GC/heap state. That drift is
    * SELF-inflicted and identical across same-code runs, so it cannot
    * corrupt a cross-round comparison; external throttling can. The two
    * are separable at window exit: once the bench's own pressure stops, a
    * quiet host returns to the window's best calibration within
    * [[RecoveredFactor]], while a genuinely throttled host stays slow.
    * A raw noise_index ≤ 1.5 therefore accepts directly; otherwise the
    * capture is canonical iff the exit calibration (min of 3 post-run
    * runs) recovered AND no query carried a >[[UnstableSpread]]% spread
    * through full escalation (the direct per-query throttle evidence). */
  val CanonicalNoiseGate = 1.5

  /** Hard ceiling on the exit-calibration clause (round 11, ADVICE): the
    * clause exists to forgive SELF-inflicted GC/heap calibration drift,
    * which has measured 1.7–2.4× on every full-surface window this host
    * has ever produced. A window above [[NoiseThreshold]] — the level the
    * rescue layer itself treats as "the host was throttled" — cannot be
    * that drift, so it must not become the canonical baseline even when
    * the throttle lifts before the exit calibration and the per-query
    * dirty signal (which ignores sub-[[DirtyMedianFloor]] queries) missed
    * it. Tied to NoiseThreshold by definition, not coincidence. */
  val CanonicalNoiseCeiling: Double = NoiseThreshold
  /** Spread-based throttle evidence only counts for queries at least this
    * long: below it, absolute scheduler jitter (±~0.1 s) dominates the
    * relative spread — ~90 sub-second queries escalate with >50% spread in
    * EVERY full-surface window, quiet or not, so they carry no signal. */
  val DirtyMedianFloor = 1.0

  /** The canonical-capture acceptance rule — pure so it is spec-testable.
    * `exitRatio` = (min of 3 post-run calibrations) / (window's best
    * calibration) — `None` when the exit calibration was skipped because
    * the raw noise_index already accepts (round 11: the three exit passes
    * cannot change a ≤[[CanonicalNoiseGate]] verdict, so they are not
    * run); `spreadDirty` = some query escalated to 5 passes and still
    * spread >[[UnstableSpread]]%. */
  def canonicalAcceptable(noiseIndex: Double, exitRatio: Option[Double],
      spreadDirty: Boolean): Boolean =
    noiseIndex <= CanonicalNoiseGate ||
      (noiseIndex <= CanonicalNoiseCeiling &&
        exitRatio.exists(_ <= RecoveredFactor) && !spreadDirty)

  case class Q(name: String, median: Double, spreadPct: Double, passes: Int,
      ok: Boolean, rescued: Boolean = false)

  // --------------------------------------------------------------------
  // Per-query quiet-window ASSEMBLY (round 12). The acceptance gate judges
  // a WINDOW: one calibration excursion anywhere in ~26 minutes refuses
  // the whole capture, and as the surface grows a uniformly-quiet window
  // gets rarer (round 11: four refusals, zero acceptances — the gate was
  // refusing evidence, not hiding regressions). The acceptance UNIT
  // therefore generalizes from window to QUERY: every window (refused or
  // not) appends its per-query medians to the windows log, and once at least
  // [[MinAssemblyWindows]] same-code windows exist, the canonical is
  // assembled per query as the MINIMUM median over the windows where that
  // query was STABLE ([[stableIn]]). min is the same monotonicity
  // argument the rescue sweep's min(old, re-run) already trusts: external
  // interference only ever INFLATES a timing, and each candidate is
  // itself a median of 3–5 passes, so the min over window-medians is the
  // least-interfered honest estimate, not a lucky single pass. Windows
  // mixing code versions must never assemble together — eligibility
  // requires an exact codeId ([[codeId]]) + sf + work + cpus match and a
  // contained query set.
  // --------------------------------------------------------------------

  /** Minimum same-code FULL-SURFACE windows before an assembled canonical
    * may land: with one, "assembly" would just bypass the window gate.
    * Round 13 (ADVICE): the count is over windows covering the WHOLE
    * registry being assembled — a single refused full window plus a stale
    * 1–2-query targeted subset window must not satisfy it, because then
    * nearly every query would be sourced solely from the one refused
    * window, defeating the rationale. Subset windows remain supplemental
    * per-query evidence only. */
  val MinAssemblyWindows = 2

  /** Was this query's measurement quiet IN ITS OWN WINDOW? A multi-second
    * query that escalated to 5 passes and STILL spread >50% is direct
    * evidence a throttle landed on it and outlasted escalation — its
    * median is corrupted and must not feed the assembly. Sub-second
    * queries carry no relative-spread signal (scheduler jitter dominates)
    * and rely on the cross-window min instead. */
  def stableIn(q: Q): Boolean =
    q.ok && !(q.median >= DirtyMedianFloor && q.passes >= 5 && q.spreadPct > UnstableSpread)

  /** One bench window as appended to the windows log, the only state the
    * bench keeps: the details file is [[derive]]d from the log. `accepted`
    * is the [[canonicalAcceptable]] verdict, `passes` the base pass count,
    * `heapGb` the JVM's max heap in whole GiB. */
  case class WindowRecord(ts: String, codeId: String, sf: String, work: String,
      noiseIndex: Double, exitRatio: Option[Double], spreadDirty: Boolean,
      queries: Seq[Q], accepted: Boolean, passes: Int, cpus: Int, heapGb: Int,
      calibrations: Seq[Double], exitCalibration: Option[Double], rescueRan: Boolean)

  def renderWindow(w: WindowRecord): String = {
    import org.json4s.JsonDSL._
    val qs = JArray(w.queries.toList.map(q =>
      ("n" -> q.name) ~ ("m" -> q.median) ~ ("s" -> q.spreadPct) ~
        ("p" -> q.passes) ~ ("ok" -> q.ok) ~ ("r" -> q.rescued)))
    compact(("ts" -> w.ts) ~ ("code" -> w.codeId) ~ ("sf" -> w.sf) ~
      ("work" -> w.work) ~ ("ni" -> w.noiseIndex) ~
      ("er" -> w.exitRatio) ~ ("sd" -> w.spreadDirty) ~ ("q" -> qs) ~
      ("accepted" -> w.accepted) ~ ("passes" -> w.passes) ~ ("cpus" -> w.cpus) ~
      ("heap_gb" -> w.heapGb) ~ ("cal" -> w.calibrations.toList) ~
      ("xc" -> w.exitCalibration) ~ ("rr" -> w.rescueRan))
  }

  /** Strict inverse of [[renderWindow]]; a corrupt line — including one
    * written before a field existed — parses to None and is dropped rather
    * than poisoning the derived details. */
  def parseWindow(line: String): Option[WindowRecord] =
    try {
      val j = JsonMethods.parse(line)
      def str(v: JValue) = v match { case JString(s) => s; case o => throw new MatchError(o) }
      def bool(v: JValue) = v match { case JBool(b) => b; case o => throw new MatchError(o) }
      def dbl(v: JValue) = v match {
        case JDouble(d) => d; case JInt(i) => i.toDouble
        case JDecimal(d) => d.toDouble; case JLong(l) => l.toDouble
        case other => throw new MatchError(other)
      }
      def opt(v: JValue) = v match { case JNothing | JNull => None; case v => Some(dbl(v)) }
      def arr(v: JValue) = v match { case JArray(items) => items; case o => throw new MatchError(o) }
      val qs = arr(j \ "q").map(it => Q(str(it \ "n"), dbl(it \ "m"), dbl(it \ "s"),
        dbl(it \ "p").toInt, bool(it \ "ok"), bool(it \ "r")))
      Some(WindowRecord(str(j \ "ts"), str(j \ "code"), str(j \ "sf"), str(j \ "work"),
        dbl(j \ "ni"), opt(j \ "er"), bool(j \ "sd"), qs, bool(j \ "accepted"),
        dbl(j \ "passes").toInt, dbl(j \ "cpus").toInt, dbl(j \ "heap_gb").toInt,
        arr(j \ "cal").map(dbl), opt(j \ "xc"), bool(j \ "rr")))
    } catch { case _: Throwable => None }

  /** Windows that may assemble with a capture identified by (codeId, sf,
    * work, cpus, names): same code, same data, same estimator, same core
    * count (a 4-core and a 32-core window must not pool per-query minima),
    * and a query set CONTAINED in the registry being assembled — full-surface windows
    * carry all names; a TARGETED subset window (a BENCH_ONLY re-measure of
    * the specific queries a campaign could not adjudicate) carries fewer.
    * Per-query acceptance makes the subset window valid evidence: it
    * measures the identical plan with the identical warmup/calibration
    * machinery, and the cross-window min can only move a median DOWN to a
    * quieter measurement. codeId "unknown" never matches anything
    * (including itself) — an unidentifiable build must not
    * cross-assemble. */
  def eligibleWindows(windows: Seq[WindowRecord], codeId: String, sf: String,
      work: String, cpus: Int, names: Seq[String]): Seq[WindowRecord] = {
    val nameSet = names.toSet
    if (codeId == "unknown") Seq.empty
    else windows.filter(w => w.codeId == codeId && w.sf == sf && w.work == work &&
      w.cpus == cpus && w.queries.nonEmpty && w.queries.map(_.name).toSet.subsetOf(nameSet))
  }

  /** One assembled per-query result: the chosen window-median, which
    * window it came from (index into the eligible-window list), how many
    * windows offered a candidate, the cross-window agreement spread over
    * those candidates ((max-min)/min %, 0 when single), and whether the
    * evidence was a QUIET window ([[stableIn]]) or the cross-window
    * agreement fallback. */
  case class AssembledQ(name: String, median: Double, spreadPct: Double,
      passes: Int, fromWindow: Int, candidates: Int, xwSpreadPct: Double,
      quiet: Boolean = true)

  case class Assembled(queries: Seq[AssembledQ], windows: Int)

  /** Cross-window AGREEMENT fallback bound: a query whose every window
    * shows >[[UnstableSpread]]% pass spread (an occasional throttled pass
    * in each window — measured on this host for a dozen GC-heavy
    * multi-second queries in EVERY window of the round-12 campaign) can
    * still assemble when its window-MEDIANS agree within this bound
    * across >= 2 windows: the median of 5 passes is robust to minority
    * corruption, and two windows measured hours apart agreeing within a
    * quarter while their raw passes spread 60–200% is evidence the
    * medians themselves are honest — independent throttles would have to
    * corrupt both windows by the same factor to fake it. min is then the
    * same inflation-only choice as everywhere else. Queries that fail
    * BOTH rules (no quiet window AND medians in real disagreement, e.g.
    * 1.4 vs 2.7 s) block assembly — that disagreement is precisely an
    * unadjudicated measurement, and inventing a number for it would
    * defeat the gate. */
  val AgreementSpreadPct = 25.0

  /** Assemble a canonical from per-query quiet windows, or None when the
    * evidence is insufficient: fewer than [[MinAssemblyWindows]] windows
    * COVERING the full `names` registry (targeted subset windows count
    * only as supplemental per-query evidence, never toward the minimum),
    * or some query has neither a stable candidate ([[stableIn]]) nor
    * cross-window median agreement ([[AgreementSpreadPct]]). */
  def assemble(windows: Seq[WindowRecord], names: Seq[String]): Option[Assembled] = {
    val nameSet = names.toSet
    val fullSurface = windows.count(_.queries.map(_.name).toSet == nameSet)
    if (fullSurface < MinAssemblyWindows) return None
    val perQuery = names.map { name =>
      val okCands = windows.zipWithIndex.flatMap { case (w, i) =>
        w.queries.find(_.name == name).filter(_.ok).map(q => (q, i))
      }
      val stableCands = okCands.filter(c => stableIn(c._1))
      def pick(cands: Seq[(Q, Int)], quiet: Boolean) = {
        val (best, from) = cands.minBy(_._1.median)
        val meds = cands.map(_._1.median)
        val xw = if (meds.min > 0) (meds.max - meds.min) / meds.min * 100 else 0.0
        AssembledQ(name, best.median, best.spreadPct, best.passes, from,
          cands.size, xw, quiet)
      }
      if (stableCands.nonEmpty) pick(stableCands, quiet = true)
      else if (okCands.size >= 2) {
        val cand = pick(okCands, quiet = false)
        if (cand.xwSpreadPct <= AgreementSpreadPct) cand else return None
      } else return None
    }
    Some(Assembled(perQuery, windows.size))
  }

  // --------------------------------------------------------------------
  // The details file, DERIVED from the windows log. The log is append-only
  // and never cleared; the details file is a pure function of it, so an
  // interrupted run, a subset re-measure or an offline re-derivation
  // ([[graft.BenchAssemble]]) can never leave the two out of step.
  // --------------------------------------------------------------------

  /** The details file [[derive]] yields, the identity's refused full-surface
    * windows in log order, and the assembly when rule 2 chose it. */
  case class Derived(details: JValue, refused: Seq[WindowRecord], assembled: Option[Assembled])

  /** Minimum base pass count of a window that may define or join an identity. */
  val MinCanonicalPasses = 3

  /** The details file as a function of the windows log. The identity is
    * that of the log's latest full-surface record (query set == `registry`,
    * passes >= [[MinCanonicalPasses]], known code): its (code, sf, work,
    * cpus). Picked in order: (1) the identity's latest accepted
    * full-surface window; (2) else [[assemble]] over its eligible windows,
    * subset windows included; (3) else its latest refused window, flagged
    * `noisy:true` (a reader applies the caveat instead of getting no data).
    * None when the log holds no full-surface record. */
  def derive(log: Seq[String], registry: Seq[String]): Option[Derived] = {
    val nameSet = registry.toSet
    val windows = log.flatMap(parseWindow)
      .filter(w => w.passes >= MinCanonicalPasses && w.codeId != "unknown")
    def fullSurface(w: WindowRecord) = w.queries.map(_.name).toSet == nameSet
    windows.findLast(fullSurface).map { id =>
      val fulls = windows.filter(w => fullSurface(w) && w.codeId == id.codeId &&
        w.sf == id.sf && w.work == id.work && w.cpus == id.cpus)
      val refused = fulls.filterNot(_.accepted)
      fulls.findLast(_.accepted) match {
        case Some(a) => Derived(windowDetails(a, refused), refused, None)
        case None =>
          val eligible = eligibleWindows(windows, id.codeId, id.sf, id.work, id.cpus, registry)
          assemble(eligible, registry) match {
            case Some(asm) => Derived(assembledDetails(asm, id, eligible, refused), refused, Some(asm))
            case None => Derived(windowDetails(refused.last, refused), refused, None)
          }
      }
    }
  }

  /** `d` at a fixed number of decimals: 4 for seconds, 2 for noise_index
    * and exit_ratio, 1 for spreads. */
  def dec(d: Double, scale: Int): JValue =
    JDecimal(BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP))

  def compact(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  private def orNull(v: Option[JValue]): JValue = v.getOrElse(JNull)

  /** Refused windows as `{"ts","ni","er","sd"}` elements (~55 B each). */
  private def refusedArray(rs: Seq[WindowRecord]): JValue = {
    import org.json4s.JsonDSL._
    JArray(rs.toList.map(w => ("ts" -> w.ts) ~ ("ni" -> dec(w.noiseIndex, 2)) ~
      ("er" -> orNull(w.exitRatio.map(dec(_, 2)))) ~ ("sd" -> w.spreadDirty)))
  }

  /** The keys both details shapes open with, in their fixed order. */
  private def header(value: Double, id: WindowRecord, passes: Int, estimator: String,
      n: Int): JObject = {
    import org.json4s.JsonDSL._
    ("metric" -> "total") ~ ("value" -> dec(value, 4)) ~ ("unit" -> "sec") ~
      ("sf" -> id.sf) ~ ("passes" -> passes) ~ ("estimator" -> estimator) ~
      ("work" -> id.work) ~ ("cpus" -> id.cpus) ~ ("heap_gb" -> id.heapGb) ~ ("n" -> n)
  }

  private def windowDetails(w: WindowRecord, refused: Seq[WindowRecord]): JValue = {
    import org.json4s.JsonDSL._
    def byName(f: Q => JValue) = JObject(w.queries.toList.map(q => q.name -> f(q)))
    def names(p: Q => Boolean) = w.queries.filter(p).map(_.name).toList
    header(w.queries.map(_.median).sum, w, w.passes, "median", w.queries.size) ~
      ("noisy" -> !w.accepted) ~ ("noise_index" -> dec(w.noiseIndex, 2)) ~
      ("calibration_sec" -> JArray(w.calibrations.toList.map(dec(_, 4)))) ~
      ("exit_calibration_sec" -> orNull(w.exitCalibration.map(dec(_, 4)))) ~
      ("exit_ratio" -> orNull(w.exitRatio.map(dec(_, 2)))) ~
      ("refused" -> refusedArray(refused)) ~ ("failed" -> names(!_.ok)) ~
      ("rescued" -> names(_.rescued)) ~ ("rescue_ran" -> w.rescueRan) ~
      ("queries" -> byName(q => dec(q.median, 4))) ~
      ("spread_pct" -> byName(q => dec(q.spreadPct, 1))) ~
      ("pass_count" -> byName(q => JInt(q.passes)))
  }

  private def assembledDetails(asm: Assembled, id: WindowRecord,
      eligible: Seq[WindowRecord], refused: Seq[WindowRecord]): JValue = {
    import org.json4s.JsonDSL._
    def byName(f: AssembledQ => JValue) = JObject(asm.queries.toList.map(q => q.name -> f(q)))
    header(asm.queries.map(_.median).sum, id, eligible.map(_.passes).min,
        "assembled_min_median", asm.queries.size) ~
      ("assembled_from" -> asm.windows) ~ ("code_id" -> id.codeId) ~
      ("window_noise" -> JArray(eligible.toList.map(w => dec(w.noiseIndex, 2)))) ~
      ("refused" -> refusedArray(refused)) ~ ("failed" -> JArray(Nil)) ~
      ("agreed_fallback" -> asm.queries.filterNot(_.quiet).map(_.name).toList) ~
      ("queries" -> byName(q => dec(q.median, 4))) ~
      ("spread_pct" -> byName(q => dec(q.spreadPct, 1))) ~
      ("pass_count" -> byName(q => JInt(q.passes))) ~
      ("from_window" -> byName(q => JInt(q.fromWindow))) ~
      ("candidates" -> byName(q => JInt(q.candidates))) ~
      ("xw_spread_pct" -> byName(q => dec(q.xwSpreadPct, 1)))
  }

  /** Bench's one stdout line: this window's totals beside the derived
    * campaign state. The driver tail-captures ~2.2 KB of stdout (a
    * 100+-query map overflowed it for three rounds), so per-query data
    * stays in the details file and `refused` keeps the 8 most recent
    * entries; `refused_n` carries the full count. */
  def summaryLine(w: WindowRecord, derived: Option[Derived], detailsPath: String): String = {
    import org.json4s.JsonDSL._
    val refused = derived.toSeq.flatMap(_.refused)
    val assembled = derived.flatMap(_.assembled).toList.flatMap(a => List(
      "assembled_from" -> JInt(a.windows),
      "assembled_total" -> dec(a.queries.map(_.median).sum, 4)))
    compact(("metric" -> "total") ~ ("value" -> dec(w.queries.map(_.median).sum, 4)) ~
      ("unit" -> "sec") ~ ("n" -> w.queries.size) ~
      ("failed" -> w.queries.filterNot(_.ok).map(_.name).toList) ~ ("sf" -> w.sf) ~
      ("passes" -> w.passes) ~ ("estimator" -> "median") ~ ("work" -> w.work) ~
      ("noise_index" -> dec(w.noiseIndex, 2)) ~ ("refused_n" -> refused.size) ~
      ("refused" -> refusedArray(refused.takeRight(8))) ~ JObject(assembled) ~
      ("details" -> detailsPath))
  }

  /** `<detailsPath>.windows.jsonl`: the append-only windows log. */
  def windowsLog(detailsPath: String): java.nio.file.Path =
    java.nio.file.Paths.get(detailsPath + ".windows.jsonl")

  /** [[derive]] over the windows log beside `detailsPath`, writing the
    * details file when derive yields one. */
  def writeDerived(detailsPath: String, registry: Seq[String]): Option[Derived] = {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val log = windowsLog(detailsPath)
    val lines = if (Files.isRegularFile(log)) Files.readAllLines(log, UTF_8).asScala.toSeq else Nil
    val derived = derive(lines, registry)
    derived.foreach(d => Files.write(java.nio.file.Paths.get(detailsPath),
      (compact(d.details) + "\n").getBytes(UTF_8)))
    derived
  }

  /** Fixed calibration workload: generate → modular hash-agg → sort, all
    * in-memory and data-independent, sized to exercise codegen + exchange
    * machinery for a few hundred ms warm. Its only legitimate run-to-run
    * variation is the host. Returns seconds. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 8L * 1000 * 1000, 1L, numPartitions = 32)
      .selectExpr("id % 9973 AS k", "(id * 2654435761) % 1000003 AS v")
      .groupBy("k").agg(sum("v"), avg("v"))
      .orderBy("k").count(): Unit
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed warm-up before the first timed pass, logged under `tag`: each
    * named query once on the tiny `warmDir` corpus (JIT/codegen — see
    * [[Bench]]), the calibration plan once, then every byte under `sfDir`
    * via [[warmData]] unless SPARK_GRAFT_DATA_WARM=0 (e.g. when cold-read
    * behavior is itself the measurement target). */
  def warmUp(spark: SparkSession, names: Seq[String], sfDir: String, warmDir: String,
      tag: String): Unit = {
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) names.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).queryExecution.toRdd.count(): Unit
      catch { case e: Throwable => System.err.println(s"[$tag] warmup $name: ${e.getMessage}") }
    }
    calibrate(spark): Unit
    if (sys.env.getOrElse("SPARK_GRAFT_DATA_WARM", "1") != "0") {
      val tw0 = System.nanoTime()
      val warmed = warmData(new java.io.File(sfDir), System.err.println(_))
      System.err.println(f"[$tag] data-warm: ${warmed / 1e9}%.2f GB in " +
        f"${(System.nanoTime() - tw0) / 1e9}%.1f s")
    }
  }

  /** Decade-scale heap hygiene, run OUTSIDE a timed region: checkpoint
    * blocks from a finished query are freed by the ContextCleaner only
    * after their weak refs are GC-enqueued, and under sf100-sized
    * allocation bursts the next query's tasks can OOM before that happens
    * (measured: training_mix_full OOM'd at 64 g following three completed
    * queries, but passed solo). Collects only under real pressure so sf0.1
    * windows never pay a full GC. */
  def gcIfPressured(): Unit = {
    val rt = Runtime.getRuntime
    if (rt.totalMemory - rt.freeMemory > rt.maxMemory / 2) System.gc()
  }

  /** Untimed data-warm pass (round 12, from the round-11 ladder finding:
    * dedup_lsh_tune's 22–48% sf10 spreads collapsed to 3.3% once the
    * parquet bytes were page-cache-warm — first-pass cold reads were
    * masquerading as plan noise). Reads every byte of every file under
    * `dir` so the OS page cache holds the corpus before the first timed
    * pass; returns total bytes so callers can log what was warmed. The
    * JIT warmup at sf0.001 cannot do this job — it never touches the
    * measured directory's files. */
  def warmData(dir: java.io.File, log: String => Unit = _ => ()): Long = {
    // Symlinks are skipped (round-13 ADVICE): File.isDirectory follows
    // them, so a cycle under the SF dir would recurse forever.
    def filesUnder(f: java.io.File): Seq[java.io.File] =
      if (java.nio.file.Files.isSymbolicLink(f.toPath)) Seq.empty
      else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(filesUnder)
      else if (f.isFile) Seq(f) else Seq.empty
    val buf = new Array[Byte](8 * 1024 * 1024)
    var total = 0L
    filesUnder(dir).foreach { f =>
      val in = new java.io.FileInputStream(f)
      try {
        var n = in.read(buf)
        while (n >= 0) { total += n; n = in.read(buf) }
      } catch { case e: Throwable =>
        log(s"[bench] data-warm ${f.getPath}: ${e.getMessage}")
      } finally in.close()
    }
    total
  }

  /** Total input bytes under `dir`, resolved through the HADOOP FileSystem
    * API so the probe works on any URI a cluster run would pass (s3://,
    * hdfs://, file:/) — a `java.io.File` walk (the round-13 spelling)
    * silently returned 0 for object-store URIs, collapsing the derived
    * partition count to the 2×cores floor, exactly the configuration the
    * round-11 sf100 audit measured OOMing (optimization round 14, VERDICT
    * "What's wrong #1"). Returns 0 on ANY failure (missing path, no
    * credentials, unreadable scheme) — [[scaleInitialPartitions]] treats
    * 0 as "size unknown" and floors at the safe 512. */
  def inputBytes(dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      fs.getContentSummary(p).getLength
    } catch { case _: Throwable => 0L }

  /** AQE initial shuffle-partition count DERIVED FROM INPUT SIZE instead
    * of a constant (optimization round 13; spark_optimization_guide §2.2/
    * §2.5 — partitioning must scale with the data, and a constant tuned
    * for one decade is wrong at every other decade). One initial
    * partition per 32 MB of input, floored at 2×cores (so small inputs
    * keep full reduce-side parallelism at ANY driver core count) and
    * capped at 4096 (initial count only — AQE coalesces down to the
    * advisory size; ops raises the cap for a >128 GB-input cluster run).
    *
    * UNKNOWN input size (`inputBytes <= 0`: a failed size probe, an
    * unreadable object-store path) floors at 512, NOT at 2×cores: the
    * round-11 sf100 decade measured <512 initial partitions OOMing
    * per-task aggregation state, so the fail-safe default must be the
    * big-data-safe value — a too-high start count only costs AQE a
    * coalesce, a too-low one kills the job (round 14, VERDICT #2).
    *
    * Calibration points: sf0.1 (~17 MB) → 64 at 32 cores, where the old
    * constant 512 made every tiny exchange write 512 sort buckets per map
    * task and AQE plan over 512-partition statistics; sf100 (~17.5 GB) →
    * 546, preserving the round-11 sf100 finding that ≥512 initial
    * partitions keep per-task aggregation state inside execution memory
    * (AGGREGATE_OUT_OF_MEMORY at 32). Env SPARK_GRAFT_INITIAL_PARTS
    * overrides for A/B and for cluster ops. */
  def scaleInitialPartitions(inputBytes: Long, cpus: Int): Int =
    if (inputBytes <= 0L) math.max(512, 2 * cpus)
    else math.min(4096, math.max(2 * cpus, (inputBytes / (32L << 20)).toInt))

  /** The derived-or-overridden AQE `initialPartitionNum` value that
    * [[GraftSession.local]] sets. A malformed SPARK_GRAFT_INITIAL_PARTS
    * fails with a named message instead of a raw NumberFormatException. */
  def initialPartitions(sfDir: String, cpus: Int): String =
    initialPartitionsFrom(sys.env.get("SPARK_GRAFT_INITIAL_PARTS"), inputBytes(sfDir), cpus)

  /** Pure core of [[initialPartitions]] (env + size probe injected) so the
    * override parsing and the unknown-size floor are unit-testable. */
  def initialPartitionsFrom(envOverride: Option[String], bytes: Long, cpus: Int): String =
    envOverride match {
      case Some(v) =>
        try v.trim.toInt.toString
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_INITIAL_PARTS must be an integer partition count, got '$v'")
        }
      case None => scaleInitialPartitions(bytes, cpus).toString
    }

  /** Code id for window-assembly eligibility: the first 12 hex chars of a
    * SHA-256 over the sorted relative paths and bytes of every regular file
    * under `dir/src/main`. Content, not the git commit, so a commit that
    * changes only artifacts keeps its windows. "unknown" when that
    * directory is absent — which [[eligibleWindows]] treats as
    * never-matching. */
  def codeId(dir: java.io.File): String = {
    import java.nio.file.{Files, LinkOption}
    import scala.jdk.CollectionConverters._
    val root = new java.io.File(dir, "src/main").toPath
    if (!Files.isDirectory(root)) "unknown"
    else {
      val walk = Files.walk(root)
      val files = try walk.iterator.asScala.filter(Files.isRegularFile(_, LinkOption.NOFOLLOW_LINKS))
          .map(p => root.relativize(p).toString.replace(java.io.File.separatorChar, '/') -> p)
          .toList.sortBy(_._1)
        finally walk.close()
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.foreach { case (rel, p) =>
        val bytes = Files.readAllBytes(p)
        md.update(rel.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.update(java.nio.ByteBuffer.allocate(9).put(0: Byte).putLong(bytes.length).array())
        md.update(bytes)
      }
      md.digest().take(6).map(b => f"${b & 0xff}%02x").mkString
    }
  }

  case class Result(queries: Seq[Q], calibrations: Seq[Double], noiseIndex: Double,
      rescueRan: Boolean, recoveryProbes: Int)

  def stats(samples: Seq[Double]): (Double, Double) = {
    val s = samples.sorted
    // True median: average the two middle samples when the good-pass count
    // is even (a failed pass leaves an even count; upper-middle alone would
    // report toward the max).
    val med =
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    val spread = if (med > 0) (s.max - s.min) / med * 100 else 0.0
    (med, spread)
  }

  /** Layers 1+2 for one query: `basePasses` passes (3 in every driver /
    * canonical run), adaptively up to 5. basePasses = 1 is the dev-only
    * single-pass probe mode for very large tiered decades (sf100), where
    * three passes of a 10-minute query buy little: a single sample cannot
    * spread-escalate, so such probes rely on the calibration bracketing
    * alone and are recorded with passes = 1 in the artifact — never the
    * cross-round baseline. */
  private def measureOne(name: String, onePass: String => (Double, Boolean),
      basePasses: Int): Q = {
    var passes = (1 to basePasses).map(_ => onePass(name))
    var good = passes.filter(_._2).map(_._1)
    while (good.nonEmpty && passes.size < 5 && basePasses > 1 && stats(good)._2 > 50.0) {
      passes = passes :+ onePass(name)
      good = passes.filter(_._2).map(_._1)
    }
    if (good.isEmpty) Q(name, 0.0, 0.0, passes.size, ok = false)
    else {
      val (med, spread) = stats(good)
      Q(name, med, spread, passes.size, ok = passes.forall(_._2))
    }
  }

  def measure(names: Seq[String], onePass: String => (Double, Boolean),
      calibrate: () => Double,
      log: String => Unit = _ => (),
      basePasses: Int = 3): Result = {
    val calStart = calibrate()
    val midpoint = names.size / 2
    var calMiddle = calStart // overwritten at the midpoint query
    val firstRound = names.zipWithIndex.map { case (name, i) =>
      if (i == midpoint) calMiddle = calibrate()
      measureOne(name, onePass, basePasses)
    }
    val calEnd = calibrate()
    val cals = Seq(calStart, calMiddle, calEnd)
    val noiseIndex = cals.max / math.max(cals.min, 1e-9)
    // Two triggers (round-6 lesson: a 2.85× throttle slipped under the
    // calibration threshold while individual queries carried 240–305%
    // spreads through all 5 passes): the three-point calibration can MISS
    // a throttle window that falls between its samples, but a query that
    // ESCALATED to 5 passes and still shows >50% spread is direct
    // evidence the window landed on it and outlasted the escalation.
    // (Not plain spread>N: under a uniform k× throttle a dirty median's
    // spread is (k-1)/k < 100%, so no fixed percentage separates dirty
    // medians from clean ones — failed stabilization does.)
    val spreadDirty = firstRound.exists(q => q.ok && q.passes >= 5 && q.spreadPct > UnstableSpread)
    if (noiseIndex <= NoiseThreshold && !spreadDirty)
      return Result(firstRound, cals, noiseIndex, rescueRan = false, recoveryProbes = 0)

    // Layer 3: the window was throttled. Wait for the host to come back —
    // a fresh calibration within RecoveredFactor of the best one seen —
    // then re-measure the queries most likely corrupted.
    log(f"[bench] noise_index $noiseIndex%.2f (threshold $NoiseThreshold) / max surviving spread trigger: waiting for host recovery")
    val baseline = cals.min
    var probes = 0
    var recovered = false
    while (probes < MaxRecoveryProbes && !recovered) {
      probes += 1
      recovered = calibrate() <= baseline * RecoveredFactor
    }
    if (!recovered) {
      log(s"[bench] host never recovered within $MaxRecoveryProbes probes; keeping first-round medians")
      return Result(firstRound, cals, noiseIndex, rescueRan = false, recoveryProbes = probes)
    }
    // Screening sweep: one clean pass per query decides whether its
    // first-round median was throttle-inflated. (Spread CANNOT make that
    // call — a fully-covered query times consistently slow, spread ≈ 0.)
    var rescuedCount = 0
    val rescuedRound = firstRound.map { q =>
      if (!q.ok) q
      else {
        val (screen, screenOk) = onePass(q.name)
        if (!screenOk || screen >= q.median * ScreenSlack) q
        else {
          val re = measureOne(q.name, onePass, basePasses)
          // Throttling only inflates; the re-run happened after observed
          // recovery, so the smaller median is the honest one.
          if (re.ok && re.median < q.median) { rescuedCount += 1; re.copy(rescued = true) }
          else q
        }
      }
    }
    log(s"[bench] screening sweep re-measured $rescuedCount of ${firstRound.count(_.ok)} queries")
    Result(rescuedRound, cals, noiseIndex, rescueRan = true, recoveryProbes = probes)
  }
}
