package graft

import org.scalatest.funsuite.AnyFunSuite

/** Chaos test of the bench noise defense (BenchCore), replaying the
  * round-5 driver incident deterministically: an ~18× host throttle that
  * covers a contiguous stretch of the run — long enough that EVERY pass
  * of the queries inside it is corrupted, which defeats median-of-3 and
  * the 5-pass escalation (they only reject minority-corrupted samples).
  * The post-run recovery layer must (a) notice via noise_index, (b) wait
  * out the throttle, (c) screen every query with a clean pass and
  * re-measure the inflated ones, and (d) land every final median within
  * 20% of the quiet-host truth. Spread-based selection is provably
  * insufficient here: a query whose every pass fell inside the window
  * times consistently slow (spread ≈ 0) — the screening sweep is what
  * catches those.
  *
  * The simulated host advances one tick per injected call (passes and
  * calibrations both), so "the throttle ends during the recovery wait" is
  * modeled honestly rather than assumed.
  */
class BenchChaosSpec extends AnyFunSuite {

  /** A simulated host: queries have true costs; calls made while the
    * throttle window covers the current tick run `factor`× slower. */
  private class Host(trueCost: Map[String, Double], throttleFrom: Int,
      throttleTo: Int, factor: Double) {
    var tick = 0
    var passCalls: List[String] = Nil
    private def throttled: Boolean = tick >= throttleFrom && tick < throttleTo
    def onePass(name: String): (Double, Boolean) = {
      tick += 1
      passCalls ::= name
      (trueCost(name) * (if (throttled) factor else 1.0), true)
    }
    def calibrate(): Double = {
      tick += 1
      0.5 * (if (throttled) factor else 1.0)
    }
  }

  private val names = (0 until 10).map(i => f"q$i%02d")
  private val trueCost = names.map(n => n -> (1.0 + n.drop(1).toInt / 10.0)).toMap

  test("an outlasting mid-run throttle is healed by the post-run recovery layer") {
    // Throttle ticks 10..28: with 3 passes/query + mid calibration, this
    // covers queries ~q03..q08 entirely — their every pass is dirty, so
    // spread inside each query is LOW (consistently slow) for the fully
    // covered ones and high at the edges. The window ends before the
    // recovery probes run out.
    val host = new Host(trueCost, throttleFrom = 10, throttleTo = 28, factor = 18.0)
    val out = BenchCore.measure(names, host.onePass, host.calibrate)
    assert(out.noiseIndex > BenchCore.NoiseThreshold, "mid calibration must expose the throttle")
    assert(out.rescueRan, "recovery layer must engage")
    for (q <- out.queries)
      assert(q.median <= trueCost(q.name) * 1.2,
        s"${q.name}: final median ${q.median} vs true ${trueCost(q.name)} — not healed")
    assert(out.queries.exists(_.rescued), "at least the worst-spread queries must be re-measured")
  }

  test("a calibration-blind window is caught by the failed-stabilization trigger") {
    // Throttle ticks 6..10 cover q01's last two passes AND both of its
    // escalation passes, then lift before the mid calibration — all three
    // calibration points read clean (noise_index 1.0), which is exactly
    // the round-6 real capture shape (noise 2.85 under the 3.0 threshold,
    // spreads 240–305% surviving 5 passes). The escalated-but-unstable
    // spread must trigger the rescue anyway.
    val host = new Host(trueCost, throttleFrom = 6, throttleTo = 10, factor = 18.0)
    val out = BenchCore.measure(names, host.onePass, host.calibrate)
    assert(out.noiseIndex <= BenchCore.NoiseThreshold, "calibrations must all miss the window")
    assert(out.rescueRan, "failed-stabilization spread must trigger the rescue")
    for (q <- out.queries)
      assert(q.median <= trueCost(q.name) * 1.2,
        s"${q.name}: final median ${q.median} vs true ${trueCost(q.name)} — not healed")
  }

  test("canonical noise gate: a throttled window cannot overwrite the canonical artifact") {
    def accepts(ni: Double, exit: Option[Double] = Some(1.0), dirty: Boolean = false) =
      BenchCore.canonicalAcceptable(ni, exit, dirty)
    // quiet window → canonical, regardless of the exit state — including
    // the round-11 shape where the exit calibration is SKIPPED (None)
    // because the three passes cannot change a ≤gate verdict
    assert(accepts(1.0, exit = Some(9.9), dirty = true))
    assert(accepts(1.0, exit = None, dirty = true))
    assert(accepts(BenchCore.CanonicalNoiseGate, exit = None))
    // elevated mid-run calibrations + recovered exit + stable queries =
    // the self-inflicted GC/heap drift every full-surface window shows
    // (incl. the round-9 "cleaner" capture at noise 2.40) → canonical
    assert(accepts(2.40, exit = Some(1.2)))
    assert(accepts(2.40, exit = Some(BenchCore.RecoveredFactor)))
    // …but an exit calibration still elevated = genuine external load
    assert(!accepts(2.40, exit = Some(1.51)))
    assert(!accepts(18.44, exit = Some(3.0))) // the round-5 capture
    // …and a query that escalated to 5 passes and STILL spread >50% is
    // direct per-query throttle evidence: refuse even if the exit is clean
    assert(!accepts(2.40, exit = Some(1.2), dirty = true))
    // round-11 hard ceiling (ADVICE): a window the rescue layer itself
    // calls throttled (> NoiseThreshold) cannot become canonical even if
    // the throttle lifted before exit and only sub-floor queries took it
    assert(!accepts(4.19, exit = Some(1.0)))
    assert(accepts(BenchCore.CanonicalNoiseCeiling, exit = Some(1.0)))
    // above the gate, a missing exit ratio can never accept
    assert(!accepts(2.40, exit = None))
    // the gate must be at least as strict as what the rescue layer calls
    // "recovered" — a window rescue would accept is one canonical accepts
    assert(BenchCore.CanonicalNoiseGate <= BenchCore.RecoveredFactor)
  }

  test("refusal telemetry: render/parse round-trip, corrupt-line drop, stdout cap") {
    import org.json4s._
    val names = Seq("a", "b")
    val rs = (1 to 12).map(i => BenchCore.WindowRecord(f"08-15T17:$i%02d:00", "c1", "/d/sf0.1",
      "full_rows", 1.5 + i * 0.1, Some(1.0 + i * 0.05), spreadDirty = i % 3 == 0,
      Seq(BenchCore.Q("a", 1.0 + i, 5.0, 3, ok = true), BenchCore.Q("b", 2.0, 5.0, 3, ok = true)),
      accepted = false, passes = 3, cpus = 4, heapGb = 7, calibrations = Seq(0.5, 0.9, 1.0),
      exitCalibration = Some(0.6), rescueRan = false))
    val lines = rs.map(BenchCore.renderWindow)
    // a corrupt log line drops instead of poisoning the details — also a
    // line in the format written before accepted/passes/cpus/heap_gb
    val oldFormat = """{"ts":"08-15T18:00:00","code":"c1","sf":"/d/sf0.1","work":"full_rows",""" +
      """"ni":9.0,"er":9.0,"sd":true,"q":[{"n":"a","m":1.0,"s":5.0,"p":3,"ok":true},""" +
      """{"n":"b","m":2.0,"s":5.0,"p":3,"ok":true}]}"""
    val log = lines.take(4) ++ Seq("garbage", "", """{"ts":"x","ni":abc}""") ++
      lines.drop(4) :+ oldFormat
    val d = BenchCore.derive(log, names).get
    // the refused list is every refused window, chronological
    assert(d.refused == rs)
    val full = d.details \ "refused"
    assert(full.children.size === 12)
    assert(full.children.map(_ \ "ts") == rs.map(r => JString(r.ts)))
    assert(BenchCore.compact(full.children.head) === """{"ts":"08-15T17:01:00","ni":1.60,"er":1.05,"sd":false}""")
    // the twelve windows assemble; the dropped lines are not among them
    assert(d.assembled.map(_.windows).contains(12))
    // the stdout copy keeps the LAST 8 in chronological order
    val out = jackson.JsonMethods.parse(BenchCore.summaryLine(rs.last, Some(d), "bd.json"))
    assert(out \ "refused_n" == JInt(12))
    assert((out \ "refused").children.map(_ \ "ts") == rs.takeRight(8).map(r => JString(r.ts)))
  }

  test("a quiet host never pays the rescue phase") {
    val host = new Host(trueCost, throttleFrom = 0, throttleTo = 0, factor = 1.0)
    val out = BenchCore.measure(names, host.onePass, host.calibrate)
    assert(!out.rescueRan && out.recoveryProbes == 0, "no noise → no extra work")
    assert(out.queries.forall(q => q.median == trueCost(q.name)))
    // Steady-state cost stays 3 passes/query.
    assert(host.passCalls.size == names.size * 3)
  }

  test("a throttle that never lifts keeps first-round medians and reports honestly") {
    val host = new Host(trueCost, throttleFrom = 10, throttleTo = Int.MaxValue, factor = 18.0)
    val out = BenchCore.measure(names, host.onePass, host.calibrate)
    assert(out.noiseIndex > BenchCore.NoiseThreshold)
    assert(!out.rescueRan, "never-recovered host must not pretend to rescue")
    assert(out.recoveryProbes == BenchCore.MaxRecoveryProbes)
    assert(out.queries.forall(!_.rescued))
  }

  test("5-pass escalation alone still heals a single-pass glitch (layers 1+2 regression)") {
    // One corrupted pass inside a query: the median never sees it.
    val host = new Host(trueCost, throttleFrom = 4, throttleTo = 5, factor = 18.0)
    val out = BenchCore.measure(names, host.onePass, host.calibrate)
    for (q <- out.queries)
      assert(q.median <= trueCost(q.name) * 1.2, s"${q.name} median ${q.median}")
  }
}
