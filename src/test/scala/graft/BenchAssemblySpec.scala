package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-query quiet-window assembly (BenchCore, round 12): the canonical
  * gate judges a whole ~26-minute window, and round 11 produced four
  * refusals and zero acceptances — so the acceptance unit generalizes to
  * the QUERY. These tests pin the pure machinery: the windows-log line
  * format round-trips, corrupt lines drop instead of poisoning the
  * assembly, per-query stability excludes exactly the throttle-evidenced
  * medians, eligibility refuses to mix code versions, and the assembled
  * value is the min over stable window-medians (the same inflation-only
  * monotonicity argument as the rescue sweep's min(old, re-run)), and
  * derive builds the details file from the log by its three rules.
  */
class BenchAssemblySpec extends AnyFunSuite {
  import BenchCore._

  private def q(name: String, m: Double, s: Double = 5.0, p: Int = 3,
      ok: Boolean = true) = Q(name, m, s, p, ok)

  private def win(code: String, qs: Seq[Q], ni: Double = 2.0,
      er: Option[Double] = Some(1.2), sd: Boolean = false,
      sf: String = "/d/sf0.1", work: String = "full_rows", accepted: Boolean = false,
      cpus: Int = 4, passes: Int = 3, ts: String = "08-16T00:00:00") =
    WindowRecord(ts, code, sf, work, ni, er, sd, qs, accepted, passes, cpus, heapGb = 7,
      calibrations = Seq(0.5, 0.8, 0.9), exitCalibration = er.map(_ * 0.5), rescueRan = false)

  private def parse(json: String) = org.json4s.jackson.JsonMethods.parse(json)

  test("window record round-trips through the sidecar line format") {
    val w = win("abc123abc123", Seq(q("a", 1.25, 12.5, 5), q("b", 0.031, 180.0, 5)),
      ni = 1.87, er = Some(1.31), sd = true)
    val line = renderWindow(w)
    assert(!line.contains("\n"))
    val back = parseWindow(line)
    assert(back.contains(w))
  }

  test("round-trip keeps a None exit ratio and a failed query") {
    val w = win("abc123abc123", Seq(q("a", 3.0), Q("b", 0.0, 0.0, 3, ok = false)),
      er = None)
    assert(parseWindow(renderWindow(w)).contains(w))
    val stamped = w.copy(queries = Seq(Q("a", 3.0, 1.0, 5, ok = true, rescued = true)),
      accepted = true, passes = 5, cpus = 32, heapGb = 64, calibrations = Seq(0.25),
      rescueRan = true)
    assert(parseWindow(renderWindow(stamped)).contains(stamped))
  }

  test("corrupt sidecar lines parse to None") {
    assert(parseWindow("not json").isEmpty)
    assert(parseWindow("{}").isEmpty)
    assert(parseWindow("""{"ts":"x","code":"c","sf":"s","work":"w","ni":1.0,"sd":false,"q":[{"n":"a"}]}""").isEmpty)
    assert(parseWindow("""{"ts":"x","code":"c","sf":"s","work":"w","ni":"high","sd":false,"q":[]}""").isEmpty)
    // a line written before accepted/passes/cpus/heap_gb existed
    assert(parseWindow("""{"ts":"x","code":"c","sf":"s","work":"w","ni":1.0,"er":1.1,"sd":false,""" +
      """"q":[{"n":"a","m":1.0,"s":2.0,"p":3,"ok":true}]}""").isEmpty)
  }

  test("stableIn: failed, and multi-second dirty-escalated, measurements are not candidates") {
    assert(!stableIn(Q("a", 2.0, 10.0, 3, ok = false)))
    // >= DirtyMedianFloor, full escalation, still >UnstableSpread: throttle evidence
    assert(!stableIn(q("a", 2.0, 80.0, 5)))
    // sub-second relative spread carries no signal — cross-window min handles it
    assert(stableIn(q("a", 0.2, 300.0, 5)))
    // stabilized under escalation
    assert(stableIn(q("a", 2.0, 30.0, 5)))
    // never escalated
    assert(stableIn(q("a", 2.0, 12.0, 3)))
  }

  test("eligibility: exact code/sf/work match, query set contained; unknown never matches") {
    val names = Seq("a", "b")
    val good = win("c1", Seq(q("a", 1.0), q("b", 1.0)))
    val otherCode = good.copy(codeId = "c2")
    val otherSf = good.copy(sf = "/d/sf1")
    val otherWork = good.copy(work = "count")
    val otherCpus = good.copy(cpus = 32) // per-query minima must not pool across core counts
    val subset = win("c1", Seq(q("a", 1.0)))                  // targeted re-measure: eligible
    val superset = win("c1", Seq(q("a", 1.0), q("b", 1.0), q("z", 1.0))) // stale registry: not
    val ws = Seq(good, otherCode, otherSf, otherWork, otherCpus, subset, superset)
    assert(eligibleWindows(ws, "c1", "/d/sf0.1", "full_rows", 4, names) == Seq(good, subset))
    assert(eligibleWindows(ws, "c1", "/d/sf0.1", "full_rows", 32, names) == Seq(otherCpus))
    val unknown = good.copy(codeId = "unknown")
    assert(eligibleWindows(Seq(unknown), "unknown", "/d/sf0.1", "full_rows", 4, names).isEmpty)
  }

  test("a targeted subset window supplies the quiet evidence a full campaign lacked") {
    // b is dirty in both full windows AND their medians disagree (>25%):
    // blocked. A quiet 2-query re-measure window resolves exactly b.
    val w0 = win("c1", Seq(q("a", 1.0), q("b", 1.4, 120.0, 5)))
    val w1 = win("c1", Seq(q("a", 1.1), q("b", 2.7, 90.0, 5)))
    assert(assemble(Seq(w0, w1), Seq("a", "b")).isEmpty)
    val rescue = win("c1", Seq(q("b", 1.35, 8.0, 3)))
    val asm = assemble(Seq(w0, w1, rescue), Seq("a", "b")).get
    val b = asm.queries.find(_.name == "b").get
    assert(b.median == 1.35 && b.quiet && b.fromWindow == 2 && b.candidates == 1)
  }

  test("assembly needs at least MinAssemblyWindows windows") {
    val w = win("c1", Seq(q("a", 1.0)))
    assert(assemble(Seq(w), Seq("a")).isEmpty)
  }

  test("one full window plus a subset window does not satisfy the minimum (round 13)") {
    // The window-gate bypass ADVICE flagged: a single refused full-surface
    // window plus a stale 1-query targeted window would otherwise source
    // nearly every query from the one refused window. Subset windows are
    // supplemental evidence only — they never count toward the minimum.
    val full = win("c1", Seq(q("a", 1.0), q("b", 2.0)))
    val subset = win("c1", Seq(q("b", 1.9)))
    assert(assemble(Seq(full, subset), Seq("a", "b")).isEmpty)
    // a second FULL window unblocks, and the subset still supplies its min
    val full2 = win("c1", Seq(q("a", 1.1), q("b", 2.1)))
    val asm = assemble(Seq(full, subset, full2), Seq("a", "b")).get
    assert(asm.queries.find(_.name == "b").get.median == 1.9)
  }

  test("assembly picks the per-query min over stable candidates and records provenance") {
    // a: quiet in w0 (1.0) and inflated in w1 (3.0)  -> 1.0 from window 0
    // b: dirty-escalated in w0, quiet in w1          -> from window 1 only
    // c: sub-second, jittery everywhere              -> min wins
    val w0 = win("c1", Seq(q("a", 1.0), q("b", 4.0, 120.0, 5), q("c", 0.05, 200.0, 5)))
    val w1 = win("c1", Seq(q("a", 3.0), q("b", 2.5, 8.0, 3), q("c", 0.09, 150.0, 5)))
    val asm = assemble(Seq(w0, w1), Seq("a", "b", "c")).get
    assert(asm.windows == 2)
    val byName = asm.queries.map(x => x.name -> x).toMap
    assert(byName("a").median == 1.0 && byName("a").fromWindow == 0 && byName("a").candidates == 2)
    assert(math.abs(byName("a").xwSpreadPct - 200.0) <= 1e-9)
    assert(byName("b").median == 2.5 && byName("b").fromWindow == 1 && byName("b").candidates == 1)
    assert(byName("b").xwSpreadPct == 0.0)
    assert(byName("c").median == 0.05 && byName("c").fromWindow == 0)
  }

  test("assembly refuses when some query has no stable candidate anywhere") {
    val w0 = win("c1", Seq(q("a", 1.0), q("b", 4.0, 120.0, 5)))
    val w1 = win("c1", Seq(q("a", 1.1), Q("b", 0.0, 0.0, 3, ok = false)))
    assert(assemble(Seq(w0, w1), Seq("a", "b")).isEmpty)
  }

  test("agreement fallback: never-quiet query assembles when window-medians agree") {
    // b is dirty-escalated in BOTH windows, but its medians agree within
    // AgreementSpreadPct — the min is taken and the query is flagged.
    val w0 = win("c1", Seq(q("a", 1.0), q("b", 2.8, 120.0, 5)))
    val w1 = win("c1", Seq(q("a", 1.1), q("b", 2.6, 90.0, 5)))
    val asm = assemble(Seq(w0, w1), Seq("a", "b")).get
    val b = asm.queries.find(_.name == "b").get
    assert(b.median == 2.6 && !b.quiet && b.fromWindow == 1 && b.candidates == 2)
    assert(asm.queries.find(_.name == "a").get.quiet)
  }

  test("agreement fallback refuses real cross-window disagreement") {
    // 1.4 vs 2.7 s with both windows dirty: an unadjudicated measurement —
    // no number may be invented for it.
    val w0 = win("c1", Seq(q("a", 1.0), q("b", 1.4, 120.0, 5)))
    val w1 = win("c1", Seq(q("a", 1.1), q("b", 2.7, 90.0, 5)))
    assert(assemble(Seq(w0, w1), Seq("a", "b")).isEmpty)
  }

  test("assembled details list agreement-fallback queries and sum") {
    val w0 = win("c1", Seq(q("a", 1.0), q("b", 2.8, 120.0, 5)))
    val w1 = win("c1", Seq(q("a", 1.1), q("b", 2.6, 90.0, 5)), ni = 2.1)
    val d = derive(Seq(w0, w1).map(renderWindow), Seq("a", "b")).get
    assert(d.assembled.map(_.windows).contains(2))
    val json = compact(d.details)
    assert(json.contains(""""agreed_fallback":["b"]"""))
    assert(json.contains(""""value":3.6000"""))
    assert(json.contains(""""assembled_from":2"""))
    assert(json.contains(""""estimator":"assembled_min_median""""))
    assert(json.contains(""""window_noise":[2.00,2.10]"""))
    assert(json.contains(""""spread_pct":{"a":5.0,"b":90.0}"""))
    assert(json.contains(""""cpus":4,"heap_gb":7"""))
  }

  private val ab = Seq("a", "b")
  private def full(m: Double, accepted: Boolean = false, ts: String = "08-16T00:00:00",
      code: String = "c1", cpus: Int = 4) =
    win(code, Seq(q("a", m), q("b", m)), accepted = accepted, ts = ts, cpus = cpus)
  private def derived(ws: WindowRecord*) = derive(ws.map(renderWindow), ab)
  private def detailsOf(ws: WindowRecord*) = parse(compact(derived(ws: _*).get.details))
  private def num(j: org.json4s.JValue): Double = j.values.toString.toDouble

  test("derive rule 1: a later refused window does not clobber an accepted one") {
    val a = full(1.0, accepted = true, ts = "08-16T01:00:00")
    val r = full(2.0, ts = "08-16T02:00:00")
    val d = detailsOf(a, r)
    assert(num(d \ "value") == 2.0)
    assert(d \ "noisy" == org.json4s.JBool(false))
    assert(derived(a, r).get.refused == Seq(r))
    // the LATEST accepted window wins over an earlier one
    val a2 = full(1.5, accepted = true, ts = "08-16T03:00:00")
    assert(num(detailsOf(a, r, a2) \ "value") == 3.0)
  }

  test("derive rule 2: refused full windows that assemble yield the assembly") {
    val w0 = full(1.0, ts = "08-16T01:00:00")
    val w1 = full(1.2, ts = "08-16T02:00:00")
    val d = derived(w0, w1).get
    assert(d.assembled.nonEmpty && d.refused == Seq(w0, w1))
    assert(num(d.details \ "value") == 2.0)
  }

  test("derive rule 3: no acceptance, no assembly - latest refused window, noisy") {
    val w0 = win("c1", Seq(q("a", 1.0), q("b", 1.4, 120.0, 5)), ts = "08-16T01:00:00")
    val w1 = win("c1", Seq(q("a", 1.1), q("b", 2.7, 90.0, 5)), ts = "08-16T02:00:00")
    val d = derived(w0, w1).get
    assert(d.assembled.isEmpty)
    assert(num(d.details \ "value") == 3.8)
    assert(d.details \ "noisy" == org.json4s.JBool(true))
    // a lone refused window is rule 3 too
    assert(derived(w0).get.details \ "noisy" == org.json4s.JBool(true))
  }

  test("derive: a log of subset windows only yields no details") {
    assert(derived(win("c1", Seq(q("a", 1.0))), win("c1", Seq(q("b", 1.0)))).isEmpty)
    assert(derive(Nil, ab).isEmpty)
  }

  test("derive: a subset window completes an assembly") {
    val w0 = win("c1", Seq(q("a", 1.0), q("b", 1.4, 120.0, 5)))
    val w1 = win("c1", Seq(q("a", 1.1), q("b", 2.7, 90.0, 5)))
    assert(derived(w0, w1).get.assembled.isEmpty)
    val rescue = win("c1", Seq(q("b", 1.35, 8.0, 3)))
    val d = derived(w0, w1, rescue).get
    assert(d.assembled.nonEmpty && d.refused == Seq(w0, w1))
    assert(num(d.details \ "queries" \ "b") == 1.35)
  }

  test("derive: the latest full-surface window sets the identity") {
    val a = full(1.0, accepted = true)
    // another core count or another code is another identity: its refused
    // window is all there is, so it is reported, flagged
    for (r <- Seq(full(2.0, cpus = 32), full(2.0, code = "c2"))) {
      val d = derived(a, r).get
      assert(d.refused == Seq(r) && num(d.details \ "value") == 4.0)
      assert(d.details \ "noisy" == org.json4s.JBool(true))
    }
    // single-pass probe windows and unknown code never define an identity
    val probe = full(2.0, accepted = true).copy(passes = 1)
    val unknown = full(2.0, accepted = true, code = "unknown")
    assert(num(detailsOf(a, probe, unknown) \ "value") == 2.0)
  }

  test("details and stdout line escape an sf path holding quote and backslash") {
    val sf = "/d/we\"ird\\sf"
    val w = win("c1", Seq(q("a", 1.0), q("b", 1.0)), sf = sf, accepted = true)
    val d = derived(w)
    assert(detailsOf(w) \ "sf" == org.json4s.JString(sf))
    val line = summaryLine(w, d, "out/b\"d.json")
    assert(parse(line) \ "sf" == org.json4s.JString(sf))
    assert(parse(line) \ "details" == org.json4s.JString("out/b\"d.json"))
  }

  test("warmData reads every byte under the directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warm").toFile
    try {
      val sub = new java.io.File(dir, "nested"); sub.mkdirs()
      java.nio.file.Files.write(new java.io.File(dir, "x.parquet").toPath, Array.fill[Byte](1000)(1))
      java.nio.file.Files.write(new java.io.File(sub, "y.parquet").toPath, Array.fill[Byte](234)(2))
      assert(warmData(dir) == 1234L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("codeId hashes src/main content only; unknown without it") {
    def tree(): java.io.File = {
      val dir = java.nio.file.Files.createTempDirectory("graft-code").toFile
      write(dir, "src/main/scala/graft/A.scala", "object A")
      write(dir, "src/main/resources/b.txt", "b")
      dir
    }
    def write(dir: java.io.File, rel: String, content: String): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8")): Unit
    }
    val (one, two, empty) = (tree(), tree(), java.nio.file.Files.createTempDirectory("graft-none").toFile)
    try {
      val id = codeId(one)
      assert(id.matches("[0-9a-f]{12}"))
      assert(codeId(two) == id) // same tree, same id
      write(two, "README.md", "docs")
      write(two, "src/test/scala/T.scala", "test")
      assert(codeId(two) == id) // files outside src/main do not count
      write(two, "src/main/scala/graft/A.scala", "object B")
      assert(codeId(two) != id) // one changed byte does
      assert(codeId(empty) == "unknown")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(): Unit
      }
      Seq(one, two, empty).foreach(rm)
    }
  }
}
