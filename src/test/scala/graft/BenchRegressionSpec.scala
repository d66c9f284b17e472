package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate parses history lines Bench itself wrote —
  * pin the parse + flag rules so a format tweak can't silently disarm it.
  * Covers the r11 gate extensions: quiet-probe overlay rows, the bounded
  * queries-map parse (bench_only twins can't clobber baselines), and the
  * stable-set median-inflation rescale + window-contamination stamp. */
class BenchRegressionSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"
  private val cpus = 32
  private def hist(round: String, contaminated: Seq[String],
      qs: (String, Double)*): String = {
    val c = contaminated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val q = qs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    s"""{"round":"$round","sf":"$sf","cpus":$cpus,"contaminated":$c,"queries":$q,"bench_only":{}}"""
  }
  private def quiet(round: String, qs: (String, Double)*): String = {
    val q = qs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    s"""{"round":"$round","sf":"$sf","cpus":$cpus,"quiet":true,"contaminated":[],"queries":$q,"bench_only":{}}"""
  }

  test("flags >1.5x slowdowns, worst ratio first; small deltas and new queries pass") {
    val lines = Seq(hist("r9", Seq.empty,
      "q68" -> 2.0, "q01" -> 0.9, "q05" -> 0.1, "q69" -> 3.5))
    val (_, _, got, _) = Bench.findRegressions(lines, sf, cpus,
      Seq("q68" -> 5.0, "q01" -> 1.0, "q05" -> 0.25, "q69" -> 5.4,
        "q_new" -> 9.9),
      contaminatedNow = Set.empty)
    // q05 is 2.5x but only +0.15 s (jitter floor); q01 within 1.5x;
    // q_new has no baseline; q68 ratio 2.5 > q69 ratio 1.54
    assert(got === Seq(("q68", 2.0, 5.0), ("q69", 3.5, 5.4)))
  }

  test("contamination in either round suppresses the flag") {
    val lines = Seq(hist("r9", Seq("q68"), "q68" -> 2.0, "q69" -> 3.5))
    val (_, _, got, _) = Bench.findRegressions(lines, sf, cpus,
      Seq("q68" -> 9.0, "q69" -> 9.0), contaminatedNow = Set("q69"))
    assert(got.isEmpty)
  }

  test("only the LAST same-sf full-board entry is the baseline; other SFs ignored") {
    val lines = Seq(
      hist("r8", Seq.empty, "q68" -> 9.0), // stale round: would not flag
      s"""{"round":"rX","sf":"/elsewhere","cpus":$cpus,"contaminated":[],"queries":{"q68":0.1},"bench_only":{}}""",
      hist("r9", Seq.empty, "q68" -> 2.0)) // the real baseline
    val (_, _, got, _) = Bench.findRegressions(lines, sf, cpus, Seq("q68" -> 5.0), Set.empty)
    assert(got === Seq(("q68", 2.0, 5.0)))
  }

  test("no history, or no same-sf line, means no flags") {
    assert(Bench.findRegressions(Seq.empty, sf, cpus, Seq("q" -> 9.0), Set.empty)
      ._3.isEmpty)
    val other = Seq(s"""{"round":"r9","sf":"/other","cpus":$cpus,"contaminated":[],"queries":{"q":1.0},"bench_only":{}}""")
    assert(Bench.findRegressions(other, sf, cpus, Seq("q" -> 9.0), Set.empty)
      ._3.isEmpty)
  }

  test("bench_only twins cannot clobber a board query's baseline") {
    // Same key appears in queries (2.0) and bench_only (0.1): an unbounded
    // parse would keep the bench_only 0.1 and flag 2.1 as a 21x regression.
    val line =
      s"""{"round":"r9","sf":"$sf","cpus":$cpus,"contaminated":[],"queries":{"q68":2.0},"bench_only":{"q68":0.1}}"""
    val (_, _, got, _) = Bench.findRegressions(Seq(line), sf, cpus, Seq("q68" -> 2.1),
      Set.empty)
    assert(got.isEmpty)
  }

  test("a quiet row after the baseline replaces a contaminated bench min") {
    // r9 stamped q68 contaminated at 15.0; the quiet probe pinned it at 2.0.
    // Without the overlay the gate would skip q68 entirely; with it, a 9.0
    // reading flags against the honest 2.0.
    val lines = Seq(hist("r9", Seq("q68"), "q68" -> 15.0, "q01" -> 1.0),
      quiet("r10q", "q68" -> 2.0))
    val (_, _, got, _) = Bench.findRegressions(lines, sf, cpus,
      Seq("q68" -> 9.0, "q01" -> 1.0), Set.empty)
    assert(got === Seq(("q68", 2.0, 9.0)))
  }

  test("a quiet row lowers a loaded (unstamped) baseline via min") {
    val lines = Seq(hist("r9", Seq.empty, "q68" -> 5.0, "q01" -> 1.0),
      quiet("r10q", "q68" -> 2.0))
    val (_, _, got, _) = Bench.findRegressions(lines, sf, cpus,
      Seq("q68" -> 4.0, "q01" -> 1.0), Set.empty)
    // vs the bench 5.0 no flag; vs the quiet 2.0, 4.0 is a 2x regression
    assert(got === Seq(("q68", 2.0, 4.0)))
  }

  test("quiet rows BEFORE the last full-board entry do not overlay it") {
    val lines = Seq(quiet("r8q", "q68" -> 0.5),
      hist("r9", Seq.empty, "q68" -> 2.0))
    val (_, _, got, _) = Bench.findRegressions(lines, sf, cpus, Seq("q68" -> 2.2),
      Set.empty)
    assert(got.isEmpty) // 2.2 vs 2.0, not vs the stale 0.5
  }

  private def board(n: Int, factor: Double): (Seq[(String, Double)], Seq[(String, Double)]) = {
    val prev = (1 to n).map(i => s"qs$i" -> (1.0 + i * 0.25))
    (prev, prev.map { case (k, v) => k -> v * factor })
  }

  test("uniform window inflation rescales the gate instead of minting flags") {
    // Every query 2x slower — the loaded-window signature, not 10 regressions.
    val (prev, now) = board(10, 2.0)
    val lines = Seq(hist("r9", Seq.empty, prev: _*))
    val (inflation, contaminated, got, _) =
      Bench.findRegressions(lines, sf, cpus, now, Set.empty)
    assert(math.abs(inflation - 2.0) < 1e-9)
    assert(contaminated, "a 2x median is a loaded window, stamped as such")
    assert(got.isEmpty) // load-normalized, every ratio is exactly 1.0
  }

  test("r14 signature: a ~14% UNIFORM shift over unchanged queries stamps the window") {
    // The committed r14 board carried a 1.139 median ratio over queries
    // whose code did not change (q10 x1.48, q116 x1.50, q58 x1.65 — none
    // touched since r12) and shipped as "clean" under the old 1.2
    // threshold. An engine diff cannot uniformly slow an untouched
    // stable set 14%; only ambient load moves every query at once.
    val (prev, now) = board(20, 1.139)
    val lines = Seq(hist("r13", Seq.empty, prev: _*))
    val (inflation, contaminated, got, _) =
      Bench.findRegressions(lines, sf, cpus, now, Set.empty)
    assert(math.abs(inflation - 1.139) < 1e-9)
    assert(contaminated, "median 1.139 > 1.08 must stamp the window")
    assert(got.isEmpty)
  }

  test("a sub-8% uniform shift is still a clean window (rescaled, unstamped)") {
    val (prev, now) = board(20, 1.05)
    val lines = Seq(hist("r13", Seq.empty, prev: _*))
    val (inflation, contaminated, got, _) =
      Bench.findRegressions(lines, sf, cpus, now, Set.empty)
    assert(math.abs(inflation - 1.05) < 1e-9)
    assert(!contaminated, "ordinary jitter must not stamp the window")
    assert(got.isEmpty)
  }

  test("QuietProbe adaptive stop: a still-improving min keeps running; fixed-3 would have lied") {
    // The judge's own r14 q198 evidence: runs 5.16, 2.85, 3.25, 2.72,
    // 2.78, 2.41 — min-of-3 reads 2.85 (and the r14 builder's 3-run
    // probe minted 7.61); the rule must keep running while the last run
    // sits >10% above the running min.
    val seq = Seq(5.16, 2.85, 3.25, 2.72, 2.78, 2.41)
    def runsTaken(minRuns: Int, maxRuns: Int): Int = {
      var taken = 0
      while (taken < seq.size &&
          (taken == 0 ||
            tools.QuietProbe.needsAnotherRun(seq.take(taken), minRuns, maxRuns)))
        taken += 1
      taken
    }
    assert(runsTaken(3, 10) > 3, "run 3 (3.25) is >10% above min 2.85 — continue")
    // cap: an unstable sequence must stop at maxRuns, not loop forever
    val unstable = Seq.fill(20)(Seq(1.0, 2.0)).flatten
    assert(!tools.QuietProbe.needsAnotherRun(unstable.take(10), 3, 10))
    // stability: a flat tail stops at the minimum run count
    assert(!tools.QuietProbe.needsAnotherRun(Seq(1.0, 1.02, 1.01), 3, 10))
  }

  test("SPIKY load: >5% per-query contamination stamps the window and suppresses all flags") {
    // r11's shipped-artifact signature: median ~1.0 (the uniform gate is
    // blind), but a tail of queries ran 5-6x under transient load. Some of
    // the slow ones carry per-query spread stamps; others were slow in
    // every run of the window and are NOT stamped — those minted r11's 14
    // false regressions. With >5% of the board stamped, the whole window
    // is untrustworthy: zero flags, contaminated artifact.
    val stable = (1 to 24).map(i => s"qs$i" -> (1.0 + i * 0.1))
    val spiky = Seq("qa" -> 1.0, "qb" -> 1.2, "qc" -> 1.4) // stamped
    val unstampedSlow = Seq("qd" -> 1.0) // 6x slow, no spread stamp
    val lines = Seq(hist("r9", Seq.empty, stable ++ spiky ++ unstampedSlow: _*))
    val now = stable ++ spiky.map { case (k, v) => k -> v * 5.0 } ++
      unstampedSlow.map { case (k, v) => k -> v * 6.0 }
    val (inflation, contaminated, got, _) = Bench.findRegressions(lines, sf, cpus,
      now, contaminatedNow = Set("qa", "qb", "qc"))
    assert(math.abs(inflation - 1.0) < 1e-9, "the median gate alone is blind")
    assert(contaminated, "3/28 stamped > 5% must stamp the window")
    assert(got.isEmpty, "a loaded window ships zero regression flags")
  }

  test("spiky stamp needs a board-sized run: scoped boards don't trip it") {
    // 5 queries with 1 stamped is 20% — but on a short board that's one
    // noisy query, not ambient load.
    val prev = (1 to 5).map(i => s"q$i" -> 1.0)
    val lines = Seq(hist("r9", Seq.empty, prev: _*))
    val (_, contaminated, _, _) = Bench.findRegressions(lines, sf, cpus,
      prev, contaminatedNow = Set("q1"))
    assert(!contaminated)
  }

  test("a query at its historical time in an earlier same-round window is not flagged") {
    // The r11 adjudication in the gate: this window reads q68 at 6.3 s, but
    // an earlier full-board window of the SAME round timed it at 2.1 s —
    // host noise here, not a regression.
    val lines = Seq(hist("r9", Seq.empty, "q68" -> 2.0, "q01" -> 1.0))
    val (_, _, got, _) = Bench.findRegressions(lines, sf, cpus,
      Seq("q68" -> 6.3, "q01" -> 1.0), Set.empty,
      sameRoundMins = Map("q68" -> 2.1))
    assert(got.isEmpty)
  }

  test("a regression slow in EVERY window of the round still flags") {
    val lines = Seq(hist("r9", Seq.empty, "q68" -> 2.0, "q01" -> 1.0))
    val (_, _, got, _) = Bench.findRegressions(lines, sf, cpus,
      Seq("q68" -> 6.3, "q01" -> 1.0), Set.empty,
      sameRoundMins = Map("q68" -> 5.9))
    assert(got === Seq(("q68", 2.0, 5.9)),
      "the flag carries the round's best (still-slow) time")
  }

  test("a real per-query regression survives the load normalization") {
    // Window at 1.05x ambient (below the 1.08 stamp), q_bad at 6x:
    // 6/1.05 >> 1.5x — a clean-enough window still ships the flag.
    val (prev, now) = board(10, 1.05)
    val lines = Seq(hist("r9", Seq.empty, prev :+ ("q_bad" -> 1.0): _*))
    val (inflation, contaminated, got, _) = Bench.findRegressions(lines, sf, cpus,
      now :+ ("q_bad" -> 6.0), Set.empty)
    assert(inflation > 1.0 && inflation < 1.08 && !contaminated)
    assert(got.map(_._1) === Seq("q_bad"))
    // at 1.2x ambient the window itself is untrustworthy (the r14-tight
    // stamp): the same regression defers to needs-re-time, never dropped
    val (prev2, now2) = board(10, 1.2)
    val lines2 = Seq(hist("r9", Seq.empty, prev2 :+ ("q_bad" -> 1.0): _*))
    val (_, contaminated2, got2, retime2) = Bench.findRegressions(lines2, sf, cpus,
      now2 :+ ("q_bad" -> 6.0), Set.empty)
    assert(contaminated2 && got2.isEmpty)
    assert(retime2.map(_._1) === Seq("q_bad"))
  }

  test("sub-0.2s baselines are excluded from the inflation median") {
    // Jittery tiny queries at 10x must not drag the median above the
    // honest 1.0 of the real ones.
    val (prev, now) = board(10, 1.0)
    val tiny = (1 to 9).map(i => s"t$i" -> 0.05)
    val lines = Seq(hist("r9", Seq.empty, prev ++ tiny: _*))
    val (inflation, _, _, _) = Bench.findRegressions(lines, sf, cpus,
      now ++ tiny.map { case (k, _) => k -> 0.5 }, Set.empty)
    assert(math.abs(inflation - 1.0) < 1e-9)
  }

  test("below 8 stable samples the median is not trusted (no rescale)") {
    // 3 queries, all 3x: with a rescale this would read as load; with only
    // 3 samples the gate must flag all three instead of normalizing away.
    val (prev, now) = board(3, 3.0)
    val lines = Seq(hist("r9", Seq.empty, prev: _*))
    val (inflation, _, got, _) = Bench.findRegressions(lines, sf, cpus, now, Set.empty)
    assert(inflation === 1.0)
    assert(got.size === 3)
  }

  test("stamps on off-board (bench-only twin) queries do not count toward the spiky 5%") {
    // 24 clean board queries; 3 stamps, all on bench-only twins that are
    // NOT in `current`. The r12 defect: numerator over board+twins,
    // denominator board-only — 3 > 0.05*24 stamped the window and
    // suppressed every flag. The ratio must use one population (the board).
    val stable = (1 to 24).map(i => s"qs$i" -> (1.0 + i * 0.1))
    val lines = Seq(hist("r9", Seq.empty, stable :+ ("q_bad" -> 1.0): _*))
    val now = stable :+ ("q_bad" -> 6.0)
    val (_, contaminated, got, _) = Bench.findRegressions(lines, sf, cpus, now,
      contaminatedNow = Set("x01_twin", "x02_twin", "x03_twin"))
    assert(!contaminated, "off-board stamps must not stamp the window")
    assert(got.map(_._1) === Seq("q_bad"),
      "the real regression must survive — the old ratio suppressed it")
  }

  test("a same-round-refuted flag is reported as needs-re-time, not dropped") {
    val lines = Seq(hist("r9", Seq.empty, "q68" -> 2.0, "q01" -> 1.0))
    val (_, _, got, retime) = Bench.findRegressions(lines, sf, cpus,
      Seq("q68" -> 6.3, "q01" -> 1.0), Set.empty,
      sameRoundMins = Map("q68" -> 2.1))
    assert(got.isEmpty)
    assert(retime === Seq(("q68", 2.0, 6.3)),
      "the refuted raw flag must surface for a quiet re-time")
  }

  test("window-suppressed flags are reported as needs-re-time") {
    // Uniform 2x load: the window stamps, flags suppress — but a query at
    // 4x (2x beyond ambient) is a raw flag that must stay visible.
    val (prev, now) = board(10, 2.0)
    val lines = Seq(hist("r9", Seq.empty, prev :+ ("q_bad" -> 1.0): _*))
    val (_, contaminated, got, retime) = Bench.findRegressions(lines, sf, cpus,
      now :+ ("q_bad" -> 4.0), Set.empty)
    assert(contaminated && got.isEmpty)
    assert(retime.map(_._1) === Seq("q_bad"),
      "suppression must defer the flag to a re-time, not erase it")
  }

  test("a flag contradicted by a DIFFERENT-commit same-round window downgrades to needs-re-time") {
    // The driver's final window runs at a new commit (it commits the
    // builder's work first), so same-commit refutation can never clear
    // its noise flags; a label-only contradiction must downgrade the
    // flag rather than ship it as a regression or silently clear it.
    val lines = Seq(hist("r9", Seq.empty, "q68" -> 2.0, "q01" -> 1.0))
    val (_, _, got, retime) = Bench.findRegressions(lines, sf, cpus,
      Seq("q68" -> 6.3, "q01" -> 1.0), Set.empty,
      sameRoundMins = Map.empty, // no same-commit window
      sameRoundLabelMins = Map("q68" -> 2.1)) // an earlier-commit window
    assert(got.isEmpty, "contradicted-but-unproven must not ship as a regression")
    assert(retime === Seq(("q68", 2.0, 6.3)))
    // but a flag slow in EVERY window of the round (any commit) still ships
    val (_, _, got2, _) = Bench.findRegressions(lines, sf, cpus,
      Seq("q68" -> 6.3, "q01" -> 1.0), Set.empty,
      sameRoundMins = Map.empty, sameRoundLabelMins = Map("q68" -> 5.9))
    assert(got2 === Seq(("q68", 2.0, 6.3)),
      "uncontradicted flags ship with this window's own reading")
  }

  test("codeStamp: dirty working trees at the same HEAD cannot cross-refute") {
    // the stamp is content-scoped: same sources => same digest (clean
    // trees at one HEAD refute each other), any source edit => different
    // digest (a window benched on uncommitted code never refutes a window
    // benched on different uncommitted code, even at the same HEAD)
    val dir = java.nio.file.Files.createTempDirectory("stamp")
    val src = dir.resolve("src/main/scala")
    java.nio.file.Files.createDirectories(src)
    java.nio.file.Files.write(src.resolve("A.scala"), "object A".getBytes)
    val d1 = Bench.sourceDigest(dir.toString)
    val d2 = Bench.sourceDigest(dir.toString)
    assert(d1 == d2 && d1.length == 8 && d1 != "unknown",
      "digest must be deterministic over unchanged sources")
    java.nio.file.Files.write(src.resolve("A.scala"), "object A2".getBytes)
    assert(Bench.sourceDigest(dir.toString) != d1,
      "an uncommitted source edit must change the stamp")
    // and the full stamp keys refutation: different digests => different
    // commit strings => sameRoundMinsOf finds nothing to refute with
    val stamp1 = "abc123def456+" + d1
    val hist = Seq(
      s"""{"round":"r9","sf":"/d","cpus":$cpus,"commit":"$stamp1","queries":{"q1":1.0}}""")
    assert(Bench.sameRoundMinsOf(hist, "r9", "/d", cpus, stamp1) == Map("q1" -> 1.0))
    assert(Bench.sameRoundMinsOf(hist, "r9", "/d", cpus,
      "abc123def456+" + Bench.sourceDigest(dir.toString)).isEmpty,
      "same HEAD, different working-tree bytes: no refutation")
  }

  test("budgeter: past frac*budget every remaining query runs once — the board stays full") {
    // Simulate a 208-query board on a contended host: each query costs
    // 4 s/run, normal schedule 2 runs (3 for every 10th, the noisy set),
    // budget 900 s, frac 0.5. Without the downshift the board needs
    // ~1700 s; with it, every query still gets >=1 run and the total
    // stays under budget-ish — the rc=124 shape (some queries never
    // timed) is impossible by construction.
    var elapsed = 0.0
    val schedule = (1 to 208).map { i =>
      val normal = if (i % 10 == 0) 3 else 2
      val runs = Bench.budgetedRuns(normal, elapsed, 900.0, 0.5)
      elapsed += runs * 4.0
      runs
    }
    assert(schedule.forall(_ >= 1), "every board query gets at least one run")
    assert(schedule.take(50).forall(_ >= 2), "no downshift before the threshold")
    assert(schedule.drop(120).forall(_ == 1), "single runs once the wall crosses")
    // disabled budget (<=0) never downshifts
    assert(Bench.budgetedRuns(3, 1e9, 0.0, 0.5) === 3)
    assert(Bench.budgetedRuns(3, 1e9, 900.0, 0.0) === 3)
  }

  test("post-tail cumulative: a tail run that lowers a min folds into the re-emitted total") {
    // q68's first-pass min was 5.0; the tail slot read 2.0 — the
    // post-tail cumulative must report 2.0 + 1.0, not 5.0 + 1.0 (r15
    // defect: a timeout in the tail window reported a tail-blind total).
    val (sum, n) = Bench.foldedMinSum(Seq(
      "q68" -> Seq(5.0, 6.0, 2.0), // 2.0 is the appended tail run
      "q01" -> Seq(1.0, 1.5),
      "q99" -> Seq.empty)) // failed query: no min, not counted
    assert(math.abs(sum - 3.0) < 1e-9 && n === 2)
  }

  test("parseJiffies: guest fields excluded from the total (steal share not deflated)") {
    // user nice system idle iowait irq softirq steal guest guest_nice —
    // guest time is already inside user/nice; a 10-field sum would read
    // 30/1042 instead of 30/1000.
    val (steal, total) = Bench.parseJiffies("cpu  100 0 50 800 10 5 5 30 40 2")
    assert(steal === 30L && total === 1000L)
  }

  test("a contaminated or truncated last board row is skipped as baseline") {
    // The r15-end corruption: a SIGTERM'd JVM appended a hot-window row
    // (19/200 stamped) that would otherwise become the baseline and both
    // mask regressions (loose mins) and mint false improvements. The gate
    // must fall back to the last TRUSTWORTHY board row.
    val clean = hist("r15", Seq.empty, "q68" -> 2.0, "q01" -> 1.0)
    val corruptStamps = (1 to 25).map(i => s"qc$i")
    val corrupt = hist("r16", corruptStamps,
      (Seq("q68" -> 8.0, "q01" -> 3.0) ++
        corruptStamps.map(_ -> 1.0) ++
        (1 to 20).map(i => s"qf$i" -> 1.0)): _*)
    val (_, _, got, _) = Bench.findRegressions(Seq(clean, corrupt), sf, cpus,
      Seq("q68" -> 5.0, "q01" -> 1.0), Set.empty)
    assert(got === Seq(("q68", 2.0, 5.0)),
      "the flag compares against the clean r15 row, not the corrupt r16 one")
    // explicit markers disqualify regardless of stamps
    val stamped = s"""{"round":"r16","sf":"$sf","cpus":$cpus,"window_contaminated":true,"contaminated":[],"queries":{"q68":8.0},"bench_only":{}}"""
    val truncated = s"""{"round":"r16","sf":"$sf","cpus":$cpus,"window_contaminated":false,"truncated":true,"contaminated":[],"queries":{"q68":8.0},"bench_only":{}}"""
    for (bad <- Seq(stamped, truncated)) {
      val (_, _, got2, _) = Bench.findRegressions(Seq(clean, bad), sf, cpus,
        Seq("q68" -> 5.0, "q01" -> 1.0), Set.empty)
      assert(got2 === Seq(("q68", 2.0, 5.0)))
    }
    // a self-declared CLEAN row (the normal case going forward) is trusted
    val goodNew = s"""{"round":"r16","sf":"$sf","cpus":$cpus,"window_steal_pct":0.1,"window_contaminated":false,"contaminated":[],"queries":{"q68":2.2,"q01":1.0},"bench_only":{}}"""
    val (_, _, got3, _) = Bench.findRegressions(Seq(clean, goodNew), sf, cpus,
      Seq("q68" -> 5.0, "q01" -> 1.0), Set.empty)
    assert(got3 === Seq(("q68", 2.2, 5.0)))
  }

  test("1.08-1.2 uniform inflation needs corroboration: quiet measured steal ships flags") {
    // r15 ADVICE: 1.08 sits inside normal shared-VM drift — a genuinely
    // quiet host (measured steal ~0.1%, no spiky stamps) at 1.09 must
    // NOT stamp the window; its flags ship load-normalized.
    val (prev, now) = board(20, 1.09)
    val lines = Seq(hist("r13", Seq.empty, prev :+ ("q_bad" -> 1.0): _*))
    val (infl, contaminated, got, _) = Bench.findRegressions(lines, sf, cpus,
      now :+ ("q_bad" -> 6.0), Set.empty, windowStealPct = 0.1)
    assert(math.abs(infl - 1.09) < 1e-9 && !contaminated,
      "quiet measured steal refutes the ambient-load hypothesis")
    assert(got.map(_._1) === Seq("q_bad"), "the real regression still ships")
    // same inflation with real steal: stamped (ambient load corroborated)
    val (_, c2, got2, _) = Bench.findRegressions(lines, sf, cpus,
      now :+ ("q_bad" -> 6.0), Set.empty, windowStealPct = 2.5)
    assert(c2 && got2.isEmpty)
    // same inflation, quiet steal, but a spiky co-signal (>=3 stamps on
    // board queries): local contention shows in spread, not steal — stamp
    val (_, c3, _, _) = Bench.findRegressions(lines, sf, cpus,
      now :+ ("q_bad" -> 6.0),
      contaminatedNow = Set(now.head._1, now(1)._1, now(2)._1),
      windowStealPct = 0.1)
    assert(c3)
    // unknown steal (no /proc, legacy caller): conservative stamp holds
    val (_, c4, _, _) = Bench.findRegressions(lines, sf, cpus,
      now :+ ("q_bad" -> 6.0), Set.empty)
    assert(c4)
    // above 1.2 the stamp is unconditional (the r15-end disaster ran at
    // 2.6x with 1-3% steal — co-tenant contention is invisible to steal)
    val (prev5, now5) = board(20, 1.25)
    val lines5 = Seq(hist("r13", Seq.empty, prev5: _*))
    val (_, c5, _, _) = Bench.findRegressions(lines5, sf, cpus, now5, Set.empty,
      windowStealPct = 0.1)
    assert(c5)
  }

  test("untrusted readings (downshifted single-run / steal-stamped slot) defer, never ship") {
    // The board-#2 r16 signature: stable-set median a clean 1.005, but the
    // budget-downshifted board tail ran once each inside an 8-17% steal
    // burst — 13 upper-bound readings shipped as regressions. An untrusted
    // reading must land in needs-re-time with the window left unstamped
    // (a downshift is schedule pressure, not ambient load).
    val stable = (1 to 24).map(i => s"qs$i" -> (1.0 + i * 0.1))
    val lines = Seq(hist("r15", Seq.empty, stable :+ ("q76" -> 0.26): _*))
    val now = stable :+ ("q76" -> 1.76) // 6.8x, single-run under burst
    val (infl, contaminated, got, retime) = Bench.findRegressions(lines, sf, cpus,
      now, Set.empty, windowStealPct = 2.2, untrustedNow = Set("q76"))
    assert(math.abs(infl - 1.0) < 1e-9 && !contaminated,
      "untrusted queries must not stamp the window or skew the median")
    assert(got.isEmpty, "an upper-bound reading must not ship as a regression")
    assert(retime.map(_._1) === Seq("q76"), "it defers with the evidence")
    // the same reading from a TRUSTED slot still ships
    val (_, _, got2, _) = Bench.findRegressions(lines, sf, cpus, now, Set.empty,
      windowStealPct = 2.2)
    assert(got2.map(_._1) === Seq("q76"))
  }

  test("a prior row's untrusted reading cannot serve as that query's baseline") {
    // Board #2's history row carries q76 at 1.76 (single-run, burst). If a
    // later window read 2.2 the ratio vs 1.76 is under 1.5x — the upper
    // bound would MASK the regression. The untrusted field folds into
    // prevContam: no flag against it (and a quiet overlay restores honest
    // flagging).
    val prevRow = s"""{"round":"r16","sf":"$sf","cpus":$cpus,"window_contaminated":false,"contaminated":[],"untrusted":["q76"],"queries":{"q76":1.76,"q01":1.0},"bench_only":{}}"""
    val (_, _, got, _) = Bench.findRegressions(Seq(prevRow), sf, cpus,
      Seq("q76" -> 2.2, "q01" -> 1.0), Set.empty)
    assert(got.isEmpty, "no flag against an upper-bound baseline")
    // quiet overlay replaces the untrusted baseline; the regression flags
    val lines = Seq(prevRow, quiet("r16q", "q76" -> 0.26))
    val (_, _, got2, _) = Bench.findRegressions(lines, sf, cpus,
      Seq("q76" -> 2.2, "q01" -> 1.0), Set.empty)
    assert(got2 === Seq(("q76", 0.26, 2.2)))
  }

  test("sameRoundMinsOf: only same-commit full-board rows of the round refute") {
    def row(round: String, commit: Option[String], quiet: Boolean,
        q: Double): String = {
      val c = commit.map(h => s""""commit":"$h",""").getOrElse("")
      val qq = if (quiet) """"quiet":true,""" else ""
      s"""{"round":"$round","sf":"$sf","cpus":$cpus,$qq$c"contaminated":[],"queries":{"q68":$q},"bench_only":{}}"""
    }
    val lines = Seq(
      row("r13", Some("aaaa"), quiet = false, 2.0), // pre-change window
      row("r13", None, quiet = false, 2.2), // pre-r13 format: no stamp
      row("r13", Some("bbbb"), quiet = true, 2.1), // quiet rows never here
      row("r12", Some("bbbb"), quiet = false, 1.9), // other round
      row("r13", Some("bbbb"), quiet = false, 2.5),
      row("r13", Some("bbbb"), quiet = false, 2.4))
    val mins = Bench.sameRoundMinsOf(lines, "r13", sf, cpus, "bbbb")
    assert(mins === Map("q68" -> 2.4),
      "min over same-round same-commit full-board rows only")
  }

  test("baselines match on (sf, cpus): a newer 8-core row never judges a 32-core board") {
    def row(round: String, cores: Option[Int], qs: (String, Double)*): String = {
      val c = cores.map(n => s""""cpus":$n,""").getOrElse("")
      val q = qs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      s"""{"round":"$round","sf":"$sf",$c"contaminated":[],"queries":$q,"bench_only":{}}"""
    }
    val lines = Seq(
      row("r16", Some(32), "q68" -> 2.0, "q71" -> 1.0),
      row("r16c8", Some(8), "q68" -> 4.4, "q71" -> 2.2),
      // a row written before rows carried cpus: never a baseline
      row("r17", None, "q68" -> 9.0, "q71" -> 9.0))
    val (_, _, got32, _) = Bench.findRegressions(lines, sf, 32,
      Seq("q68" -> 5.0, "q71" -> 1.1), Set.empty)
    assert(got32 === Seq(("q68", 2.0, 5.0)),
      "the 32-core board is judged against the 32-core row only")
    val (_, _, got8, _) = Bench.findRegressions(lines, sf, 8,
      Seq("q68" -> 4.5, "q71" -> 2.3), Set.empty)
    assert(got8.isEmpty, "the 8-core board at its own scaling is no regression")
    assert(Bench.findRegressions(lines, sf, 16, Seq("q68" -> 50.0), Set.empty)
      ._3.isEmpty, "no row at this core count: no baseline, no flags")
  }
}
