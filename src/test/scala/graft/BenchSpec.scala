package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench measurement protocol ([[Bench.measureKey]], r16):
  * fail-fast on a failing first run, min-of-two inside the band,
  * bounded retries past it, and — the ADVICE behaviors — a thrown
  * retry never discards the valid earlier measurements, and every
  * extra attempt is visible to the caller for the artifact's
  * `retried` map. Pure function, no Spark session. */
class BenchSpec extends AnyFunSuite {

  private def scripted(values: Double*): () => Double = {
    val it = values.iterator
    () => { assert(it.hasNext, "protocol took more attempts than scripted")
      it.next() }
  }

  test("failing FIRST run ships -1 and never pays a retry") {
    val (v, attempts) = Bench.measureKey(scripted(-1.0),
      () => fail("retry must not run after a failed first attempt"),
      bandMax = 1.0)
    assert(v === -1.0 && attempts === Seq(-1.0))
  }

  test("failing SECOND run ships -1 after exactly two attempts") {
    val (v, attempts) = Bench.measureKey(scripted(0.5, -1.0),
      () => fail("retry must not run after a failed second attempt"),
      bandMax = 1.0)
    assert(v === -1.0 && attempts === Seq(0.5, -1.0))
  }

  test("inside the band: min of exactly two measurements ships") {
    val (v, attempts) = Bench.measureKey(scripted(1.4, 1.2),
      () => fail("no retry inside the band"), bandMax = 1.0)
    assert(v === 1.2 && attempts === Seq(1.4, 1.2))
  }

  test("over the band: retries run until one lands inside, min ships") {
    val retries = scripted(5.0, 1.5)
    val (v, attempts) = Bench.measureKey(scripted(9.0, 8.0), retries,
      bandMax = 1.0)
    assert(v === 1.5, "the honest min across all attempts ships")
    assert(attempts === Seq(9.0, 8.0, 5.0, 1.5),
      "attempt count > 2 is what feeds the artifact's retried map")
  }

  test("a THROWN retry stops the loop but never fails the " +
    "twice-measured key: the valid min ships") {
    val (v, attempts) = Bench.measureKey(scripted(9.0, 8.0),
      scripted(-1.0), bandMax = 1.0)
    assert(v === 8.0,
      "negative retry attempts are dropped, not shipped as a failure")
    assert(attempts === Seq(9.0, 8.0, -1.0),
      "the thrown attempt stays visible in the evidence trail")
  }

  test("retries are capped at 4 total attempts even while over band") {
    val (v, attempts) = Bench.measureKey(scripted(9.0, 8.0),
      scripted(7.0, 6.0), bandMax = 1.0)
    assert(v === 6.0 && attempts.size === 4,
      s"cap must stop the loop at 4: $attempts")
  }

  test("growth trend guard (r18): >5% over the committed total or " +
    "shared_prime earns a note; the committer's reason rides along") {
    assert(Bench.growthNote(100.0, 5.0, Some(100.0), Some(5.0), None).isEmpty,
      "flat round must not stamp growth")
    assert(Bench.growthNote(104.9, 5.2, Some(100.0), Some(5.0), None).isEmpty,
      "under the 5% gate on both axes: no note")
    val tot = Bench.growthNote(106.0, 5.0, Some(100.0), Some(5.0), None)
    assert(tot.exists(n => n.contains("total") && n.contains("6.0%")),
      s"total growth must be named with its percentage: $tot")
    val prm = Bench.growthNote(100.0, 5.6, Some(100.0), Some(5.0), None)
    assert(prm.exists(n => n.contains("shared_prime") && !n.contains("total")),
      s"prime-only growth names only the prime: $prm")
    val both = Bench.growthNote(106.0, 5.6, Some(100.0), Some(5.0),
      Some("new key family landed"))
    assert(both.exists(n => n.contains("total") && n.contains("shared_prime")
      && n.contains("new key family landed")),
      s"both axes + the committer's reason must ride the note: $both")
    assert(Bench.growthNote(500.0, 50.0, None, None, None).isEmpty,
      "no reference (older artifacts) must never stamp growth")
    // noisy-host interaction (r18 review): a contended host inflates
    // total/prime exactly like committed growth — the note must not
    // blame the binary when the spin probe already called the
    // weather, but it must still surface the numbers
    val noisy = Bench.growthNote(106.0, 5.0, Some(100.0), Some(5.0),
      None, noisy = true)
    assert(noisy.exists(n => n.startsWith("noisy host") &&
      n.contains("not attributable") && n.contains("6.0%")),
      s"a noisy run's growth must be flagged as weather, not code: $noisy")
    assert(Bench.growthNote(106.0, 5.0, Some(100.0), Some(5.0), None)
      .exists(!_.contains("noisy host")),
      "a quiet run's note must carry no noisy prefix")
  }

  test("noisy verdict (r17): stamped only when the live spin exceeds " +
    "2x the committed reference spin") {
    assert(!Bench.noisyVerdict(27.8, None),
      "no reference spin (older artifacts) must never stamp noisy")
    assert(!Bench.noisyVerdict(25.9, Some(13.0)),
      "at or under 2x the reference is within normal scheduling jitter")
    assert(!Bench.noisyVerdict(26.0, Some(13.0)), "boundary is exclusive")
    assert(Bench.noisyVerdict(27.8, Some(13.0)),
      "the r16 contended-driver shape (spin ~2.1x) must be stamped")
    assert(!Bench.noisyVerdict(27.8, Some(0.0)),
      "a degenerate zero reference must not divide the verdict")
  }

  test("mid-run contention verdict (r18): any trail sample over 2x the " +
    "committed reference stamps the run") {
    assert(!Bench.midRunNoisy(Seq(24.0, 25.1, 23.8), Some(13.0)),
      "a quiet trail must not stamp")
    assert(Bench.midRunNoisy(Seq(24.0, 55.0, 23.8), Some(24.8)),
      "one inflated sample mid-run is exactly the quiet-launch/" +
        "inflated-run shape the trail exists to catch")
    assert(!Bench.midRunNoisy(Seq(80.0, 90.0), None),
      "no reference spin (older artifacts) must never stamp")
    assert(!Bench.midRunNoisy(Seq.empty, Some(13.0)),
      "an empty trail (subset runs under 25 keys) must not stamp")
    assert(!Bench.midRunNoisy(Seq(26.0), Some(13.0)),
      "boundary is exclusive, matching the startup verdict")
  }

  test("measureKey on random attempt streams: ships the min valid " +
    "attempt, never retries a failed first/second run, caps at 4") {
    val rnd = new scala.util.Random(163)
    for (_ <- 1 to 200) {
      val bm = 1.0
      // scripted attempts: occasional failures (-1), values around the band
      def draw(): Double =
        if (rnd.nextInt(8) == 0) -1.0 else 0.5 + rnd.nextDouble() * 4.0
      val script = Vector.fill(8)(draw())
      val it = script.iterator
      var consumed = 0
      def next(): Double = { consumed += 1; it.next() }
      val (shipped, attempts) = Bench.measureKey(next _, next _, bm)
      assert(attempts === script.take(consumed), "attempt trail mismatch")
      assert(attempts.size <= 4, s"cap broke: $attempts")
      if (attempts.head < 0) {
        assert(shipped === -1.0 && attempts.size === 1)
      } else if (attempts.size >= 2 && attempts(1) < 0) {
        assert(shipped === -1.0 && attempts.size === 2)
      } else {
        val valid = attempts.filter(_ >= 0)
        assert(valid.nonEmpty && shipped === valid.min,
          s"shipped $shipped != min valid of $attempts")
        // the loop only continues while the running min is over band
        // and fewer than 4 attempts are in hand
        if (attempts.size < 4 && attempts.last >= 0)
          assert(attempts.min <= 2 * bm,
            s"stopped early while over band: $attempts")
      }
    }
  }
}
