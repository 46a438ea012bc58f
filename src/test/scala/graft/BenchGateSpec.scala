package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact's validity arithmetic (BenchGate) — the
  * round-15 policy arrived at after two measurement rounds:
  *
  * Round 14: the absolute 1.5% steal gate was structurally
  * unmeetable (idle floor 2.6%) — every artifact born invalid.
  * Round 15 measured the next layer: steal on this host is a
  * function of the guest's OWN load (idle 2.2–3.3%, 19.9% under a
  * 32-thread burn, 7.5% under the bench's mixed duty cycle on two
  * different days), so even an idle-floor-excess gate can never
  * pass — the run's own work is the "burst". Hence the verdict's
  * fallback prescription: gate hard on loadavg (other processes)
  * and write bandwidth at BOTH probes (the dirty-page-tracking
  * failure that actually degraded round 14), emit steal as a
  * continuous covariate, and keep only a catastrophic whole-run
  * ceiling (25%) past which per-query numbers are noise.
  */
class BenchGateSpec extends AnyFunSuite {
  import BenchGate._

  test("median: odd, even, singleton, empty") {
    assert(median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(median(Seq(7.5)) === 7.5)
    assert(median(Nil) === -1.0)
  }

  private def gate(load: Double = 0.2, loadPost: Double = 0.2, run: Double = 7.5,
      wStart: Double = 6.0, wEnd: Double = 6.0): Boolean =
    hostValid(load, loadPost, run, wStart, wEnd)

  test("host-gate thresholds are FROZEN constants, not environment knobs") {
    assert(MaxLoad === 0.5)
    assert(MaxLoadPost === 1.0)
    assert(StealCeil === 25.0)
    assert(MinWriteGBps === 1.0)
    assert(LoadRetries === 2)
    assert(LoadSleepMs === 45000L)
  }

  test("calibration workload parameters are FROZEN (round 16): changing them re-baselines the total/calib series") {
    assert(CalibRows === 100000000L)
    assert(CalibKeys === 10000000L)
    assert(CalibPartitions === 64)
  }

  test("post-wait loadavg gates at its looser allowance: late-ramping contamination can't hide behind a clean entry read") {
    // The r15 ADVICE scenario: entry-instant read idle-clean (the
    // min), external load ramps seconds later and persists — the
    // post-decay-wait read carries its full magnitude.
    assert(!gate(load = 0.1, loadPost = 3.0))
    assert(gate(load = 0.1, loadPost = 1.0))  // boundary of the self-load allowance
    assert(!gate(load = 0.1, loadPost = 1.01))
    assert(!gate(loadPost = -1.0))            // unreadable post read is untrusted too
    // A clean run whose startup burst decayed normally passes both.
    assert(gate(load = 0.35, loadPost = 0.35))
  }

  test("the measured host-normal run steal is VALID: 7.5% under load is this host's structural tax") {
    // The configuration both the r14 judge run and the r15 replicate
    // measured (7.465% / 7.474%) — comparability is adjudicated from
    // the emitted floors, not refused by the stamp.
    assert(gate(run = 7.5))
    assert(gate(run = 19.9)) // even the full-burn loaded floor stays under the ceiling
    assert(gate(run = 25.0)) // ceiling boundary is valid
  }

  test("catastrophic steal invalidates: past the ceiling the guest was barely scheduled") {
    assert(!gate(run = 25.1))
    assert(!gate(run = 60.0))
  }

  test("write-bandwidth collapse at EITHER probe invalidates (the actual round-14 failure)") {
    assert(!gate(wStart = 0.01))           // tracking active at start
    assert(!gate(wEnd = 0.01))             // tracking began mid-run
    assert(gate(wStart = 1.0, wEnd = 1.0)) // boundary is valid
  }

  test("unreadable probes (-1) invalidate — unobservable contention is untrusted") {
    assert(!gate(load = -1.0))
    assert(!gate(run = -1.0))
    assert(!gate(wStart = -1.0))
    assert(!gate(wEnd = -1.0))
  }

  test("loadavg gate unchanged: absolute, 0.5 — other processes on the box contaminate") {
    assert(!gate(load = 0.51))
    assert(gate(load = 0.5))
  }

  test("loadavg min-read gate still applies with a clean post read") {
    assert(!gate(load = 0.6, loadPost = 0.2))
  }
}
