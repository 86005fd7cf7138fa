package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s quiet-box wait ([[Bench.awaitQuiet]]) ends at its cap. */
class BenchSpec extends AnyFunSuite {

  test("the quiet wait under a load that stays high ends at its 1 s cap") {
    val t0 = System.nanoTime()
    var reads = 0
    val waited = Bench.awaitQuiet(() => { reads += 1; 4.0 }, 1L)
    val wallSec = (System.nanoTime() - t0) / 1e9
    assert(waited <= 1, s"quiet_waited_sec $waited")
    assert(wallSec >= 0.9 && wallSec < 1.5, s"waited $wallSec s for a 1 s cap")
    assert(reads >= 2)
  }

  test("a quiet box is not waited for") {
    assert(Bench.awaitQuiet(() => 0.5, 120L) == 0)
  }
}
