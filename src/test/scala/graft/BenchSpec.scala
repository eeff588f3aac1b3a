package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contention guard's math: `load_suspect` must fire exactly when
  * no two passes agree within the threshold — a loaded machine shows
  * wild pass-to-pass spread, a code regression shows consistent slow
  * passes (the BENCH_r04 post-mortem distinction). */
class BenchSpec extends AnyFunSuite {

  test("consistent passes: spread ≈ 1, never suspect") {
    assert(math.abs(Bench.passSpread(Seq(1.0, 1.1)) - 1.1) < 1e-9)
    assert(Bench.passSpread(Seq(2.0, 2.0, 2.0)) === 1.0)
  }

  test("one contended pass among agreeing passes: min is trusted") {
    // pass1 fast, pass2 loaded 10×, pass3 agrees with pass1 →
    // second-smallest/smallest ≈ 1.05, under the 3× trigger
    assert(Bench.passSpread(Seq(1.0, 10.0, 1.05)) < 3.0)
  }

  test("no two passes agree: spread stays pathological") {
    assert(Bench.passSpread(Seq(1.0, 10.0, 7.0)) > 3.0)
    assert(Bench.passSpread(Seq(1.0, 3.5)) > 3.0)
  }

  test("crashed and missing passes are ignored; degenerate inputs are calm") {
    assert(Bench.passSpread(Seq(-1.0, 5.0)) === 1.0)   // one success only
    assert(Bench.passSpread(Seq.empty) === 1.0)
    assert(Bench.passSpread(Seq(0.0, 0.0)) === 1.0)    // sub-resolution times
    assert(Bench.passSpread(Seq(-1.0, 4.0, 5.0)) === 1.25)
  }

  // ---- stream sections: the attempt guard's policy on scripted
  // attempts (no Spark), and the table pin (each row carries two JSON
  // fields, so a dropped, renamed or reordered row must fail here) ----

  /** Attempts that return the scripted rates in turn; NaN throws. */
  private def scripted(rates: Double*): (() => Double, () => Int) = {
    val it = rates.iterator
    var calls = 0
    (() => {
      calls += 1
      val r = it.next()
      if (r.isNaN) throw new IllegalStateException(s"attempt $calls died")
      r
    }, () => calls)
  }

  test("agreeing attempts: two runs, best rate, not suspect") {
    val (run, calls) = scripted(100.0, 120.0)
    assert(Bench.guardAttempts(run) === Bench.Guarded(120.0, suspect = false, None))
    assert(calls() === 2)
  }

  test("disagreeing attempts get a third that resolves them") {
    val (run, calls) = scripted(100.0, 20.0, 110.0)
    assert(Bench.guardAttempts(run) === Bench.Guarded(110.0, suspect = false, None))
    assert(calls() === 3)
  }

  test("attempts that still disagree after the third are suspect") {
    val (run, calls) = scripted(100.0, 20.0, 5.0)
    assert(Bench.guardAttempts(run) === Bench.Guarded(100.0, suspect = true, None))
    assert(calls() === 3)
  }

  test("every attempt failing reports -1 and the last error") {
    val (run, calls) = scripted(Double.NaN, Double.NaN)
    val g = Bench.guardAttempts(run)
    assert(g.rate === -1.0 && !g.suspect && calls() === 2)
    assert(g.failure.map(_.getMessage) === Some("attempt 2 died"))
  }

  test("one failed attempt counts as -1 for that attempt only") {
    val (run, calls) = scripted(Double.NaN, 80.0)
    assert(Bench.guardAttempts(run) === Bench.Guarded(80.0, suspect = false, None))
    assert(calls() === 2)
  }

  test("the stream section table keeps every section, in run order") {
    assert(Bench.streamSections.map(_.name) === Seq(
      "stream_dau", "stream_dau_rocksdb", "stream_join", "stream_cdc_apply",
      "stream_heavy_hitters_rocksdb", "stream_cms_sketch", "stream_cms_maintain",
      "stream_topology", "stream_dedup_intake", "stream_curate_intake",
      "stream_curate_intake_20k", "stream_dedup_intake_20k",
      "stream_pagerank_maintain", "stream_components_maintain",
      "stream_components_maintain_c3", "stream_hnsw_maintain",
      "stream_hnsw_maintain_20k", "stream_hnsw_serve"))
  }
}
