package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.regressionTrigger]] — the retest/regression gate whose
  * round-12 form (`prev >= 0.3` alone) let 40-60× blowups over sub-0.3 s
  * priors pass unflagged — and the stamped retest record. Pure-function
  * spec, no Spark session.
  */
class BenchTriggerSpec extends AnyFunSuite {

  test("the r12 failure class fires: sub-0.3s prior, multi-second blowup") {
    // the five recorded round-12 escapes, verbatim
    assert(Bench.regressionTrigger(10.154, 0.157)) // x1_wordcount, 59x
    assert(Bench.regressionTrigger(3.916, 0.093))  // w4_moving_avg, 40x
    assert(Bench.regressionTrigger(5.399, 0.095))  // f18_url_fns
    assert(Bench.regressionTrigger(3.463, 0.096))  // f17
    assert(Bench.regressionTrigger(4.512, 0.198))  // ts6
    // the synthetic case from the round-13 done-bar
    assert(Bench.regressionTrigger(5.0, 0.1))
  }

  test("the ratio trigger over a meaningful prior still fires") {
    assert(Bench.regressionTrigger(0.45, 0.3))   // exactly 1.5x at the floor
    assert(Bench.regressionTrigger(6.0, 4.0))    // big-query 1.5x
  }

  test("noise below both triggers stays quiet") {
    assert(!Bench.regressionTrigger(0.2, 0.1))   // 2x but tiny both sides
    assert(!Bench.regressionTrigger(0.45, 0.05)) // 9x but under the 0.5s cost bar
    assert(!Bench.regressionTrigger(0.49, 0.2))  // prev under floor, now under 0.5s
  }

  test("the r15 jitter class fires: sub-0.3s prior, 3-4x to 0.45-0.95s") {
    // the three driver-refresh escapes the 1.0s floor exempted, verbatim —
    // each adjudicated back in-band at idle min-of-3, so the retest (not
    // the regression verdict) is what these rows needed
    assert(Bench.regressionTrigger(0.947, 0.238)) // j10_scalar_subquery
    assert(!Bench.regressionTrigger(0.474, 0.139)) // f5_json_fns: 3.4x but
    assert(!Bench.regressionTrigger(0.451, 0.141)) // f3: under the 0.5s bar —
    // sub-0.5s co-movers still ride the headline min-of-N, which is the
    // tier that caught them; the floor exists for one-shot registry rows
  }

  test("boundary arithmetic: 1.5x needs prev >= 0.3; 3x needs now >= 0.5") {
    assert(Bench.regressionTrigger(1.4, 0.5))    // prev >= 0.3 and 2.8x >= 1.5x
    assert(!Bench.regressionTrigger(0.44, 0.3))  // 1.47x, under the ratio bar
    assert(Bench.regressionTrigger(0.5, 0.125))  // prev < 0.3 but 4x at now = 0.5s
    assert(!Bench.regressionTrigger(0.49, 0.125)) // same ratio a hair under 0.5s
    // sentinels / failures never trigger
    assert(!Bench.regressionTrigger(-1.0, 0.5))
    assert(!Bench.regressionTrigger(2.0, -1.0))
    assert(!Bench.regressionTrigger(2.0, 0.0))
  }

  test("BENCH_RETESTED.json is stamped with its sf and full-registry path") {
    val triples = Bench.retestedJson(scala.collection.immutable.TreeMap(
      "j10_scalar_subquery" -> ((0.947, 0.131, 1.25))))
    val rec = Bench.retestedRecord("testdata/sf0.1", "BENCH_FULL.json", triples)
    assert(rec.contains("\"sf\": \"testdata/sf0.1\""), rec)
    assert(rec.contains("\"full_path\": \"BENCH_FULL.json\""), rec)
    assert(rec.contains(
      "\"j10_scalar_subquery\": {\"oneshot\": 0.947, \"retest\": 0.131, \"load\": 1.250}"), rec)
    // a FULL_PATH=0 run (the x8 scaling sweep) says so itself
    val off = Bench.retestedRecord("scale/x8", "0", Bench.retestedJson(Map.empty))
    assert(off.contains("\"sf\": \"scale/x8\"") && off.contains("\"full_path\": \"0\""), off)
  }
}
