package graft

import graft.ingest.BloomIndex
import graft.query.{Fixture, RefParity}

/** The fixture registry: one entry per build-once tree a registered query
  * reads, so prestaging covers every tree by construction.
  */
class FixturesSpec extends SparkSuite {

  test("the registry holds 38 fixtures with pairwise distinct roots") {
    val keys = SparkEntry.fixtures.map(_.key)
    assert(keys.size === 38)
    assert(keys.distinct.size === keys.size)
  }

  test("the registry refuses two entries under one root") {
    val a = Fixture("graft_twice", "orders")((_, _, _) => ())
    val b = Fixture("graft_twice", "lineitem")((_, _, _) => ())
    intercept[IllegalArgumentException](Fixture.registry(Seq(a, b)))
  }

  test("prestage stages every fixture: each base holds its marker") {
    SparkEntry.prestage(spark, sf)
    val missing = SparkEntry.fixtures
      .filterNot(f => new java.io.File(f.base(sf), f.marker).exists())
      .map(f => f.base(sf))
    assert(missing.isEmpty, s"not staged: ${missing.mkString(", ")}")
    val bloom = BloomIndex.sidecar(RefParity.ingestedEvents.base(sf), "event_id")
    assert(new java.io.File(bloom, "_SUCCESS").exists(), "the Bloom sidecar is staged too")
  }
}
