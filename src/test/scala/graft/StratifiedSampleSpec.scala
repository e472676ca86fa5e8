package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Pins the deterministic stratified-sampling contract: rate-proportional
  * selection, duplicate co-selection, stability, and rate validation. */
class StratifiedSampleSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = (0 until 2000).map { i =>
    (i.toLong, s"document body number $i with some words", if (i % 2 == 0) "en" else "de")
  }.toDF("id", "text", "lang")

  test("kept fraction tracks the per-stratum rate") {
    val kept = docs.filter(TextOps.stratifiedKeep($"text", $"lang",
        Map("en" -> 0.5, "de" -> 0.1), defaultRate = 0.0))
      .groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 docs per stratum; polyHash is uniform enough for ±40%
    assert(kept("en") > 300 && kept("en") < 700, s"en=${kept("en")}")
    assert(kept("de") > 40 && kept("de") < 160, s"de=${kept("de")}")
  }

  test("exact duplicates are kept or dropped together; decision is stable") {
    val dup = docs.union(docs) // every text twice
    val counts = dup.filter(TextOps.stratifiedKeep($"text", $"lang",
        Map.empty, defaultRate = 0.3))
      .groupBy($"text").count().collect().map(_.getLong(1)).toSet
    assert(counts.subsetOf(Set(2L))) // never 1: dups decide identically
    val a = docs.filter(TextOps.stratifiedKeep($"text", $"lang", Map.empty, 0.3))
      .count()
    val b = docs.repartition(7)
      .filter(TextOps.stratifiedKeep($"text", $"lang", Map.empty, 0.3)).count()
    assert(a === b) // layout-independent
  }

  test("threshold is round-half-up, not binary truncation") {
    // 0.3 * 10000 is 2999.999… in binary; truncation would silently
    // diverge from an oracle that writes the exact literal 3000
    assert(TextOps.sampleThreshold(0.3) === 3000L)
    assert(TextOps.sampleThreshold(0.0) === 0L)
    assert(TextOps.sampleThreshold(1.0) === 10000L)
    assert(TextOps.sampleThreshold(0.0001) === 1L)
  }

  test("rates outside [0,1] fail fast") {
    intercept[IllegalArgumentException](
      TextOps.stratifiedKeep($"text", $"lang", Map("en" -> 1.5), 0.1))
    intercept[IllegalArgumentException](
      TextOps.stratifiedKeep($"text", $"lang", Map.empty, -0.1))
  }
}
