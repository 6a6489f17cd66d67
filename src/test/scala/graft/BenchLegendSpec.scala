package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gate.GateEntry

/** The committed positional-bench legend must track the gate inventory:
  * `tools/bench_query_order.json` is how BENCH_r*.json's `"q"` arrays map
  * back to query names, so drift here silently mislabels every
  * per-query number in the official artifact. */
class BenchLegendSpec extends AnyFunSuite {
  test("tools/bench_query_order.json matches SparkEntry.queries sorted") {
    val path = java.nio.file.Paths.get("tools/bench_query_order.json")
    assert(java.nio.file.Files.exists(path),
      "legend missing — run `sbt \"runMain graft.BenchLegend\"`")
    val committed = new String(
      java.nio.file.Files.readAllBytes(path), "UTF-8")
    assert(committed == BenchLegend.namesJson,
      "legend drifted from SparkEntry.queries — " +
        "run `sbt \"runMain graft.BenchLegend\"` and commit the result")
  }

  test("gate entry names are unique, and the registry rejects a repeated one") {
    val names = GateEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.size == names.size)
    val e = GateEntry.all.head
    val err = intercept[IllegalArgumentException](
      GateEntry.uniqueNames(GateEntry.all :+ e.copy(oracle = "SELECT 1")))
    assert(err.getMessage.contains(e.name))
  }
}
