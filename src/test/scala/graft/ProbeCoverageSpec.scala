package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must be reachable by ScaleProbe: its family
  * is derived from the tables its DuckDB twin reads, so no hand list can
  * drift from the registry. This pins the derivation on known queries
  * and family sizes, and pins that the `only` filter names what it
  * cannot run instead of dropping it. */
class ProbeCoverageSpec extends AnyFunSuite {
  test("a query's probe family follows the fixture tables its twin reads") {
    assert(ScaleProbe.familyOf("wordcount") == "docs")
    assert(ScaleProbe.familyOf("multikey_counts") == "events")
    assert(ScaleProbe.familyOf("pricing_summary") == "rel")
    assert(ScaleProbe.familyOf("asof_join_orders") == "dual")
    // string literals are stripped: 'from'/'join' inside one names no table
    assert(ScaleProbe.tablesRead(
      "SELECT 'x FROM events' AS s FROM documents d JOIN orders o ON true") ==
      Set("documents", "orders"))
    assert(ScaleProbe.selection(Set.empty, 0L, 0).size == 138)
    assert(ScaleProbe.selection(Set.empty, 1L, 1).size == 269)
  }

  test("selection fails by name on an only entry that is no listed or pseudo query") {
    val e = intercept[IllegalArgumentException](
      ScaleProbe.selection(Set("wordcount", "knn_stage_split", "no_such_query"), 0L, 0))
    assert(e.getMessage.contains("knn_stage_split") &&
      e.getMessage.contains("no_such_query") && !e.getMessage.contains("wordcount"),
      e.getMessage)
    assert(ScaleProbe.selection(Set("wordcount", "pipeline_composite"), 0L, 0) ==
      Seq("wordcount"))
  }

  test("selection fails naming the parameter when a named query's family is off") {
    val ev = intercept[IllegalArgumentException](
      ScaleProbe.selection(Set("events_funnel"), 0L, 1))
    assert(ev.getMessage.contains("events_funnel") && ev.getMessage.contains("nEvents"),
      ev.getMessage)
    val dual = intercept[IllegalArgumentException](
      ScaleProbe.selection(Set("asof_join_orders"), 1000L, 0))
    assert(dual.getMessage.contains("relScale") && !dual.getMessage.contains("nEvents"),
      dual.getMessage)
    assert(ScaleProbe.selection(Set("asof_join_orders", "events_funnel"), 1000L, 1)
      .toSet == Set("asof_join_orders", "events_funnel"))
    // no filter: exactly the enabled families, nothing to reject
    assert(ScaleProbe.selection(Set.empty, 0L, 0).map(ScaleProbe.familyOf).toSet ==
      Set("docs"))
  }
}
