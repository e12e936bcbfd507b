package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must be reachable by ScaleProbe: a query
  * absent from every probe family list could never be probed, and
  * PERF.md's "probed at N×" claims would quietly stop covering it.
  * This pins the lists to the registry in both directions, and pins
  * that the `only` filter names what it cannot run instead of dropping
  * it. */
class ProbeCoverageSpec extends AnyFunSuite {
  test("every registered query appears in exactly one ScaleProbe family") {
    val all = ScaleProbe.DocQueries ++ ScaleProbe.EventQueries ++
      ScaleProbe.RelQueries ++ ScaleProbe.DualInputQueries
    assert(all.distinct.size == all.size,
      s"duplicated across probe families: ${all.diff(all.distinct).distinct}")
    val registered = SparkEntry.queries.keySet
    val probed = all.toSet
    assert((registered -- probed).isEmpty,
      s"registered but never probed: ${(registered -- probed).toSeq.sorted}")
    assert((probed -- registered).isEmpty,
      s"probe lists name unknown queries: ${(probed -- registered).toSeq.sorted}")
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
    assert(ScaleProbe.selection(Set.empty, 0L, 0) == ScaleProbe.DocQueries)
  }
}
