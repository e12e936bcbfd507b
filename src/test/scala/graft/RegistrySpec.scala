package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry invariant (CLAUDE.md): every query is ONE [[Query]]
  * entry, so it cannot lack an oracle, and [[Query.index]] rejects a name
  * declared twice instead of letting a `Map` keep the last binding. The
  * rendered oracle strings are pinned by md5 in `oracle_sql.md5`. */
class RegistrySpec extends AnyFunSuite {

  /** `oracle_sql.md5` (`<md5>  <name>` per line, md5sum's layout) pins
    * every registered query's DuckDB twin byte for byte, so a refactor
    * of the SQL fragments cannot change an oracle unnoticed. A change
    * that must alter a twin replaces its line (the failure prints the
    * new ones) and says why in CHANGES.md. */
  test("every rendered oracleSql string matches its md5 in oracle_sql.md5") {
    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/oracle_sql.md5"), "UTF-8")
    val pinned = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(h, n) = l.split("  ", 2); n -> h
    }.toMap finally src.close()
    val rendered = SparkEntry.oracleSql.map { case (n, sql) => n -> md5(sql) }
    assert(rendered.keySet == pinned.keySet,
      s"unpinned: ${(rendered.keySet -- pinned.keySet).toSeq.sorted.mkString(", ")}; " +
        s"pinned but unregistered: ${(pinned.keySet -- rendered.keySet).toSeq.sorted.mkString(", ")}")
    val changed = rendered.filter { case (n, h) => pinned(n) != h }
    assert(changed.isEmpty, "oracle SQL changed:\n" +
      changed.toSeq.sorted.map { case (n, h) => s"$h  $n" }.mkString("\n"))
  }

  test("SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet " +
    "(every registered query is oracled — no allowlist needed)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o,
      s"un-oracled queries: ${(q -- o).toSeq.sorted.mkString(", ")}; " +
        s"orphan oracles: ${(o -- q).toSeq.sorted.mkString(", ")}")
  }

  test("arg registries stay inside the fixed registry: " +
    "queriesWithArgs ⊆ queries, oracleSqlWithArgs ⊆ queriesWithArgs") {
    val extra = SparkEntry.queriesWithArgs.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"queriesWithArgs keys with no fixed twin: $extra")
    val orphan =
      SparkEntry.oracleSqlWithArgs.keySet -- SparkEntry.queriesWithArgs.keySet
    assert(orphan.isEmpty, s"templated oracles with no arg entry: $orphan")
  }

  test("indexing two entries with the same name throws, naming it") {
    val sql = "SELECT 1"
    val entries = Seq(
      Query("q_one", sql)((s, _) => s.emptyDataFrame),
      Query("q_two", sql)((s, _) => s.emptyDataFrame),
      Query.args("q_one", sql)((s, _, _) => s.emptyDataFrame))
    val e = intercept[IllegalArgumentException](Query.index(entries))
    assert(e.getMessage.contains("q_one") && !e.getMessage.contains("q_two"),
      e.getMessage)
    assert(Query.index(entries.take(2)).keySet == Set("q_one", "q_two"))
  }
}
