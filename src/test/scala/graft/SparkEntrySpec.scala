package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QueryWave

/** Invariants of the query registry: SparkEntry's one wave list merged
  * into `queries` and `oracleSql` (no session needed). */
class SparkEntrySpec extends AnyFunSuite {

  private object DupA extends QueryWave {
    val queries: Map[String, Q] = Map("q_dup" -> ((s, d) => s.emptyDataFrame))
    val oracle: Map[String, String] = Map.empty
  }
  private object DupB extends QueryWave {
    val queries: Map[String, Q] = Map("q_dup" -> ((s, d) => s.emptyDataFrame))
    val oracle: Map[String, String] = Map.empty
  }

  test("query names are unique across the waves; the surface has 365 queries") {
    assert(SparkEntry.waves.size == 60)
    assert(SparkEntry.waves.distinct.size == 60)
    val names = SparkEntry.waves.flatMap(_.queries.keys)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.size == 365)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("a name defined by two waves makes the merge throw, naming both") {
    val e = intercept[IllegalStateException] {
      SparkEntry.merge(Seq(DupA, DupB).map(w => SparkEntry.waveName(w) -> w.queries))
    }
    assert(e.getMessage.contains("q_dup"))
    assert(e.getMessage.contains("DupA") && e.getMessage.contains("DupB"))
  }

  test("every oracle key is a query; 329 queries carry DuckDB SQL") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
    assert(SparkEntry.oracleSql.size == 329)
  }

  test("select: prefixes pick sorted matches; none picks all; an unknown prefix throws") {
    assert(SparkEntry.select(Nil) == SparkEntry.queries.keys.toSeq.sorted)
    val picked = SparkEntry.select(Seq("q0"))
    assert(picked.nonEmpty && picked.forall(_.startsWith("q0")) && picked == picked.sorted)
    val e = intercept[IllegalArgumentException](SparkEntry.select(Seq("q0", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }
}
