package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SuiteSpec extends AnyFunSuite {
  private val queries = graft.SparkEntry.queries.keySet

  test("every one of the 139 queries maps to one of the nine modules") {
    assert(queries.size == 139)
    val unmapped = queries.filter(Suite.module(_).isEmpty)
    assert(unmapped.isEmpty, s"unmapped: $unmapped")
    assert(queries.flatMap(Suite.module).subsetOf(Suite.Modules.toSet))
  }

  test("the mapping puts queries where their code lives") {
    assert(Suite.module("q1_agg").contains("relational"))
    assert(Suite.module("events_sessions").contains("streaming"))
    assert(Suite.module("grid_roughness").contains("workflow"))
    assert(Suite.module("grid_neighbors").contains("indicators"))
    assert(Suite.module("dedup_embedding_cosine").contains("ml"))
    assert(Suite.module("dedup_exact").contains("text"))
    assert(Suite.module("osm_format_road").contains("sources"))
    assert(Suite.module("pages_e2e").contains("lake"))
    assert(Suite.module("geo_pip_join").contains("geo"))
  }

  test("the sample is one query of each module, each with an oracle") {
    assert(Suite.Sample.forall(queries.contains))
    assert(Suite.Sample.flatMap(Suite.module).sorted == Suite.Modules.sorted)
    assert(Suite.Sample.forall(q => graft.SparkEntry.oracleSql.get(q).exists(_.nonEmpty)))
  }

  test("the seed permutes the sample and nothing else") {
    val a = QuerySuite.order(1L)
    assert(a.sorted == Suite.Sample.sorted)
    assert(a == QuerySuite.order(1L))
    assert((2L to 6L).exists(s => QuerySuite.order(s) != a))
  }
}
