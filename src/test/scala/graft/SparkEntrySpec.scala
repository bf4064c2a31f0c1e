package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: names, oracles and name selection. No Spark work —
  * these touch only the registries and their derived views.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("registry: the query-name set equals the key set of HASHES_r18.json") {
    val f = new java.io.File("HASHES_r18.json")
    assert(f.isFile, "HASHES_r18.json must be committed at the repo root")
    val frozen = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(f).fieldNames().asScala.toSet
    val names = SparkEntry.queries.keySet
    assert(names == frozen,
      s"registered, not frozen: ${(names -- frozen).toSeq.sorted}; " +
        s"frozen, not registered: ${(frozen -- names).toSeq.sorted}")
  }

  test("registry: every query has a run and a non-empty oracle (a registry " +
    "declared above the vals it names would capture nulls)") {
    SparkEntry.registry.foreach { q =>
      assert(q.run != null, s"${q.name}: null run")
      assert(q.oracle != null && q.oracle.trim.nonEmpty, s"${q.name}: empty oracle")
    }
  }

  test("registry: a name registered twice is rejected, naming it") {
    val q = SparkEntry.registry.head
    val twice = SparkEntry.registry :+ q.copy(oracle = "SELECT 1")
    val e = intercept[IllegalArgumentException](SparkEntry.byName(twice))
    assert(e.getMessage.contains(q.name), e.getMessage)
  }

  test("select: None is every query, Some(names) exactly those; an empty " +
    "selection throws, and so does an unknown name, naming each unknown one") {
    assert(SparkEntry.select(None).keySet == SparkEntry.queries.keySet)
    val two = Set("q01_pricing_summary", "q_ann_pq")
    assert(SparkEntry.select(Some(two)).keySet == two)
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some(two + "q_typo" + "q_other_typo")))
    assert(e.getMessage.contains("q_other_typo") && e.getMessage.contains("q_typo"),
      e.getMessage)
    assert(!e.getMessage.contains("q01_pricing_summary"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(Some(Set.empty)))
  }
}
