package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared-query catalog's pairing and its artifact locations:
  * every query has exactly one non-blank oracle (and no oracle is
  * orphaned), and each dataset gets its own build-once artifact dirs —
  * two sf paths whose `String.hashCode` collides must not share (and
  * cross-read) one store.
  */
class DeclaredQueriesSpec extends AnyFunSuite {

  test("every declared query has exactly one non-blank oracle") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without an oracle")
    assert((oracles -- queries).isEmpty, "oracles without a query")
    val blank = SparkEntry.oracleSql.collect { case (k, v) if v.trim.isEmpty => k }
    assert(blank.isEmpty, s"blank oracles: ${blank.mkString(", ")}")
  }

  test("artifact dirs are per dataset path, even when String.hashCode collides") {
    val (a, b) = ("/data/sfAa", "/data/sfBB")
    assert(a.hashCode == b.hashCode) // the premise: "Aa" and "BB" collide
    assert(SparkEntry.artifactDir("postings", a) != SparkEntry.artifactDir("postings", b))
    assert(SparkEntry.artifactDir("postings", a) == SparkEntry.artifactDir("postings", a))
    assert(SparkEntry.artifactDir("postings", a) != SparkEntry.artifactDir("trigram", a))
    val tmp = System.getProperty("java.io.tmpdir")
    assert(SparkEntry.artifactDir("hnsw", a).startsWith(s"$tmp/graft_hnsw_"))
  }
}
