package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Catalog, Declared, Fixtures}

/** The declared-query catalog and its artifact locations: every query
  * has exactly one non-blank oracle (and no oracle is orphaned), a
  * non-blank family and a unique name, and each dataset gets its own
  * build-once artifact dirs — two sf paths whose `String.hashCode`
  * collides must not share (and cross-read) one store.
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

  test("every declared query has a non-blank family") {
    val blank = Catalog.all.filter(_.family.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries without a family: ${blank.mkString(", ")}")
  }

  test("building a catalog with a duplicate name or a blank family throws and names it") {
    val run: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.emptyDataFrame
    val a = new Declared.Family("alpha")
    val dup = intercept[IllegalArgumentException] {
      Declared.catalog(Seq(a("q_one")(run)("SELECT 1"), a("q_two")(run)("SELECT 2"),
        new Declared.Family("beta")("q_one")(run)("SELECT 3")))
    }
    assert(dup.getMessage.contains("q_one"))
    assert(!dup.getMessage.contains("q_two"))
    val blank = intercept[IllegalArgumentException] {
      Declared.catalog(Seq(a("q_one")(run)("SELECT 1"),
        new Declared.Family(" ")("q_blank")(run)("SELECT 2")))
    }
    assert(blank.getMessage.contains("q_blank"))
  }

  test("listing the queries builds no oracle text") {
    var built = 0
    val d = new Declared.Family("alpha")("q_lazy")((s, _) => s.emptyDataFrame)({
      built += 1; "SELECT 1" })
    assert(Declared.catalog(Seq(d)).map(_.name) == Seq("q_lazy"))
    assert(built == 0)
    assert(d.oracle == "SELECT 1" && built == 1)
  }

  test("queries with equal oracle SQL share one definition, never a copy") {
    // a shared oracle is one cached String; a copy written out again
    // builds its own (two equal plain literals would be interned into
    // one, so this sees copies built at run time: interpolated or
    // stripMargin'd SQL, which is every multi-line oracle)
    val copies = Catalog.all.map(d => d -> d.oracle).groupBy(_._2).values
      .filter(_.size > 1)
      .filter(g => g.exists { case (_, o) => !(o eq g.head._2) })
      .map(_.map(_._1.name).sorted.mkString(", "))
    assert(copies.isEmpty, s"oracles written out more than once: ${copies.mkString("; ")}")
  }

  test("artifact dirs are per dataset path, even when String.hashCode collides") {
    val (a, b) = ("/data/sfAa", "/data/sfBB")
    assert(a.hashCode == b.hashCode) // the premise: "Aa" and "BB" collide
    assert(Fixtures.artifactDir("postings", a) != Fixtures.artifactDir("postings", b))
    assert(Fixtures.artifactDir("postings", a) == Fixtures.artifactDir("postings", a))
    assert(Fixtures.artifactDir("postings", a) != Fixtures.artifactDir("trigram", a))
    val tmp = System.getProperty("java.io.tmpdir")
    assert(Fixtures.artifactDir("hnsw", a).startsWith(s"$tmp/graft_hnsw_"))
  }
}
