package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its `name`, its `family`, the Spark plan that
  * answers it over a dataset dir (`run`), and the DuckDB SQL that must
  * return the same rows over the same parquet tables (`oracle`, with
  * identical column names and deterministic ordering). The oracle is
  * by-name, so listing the queries never builds oracle text. */
final class Declared(val name: String, val family: String,
    val run: (SparkSession, String) => DataFrame, oracleSql: => String) {
  def oracle: String = oracleSql
}

object Declared {

  /** The declaration form of one family's file:
    * `declare(name)(run)(oracle)`. */
  final class Family(family: String) {
    def apply(name: String)(run: (SparkSession, String) => DataFrame)(
        oracle: => String): Declared =
      new Declared(name, family, run, oracle)
  }

  /** `entries` as a catalog: throws on a blank family or on a name
    * declared twice, naming the offenders. */
  def catalog(entries: Seq[Declared]): Seq[Declared] = {
    val blank = entries.filter(_.family.trim.isEmpty).map(_.name)
    require(blank.isEmpty, s"queries without a family: ${blank.mkString(", ")}")
    val dups = entries.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"queries declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }
}

/** Every declared query, one file per family. Built on first use, not
  * when [[graft.SparkEntry]] initializes. */
object Catalog {
  lazy val all: Seq[Declared] = Declared.catalog(
    VectorQueries.declared ++ RetrievalQueries.declared ++
      TokenizerQueries.declared ++ CurationQueries.declared ++
      StreamQueries.declared ++ StoreQueries.declared ++
      EventQueries.declared ++ MediaQueries.declared ++
      FormatQueries.declared)
}
