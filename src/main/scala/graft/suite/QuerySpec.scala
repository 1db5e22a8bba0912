package graft.suite

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator row (SURVEY.md §2): `build` makes the row's
  * result over a data dir, and `oracleSql` is the DuckDB query that
  * must return the same rows.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

object QuerySpec {

  /** The rows keyed by name. A name given to two rows fails here: a
    * plain `toMap` would keep one of them and drop the other silently.
    */
  def byName(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query rows declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }
}
