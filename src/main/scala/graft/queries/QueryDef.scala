package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, how it is built from a session and an sf
  * directory, and the DuckDB SQL its result must match.
  */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
                          oracleSql: String) {
  require(oracleSql.nonEmpty, s"query $name has an empty oracle")
}

object QueryDef {
  /** The registry over `defs`: each name must be defined once. */
  def registry(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val repeated = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(repeated.isEmpty, s"queries defined more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    defs
  }
}

/** A family file: each query registers next to its body, in file order. */
abstract class QueryFamily {
  private val registered = Seq.newBuilder[QueryDef]

  protected final def query(name: String, build: (SparkSession, String) => DataFrame,
                            oracleSql: String): QueryDef = {
    val d = QueryDef(name, build, oracleSql)
    registered += d
    d
  }

  final lazy val defs: Seq[QueryDef] = registered.result()
}
