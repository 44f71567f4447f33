package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: its name, its Spark plan and its DuckDB
  * twin. The twin is built on first use, so it may interpolate shared
  * SQL helpers defined anywhere in its family object. */
final class Query(
    val name: String,
    val plan: (SparkSession, String) => DataFrame,
    twin: => String) {
  lazy val oracle: String = twin
}

object Query {
  def apply(name: String, plan: (SparkSession, String) => DataFrame,
      oracle: => String): Query = new Query(name, plan, oracle)

  /** Joins query families into one name-keyed registry. A name that
    * appears twice fails here rather than silently dropping a query. */
  def registry(families: Seq[Query]*): Map[String, Query] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }
}
