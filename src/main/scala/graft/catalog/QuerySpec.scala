package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: its Spark build over a dataset directory, and the
  * DuckDB SQL whose result gates it. The SQL is held by name and built
  * only when [[oracle]] is read, so building or running a query never
  * builds oracle text. */
final class QuerySpec(
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    oracleText: => String) {
  def oracle: String = oracleText
}

object QuerySpec {
  def apply(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: => String): QuerySpec =
    new QuerySpec(name, build, oracle)
}

/**
 * The query catalog: every operator from SURVEY.md §2 (XML source/sink
 * surface + relational capabilities over it) plus the training-data
 * pipeline operators (dedup, similarity, text analysis, multimodal), each
 * a [[QuerySpec]] in the domain file of the pipeline object its build
 * mainly calls, beside its oracle SQL.
 *
 * Numeric discipline for oracle equality: aggregates over double columns
 * cast operands to exact decimals first (the testdata is 2-3dp money),
 * aggregate exactly, and cast the result to double — bit-identical on both
 * engines.
 */
object Catalog {

  /** Every spec, by name. */
  lazy val specs: Map[String, QuerySpec] = index(Seq(
    RelationalQueries.specs, XmlQueries.specs, TextQueries.specs, SearchQueries.specs,
    DedupQueries.specs, SimilarityQueries.specs, GraphQueries.specs, SamplingQueries.specs,
    ProfileQueries.specs, StreamQueries.specs, MultimodalQueries.specs).flatten)

  /** `specs` keyed by name; fails, naming them, on names declared twice. */
  def index(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val repeated = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(repeated.isEmpty,
      s"query names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }

  /** The variable whose comma-separated query names narrow Bench, Verify
    * and PlanDump to those queries. */
  val QueriesEnv = "SPARK_GRAFT_QUERIES"

  /** The entries of `all` named by the comma-separated `filter`, or all of
    * them when there is no filter. Fails, naming them, on names `all` does
    * not hold, so a misspelt name never silently selects less. */
  def select[V](all: Map[String, V], filter: Option[String]): Map[String, V] =
    filter.fold(all) { list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(all.contains)
      require(unknown.isEmpty,
        s"$QueriesEnv names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      all.filter { case (n, _) => names(n) }
    }
}
