package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark plan over a test-table
  * directory, and the DuckDB SQL its result is hash-compared against
  * ([[Verify]] writes the result and the SQL; `tools/check_oracle.py`
  * compares them). A `headline` query is also timed by [[Bench]]: the
  * headline set is one query per operator family, weighted toward the
  * shuffle, join and aggregate paths that dominate at scale.
  *
  * The oracle is passed by name and read at most once, so building the
  * registry evaluates none of the SQL.
  */
final class Query private (val name: String, oracle: => String,
    val headline: Boolean, val plan: (SparkSession, String) => DataFrame) {

  lazy val oracleSql: String = oracle

  /** 315 for `q315_ivf_probe_plan`. */
  def id: Int = name.drop(1).takeWhile(_.isDigit).toInt
}

object Query {

  def apply(name: String, oracle: => String, headline: Boolean = false)(
      plan: (SparkSession, String) => DataFrame): Query =
    new Query(name, oracle, headline, plan)

  private val Name = """q\d+_\w+""".r

  /** The entries in ascending numeric id. Every name must be
    * `q<digits>_<words>`, and no name or numeric id may repeat: Bench's
    * short stdout line keys queries by numeric id.
    */
  def registry(entries: Query*): Seq[Query] = {
    val names = entries.map(_.name)
    val malformed = names.filterNot(Name.matches)
    require(malformed.isEmpty,
      s"query names not of the form q<digits>_<name>: ${malformed.mkString(",")}")
    require(names.distinct.size == names.size,
      s"query names repeat: ${names.diff(names.distinct).mkString(",")}")
    val ids = entries.map(_.id)
    require(ids.distinct.size == ids.size,
      s"query numeric ids repeat: ${ids.diff(ids.distinct).mkString(",")}")
    entries.sortBy(_.id)
  }
}
