package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: a Spark implementation plus an equivalent
  * DuckDB oracle SQL over the same parquet tables. Column names/aliases
  * MUST match between the two — the comparison sorts columns by name
  * before hashing values.
  *
  * Cross-engine determinism rules used throughout the packs:
  *   - SUM over doubles is order-dependent → sum `CAST(x AS DECIMAL(18,4))`
  *     (exact, associative) and cast the result back to DOUBLE.
  *   - AVG = CAST(decimal-sum AS DOUBLE) / COUNT — IEEE division of two
  *     identical values is identical.
  *   - every ORDER BY carries a unique tiebreaker so LIMIT is deterministic.
  *   - only functions with identical semantics in Spark and DuckDB are used
  *     on the oracle-checked path (md5, substring, upper/lower, date_trunc,
  *     year/month, regexp_extract with simple patterns, ...).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {
  /** Oracle-checked query. */
  def apply(name: String, sql: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, (s, d) => run(GraftSession.tune(s), d), sql)
}
