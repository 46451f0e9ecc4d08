package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named bundle of gate queries plus their DuckDB oracle SQL.
  *
  * Contract (driver): for key K present in both maps, the Spark result of
  * `queries(K)(spark, sfDir)` must hash-match DuckDB running `oracles(K)`
  * over the same parquet tables, after sorting columns by name. Column names
  * must therefore agree exactly between the two sides. Keys present only in
  * `queries` get a weaker rows-only check (non-SQL-expressible operators).
  *
  * A gate returns its plain result: row order is unspecified, and nothing
  * stays pinned after the call returns. Consumers canonicalize: parity
  * sorts rows itself, and the goldens hash rows without regard to order.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
