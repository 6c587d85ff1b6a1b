package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verified query: a Spark DataFrame program plus an
  * equivalent ANSI SQL text the driver runs in DuckDB over the same parquet
  * tables. Column names/types and row order must match between the two —
  * the correctness gate hash-compares values after sorting columns by name.
  *
  * Conventions that keep the hash compare stable:
  *   - every floating aggregate is `round(..., k)` in BOTH engines
  *     (Spark's partial-agg partitioning sums doubles in a different order
  *     than DuckDB's sequential scan; rounding absorbs the ~1e-12 noise);
  *   - no raw TIMESTAMP output columns (Spark writes parquet timestamps as
  *     UTC-adjusted instants, DuckDB's reader surfaces naive timestamps —
  *     format to string or epoch micros instead);
  *   - no `sum(int)` in DuckDB SQL without a cast (DuckDB widens to
  *     HUGEINT, Spark to BIGINT);
  *   - deterministic ORDER BY with a unique tiebreaker in both engines;
  *   - `round(x, k) + 0.0` when x is a row-aggregate of SIGNED data with
  *     a near-zero mean: the engines sum rows in different orders, so a
  *     true mean of ±1e-18 rounds to -0.0 in one engine and +0.0 in the
  *     other — distinct under the driver's text hash. (Row-local
  *     arithmetic is safe: identical operands give identical zeros.)
  *   - DuckDB's `//` is floor division ONLY for integer operands; on
  *     DOUBLEs it ROUNDS (836.89 // 1 → 837), while Spark's `div` and
  *     `floor(a / b)` floor. Integer fixed-points must keep both
  *     operands integral, or spell `floor(a / b)` explicitly on both
  *     sides (caught live in q32: share_e4 off by one on three rows).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {
  def sql(name: String)(oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, oracle.stripMargin.trim)
}
