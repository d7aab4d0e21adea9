package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic building blocks.
  *
  * The driver's correctness gate compares our Spark results to DuckDB
  * running `SparkEntry.oracleSql` on the same parquet — hash-matched per
  * value. Two classes of nondeterminism would break that, so every query
  * in this library routes numeric and hash work through these helpers:
  *
  *   1. Floating-point sums: both engines sum doubles in parallel,
  *      arbitrary-order — results differ in the last ulps. We convert
  *      currency-like doubles to integer fixed-point per row (exact: the
  *      source values have <= 2-4 decimals), sum as BIGINT (exact,
  *      order-independent), and divide once at the end. The single final
  *      division is one IEEE op on identical operands → bit-identical.
  *
  *   2. Hash functions: Spark's `hash()` is Murmur3(seed=42), DuckDB's is
  *      different. MD5 is byte-identical everywhere, so portable integer
  *      hashes are "first 15 hex chars of md5 → 60-bit BIGINT"
  *      (15 hex = 60 bits, safely inside a signed 64-bit value).
  *      Spark: `conv(substr(md5(s),1,15),16,10)::long`;
  *      DuckDB: `CAST('0x'||substr(md5(s),1,15) AS BIGINT)`.
  *
  * At scale these stay fully codegen'd: `md5`/`conv`/`substring` are all
  * Catalyst expressions with `doGenCode`, so the hot path never leaves
  * WholeStageCodegen.
  */
object Portable {

  /** Exact fixed-point sum of a double column: sum(round(x*10^scale)) as
    * BIGINT, divided back to double. Order-independent, so identical in
    * Spark and DuckDB regardless of parallelism.
    */
  def exactSum(c: Column, scale: Int = 2): Column = {
    val f = math.pow(10, scale)
    (sum(round(c * f, 0).cast("long")) / lit(f)).cast("double")
  }

  /** Exact fixed-point average (sum trick / count). */
  def exactAvg(c: Column, scale: Int = 2): Column = {
    val f = math.pow(10, scale)
    (sum(round(c * f, 0).cast("long")) / lit(f) / count(c)).cast("double")
  }

  /** SQL for the matching DuckDB side of [[exactSum]]. */
  def exactSumSql(expr: String, scale: Int = 2): String = {
    val f = math.pow(10, scale).toLong
    s"CAST(sum(CAST(round(($expr) * $f) AS BIGINT)) / $f.0 AS DOUBLE)"
  }

  /** SQL for the matching DuckDB side of [[exactAvg]]. */
  def exactAvgSql(expr: String, scale: Int = 2): String = {
    val f = math.pow(10, scale).toLong
    s"CAST(sum(CAST(round(($expr) * $f) AS BIGINT)) / $f.0 / count($expr) AS DOUBLE)"
  }

  /** Portable 60-bit hash of a string column, identical in DuckDB via
    * `CAST('0x' || substr(md5(s),1,15) AS BIGINT)`. Seeded hash
    * FAMILIES (for MinHash) live in [[MinHash60]] as affine
    * permutations of this base hash — cheaper than salting the input
    * per seed, and fused into one pass there.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL twin of [[md5Hash60]]. */
  def md5Hash60Sql(expr: String): String =
    s"CAST('0x' || substr(md5($expr), 1, 15) AS BIGINT)"

  /** Backtick-quotes a raw column NAME for SQL-string interpolation —
    * the functions package's Column-API entry points resolve through
    * the parser, so a name needing backticks (spaces, dots, hyphens)
    * would otherwise break or silently resolve as a nested-field
    * path. Embedded backticks double per the SQL escaping rule, so
    * ANY name round-trips to the one flat attribute the caller
    * passed. */
  def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Arity-checked builder for the [[graft.Registry]] table: a
    * wrong-arity SQL call gets a descriptive analysis-time
    * IllegalArgumentException instead of a bare
    * IndexOutOfBoundsException escaping from `exprs(1)`. */
  def arity(name: String, n: Int)(
      build: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression =
    exprs =>
      if (exprs.length == n) build(exprs)
      else throw new IllegalArgumentException(
        s"$name requires exactly $n argument(s), got ${exprs.length}")
}
