package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable column ops mirroring the reference's SQL idioms (SURVEY §2.2/2.4):
  * conditional aggregates (`agg(x) FILTER (WHERE cond)`), NULLIF-guarded
  * ratios, Postgres DOW / night-hour predicates, DISTINCT ON, deterministic
  * MODE. Everything is a pure Column expression (no UDFs) so it stays inside
  * whole-stage codegen.
  */
object Ops {

  /** COUNT(*) FILTER (WHERE cond) — sql/transaction_features.sql:8. */
  def countIf(cond: Column): Column = count(when(cond, 1))

  /** COUNT(DISTINCT x) FILTER (WHERE cond) — sql/transaction_features.sql:17.
    * `when` without otherwise yields NULL, which countDistinct ignores. */
  def countDistinctIf(cond: Column, x: Column): Column = count_distinct(when(cond, x))

  /** SUM(amount) FILTER (WHERE cond) with exact decimal accumulation.
    * Money is DECIMAL in the reference DDL (sql/postgresql_schema.sql:26);
    * summing as decimal also makes the result order-independent — a plain
    * double sum is non-associative and varies with partitioning, which would
    * break both oracle comparison and run-to-run reproducibility at scale. */
  def sumMoney(cond: Column, amount: Column): Column =
    sum(when(cond, amount.cast("decimal(12,2)"))).cast("double")

  /** AVG(amount) FILTER (WHERE cond) computed as exact-sum / count, matching
    * the reference's AVG semantics but deterministically (see sumMoney). */
  def avgMoney(cond: Column, amount: Column): Column =
    sumMoney(cond, amount) / nullif(countIf(cond), lit(0))

  /** x::FLOAT / NULLIF(y, 0) — the reference's div-by-zero guard
    * (sql/transaction_features.sql:23-24). */
  def ratio(num: Column, den: Column): Column =
    num.cast("double") / nullif(den.cast("double"), lit(0.0))

  /** Cross-engine-exact HALF_UP rounding for non-negative doubles:
    * floor(x·10ⁿ + 0.5)/10ⁿ — plain IEEE ops every engine computes
    * identically. Spark's round() rounds the value's SHORTEST DECIMAL
    * representation (0.59825 stored as ...24999 still rounds UP) while
    * DuckDB rounds the binary value (DOWN) — a real divergence the oracle
    * gate caught on rational inputs. Never use builtin round() on a
    * computed double that feeds the oracle compare. */
  def rnd(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    floor(c * p + 0.5) / p
  }

  /** Postgres EXTRACT(DOW) ∈ (0,6) weekend test (Sunday=0, Saturday=6;
    * sql/transaction_features.sql:21). Spark dayofweek is Sunday=1..
    * Saturday=7 — SURVEY §7.4.2's mapping trap, translated here once. */
  def isWeekend(ts: Column): Column = dayofweek(ts).isin(1, 7)

  /** Night-hour predicate. The reference writes
    * `EXTRACT(HOUR FROM ts) BETWEEN 22 AND 6` (sql/transaction_features.sql:28),
    * which is vacuously false (h>=22 AND h<=6). `compat=true` replicates that
    * bug byte-for-byte; `compat=false` (default) implements the declared
    * intent h>=22 OR h<6 — SURVEY §7.4.1. */
  def isNight(ts: Column, compat: Boolean = false): Column =
    if (compat) hour(ts) >= 22 && hour(ts) <= 6
    else hour(ts) >= 22 || hour(ts) < 6

  /** Postgres `SELECT DISTINCT ON (key) ... ORDER BY key, ord...` — latest
    * row per key (sql/risk_features.sql:57-63). `ord` must be a total order
    * (add a unique tiebreaker column) for cross-engine determinism.
    * Scale note: a windowed row_number needs one shuffle on `key`; at 100 TB
    * prefer pre-bucketed input on the same key so the exchange is elided. */
  def topOnePerKey(df: DataFrame, key: Seq[Column], ord: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(key: _*).orderBy(ord: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** MODE() WITHIN GROUP (ORDER BY v) — sql/user_features.sql:11 — with a
    * deterministic tie-break (highest count, then smallest value), since
    * Postgres mode picks an arbitrary value among ties. Two-level aggregate:
    * count per (key, v), then argmax. Both shuffles hash on the same leading
    * key, so AQE/exchange-reuse keeps this cheap at scale. */
  def deterministicMode(df: DataFrame, key: String, v: String): DataFrame = {
    val counts = df.groupBy(col(key), col(v)).agg(count(lit(1)).as("__c"))
    topOnePerKey(counts, Seq(col(key)), Seq(col("__c").desc, col(v).asc))
      .select(col(key), col(v))
  }

  /** COALESCE to the DDL default — the signature post-left-join pattern
    * (sql/transaction_features.sql:53-60). */
  def orZero(c: Column): Column   = coalesce(c, lit(0L))
  def orZeroD(c: Column): Column  = coalesce(c, lit(0.0))

  /** UNION (deduplicating) of single-column key sets — SQL UNION semantics;
    * Spark union is UNION ALL, so distinct() is mandatory (SURVEY §7.4.9). */
  def unionDistinct(dfs: DataFrame*): DataFrame =
    dfs.reduce(_ unionByName _).distinct()
}
