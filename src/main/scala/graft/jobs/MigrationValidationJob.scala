package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Ops._

/** Migration-validation checks — spec sql/migration_queries.sql:8-137 and
  * src/pipelines/migration.py:287-319,480-525: duplicate-PK detection (A11),
  * orphaned-row anti-joins (J5), null-key scans (P4), scalar count
  * reconciliation (A17), and a deterministic sample comparison (J6).
  *
  * Scale: each check is an independent aggregate/anti-join; the anti-joins
  * hash on the FK and broadcast nothing (both sides are fact-sized), which
  * is the shape that survives 100 TB — a driver-side id diff would not.
  */
object MigrationValidationJob {

  /** Stacked named checks, one row per check (U2 union-all of counts —
    * sql/migration_queries.sql:8-45 stacks per-table results the same way).
    *
    * Scale shape (rewritten after the ×30→×60 rung audit): each fact
    * table is key-grouped ONCE, and each PAIR of grouped frames meets in
    * one FULL OUTER join from which every check over that pair reads as a
    * conditional aggregate of the SAME single pass —
    *
    *   custKeys ⟗ orderCust  → dup_user_pk (cust count > 1),
    *                           orphan_orders (order side present, cust
    *                           side absent — includes the null-custkey
    *                           group, which never joins),
    *                           null_user_orders (order side present with
    *                           a null key);
    *   orderKeys ⟗ lineGroups → dup_order_pk, multi_line_orders,
    *                           orphan_lineitems (same construction).
    *
    * The earlier form shared the grouped frames between a dup check and
    * an orphan probe and leaned on ReuseExchange to run each scan once —
    * the plan SHOWED one scan per table, but at runtime AQE re-executed
    * every shared subtree (each table scanned ~2×, each groupBy shuffled
    * 2×: input_records 45.45M at ×30 vs 22.95M of table
    * rows), and the ×30→×60 A/B measured ×2.7 shuffle records for ×2 rows
    * with the orphan probe's broadcast flipping to SMJ as the key set
    * outgrew the threshold. The full-outer form needs no reuse to be
    * minimal: both join sides are already hash-partitioned on their group
    * keys (= the join keys), so the join adds ZERO exchanges, nothing is
    * broadcast at any scale, and the six checks cost exactly four
    * key-grouped shuffles of (key, count) rows — never raw fact rows.
    * ScaleShapeSpec pins the scan counts; the runtime record economy is
    * PERF.md r12's "migration_checks: the reuse-dependent shape replaced
    * by full-outer single passes" table. */
  def checks(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val orders   = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)

    // PK-grouped frames filter null keys explicitly: PKs are NOT NULL by
    // the reference's DDL (postgresql_schema.sql), so this is semantics-
    // faithful; FK-grouped frames keep their null groups (the null-key
    // and orphan checks read them off the outer join's unmatched side)
    val custKeys = customer.filter(col("c_custkey").isNotNull)
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("cust_c"))
    val orderKeys = orders.filter(col("o_orderkey").isNotNull)
      .groupBy(col("o_orderkey")).agg(count(lit(1)).as("ord_c"))
    val lineGroups = lineitem.groupBy(col("l_orderkey")).agg(count(lit(1)).as("line_c"))
    val orderCust  = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("ocust_c"))

    // side-presence tests ride the count columns: count(1) is never null,
    // so a null cust_c/ocust_c/... means that side had no matching row
    val userChecks = custKeys
      .join(orderCust, col("c_custkey") === col("o_custkey"), "full_outer")
      .agg(
        countIf(col("cust_c") > 1).as("dup_user_pk"),
        coalesce(sum(when(col("ocust_c").isNotNull && col("c_custkey").isNull,
          col("ocust_c"))), lit(0L)).as("orphan_orders"),
        coalesce(sum(when(col("ocust_c").isNotNull && col("o_custkey").isNull,
          col("ocust_c"))), lit(0L)).as("null_user_orders"))

    val orderChecks = orderKeys
      .join(lineGroups, col("o_orderkey") === col("l_orderkey"), "full_outer")
      .agg(
        countIf(col("ord_c") > 1).as("dup_order_pk"),
        countIf(col("line_c") > 1).as("multi_line_orders"),
        coalesce(sum(when(col("line_c").isNotNull && col("o_orderkey").isNull,
          col("line_c"))), lit(0L)).as("orphan_lineitems"))

    // two 1-row aggregates → the six named rows (the cross join is the
    // sanctioned single-row-scaffold shape, same as A10's two-pass)
    userChecks.crossJoin(orderChecks)
      .select(explode(array(
        struct(lit("dup_user_pk").as("check_name"),
          col("dup_user_pk").as("violation_count")),
        struct(lit("dup_order_pk").as("check_name"),
          col("dup_order_pk").as("violation_count")),
        struct(lit("multi_line_orders").as("check_name"),
          col("multi_line_orders").as("violation_count")),
        struct(lit("orphan_orders").as("check_name"),
          col("orphan_orders").as("violation_count")),
        struct(lit("orphan_lineitems").as("check_name"),
          col("orphan_lineitems").as("violation_count")),
        struct(lit("null_user_orders").as("check_name"),
          col("null_user_orders").as("violation_count")))).as("__r"))
      .select(col("__r.check_name"), col("__r.violation_count"))
  }

  /** Scalar count reconciliation — one row, one count per table
    * (sql/migration_queries.sql:110-113,206-210's scalar subqueries). */
  def countReconciliation(spark: SparkSession, dir: String): DataFrame = {
    def c(name: String, table: String) =
      Tables.load(spark, dir, table).agg(count(lit(1)).as(name))
    c("users_count", "customer")
      .crossJoin(c("orders_count", "orders"))
      .crossJoin(c("payments_count", "lineitem"))
      .crossJoin(c("events_count", "events"))
      .crossJoin(c("documents_count", "documents"))
      .crossJoin(c("embeddings_count", "embeddings"))
  }

  /** Sample-based validation (sql/migration_queries.sql:117-137): a
    * deterministic pseudo-random user sample (custkey % 37 — the reference's
    * ORDER BY RANDOM() LIMIT is not cross-engine reproducible) inner-joined
    * to the user dimension, left-joined to order stats and the computed
    * user-features table, flagging feature presence. */
  def sampleCompare(spark: SparkSession, dir: String): DataFrame = {
    val sample = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 37 === 0)
      .select(col("c_custkey").as("user_id"))
    val users = graft.core.Roles.users(spark, dir)
    val stats = graft.core.Roles.transactions(spark, dir)
      .groupBy("user_id").agg(
        count(lit(1)).as("order_count"),
        sumMoney(lit(true), col("amount")).as("total_spend"))
    val uf = UserFeaturesJob(spark, dir)
      .select(col("user_id"), lit(true).as("has_user_features"))
    sample
      .join(users, Seq("user_id"))
      .join(stats, Seq("user_id"), "left")
      .join(uf, Seq("user_id"), "left")
      .select(
        col("user_id"),
        col("location_country"),
        orZero(col("order_count")).as("order_count"),
        orZeroD(col("total_spend")).as("total_spend"),
        coalesce(col("has_user_features"), lit(false)).as("has_user_features"))
  }

  /** Snapshot diff — what changed in a per-user feature table between two
    * as-of cutoffs (the audit a feature-store backfill or migration ships:
    * which users appeared, which drifted, by how much). Computed as two
    * time-pruned aggregations full-outer-joined on the key; with a
    * date-partitioned layout both scans prune to their date range, and the
    * join shuffles ONLY the two aggregated (users-sized, not orders-sized)
    * frames. 'removed' is impossible with append-only orders but the
    * branch is kept — a real migration diffs mutable tables. */
  def snapshotDiff(spark: SparkSession, dir: String,
                   cutOld: String, cutNew: String): DataFrame = {
    def snapshot(cut: String, pfx: String): DataFrame =
      Tables.orders(spark, dir)
        .filter(col("o_orderdate") < to_timestamp(lit(cut)))
        .groupBy(col("o_custkey").as("user_id"))
        .agg(count(lit(1)).as(s"${pfx}_orders"),
          sumMoney(lit(true), col("o_totalprice")).as(s"${pfx}_spend"))
    snapshot(cutOld, "old").join(snapshot(cutNew, "new"), Seq("user_id"), "full_outer")
      .select(
        col("user_id"),
        when(col("old_orders").isNull, "added")
          .when(col("new_orders").isNull, "removed")
          .when(col("old_orders") =!= col("new_orders")
            || col("old_spend") =!= col("new_spend"), "changed")
          .otherwise("unchanged").as("status"),
        orZero(col("old_orders")).as("old_orders"),
        orZero(col("new_orders")).as("new_orders"),
        orZeroD(col("old_spend")).as("old_spend"),
        orZeroD(col("new_spend")).as("new_spend"))
      .filter(col("status") =!= "unchanged")
  }
}
