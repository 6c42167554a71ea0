package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic data generator (S13 — scripts/seed_data.py:28-155's
  * 10k-users-with-weighted-segments generator, Spark-native): spark.range →
  * pure column expressions over rand(seed), no driver-side loops, no UDFs.
  * Deterministic for a fixed (seed, partition count). Test scope: the specs'
  * synthetic corpora (the testdata corpus itself is never regenerated).
  */
object DataGen {

  /** Weighted-choice ladder (seed_data.py:46-58's segment distribution):
    * premium 20% / regular 60% / new 20%. */
  def users(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame =
    spark.range(n)
      // bind the uniform draw ONCE: two rand(seed) expressions inside a
      // lazily-evaluated CASE are independent streams that desynchronize on
      // the non-first branches, skewing the ladder's probabilities
      .withColumn("__r", rand(seed))
      .select(
        col("id").as("user_id"),
        (lit(18) + pmod(col("id"), lit(60))).cast("int").as("age"),
        when(col("__r") < 0.2, "premium")
          .when(col("__r") < 0.8, "regular")
          .otherwise("new").as("segment"),
        (rand(seed + 1) < 0.85).as("account_verified"),
        expr("uuid()").as("registration_token")) // F16: uuid per row

  /** Synthetic near-dup corpus with KNOWN duplicate structure: documents
    * come in clusters of `clusterSize`, each member sharing all but one of
    * `tokens` md5-derived words with its cluster (distinct token at
    * position variant % tokens). Cluster count scales with `n` while
    * cluster SIZE stays fixed — the corpus shape under which a scale-safe
    * candidate generator must produce O(n) pairs (quadratic blowup shows
    * up immediately as O(n²/clusters)). Pure column expressions, fully
    * deterministic (md5, no rand), so counts are exactly reproducible. */
  def nearDupCorpus(spark: SparkSession, n: Long, clusterSize: Int = 5,
                    tokens: Int = 12): DataFrame = {
    val cl = floor(col("id") / clusterSize).cast("long").cast("string")
    val variant = pmod(col("id"), lit(clusterSize.toLong))
    val words = (0 until tokens).map { k =>
      when(pmod(variant, lit(tokens.toLong)) === k,
        substring(md5(concat(cl, lit(s"|$k|v"), variant.cast("string"))), 1, 8))
        .otherwise(substring(md5(concat(cl, lit(s"|$k"))), 1, 8))
    }
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", words: _*).as("text"))
  }

  /** Clustered embedding corpus, same shape as nearDupCorpus: per-cluster
    * base vector (md5-derived uniforms in [-0.5, 0.5]) plus a ±0.5%
    * per-member perturbation — members sit at cosine ≥ 0.99 of each other,
    * distinct clusters are near-orthogonal in 64-dim. */
  def clusteredVectors(spark: SparkSession, n: Long, clusterSize: Int = 5,
                       dim: Int = 64): DataFrame = {
    val cl = floor(col("id") / clusterSize).cast("long").cast("string")
    val variant = pmod(col("id"), lit(clusterSize.toLong)).cast("string")
    def u(key: Column) = // md5 hex → uniform in [-0.5, 0.5]
      conv(substring(md5(key), 1, 4), 16, 10).cast("double") / 65535.0 - 0.5
    val vec = transform(sequence(lit(1), lit(dim)), i =>
      u(concat(cl, lit("|"), i.cast("string"))) +
        u(concat(cl, lit("|"), variant, lit("|"), i.cast("string"))) * 0.01)
      .cast("array<float>")
    spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
  }

  /** Orders: ~perOrders per user, lognormal-ish amounts, weighted status
    * (seed_data.py:88-136). */
  def orders(spark: SparkSession, nUsers: Long, perUser: Int,
             seed: Long = 42L): DataFrame =
    spark.range(nUsers * perUser)
      .withColumn("__r", rand(seed + 2)) // single bound draw (see users)
      .select(
        col("id").as("order_id"),
        pmod(col("id"), lit(nUsers)).as("user_id"),
        round(exp(randn(seed) * 0.8 + 4.0), 2).as("amount"),
        when(col("__r") < 0.8, "completed")
          .when(col("__r") < 0.95, "pending")
          .otherwise("declined").as("status"),
        expr(s"timestampadd(SECOND, CAST(rand(${seed + 3}) * 86400 * 30 AS INT), " +
          "timestamp'2024-01-01 00:00:00')").as("created_at"))

  // ---- self-similar scaling tables (ScalingInvariantSpec's growth ladders) ----
  // md5-keyed, no rand(): every scale point draws from the identical
  // distribution, so a records ratio between rungs isolates data growth
  // from distribution shift.

  /** md5 hex → uniform [0, 1) keyed on (tag, id) — the shared
    * deterministic-randomness primitive of the scaling tables (one
    * definition, so the "identical distribution at every scale point"
    * claim can never silently diverge between tables). */
  private def u(tag: String): Column =
    conv(substring(md5(concat(lit(tag + "|"), col("id").cast("string"))),
      1, 8), 16, 10).cast("double") / 4.294967296e9

  /** Deterministic documents table: ~20-100 tokens per doc, every 5th token
    * a stopword, word identity keyed on (doc_id % 1000, position) so
    * documents share n-grams across the corpus (contamination and quality
    * signals have realistic structure at every scale). */
  def scalingDocs(spark: SparkSession, n: Long): DataFrame = {
    val len = (lit(20) + pmod(col("id"), lit(80))).cast("int")
    val words = transform(sequence(lit(0), len - 1), k =>
      when(pmod(k, lit(5)) === 0, lit("the"))
        .otherwise(substring(md5(concat(
          pmod(col("id"), lit(1000)).cast("string"), lit("|"),
          k.cast("string"))), 1, 6)))
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", words).as("text"),
      lit("en").as("lang"),
      concat(lit("src"), pmod(col("id"), lit(5)).cast("string")).as("source"),
      length(concat_ws(" ", words)).cast("long").as("n_chars"))
  }

  /** Deterministic TPC-H-shaped orders for the dq-monitor ladder (the dq
    * monitors and the percentile family read `orders`, not `documents`):
    * near-unique 2-dp lognormal totals (the hard case for the
    * count-by-value decomposition — the distinct-value frame grows ≈ rows,
    * exactly like real o_totalprice), TPC-H status weights, uniform dates
    * over 1995-1998 so the drift monitor's default 1998-07-01 split yields
    * ~87% reference / ~13% current mass. */
  def scalingOrders(spark: SparkSession, n: Long): DataFrame = {
    // Box-Muller normal from two independent uniforms (libm is fine here:
    // test-only data, never oracle-compared)
    val z = sqrt(lit(-2.0) * log(greatest(u("a"), lit(1e-9)))) *
      cos(lit(2.0 * math.Pi) * u("b"))
    spark.range(n).select(
      col("id").as("o_orderkey"),
      pmod(col("id"), lit(math.max(n / 10, 1L))).as("o_custkey"),
      when(u("s") < 0.49, "F").when(u("s") < 0.98, "O").otherwise("P")
        .as("o_orderstatus"),
      round(exp(z * 0.8 + 10.0), 2).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), (u("d") * 1460).cast("int"))
        .cast("timestamp").as("o_orderdate"))
  }

  /** Deterministic events table for the PIT/skew/funnel/cohort ladder —
    * the testdata shape (event_id, ts, user_id, event_type, value) with
    * realistic type weights and second-resolution timestamps over one
    * month. Users scale with the corpus (n/50 — ~50 events per user at
    * every rung, so per-user window work stays fixed while the user-hash
    * exchange and scan scale linearly: exactly the PIT shape's scaling
    * contract). */
  def scalingEvents(spark: SparkSession, n: Long): DataFrame = {
    val et = u("t")
    spark.range(n).select(
      col("id").as("event_id"),
      // 1704067200 = 2024-01-01T00:00:00Z; spread over 30 days
      timestamp_seconds(lit(1704067200L) +
        (u("s") * 2592000.0).cast("long")).as("ts"),
      pmod(col("id"), lit(math.max(n / 50, 1L))).as("user_id"),
      when(et < 0.40, "view").when(et < 0.65, "click")
        .when(et < 0.80, "purchase").when(et < 0.90, "error")
        .otherwise("login").as("event_type"),
      round(u("v") * 500.0, 2).as("value"),
      lit("{}").as("props"))
  }
}
