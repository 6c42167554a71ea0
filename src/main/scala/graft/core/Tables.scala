package graft.core

import java.time.{Duration, Instant, LocalDate}
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Canonical access to the test corpus tables (TESTDATA.md) and the
  * role-mapping from the reference's OLTP schema onto the star schema
  * (FIXTURES.md §C):
  *   customer → users, orders → orders/transactions, lineitem ⋈ orders →
  *   payments, events → user_logins / velocity_alerts / credit_reports /
  *   risk_scores, supplier/part → merchant dims, documents/embeddings →
  *   training-data corpus (additional tables beyond TESTDATA.md's listed
  *   set — they exist at every sf but TESTDATA.md only lists the 8
  *   star-schema tables).
  *
  * All readers take the sf directory explicitly; schemas are fixed by the
  * parquet footers (driver-generated, deterministic), so no inference
  * surprises. At 100 TB these reads become partitioned-table scans; the
  * single-file layout here is the local stand-in.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred-schema cache, keyed by absolute path (r17). A bare
    * `spark.read.parquet(path)` re-infers the schema on EVERY call — a
    * 1-task footer-read job of ~25–40 ms that runs during DataFrame
    * CONSTRUCTION, i.e. inside every timed bench run and once per table
    * per query (count_reconciliation paid six of them, ~half its wall).
    * A production deployment reads table schemas from a catalog
    * (metastore/manifest) and never re-infers per query; this cache is the
    * local stand-in for exactly that. Metadata only — data is re-read from
    * parquet on every action; the first load of each path still infers
    * from the real footers. Assumes a path's schema is stable within one
    * JVM (true for the driver-generated test dirs) and that every session
    * shares the footer-affecting configs (nanosAsLong — set by
    * Sessions.local, which the test session also uses).
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  /** events.parquet stores ts as TIMESTAMP(NANOS), which Spark's reader
    * rejects. Sessions set spark.sql.legacy.parquet.nanosAsLong=true, so the
    * column arrives as nano-epoch LongType and is truncated to microsecond
    * TimestampType here (sub-µs precision is below every window boundary and
    * tie-break the engine uses). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Schema-enforced JSONL ingest with corrupt-record quarantine — the
    * file-drop shape of the reference's JSON fixtures (S12) hardened for
    * production: the schema is DECLARED (no inference pass over 100 TB),
    * malformed lines land in a quarantine frame instead of silently
    * becoming all-null rows, and good rows arrive typed.
    *
    * The parsed frame is cached before the split: Spark refuses filters on
    * the internal corrupt-record column of a streaming-from-source plan
    * (SPARK-21610), and the two output frames would otherwise re-read and
    * re-parse the files once each. The cache is scoped to the ingest, not
    * the session: call `release()` once both frames are consumed (written
    * out / counted), or repeated ingests accumulate MEMORY_AND_DISK blocks
    * for the session lifetime. */
  final case class Ingest(valid: DataFrame, quarantine: DataFrame,
                          release: () => Unit)

  // One ingest contract, two formats: the corrupt-column add, the cached
  // split, and the release scoping are format-independent — `load` gets a
  // PERMISSIVE reader already carrying the corrupt-extended schema.
  private def ingestWith(spark: SparkSession,
                         schema: org.apache.spark.sql.types.StructType)
                        (load: org.apache.spark.sql.DataFrameReader => DataFrame): Ingest = {
    val parsed = load(spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record"))
      .cache()
    val valid = parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val quarantine = parsed.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    Ingest(valid, quarantine, () => parsed.unpersist(false))
  }

  def readJsonl(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): Ingest =
    ingestWith(spark, schema)(_.json(path))

  /** CSV flavor of the same ingest contract (header-less, declared schema,
    * PERMISSIVE + quarantine): rows whose cells fail to parse under the
    * declared types land in quarantine as the raw line instead of silently
    * nulling out. Same cache scoping as readJsonl — call `release()` once
    * both frames are consumed. */
  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): Ingest =
    ingestWith(spark, schema)(_.option("header", "false").csv(path))
}

/** Deterministic "as of" instants (SURVEY §7.4.4: jobs never call now();
  * every relative window — "last 30 days" — is anchored here, mirroring the
  * reference's CURRENT_DATE stamping, e.g. sql/transaction_features.sql:8).
  *
  * Three anchors because the corpus has three timelines:
  *   - orders:   o_orderdate spans 1995-01-01..2001-08-01 → anchor next day.
  *   - lineitem: l_shipdate spans ..2001-11-04, i.e. ~3 months PAST the
  *     orders anchor (shipments trail orders). Payment-delay windows over
  *     l_shipdate must anchor here, not at AsOf.orders, or the window
  *     silently treats late shipments as future data.
  *   - events:   ts spans 2024-01-01..2024-01-30 → anchor next day.
  */
object AsOf {
  val orders: Instant   = Instant.parse("2001-08-02T00:00:00Z")
  val lineitem: Instant = Instant.parse("2001-11-05T00:00:00Z")
  val events: Instant   = Instant.parse("2024-01-31T00:00:00Z")

  private val fmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** "yyyy-MM-dd HH:mm:ss" UTC rendering, shared by Spark lit()s and the
    * DuckDB oracle SQL so both engines see the identical literal. */
  def ts(i: Instant): String = fmt.format(i)

  /** Anchor shifted back by `days`, rendered for literals. */
  def minusDays(i: Instant, days: Long): String = ts(i.minus(Duration.ofDays(days)))

  /** LocalDate view of an anchor (for datediff-style arithmetic). */
  def date(i: Instant): LocalDate = i.atZone(ZoneOffset.UTC).toLocalDate
}
