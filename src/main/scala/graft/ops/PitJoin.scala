package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time-correct training-matrix builder — the one genuinely new
  * operator class a feature store adds over the reference's query surface
  * (SURVEY §7.5 phase 3; reference evidence: the `updated_at`-keyed feature
  * tables in sql/bigquery_schema.sql:19-25 plus the freshness-is-oldest-group
  * serving semantics in store.py:189-201). Given a labeled probe frame
  * (key, probeTs, …) and N timestamped fact tables, attach to each probe the
  * latest fact value per table with factTs <= probeTs — never a value from
  * the future, so a model trained on the matrix sees exactly what online
  * serving would have seen at each label's moment.
  *
  * HOW, and why not N AsOfJoins: chaining `AsOfJoin.asOf` once per fact
  * table pays, per table, a key-hashed shuffle of the (growing) probe frame,
  * a shuffle of the fact table, and a probe-keyed top-1 window — ~3N
  * exchanges. This builder instead UNIONS probes and all fact tables into
  * one per-key timeline and forward-fills each fact column with a running
  * `last(ignoreNulls)` window: ONE key-hashed exchange and ONE sort carry
  * ALL fact tables, the canonical Spark shape for multi-source PIT joins.
  * The window frame is running (rowsBetween unbounded-preceding → current),
  * so state per row is O(fact tables), spillable, never a per-key buffer.
  *
  * Ordering contract: rows sort by (ts, prio, tiebreak) where facts carry
  * prio 0 and probes prio 1 — a fact AT the probe's timestamp is visible
  * (the `<=` as-of convention), and among equal-timestamp facts of one
  * table the largest tiebreak wins (last in sort order), matching
  * AsOfJoin's `tiebreak.desc` top-1.
  *
  * Staleness band: like AsOfJoin's `maxLookback`, each fill carries the
  * timestamp of the fact it came from; a fill older than `lookback` at the
  * probe's ts is nulled. Forward-fill-then-null equals band-filtered as-of
  * top-1 exactly: the overall-latest fact within the band IS the
  * band-latest fact, and if the overall-latest is stale every older one is
  * too.
  *
  * Scale: the exchange hashes on `key` alone, so a hot key's timeline sorts
  * on one task — the same per-user-window exposure as sessionization
  * (StreamAnalogJobs.eventSessions); AQE skew-join handling does not apply
  * to windows, so a pathologically hot key needs the segmented scan
  * (fillBandedRanged, which trainingMatrixWide picks automatically).
  *
  * NULL fact values are treated as ABSENT (the fill skips them and an
  * older non-null value wins); callers with meaningful nulls must encode
  * them (PitJoinSpec pins this).
  */
object PitJoin {

  /** One timestamped fact table: `value` is the column to carry onto
    * probes; `ts` its event time; `tiebreak` a NUMERIC total-order column
    * for equal-ts rows (AsOfJoin's tiebreak contract). */
  case class Fact(df: DataFrame, key: String, ts: String,
                  tiebreak: String, value: String)

  /** A multi-column fact table — the reference's feature groups are
    * 11-field RECORDS (src/feature_store/models.py:20-63;
    * sql/postgresql_schema.sql:20-62), not scalars, and PIT attachment of
    * a record is RECORD-level: all of `values` come from the SAME latest
    * in-band fact row (a consistent snapshot of the group), which is NOT
    * the same as filling each column independently — a null field on the
    * latest record legitimately masks an older row's non-null value
    * (PitJoinSpec pins the difference). `lookback` is per-fact: the
    * reference gives each feature group its OWN freshness window (TTLs
    * differ by table in config/settings.py; serving takes the oldest
    * across groups, store.py:189-201). */
  case class WideFact(df: DataFrame, key: String, ts: String,
                      tiebreak: String, values: Seq[String],
                      lookback: Column)

  /** Forward-fill core over a pre-built timeline frame — exposed separately
    * so a caller whose probes and facts all derive from ONE source (e.g.
    * the events table roles) can build the timeline with conditional
    * projections of a single scan instead of a union of N re-scans
    * (jobs/TrainingSetJob does exactly that; the generic `trainingMatrix`
    * below feeds this same core).
    *
    * @param valueCols fact columns to fill; each must be null on rows it
    *                  does not apply to (probe rows, other tables' rows)
    * @param lookback  staleness band: a fill whose source-row ts is older
    *                  than `ts - lookback` becomes null
    */
  def fill(timeline: DataFrame, key: String, ts: String, prio: String,
           tb: String, valueCols: Seq[String], lookback: Column): DataFrame =
    fillBanded(timeline, Seq(key), ts, prio, tb,
      valueCols.map(_ -> lookback))

  /** The general fill: multiple partition keys and a PER-COLUMN staleness
    * band (per-fact freshness windows). All the last() expressions still share one
    * (partition, order) spec → a SINGLE WindowExec regardless of how many
    * columns or how many distinct bands ride it. */
  def fillBanded(timeline: DataFrame, keys: Seq[String], ts: String,
                 prio: String, tb: String,
                 bandedCols: Seq[(String, Column)]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts), col(prio), col(tb))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE select carrying every fill: all the last() expressions share one
    // (partition, order) spec, so the analyzer extracts them into a SINGLE
    // WindowExec — chained withColumn would interleave Projects between
    // Window nodes and defeat the collapse (pinned in ScaleShapeSpec)
    val valueCols = bandedCols.map(_._1)
    val others = timeline.columns.toSeq.filterNot(valueCols.contains)
    timeline.select(
      others.map(col) ++ bandedCols.map { case (v, lookback) =>
        when(
          last(when(col(v).isNotNull, col(ts)), ignoreNulls = true).over(w)
            >= col(ts) - lookback,
          last(col(v), ignoreNulls = true).over(w)).as(v)
      }: _*)
  }

  /** The generic N-table PIT join: unions probes and facts into a timeline
    * and forward-fills. Probe columns other than (key, probeTs) pass
    * through unchanged; each fact contributes one output column named by
    * its `value`.
    *
    * @param probeTb NUMERIC tiebreak on the probe frame (e.g. the probe
    *                id) — only for deterministic sort order; probes never
    *                fill anything
    */
  def trainingMatrix(probes: DataFrame, key: String, probeTs: String,
                     probeTb: String, facts: Seq[Fact],
                     lookback: Column): DataFrame = {
    val valueCols = facts.map(_.value)
    require(valueCols.distinct.size == valueCols.size,
      s"fact value columns must be distinct: $valueCols")
    val probeCarry = probes.columns.toSeq
      .filterNot(c => c == key || c == probeTs)
    val valueTypes = facts.map(f =>
      f.value -> f.df.schema(f.value).dataType).toMap

    def nullV(v: String): Column = lit(null).cast(valueTypes(v)).as(v)
    val probeSide = probes.select(
      col(key).as("__key") +: col(probeTs).as("__ts") +: lit(1).as("__prio") +:
        col(probeTb).cast("long").as("__tb") +:
        (valueCols.map(nullV) ++ probeCarry.map(col)): _*)
    val factSides = facts.map { f =>
      f.df.select(
        col(f.key).as("__key") +: col(f.ts).as("__ts") +: lit(0).as("__prio") +:
          col(f.tiebreak).cast("long").as("__tb") +:
          (valueCols.map(v => if (v == f.value) col(v) else nullV(v)) ++
            probeCarry.map(c => lit(null).cast(probes.schema(c).dataType).as(c))): _*)
    }
    val timeline = factSides.foldLeft(probeSide)(_.unionByName(_))
    fill(timeline, "__key", "__ts", "__prio", "__tb", valueCols, lookback)
      .filter(col("__prio") === 1)
      .select(col("__key").as(key) +: col("__ts").as(probeTs) +:
        (probeCarry.map(col) ++ valueCols.map(col)): _*)
  }

  /** The SEGMENTED-SCAN form of fillBanded — the hot-key fix that works
    * for ANY probe/fact mix (PERF.md r11 PIT table: probe-salting LOSES on
    * fact-heavy hot keys because every salt partition replicates all the
    * key's facts; this splits by TIME instead). The classic distributed
    * prefix-scan, three steps:
    *
    *   1. fill within (key, time-range) — the big window now partitions
    *      by (keys, floor(epoch(ts)/rangeSecs)), so a hot key's sort is
    *      bounded by one range's rows per task, with NO row replication;
    *   2. per-(key, range) boundary frame — each range's final fill value
    *      and its source-row ts, ranges-per-key rows (tiny);
    *   3. carry — a second window over the boundary frame alone
    *      (partitionBy key, orderBy range, frame ending at -1) forwards
    *      the latest earlier-range value; joined back on (key, range) as
    *      an explicit BROADCAST (the null-safe join keys Spark rewrites
    *      to coalesce/isnull pairs defeat big-side partitioning reuse),
    *      so the timeline is never re-exchanged. The carry must fit a
    *      broadcast — inherent to the hot-KEY premise; see the inline
    *      note at the join.
    *
    * A row's fill = its own range's running fill when one exists (always
    * at least as recent as any carry), else the carried value; the
    * staleness band applies to whichever source ts won. If the own-range
    * fill is stale the carry is staler — null either way, exactly
    * fillBanded's contract (PitJoinSpec pins ranged ≡ plain on boundary
    * ties, cross-range bands, and empty ranges; Round11InvariantSpec on
    * the real events frame).
    *
    * Cost: one big (keys, range)-hashed exchange (same bytes as
    * fillBanded's), one window + aggregate over it, and a small boundary
    * window — the price of hot-key immunity is the boundary join-back.
    * Pick rangeSecs so a busy key's rows-per-range fits a task
    * comfortably (e.g. a day for minute-grained facts). */
  def fillBandedRanged(timeline: DataFrame, keys: Seq[String], ts: String,
                       prio: String, tb: String,
                       bandedCols: Seq[(String, Column)],
                       rangeSecs: Long): DataFrame = {
    require(rangeSecs > 0, s"rangeSecs must be > 0: $rangeSecs")
    val valueCols = bandedCols.map(_._1)
    val others = timeline.columns.toSeq.filterNot(valueCols.contains)
    val tl = timeline.withColumn("__rng",
      floor(unix_timestamp(col(ts)) / rangeSecs).cast("long"))
    val rangeKeys = keys :+ "__rng"
    val w1 = Window.partitionBy(rangeKeys.map(col): _*)
      .orderBy(col(ts), col(prio), col(tb))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val step = tl.select(
      (others.map(col) :+ col("__rng")) ++ bandedCols.flatMap { case (v, _) =>
        Seq(
          last(col(v), ignoreNulls = true).over(w1).as(s"__f_$v"),
          last(when(col(v).isNotNull, col(ts)), ignoreNulls = true).over(w1)
            .as(s"__ft_$v"))
      }: _*)
    // each range's FINAL fill, PER COLUMN: max_by keyed on (__ft_v, ts,
    // prio, tb), not (ts, prio, tb) alone. Two fact rows from DIFFERENT
    // WideFact tables can legitimately share (key, ts, prio, tb) at the
    // end of a range (e.g. two feature groups keyed off the same upstream
    // event id); (ts, prio, tb) then ties and an arbitrary winner could
    // hold a running fill whose window frame EXCLUDED the other tied
    // row's column — dropping that column's value from the carry. The
    // plain fill is per-column robust to such ties (each column's
    // last(ignoreNulls) sees every row), so the boundary must be too:
    // prepending the fill's own source ts (__ft_v, null sorts lowest)
    // elects, per column, a row that has already absorbed the most recent
    // source for THAT column — deterministic whenever the plain fill is
    // (advisor finding, r11). Still runs on the window's own partitioning,
    // no new exchange.
    val bAggs = valueCols.map(v =>
      max_by(struct(col(s"__f_$v").as("v"), col(s"__ft_$v").as("t")),
        struct(col(s"__ft_$v"), col(ts), col(prio), col(tb))).as(s"__b_$v"))
    val boundary = step.groupBy(rangeKeys.map(col): _*)
      .agg(bAggs.head, bAggs.tail: _*)
    val w2 = Window.partitionBy(keys.map(col): _*).orderBy(col("__rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = boundary.select(
      rangeKeys.map(k => col(k).as(s"__k_$k")) ++ valueCols.map(v =>
        last(when(col(s"__b_$v").getField("v").isNotNull, col(s"__b_$v")),
          ignoreNulls = true).over(w2).as(s"__c_$v")): _*)
    // NULL-SAFE join back: Window.partitionBy groups null keys into one
    // partition, so fillBanded fills across null-key rows — a using-columns
    // equi-join (null != null) would silently drop their carry and diverge
    // from the plain fill's contract (code-review finding, r11).
    // BROADCAST, explicitly: Spark rewrites <=> join keys to
    // (coalesce(k), isnull(k)) pairs, which the big side's window
    // partitioning does NOT satisfy — a shuffled join here would
    // re-exchange the whole timeline (verified in the executed plan). The
    // carry frame is (hot keys × ranges) rows, small by the operator's
    // own premise (it exists for hot-KEY skew — few keys dominate); a
    // frame with so many (key, range) cells that the carry can't
    // broadcast doesn't have the hot-key problem and should use the
    // plain fill.
    val joinCond = rangeKeys.map(k => step(k) <=> carry(s"__k_$k"))
      .reduce(_ && _)
    step.join(broadcast(carry), joinCond, "left").select(
      others.map(col) ++ bandedCols.map { case (v, lookback) =>
        when(col(s"__ft_$v").isNotNull,
          when(col(s"__ft_$v") >= col(ts) - lookback, col(s"__f_$v")))
          .otherwise(when(col(s"__c_$v").getField("t") >= col(ts) - lookback,
            col(s"__c_$v").getField("v"))).as(v)
      }: _*)
  }

  /** The multi-column (record-level) PIT join over WideFacts: each fact
    * table rides the timeline as ONE struct column, so `last(struct,
    * ignoreNulls)` fills a consistent snapshot of the whole record — the
    * latest in-band fact ROW wins, and all its fields arrive together
    * (see WideFact's scaladoc for why that differs from per-column fill).
    * Still ONE key-hashed exchange + ONE WindowExec for all tables and
    * all bands; the structs are exploded back to flat columns on the way
    * out. Fact value names must be globally distinct.
    *
    * A hot key's timeline sorts on ONE task (the scaladoc above), so
    * `rangeSecs` picks the fill: the segmented scan (fillBandedRanged)
    * splits a hot key by time with no row replication. It beat probe
    * salting on both measured 95%-hot shapes (PERF.md r11 "Wide PIT
    * matrix and the salted window": 9.0 vs 15.0 s probe-heavy, 33.9 vs
    * 183.7 s fact-heavy), so salting is not offered. On uniform data the
    * plain fill wins, which is what the auto consult picks there. */
  /** Sentinel for `rangeSecs`: consult `recommendStrategy` automatically
    * (the default since r13 — VERDICT r12 next #4: the strategy was built
    * and pinned but nothing called it). Pass 0 to opt OUT (force the
    * plain single-window fill), or an explicit positive width to force
    * the segmented scan. */
  val AutoRange: Long = -1L

  // one keys-sized aggregate per DISTINCT (probes, facts, key, ts, target)
  // plan identity per JVM — the auto consult must not re-run its histogram
  // job on every matrix build over the same frames. The memo is a JVM-wide
  // map keyed by plan hash: it outlives the session and is dropped only by
  // clearStrategyCache(). Two consequences callers should know (review, r13):
  // (1) auto mode runs the histogram JOB at matrix-BUILD time, not first
  // action — building a plan purely for inspection pays one keys-sized
  // aggregate; pass rangeSecs explicitly to stay lazy; (2) the cache key
  // is the ANALYZED-plan identity, which does not see new files appended
  // under an already-read path — a long-lived session folding new data
  // under the same frames should clearStrategyCache() (or pass rangeSecs)
  // when the key distribution may have shifted.
  private val strategyCache =
    new java.util.concurrent.ConcurrentHashMap[String, Strategy]

  /** Drop every memoized auto-strategy decision (see cache notes above). */
  def clearStrategyCache(): Unit = strategyCache.clear()

  private def recommendCached(probes: DataFrame, key: String, probeTs: String,
                              facts: Seq[WideFact],
                              targetRowsPerTask: Long): Strategy = {
    // each fact's OWN key/ts column names ride the key alongside its plan
    // hash: recommendStrategy unions per-fact (f.key, f.ts) projections, so
    // two matrices over the SAME frames with different fact key/ts columns
    // are different histograms and must not share a memoized Strategy
    // (r13 ADVICE)
    val k = (probes.queryExecution.analyzed.semanticHash().toString +:
      facts.map(f =>
        s"${f.key}:${f.ts}:${f.df.queryExecution.analyzed.semanticHash()}"))
      .mkString(s"$key|$probeTs|$targetRowsPerTask|", ",", "")
    strategyCache.computeIfAbsent(k,
      _ => recommendStrategy(probes, key, probeTs, facts, targetRowsPerTask))
  }

  /** @param rangeSecs AutoRange (default) consults `recommendStrategy`
    *                   (cached per frame identity) and plans the
    *                   segmented scan exactly when the timeline's own key
    *                   histogram says a hot key would bottleneck the
    *                   single-window fill; 0 opts out (plain fill);
    *                   > 0 forces the segmented-scan form
    *                   (fillBandedRanged) — the hot-key strategy that
    *                   needs no row replication and works for fact-heavy
    *                   keys
    * @param autoTargetRowsPerTask threshold handed to recommendStrategy
    *                   in auto mode (ignored otherwise) */
  def trainingMatrixWide(probes: DataFrame, key: String, probeTs: String,
                         probeTb: String, facts: Seq[WideFact],
                         rangeSecs: Long = AutoRange,
                         autoTargetRowsPerTask: Long = 500000L): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(rangeSecs >= AutoRange,
      s"rangeSecs must be AutoRange (-1), 0 (plain) or positive: $rangeSecs")
    // auto-consult only when the caller hasn't chosen a strategy
    val resolvedRange =
      if (rangeSecs == AutoRange)
        recommendCached(probes, key, probeTs, facts,
          autoTargetRowsPerTask).rangeSecs
      else rangeSecs
    val allValues = facts.flatMap(_.values)
    require(allValues.distinct.size == allValues.size,
      s"fact value columns must be globally distinct: $allValues")
    val structCols = facts.indices.map(i => s"__s$i")
    val structTypes = facts.map(f => StructType(
      f.values.map(v => StructField(v, f.df.schema(v).dataType))))
    val probeCarry = probes.columns.toSeq
      .filterNot(c => c == key || c == probeTs)

    def nullS(i: Int): Column = lit(null).cast(structTypes(i)).as(structCols(i))
    val probeSide = probes.select(
      col(key).as("__key") +: col(probeTs).as("__ts") +: lit(1).as("__prio") +:
        col(probeTb).cast("long").as("__tb") +:
        (facts.indices.map(nullS) ++ probeCarry.map(col)): _*)
    val factSides = facts.zipWithIndex.map { case (f, i) =>
      f.df.select(
        col(f.key).as("__key") +: col(f.ts).as("__ts") +: lit(0).as("__prio") +:
          col(f.tiebreak).cast("long").as("__tb") +:
          (facts.indices.map(j =>
            if (j == i) struct(f.values.map(col): _*).as(structCols(i))
            else nullS(j)) ++
            probeCarry.map(c => lit(null).cast(probes.schema(c).dataType).as(c))): _*)
    }
    val timeline = factSides.foldLeft(probeSide)(_.unionByName(_))
    val bands = structCols.zip(facts.map(_.lookback))
    val filled =
      if (resolvedRange > 0)
        fillBandedRanged(timeline, Seq("__key"), "__ts", "__prio", "__tb",
          bands, resolvedRange)
      else fillBanded(timeline, Seq("__key"), "__ts", "__prio", "__tb", bands)
    filled
      .filter(col("__prio") === 1)
      .select(col("__key").as(key) +: col("__ts").as(probeTs) +:
        (probeCarry.map(col) ++ facts.zipWithIndex.flatMap { case (f, i) =>
          f.values.map(v => col(structCols(i)).getField(v).as(v))
        }): _*)
  }

  /** The fill strategy for one matrix build: `rangeSecs == 0` means the
    * plain single-window fill; > 0 means the segmented scan
    * (fillBandedRanged) with that range width. Pass `rangeSecs` straight
    * to `trainingMatrixWide`. */
  final case class Strategy(rangeSecs: Long) {
    def isRanged: Boolean = rangeSecs > 0
  }

  /** Auto-pick the hot-key strategy from the timeline's own key histogram
    * (VERDICT r11 next #5 — `rangeSecs` was a knob with measured
    * crossovers but no decision helper). ONE cheap aggregate decides:
    * per-key (count, ts span) with map-side partial aggregation, top-1 by
    * count — the histogram is keys-sized, never rows-sized.
    *
    * Decision rule, from the measured A/B (PERF.md r11 PIT table):
    * the segmented scan beats plain 4.4× on probe-heavy AND 3.3× on
    * fact-heavy 95%-hot frames — the probe/fact mix picks between
    * salting and ranged (salting loses fact-heavy), but NEVER between
    * plain and ranged, so the recommendation is mix-free: ranged iff the
    * hottest key's timeline exceeds what one task sorts comfortably
    * (`targetRowsPerTask`), else plain (both hot-key forms measurably
    * LOSE on uniform frames — carry join-back / replication overhead).
    * Salting is deliberately never recommended: ranged dominated it on
    * both measured hot shapes.
    *
    * `rangeSecs` then sizes ranges so the hottest key lands
    * ~count/targetRowsPerTask ranges across ITS OWN ts span (assumes
    * rows roughly uniform over the span — a key whose mass clumps into
    * one range degrades toward plain, never below it).
    *
    * The default threshold is deliberately conservative: a 500k-row
    * single-task sort is ~1 s — well under the measured 39 s/112 s
    * pathologies — while the uniform controls (≤ tens of thousands of
    * rows per key) stay far below it. Callers at 100 TB can pass a
    * SAMPLED timeline; counts scale linearly, so compare against
    * `targetRowsPerTask × fraction`. */
  def recommendStrategy(probes: DataFrame, key: String, probeTs: String,
                        facts: Seq[WideFact],
                        targetRowsPerTask: Long = 500000L): Strategy = {
    require(targetRowsPerTask > 0)
    val parts = probes.select(col(key).as("__k"),
        unix_timestamp(col(probeTs)).as("__t")) +:
      facts.map(f => f.df.select(col(f.key).as("__k"),
        unix_timestamp(col(f.ts)).as("__t")))
    val top = parts.reduce(_ unionByName _)
      .groupBy("__k")
      .agg(count(lit(1)).as("__n"), min(col("__t")).as("__lo"),
        max(col("__t")).as("__hi"))
      .orderBy(col("__n").desc, col("__k").asc_nulls_last)
      .limit(1).collect()
    // an all-null-ts hot key can't be range-split (no span) — the window
    // groups those rows regardless; fall back to plain rather than divide
    // by a fictitious span
    if (top.isEmpty || top(0).getLong(1) <= targetRowsPerTask ||
        top(0).isNullAt(2) || top(0).isNullAt(3)) Strategy(0L)
    else {
      val n = top(0).getLong(1)
      val span = math.max(1L, top(0).getLong(3) - top(0).getLong(2))
      val ranges = math.max(2L, n / targetRowsPerTask)
      Strategy(math.max(1L, span / ranges))
    }
  }
}
