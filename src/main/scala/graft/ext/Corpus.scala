package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators: deterministic stratified sampling and the
  * quality→dedup cleaning funnel — the composition layer a pretraining
  * pipeline runs over the per-document signals (TextAnalysis) and the dedup
  * family (Dedup).
  */
object Corpus {

  /** Deterministic per-row uniform in [0,1): Knuth multiplicative hash of
    * the id — pure 64-bit integer arithmetic, so ANY engine reproduces the
    * same sample (no reliance on engine-specific murmur/rand). Sequential
    * ids scatter uniformly; the constant is the golden-ratio multiplier.
    *
    * Overflow-safe for the full BIGINT id range: a naive `id * K` overflows
    * int64 for id ≳ 3.47e9 (ANSI mode throws; wraparound would diverge from
    * the oracle). The multiply runs on the low 32 bits split into 16-bit
    * halves, so every intermediate stays ≤ ~1.8e14 — identical values to
    * the naive form wherever it doesn't overflow. Mirrored term for term in
    * OracleSql.stratifiedSample. */
  def unitHash(id: Column): Column = {
    val K = 2654435761L
    val a = pmod(id, lit(4294967296L))          // low 32 bits of the id
    val h = floor(a / lit(65536)).cast("long")  // exact: a < 2^32, /2^16
    val l = a - h * lit(65536L)
    val mixed = pmod(h * lit(K), lit(65536L)) * lit(65536L) + l * lit(K)
    pmod(mixed, lit(4294967296L)).cast("double") / lit(4.294967296e9)
  }

  /** Stratified sampling with per-stratum rates (source-mixing: weight
    * corpora differently in the training mix). Hash-based, not rand():
    * deterministic under retries and partition relayout, and a row's
    * membership never changes when OTHER rows appear — the property that
    * makes incremental corpus refreshes reproducible. One narrow filter,
    * no shuffle, no sampleBy/collect. */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(col("source") === src, lit(r)).otherwise(acc)
    }
    docs.filter(unitHash(col("doc_id")) < rate)
      .select(col("doc_id"), col("source"), col("lang"))
  }

  /** Deterministic train/val/test assignment — hash-based on the same
    * unitHash the stratified sampler uses, so a document's split never
    * changes when other documents are added or the corpus is re-laid-out
    * (the reproducibility contract an eval/holdout split must keep: a
    * training doc can never migrate into the test set between corpus
    * refreshes). One narrow projection, no shuffle, no rand(). */
  def splitAssign(docs: DataFrame, trainFrac: Double = 0.8,
                  valFrac: Double = 0.1): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      "fractions must leave room for a test split")
    val u = unitHash(col("doc_id"))
    docs.select(col("doc_id"), col("source"),
      when(u < trainFrac, "train")
        .when(u < trainFrac + valFrac, "val")
        .otherwise("test").as("split"))
  }

  /** Near-duplicate leakage across train/val/test splits — the hygiene
    * audit a holdout split must pass: a near-dup pair straddling train and
    * test inflates eval scores silently (the model "generalizes" to text it
    * effectively memorized). Joins the verified near-dup pair table against
    * the split assignment on both endpoints and reports pair counts per
    * unordered split pair, `leaky` marking the cross-split mass. Composes
    * splitAssign (the assignment) with Dedup.verifiedPairTable (the edges) —
    * the check that makes contamination/train_split actionable together.
    *
    * Scale shape: the pair table is collision-bounded (LSH candidates →
    * Jaccard verify), orders of magnitude smaller than the corpus, so the
    * pair side BROADCASTS through both endpoint joins and the narrow split
    * projection streams once; nothing shuffles corpus-sized. Output is at
    * most split² rows. */
  def splitLeakage(pairs: DataFrame, splits: DataFrame): DataFrame = {
    val a = splits.select(col("doc_id").as("doc_a"), col("split").as("split_a"))
    val b = splits.select(col("doc_id").as("doc_b"), col("split").as("split_b"))
    broadcast(broadcast(pairs.select("doc_a", "doc_b")).join(a, Seq("doc_a")))
      .join(b, Seq("doc_b"))
      .select(least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"))
      .groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("pair_count"))
      .withColumn("leaky", col("split_lo") =!= col("split_hi"))
  }

  /** Deterministic shard assignment + balance manifest — the training-export
    * step that writes a fixed number of output shards: shard =
    * floor(unitHash(doc_id) · shards), stable under corpus relayout and
    * engine-independent (the samplers' Knuth hash; every arithmetic step is
    * exact in double, so any engine assigns identically). The production
    * writer is `df.repartition(shards, col("shard")).write`; this emits
    * the manifest a release audits — per-shard doc/token/char totals and
    * each shard's load factor vs the ideal uniform share.
    *
    * Scale shape: one narrow scan + one map-side-combinable groupBy on a
    * `shards`-sized key space; the grand total rides a 1-row broadcast. */
  def shardManifest(docs: DataFrame, shards: Int = 16): DataFrame = {
    val base = docs.select(
      floor(unitHash(col("doc_id")) * shards).cast("long").as("shard"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      col("n_chars"))
    val per = base.groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      sum(col("n_chars")).as("total_chars"))
    val tot = per.agg(sum(col("n_docs")).as("__all_docs"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("total_tokens"), col("total_chars"),
        graft.ops.Ops.rnd(
          col("n_docs").cast("double") * shards / col("__all_docs").cast("double"), 4)
          .as("load_factor"))
  }

  /** Distinct word n-grams of a token-array column; documents shorter than
    * `n` tokens degrade to the whole text (mirrors Dedup.shinglesOf, which
    * is the n=3 case). `toks` must be a materialized column — see
    * Dedup.shinglesOf on the inlined-split quadratic trap. */
  def ngramsOf(toks: Column, text: Column, n: Int): Column =
    // native one-pass kernel (plans/WordNgrams, r17) — elementwise identical
    // to the interpreted form it replaces:
    //   when(size(toks) >= n,
    //     array_distinct(transform(sequence(lit(0), size(toks) - n),
    //       i => concat_ws(" ", element_at(toks, i+1) .. element_at(toks, i+n)))))
    //     .otherwise(array(text))
    // (transform/sequence/concat_ws/array_distinct are lambda-interpreted
    // with an intermediate array per stage; measured ~0.37 s/corpus pass at
    // sf0.1 — WordNgramsSpec pins elementwise equality with the old tree)
    call_function("word_ngrams", toks, text, lit(n))

  /** Benchmark decontamination — the train/test-overlap scan every serious
    * pretraining corpus runs (the GPT-3 appendix-C / Pile release shape:
    * flag training docs sharing word n-grams with an evaluation set).
    * Emits (probe_id, doc_id, overlap_ngrams, overlap_frac) for corpus
    * docs whose distinct-n-gram overlap with a probe doc reaches `minFrac`
    * of the probe's grams.
    *
    * Scale shape: the PROBE side (the benchmark set) is small by
    * construction, so its exploded gram table broadcasts; the corpus gram
    * table streams through the broadcast hash join exactly once and the
    * per-(probe, doc) counts are map-side-combinable. The corpus is never
    * self-joined and nothing driver-side scales with corpus size. */
  def contamination(docs: DataFrame, probes: DataFrame, n: Int = 5,
                    minFrac: Double = 0.1): DataFrame = {
    def grams(df: DataFrame, idAs: String) =
      df.withColumn("__toks", split(col("text"), " "))
        .select(col("doc_id").as(idAs),
          explode(ngramsOf(col("__toks"), col("text"), n)).as("g"))
    val pg = grams(probes, "probe_id")
    val psize = pg.groupBy("probe_id").agg(count(lit(1)).as("probe_ngrams"))
    val overlaps = broadcast(pg).join(grams(docs, "doc_id"), Seq("g"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy("probe_id", "doc_id").agg(count(lit(1)).as("overlap_ngrams"))
    overlaps.join(broadcast(psize), Seq("probe_id"))
      .select(col("probe_id"), col("doc_id"), col("overlap_ngrams"),
        graft.ops.Ops.rnd(
          col("overlap_ngrams").cast("double") / col("probe_ngrams").cast("double"), 4)
          .as("overlap_frac"))
      .filter(col("overlap_frac") >= minFrac)
  }

  /** Sequence packing: map each document to its position in the fixed
    * token-budget training sequences a trainer actually consumes — the
    * GPT-style contiguous packing where the corpus is concatenated in
    * deterministic doc_id order and sliced into `budget`-token sequences
    * (documents may straddle a slice boundary; the emitted bin/offset is
    * where the document STARTS). Pure closed form over an exclusive
    * cumulative sum: bin = floor(prior_tokens / budget).
    *
    * Scale shape: packing is per `source` (training mixes pack within a
    * domain so a sequence never mixes corpora), and within a source the
    * exclusive cumsum runs as a two-phase distributed prefix sum — the
    * standard parallel scan — instead of one sequential window task per
    * source (which stalls on a single core when one source is 80% of the
    * corpus):
    *   1. chunk each source into contiguous doc_id ranges
    *      (`floor(doc_id / 2^16)`) and aggregate per-chunk token subtotals
    *      — a table ~2^16× smaller than the corpus;
    *   2. exclusive-cumsum the SUBTOTALS per source (the only sequential
    *      step, over ~n/2^16 three-column rows, not n wide rows);
    *   3. join the chunk offsets back and finish with a partition-local
    *      running sum windowed by (source, chunk) — parallelism is the
    *      chunk count, not the source count. The join and the window
    *      share the (source, chunk) hash partitioning, so phase 3 is a
    *      single shuffle.
    * Long sums are associative, so the output is byte-identical to the
    * single-window form. Token counts are whitespace tokens
    * (tokenCounts' corpus-accounting flavor). */
  def packSequences(docs: DataFrame, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunk = floor(col("doc_id") / lit(65536L)).cast("long")
    val base = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("__chunk", chunk)
    val wChunks = Window.partitionBy("source").orderBy("__chunk")
    val offsets = base.groupBy("source", "__chunk")
      .agg(sum(col("n_tokens")).as("__chunk_tokens"))
      .withColumn("__chunk_offset",
        coalesce(sum(col("__chunk_tokens"))
          .over(wChunks.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "__chunk", "__chunk_offset")
    val wLocal = Window.partitionBy("source", "__chunk").orderBy("doc_id")
    base.join(offsets, Seq("source", "__chunk"))
      .withColumn("prior_tokens",
        col("__chunk_offset") +
          coalesce(sum(col("n_tokens"))
            .over(wLocal.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("prior_tokens") / budget).cast("long").as("bin"),
        (col("prior_tokens") % budget).cast("long").as("bin_offset"))
  }

  /** Token-budget mixture sampling — the "data mixing" step of a training
    * run: each source contributes documents until its token budget is
    * filled (the per-source weighting a LLaMA/Pile-style mix specifies in
    * tokens, not document counts). Documents are consumed in unitHash
    * order — a deterministic, engine-independent shuffle — so the sample
    * is reproducible under retries and unchanged when other sources grow.
    * Emits the selected docs with their exclusive running token count
    * (`prior_tokens` < budget is the membership rule).
    *
    * Scale shape: the same two-phase distributed prefix sum as
    * packSequences, but chunked on hash ranges (floor(h·64)) since the
    * consumption order is the hash order: per-chunk subtotals cumsum on a
    * 64-row-per-source table, then a chunk-local running sum — parallelism
    * is sources×64, not sources. The budget filter is applied post-sum, so
    * a skewed giant source never serializes on one core. */
  def mixtureSample(docs: DataFrame, budgets: Map[String, Long],
                    defaultBudget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("__h", unitHash(col("doc_id")))
      .withColumn("__chunk", floor(col("__h") * 64).cast("long"))
    val wChunks = Window.partitionBy("source").orderBy("__chunk")
    val offsets = base.groupBy("source", "__chunk")
      .agg(sum(col("n_tokens")).as("__chunk_tokens"))
      .withColumn("__chunk_offset",
        coalesce(sum(col("__chunk_tokens"))
          .over(wChunks.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "__chunk", "__chunk_offset")
    val wLocal = Window.partitionBy("source", "__chunk")
      .orderBy(col("__h"), col("doc_id"))
    val budget = budgets.foldLeft(lit(defaultBudget)) { case (acc, (s, b)) =>
      when(col("source") === s, lit(b)).otherwise(acc)
    }
    base.join(offsets, Seq("source", "__chunk"))
      .withColumn("prior_tokens",
        col("__chunk_offset") +
          coalesce(sum(col("n_tokens"))
            .over(wLocal.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("prior_tokens") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("prior_tokens"))
  }

  /** Per-source document quota — the anti-domination cap a web-corpus mix
    * applies so one giant crawl can't drown the blend (the doc-count twin of
    * mixtureSample's token budgets). Documents are admitted in unitHash
    * order — deterministic, engine-independent, and stable when OTHER
    * sources grow — and `prior_docs` (how many of the source's docs precede
    * this one in that order) < cap is the membership rule, so the survivor
    * set is reproducible under retries and incremental refreshes.
    *
    * Scale shape: the same two-phase distributed prefix as mixtureSample —
    * per-(source, hash-chunk) counts cumsum on a 64-row-per-source frame,
    * then a chunk-local row_number — so a skewed giant source ranks on
    * 64-way parallelism, never one core. A plain
    * `row_number() OVER (PARTITION BY source)` would serialize the hot
    * source through a single partition; this shape is why it doesn't. */
  def sourceQuota(docs: DataFrame, caps: Map[String, Long],
                  defaultCap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("source"))
      .withColumn("__h", unitHash(col("doc_id")))
      .withColumn("__chunk", floor(col("__h") * 64).cast("long"))
    val wChunks = Window.partitionBy("source").orderBy("__chunk")
    val offsets = base.groupBy("source", "__chunk")
      .agg(count(lit(1)).as("__chunk_docs"))
      .withColumn("__chunk_offset",
        coalesce(sum(col("__chunk_docs"))
          .over(wChunks.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "__chunk", "__chunk_offset")
    val wLocal = Window.partitionBy("source", "__chunk")
      .orderBy(col("__h"), col("doc_id"))
    val cap = caps.foldLeft(lit(defaultCap)) { case (acc, (s, c)) =>
      when(col("source") === s, lit(c)).otherwise(acc)
    }
    base.join(offsets, Seq("source", "__chunk"))
      .withColumn("prior_docs",
        col("__chunk_offset") + row_number().over(wLocal).cast("long") - 1L)
      .filter(col("prior_docs") < cap)
      .select(col("doc_id"), col("source"), col("prior_docs"))
  }

  /** Deterministic per-group k-sample — the distributed reservoir: k docs
    * per source drawn in unitHash order (stable under retries and partition
    * relayout; a doc's membership changes only when a hash-earlier doc
    * appears in ITS source — the property that keeps per-source eval
    * samples reproducible across corpus refreshes). Scale shape: Catalyst's
    * InferWindowGroupLimit rewrites the rank-filter into a map-side
    * per-group top-k (a Partial WindowGroupLimit BEFORE the exchange), so
    * each input partition ships at most k rows per group and the hot-source
    * final sort sees ≤ k·partitions rows — not the full group that a naive
    * rank window would serialize through one task. Pinned in
    * ScaleShapeSpec. */
  def groupSample(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("__h"), col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("__h", unitHash(col("doc_id")))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .select("doc_id", "source", "sample_rank")
  }

  /** Multi-level corpus accounting via ROLLUP — per-(source, lang) token
    * totals with source subtotals and a grand total in one pass (the OLAP
    * grouping-sets shape; rolled-up levels render as 'ALL' so the output is
    * a plain table, not null-punned). Rollup expands each input row into its
    * grouping-set combinations BEFORE the shuffle, so the aggregate stays
    * map-side combinable — one shuffle regardless of how many levels. */
  def sourceRollup(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        graft.ops.Ops.rnd(
          sum(col("n_tokens")).cast("double") / count(lit(1)).cast("double"), 4)
          .as("avg_tokens"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("total_tokens"), col("avg_tokens"))

  /** Token-weighted systematic sample — weighted sampling WITHOUT
    * transcendentals: the Efraimidis–Spirakis exponential-key scheme needs
    * pow/log, whose libm rounding differs across engines; systematic
    * sampling over the cumulative weight axis is the particle-filter
    * alternative that stays in EXACT integer arithmetic (deterministic on
    * any engine). Documents are consumed in unitHash order (the
    * deterministic corpus shuffle); doc with cumulative token span
    * [lo, hi) is picked iff the span contains a sampling point — i.e.
    * floor(hi·k/W) > floor(lo·k/W) — and a doc longer than W/k wins
    * `n_picks` > 1 slots, exactly its weight share. Exact while W·k < 2⁶³
    * (≈9·10¹⁸: a quadrillion tokens at k=100 — beyond any physical corpus).
    *
    * Scale shape: the same two-phase chunked prefix sum as mixtureSample
    * (64 hash-range chunks; the only sequential step is a 64-row cumsum).
    * The corpus is tokenize-counted and chunk-repartitioned; the
    * chunk-offsets aggregate, the local prefix window and the grand total
    * (an unordered frame on the 64-row offsets pass — no 1-row crossJoin)
    * all read that one exchange. The round-9 form let three consumers
    * each re-scan AND re-tokenize the text column (task-metric audit,
    * round 10); this form measures TWO physical scans — AQE re-executes
    * the repartitioned subtree for the offsets branch because that branch
    * carries its own internal cumsum exchange (every sharing topology was
    * probed: broadcast/shuffle-hash/merge join, repartition(1),
    * spine-first — all floor at 2; ScanAuditSpec pins it so a regression
    * to 3 or an upstream Spark fix to 1 both surface). */
  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    // tokenize once; everything after the repartition carries only
    // (doc_id, source, n_tokens, __h, __chunk) — never the text
    val base = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    systematicPicks(base, "n_tokens", k)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("n_picks"))
  }

  /** The chunked two-phase systematic span sampler behind weightedSample
    * and dsirResample: deterministic unit-hash admission order, exact
    * integer pick spans ((lo+w)·k DIV total − lo·k DIV total), prefix sums
    * decomposed per 64-way hash chunk so no global sort or rank window
    * ever sees the full frame. `base` must carry doc_id + `weightCol`;
    * other columns ride along. Rows with zero weight can never be picked
    * and are filtered with the rest of the n_picks = 0 mass. */
  private def systematicPicks(base0: DataFrame, weightCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = base0
      .withColumn("__h", unitHash(col("doc_id")))
      .withColumn("__chunk", floor(col("__h") * 64).cast("long"))
      .repartition(col("__chunk"))
    val offsets = base.groupBy("__chunk")
      .agg(sum(col(weightCol)).as("__chunk_tokens"))
      .withColumn("__chunk_offset",
        coalesce(sum(col("__chunk_tokens"))
          .over(Window.orderBy("__chunk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__w_total",
        sum(col("__chunk_tokens")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("__chunk", "__chunk_offset", "__w_total")
    val wLocal = Window.partitionBy("__chunk").orderBy(col("__h"), col("doc_id"))
    base.join(broadcast(offsets), Seq("__chunk"))
      .withColumn("__lo",
        col("__chunk_offset") + coalesce(sum(col(weightCol))
          .over(wLocal.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_picks",
        expr(s"((__lo + $weightCol) * $k) DIV __w_total - (__lo * $k) DIV __w_total"))
      .filter(col("n_picks") > 0)
      .drop("__h", "__chunk", "__chunk_offset", "__w_total", "__lo")
  }

  /** The resampling half of DSIR: systematic sampling ∝ importance weight
    * over the `dsirWeights` output (the paper resamples k documents with
    * probability proportional to the importance ratio; the systematic
    * sampler is this codebase's deterministic, engine-portable stand-in
    * for Gumbel draws — same machinery as weightedSample). The score is
    * quantized to an integer weight at its own 4-decimal rounding grid
    * (floor(score·10⁴ + 0.5) — exact: the score is already a 4-decimal
    * value, the +0.5/floor just undoes its FP representation error), so
    * span arithmetic stays in exact BIGINT. Anti-target docs with a
    * rounded score of 0 get weight 0 and can never be picked.
    *
    * Takes the weights frame rather than recomputing it: a production
    * pipeline materializes weights once and resamples many times (and the
    * sampler references its input twice — offsets + picks — which would
    * double the weight computation's corpus scans inline). */
  def dsirResample(weights: DataFrame, k: Int): DataFrame = {
    val w = weights
      .withColumn("w_int",
        floor(col("dsir_score") * 10000.0 + 0.5).cast("long"))
      .select(col("doc_id"), col("dsir_score"), col("w_int"))
    systematicPicks(w, "w_int", k)
  }

  /** Session-cached DSIR weights over the standard target (English docs) —
    * the materialize-once artifact both the weights query and the
    * resampler consume (see dsirResample's scaladoc). */
  def dsirWeightsCached(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, "dsir_weights")(
      dsirWeights(graft.core.Tables.documents(spark, dir), col("lang") === "en"))

  /** Quantile normalization — map each value to its mid-rank corpus
    * quantile in [0, 1], the rank-based feature scaling that makes a
    * heavy-tailed signal (doc length, scores) usable as a model feature
    * without fitting a distribution. Ties share one quantile (the
    * mid-rank of the value's whole position range), so the output is a
    * pure function of the VALUE — deterministic under any row order and
    * identical on any engine (exact integer rank arithmetic, one shared
    * division): q = (lo + hi − 1) / (2·(n − 1)), the single-row corpus
    * pinned at 0.5.
    *
    * Scale shape: count-by-value collapse (map-side combinable), one
    * spillable cumsum window over the distinct-value frame, then ONE
    * value-keyed equi-join back to the corpus — never a rank window over
    * all rows. */
  def quantileNormalize(docs: DataFrame, valueCol: String = "n_chars"): DataFrame = {
    val cnt = graft.ops.BoundedPercentile.countByValue(
      docs.select(lit("ALL").as("__g"), col(valueCol)), "__g", valueCol)
    // group total as an unordered frame over the cumsum's own partitioning
    // (r17; the exactFromCounts r10 idiom) — the totals aggregate +
    // broadcast-join-back branch and its serial stages are deleted; same
    // long sums, bit-identical quantiles
    val cum = graft.ops.BoundedPercentile.cumulated(cnt, "__g")
      .withColumn("__n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__g")))
    val q = cum
      .select(col("__v"),
        when(col("__n") > 1,
          (col("__lo") + col("__hi") - lit(1L)).cast("double")
            / (lit(2.0) * (col("__n") - lit(1L)).cast("double")))
          .otherwise(lit(0.5)).as("__q"))
    docs.select(col("doc_id"), col(valueCol).cast("double").as("__v"))
      .join(q, Seq("__v"))
      .select(col("doc_id"), col("__v").as(valueCol),
        graft.ops.Ops.rnd(col("__q"), 6).as("quantile"))
  }

  /** Vocabulary growth curve (Heaps' law) — distinct-token count as a
    * function of corpus prefix size, the measurement behind tokenizer
    * sizing and "is more data still adding vocabulary" curation calls.
    * The corpus order is doc_id (ingestion order); each doc's 0-based
    * position assigns it to one of `buckets` equal prefixes (exact
    * integer `(p·B) DIV N`), each token counts once at the bucket of its
    * FIRST appearance, and the running sum over the ≤B-row bucket table
    * is the vocabulary size after each prefix.
    *
    * Scale shape: doc positions come from the chunked two-phase prefix
    * COUNT (packSequences' idiom with weight 1 — no global row_number);
    * the token pass is one explode + a combinable min-aggregate keyed by
    * token; the cumsum window sees ≤B rows. */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("text"))
      .withColumn("__chunk", floor(col("doc_id") / lit(65536L)).cast("long"))
    val offsets = base.groupBy("__chunk")
      .agg(count(lit(1)).as("__chunk_docs"))
      .withColumn("__chunk_offset",
        coalesce(sum(col("__chunk_docs"))
          .over(Window.orderBy("__chunk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__chunk", "__chunk_offset")
    val wLocal = Window.partitionBy("__chunk").orderBy("doc_id")
    val tot = base.agg(count(lit(1)).as("__n_docs"))
    val positioned = base.join(offsets, Seq("__chunk"))
      .withColumn("__p",
        col("__chunk_offset") + coalesce(count(lit(1))
          .over(wLocal.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"CAST((__p * $buckets) DIV __n_docs AS INT)"))
    positioned
      .select(col("bucket"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(min(col("bucket")).as("first_bucket"))
      .groupBy(col("first_bucket").as("bucket"))
      .agg(count(lit(1)).as("new_tokens"))
      .withColumn("cum_vocab",
        sum(col("new_tokens")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Full grouping-lattice corpus accounting via CUBE — the rollup's
    * superset: per-(source, lang) cells PLUS source subtotals, lang
    * subtotals (the level ROLLUP cannot produce), and the grand total, one
    * pass. `lvl` disambiguates which dims are aggregated (0 = leaf cell,
    * 1 = lang rolled up, 2 = source rolled up, 3 = grand total) — the
    * standard GROUPING_ID encoding, kept as a plain INT so the output is
    * engine-portable. Like rollup, cube expands each row into its grouping
    * sets BEFORE the shuffle, so the aggregate is map-side combinable: one
    * shuffle for the whole lattice regardless of dimension count. */
  def sourceCube(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .cube("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        (grouping(col("source")) * lit(2) + grouping(col("lang")))
          .cast("int").as("lvl"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("lvl"), col("n_docs"), col("total_tokens"))

  /** Fixed-size overlapping token chunking — the producer-side op that
    * turns documents into model-input windows (RAG indexing / long-doc
    * training): window `chunk` tokens, step `stride` (< chunk ⇒ adjacent
    * windows overlap by chunk−stride tokens, so no boundary-straddling
    * content is lost). One window starts at every multiple of `stride`
    * below the doc length; trailing windows shorten at the end of the doc.
    * Emits the window's md5 fingerprint, never its text — accounting and
    * dedup downstream ship 32-hex keys, not bodies.
    *
    * Scale shape: a pure per-row explode (fan-out ≈ n/stride), map-only —
    * no shuffle, no state; the projection pushes to the scan. */
  def chunkWindows(docs: DataFrame, chunk: Int = 64, stride: Int = 48): DataFrame = {
    require(chunk >= 1 && stride >= 1 && stride <= chunk,
      "need 1 <= stride <= chunk")
    // native strided hex windows (plans/SpanHashes FmtHex, r17): the window
    // count ceil(n/stride) equals the old sequence(0, floor((n-1)/stride))
    // for every n >= 1 (split never yields an empty array), the start
    // column is chunk_idx*stride (was computed inside the struct lambda),
    // and each hex fp is md5Hex over the identical concat_ws bytes —
    // byte-equal to the old interpreted tree (SpanHashesSpec). CLAMPED is
    // passed explicitly: this caller clamps tails at EVERY stride, where
    // the kernel's omitted-arg default reads stride 1 as the sliding form
    // (the substring/bigram semantics — a session-3 fix; the stride-1
    // corner is pinned in AnalyticsOpsSpec and SpanHashesSpec)
    docs.withColumn("__toks", split(col("text"), " "))
      .withColumn("__n", size(col("__toks")))
      .select(col("doc_id"), col("__n"),
        posexplode(call_function("span_hashes",
          col("__toks"), lit(chunk), lit(stride),
          lit(graft.plans.SpanHashes.FmtHex),
          lit(graft.plans.SpanHashes.Clamped))))
      .toDF("doc_id", "__n", "chunk_idx", "fp")
      .withColumn("c", struct((col("chunk_idx") * stride).as("s"), col("fp")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.s").cast("long").as("chunk_start"),
        least(lit(chunk), col("__n") - col("c.s")).cast("long").as("n_tokens"),
        col("c.fp").as("chunk_fp"))
  }

  /** DSIR-style importance weights — hashed-n-gram importance sampling for
    * data selection (Xie et al. 2023, "Data Selection for Language Models
    * via Importance Resampling"): estimate a target-domain and a raw-corpus
    * distribution over HASHED bigram features, then score every document by
    * how much more target-like than raw-like its features are. The paper's
    * per-document log-likelihood ratio Σ log(p_t(b)/p_r(b)) is replaced by
    * the RATIONAL mass-ratio surrogate
    *
    *   score = [Σ cnt·(t(b)+1)] · (r_tot+B) / ([Σ cnt·(r(b)+1)] · (t_tot+B))
    *
    * — add-one-smoothed expected target mass over expected raw mass, the
    * same libm-free substitution this codebase makes for log-idf (tfidf)
    * and pow (mixtureWeights): logs are transcendentals whose last ulp
    * differs across engines, while the surrogate is two exact BIGINT sums
    * and one fixed-shape double expression (every multiply/divide correctly
    * rounded, association order pinned by the expression tree). score ≈ 1
    * reads "as target-like as the average raw bigram"; resampling keeps
    * the high-score tail.
    *
    * Features are B=256 buckets from the first two hex nibbles of
    * md5(bigram) — engine-portable (no murmur), collision-folding exactly
    * like the paper's hashed generative model. Raw occurrences (NOT
    * distinct grams) are counted, per the paper's bag-of-ngrams model.
    * Documents under 2 tokens have no feature and are omitted.
    *
    * Scale shape: one (doc, bucket) combinable groupBy bounds the shuffle
    * at 256 rows/doc regardless of document length; the global bucket
    * table (≤256 rows) and the 1-row totals ride broadcasts; the final
    * per-doc rollup is the only other exchange. The feature frame feeds
    * both the global estimate and the scoring join — the same 2-scan
    * budget as the sibling two-phase selectors (pinned in ScanAuditSpec);
    * a production pipeline materializes the (doc, bucket) table once. */
  def dsirWeights(docs: DataFrame, isTarget: Column): DataFrame = {
    val B = 256
    // hex nibble value without conv()/parsing: md5 hex is lowercase in
    // both engines, so digit/letter split at '9' covers the alphabet
    def hexv(c: Column): Column =
      when(c <= "9", ascii(c) - 48).otherwise(ascii(c) - 87)
    val bg = docs
      .withColumn("__toks", split(col("text"), " "))
      .filter(size(col("__toks")) >= 2)
      .select(col("doc_id"), isTarget.as("is_target"),
        // native sliding k=2 window strings (plans/SpanHashes FmtStr, r17)
        // — byte-equal to transform(sequence(0, n-2),
        //   i -> concat_ws(" ", __toks[i+1], __toks[i+2]))
        explode(call_function("span_hashes", col("__toks"), lit(2), lit(1),
          lit(graft.plans.SpanHashes.FmtStr), lit(graft.plans.SpanHashes.Sliding)))
          .as("bigram"))
      .withColumn("__h", md5(col("bigram")))
      .select(col("doc_id"), col("is_target"),
        (hexv(substring(col("__h"), 1, 1)) * 16 +
          hexv(substring(col("__h"), 2, 1))).as("bucket"))
    val perDoc = bg.groupBy("doc_id", "is_target", "bucket")
      .agg(count(lit(1)).as("cnt"))
    // totals ride the ≤256-row bucket table as a whole-frame window (a
    // single-partition sort of 256 rows) — a separate .agg would re-execute
    // the corpus lineage a third time (the A10/ReusedExchange lesson)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val global = perDoc.groupBy("bucket").agg(
      sum(col("cnt")).as("r_cnt"),
      sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("t_cnt"))
      .withColumn("r_tot", sum(col("r_cnt")).over(wAll))
      .withColumn("t_tot", sum(col("t_cnt")).over(wAll))
    perDoc.join(broadcast(global), Seq("bucket"))
      .groupBy("doc_id", "is_target", "r_tot", "t_tot")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * (col("t_cnt") + 1L)).as("t_mass"),
        sum(col("cnt") * (col("r_cnt") + 1L)).as("r_mass"))
      .select(col("doc_id"), col("is_target"), col("n_bigrams"),
        col("t_mass"), col("r_mass"),
        graft.ops.Ops.rnd(
          (col("t_mass").cast("double") * (col("r_tot") + B).cast("double")) /
            (col("r_mass").cast("double") * (col("t_tot") + B).cast("double")),
          4).as("dsir_score"))
  }

  /** Temperature-smoothed source mixture weights — the multilingual-
    * pretraining reweighting (the mBERT/XLM exponent trick): sampling a
    * source ∝ tokens^α with α < 1 upweights small sources so the head
    * doesn't drown the tail. α is fixed at 1/2 because sqrt is an IEEE
    * correctly-rounded primitive — bit-identical on every engine — while
    * pow(x, 0.7) is a libm transcendental whose last ulp varies (the same
    * reasoning as tfidf's rational idf). Emits natural vs smoothed share
    * and the resulting boost per source.
    *
    * Determinism: the smoothed denominator Σ√tokens is a DECIMAL sum of
    * per-source sqrt values (order-independent exact addition; a double
    * sum's value depends on merge order), cast to double only for the
    * final division; boost divides the already-rounded shares. Scale
    * shape: one combinable groupBy on source; the totals ride a 1-row
    * broadcast. */
  def mixtureWeights(docs: DataFrame): DataFrame = {
    val per = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
    val sqrtTok = sqrt(col("total_tokens").cast("double"))
    val tot = per.agg(
      sum(col("total_tokens")).as("__all_tokens"),
      sum(sqrtTok.cast("decimal(27,10)")).as("__sqrt_sum"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        graft.ops.Ops.rnd(
          col("total_tokens").cast("double") / col("__all_tokens").cast("double"), 6)
          .as("natural_share"),
        graft.ops.Ops.rnd(sqrtTok / col("__sqrt_sum").cast("double"), 6)
          .as("smoothed_share"))
      .withColumn("boost",
        graft.ops.Ops.rnd(col("smoothed_share") / col("natural_share"), 4))
  }

  /** The cleaning funnel: raw → quality-filtered → exact-deduped, reported
    * as per-stage survivor counts (the acceptance report every corpus
    * release ships with). Stage 2 gates on the TextAnalysis quality score
    * and token bounds; stage 3 keeps one doc per content hash among the
    * survivors. Each stage is a single aggregate over the previous one —
    * counts come from the distributed plan, never from driver-side loops.
    * `stats` is the corpus's `TextAnalysis.textStats` (`textStatsTable` in a
    * session, which shares the cached token pass with the curation gate
    * and tier reports). */
  def cleaningFunnel(docs: DataFrame, stats: DataFrame, minQuality: Double = 0.5,
                     minTokens: Int = 10, maxTokens: Int = 1000): DataFrame = {
    val quality = stats.filter(
      col("quality_score") >= minQuality &&
        col("token_count").between(minTokens, maxTokens))
    val qdocs = docs.join(quality.select("doc_id"), Seq("doc_id"))
    val keepers = qdocs.groupBy(md5(col("text"))).agg(min(col("doc_id")))
    docs.agg(count(lit(1)).as("docs")).withColumn("stage", lit("1_raw"))
      .unionByName(quality.agg(count(lit(1)).as("docs"))
        .withColumn("stage", lit("2_quality")))
      .unionByName(keepers.agg(count(lit(1)).as("docs"))
        .withColumn("stage", lit("3_dedup")))
      .select("stage", "docs")
  }
}
