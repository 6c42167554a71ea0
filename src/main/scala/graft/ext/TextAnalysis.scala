package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token statistics,
  * quality scoring, n-gram-heuristic language ID, and content
  * fingerprinting. All pure column expressions (codegen-friendly, no UDFs);
  * every score is integer-count arithmetic in a fixed order so the DuckDB
  * oracle reproduces it exactly.
  */
object TextAnalysis {

  private[graft] val enStop = Seq("the", "a", "of", "and", "to", "in", "is")

  private def toks(text: Column): Column = split(text, " ")

  private def countIn(arr: Column, words: Seq[String]): Column =
    // native count (plans/CountIn, r17) — exactly
    // size(filter(arr, x => x.isin(words...))): the filter lambda was
    // interpreted per element and materialized the filtered array only to
    // take its size (CountInSpec pins parity)
    call_function("count_in", arr, array(words.map(lit): _*))

  /** Composite quality score of a token-array column (length / stopword /
    * diversity mix — the standard pretraining-filter shape; weights are
    * fixed and documented, not learned). 4-dp rounded so every engine
    * carries the identical value into downstream comparisons. */
  private def qualityExpr(t: Column): Column = {
    val tokenCount = size(t)
    graft.ops.Ops.rnd(
      least(lit(1.0), tokenCount.cast("double") / 100) * 0.4
        + (lit(1.0) - countIn(t, enStop).cast("double") / tokenCount) * 0.3
        + size(array_distinct(t)).cast("double") / tokenCount * 0.3,
      4)
  }

  /** Per-document token stats + composite quality score. */
  def textStats(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val tokenCount = size(t)
    val distinctCount = size(array_distinct(t))
    val stopCount = countIn(t, enStop)
    val charSum = aggregate(transform(t, x => length(x)), lit(0), _ + _)
    docs.select(
      col("doc_id"),
      col("lang"),
      tokenCount.as("token_count"),
      distinctCount.as("distinct_tokens"),
      graft.ops.Ops.rnd(charSum.cast("double") / tokenCount, 4).as("avg_token_len"),
      graft.ops.Ops.rnd(stopCount.cast("double") / tokenCount, 4).as("stopword_ratio"),
      qualityExpr(t).as("quality_score"))
  }

  /** Out-of-vocabulary rate against the corpus top-`vocabSize` vocabulary —
    * the Gopher-family "fraction of tokens outside a reference vocab"
    * signal (a high OOV rate marks garbled/non-linguistic text). The vocab
    * is derived from the corpus itself: top-N tokens by global count, ties
    * broken on token order so the cut is total-ordered and deterministic.
    *
    * Scale shape: the vocab is bounded (`vocabSize` rows) via
    * orderBy+limit (TakeOrderedAndProject, never a global vocab window)
    * and BROADCAST back; the exploded token table streams through the
    * broadcast join once and the per-doc count is map-side combinable. */
  def oovRate(docs: DataFrame, vocabSize: Int = 1000): DataFrame = {
    val tokens = docs.select(col("doc_id"), explode(toks(col("text"))).as("token"))
    val vocab = tokens.groupBy("token").agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"), lit(true).as("__in_vocab"))
    tokens.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("token_count"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("oov_count"))
      .select(col("doc_id"), col("token_count"), col("oov_count"),
        graft.ops.Ops.rnd(
          col("oov_count").cast("double") / col("token_count"), 4).as("oov_rate"))
  }

  /** Per-source median-threshold quality filter — the RELATIVE quality
    * gate (keep each source's better half) next to cleaningFunnel's
    * absolute one: an absolute threshold over-prunes inherently noisy
    * sources (web crawl) and under-prunes clean ones (reference text), so
    * curation pipelines commonly cut per-stratum. The per-source exact
    * median frame is sources-sized → broadcast back; the median itself
    * comes from the count-by-value decomposition (ops/BoundedPercentile),
    * never a per-group value buffer — scores are 4-dp-rounded so the
    * count-by-value table is tiny, and the shape stays bounded even for
    * unbounded score domains. Takes the (doc_id, source, quality_score)
    * frame `scoreTable` caches, so the curation consumers (filter, gate,
    * funnel, tiers) share one token pass per (session, corpus). */
  def qualityFilter(s: DataFrame): DataFrame = {
    val med = graft.ops.BoundedPercentile.exact(
      s.select("source", "quality_score"), "source", "quality_score",
      Seq(0.5 -> "source_median"), 6).drop("n")
    s.join(broadcast(med), "source")
      .filter(col("quality_score") >= col("source_median"))
      .select("doc_id", "source", "quality_score", "source_median")
  }

  /** Session-cached per-doc (doc_id, source, quality_score) — DERIVED from
    * textStatsTable (which already carries quality_score) joined with a
    * text-free (doc_id, source) projection, so the session tokenizes the
    * corpus exactly once no matter which curation consumers run. */
  def scoreTable(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, "quality_scores") {
      graft.core.Tables.documents(spark, dir).select(col("doc_id"), col("source"))
        .join(textStatsTable(spark, dir).select(col("doc_id"), col("quality_score")),
          Seq("doc_id"))
    }

  /** Session-cached textStats / repetitionStats / oovRate artifacts — the
    * other per-doc token-pass outputs the curation gate and funnel join. */
  def textStatsTable(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, "text_stats") {
      textStats(graft.core.Tables.documents(spark, dir))
    }

  def repetitionTable(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, "repetition_stats") {
      repetitionStats(graft.core.Tables.documents(spark, dir))
    }

  def oovTable(spark: org.apache.spark.sql.SparkSession, dir: String,
               vocabSize: Int): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, s"oov_rate_$vocabSize") {
      oovRate(graft.core.Tables.documents(spark, dir), vocabSize)
    }

  /** Bigram familiarity — the count-based proxy for LM-perplexity quality
    * scoring (the CCNet/KenLM shape: score each document against corpus-
    * level n-gram statistics; a doc whose n-grams nobody else writes is
    * garbled or machine-generated). A production pipeline sums
    * log-probabilities under a trained LM; logs are libm transcendentals
    * whose last ulp is engine-variant, so this keeps the SAME two-pass
    * statistics shape on integer-exact signals: each doc's distinct bigrams
    * are scored by corpus document frequency — `avg_df` (how common the
    * doc's phrasing is overall) and `rare_ratio` (fraction of its bigrams
    * unique to it; the df=1 bucket is exactly "nobody else says this").
    *
    * Scale shape: the df table IS the language model — explode distinct
    * bigrams per doc, one map-side-combinable groupBy; then an equi-join of
    * doc bigrams to df and a per-doc combinable aggregate. The join
    * shuffles on bigram, a popularity-skewed key that AQE's skew-join
    * splits; the df table is the observed-bigram vocabulary, sub-linear in
    * corpus size. Nothing driver-side, nothing all-pairs. Takes the
    * doc-bigram rows and their df table (`docBigramTable`, `bigramDfTable`
    * in a session). */
  def bigramFamiliarity(bigrams: DataFrame, dfreq: DataFrame): DataFrame =
    bigrams.join(dfreq, Seq("bigram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("df")).as("__df_sum"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("__rare"))
      .select(col("doc_id"), col("n_bigrams"),
        graft.ops.Ops.rnd(
          col("__df_sum").cast("double") / col("n_bigrams"), 4).as("avg_df"),
        graft.ops.Ops.rnd(
          col("__rare").cast("double") / col("n_bigrams"), 4).as("rare_ratio"))

  /** Per-doc (doc_id, bigram) rows — the tokenize + explode pass BOTH sides
    * of familiarity scoring need: the df table aggregates it, and the
    * scoring join probes it. */
  def docBigrams(docs: DataFrame): DataFrame = {
    val d = docs.withColumn("__toks", toks(col("text")))
    d.select(col("doc_id"),
      explode(Corpus.ngramsOf(col("__toks"), col("text"), 2)).as("bigram"))
  }

  /** Bigram document frequency over `docBigrams` rows. */
  def bigramDf(bigrams: DataFrame): DataFrame =
    bigrams.groupBy("bigram").agg(count(lit(1)).as("df"))

  /** Session-cached `docBigrams` table. Cached separately so a warm
    * session never re-tokenizes the corpus per evaluation (the r7
    * lm_familiarity regression: the df artifact was cached but every score
    * call re-ran this explode). */
  def docBigramTable(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, "doc_bigrams") {
      docBigrams(graft.core.Tables.documents(spark, dir))
    }

  /** Session-cached bigram document-frequency table — the corpus-level
    * statistics artifact bigramFamiliarity scores against (in KenLM terms,
    * the model itself). A pipeline builds it once per corpus snapshot and
    * every scoring pass reads the materialized table. Derived from the
    * cached doc-bigram table, so the two artifacts share one token pass. */
  def bigramDfTable(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, "bigram_df") {
      bigramDf(docBigramTable(spark, dir))
    }

  /** Quality-decile tiers — the report that turns a score distribution into
    * curation thresholds: rank every doc by quality score (total order:
    * score, then doc_id) and bucket ranks into `tiers` equal-width rank
    * bands (tier = floor((rank-1)·tiers/n)+1), then aggregate each tier.
    *
    * Scale shape: NO global rank window — `row_number().over(orderBy(...))`
    * without a partition is a single-partition sort of the corpus. The
    * exact global rank decomposes instead (the ranking analogue of
    * packSequences' two-phase prefix sum): (1) per-score counts — scores
    * are 4-dp-rounded so this table is tiny — cumsummed over the ordered
    * score table into each score's exclusive global rank offset; (2) a
    * row_number PARTITIONED by score ranks within each score; (3) global
    * rank = offset + local rank, exactly the single-window result. Takes
    * `textStats` rows (`textStatsTable` in a session). */
  def qualityTiers(stats: DataFrame, tiers: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = stats.select(col("doc_id"), col("quality_score").as("q"),
      col("token_count").cast("long").as("n_tokens"))
    val wScores = Window.orderBy("q")
    val offsets = scored.groupBy("q").agg(count(lit(1)).as("__c"))
      .withColumn("__offset",
        coalesce(sum(col("__c"))
          .over(wScores.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("q", "__offset")
    val wLocal = Window.partitionBy("q").orderBy("doc_id")
    val n = scored.agg(count(lit(1)).as("__n"))
    scored.join(offsets, Seq("q"))
      .withColumn("__rank", col("__offset") + row_number().over(wLocal))
      .crossJoin(broadcast(n))
      .withColumn("tier",
        (floor((col("__rank") - 1) * tiers / col("__n")) + 1).cast("int"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_docs"),
        min(col("q")).as("min_quality"),
        max(col("q")).as("max_quality"),
        graft.ops.Ops.rnd(
          sum(col("n_tokens")).cast("double") / count(lit(1)), 4).as("avg_tokens"))
  }

  /** Language-ID heuristic: stopword-marker hit ratios per language family,
    * aggregated as a (label, detected) confusion count. The corpus text is
    * synthetic English-ish for every label, so the interesting output is the
    * confusion structure, not accuracy. */
  def langId(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val en = countIn(t, enStop)
    val es = countIn(t, Seq("el", "la", "de", "que", "y"))
    val detected = when(en > es && en > 0, "en")
      .when(es > en, "es")
      .otherwise("und")
    docs.select(col("lang"), detected.as("detected"))
      .groupBy("lang", "detected")
      .agg(count(lit(1)).as("doc_count"))
  }

  /** BPE-ish tokenizer pattern (GPT-2 family shape, ASCII/RE2-portable so
    * Spark's Java regex and an external engine's RE2 agree): contraction
    * suffixes, space-prefixed alpha runs capped at 4 chars (the subword
    * split — "customer" → " cust"+"omer"), digit runs capped at 3, punct
    * runs, whitespace. No lookarounds/backrefs, so any regex engine used by
    * a downstream system tokenizes identically. The trailing ` ?'+`
    * alternative covers bare apostrophe runs (the punct class excludes `'`
    * so contractions match first; without it a lone `'` matched nothing and
    * broke the bpe_tokens >= ws_tokens invariant). */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]{1,4}| ?[0-9]{1,3}| ?[^a-zA-Z0-9\\s']+| ?'+|\\s+"

  /** Token counting, both flavors a pretraining pipeline budgets with:
    * whitespace tokens (corpus accounting) and BPE-ish subword tokens
    * (model-input accounting), plus the subword inflation ratio. Pure
    * column expressions — regexp_extract_all is codegen'd, no UDF. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val ws  = size(split(col("text"), " "))
    val bpe = size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
    docs.select(
      col("doc_id"),
      ws.as("ws_tokens"),
      bpe.as("bpe_tokens"),
      graft.ops.Ops.rnd(bpe.cast("double") / ws.cast("double"), 4)
        .as("subword_ratio"))
  }

  /** Repetition signals (the Gopher-filter family): how much of a document
    * is the same bigram over and over. Emits the top-bigram concentration
    * and the distinct-bigram ratio per doc — low distinct ratio / high top
    * ratio flags boilerplate and degenerate generations. Shape: explode to
    * one row per bigram, two map-side-combinable groupBys — the same
    * explode→agg spine as word count, so it scales the same way (no windows,
    * no per-doc collections larger than the token array itself). */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val withT = docs.select(col("doc_id"), toks(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .filter(col("n_tokens") >= 2)
    // native sliding k=2 window strings (plans/SpanHashes FmtStr, r17) —
    // byte-equal to transform(sequence(1, n-1),
    //   i -> concat_ws(" ", toks[i], toks[i+1])) under the n >= 2 filter
    val bigrams = withT.select(col("doc_id"), col("n_tokens"),
      explode(call_function("span_hashes", col("toks"), lit(2), lit(1),
        lit(graft.plans.SpanHashes.FmtStr), lit(graft.plans.SpanHashes.Sliding)))
        .as("bigram"))
    bigrams.groupBy("doc_id", "n_tokens", "bigram")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_tokens")
      .agg(max(col("c")).as("top_c"), count(lit(1)).as("dist"))
      .select(
        col("doc_id"),
        graft.ops.Ops.rnd(
          col("top_c").cast("double") / (col("n_tokens") - 1), 4)
          .as("top_bigram_ratio"),
        graft.ops.Ops.rnd(
          col("dist").cast("double") / (col("n_tokens") - 1), 4)
          .as("distinct_bigram_ratio"))
  }

  /** PII patterns, restricted to the RE2∩Java-regex subset (character
    * classes + bounded repetition; no lookarounds, no backrefs) so any
    * engine — Spark's java.util.regex, an RE2-based scanner, a SIMD
    * grep — finds byte-identical matches. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val idNumberPattern: String = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** PII scan + redaction — the pre-release scrub every public corpus runs
    * (C4/FineWeb shape: detect emails and SSN-like ids, replace with typed
    * placeholder tokens). The corpus here is synthetic word-soup with no
    * real PII, so the scan runs over a DETERMINISTIC augmentation (every
    * 3rd doc gains a derived email, every 5th an SSN-like id) — this keeps
    * the detection and redaction paths genuinely exercised and
    * oracle-checkable instead of trivially all-zero. Emits per-doc hit
    * counts and the md5 of the redacted text (byte-level redaction proof
    * without shipping full text through the compare).
    *
    * Scale shape: pure per-row column expressions (regexp_extract_all /
    * regexp_replace are codegen'd) — no shuffle, no UDF; at 100 TB this is
    * a map-only pass that pushes the projection to the scan. */
  def piiScan(docs: DataFrame): DataFrame = {
    val d = pmod(col("doc_id"), lit(1000L))
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" id "),
          lpad((d * 7 % 900 + 100).cast("string"), 3, "0"), lit("-"),
          lpad((d * 13 % 90 + 10).cast("string"), 2, "0"), lit("-"),
          lpad((d * 17 % 9000 + 1000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val redacted = regexp_replace(
      regexp_replace(aug, emailPattern, "<EMAIL>"),
      idNumberPattern, "<ID>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(aug, lit(emailPattern), lit(0)))
        .cast("long").as("email_hits"),
      size(regexp_extract_all(aug, lit(idNumberPattern), lit(0)))
        .cast("long").as("id_hits"),
      md5(redacted).as("redacted_fp"))
  }

  /** TF-IDF top terms per document — the keyword-extraction signal a
    * curation pipeline uses for topic balancing and per-doc summaries.
    * idf is the smoothed RATIONAL form (N+1)/(df+1), not a logarithm:
    * log/ln are libm transcendentals whose last ulp differs between
    * engines, while integer-valued double divisions are IEEE
    * correctly-rounded and bit-identical everywhere — monotone in df, so
    * the ranking is the same one log-idf would give per fixed doc.
    *
    * Scale shape: tf and df are explode → map-side-combinable groupBys; the
    * corpus size N rides a 1-row broadcast; the tf⋈df join is a shuffled
    * equi-join on term (vocabulary-sized right side); the rank window
    * partitions by doc_id, so no partition exceeds a document's own
    * vocabulary. Nothing driver-side, nothing all-pairs. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the explicit isNotNull matches the IsNotNull(doc_id) the doc_len
    // join INFERS onto its branch's scan — without it the two copies of
    // the tf subtree differ by that one pushed filter and ReuseExchange
    // sees different subtrees (doc_id is the PK, so no row is dropped)
    val terms = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // doc_len = Σ tf per doc and df = row count per term — BOTH derived
    // from the aggregated tf table, not second groupBys over `terms`
    // (which would tokenize the corpus once per consumer; at 100 TB the
    // tokenize IS the query's cost). df must consume tf's VALUE in a way
    // the optimizer can't eliminate: a bare count(1) (or even count(tf),
    // tf being provably non-null) lets Catalyst rewrite this branch's
    // copy of the tf aggregate to a keys-only distinct, which breaks
    // subtree identity with the other consumers and stops ReuseExchange
    // from running the tokenize once. count(tf >= 1) depends on the
    // count's value, survives, and equals count(1) exactly (every
    // grouped term occurs at least once). Pinned in ScaleShapeSpec: one
    // text-reading documents scan in the final plan.
    //
    // r17 note: the window-over-repartition form (doc_len as sum(tf) over
    // a doc_id window fused with the rank's exchange, VERDICT r16 #4) was
    // built and measured INTERLEAVED against this form at sf0.1, x10 and
    // x100 (OPTIMIZATION_r17.md, rejected levers): 12% SLOWER at sf0.1
    // (0.716 vs 0.639 median of 8) and statistically flat at both rungs
    // (x10: 2.02 vs 1.99; x100: 19.2 vs 19.3) — the corpus-sized window
    // exchange it adds costs exactly what the docs-sized doc_len branch
    // saves, and the tokenize dominates at every rung. Rejected; this join
    // form stays.
    val docLen = tf.groupBy("doc_id").agg(sum("tf").as("doc_len"))
    val dfreq = tf.groupBy("term")
      .agg(count(when(col("tf") >= 1, 1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(docLen, Seq("doc_id"))
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", graft.ops.Ops.rnd(
        (col("tf").cast("double") / col("doc_len").cast("double"))
          * ((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)),
        4))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "tfidf", "rank")
  }

  /** Model-based quality scoring — the classifier-filter shape (a
    * fasttext/DCLM-style quality model applied at corpus scale), expressed
    * as a transductive centroid classifier so the whole pipeline is
    * deterministic and cross-engine exact: a weak integer label per doc
    * (stopword mass ≥ 20% of tokens, by cross-multiplication — no
    * division), per-term document frequencies split by label, and a
    * per-doc score = Σ df_pos / Σ df_all over the doc's distinct terms —
    * integer sums throughout, ONE correctly-rounded double division at
    * the end. `model_keep` (score ≥ 1/2) is again integer-exact.
    *
    * Scale shape: the corpus is tokenized ONCE — labels, the df table and
    * the scoring join all derive from the single (doc_id, term)-grained tf
    * aggregate, whose exchange Catalyst reuses across the three consumers
    * (same discipline as tfidfTopTerms; both join keys carry explicit
    * isNotNull so join-inferred filters can't split the shared subtree,
    * and df's count consumes tf's value so the aggregate can't collapse
    * to a keys-only distinct). Everything after the tokenize is
    * vocab-sized or doc-count-sized; all aggregates combine map-side. */
  def modelQualityScore(docs: DataFrame): DataFrame = {
    val terms = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term").isNotNull)
    // explicit doc_id repartition: the labeling aggregate and the
    // label-join ride this one materialized exchange instead of
    // re-tokenizing the corpus (round-10 scan audit: the "shared" tf
    // exchange physically ran THREE times — 3 full tokenize passes; with
    // this, two — the df probe-side term join still re-executes, the
    // measured AQE floor for this topology, pinned in ScanAuditSpec)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .repartition(col("doc_id"))
    // per-doc label as a WINDOW over the doc_id partitioning tf already
    // has (r17) instead of the r9–r16 groupBy(doc_id)+join-back: the join
    // form paid a docs-sized aggregate exchange plus a join probe to
    // re-attach one bit per doc that the window computes in place. Same
    // integer arithmetic (long sums, cross-multiplication — no division),
    // so is_pos is bit-identical; a window partition holds one doc's
    // vocabulary, the bound the scoring join always had.
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val labeled = tf.withColumn("is_pos",
      (coalesce(sum(when(col("term").isin(enStop.map(lit): _*), col("tf")))
        .over(wDoc), lit(0L)) * 5 >= sum(col("tf")).over(wDoc)).cast("int"))
    val dfreq = labeled
      .groupBy("term")
      .agg(count(when(col("tf") >= 1, 1)).as("df_all"),
        sum(col("is_pos")).cast("long").as("df_pos"))
    // the always-true tf >= 1 keeps this copy of the tf aggregate
    // value-consuming — without it Catalyst rewrites it to a keys-only
    // distinct, which breaks subtree identity and costs a third tokenize
    tf.filter(col("tf") >= 1).join(dfreq, Seq("term"))
      .groupBy("doc_id")
      .agg(sum(col("df_pos")).as("pos_evidence"),
        sum(col("df_all")).as("total_evidence"))
      .select(col("doc_id"), col("pos_evidence"), col("total_evidence"),
        graft.ops.Ops.rnd(col("pos_evidence").cast("double")
          / col("total_evidence").cast("double"), 6).as("model_score"),
        (col("pos_evidence") * 2 >= col("total_evidence")).as("model_keep"))
  }

  /** Top-k tokens per source — the per-stratum vocabulary report (the
    * grouped form of the global word count). The rank window partitions by
    * source, so a partition holds one source's VOCABULARY (sub-linear in
    * corpus size; the corpus-sized work is the combinable count aggregate
    * before it). Ties break on token order for a total order. */
  def topTermsPerSource(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("source"), explode(toks(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("n").desc, col("token").asc)))
      .filter(col("rank") <= k)
  }

  /** Fixed-width token-length histogram per source — the length-distribution
    * report a corpus release ships (and the input to length-based mixture
    * decisions). Bucket = floor(tokens/width)*width; share is each bucket's
    * fraction of its source. One combinable groupBy plus a per-source window
    * over bucket COUNTS (rows = distinct buckets, bounded by max doc length
    * / width — never corpus-sized). */
  def lengthHistogram(docs: DataFrame, width: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col("source"),
        (floor(size(toks(col("text"))) / width) * width).cast("long").as("bucket_lo"))
      .groupBy("source", "bucket_lo")
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("source")
    counts.select(col("source"), col("bucket_lo"), col("n_docs"),
      graft.ops.Ops.rnd(
        col("n_docs").cast("double") / sum(col("n_docs")).over(w).cast("double"),
        4).as("share"))
  }

  /** Gopher-style composite curation gate — the ACTUAL keep/drop filter a
    * pretraining corpus release runs (Rae et al.'s rule family): length
    * bounds, absolute quality floor, repetition ceiling, and OOV ceiling,
    * each emitted as its own boolean REASON next to the final verdict so
    * dropped mass is attributable, never silent (the same observability
    * posture as the LSH overflow views). `keep` is the conjunction.
    *
    * The OOV rule runs against a deliberately small top-N vocab (the
    * "reference vocabulary" form of the rule; the shipped gate reads
    * `oovTable` at 20); thresholds are
    * parameters with the documented defaults. Scale shape: three
    * map-side-combinable per-doc passes (stats, bigram repetition, OOV)
    * joined on doc_id — co-keyed equi-joins, no new shuffle classes beyond
    * the component queries themselves. Takes the three per-doc frames
    * (`textStatsTable`, `repetitionTable`, `oovTable` in a session), so a
    * session running gate + funnel + tiers tokenizes the corpus once. */
  def curationGate(statsIn: DataFrame, repIn: DataFrame, oovIn: DataFrame,
                   minTokens: Int = 10, maxTokens: Int = 1000,
                   minQuality: Double = 0.5, maxTopBigram: Double = 0.2,
                   maxOov: Double = 0.2): DataFrame = {
    val stats = statsIn.select("doc_id", "token_count", "quality_score")
    val rep = repIn.select(col("doc_id"), col("top_bigram_ratio"))
    val oov = oovIn.select(col("doc_id"), col("oov_rate"))
    stats
      .join(rep, Seq("doc_id"), "left")   // <2-token docs have no bigrams
      .join(oov, Seq("doc_id"))
      .select(col("doc_id"),
        (col("token_count") < minTokens).as("too_short"),
        (col("token_count") > maxTokens).as("too_long"),
        (col("quality_score") < minQuality).as("low_quality"),
        (coalesce(col("top_bigram_ratio"), lit(0.0)) > maxTopBigram).as("repetitive"),
        (col("oov_rate") > maxOov).as("high_oov"))
      .withColumn("keep",
        !col("too_short") && !col("too_long") && !col("low_quality") &&
          !col("repetitive") && !col("high_oov"))
  }

  /** Content fingerprints: a positional prefix hash (first five tokens) and
    * the min-shingle-hash (winnowing-style rolling fingerprint — the k=1
    * MinHash band). Shingles come from the materialized-token path — the
    * inline form re-tokenizes per element access (Dedup.shinglesOf doc). */
  def fingerprints(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val prefix = md5(concat_ws(" ",
      element_at(t, 1), element_at(t, 2), element_at(t, 3),
      element_at(t, 4), element_at(t, 5)))
    // min over the hex-md5s of all sliding 3-windows (plans/SpanHashes
    // FmtHex, r17) — the old form took array_min over an INTERPRETED
    // md5-per-element transform of the distinct shingle set; min is
    // dedup-invariant, so the sliding multiset gives the identical value,
    // and the <3-token degrade (sh = [text] → md5(text), null text → null)
    // is the explicit otherwise branch (SpanHashesSpec pins row equality)
    val minShingle = when(size(col("__toks")) >= 3,
      array_min(call_function("span_hashes", col("__toks"), lit(3), lit(1),
        lit(graft.plans.SpanHashes.FmtHex), lit(graft.plans.SpanHashes.Sliding))))
      .otherwise(md5(col("text")))
    docs.withColumn("__toks", t)
      .select(col("doc_id"), prefix.as("prefix_fp"), minShingle.as("min_shingle_fp"))
  }
}
