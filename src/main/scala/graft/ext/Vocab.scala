package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenizer-induction operators: the corpus statistics a BPE/WordPiece
  * vocabulary build runs over a pretraining corpus. The expensive part of
  * BPE training is corpus-sized (pair counting); the learned state is
  * vocab-sized (the merge list). The split here mirrors that: every count
  * is a distributed combinable aggregate, and only the merge list — one
  * row per learned merge — ever reaches the driver.
  */
object Vocab {

  /** Word-frequency table: the standard BPE preprocessing step — pair
    * counting runs over DISTINCT words weighted by occurrence count, so the
    * corpus-sized token stream collapses to a vocab-sized frame before any
    * symbol work happens (the classic Sennrich-BPE optimization; at 100 TB
    * the distinct-word table is megabytes where the token stream is
    * terabytes). One explode + one map-side-combinable groupBy. */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wcount"))

  /** Adjacent character-pair frequencies — the statistic the FIRST BPE merge
    * round maximizes (symbols = characters), weighted by word occurrence.
    * Top-k with a total-order tie-break (count desc, pair asc) so the
    * boundary is deterministic cross-engine.
    *
    * Scale shape: the pair explode runs over the vocab-sized wordFreq frame,
    * not the corpus; the aggregate is map-side combinable on a symbol²-
    * bounded key space; top-k is TakeOrderedAndProject (O(k) per partition,
    * no global sort). */
  def charPairStats(docs: DataFrame, k: Int): DataFrame =
    wordFreq(docs).filter(length(col("word")) >= 2)
      .select(col("wcount"), explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("wcount")).as("pair_count"))
      .orderBy(desc("pair_count"), asc("pair"))
      .limit(k)

  /** One greedy left-to-right merge pass over a symbol array: every
    * non-overlapping adjacent (a, b) becomes the fused symbol a+b, leftmost
    * first ("aaa" under (a,a) → [aa, a] — the reference BPE behavior). A
    * pure codegen'd fold over the row's own array; no shuffle, no UDF. */
  private def mergeSyms(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Pair frequencies over the current symbol decomposition (any round, not
    * just characters): one row per adjacent (sym_a, sym_b), weighted by
    * word count. Same scale shape as charPairStats. */
  def pairStats(words: DataFrame): DataFrame =
    words.filter(size(col("syms")) >= 2)
      .select(col("wcount"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("sym_a"),
          element_at(col("syms"), i + 1).as("sym_b")))).as("p"))
      .groupBy(col("p.sym_a").as("sym_a"), col("p.sym_b").as("sym_b"))
      .agg(sum(col("wcount")).as("pair_count"))

  /** Apply a learned merge list to tokenize text — the corpus-sized hot
    * path (training runs once over word frequencies; ENCODING runs over
    * every byte of the 100 TB corpus, forever). Merges apply in learned
    * order, each greedily left-to-right (the same semantics bpeLearn's
    * argmax assumed), through the native codegen'd expression
    * (plans/BpeEncode: one JVM loop over ping-pong buffers) —
    * embarrassingly parallel, no shuffle, no UDF, no driver state beyond
    * the vocab-sized list. Measured at sf0.1 / 10 merges: the fold form
    * below costs 9.2 s in the fertility aggregate, this one is
    * sub-second. */
  def encodeSyms(word: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_encode", word,
      lit(graft.plans.BpeEncode.toSpec(merges)))

  /** The pure-column-expression form of encodeSyms (`merges` chained folds
    * over the row's own symbol array) — kept as an independent
    * implementation of the same semantics for the equivalence spec, and
    * as the portable fallback where GraftExtensions isn't installed. */
  private[graft] def encodeSymsFold(word: Column,
                                    merges: Seq[(String, String)]): Column = {
    val chars = transform(sequence(lit(1), length(word)),
      i => word.substr(i, lit(1)))
    merges.foldLeft(chars) { case (syms, (a, b)) => mergeSyms(syms, a, b) }
  }

  /** Tokenization fertility — the vocab-quality metric a tokenizer team
    * tracks per source: tokens/word and chars/token (compression) under a
    * given merge list. One explode to words, the encode fold, two
    * combinable aggregates; the merge list rides into the plan as
    * literals (vocab-sized, broadcast-free). */
  def fertility(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs.select(col("source"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .select(col("source"), length(col("word")).cast("long").as("n_chars"),
        size(encodeSyms(col("word"), merges)).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))

  /** The full BPE training loop: `merges` rounds of count-pairs →
    * take-argmax → apply-merge, returning the learned merge list in order.
    * The driver holds ONLY that list (one 1-row collect per round — the
    * vocab-sized state); the corpus-sized work is a distributed combinable
    * aggregate per round over the cached vocab frame, and each round's
    * merged decomposition is re-cached so plans stay shallow instead of
    * stacking `merges` folds. Ties at the argmax break (count desc, sym_a,
    * sym_b) — the learned vocabulary is deterministic cross-run. */
  def bpeLearn(docs: DataFrame, merges: Int): Seq[(String, String)] = {
    val words = wordFreq(docs).cache()
    words.count(): Unit
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (learned.length < merges && !done) {
      // each round re-derives the decomposition from the cached vocab via
      // the native encoder with the merges learned SO FAR — one cheap
      // O(rounds × word-length) pass per word beats maintaining `merges`
      // cached symbol frames (the old shape re-cached and re-counted the
      // vocab every round)
      val top = pairStats(words.withColumn("syms",
          encodeSyms(col("word"), learned.toSeq)))
        .orderBy(desc("pair_count"), asc("sym_a"), asc("sym_b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else learned += ((top(0).getString(0), top(0).getString(1)))
    }
    words.unpersist()
    learned.toSeq
  }

  /** Batched BPE training — same learned list as bpeLearn, a fraction of
    * the Spark rounds. bpeLearn's floor is one distributed aggregate + one
    * 1-row collect PER MERGE (1k merges = 1k jobs; the round-trip, not the
    * data, dominates past a few hundred merges). Each batched round
    * collects the top-(batch+1) ranked pairs and accepts a prefix that is
    * provably what the sequential argmax would have produced:
    *
    *   1. CONTIGUOUS ranks, stopping at the first pair sharing a symbol
    *      with an earlier accepted pair (an overlapping pair's count may
    *      drop after the earlier merge — skipping it could leapfrog the
    *      true argmax);
    *   2. a SELF-PAIR (sym_a == sym_b) closes the round's batch after
    *      being accepted. Every new pair a merge creates has count ≤ some
    *      parent pair's, and a parent shares a symbol with the merged
    *      pair — so parents are non-accepted (disjointness) and rank
    *      below the prefix (contiguity) — EXCEPT when the parent is the
    *      merged pair itself, which happens exactly for (a,a) in runs
    *      "aaa…": (aa,a) inherits count from accepted (a,a) and can
    *      outrank everything below it (caught live: the zipf bench corpus
    *      diverged at merge 2 before this barrier existed);
    *   3. a STRICT count drop at the acceptance boundary (ties trimmed
    *      back, always keeping the top-1). With (2), every new or changed
    *      pair has count ≤ count(boundary) < count(accepted): nothing can
    *      outrank any accepted pair at its sequential slot, and accepted
    *      ties keep the shared (count desc, sym_a, sym_b) order.
    *
    * Worst case (all boundary ties, or self-pair-heavy corpora) degrades
    * to one merge per round — exactly bpeLearn; Zipfian natural-text
    * corpora accept most of the batch (round counts for both shapes:
    * PERF.md, "Batched-exact BPE: the merge-round ladder"). VocabSpec
    * pins list-equality across batch sizes on three corpus shapes incl.
    * the self-pair and tie-storm fixtures. */
  def bpeLearnBatched(docs: DataFrame, merges: Int, batch: Int): Seq[(String, String)] = {
    require(batch >= 1, s"batch must be >= 1: $batch")
    val words = wordFreq(docs).cache()
    words.count(): Unit
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (learned.length < merges && !done) {
      val want = math.min(batch, merges - learned.length)
      val cand = pairStats(words.withColumn("syms",
          encodeSyms(col("word"), learned.toSeq)))
        .orderBy(desc("pair_count"), asc("sym_a"), asc("sym_b"))
        .limit(want + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cand.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        var k = 0
        var stop = false
        while (!stop && k < math.min(want, cand.length)) {
          val (a, b, _) = cand(k)
          if (k > 0 && (used(a) || used(b))) stop = true
          else {
            used += a; used += b; k += 1
            if (a == b) stop = true // self-pair barrier (rule 2)
          }
        }
        while (k > 1 && cand.length > k && cand(k)._3 == cand(k - 1)._3) k -= 1
        learned ++= cand.take(k).map(t => (t._1, t._2))
      }
    }
    words.unpersist()
    learned.toSeq
  }
}
