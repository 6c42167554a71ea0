package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data deduplication operators over the `documents` corpus —
  * the LLM-pipeline surface beyond the reference's own operators (SURVEY
  * §7.1 ext/). Four families: exact (content hash), n-gram Jaccard
  * (verified pairs), MinHash banding (candidate generation at scale), and
  * SimHash (near-dup signatures).
  *
  * Scale design: nothing here is all-pairs. Jaccard pairs are blocked by
  * (lang, length band); MinHash candidates come from an equi-join on
  * (band, signature) — the classic LSH bucket join that holds at 100 TB
  * because band collisions, not n², drive the shuffle volume. Skewed buckets
  * (a signature shared by millions of docs) are the known hazard: AQE skew
  * splitting plus a bucket-size cap (drop pathological buckets, they are
  * boilerplate anyway) is the production posture.
  *
  * Cross-engine determinism: hashes are md5 hex strings (identical in every
  * engine), mins over them are lexicographic, counts are exact.
  */
object Dedup {

  /** Distinct 3-token shingles from a token-array column. IMPORTANT: `toks`
    * must be a materialized column (see withShingles), not an inline
    * split(text) — element_at references the array O(shingles×3) times, and
    * an inlined split would re-tokenize the document on every access,
    * turning shingling O(n²) per row. */
  def shinglesOf(toks: Column, text: Column): Column =
    // the n=3 case of Corpus.ngramsOf — same native kernel (plans/WordNgrams)
    graft.ext.Corpus.ngramsOf(toks, text, 3)

  /** Inline-convenience form for single-reference expression trees. */
  def shingles(text: Column): Column = shinglesOf(split(text, " "), text)

  /** documents + `sh` shingle column, tokenized in a separate projection so
    * the split runs once per row (CollapseProject keeps multi-referenced
    * non-cheap expressions un-inlined). */
  def withShingles(docs: DataFrame): DataFrame =
    docs.withColumn("__toks", split(col("text"), " "))
      .withColumn("sh", shinglesOf(col("__toks"), col("text")))
      .drop("__toks")

  /** Session-cached (doc_id, sh) shingle table — the "tokenize once,
    * materialize the signature input" stage every at-scale dedup pipeline
    * has; shared by the minhash and verification queries. */
  def shingleTable(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, "doc_shingles")(
      withShingles(graft.core.Tables.documents(spark, dir)).select("doc_id", "sh"))

  /** Session-cached MinHash signature table (built from the shingle table) —
    * at scale both the signature and shingle tables would be materialized
    * columns of the corpus, written once at ingest. */
  def signatureTable(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, "doc_minhash_sig")(
      minhashSignaturesPre(shingleTable(spark, dir)))

  /** Session-cached LSH candidate pairs (band self-join over the signature
    * table). Shared by the pair listing AND the Jaccard verification — the
    * verify query references the pair set three times (candidate ids for the
    * shingle semi-join, then both sides of the verify join), and without a
    * materialized table each reference would re-run the band self-join. */
  def candidatePairTable(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, "minhash_cand_pairs")(
      minhashPairsPre(signatureTable(spark, dir)))

  /** Session-cached VERIFIED near-dup pairs at `threshold` — the artifact a
    * dedup pipeline materializes once and then consumes repeatedly (cluster
    * collapse, keeper filtering, audit). Downstream consumers must not
    * re-run the verify join per query. */
  def verifiedPairTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, s"jaccard_pairs_$threshold")(
      jaccardPairs(shingleTable(spark, dir), candidatePairTable(spark, dir), threshold))

  /** Session-cached duplicate-cluster keeper map over the verified pairs —
    * the artifact the whole dedup pipeline exists to produce. The connected-
    * components fixpoint (see `clusters`) runs a handful of join+count
    * rounds; a pipeline materializes the keeper map ONCE per corpus snapshot
    * and every consumer (keeper filter, audit, split hygiene) reads the
    * materialized table rather than re-running the fixpoint. */
  def clusterTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, s"dedup_clusters_$threshold")(
      clusters(verifiedPairTable(spark, dir, threshold)))

  /** Exact dedup: hash-group on content (md5), keep the smallest doc_id as
    * canonical. One shuffle on the hash; at scale the groupBy is map-side
    * combinable because the hash is computed pre-shuffle. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keeper_doc_id"))

  /** Verified near-dup pairs: MinHash banding generates candidates (an
    * equi-join on (band, signature)), then shingle Jaccard verifies only
    * those. This candidates→verify pipeline is the shape that survives
    * 100 TB — the quadratic work is bounded by LSH collisions, and the
    * expensive set-intersection runs on a few hundred pairs, not n²/2.
    *
    * Takes a pre-shingled (doc_id, sh) table and the (doc_a, doc_b)
    * candidate pairs (`shingleTable` and `candidatePairTable` in a
    * session). The candidates are referenced three times below (candidate
    * ids, then both verify joins), so they must be a materialized table,
    * or each reference re-runs the band self-join. The shingle
    * table is semi-joined down to candidate doc ids BEFORE the pair joins —
    * candidates are a tiny fraction of the corpus, so the verify stage must
    * never ship the full shingle arrays of non-candidate docs through a
    * shuffle (that cost scales with the corpus, not with the collisions).
    * Plan shape: with runtime stats the pair table is the SMALL side, so
    * AQE broadcasts it and the shingle arrays never shuffle at all (the
    * verify is two broadcast hash joins streaming shSlim); when the
    * candidate set outgrows the broadcast threshold at corpus scale, the
    * same plan degrades gracefully to a shuffled join on doc id. */
  def jaccardPairs(sh: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    val shSlim = sh.join(candIds, Seq("doc_id"), "left_semi")
    val verified = cand
      .join(shSlim.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(shSlim.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
    // array_intersect is hash-based (O(|A|+|B|) per pair, vs O(|A|·|B|) for a
    // contains-scan); inputs are pre-distinct so the size is set semantics.
    val inter = size(array_intersect(col("sha"), col("shb")))
    val union = size(col("sha")) + size(col("shb")) - inter
    verified
      .select(col("doc_a"), col("doc_b"),
        graft.ops.Ops.rnd(inter.cast("double") / union, 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  private val NumBands = 4

  /** Band buckets larger than this are excluded from candidate generation
    * (shared by the minhash and simhash paths; the embedding path has its
    * own MaxBucketSize in Similarity). Kept in sync with the oracle's
    * HAVING clauses in OracleSql.{dedupMinhashPairs, jaccardCtes,
    * dedupSimhashPairs}. */
  private[graft] val MaxBucket = 256

  /** Per-doc MinHash signature over a pre-shingled (doc_id, sh) table: for
    * band i, min over shingles of md5("i|" + shingle). Explode → groupBy,
    * map-side combinable. */
  def minhashSignaturesPre(sh: DataFrame): DataFrame = {
    val toks = sh.select(col("doc_id"), explode(col("sh")).as("sh"))
    val aggs = (0 until NumBands).map(i =>
      min(md5(concat(lit(s"$i|"), col("sh")))).as(s"h$i"))
    toks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, band, h): the band unpivot of the signature table — shared by
    * pair generation and the specs' overflow accounting. */
  private[graft] def minhashBands(sig: DataFrame): DataFrame =
    (0 until NumBands).map(i =>
      sig.select(col("doc_id"), lit(i).as("band"), col(s"h$i").as("h")))
      .reduce(_ unionByName _)

  /** LSH candidate pairs over a `minhashSignaturesPre` table: the band
    * unpivot equi-joined on (band, h) — the scale-safe bucket join. */
  def minhashPairsPre(sig: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    val bands = minhashBands(sig)
    // Bucket-size cap, same posture as simhashPairs/Similarity: a band
    // signature shared by more than `maxBucket` docs is boilerplate (a
    // flood of one template), and self-joining that bucket alone is
    // O(bucket²) — the quadratic trap. No production query reports the
    // dropped buckets (the specs count them: LshReference). Docs in a
    // dropped bucket still pair through their other bands unless those
    // overflow too.
    val ok = bands.groupBy("band", "h")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucket)
      .select("band", "h")
    // kept feeds BOTH sides of the bucket self-join; checkpoint so the
    // bands/cap/semi-join chain runs once, not per side
    val kept = bands.join(ok, Seq("band", "h"), "left_semi").localCheckpoint(false)
    kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Incremental near-dup candidates — the daily-crawl path: a NEW batch of
    * documents LSH-joined against the EXISTING corpus signatures, never a
    * fresh corpus self-join. At 100 TB this is the difference between
    * re-running O(corpus²-bounded) pair generation per refresh and paying
    * O(batch · bucket-cap): the signature table is the persistent index a
    * crawl pipeline maintains; each increment probes it and then appends
    * its own signatures. Batch membership is the samplers' unitHash tail
    * (`u >= 1 - newFrac`) — deterministic and relayout-stable, so any
    * engine splits identically and the "new batch" never changes as other
    * docs arrive.
    *
    * Emits `kind`='cross' pairs (one endpoint in the index — the increment
    * probing history) and 'intra' pairs (both endpoints new — the batch's
    * internal dups), ids canonicalized doc_a < doc_b. Caps: the index side
    * caps its flood buckets as usual (boilerplate templates), and the
    * intra self-join caps the new side by the same rule — a capped bucket
    * bounds cross fan-out at `maxBucket` per new row, so nothing goes
    * quadratic. */
  def incrementalPairs(sig: DataFrame, newFrac: Double = 0.1,
                       maxBucket: Int = MaxBucket): DataFrame = {
    val isNew = Corpus.unitHash(col("doc_id")) >= lit(1.0 - newFrac)
    val bands = minhashBands(sig)
    // each side's band table feeds its cap groupBy AND the semi-join probe
    // (the two exchanges differ, so ReuseExchange can't dedup them), and
    // the new side additionally feeds the cross join — checkpoint both
    // BASE band tables so the corpus-sized unpivot runs once per side
    val bandsNew = bands.filter(isNew).localCheckpoint(false)
    val bandsOld = bands.filter(!isNew).localCheckpoint(false)
    def capped(b: DataFrame): DataFrame = {
      val ok = b.groupBy("band", "h").agg(count(lit(1)).as("n"))
        .filter(col("n") <= maxBucket).select("band", "h")
      b.join(ok, Seq("band", "h"), "left_semi")
    }
    val keptOld = capped(bandsOld)
    val keptNew = capped(bandsNew)
    val cross = bandsNew.as("x").join(keptOld.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        lit("cross").as("kind"))
      .distinct()
    val intra = keptNew.as("x").join(keptNew.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit("intra").as("kind"))
      .distinct()
    cross.unionByName(intra)
  }

  /** incrementalPairs over the session-cached signature table. */
  def incrementalPairTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                           newFrac: Double = 0.1): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, s"incr_pairs_$newFrac")(
      incrementalPairs(signatureTable(spark, dir), newFrac))

  /** 64-bit SimHash (the fingerprint width of Manku, Jarmin & Sarma,
    * "Detecting Near-Duplicates for Web Crawling", WWW'07) over distinct
    * 3-token SHINGLES, not unigrams: on template-heavy corpora unigram
    * token sets barely differ between documents, so a token-set fingerprint
    * collapses thousands of docs onto near-identical signatures and pair
    * enumeration goes quadratic; shingles carry word order and keep the
    * fingerprint discriminative (and share the feature space the MinHash
    * path already uses). Bits 0-31 vote with the high bit of nibble j of
    * md5(shingle), bits 32-63 with nibble j-32 of md5("x:" + shingle) —
    * two independent halves from two keyed hashes. Emitted as a 64-char
    * bit string (no cross-engine integer-parsing hazards). */
  def simhash64(docs: DataFrame): DataFrame = {
    // Materialize both keyed hashes ONCE per (doc, shingle) row: the 64
    // vote aggregates each reference a nibble of them, and an inline md5
    // inside every aggregate expression would hash the shingle 64× per row.
    val toks = withShingles(docs).select(col("doc_id"), explode(col("sh")).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h1"),
        md5(concat(lit("x:"), col("tok"))).as("h2"))
    val votes = (0 until 64).map { j =>
      val h = if (j < 32) col("h1") else col("h2")
      // high bit of a hex nibble <=> char >= '8' (ASCII: 0-7 < '8' <= 8,9,a-f)
      sum(when(substring(h, (j % 32) + 1, 1) >= "8", 1)
        .otherwise(-1)).as(s"v$j")
    }
    val bits = (0 until 64).map(j => when(col(s"v$j") > 0, "1").otherwise("0"))
    toks.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), concat(bits: _*).as("simhash64"))
  }

  /** Session-cached 64-bit simhash signature table — the banded pair join
    * references the signatures many times (4 band projections, the bucket
    * cap, both join sides); without materialization each reference re-runs
    * the 64-vote aggregation. */
  def simhash64Table(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, "doc_simhash64")(
      simhash64(graft.core.Tables.documents(spark, dir)))

  /** SimHash near-dup pairs: banded candidates → exact hamming verify.
    * The 64-bit fingerprint splits into 4 bands of 16 bits; by pigeonhole,
    * any pair with hamming <= 3 agrees exactly on at least one band, so an
    * equi-join on (band, bits) finds every such pair. 16-bit bands give a
    * 65536-value bucket space per band — buckets stay tiny at corpus scale
    * (this is why the fingerprint is 64-bit: 8-bit bands of a 32-bit hash
    * would collapse to 256 buckets, the quadratic trap). A bucket-size cap
    * (same posture as Similarity.cappedFrom) drops degenerate buckets —
    * a band value shared by more than `maxBucket` docs is boilerplate, and
    * joining it would be quadratic by construction. Verification is an
    * exact positional hamming count over the two bit strings. */
  /** (doc_id, simhash64, band, bb): the 4×16-bit band unpivot of the
    * signature table — shared by pair generation and the specs' overflow
    * accounting. */
  private[graft] def simhashBands(sig: DataFrame): DataFrame =
    (0 until 4).map(i =>
      sig.select(col("doc_id"), col("simhash64"), lit(i).as("band"),
        substring(col("simhash64"), i * 16 + 1, 16).as("bb")))
      .reduce(_ unionByName _)

  /** Session-cached verified simhash near-dup pairs at the default hamming
    * radius — the simhash-family analogue of `verifiedPairTable`: a dedup
    * pipeline materializes its pair artifact once and consumes it repeatedly
    * (cluster collapse, keeper filtering, audit) instead of re-running the
    * band self-join + hamming verify per query. */
  def simhashPairTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                       maxHamming: Int = 3): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, s"simhash_pairs_$maxHamming")(
      simhashPairs(simhash64Table(spark, dir), maxHamming))

  def simhashPairs(sig: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = MaxBucket): DataFrame = {
    val bands = simhashBands(sig)
    val ok = bands.groupBy("band", "bb")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucket)
      .select("band", "bb")
    // kept feeds BOTH sides of the bucket self-join; checkpoint so the
    // bands/cap/semi-join chain runs once, not per side
    val kept = bands.join(ok, Seq("band", "bb"), "left_semi").localCheckpoint(false)
    val cand = kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.bb") === col("y.bb") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.simhash64").as("sa"),
        col("y.doc_id").as("doc_b"), col("y.simhash64").as("sb"))
      .distinct()
    // native codegen'd positional hamming (plans/BitStringHamming): one
    // primitive pass over the byte arrays instead of a 64-term tree of
    // per-position substring slices (identical semantics to the oracle's
    // unrolled CASE sum)
    val ham = call_function("bitstring_hamming", col("sa"), col("sb"))
    cand.select(col("doc_a"), col("doc_b"), ham.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Collapse verified near-dup pairs into duplicate clusters: connected
    * components with the smallest member as canonical keeper — the step a
    * dedup pipeline runs AFTER pair generation (pairs alone over-delete:
    * a~b and b~c must keep exactly one of {a,b,c}, not two).
    *
    * Algorithm: min-label propagation with pointer jumping (label :=
    * label(label) each round), the hashing-to-min-neighbor scheme of
    * large-star/small-star connected components (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Rounds needed are
    * O(log diameter); near-dup clusters are dense and shallow, so this
    * converges in a handful of rounds. Each round is equi-joins + a
    * map-side-combinable min aggregate — no driver-side graph state, and
    * `localCheckpoint` truncates the growing lineage so round N's plan
    * doesn't replay rounds 1..N-1. Convergence is checked with a count
    * action per round (inherent to any fixpoint loop, incl. GraphX's). */
  def clusters(pairs: DataFrame): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // Materialize the edge list up front: every round (and its convergence
    // count) is an action, and without this the whole upstream pair
    // pipeline (LSH candidates + Jaccard verify) would re-execute once per
    // action instead of once per clustering.
    val preEdges = sc.getPersistentRDDs.keySet
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    val edgeIds = sc.getPersistentRDDs.keySet -- preEdges
    // Seed with the closed-neighborhood min (round 1 for free — every node
    // is a src because edges are symmetric).
    val preSeed = sc.getPersistentRDDs.keySet
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("m"))
      .select(col("src").as("doc_id"), least(col("src"), col("m")).as("label"))
      .localCheckpoint(true)
    // Checkpoint blocks of the round that the CURRENT labels supersede.
    // Each round's labels derive only from the previous round's blocks, so
    // once round N materializes, round N-1's blocks are dead weight — on a
    // big corpus, keeping them grows block storage by one labels table per
    // round. Tracked as the persistent-RDD-id delta around each checkpoint
    // (the public-API handle; Dataset.localCheckpoint exposes no RDD).
    var prevRoundIds: scala.collection.Set[Int] = sc.getPersistentRDDs.keySet -- preSeed
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("label").as("nl")), Seq("dst"))
        .groupBy(col("src").as("doc_id")).agg(min(col("nl")).as("nbr_min"))
      val prop = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      val byId = prop.select(col("doc_id").as("lid"), col("label").as("ll"))
      // the changed flag rides the frame; the LAZY checkpoint materializes
      // during the convergence probe — one job per round, not two — and the
      // probe then reads materialized blocks, never the round's lineage
      val preRound = sc.getPersistentRDDs.keySet
      val jumped = prop.join(byId, col("label") === col("lid"), "left")
        .select(col("doc_id"), coalesce(col("ll"), col("label")).as("label"),
          (coalesce(col("ll"), col("label")) =!= col("old")).as("chg"))
        .localCheckpoint(false)
      // full count, not limit(1): the probe must touch every partition so
      // the lazy checkpoint materializes completely in this one job
      changed = jumped.filter(col("chg")).count()
      // this round is materialized; the previous round's blocks are now
      // unreachable from any live lineage — free them
      val thisRoundIds = sc.getPersistentRDDs.keySet -- preRound
      prevRoundIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      prevRoundIds = thisRoundIds
      labels = jumped.select("doc_id", "label")
      rounds += 1
    }
    // the final labels are checkpoint-backed, so the result below no longer
    // reads the edge list — free its blocks too
    edgeIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc_id"), col("label").as("keeper_doc_id"), col("cluster_size"))
  }

  /** Quality-aware keeper election over duplicate clusters — the retention
    * rule production cleaning pipelines actually apply (C4/RefinedWeb keep
    * the LONGEST member of a duplicate cluster; a min-id keeper throws
    * away content whenever the shortest crawl happened to be fetched
    * first). Takes the `clusters` output (doc_id, keeper_doc_id = min-id
    * cluster label, cluster_size) and elects, per cluster, the member
    * maximizing `score` with doc_id ASC as the deterministic tie-break.
    * The min-id label stays as the stable cluster_id (re-electing keepers
    * under a different score must not re-identify clusters).
    *
    * `scored` may be NARROWER than the corpus (e.g. a quality-filtered
    * frame): the join is LEFT, members without a score rank below every
    * scored member (null-first struct ordering) and still count toward
    * cluster_size; a fully-unscored cluster elects its min-id member with
    * a null keeper_score — no cluster ever silently disappears
    * (code-review finding: the first cut inner-joined, shrinking
    * cluster_size and dropping unscored clusters).
    *
    * Scale: one join of the (collision-bounded) cluster table against the
    * score frame on doc_id, then a map-side-combinable max_by per
    * cluster — one shuffle over clustered docs only, never the corpus. */
  def clusterKeepers(clusterTable: DataFrame, scored: DataFrame,
                     scoreCol: String): DataFrame =
    clusterTable
      .join(scored.select(col("doc_id"), col(scoreCol).as("__s")),
        Seq("doc_id"), "left")
      .groupBy(col("keeper_doc_id").as("cluster_id"))
      .agg(
        count(lit(1)).as("cluster_size"),
        // nulls sort FIRST inside struct ordering, so an unscored member
        // can win only when no member is scored; negate(doc_id) makes the
        // tie-break min-id in both regimes
        max_by(struct(col("doc_id"), col("__s")),
          struct(col("__s"), negate(col("doc_id")))).as("__k"))
      .select(col("cluster_id"), col("cluster_size"),
        col("__k").getField("doc_id").as("keeper_doc_id"),
        col("__k").getField("__s").as("keeper_score"))

  /** Span-level exact dedup — the C4 "discard repeated lines" rule
    * re-expressed for unstructured text: each document is chopped into
    * fixed `spanTokens`-token spans, and a span is a duplicate when the
    * same token sequence already occurred at a strictly smaller
    * (doc_id, span_idx) anywhere in the corpus. First occurrence wins;
    * every later repetition is flagged. Emits per-doc span accounting
    * (n_spans, dup_spans, dup_frac) that a cleaning pass uses to drop or
    * rewrite boilerplate-heavy documents.
    *
    * Scale shape: spans shuffle as 16-byte `unhex(md5(...))` binary keys
    * (see substringWindows on the hex→binary width cut), never as span
    * text, so shuffle width is constant regardless of span length. The
    * first-occurrence winner is a map-side-combinable MIN over the
    * (doc_id, span_idx) struct, and the dup check joins back on the same
    * hash key — two shuffles total on one key, with the final per-doc
    * rollup combinable as well. Nothing is all-pairs and no state is
    * driver-side. */
  def spanDedup(docs: DataFrame, spanTokens: Int = 16): DataFrame = {
    val spans = docs
      .withColumn("__toks", split(col("text"), " "))
      // native one-pass window digests (plans/SpanHashes, r17) — byte-equal
      // to posexplode(transform(sequence(0, ceil(n/k)-1),
      //   i -> unhex(md5(concat_ws(" ", slice(__toks, i*k+1, k))))))
      .select(col("doc_id"), posexplode(
        call_function("span_hashes", col("__toks"), lit(spanTokens), lit(spanTokens),
          lit(graft.plans.SpanHashes.FmtBin), lit(graft.plans.SpanHashes.Clamped))))
      .toDF("doc_id", "span_idx", "h")
    val first = spans.groupBy("h")
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("first"))
    spans.join(first, Seq("h"))
      .withColumn("__dup", struct(col("doc_id"), col("span_idx")) > col("first"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        graft.ops.Ops.rnd(
          col("dup_spans").cast("double") / col("n_spans").cast("double"), 4)
          .as("dup_frac"))
  }

  /** (doc_id, pos, h): every overlapping `k`-token window of every doc of
    * ≥ k tokens, hashed — `unhex(md5(...))`, a 16-BYTE BINARY key, not the
    * 32-char hex string (same hash, half the bytes; hex is an
    * order-preserving byte-wise encoding, so every comparison/group/join
    * downstream is unchanged). The window table is the single largest
    * shuffle AND cache surface in the engine (one row per corpus token:
    * the election groupBy ships it, the MEMORY_AND_DISK session cache
    * holds it), so the key's width is THE scale knob — at the ×1000 rung
    * (~1 G windows) the hex→binary cut alone removes ~16 GB from each.
    * The hash never reaches an output (both consumers emit per-doc
    * counts), so the oracle — which keys on DuckDB's own md5 hex — is
    * untouched. The tokenize + window + hash pass is the expensive half
    * of substringDedup, and its output is referenced twice there —
    * factored out so a session (or a pipeline, as a materialized corpus
    * column) computes it once. */
  def substringWindows(docs: DataFrame, k: Int): DataFrame =
    docs
      .withColumn("__toks", split(col("text"), " "))
      .filter(size(col("__toks")) >= k)
      // native one-pass sliding digests (plans/SpanHashes, r17): no slice
      // copy, no joined string, no md5-hex → unhex round-trip per window —
      // byte-equal to posexplode(transform(sequence(0, n-k),
      //   i -> unhex(md5(concat_ws(" ", slice(__toks, i+1, k))))))
      .select(col("doc_id"), posexplode(
        call_function("span_hashes", col("__toks"), lit(k), lit(1),
          lit(graft.plans.SpanHashes.FmtBin), lit(graft.plans.SpanHashes.Sliding))))
      .toDF("doc_id", "pos", "h")
      // k rides the hash column's metadata so a consumer can detect a
      // window table built at a different k than its own argument
      .withColumn("h", col("h").as("h",
        new org.apache.spark.sql.types.MetadataBuilder().putLong("k", k).build()))

  /** Session-cached window table for the standard k (see substringWindows). */
  def substringWindowTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                           k: Int): DataFrame =
    graft.core.FeatureCache.cached(spark, dir, s"substr_windows_$k")(
      substringWindows(graft.core.Tables.documents(spark, dir), k))

  /** Shared spine of substringDedup / substringSpans over a
    * `substringWindows` table built at `k`: windows flagged as duplicates
    * (first-occurrence election over the ≥2× hash table), with the
    * streaming-interval-union helper columns (__prev_end, __new_span,
    * __contrib, __end). See substringDedup's scaladoc for the scale
    * argument. */
  private def substringFlagged(wins: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    // a window table built at a different k would silently corrupt the
    // span arithmetic (__end, removable_frac) — the table carries its k
    // in the hash column's metadata (substringWindows). ABSENT metadata is
    // also a failure (r12 ADVICE): Spark drops column metadata through
    // some transformations and non-Parquet round-trips, and a k-mismatched
    // table arriving via such a path would otherwise pass the guard
    // silently.
    val m = wins.schema("h").metadata
    require(m.contains("k"),
      "the window table lost its k metadata (schema(\"h\").metadata) — rebuild it " +
        "via substringWindows/substringWindowTable rather than a " +
        "metadata-stripping round-trip, so the k guard can check it")
    require(m.getLong("k") == k,
      s"the window table was built at k=${m.getLong("k")}, query asked for k=$k")
    // first-occurrence key: the hazard-free struct order. The oracle
    // packs doc_id*10^9+pos instead (identical order below a billion
    // tokens/doc, GUARDED with error() past it — a struct MIN there
    // OOM-kills DuckDB at the x30 rung, measured r13); the engine keeps
    // the struct form, which Spark's agg handles fine distributed
    val packed = struct(col("doc_id"), col("pos"))
    // only hashes seen ≥2× matter to the dup check: filtering the election
    // table before the join-back shrinks its build side from |distinct
    // windows| (≈ corpus tokens) to |duplicated windows| — a few percent
    // on CLEAN corpora, where the probe side streams through a broadcast
    // instead of shuffling the whole window table a second time. On dirty
    // web crawls (10-30% duplicated-window mass is typical pre-dedup) the
    // ≥2× table outgrows the broadcast threshold and the join degrades
    // GRACEFULLY to a hash-shuffle join — still one corpus scan plus one
    // window-table shuffle, never all-pairs; the broadcast is an
    // optimization for the common case, not a correctness assumption
    val first = wins.groupBy("h")
      .agg(min(packed).as("first_key"), count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select(col("h"), col("first_key"))
    val flagged = wins.join(first, Seq("h"), "left")
      .withColumn("__dup", col("first_key").isNotNull && packed > col("first_key"))
      .withColumn("__end", col("pos") + k)
    // streaming interval union over this doc's PRECEDING dup windows:
    // max ignores the nulls non-dup rows contribute
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    flagged
      // materialized once: two inline .over() copies would plan two
      // identical window expressions
      .withColumn("__prev_end", max(when(col("__dup"), col("__end"))).over(w))
      .withColumn("__new_span",
        col("__dup") && (col("__prev_end").isNull || col("pos") > col("__prev_end")))
      .withColumn("__contrib", when(col("__dup"),
        col("__end") - greatest(coalesce(col("__prev_end"), col("pos")), col("pos")))
        .otherwise(0L))
  }

  /** The merged maximal removable spans themselves — (doc_id, span_start,
    * span_end), token positions, end exclusive. Same spine as
    * substringDedup; the group id is the running count of span starts, so
    * the (doc_id, grp) rollup reuses the doc_id window exchange. */
  def substringSpans(wins: DataFrame, k: Int): DataFrame = {
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    substringFlagged(wins, k)
      .withColumn("__grp",
        sum(when(col("__new_span"), 1L).otherwise(0L)).over(wCum))
      .filter(col("__dup"))
      .groupBy("doc_id", "__grp")
      .agg(min(col("pos")).as("span_start"), max(col("__end")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** The cleaning pass the substringDedup accounting exists for: cut every
    * removable span out of every document and emit the retained text —
    * ExactSubstr applied, not just reported. Every doc comes back (a doc
    * with no dup spans keeps its text verbatim; a whole-doc duplicate of
    * an earlier doc comes back EMPTY — the first occurrence elsewhere
    * keeps the content, the paper's remove-all-but-one semantics).
    *
    * Scale shape: spans aggregate to one array per affected doc (merged
    * spans are disjoint, few per doc); the corpus joins them on doc_id
    * (one linear shuffle) and the cut itself is a pure codegen'd
    * higher-order filter over the token array — no explode of corpus
    * tokens, no re-tokenize, no driver state. Takes the corpus and its
    * `substringWindows` table built at `k`. */
  def substringClean(docs: DataFrame, wins: DataFrame, k: Int): DataFrame = {
    val spans = substringSpans(wins, k)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("__spans"))
    docs
      .withColumn("__toks", split(col("text"), " "))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("__kept", when(col("__spans").isNull, col("__toks"))
        .otherwise(filter(col("__toks"), (t, i) =>
          !exists(col("__spans"), sp =>
            i >= sp.getField("s") && i < sp.getField("e")))))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("kept_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("removed_tokens"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }

  /** Cross-document exact-substring dedup — the ExactSubstr rule of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better") re-expressed for a distributed engine: any `k`-token span
    * that occurs more than once ANYWHERE in the corpus (within or across
    * documents) is a duplicate, the first occurrence (min (doc_id, pos))
    * is kept, and every later occurrence is removable. Unlike `spanDedup`
    * (the C4 fixed-grid rule), windows here OVERLAP at stride 1 — a
    * repeated passage is caught at every alignment, so runs of duplicate
    * windows merge into maximal removable spans exactly like the paper's
    * suffix-array intervals. Emits per-doc accounting a cleaning pass cuts
    * on: window/dup counts, merged-span count, removable token count and
    * fraction. Documents shorter than `k` tokens have no window and are
    * omitted (trivially nothing to remove).
    *
    * Scale shape: the suffix array of the paper is a single-machine
    * construction; the distributed equivalent is hash-grouping the n
    * overlapping windows (n = corpus tokens, shuffled as 16-byte binary
    * md5 keys — constant width regardless of k; see substringWindows on
    * the hex→binary cut). First-occurrence election is a
    * map-side-combinable MIN over the packed (doc_id, pos) key; only
    * hashes seen more than once survive to the join-back (a left join
    * against the small duplicated-hash table — broadcastable, so the
    * window table shuffles once, for the election, not twice), and the
    * span merge is a
    * per-document streaming interval union: ONE window over doc_id whose
    * running max of preceding dup-window ends turns each dup row into a
    * new-span flag plus an uncovered-length contribution (equal-length
    * intervals sorted by pos can never be fully covered by their
    * predecessors, so the contribution is exact without clipping). The
    * final per-doc rollup groups on doc_id and reuses the window's
    * exchange — three linear shuffles total, no all-pairs stage, no
    * driver state. Takes the `substringWindows` table built at `k`
    * (`substringWindowTable` in a session); a table built at another k is
    * rejected. */
  def substringDedup(wins: DataFrame, k: Int): DataFrame =
    substringFlagged(wins, k)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("dup_windows"),
        sum(when(col("__new_span"), 1L).otherwise(0L)).as("dup_spans"),
        sum(col("__contrib")).as("removable_tokens"))
      .select(col("doc_id"), col("n_windows"), col("dup_windows"),
        col("dup_spans"), col("removable_tokens"),
        // n_tokens = n_windows + k - 1 for every doc that has a window,
        // so the fraction needs no second corpus scan
        graft.ops.Ops.rnd(col("removable_tokens").cast("double") /
          (col("n_windows") + (k - 1)).cast("double"), 4).as("removable_frac"))

  /** 32-bit SimHash: bit j votes with the high bit of nibble j of each
    * token's md5; majority sign wins. Emitted as a 32-char bit string (no
    * cross-engine integer-parsing hazards). */
  def simhash(docs: DataFrame): DataFrame = {
    // md5 materialized pre-aggregate (hashed once per row, not 32×)
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("tok"))
    val votes = (0 until 32).map(j =>
      sum(when(substring(col("tok"), j + 1, 1) >= "8", 1)
        .otherwise(-1)).as(s"v$j"))
    val bits = (0 until 32).map(j => when(col(s"v$j") > 0, "1").otherwise("0"))
    toks.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), concat(bits: _*).as("simhash"))
  }
}
