package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference forms of the LSH candidate joins and their overflow accounting,
  * composed from the production building blocks. No query runs them: the
  * production paths read the session-cached tables (`Dedup.candidatePairTable`,
  * `Similarity.cosineNearDupsCached`). The specs use them to check the
  * candidate sets and the size caps on uncached inputs, including
  * synthetic corpora (`DataGen`).
  */
object LshReference {

  /** Embedding LSH candidate pairs straight from an embeddings frame. */
  def lshCandidates(embeddings: DataFrame,
                    maxBucket: Int = Similarity.MaxBucketSize): DataFrame =
    Similarity.candidatesFrom(Similarity.cappedFrom(Similarity.withBuckets(embeddings), maxBucket))

  /** The embedding buckets the cap drops (a spike means degenerate content
    * flooding one bucket). */
  def overflowBuckets(embeddings: DataFrame,
                      maxBucket: Int = Similarity.MaxBucketSize): DataFrame =
    Similarity.lshBuckets(Similarity.withBuckets(embeddings)).filter(col("n_vectors") > maxBucket)

  /** MinHash candidate pairs straight from a documents frame. */
  def minhashPairs(docs: DataFrame): DataFrame =
    Dedup.minhashPairsPre(Dedup.minhashSignaturesPre(Dedup.withShingles(docs).select("doc_id", "sh")))

  /** The MinHash band buckets the `minhashPairsPre` cap drops. */
  def minhashOverflowBuckets(sig: DataFrame, maxBucket: Int = Dedup.MaxBucket): DataFrame =
    Dedup.minhashBands(sig)
      .groupBy("band", "h")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") > maxBucket)

  /** The SimHash band buckets the `simhashPairs` cap drops. */
  def simhashOverflowBuckets(sig: DataFrame, maxBucket: Int = Dedup.MaxBucket): DataFrame =
    Dedup.simhashBands(sig)
      .groupBy("band", "bb")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") > maxBucket)
}
