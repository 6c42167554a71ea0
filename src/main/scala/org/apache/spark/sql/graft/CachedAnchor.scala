package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** The one `private[sql]` escape hatch the engine uses (hence the package):
  * re-anchor a persisted DataFrame on its own `InMemoryRelation`, so
  * downstream plans carry a one-node leaf instead of the full build
  * lineage.
  *
  * Why it matters: `persist()` does NOT shorten the logical plan — every
  * Dataset built ON TOP of a cached frame re-walks the entire build tree
  * during analysis (join deduplication, canonicalization for the cache
  * lookup). For the incremental-ladder states the build tree is thousands
  * of nodes (a 3-day backfill/step/tail fold per source), and the walk cost
  * recurs on EVERY consumer query — measured 0.3–0.7 s of pure driver time
  * per bench run (PERF.md, round 16 OPTIMIZATION pass). Substituting the
  * `InMemoryRelation` leaf is exactly what `QueryExecution.withCachedData`
  * would do anyway at execution; doing it once at cache-publish time makes
  * the per-consumer analysis O(consumer), not O(build lineage).
  *
  * The IMR's output attributes are the build plan's own output (same
  * exprIds), so name resolution downstream is unchanged; eviction safety is
  * unchanged too — an `InMemoryRelation` whose blocks are dropped
  * recomputes from the child plan it still carries.
  */
object CachedAnchor {

  /** The persisted frame re-anchored on its `InMemoryRelation`, or the
    * frame itself if it is not (yet) registered with the CacheManager. */
  def anchor(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[_]]
    val spark = ds.sparkSession.asInstanceOf[ClassicSession]
    spark.sharedState.cacheManager.lookupCachedData(ds) match {
      case scala.Some(cd) => Dataset.ofRows(spark, cd.cachedRepresentation)
      case scala.None => df
    }
  }
}
