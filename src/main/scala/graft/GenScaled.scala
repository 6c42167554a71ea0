package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-similar full-board scale-up generator (VERDICT r10 item 2: the
  * whole query board had never run above sf0.1). Replicates EVERY testdata
  * table N× with disjoint key spaces, so the generated dir serves the
  * complete SparkEntry board through graft.Verify at an sf1-equivalent
  * size, drawn from the REAL sf0.1 distributions (replication preserves
  * them exactly — no synthetic-generator drift):
  *
  *   - key domains (custkey, orderkey, suppkey, partkey, event_id,
  *     doc_id, vec_id) get a per-replica stride = max(key)+1, applied
  *     consistently to PKs and FKs, so per-user/per-order structure is
  *     untouched and replica users are disjoint;
  *   - `documents.text` goes through a per-replica alphabet SUBSTITUTION
  *     CIPHER (a keyed permutation of [a-z0-9] via translate()):
  *     within-replica shingle/jaccard/token structure is preserved
  *     bijectively BY CONSTRUCTION, lengths and spaces are untouched
  *     (n_chars stays consistent), and different replica permutations
  *     diverge at nearly every character so cross-replica similarity
  *     collapses — without this, replica copies of every doc are mutual
  *     near-dups and the pair generators measure a quadratic DATA
  *     artifact, not the plan;
  *   - `embeddings.embedding` gets a per-replica diagonal ±1 sign flip
  *     (md5-keyed per (replica, dim)): an orthogonal transform, so every
  *     within-replica inner product is EXACTLY preserved while
  *     cross-replica cosines collapse to noise;
  *   - dims (region, nation) copy unchanged — they are fixed-size at any
  *     sf, like TPC-H's nation table.
  *
  * Replica 0 is transformed too (rename/flip with r=0), so the ×1 dir is
  * distribution-identical to every rung and ×1-vs-×N growth isolates
  * scale. Usage:
  *
  *   sbt "runMain graft.GenScaled /root/testdata/sf0.1 /tmp/graft-sf1 10"
  *   sbt "runMain graft.Verify /tmp/graft-sf1 /tmp/graft-sf1-out"
  *   python3 tools/check.py /tmp/graft-sf1 /tmp/graft-sf1-out
  */
object GenScaled {

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head.getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: GenScaled <srcDir> <outDir> <replicas>")
    val (src, out, reps) = (args(0), args(1), args(2).toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus)

    def replicate(df: DataFrame)(cols: (String, Column => Column)*): DataFrame = {
      val r = spark.range(reps).select(col("id").cast("int").as("__r"))
      val m = cols.toMap
      df.crossJoin(r).select(df.columns.toSeq.map { c =>
        m.get(c).fold(col(c))(f => f(col(c))).as(c)
      }: _*)
    }
    def shifted(s: Long): Column => Column = c => c + col("__r") * s

    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val sup = spark.read.parquet(s"$src/supplier.parquet")
    val prt = spark.read.parquet(s"$src/part.parquet")
    val ev = graft.core.Tables.events(spark, src) // nanos-ts normalized
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val (kCust, kOrd, kSupp, kPart) = (stride(cust, "c_custkey"),
      stride(ord, "o_orderkey"), stride(sup, "s_suppkey"), stride(prt, "p_partkey"))
    val (kEv, kDoc, kVec) = (stride(ev, "event_id"),
      stride(docs, "doc_id"), stride(emb, "vec_id"))

    replicate(cust)("c_custkey" -> shifted(kCust))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    replicate(sup)("s_suppkey" -> shifted(kSupp))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")
    replicate(prt)("p_partkey" -> shifted(kPart))
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    replicate(ord)("o_orderkey" -> shifted(kOrd), "o_custkey" -> shifted(kCust))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    replicate(li)("l_orderkey" -> shifted(kOrd), "l_partkey" -> shifted(kPart),
        "l_suppkey" -> shifted(kSupp))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // events.user_id lives in the custkey domain (the role mapping joins
    // it against customer-derived users), so it shifts by the SAME stride
    // — VERIFIED, not assumed: a user_id >= kCust would silently collide
    // with the next replica's key space and merge cross-replica per-user
    // aggregates (advisor finding, r11; mirrors the cipher's bijectivity
    // guard on documents)
    val maxUid = ev.agg(max(col("user_id").cast("long"))).head.getLong(0)
    require(maxUid < kCust,
      s"events.user_id max ($maxUid) outside the custkey stride ($kCust): " +
        "replica user spaces would overlap")
    replicate(ev)("event_id" -> shifted(kEv), "user_id" -> shifted(kCust))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // text rename: a per-replica SUBSTITUTION CIPHER on the alphabet —
    // bijective on tokens BY CONSTRUCTION (the first cut, md5-prefix
    // truncation, was not: a length-L prefix has only 16^L values, and on
    // the real corpus 1-char tokens collided across replicas at reps=10 —
    // code-review finding). translate() preserves spaces (not in the
    // alphabet) and every length, so token boundaries, token lengths and
    // n_chars all stay consistent; different replica permutations make
    // cross-replica texts diverge at nearly every character, collapsing
    // cross-replica near-dup similarity.
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    def perm(r: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      def h(c: Char): String = md.digest(s"$r|$c".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      alpha.toSeq.sortBy(c => (h(c), c)).mkString
    }
    val renamed: Column => Column = t =>
      (1 until reps).foldLeft(
        when(col("__r") === 0, translate(t, alpha, perm(0)))) { (acc, r) =>
        acc.when(col("__r") === r, translate(t, alpha, perm(r)))
      }
    replicate(docs)("doc_id" -> shifted(kDoc), "text" -> renamed)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // diagonal ±1 per (replica, dim): orthogonal within-replica, noise across
    val flipped: Column => Column = e => transform(e, (x, i) =>
      (x * when(conv(substring(md5(concat(col("__r"), lit("|"), i)), 1, 2),
        16, 10).cast("int") % 2 === 0, lit(1.0f)).otherwise(lit(-1.0f)))
        .cast("float"))
    replicate(emb)("vec_id" -> shifted(kVec), "embedding" -> flipped)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // structure guard: WITHIN each replica the rename must be bijective
    // (that is the property the rung's "within-replica structure
    // preserved" claim rests on; the cipher guarantees it by construction
    // — this check catches a future rename regression). Cross-replica
    // token coincidences are allowed: exact-zero cross-collisions is a
    // pigeonhole impossibility for 1-char tokens, and document-level
    // near-dup artifacts need broad shingle overlap, not a shared token.
    // Replica identity is recovered from the doc_id stride.
    val srcV = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).select("w").distinct().count()
    val perReplica = spark.read.parquet(s"$out/documents.parquet")
      .select(floor(col("doc_id") / kDoc).as("__r"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("__r").agg(countDistinct(col("w")).as("v"))
      .select(min(col("v")).as("lo"), max(col("v")).as("hi")).head
    require(perReplica.getLong(0) == srcV && perReplica.getLong(1) == srcV,
      s"rename broke within-replica bijectivity: source $srcV tokens, " +
        s"replicas carry [${perReplica.getLong(0)}, ${perReplica.getLong(1)}]")

    println(s"[gen-scaled] wrote $out at ${reps}x of $src " +
      s"(events=${spark.read.parquet(s"$out/events.parquet").count()}, " +
      s"lineitem=${spark.read.parquet(s"$out/lineitem.parquet").count()}, " +
      s"docs=${spark.read.parquet(s"$out/documents.parquet").count()})")
    spark.stop()
  }
}
