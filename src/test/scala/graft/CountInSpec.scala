package graft

import org.apache.spark.sql.functions._

/** Parity pins for the r17 native `count_in` (plans/CountIn) against the
  * `size(filter(arr, isin))` tree it replaced, and for the rewritten
  * doc_fingerprints min-shingle hash against its old interpreted form. */
class CountInSpec extends SparkSpec {
  import spark.implicits._

  test("count_in equals size(filter(isin)) on real documents and edge rows") {
    val words = Seq("the", "a", "of", "and", "to", "in", "is")
    def old(arr: org.apache.spark.sql.Column) =
      size(filter(arr, x => x.isin(words.map(lit): _*)))
    def nat(arr: org.apache.spark.sql.Column) =
      call_function("count_in", arr, array(words.map(lit): _*))
    val docs = core.Tables.documents(spark, sf0001).select("text")
      .unionByName(Seq(null, "", " the ", "the the the", "THE In is a",
        "no stop words here").toDF("text"))
      .withColumn("t", split(col("text"), " "))
    val bad = docs.select(nat(col("t")).as("n"), old(col("t")).as("o"))
      .filter(!(col("n") <=> col("o")))
    assert(bad.count() == 0, "count_in must equal the filter/isin tree")
    // null array → null, like size(filter(null))
    val r = Seq((1, None: Option[Seq[String]])).toDF("id", "t")
      .select(nat(col("t"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("doc_fingerprints equals its pre-r17 interpreted form row for row") {
    // real docs only: the prefix_fp expression (shared by both forms)
    // requires the documents contract of >= 5 tokens (ANSI element_at)
    val docs = core.Tables.documents(spark, sf0001).select("doc_id", "text")
    val t = split(col("text"), " ")
    val prefix = md5(concat_ws(" ",
      element_at(t, 1), element_at(t, 2), element_at(t, 3),
      element_at(t, 4), element_at(t, 5)))
    val oldOut = ext.Dedup.withShingles(docs)
      .select(col("doc_id"), prefix.as("prefix_fp"),
        array_min(transform(col("sh"), x => md5(x))).as("min_shingle_fp"))
    val newOut = ext.TextAnalysis.fingerprints(docs)
    assert(newOut.exceptAll(oldOut).isEmpty && oldOut.exceptAll(newOut).isEmpty,
      "fingerprints rows must be identical under the native kernels")
  }

  test("min-shingle fingerprint degrade branch matches the old tree on short/null docs") {
    val rows = Seq(null, "", "one", "two tokens", "exactly three tokens",
      "a b c d e f").toDF("text")
      .withColumn("__toks", split(col("text"), " "))
    val oldMin = array_min(transform(
      ext.Dedup.shinglesOf(col("__toks"), col("text")), x => md5(x)))
    val newMin = when(size(col("__toks")) >= 3,
      array_min(call_function("span_hashes", col("__toks"), lit(3), lit(1),
        lit(graft.plans.SpanHashes.FmtHex), lit(graft.plans.SpanHashes.Sliding))))
      .otherwise(md5(col("text")))
    val bad = rows.select(newMin.as("n"), oldMin.as("o"))
      .filter(!(col("n") <=> col("o")))
    assert(bad.count() == 0, "min-shingle degrade must match the old tree")
  }
}
