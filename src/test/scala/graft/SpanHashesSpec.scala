package graft

import org.apache.spark.sql.functions._

import graft.plans.SpanHashes.{Clamped, FmtBin, Sliding}

/** Byte-equality pins for the r17 native window-digest kernel
  * (plans/SpanHashes) against the interpreted trees it replaced in
  * ext/Dedup.spanDedup (stride = k) and ext/Dedup.substringWindows
  * (stride = 1). The hashes key the engine's largest shuffle/cache surface
  * and the span-dedup elections, so a single differing byte anywhere
  * changes oracle-checked counts. */
class SpanHashesSpec extends SparkSpec {
  import spark.implicits._

  /** The raw-digest form at an explicit window mode. */
  private def spanHashes(toks: org.apache.spark.sql.Column, k: Int, stride: Int,
                         mode: Int) =
    call_function("span_hashes", toks, lit(k), lit(stride), lit(FmtBin), lit(mode))

  private def oldSpanTree(toks: org.apache.spark.sql.Column, k: Int) =
    transform(
      sequence(lit(0), ceil(size(toks).cast("double") / k).cast("int") - 1),
      i => unhex(md5(concat_ws(" ", slice(toks, i * k + 1, lit(k))))))

  private def oldSlideTree(toks: org.apache.spark.sql.Column, k: Int) =
    transform(
      sequence(lit(0), size(toks) - k),
      i => unhex(md5(concat_ws(" ", slice(toks, i + 1, lit(k))))))

  test("span form (stride = k) equals the interpreted tree on real documents") {
    val docs = core.Tables.documents(spark, sf0001).select("text")
      .withColumn("__toks", split(col("text"), " "))
    Seq(3, 16).foreach { k =>
      val bad = docs.select(
          spanHashes(col("__toks"), k, k, Clamped).as("native"),
          oldSpanTree(col("__toks"), k).as("old"))
        .filter(!(col("native") <=> col("old")))
      assert(bad.count() == 0, s"span_hashes(k=$k, stride=$k) must equal the old tree")
    }
  }

  test("sliding form (stride = 1) equals the interpreted tree under its n >= k guard") {
    val docs = core.Tables.documents(spark, sf0001).select("text")
      .withColumn("__toks", split(col("text"), " "))
    Seq(2, 8, 12).foreach { k =>
      val bad = docs.filter(size(col("__toks")) >= k).select(
          spanHashes(col("__toks"), k, 1, Sliding).as("native"),
          oldSlideTree(col("__toks"), k).as("old"))
        .filter(!(col("native") <=> col("old")))
      assert(bad.count() == 0, s"span_hashes(k=$k, stride=1) must equal the old tree")
    }
  }

  test("degenerate inputs: null text, empty string, short docs, repeated spaces") {
    val rows = Seq(null, "", " ", "  a  b ", "one", "one two three four five")
      .toDF("text").withColumn("__toks", split(col("text"), " "))
    val both = rows.select(
      spanHashes(col("__toks"), 3, 3, Clamped).as("native"),
      oldSpanTree(col("__toks"), 3).as("old"))
    assert(both.filter(!(col("native") <=> col("old"))).count() == 0)
    // sliding form with n < k yields an EMPTY array (the operator always
    // filters n >= k first; the old tree was undefined under the guard)
    val short = rows.filter(col("text").isNotNull)
      .select(spanHashes(col("__toks"), 50, 1, Sliding).as("h"))
      .collect()
    assert(short.forall(_.getSeq[Array[Byte]](0).isEmpty))
  }

  test("the window mode is explicit: the three-argument form fails naming span_hashes") {
    val msg = failureOf("SELECT span_hashes(array('a', 'b', 'c'), 2, 1)")
    assert(msg.contains("span_hashes(toks, k, stride, format, clamped) takes five arguments"),
      msg)
  }

  test("hex format (chunk_windows) equals the interpreted strided md5-hex tree") {
    val docs = core.Tables.documents(spark, sf0001).select("text")
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("__n", size(col("__toks")))
    // the old chunkWindows lambda, verbatim: count floor((n-1)/stride)+1,
    // md5 HEX over the clamped window. (4, 1) is the session-3 regression
    // shape: a stride-1 caller with CLAMPED semantics — the omitted-arg
    // default would wrongly slide (n−k+1 full windows, no clamped tail)
    for ((chunk, stride) <- Seq((64, 48), (8, 3), (5, 5), (4, 1))) {
      val old = transform(
        sequence(lit(0), floor(greatest(col("__n") - 1, lit(0)) / stride).cast("int")),
        i => md5(concat_ws(" ", slice(col("__toks"), i * stride + 1, lit(chunk)))))
      val bad = docs.select(
          call_function("span_hashes", col("__toks"), lit(chunk), lit(stride),
            lit(graft.plans.SpanHashes.FmtHex),
            lit(graft.plans.SpanHashes.Clamped)).as("native"),
          old.as("old"))
        .filter(!(col("native") <=> col("old")))
      assert(bad.count() == 0,
        s"hex span_hashes(k=$chunk, stride=$stride) must equal the old tree")
    }
  }

  test("string format (bigram builders) equals the interpreted concat_ws trees") {
    val docs = core.Tables.documents(spark, sf0001).select("text")
      .withColumn("__toks", split(col("text"), " "))
      .filter(size(col("__toks")) >= 2)
    // dsirWeights' 0-based tree and repetitionStats' 1-based tree produce
    // the same list; pin the native form against both
    val old0 = transform(sequence(lit(0), size(col("__toks")) - 2),
      i => concat_ws(" ", element_at(col("__toks"), i + 1),
        element_at(col("__toks"), i + 2)))
    val old1 = transform(sequence(lit(1), size(col("__toks")) - 1),
      i => concat_ws(" ", element_at(col("__toks"), i),
        element_at(col("__toks"), i + 1)))
    val bad = docs.select(
        call_function("span_hashes", col("__toks"), lit(2), lit(1),
          lit(graft.plans.SpanHashes.FmtStr), lit(Sliding)).as("native"),
        old0.as("o0"), old1.as("o1"))
      .filter(!(col("native") <=> col("o0")) || !(col("native") <=> col("o1")))
    assert(bad.count() == 0, "string span_hashes(k=2) must equal both bigram trees")
  }

  test("spanDedup and the substring window table are unchanged by the native kernel") {
    val docs = core.Tables.documents(spark, sf0001)
    // recompute spanDedup with the OLD tree, verbatim, and compare rows
    val oldSpans = docs
      .withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id"), posexplode(oldSpanTree(col("__toks"), 16)))
      .toDF("doc_id", "span_idx", "h")
    val oldFirst = oldSpans.groupBy("h")
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("first"))
    val oldOut = oldSpans.join(oldFirst, Seq("h"))
      .withColumn("__dup", struct(col("doc_id"), col("span_idx")) > col("first"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        graft.ops.Ops.rnd(
          col("dup_spans").cast("double") / col("n_spans").cast("double"), 4)
          .as("dup_frac"))
    val newOut = ext.Dedup.spanDedup(docs, 16)
    assert(newOut.exceptAll(oldOut).isEmpty && oldOut.exceptAll(newOut).isEmpty,
      "spanDedup rows must be identical under the native kernel")
  }
}
