package graft

import org.apache.spark.sql.functions._

/** Tokenizer induction (ext/Vocab) and the per-source quota sampler
  * (ext/Corpus.sourceQuota). charPairStats and sourceQuota values are
  * oracle-pinned (bpe_merge_pairs / source_quota in tools/check.py); these
  * tests pin what the oracle can't see — the iterative bpeLearn loop (no
  * SQL oracle can replay a driver loop), greedy merge semantics, the
  * equivalence of the two pair formulations, and the quota sampler's
  * incremental-refresh stability.
  */
class VocabSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = core.Tables.documents(spark, sf0001)

  test("bpeLearn reproduces the classic BPE example, ties broken lexically") {
    // Sennrich's worked example: newest/widest share -est, low/lower share
    // lo-. Hand-computed pair counts: es=st=9 (tie -> (e,s) by sym_a order),
    // then (es,t)=9, then lo=ow=7 (tie -> (l,o)).
    val corpus = Seq(
      (("low " * 5) + ("lower " * 2) + ("newest " * 6) + ("widest " * 3)).trim)
      .toDF("text")
    val merges = ext.Vocab.bpeLearn(corpus, 3)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o")),
      s"learned $merges")
  }

  test("bpeLearn merges greedily left-to-right and stops when no pairs remain") {
    // "aaa" under (a,a) must become [aa, a] (leftmost first, no overlap),
    // then (aa,a) -> [aaa]; with every word a single symbol the loop ends
    // early even though the budget allows 5 merges.
    val corpus = Seq("aaa aaa").toDF("text")
    val merges = ext.Vocab.bpeLearn(corpus, 5)
    assert(merges == Seq(("a", "a"), ("aa", "a")), s"learned $merges")
  }

  test("bpeLearnBatched learns the EXACT sequential list across batch sizes") {
    // the conservative accept rule (contiguous disjoint prefix + strict
    // count drop at the boundary) claims list-equality, not similarity —
    // pin it on the real corpus and on Sennrich's example for several
    // batch widths, including one wider than the merge budget
    val seq30 = ext.Vocab.bpeLearn(docs, 30)
    for (b <- Seq(1, 2, 4, 8, 64))
      assert(ext.Vocab.bpeLearnBatched(docs, 30, b) == seq30,
        s"batch=$b diverged from the sequential list")
    val sennrich = Seq(
      (("low " * 5) + ("lower " * 2) + ("newest " * 6) + ("widest " * 3)).trim)
      .toDF("text")
    assert(ext.Vocab.bpeLearnBatched(sennrich, 3, 8) ==
      ext.Vocab.bpeLearn(sennrich, 3))
  }

  test("bpeLearnBatched tie-storm: boundary ties trim back to sequential behavior") {
    // every pair count equal — a naive batch would accept several merges
    // whose interleaving the sequential argmax may order differently once
    // earlier merges create new pairs; the strict-drop rule must degrade
    // to one merge per round and still match exactly
    val corpus = Seq(Seq("zab", "cd", "ef", "gh").map(w => (w + " ") * 10)
      .mkString(" ").trim).toDF("text")
    // counts: (z,a)=(a,b)=(c,d)=(e,f)=(g,h)=10 — all tied; after (a,b)
    // merges, (z,ab)=10 appears while (z,a) drops to 0
    val seq = ext.Vocab.bpeLearn(corpus, 5)
    for (b <- Seq(2, 3, 5))
      assert(ext.Vocab.bpeLearnBatched(corpus, 5, b) == seq,
        s"batch=$b diverged under full-tie counts (got ${
          ext.Vocab.bpeLearnBatched(corpus, 5, b)} want $seq)")
  }

  test("bpeLearnBatched self-pair barrier: (a,a) merges spawn (aa,a) at full " +
      "count — the batch must close behind them") {
    // the live-caught divergence (the zipf bench corpus): sequential learns
    // (a,a) then the DERIVED (aa,a) then (aa,aaa); a batch that keeps
    // accepting disjoint pairs after (a,a) leapfrogs both derived merges
    val corpus = Seq((("aaaaaa " * 20) + ("fg " * 15) + ("hi " * 12)).trim)
      .toDF("text")
    val seq = ext.Vocab.bpeLearn(corpus, 6)
    assert(seq.take(2) == Seq(("a", "a"), ("aa", "aa")) ||
      seq.head == ("a", "a"), s"fixture must start with the self-pair: $seq")
    for (b <- Seq(2, 4, 6))
      assert(ext.Vocab.bpeLearnBatched(corpus, 6, b) == seq,
        s"batch=$b diverged on the self-pair corpus (got ${
          ext.Vocab.bpeLearnBatched(corpus, 6, b)} want $seq)")
  }

  test("charPairStats equals round-1 pairStats over the char decomposition") {
    // Two formulations of the same statistic: the oracle-checked substring
    // form and the symbol-array form bpeLearn iterates on. They must agree
    // on the full (unlimited) pair table.
    val viaChars = ext.Vocab.charPairStats(docs, Int.MaxValue)
      .select($"pair", $"pair_count")
    val words = ext.Vocab.wordFreq(docs).withColumn("syms",
      transform(sequence(lit(1), length($"word")), i => $"word".substr(i, lit(1))))
    val viaSyms = ext.Vocab.pairStats(words)
      .select(concat($"sym_a", $"sym_b").as("pair"), $"pair_count")
    assert(viaChars.exceptAll(viaSyms).count() == 0)
    assert(viaSyms.exceptAll(viaChars).count() == 0)
  }

  /** Local reference BPE: apply each merge in order, greedily
    * left-to-right non-overlapping — the textbook semantics encodeSyms'
    * column fold must reproduce. */
  private def refEncode(word: String, merges: Seq[(String, String)]): List[String] = {
    def one(syms: List[String], a: String, b: String): List[String] = syms match {
      case x :: y :: rest if x == a && y == b => (a + b) :: one(rest, a, b)
      case x :: rest => x :: one(rest, a, b)
      case Nil => Nil
    }
    merges.foldLeft(word.map(_.toString).toList) { case (s, (a, b)) => one(s, a, b) }
  }

  test("encodeSyms matches the reference greedy encoder on every short {a,b} word") {
    // Exhaustive over all 126 words of length 1-6 on {a,b}, under a merge
    // list exercising chained merges, merged-symbol-as-operand, and
    // overlap suppression. One DataFrame pass evaluates all words.
    val merges = Seq(("a", "a"), ("aa", "b"), ("b", "a"), ("aab", "ba"))
    val words = (1 to 6).flatMap(n =>
      (0 until (1 << n)).map(m =>
        (0 until n).map(i => if (((m >> i) & 1) == 0) "a" else "b").mkString))
    // three independent implementations must agree: the native codegen'd
    // expression (plans/BpeEncode), the pure column fold, and the local
    // reference encoder
    val got = words.toDF("word")
      .select($"word",
        ext.Vocab.encodeSyms($"word", merges).as("syms"),
        ext.Vocab.encodeSymsFold($"word", merges).as("fold"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getSeq[String](1).toList, r.getSeq[String](2).toList)).toMap
    words.foreach { w =>
      val (native, fold) = got(w)
      assert(native == refEncode(w, merges), s"word $w: native $native")
      assert(fold == native, s"word $w: fold $fold != native $native")
    }
  }

  test("fertility aggregates the per-word encode (learned merges round-trip)") {
    // Learn 4 merges on the corpus, then encode with them: fertility's
    // per-source sums must equal the locally-computed reference totals.
    val merges = ext.Vocab.bpeLearn(docs, 4)
    assert(merges.length == 4)
    val out = ext.Vocab.fertility(docs, merges)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val expected = docs.select($"source", $"text").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(w => r.getString(0) -> w))
      .groupBy(_._1).map { case (src, ws) =>
        src -> (ws.length.toLong,
          ws.map(x => refEncode(x._2, merges).length.toLong).sum,
          ws.map(_._2.length.toLong).sum)
      }
    assert(out == expected, s"got $out")
    // compression must be real: tokens strictly below chars, at or above words
    out.values.foreach { case (nw, nt, nc) => assert(nw <= nt && nt < nc) }
  }

  test("sourceQuota keeps min(cap, n) per source, equal to the window form") {
    val caps = Map("src0" -> 40L, "src1" -> 10L)
    val out = ext.Corpus.sourceQuota(docs, caps, 15L).cache()
    // sf0.001 has exactly 25 docs per source: src0 keeps all 25 (cap 40),
    // src1 truncates to 10, the tail to 15.
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("src0") == 25 && bySource("src1") == 10 &&
      bySource("src2") == 15, s"got $bySource")
    // The two-phase chunked prefix must equal the textbook single-window
    // rank (the shape it exists to replace at scale).
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(ext.Corpus.unitHash($"doc_id"), $"doc_id")
    val capCol = when($"source" === "src0", 40L)
      .when($"source" === "src1", 10L).otherwise(15L)
    val windowed = docs
      .withColumn("prior_docs", row_number().over(w).cast("long") - 1L)
      .filter($"prior_docs" < capCol)
      .select("doc_id", "source", "prior_docs")
    assert(out.exceptAll(windowed).count() == 0)
    assert(windowed.exceptAll(out).count() == 0)
    out.unpersist()
  }

  test("sourceQuota survivors are stable when another source shrinks") {
    // The incremental-refresh property the unitHash admission order buys:
    // a source's survivor set depends only on its OWN rows, so re-running
    // curation after another crawl is dropped must not reshuffle anyone.
    val caps = Map.empty[String, Long]
    val before = ext.Corpus.sourceQuota(docs, caps, 15L)
      .filter($"source" === "src1")
    val after = ext.Corpus.sourceQuota(docs.filter($"source" =!= "src2"), caps, 15L)
      .filter($"source" === "src1")
    assert(before.exceptAll(after).count() == 0)
    assert(after.exceptAll(before).count() == 0)
  }
}
