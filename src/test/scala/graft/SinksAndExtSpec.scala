package graft

import graft.sinks.MergeByKey
import graft.ext.{Dedup, LshReference, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions.{col, explode, expr, length}

/** Merge-by-key upsert semantics (S9) and the ext/ operator sanity beyond
  * what the DuckDB oracles already pin. */
class SinksAndExtSpec extends SparkSpec {
  import spark.implicits._

  test("MergeByKey: updates win, untouched rows survive, new keys insert (S9)") {
    val current = Seq((1L, "old1"), (2L, "old2")).toDF("user_id", "v")
    val updates = Seq((2L, "new2"), (3L, "new3")).toDF("user_id", "v")
    val merged = MergeByKey.merge(current, updates, Seq("user_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged == Map(1L -> "old1", 2L -> "new2", 3L -> "new3"))
  }

  test("exact dedup keeps the smallest doc_id per content hash") {
    val docs = Seq((10L, "same text"), (3L, "same text"), (7L, "unique"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs).collect()
      .map(r => r.getAs[Long]("dup_count") -> r.getAs[Long]("keeper_doc_id")).toSet
    assert(out == Set(2L -> 3L, 1L -> 7L))
  }

  test("jaccard pairs detect planted near-dups; minhash candidates cover them") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val verified = Dedup.jaccardPairs(Dedup.shingleTable(spark, sf0001),
        Dedup.candidatePairTable(spark, sf0001), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assume(verified.nonEmpty, "corpus plants near-duplicates")
    val candidates = LshReference.minhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(candidates),
      s"LSH candidates must cover verified pairs; missing ${verified -- candidates}")
  }

  test("substring dedup: overlapping dup windows merge into maximal removable spans") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // owns every first occurrence
      (2L, "x y c d e f g z"),     // shares the 5-token passage "c d e f g"
      (3L, "p q r s p q r s"),     // WITHIN-doc repeat of "p q r s"
      (4L, "u v w")                // shorter than k: no window, omitted
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(Dedup.substringWindows(docs, 4), 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(!out.contains(4L), "sub-k docs have no window row")
    assert(out(1L) == ((7L, 0L, 0L, 0L, 0.0)), s"doc1: ${out(1L)}")
    // doc2's dup windows at pos 2 and 3 merge: [2,6) U [3,7) = [2,7) —
    // ONE span of 5 removable tokens out of 8
    assert(out(2L) == ((5L, 2L, 1L, 5L, 0.625)), s"doc2: ${out(2L)}")
    // doc3: window at pos 4 repeats pos 0's "p q r s" — 4 of 8 removable
    assert(out(3L) == ((5L, 1L, 1L, 4L, 0.5)), s"doc3: ${out(3L)}")
  }

  test("substring/span window keys shuffle as 16-byte BINARY, not hex strings") {
    // the window table is the engine's largest shuffle+cache surface (one
    // row per corpus token); its key width is THE scale knob — r16 cut it
    // hex→binary (unhex(md5)), worth ~16 GB per surface at the ×1000 rung.
    // A regression back to StringType would silently double both.
    import org.apache.spark.sql.types.BinaryType
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    assert(Dedup.substringWindows(docs, 3).schema("h").dataType == BinaryType,
      "substringWindows key must stay unhex(md5) binary")
  }

  test("substring dedup rejects a window table built at a different k") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val wins = Dedup.substringWindows(docs, 3)
    val e = intercept[IllegalArgumentException] {
      Dedup.substringDedup(wins, 4)
    }
    assert(e.getMessage.contains("k=3"), e.getMessage)
  }

  test("substring dedup rejects a window table whose k metadata was stripped") {
    // Spark drops column metadata through some transformations and
    // non-Parquet round-trips; a k-mismatched table arriving via such a
    // path must FAIL the guard, not silently pass it (r12 ADVICE)
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val stripped = Dedup.substringWindows(docs, 4)
      // Alias over a bare attribute PROPAGATES metadata; an Alias over any
      // non-attribute expression (here a value-preserving coalesce) does not
      .select(col("doc_id"), col("pos"),
        org.apache.spark.sql.functions.coalesce(col("h"), col("h")).as("h"))
    val e = intercept[IllegalArgumentException] {
      Dedup.substringDedup(stripped, 4)
    }
    assert(e.getMessage.contains("lost its k metadata"), e.getMessage)
  }

  test("substring clean: removable spans are cut, verbatim docs pass through, clones empty") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y c d e f g z"),
      (3L, "p q r s p q r s"),
      (4L, "u v w"),               // sub-k: untouched, still present
      (5L, "a b c d e f g h i j") // whole-doc clone of doc 1: comes back empty
    ).toDF("doc_id", "text")
    val out = Dedup.substringClean(docs, Dedup.substringWindows(docs, 4), 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out.size == 5, "every doc returns")
    assert(out(1L) == ((10L, 10L, 0L, "a b c d e f g h i j")), s"doc1: ${out(1L)}")
    assert(out(2L) == ((8L, 3L, 5L, "x y z")), s"doc2: ${out(2L)}")
    assert(out(3L) == ((8L, 4L, 4L, "p q r s")), s"doc3: ${out(3L)}")
    assert(out(4L) == ((3L, 3L, 0L, "u v w")), s"doc4: ${out(4L)}")
    assert(out(5L) == ((10L, 0L, 10L, "")), s"doc5 must be fully removed: ${out(5L)}")
  }

  test("dsir weights match an independent reimplementation; target clones score target-like") {
    val corpus = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the dog sat on the rug", true),
      (3L, "zx qq ww ee rr tt yy uu", false),
      (4L, "the cat sat on the mat", false), // clone of target doc 1
      (5L, "solo", false))                   // <2 tokens: no feature, omitted
    val docs = corpus.toDF("doc_id", "text", "tgt")
    val out = graft.ext.Corpus.dsirWeights(docs, col("tgt")).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap

    // independent model: same buckets (first two md5 hex nibbles), raw
    // occurrence counts, add-one masses, one fixed-shape double expression
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucketOf(bg: String) = Integer.parseInt(md5hex(bg).substring(0, 2), 16)
    val feats = corpus.collect { case (id, text, tgt) if text.split(" ").length >= 2 =>
      val cnts = text.split(" ").sliding(2).map(_.mkString(" "))
        .toSeq.groupBy(bucketOf).map { case (b, g) => b -> g.size.toLong }
      (id, tgt, cnts)
    }
    val rCnt = feats.flatMap(_._3).groupBy(_._1).map { case (b, g) => b -> g.map(_._2).sum }
    val tCnt = feats.filter(_._2).flatMap(_._3).groupBy(_._1)
      .map { case (b, g) => b -> g.map(_._2).sum }.withDefaultValue(0L)
    val (rTot, tTot) = (rCnt.values.sum, feats.filter(_._2).flatMap(_._3.values).sum)
    feats.foreach { case (id, tgt, cnts) =>
      val n = cnts.values.sum
      val tMass = cnts.map { case (b, c) => c * (tCnt(b) + 1) }.sum
      val rMass = cnts.map { case (b, c) => c * (rCnt(b) + 1) }.sum
      val score = math.floor((tMass.toDouble * (rTot + 256).toDouble) /
        (rMass.toDouble * (tTot + 256).toDouble) * 10000.0 + 0.5) / 10000.0
      assert(out(id) == ((tgt, n, tMass, rMass, score)), s"doc $id: ${out(id)}")
    }
    assert(!out.contains(5L), "featureless docs are omitted")
    assert(out(4L)._5 == out(1L)._5, "a clone of a target doc carries its exact score")
    assert(out(3L)._5 < out(1L)._5, "out-of-domain junk scores below target text")
  }

  test("dsir resample: exact systematic spans in unit-hash order, zero weights never picked") {
    val weights = Seq(
      (1L, 2.5), (2L, 0.0001), (3L, 0.0), (4L, 1.0), (5L, 0.3),
      (6L, 1.7), (7L, 0.9), (8L, 0.0), (9L, 4.2), (10L, 0.05))
    val k = 10
    val out = graft.ext.Corpus.dsirResample(
      weights.toDF("doc_id", "dsir_score"), k).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap

    // independent sampler: same Knuth unit hash, global cumsum, same spans
    def unitHash(id: Long): Double = {
      val K = 2654435761L
      val a = ((id % 4294967296L) + 4294967296L) % 4294967296L
      val h = a / 65536L; val l = a - h * 65536L
      val mixed = ((h * K) % 65536L) * 65536L + l * K
      (((mixed % 4294967296L) + 4294967296L) % 4294967296L).toDouble / 4.294967296e9
    }
    val wInt = weights.map { case (id, s) => id -> math.floor(s * 10000.0 + 0.5).toLong }
    val total = wInt.map(_._2).sum
    var lo = 0L
    val expected = wInt.sortBy { case (id, _) => (unitHash(id), id) }.flatMap {
      case (id, w) =>
        val picks = (lo + w) * k / total - lo * k / total
        lo += w
        if (picks > 0) Some(id -> picks) else None
    }.toMap
    assert(out == expected, s"got $out expected $expected")
    assert(out.values.sum == k, "systematic spans partition exactly k picks")
    assert(!out.contains(3L) && !out.contains(8L), "zero-weight docs never picked")
  }

  test("simhash signatures of near-dup pairs are close in Hamming distance") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val pairs = Dedup.jaccardPairs(Dedup.shingleTable(spark, sf0001),
      Dedup.candidatePairTable(spark, sf0001), 0.5).collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty)
    val sig = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (a, b) = pairs.head
    val ham = sig(a).zip(sig(b)).count { case (x, y) => x != y }
    assert(ham <= 6, s"near-dup simhash hamming=$ham of 32")
  }

  test("FloatVectorDot (codegen) is bit-identical to the higher-order fold") {
    val emb = graft.core.Tables.embeddings(spark, sf0001).limit(100)
    import org.apache.spark.sql.functions.col
    val both = emb.select(
      Similarity.dot(col("embedding"), col("embedding")).as("fold"),
      Similarity.dotNative(col("embedding"), col("embedding")).as("native"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("DecimalVectorDot matches the decimal fold bit-for-bit; non-finite nulls the sum") {
    import org.apache.spark.sql.functions._
    // the expression-tree form it replaced
    val fold = DecimalFastSpec.foldDot _
    val emb = graft.core.Tables.embeddings(spark, sf0001).limit(100)
      .select(col("embedding"), col("embedding").cast("array<double>").as("d"))
    // float x float, float x double (mixed widths), double x double
    val rows = emb.select(
      fold(col("embedding"), col("embedding")).as("f_ff"),
      call_function("decimal_vector_dot", col("embedding"), col("embedding")).as("n_ff"),
      fold(col("embedding"), col("d")).as("f_fd"),
      call_function("decimal_vector_dot", col("embedding"), col("d")).as("n_fd"),
      fold(col("d"), col("d")).as("f_dd"),
      call_function("decimal_vector_dot", col("d"), col("d")).as("n_dd")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == r.getDouble(3))
      assert(r.getDouble(4) == r.getDouble(5))
    }
    // interpreted eval path agrees with codegen
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val again = emb.select(
        fold(col("embedding"), col("d")).as("f"),
        call_function("decimal_vector_dot", col("embedding"), col("d")).as("n")).collect()
      again.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // a NaN/Inf product nulls the whole sum (the cast-to-decimal fold's result)
    val bad = Seq(Tuple1(Array(1.0, Double.NaN)), Tuple1(Array(1.0, 2.0)))
      .toDF("v")
      .select(call_function("decimal_vector_dot", col("v"), col("v")).as("s"))
      .collect()
    assert(bad.count(_.isNullAt(0)) == 1)
    assert(bad.exists(r => !r.isNullAt(0) && r.getDouble(0) == 5.0))
    // null elements and ragged lengths null the sum, same as the fold
    // (zip_with null-pads the shorter side; a null term nulls the fold)
    val edge = spark.sql(
      """SELECT
        |  decimal_vector_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(2.0d, 3.0d)) AS null_elem,
        |  decimal_vector_dot(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d)) AS ragged,
        |  decimal_vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS ok
        |""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1))
    assert(edge.getDouble(2) == 11.0)
    val edgeFold = Seq((Array[java.lang.Double](1.0, null), Array(2.0, 3.0)),
        (Array[java.lang.Double](1.0, 2.0, 3.0), Array(1.0, 2.0)))
      .toDF("a", "b")
      .select(fold(col("a"), col("b")).as("f")).collect()
    assert(edgeFold.forall(_.isNullAt(0)), "fold must agree: null on null-elem and ragged")
  }

  test("brute-force top-k is k rows per query, self excluded, ranks contiguous") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val topk = Similarity.bruteTopK(emb, 3, 5).collect()
    assert(topk.length == 15)
    val byQuery = topk.groupBy(_.getAs[Long]("query_id"))
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 5))
      rows.foreach(r => assert(r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    }
  }

  test("IVF top-k recalls most exact neighbors while probing a fraction of lists", SlowTest) {
    def recall(emb: org.apache.spark.sql.DataFrame, queries: Int, nprobe: Int): Double = {
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val exact = pairs(Similarity.bruteTopK(emb, queries, 10))
      val ivf = pairs(Similarity.ivfTopK(emb, queries, 10, nLists = 16, nprobe = nprobe))
      (exact intersect ivf).size.toDouble / exact.size
    }
    val uniform = recall(graft.core.Tables.embeddings(spark, sf0001), 5, nprobe = 8)
    assert(uniform >= 0.5, s"IVF recall@10 was $uniform (probing half the lists)")
    // planted clusters of 20 (> k) members at cosine >= 0.99, near-orthogonal
    // across clusters: the distribution IVF's premise assumes, so a query's
    // nearest list holds every true neighbor (measured 1.000 at nprobe 1, 2, 4)
    val clustered = recall(
      graft.core.DataGen.clusteredVectors(spark, 2000, clusterSize = 20, dim = 64), 100, nprobe = 1)
    assert(clustered >= 0.95, s"clustered IVF recall@10 at nprobe=1 was $clustered")
  }

  test("LSH candidates only pair vectors sharing a bucket in some table") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val buckets = Similarity.withBuckets(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("table_id")) -> r.getAs[String]("bucket"))
      .toMap
    val cands = LshReference.lshCandidates(emb).collect()
    assert(cands.nonEmpty)
    cands.foreach { r =>
      val a = r.getAs[Long]("vec_a"); val b = r.getAs[Long]("vec_b")
      assert((0 until Similarity.NumTables).exists(t => buckets((a, t)) == buckets((b, t))))
    }
  }

  test("banded LSH recovers planted near-duplicates (candidate recall)") {
    import spark.implicits._
    // 200 gaussian base vectors plus 50 near-dup partners (cosine >= 0.99 by
    // construction — tiny relative perturbation); the corpus max cosine for
    // non-planted pairs is ~0.5, so the planted set IS the brute-force truth.
    val rnd = new scala.util.Random(7)
    val base = (0L until 200L).map(i => i -> Array.fill(64)(rnd.nextGaussian().toFloat))
    val dups = base.take(50).map { case (i, v) =>
      (i + 1000L) -> v.map(x => x + 0.045f * rnd.nextGaussian().toFloat)
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val planted = (0L until 50L).map(i => (i, i + 1000L)).toSet
    val cands = LshReference.lshCandidates(emb).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val recall = planted.count(cands).toDouble / planted.size
    assert(recall >= 0.8, s"banded-LSH recall on planted near-dups was $recall")
  }

  test("bucket-size cap drops degenerate buckets and accounts for them") {
    import spark.implicits._
    // 100 identical vectors flood one bucket per table (n=100 > cap=64):
    // the capped candidate join must emit nothing, the overflow view must
    // report all four table buckets, and raising the cap restores the pairs.
    val v = Array.tabulate(64)(i => (i % 7 + 1).toFloat)
    val emb = (0L until 100L).map(i => i -> v).toDF("vec_id", "embedding")
    assert(LshReference.lshCandidates(emb).count() == 0)
    val over = LshReference.overflowBuckets(emb).collect()
    assert(over.length == Similarity.NumTables)
    assert(over.forall(_.getAs[Long]("n_vectors") == 100L))
    assert(LshReference.lshCandidates(emb, maxBucket = 128).count() == 100L * 99 / 2)
  }

  test("simhash pairs: identical docs collide at hamming 0; disjoint docs don't pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different vocabulary about quantum flux capacitors humming")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(Dedup.simhash64(docs), maxHamming = 3).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("doc_a") == 1L && pairs(0).getAs[Long]("doc_b") == 2L)
    assert(pairs(0).getAs[Int]("hamming") == 0)
    // pigeonhole shape: signatures are 64-bit, banded 4x16
    val sig = Dedup.simhash64(docs).collect()
    assert(sig.forall(_.getAs[String]("simhash64").length == 64))
  }

  test("bitstring_hamming native expression agrees with the unrolled compare") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, substring, when}
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { _ =>
      (Seq.fill(64)(rnd.nextInt(2)).mkString, Seq.fill(64)(rnd.nextInt(2)).mkString)
    }.toDF("a", "b")
    val unrolled = (1 to 64).map(j =>
      when(substring(col("a"), j, 1) =!= substring(col("b"), j, 1), 1).otherwise(0))
      .reduce(_ + _)
    val diff = rows.select(
      call_function("bitstring_hamming", col("a"), col("b")).as("native"),
      unrolled.as("tree"))
      .filter(col("native") =!= col("tree")).count()
    assert(diff == 0)
  }

  test("SQ8 quantized top-k: bounded values, high recall vs the exact path") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val q = Similarity.quantize(emb)
    // int8 range respected for every component
    val offRange = q.select(explode(col("q")).as("v"))
      .filter(col("v") > 127 || col("v") < -127).count()
    assert(offRange == 0)
    val k = 10
    val exact = Similarity.bruteTopK(emb, 5, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.quantizedTopK(emb, 5, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.count(approx).toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall@$k was $recall")
  }

  test("contamination flags a planted benchmark leak and nothing else") {
    import spark.implicits._
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "prefix words then the quick brown fox jumps over the lazy dog and more"),
      (11L, "entirely unrelated content about distributed query planning engines"))
      .toDF("doc_id", "text")
    val hits = graft.ext.Corpus.contamination(corpus, bench, n = 3, minFrac = 0.5)
      .collect()
    assert(hits.length == 1)
    assert(hits(0).getAs[Long]("probe_id") == 1L && hits(0).getAs[Long]("doc_id") == 10L)
    // all 7 probe trigrams appear in doc 10 -> full overlap
    assert(hits(0).getAs[Double]("overlap_frac") == 1.0)
  }

  test("simhash bucket cap drops degenerate buckets; raising it restores pairs") {
    import spark.implicits._
    // 40 identical docs collide in every band bucket: with cap 16 the
    // bucket join must emit nothing; with the cap lifted, all pairs return
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0L until 40L).map(i => (i, txt)).toDF("doc_id", "text")
    val sig = Dedup.simhash64(docs)
    assert(Dedup.simhashPairs(sig, maxHamming = 3, maxBucket = 16).count() == 0)
    assert(Dedup.simhashPairs(sig, maxHamming = 3, maxBucket = 64).count() == 40L * 39 / 2)
  }

  test("simhash overflow view accounts for every bucket the cap drops") {
    import spark.implicits._
    // 40 identical docs land in ONE bucket per band (4 buckets total), each
    // holding all 40 — with cap 16 all four overflow and must be reported
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0L until 40L).map(i => (i, txt)).toDF("doc_id", "text")
    val sig = Dedup.simhash64(docs)
    val over = LshReference.simhashOverflowBuckets(sig, maxBucket = 16).collect()
    assert(over.length == 4, s"expected 4 overflowed band buckets, got ${over.length}")
    assert(over.forall(_.getAs[Long]("n_docs") == 40L))
    assert(over.forall(_.getAs[Long]("min_doc_id") == 0L))
    // and with the cap lifted past the bucket size, nothing overflows
    assert(LshReference.simhashOverflowBuckets(sig, maxBucket = 64).count() == 0)
  }

  test("clusters keeps block storage bounded across pointer-jumping rounds") {
    import spark.implicits._
    // a long chain forces many rounds; superseded rounds' checkpoint blocks
    // must be unpersisted as the fixpoint advances, and the edge list freed
    // at convergence — only the final labels' blocks may remain
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Dedup.clusters(chain)
    assert(out.count() == 65)
    assert(out.filter($"keeper_doc_id" === 0L).count() == 65)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"expected at most the final labels table persisted; grew by ${after - before}")
  }

  test("clusters: chained pairs collapse to one keeper; separate pair stays apart") {
    import spark.implicits._
    // a-b, b-c, c-d chain (diameter 3, exercises pointer jumping) + e-f
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (50L, 60L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("keeper_doc_id"), r.getAs[Long]("cluster_size")))).toMap
    assert(out == Map(
      10L -> (10L, 4L), 20L -> (10L, 4L), 30L -> (10L, 4L), 40L -> (10L, 4L),
      50L -> (50L, 2L), 60L -> (50L, 2L)))
  }

  test("clusterKeepers elects the best-quality member, doc_id ASC on ties; " +
      "cluster identity stays the min-id label") {
    import spark.implicits._
    val pairs = Seq((10L, 20L), (20L, 30L), (50L, 60L), (70L, 80L))
      .toDF("doc_a", "doc_b")
    // cluster {10,20,30}: 20 is longest (keeper); cluster {50,60}: tie on
    // score -> 50 wins by id; min-id labels (10, 50) stay the cluster ids.
    // UNscored members (30 missing; whole cluster {70,80} unscored) still
    // count toward size, rank below every scored member, and a fully
    // unscored cluster elects min-id with a null score (left-join contract)
    val scored = Seq((10L, 5L), (20L, 9L), (50L, 4L), (60L, 4L))
      .toDF("doc_id", "n_chars")
    val out = Dedup.clusterKeepers(Dedup.clusters(pairs), scored, "n_chars")
      .collect().map(r => (r.getAs[Long]("cluster_id"),
        (r.getAs[Long]("cluster_size"), r.getAs[Long]("keeper_doc_id"),
          Option(r.get(r.fieldIndex("keeper_score"))
            .asInstanceOf[java.lang.Long]).map(_.longValue)))).toMap
    assert(out == Map(
      10L -> (3L, 20L, Some(9L)),
      50L -> (2L, 50L, Some(4L)),
      70L -> (2L, 70L, None)))
  }

  test("frame-sample byte/char equivalence guard: the documents corpus is ASCII") {
    // Spark slices media payloads by BYTES (binary substring) while the
    // DuckDB oracle slices text by CHARACTERS; frame boundaries and frame_md5
    // agree iff every character is single-byte. Enforce the documented
    // assumption instead of hoping the generator never changes.
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val nonAscii = graft.core.Tables.documents(spark, dir)
        .filter(length(col("text")) =!= expr("octet_length(text)")).count()
      assert(nonAscii == 0, s"$dir: frameSample's byte==char assumption violated")
    }
  }

  test("text quality score is bounded and language-ID emits a confusion census") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val qs = TextAnalysis.textStats(docs).select("quality_score").as[Double].collect()
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
    assert(TextAnalysis.langId(docs).count() > 0)
  }

  test("multimodal decode stub: deterministic, one row per media, positive norms") {
    val docs = graft.core.Tables.documents(spark, sf0001).limit(50)
    val media = Multimodal.asMediaTable(docs)
    val d1 = Multimodal.decodeFeatures(spark, media).collect().sortBy(_.getLong(0))
    val d2 = Multimodal.decodeFeatures(spark, media).collect().sortBy(_.getLong(0))
    assert(d1.length == 50)
    assert(d1.map(_.getDouble(2)).forall(_ > 0.0))
    assert(d1.map(_.toString).sameElements(d2.map(_.toString)), "stub decode is deterministic")
  }

  test("frame sampling emits every stride-th chunk with a verifiable checksum") {
    val docs = graft.core.Tables.documents(spark, sf0001).limit(20)
    val media = Multimodal.asMediaTable(docs)
    val frames = Multimodal.frameSample(media, 32, 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getLong(1) % 2 == 0), "only every stride-th frame is sampled")
    val byDoc = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    frames.foreach { r =>
      val text = byDoc(r.getLong(0))
      val start = (r.getLong(1) * 32).toInt
      val chunk = text.substring(start, math.min(start + 32, text.length))
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(chunk.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getInt(2) == chunk.length)
      assert(r.getString(3) == md5hex)
    }
  }

  test("resizeVector is exact nearest-neighbor resampling") {
    import org.apache.spark.sql.functions.typedLit
    val v = typedLit(Seq(1.0, 2.0, 3.0, 4.0))
    val out = spark.range(1).select(
      Multimodal.resizeVector(v, 4).as("same"),
      Multimodal.resizeVector(v, 2).as("half"),
      Multimodal.resizeVector(v, 8).as("dbl")).head
    assert(out.getSeq[Double](0) == Seq(1.0, 2.0, 3.0, 4.0))
    assert(out.getSeq[Double](1) == Seq(1.0, 3.0))
    assert(out.getSeq[Double](2) == Seq(1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0, 4.0))
  }

  test("BPE-ish token count never undercounts whitespace tokens") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val rows = TextAnalysis.tokenCounts(docs).collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      assert(r.getInt(2) >= r.getInt(1),
        s"every ws token is >=1 subword token: $r")
      assert(r.getDouble(3) >= 1.0)
    }
  }

  test("repetition stats flag degenerate docs and pass diverse ones") {
    val docs = Seq(
      (1L, "spam spam spam spam"),          // 3 bigrams, all "spam spam"
      (2L, "one two three four five")       // 4 bigrams, all distinct
    ).toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L) == ((1.0, 0.3333)))
    assert(out(2L) == ((0.25, 1.0)))
  }

  test("stratified sample is deterministic, membership-stable, and rate-shaped") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val rates = Map("src0" -> 0.9, "src1" -> 0.05)
    val s1 = graft.ext.Corpus.stratifiedSample(docs, rates, 0.3)
      .select("doc_id").as[Long].collect().toSet
    val s2 = graft.ext.Corpus.stratifiedSample(docs, rates, 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2, "hash-based sampling is reproducible")
    // membership stability: sampling a SUBSET keeps exactly the members
    // that were sampled from the full corpus (rand()-based sampling breaks this)
    val subset = graft.ext.Corpus.stratifiedSample(docs.filter($"doc_id" < 100), rates, 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(subset == s1.filter(_ < 100))
    val bySrc = graft.ext.Corpus.stratifiedSample(docs, rates, 0.3)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.getOrElse("src0", 0L) > bySrc.getOrElse("src1", 0L),
      s"0.9-rate stratum outdraws the 0.05 one: $bySrc")
  }

  test("cleaning funnel stages shrink monotonically") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val stages = graft.ext.Corpus.cleaningFunnel(docs,
        graft.ext.TextAnalysis.textStatsTable(spark, sf0001)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages("1_raw") >= stages("2_quality"))
    assert(stages("2_quality") >= stages("3_dedup"))
    assert(stages("3_dedup") > 0)
  }

  test("ML face: vectorized features + seeded segments + MLlib LSH near-dup") {
    val fv = jobs.FeatureViewJob(spark, sf0001)
    val vec = ml.FeaturePipeline.vectorize(fv)
    assert(vec.schema.fieldNames.contains("features") && vec.schema.fieldNames.contains("risk_bucket"))
    val seg = ml.FeaturePipeline.segment(vec)
    assert(seg.select("segment").distinct().count() <= 3)
    val docs = graft.core.Tables.documents(spark, sf0001)
    val lshPairs = ml.FeaturePipeline.lshNearDup(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.jaccardPairs(Dedup.shingleTable(spark, sf0001),
        Dedup.candidatePairTable(spark, sf0001), 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(lshPairs), "MLlib MinHashLSH finds the planted near-dups")
  }
}
