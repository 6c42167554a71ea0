package graft

import graft.plans.GraftExtensions

/** Pins the native-function table: every row resolves in a session built
  * with GraftExtensions, misuse fails at analysis with a message naming the
  * function, and the retired `*_ref` kernels stay unregistered. */
class GraftExtensionsSpec extends SparkSpec {

  private val names = GraftExtensions.functions.map(_._1)

  test("every row of the table resolves in the session; the *_ref kernels do not") {
    assert(names.sorted == Seq("bitstring_hamming", "bpe_encode", "count_in",
      "decimal_vector_dot", "decimal_vector_sum", "float_vector_dot", "span_hashes",
      "word_ngrams"))
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
    Seq("decimal_vector_dot_ref", "decimal_vector_sum_ref").foreach { n =>
      assert(!spark.catalog.functionExists(n), n)
    }
  }

  test("a wrong argument count fails naming the function") {
    names.foreach { n =>
      val msg = failureOf(s"SELECT $n(1, 2, 3, 4, 5, 6)")
      assert(msg.contains(s"$n(") && msg.contains(" arguments"), msg)
    }
  }

  test("a non-literal where an int literal is required fails naming the function") {
    val i = "CAST(id AS INT)"
    Seq(
      "decimal_vector_sum" -> s"(array(1.0f), $i)",
      "word_ngrams" -> s"(array('a'), 'a', $i)",
      "span_hashes" -> s"(array('a'), $i, 1, 0, 0)",
      "span_hashes" -> s"(array('a'), 1, $i, 0, 0)",
      "span_hashes" -> s"(array('a'), 1, 1, $i, 0)",
      "span_hashes" -> s"(array('a'), 1, 1, 0, $i)"
    ).foreach { case (n, args) =>
      val msg = failureOf(s"SELECT $n$args FROM range(1)")
      assert(msg.contains(s"$n: ") && msg.contains("must be an int literal"), msg)
    }
  }
}
