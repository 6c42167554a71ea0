package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session extension registering the engine's native functions —
  * `SparkSession.builder.withExtensions(new GraftExtensions)`, or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {
  private val Words = Map(2 -> "two", 3 -> "three", 5 -> "five")

  /** `build` behind an argument-count check whose message shows the call. */
  private def arity(usage: String, n: Int)(build: FunctionBuilder): FunctionBuilder = args => {
    require(args.length == n, s"$usage takes ${Words(n)} arguments")
    build(args)
  }

  /** A parameter the kernel bakes into its generated code. */
  private def intLit(fn: String, what: String, e: Expression): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an int literal, got $other")
  }

  /** Every native function: (SQL name, expression class, constructor). */
  val functions: Seq[(String, Class[_ <: Expression], FunctionBuilder)] = Seq(
    ("float_vector_dot", classOf[FloatVectorDot],
      arity("float_vector_dot(a, b)", 2)(a => FloatVectorDot(a(0), a(1)))),
    ("decimal_vector_dot", classOf[DecimalVectorDot],
      arity("decimal_vector_dot(a, b)", 2)(a => DecimalVectorDot(a(0), a(1)))),
    ("decimal_vector_sum", classOf[DecimalVectorSum],
      arity("decimal_vector_sum(vec, dim)", 2)(a =>
        DecimalVectorSum(a(0), intLit("decimal_vector_sum", "dim", a(1))))),
    ("bitstring_hamming", classOf[BitStringHamming],
      arity("bitstring_hamming(a, b)", 2)(a => BitStringHamming(a(0), a(1)))),
    ("word_ngrams", classOf[WordNgrams],
      arity("word_ngrams(toks, text, n)", 3)(a =>
        WordNgrams(a(0), a(1), intLit("word_ngrams", "n", a(2))))),
    ("span_hashes", classOf[SpanHashes],
      arity("span_hashes(toks, k, stride, format, clamped)", 5) { a =>
        def int(i: Int, what: String) = intLit("span_hashes", what, a(i))
        SpanHashes(a(0), int(1, "k"), int(2, "stride"), int(3, "format"),
          int(4, "clamped") != 0)
      }),
    ("count_in", classOf[CountIn],
      arity("count_in(arr, array('w1', ...))", 2) { a =>
        val words = a(1) match {
          case CreateArray(es, _) if es.forall(_.isInstanceOf[Literal]) =>
            es.map(_.asInstanceOf[Literal].value.toString)
          case other => throw new IllegalArgumentException(
            s"count_in: the word list must be an array of string literals, got $other")
        }
        CountIn(a(0), words)
      }),
    ("bpe_encode", classOf[BpeEncode],
      arity("bpe_encode(word, merges_spec)", 2)(a => BpeEncode(a(0), a(1)))))
}
