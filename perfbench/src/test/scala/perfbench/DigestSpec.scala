package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("canonical digest is stable across partition counts and row order") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"k${i % 7}", i * 0.1, if (i % 9 == 0) None else Some(i)))
      .toDF("id", "key", "x", "maybe")
    val one = Digest.of(df.repartition(1))
    assert(one.rows == 500L)
    assert(Digest.of(df.repartition(7)) == one)
    assert(Digest.of(df.orderBy($"x".desc).coalesce(3)) == one)
    // column order is canonicalized by name
    assert(Digest.of(df.select("x", "maybe", "key", "id")) == one)
  }

  test("canonical digest sees a changed cell, a lost row and a duplicate row") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, i * 0.5)).toDF("id", "x")
    val base = Digest.of(df)
    assert(Digest.of(df.withColumn("x", $"x" + 1e-9)) != base)
    assert(Digest.of(df.filter($"id" =!= 3L)) != base)
    assert(Digest.of(df.union(df.filter($"id" === 3L))) != base)
  }

  test("nested values render canonically") {
    assert(Digest.render(Seq(1, null, "a")) == "[1,∅,a]")
    assert(Digest.render(Map("b" -> 2, "a" -> 1)) == "{a->1,b->2}")
    assert(Digest.render(new java.math.BigDecimal("1.50")) == "1.50")
  }
}
