package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Canonical output digest of a query, the way tools/check.py compares
  * results: columns in name order, rows sorted, floating-point cells
  * bit-exact (the engine's determinism rules make them reproducible), so
  * neither partitioning nor row order changes the digest. */
object Digest {

  final case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect()
    ofRows(rows.toSeq)
  }

  def ofRows(rows: Seq[Row]): Result = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => render(r)).sorted.foreach { line =>
      md.update(line.getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    Result(rows.size.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private[perfbench] def render(v: Any): String = v match {
    case null                 => "∅"
    case r: Row               => r.toSeq.map(render).mkString("(", "\u001f", ")")
    case b: Array[Byte]       => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x                    => x.toString
  }
}
