package etlbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.Row
import graft.io.Xlsx

/** Output digests the benchmark compares between iterations. */
object Digest {

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** CSV: the bytes. XLSX: the decoded cells, because the writer stamps
    * zip entries with the wall clock and so its bytes differ per run. */
  def ofFile(path: String): String = {
    val bytes = Files.readAllBytes(Paths.get(path))
    if (!path.endsWith(".xlsx")) sha256(bytes)
    else {
      val (header, rows) = Xlsx.readTable(bytes)
      val text = (header.map(Some(_)) +: rows)
        .map(_.map(_.getOrElse("\u0000")).mkString("\u001f")).mkString("\n")
      sha256(text.getBytes("UTF-8"))
    }
  }

  /** Row count and an order-insensitive digest of a query result. Doubles
    * are rounded to 9 decimals, the tolerance tools/check_parity.py uses. */
  def ofRows(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "\u0000"
      case d: Double => num(d)
      case f: Float => num(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val lines = rows.map(r => render(r)).sorted
    s"${rows.length}:" + sha256(lines.mkString("\n").getBytes("UTF-8"))
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN)
        .bigDecimal.stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }
}
