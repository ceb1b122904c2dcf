package graftbench

import java.util.zip.CRC32

import org.apache.spark.sql.Row

/** Order-aware fingerprint of a result: `rows:crc32`. Each value has one
  * canonical text form, which `perfbench/digest.py` reproduces for the
  * oracle side: doubles at 1/100 (floor(x*100+0.5)), timestamps as epoch
  * microseconds, dates as ISO days, null as `\N`. Unordered results are
  * sorted by their canonical row text before hashing. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => if (d.isNaN) "nan" else math.floor(d * 100 + 0.5).toLong.toString
    case ts: java.sql.Timestamp =>
      (Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Boolean => if (b) "true" else "false"
    case x => x.toString
  }

  def rowText(r: Row): String = (0 until r.length).map(i => canon(r.get(i))).mkString("|")

  def of(rows: Seq[String], ordered: Boolean): String = {
    val xs = if (ordered) rows else rows.sorted
    val c = new CRC32()
    xs.foreach(s => c.update((s + "\n").getBytes("UTF-8")))
    s"${xs.size}:${c.getValue}"
  }

  def rows(rs: Array[Row], ordered: Boolean): String = of(rs.toSeq.map(rowText), ordered)
}
