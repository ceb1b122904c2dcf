package graftbench

import org.apache.spark.sql.Row

/** Prints, as JSON, the harness's digests of a fixed set of rows and the
  * interval arithmetic on a fixed span tree, for perfbench/tests to
  * compare with the Python side and with hand-computed values. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val rows = Array(
      Row(1L, "a|b", 12.31, null, true),
      Row(-7L, "", 0.005, java.sql.Date.valueOf("2024-01-31"), false),
      Row(3L, "Zürich", -1.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:07.179575"), null))
    val spans = Seq(
      Span(0, 1, 0, "op", -1, 0L, 100L),
      Span(1, 1, 0, "call", 0, 10L, 40L),
      Span(2, 1, 0, "drive", 0, 30L, 90L))
    Json.write(args(0), Map(
      "ordered" -> Digest.rows(rows, ordered = true),
      "unordered" -> Digest.rows(rows, ordered = false),
      "texts" -> rows.toSeq.map(Digest.rowText),
      "union" -> Intervals.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 40L), (35L, 36L))),
      "covered" -> Intervals.covered((10L, 32L), Seq((0L, 12L), (20L, 25L), (30L, 50L))),
      "self" -> Intervals.selfTimes(spans).toSeq.sortBy(_._1).map(_._2)))
  }
}
