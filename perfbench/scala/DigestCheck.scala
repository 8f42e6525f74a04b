package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Self-check of [[Digest]], run by perfbench/tests/test_digest.py:
  * prints one line per property and exits non-zero if any fails. */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("px", DoubleType),
      StructField("sym", StringType), StructField("xs", ArrayType(DoubleType))))
    val rows = (0 until 50).map(i =>
      Row(i.toLong, i * 0.1, s"s${i % 7}", Seq(i.toDouble, -i.toDouble))).toIndexedSeq
    def d(rs: Seq[Row]): String = Digest.ofRows(schema, rs.iterator)
    val base = d(rows)
    def flip(i: Int, f: Row => Row): Seq[Row] = rows.updated(i, f(rows(i)))
    val ulp = flip(10, r => Row(r.getLong(0), Math.nextUp(r.getDouble(1)), r.getString(2), r.getSeq[Double](3)))
    val negZero = Seq(Row(0L, -0.0, "a", Seq.empty[Double]))
    val posZero = Seq(Row(0L, 0.0, "a", Seq.empty[Double]))
    val nested = flip(3, r => Row(r.getLong(0), r.getDouble(1), r.getString(2),
      Seq(r.getSeq[Double](3).head, Math.nextDown(r.getSeq[Double](3)(1)))))
    val checks = Seq(
      "order-insensitive: reversed rows" -> (d(rows.reverse) == base),
      "order-insensitive: shuffled rows" -> (d(new scala.util.Random(7).shuffle(rows)) == base),
      "deterministic across calls" -> (d(rows) == base),
      "bit-sensitive: one double one ulp up" -> (d(ulp) != base),
      "bit-sensitive: -0.0 vs 0.0" -> (d(negZero) != d(posZero)),
      "bit-sensitive: nested array element" -> (d(nested) != base),
      "row dropped" -> (d(rows.tail) != base),
      "row duplicated" -> (d(rows :+ rows.head) != base),
      "two rows swap a field" -> (d(flip(1, r => Row(r.getLong(0), r.getDouble(1), "s0", r.getSeq[Double](3)))
        .updated(0, Row(0L, 0.0, "s1", Seq(0.0, -0.0)))) != base),
      "null differs from a value" -> (d(flip(5, r => Row(r.getLong(0), null, r.getString(2), r.getSeq[Double](3)))) != base),
      "schema is part of the digest" -> (Digest.ofRows(StructType(schema.fields.map(f =>
        if (f.name == "id") f.copy(name = "key") else f)), rows.iterator) != base))
    checks.foreach { case (name, ok) => println(s"${if (ok) "PASS" else "FAIL"} $name") }
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
