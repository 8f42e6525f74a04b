package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Order-insensitive, bit-sensitive digest of a result set.
  *
  * Columns are taken in name order (the engine's oracle compare sorts them
  * the same way). Each row hashes its values in that order; the digest is
  * the row count plus two independent wrap-around sums of the row hashes,
  * so any permutation of rows gives the same digest while a duplicated,
  * dropped or changed row does not. Doubles and floats hash their IEEE bits
  * (NaN canonicalised), so -0.0 and 0.0 differ, as do values one ulp apart.
  */
object Digest {

  def of(df: DataFrame): String = {
    val names = df.columns.sorted
    val sorted = df.select(names.map(n => df.col(s"`$n`")): _*)
    val schema = sorted.schema
    val parts = sorted.rdd.mapPartitions { it =>
      val acc = new Acc
      it.foreach(acc.add)
      Iterator((acc.rows, acc.a, acc.b))
    }.collect()
    val acc = new Acc
    parts.foreach { case (n, a, b) => acc.rows += n; acc.a += a; acc.b += b }
    acc.render(schema)
  }

  /** Digest of in-memory rows whose fields are already in name order. */
  def ofRows(schema: StructType, rows: Iterator[Row]): String = {
    val acc = new Acc
    rows.foreach(acc.add)
    acc.render(schema)
  }

  final class Acc extends Serializable {
    var rows = 0L
    var a = 0L
    var b = 0L
    def add(r: Row): Unit = {
      val h = rowHash(r)
      rows += 1
      a += h
      b += mix(h ^ 0x6a09e667f3bcc909L)
    }
    def render(schema: StructType): String = {
      val sh = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      f"$rows%d-${strHash(sh)}%016x-$a%016x-$b%016x"
    }
  }

  def rowHash(r: Row): Long = {
    var h = 0x243f6a8885a308d3L
    var i = 0
    while (i < r.length) { h = mix(h * 31 + valueHash(r.get(i))); i += 1 }
    h
  }

  /** splitmix64 finaliser */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def strHash(s: String): Long = {
    var h = 0x13198a2e03707344L
    var i = 0
    while (i < s.length) { h = mix(h + s.charAt(i)); i += 1 }
    h
  }

  private def tagged(tag: Long, v: Long): Long = mix(v ^ (tag << 56) ^ 0x452821e638d01377L)

  def valueHash(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case d: Double => tagged(1, java.lang.Double.doubleToLongBits(d))
    case f: Float => tagged(2, java.lang.Float.floatToIntBits(f).toLong)
    case n: Long => tagged(3, n)
    case n: Int => tagged(4, n.toLong)
    case n: Short => tagged(5, n.toLong)
    case n: Byte => tagged(6, n.toLong)
    case z: Boolean => tagged(7, if (z) 1L else 0L)
    case s: String => tagged(8, strHash(s))
    case d: java.math.BigDecimal =>
      tagged(9, strHash(d.unscaledValue.toString) * 31 + d.scale)
    case t: java.sql.Timestamp => tagged(10, t.getTime * 1000000L + t.getNanos % 1000000)
    case t: java.time.Instant => tagged(10, t.getEpochSecond * 1000000000L + t.getNano)
    case t: java.time.LocalDateTime => tagged(11, strHash(t.toString))
    case d: java.sql.Date => tagged(12, d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => tagged(12, d.toEpochDay)
    case bs: Array[Byte] =>
      var h = tagged(13, bs.length.toLong)
      bs.foreach(x => h = mix(h * 31 + x))
      h
    case r: Row => tagged(14, rowHash(r))
    case m: scala.collection.Map[_, _] =>
      // map entries carry no order
      var s = 0L
      m.foreach { case (k, x) => s += mix(valueHash(k) * 31 + valueHash(x)) }
      tagged(15, s)
    case xs: scala.collection.Seq[_] =>
      var h = tagged(16, xs.length.toLong)
      xs.foreach(x => h = mix(h * 31 + valueHash(x)))
      h
    case other => tagged(17, strHash(other.getClass.getName + ":" + other.toString))
  }
}
