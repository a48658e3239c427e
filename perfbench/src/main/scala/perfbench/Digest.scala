package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.{DecimalType, StructType}

import java.math.MathContext
import scala.util.hashing.MurmurHash3

/** Row count plus an order-insensitive 64-bit hash of a result. Columns
  * are taken in name order and values in a canonical text form; floating
  * point values are rounded to 10 (double) or 6 (float) significant
  * digits so that summation order cannot change the digest. */
final case class Digest(rows: Long, hash: String) {
  override def toString: String = s"$rows rows, hash $hash"
}

object Digest {
  def of(schema: StructType, rows: Iterable[Row]): Digest = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val s = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h = (MurmurHash3.stringHash(s, 17).toLong << 32) |
        (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
      sum += h
      n += 1
    }
    Digest(n, f"$sum%016x")
  }

  /** The same kind of digest computed by Spark itself (xxhash64 of the
    * columns in name order, summed exactly): for large results, where
    * collecting to the Spark driver would cost more than the check is worth.
    * Not comparable with [[of]]. */
  def inSpark(df: DataFrame): Digest = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0))))
      .collect()(0)
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def num(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else BigDecimal(d).round(new MathContext(digits)).bigDecimal
      .stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d, 10)
    case f: Float => num(f.toDouble, 6)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
}
