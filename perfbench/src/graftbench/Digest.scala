package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Result digest: schema string, row count and an order-insensitive row
  * hash (the wrapping sum of one 64-bit hash per row). Floating-point
  * values are rounded to 9 significant digits before hashing, so a
  * change in summation order (partial-aggregate merge order, AQE
  * partition coalescing) does not read as a wrong answer. */
object Digest {
  def of(df: DataFrame): String = {
    val rows = df.collect()
    var h = 0L
    rows.foreach(r => h += rowHash(r))
    s"${df.schema.simpleString}|${rows.length}|${java.lang.Long.toHexString(h)}"
  }

  /** "name=digest;..." over the frames of one operation, or "ERROR ..."
    * with the failure that building or reading them raised. */
  def describeOf(frames: => Seq[(String, DataFrame)]): String =
    try frames.map { case (n, df) => s"$n=${of(df)}" }.mkString(";")
    catch {
      case e @ (scala.util.control.NonFatal(_) | _: StackOverflowError) =>
        "ERROR " + Main.describe(e)
    }

  private def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
  }

  private val mc = new java.math.MathContext(9)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
}
