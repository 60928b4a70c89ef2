package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result. Columns are sorted by
  * name (as the registry's correctness gate does), each row is rendered
  * to a canonical string, and the 64-bit prefixes of the rows' MD5s are
  * summed, so the digest depends on the multiset of rows and not on
  * their order or on partitioning.
  */
object Digest {

  def render(v: Any): String = v match {
    case null => "␀"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case d: java.math.BigDecimal => d.toPlainString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.getClass.getSimpleName + ":" + x.toString
  }

  private def rowHash(s: String): Long = {
    val h = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** `rows` are already projected in name-sorted column order. */
  def of(rows: Iterator[Row]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(render(r)) }
    f"$n:$sum%016x"
  }

  def of(df: DataFrame): String = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2).toSeq
    of(df.collect().iterator.map(r => Row.fromSeq(order.map(r.get))))
  }
}
