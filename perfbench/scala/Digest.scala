package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a collected result: its row count and
  * the sum, modulo 2^64, of a 64-bit hash of each row. Columns are taken
  * in name order and each cell is rendered with no rounding, as
  * `dev/compare_driver.py` hashes `str()` of each cell; dates render as
  * midnight timestamps, as there.
  */
object Digest {
  def of(schema: StructType, rows: Array[Row]): (Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md5 = MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { r =>
      val line = order.map(i => render(r.get(i))).mkString("|")
      val h = md5.digest(line.getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.length.toLong, f"$acc%016x")
  }

  def render(v: Any): String = v match {
    case null => "None"
    case d: java.sql.Date => d.toLocalDate.atStartOfDay.toString
    case d: java.time.LocalDate => d.atStartOfDay.toString
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i)))
      .mkString("{", ",", "}")
    case m: collection.Map[_, _] => m.toSeq.map { case (k, x) =>
      render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
