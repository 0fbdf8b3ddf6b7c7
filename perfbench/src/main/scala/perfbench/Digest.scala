package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** All-column digests of a result: the schema, then every cell of every
  * row in a canonical text form. Doubles print in their shortest
  * round-trip form, so any change of value changes the digest. */
object Digest {

  private def cell(v: Any): String = v match {
    case null => "␀"
    case s: String => s"${s.length}:$s"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def line(r: Row): String = r.toSeq.map(cell).mkString("\u001f")

  /** `<rows>:<sha-256 prefix>`. With `ordered` the row order counts;
    * without it the rows are digested as a multiset (for tables read
    * back from files, whose row order is not defined). */
  def of(schema: StructType, rows: Seq[Row], ordered: Boolean): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").getBytes(UTF_8))
    val lines = rows.map(line)
    (if (ordered) lines else lines.sorted).foreach { l =>
      md.update('\n'.toByte)
      md.update(l.getBytes(UTF_8))
    }
    s"${rows.length}:" + md.digest().take(16).map(x => f"$x%02x").mkString
  }

  def of(df: DataFrame, ordered: Boolean): String =
    of(df.schema, df.collect().toSeq, ordered)
}
