package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Renders collected rows in the output checker's canonical form:
  * integers and floating values as JSON numbers (decimals as doubles, NaN
  * and infinities as null),
  * timestamps and dates as epoch microseconds (dates at midnight UTC), binary as hex,
  * structs as objects and maps as key-sorted `[key, value]` pairs. */
object Rows {
  def render(schema: StructType, rows: Array[Row]): String =
    Main.json.writeValueAsString(Map(
      "columns" -> schema.fieldNames.toSeq,
      "rows" -> rows.toSeq.map(r => schema.fields.indices.map(i => canon(r.get(i), schema(i).dataType)))))

  def canon(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (d: Double, _) if d.isNaN || d.isInfinite => null
    case (f: Float, _) if f.isNaN || f.isInfinite => null
    case (d: java.math.BigDecimal, _) => d.doubleValue()
    case (d: scala.math.BigDecimal, _) => d.toDouble
    case (n: Byte, _) => n.toLong
    case (n: Short, _) => n.toLong
    case (ts: java.sql.Timestamp, _) =>
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
    case (i: java.time.Instant, _) => i.getEpochSecond * 1000000L + i.getNano / 1000
    case (l: java.time.LocalDateTime, _) =>
      l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000
    case (d: java.sql.Date, _) => d.toLocalDate.toEpochDay * 86400000000L
    case (d: java.time.LocalDate, _) => d.toEpochDay * 86400000000L
    case (b: Array[Byte], _) => b.map(x => f"${x & 0xff}%02x").mkString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(canon(_, et))
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => Seq(canon(k, kt), canon(x, vt)) }.sortBy(_.head.toString)
    case (r: Row, st: StructType) =>
      st.fields.indices.map(i => st(i).name -> canon(r.get(i), st(i).dataType)).toMap
    case (x, _) => x
  }
}
