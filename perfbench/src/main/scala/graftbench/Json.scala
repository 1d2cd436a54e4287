package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** Minimal JSON writing over Jackson (shipped with Spark). */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  /** A result row as tagged JSON values, so the Python checker can apply
    * the oracle comparison rules per type: decimals, timestamps, dates,
    * structs, maps and binaries are tagged; numbers, strings, booleans and
    * arrays are plain. */
  def row(r: Row): Seq[Any] = r.toSeq.map(value)

  def value(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => Map("dec" -> d.toPlainString)
    case t: java.sql.Timestamp => Map("ts" -> t.toInstant.toString)
    case t: java.time.LocalDateTime => Map("ts" -> (t.toString + "Z"))
    case d: java.sql.Date => Map("ts" -> (d.toLocalDate.toString + "T00:00:00Z"))
    case f: Float => f.toDouble
    case b: Array[Byte] => Map("bin" -> b.map("%02x".format(_)).mkString)
    case r: Row => Map("struct" -> row(r))
    case m: scala.collection.Map[_, _] => Map("map" -> m.toSeq.map { case (k, x) => Seq(value(k), value(x)) })
    case s: scala.collection.Seq[_] => s.map(value)
    case x => x
  }
}
