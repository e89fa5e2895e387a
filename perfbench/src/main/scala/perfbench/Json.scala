package perfbench

import scala.jdk.CollectionConverters._

/** The harness's JSON: Jackson (bundled with Spark) reads the config; a
  * small writer renders maps, sequences, strings, numbers and booleans.
  */
object Json {

  def parseObject(s: String): Map[String, Any] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(s, classOf[java.util.Map[String, Object]])
    m.asScala.toMap.map { case (k, v) => k -> fromJava(v) }
  }

  private def fromJava(v: Any): Any = v match {
    case l: java.util.List[_] => l.asScala.toSeq.map(fromJava)
    case m: java.util.Map[_, _] => m.asScala.toMap.map { case (k, x) => k.toString -> fromJava(x) }
    case b: java.lang.Boolean => b.booleanValue
    case x => x
  }

  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb ++= n.toString
      case m: Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case it: Iterable[_] =>
        sb += '['
        it.iterator.zipWithIndex.foreach { case (y, i) => if (i > 0) sb += ','; go(y) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
