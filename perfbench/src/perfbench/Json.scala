package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON writer for the result and span files (Jackson over
  * plain Java collections; Jackson ships with Spark).
  */
object Json {
  private val mapper = new ObjectMapper()

  def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double => if (d.isNaN || d.isInfinite) null else java.lang.Double.valueOf(d)
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def string(v: Any): String = mapper.writeValueAsString(toJava(v))

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), string(v).getBytes("UTF-8"))
}
