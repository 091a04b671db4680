package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON for the benchmark's own files: flat objects in, nested
  * maps / sequences / numbers / strings out.
  */
object Json {
  private val mapper = new ObjectMapper()

  def read(f: File): Map[String, Any] =
    mapper.readValue(f, classOf[java.util.Map[String, Any]]).asScala.toMap

  def write(v: Any): String = v match {
    case null                 => "null"
    case s: String            => mapper.writeValueAsString(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: Map[_, _]         =>
      m.map { case (k, x) => mapper.writeValueAsString(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(write).mkString("[", ",", "]")
    case other                => throw new IllegalArgumentException(s"not JSON: $other")
  }
}
