package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON through the Jackson on Spark's classpath: the run plan is read into
  * plain Scala values, results are written from Scala maps and sequences. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Parses to Scala values: Map, Vector, String, java.lang.Number, Boolean. */
  def read(text: String): Any = toScala(mapper.readValue(text, classOf[Object]))

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toVector
    case other => other
  }

  def write(v: Any): String = mapper.writeValueAsString(v)
}
