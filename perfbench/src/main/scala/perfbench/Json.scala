package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out through the Jackson (and its Scala module) that ships
  * with Spark.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readMap(p: Path): Map[String, Any] =
    toScala(mapper.readValue(Files.readString(p), classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case other => other
  }

  def write(v: Any): String = mapper.writeValueAsString(v)
}
