package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The little JSON the harness reads and writes. */
object Json {
  private val mapper = new ObjectMapper()

  def str(s: String): String = mapper.writeValueAsString(s)

  /** `{name: number}` objects. */
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def longs(json: String): Map[String, Long] =
    mapper.readTree(json).fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
}
