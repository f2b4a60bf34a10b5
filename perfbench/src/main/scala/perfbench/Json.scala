package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the harness's result file and the lane manifest: Scala maps,
  * sequences, options and case classes through Jackson's Scala module. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])
}
