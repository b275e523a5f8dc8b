package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The run record is plain maps, sequences and numbers, written as JSON. */
object Json {
  type Obj = Map[String, Any]
  def Obj(fields: (String, Any)*): Obj = fields.toMap

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
