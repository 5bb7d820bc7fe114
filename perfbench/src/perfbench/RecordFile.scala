package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Append-only JSON-lines sink shared by the runner and the listeners. */
final class RecordFile(path: String) {
  private val w = Files.newBufferedWriter(Paths.get(path))

  def write(fields: (String, Any)*): Unit = synchronized {
    w.write(RecordFile.json(fields.toMap))
    w.newLine()
  }

  def close(): Unit = synchronized(w.close())
}

object RecordFile {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON text of Scala values: maps, sequences, options, strings, numbers. */
  def json(value: Any): String = mapper.writeValueAsString(value)
}
