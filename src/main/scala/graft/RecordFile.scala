package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, SerializationFeature}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.datatype.jsr310.JavaTimeModule
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** The driver's record files for bookkeeping rows (the pipeline's lineage,
  * the publisher's `_published`), like the reference's `vql_*.txt` sidecar
  * files: one JSON object per line, written all or nothing through
  * [[FsWrite.atomic]] and read back on the driver one line at a time, with
  * no Spark job. JSON escapes every control character, so a string field
  * holding a tab or a newline stays on its line, and a line cut short never
  * parses: a damaged file fails loudly, naming itself and the line. A row
  * must carry every field of its class and no other. Instants are written
  * as ISO-8601 text to the nanosecond. */
object RecordFile {
  private val json = JsonMapper.builder()
    .addModule(DefaultScalaModule).addModule(new JavaTimeModule)
    .disable(SerializationFeature.WRITE_DATES_AS_TIMESTAMPS)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** `row` as its line, newline included. */
  def line(row: AnyRef): Array[Byte] =
    (json.writeValueAsString(row) + "\n").getBytes(StandardCharsets.UTF_8)

  /** Replace `path` with `rows`, one line each. */
  def write(fs: FileSystem, path: Path, rows: Seq[AnyRef]): Unit =
    FsWrite.atomic(fs, path)(out => rows.foreach(r => out.write(line(r))))

  /** Each row of `path` in file order, parsed as a `T` and handed to `f`
    * before the next line is read. */
  def foreach[T](fs: FileSystem, path: Path, cls: Class[T])(f: T => Unit): Unit = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(path), StandardCharsets.UTF_8))
    try {
      var n = 0
      var l = in.readLine()
      while (l != null) {
        n += 1
        val row = try json.readValue(l, cls) catch {
          case e: com.fasterxml.jackson.core.JacksonException =>
            throw new IllegalStateException(s"malformed record file $path, line $n: ${e.getOriginalMessage}", e)
        }
        f(row)
        l = in.readLine()
      }
    } finally in.close()
  }

  def read[T](fs: FileSystem, path: Path, cls: Class[T]): Seq[T] = {
    val rows = Seq.newBuilder[T]
    foreach(fs, path, cls)(rows += _)
    rows.result()
  }
}
