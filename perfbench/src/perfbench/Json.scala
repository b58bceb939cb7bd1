package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The few JSON shapes the benchmark reads and writes. */
object Json {

  def esc(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.toString
  }

  def str(s: String): String = "\"" + esc(s) + "\""

  /** A finite number with all its digits (JSON has no NaN). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def read(path: Path): JValue =
    JsonMethods.parse(new String(Files.readAllBytes(path), UTF_8))

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, text.getBytes(UTF_8))
  }

  /** `{"k": "v", ...}` as a map of strings. */
  def stringMap(v: JValue): Map[String, String] = v match {
    case JObject(fs) => fs.collect { case (k, JString(s)) => k -> s }.toMap
    case _ => Map.empty
  }

  def stringList(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case _ => Nil
  }
}
