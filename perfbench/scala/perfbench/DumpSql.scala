package perfbench

/** Writes `SparkEntry.oracleSql` as one JSON object (name -> SQL text)
  * to the file named by the first argument, so the wire client sends
  * exactly the oracle statements the repo defines. */
object DumpSql {
  def main(args: Array[String]): Unit = {
    val body = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${Json.str(k)}: ${Json.str(v)}"
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)), body.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
