package perfbench

/** Writes every catalog query's DuckDB oracle SQL as one JSON object, the
  * input of `derive_expected.py`. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    graft.SparkEntry.all.foreach(e =>
      root.put(e.name, e.oracle.getOrElse(sys.error(s"${e.name} has no oracle SQL"))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }
}
