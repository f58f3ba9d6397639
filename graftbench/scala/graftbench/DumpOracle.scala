package graftbench

/** Writes graft.SparkEntry.oracleSql (query name -> DuckDB SQL) as one JSON
  * object, so the Python side of the benchmark runs the repo's own oracles.
  *
  *   java -cp <classpath> graftbench.DumpOracle <out.json>
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val json = Json.write(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).toMap)
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
