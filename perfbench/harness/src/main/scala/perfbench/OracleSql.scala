package perfbench

/** Prints, as one JSON object, the DuckDB oracle SQL that
  * `graft.SparkEntry.oracleSql` holds for each query named in the
  * arguments. `pin_corpus.py` runs it to pin the corpus digests. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val m = new java.util.TreeMap[String, String]()
    args.foreach(q => m.put(q, graft.SparkEntry.oracleSql(q)))
    println(new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m))
  }
}
