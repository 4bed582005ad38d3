package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The operator tier through `SparkEntry.queries`: each op builds an
  * entry's DataFrame (eager construction jobs included) and collects it.
  * The output is checked against the entry's DuckDB-oracle digest, pinned
  * at sf0.1 by `pin_corpus.py`. */
final class Corpus(spark: SparkSession, dataDir: String, warmDir: String,
                   pins: JsonNode, t: Tracer) extends Workload {

  def warmupData: String = warmDir

  def run(op: JsonNode, data: String): Done = {
    val q = op.get("query").asText
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (got, schema) = t.span(s"operators.${op.get("family").asText}") {
      val df = t.span("queries.build")(SparkEntry.queries(q)(spark, data))
      (t.span("action.collect")(df.collect()), df.schema)
    }
    new Done {
      def rows: Long = got.length.toLong
      def check(): Option[String] = {
        val pin = pins.get(q)
        val d = RowHash.exact(got, schema)
        if (pin == null) Some(s"no pinned digest for $q")
        else if (d.rows != pin.get("rows").asLong) Some(s"rows ${d.rows} != oracle ${pin.get("rows")}")
        else if (d.hash != pin.get("hash").asText) Some(s"hash ${d.hash} != oracle ${pin.get("hash").asText}")
        else None
      }
      // Each op stands alone, as in graft.Bench: nothing it cached or
      // persisted leaks into the next op's timing.
      override def release(): Unit = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = true)
        }
      }
    }
  }
}
