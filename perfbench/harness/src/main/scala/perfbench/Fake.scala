package perfbench

import com.fasterxml.jackson.databind.JsonNode

/** A stand-in for the program, for the benchmark's self-tests: an op of
  * kind "throw" throws, "wrong" returns an output its check rejects, any
  * other kind succeeds. An op's `sleep_ms` sets how long it takes. */
final class Fake extends Workload {
  def warmupData: String = ""
  def run(op: JsonNode, data: String): Done = {
    Thread.sleep(op.path("sleep_ms").asLong(0L))
    op.get("kind").asText match {
      case "throw" => throw new IllegalStateException("fake op failure")
      case kind => new Done {
        def rows: Long = 1L
        def check(): Option[String] = if (kind == "wrong") Some("fake wrong output") else None
      }
    }
  }
}
