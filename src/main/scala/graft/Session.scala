package graft

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** The one local SparkSession configuration shared by every main
  * (Bench, Verify, ScaleProbe, JobProbe, Explain, ImportCheck,
  * ExportOne) and the specs, so their settings cannot drift:
  * `local[cpus]`, one shuffle partition per core, no UI, and the UTC
  * session time zone pinned in code rather than left to JVM flags.
  * Returns the active session instead when one already exists.
  */
object Session {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Artifacts built once per (session, key): `cache(s, key)(build)`.
    * Weakly keyed on the session OBJECT: an artifact holds DataFrames
    * bound to one session and must not leak into another (identity hash
    * codes can collide), and a collected session's entries drop out. */
  private[graft] final class Cache[V] {
    private val bySession = new java.util.WeakHashMap[SparkSession, TrieMap[String, V]]()
    def apply(s: SparkSession, key: String)(build: => V): V =
      bySession.synchronized(bySession.computeIfAbsent(s, _ => TrieMap.empty[String, V]))
        .getOrElseUpdate(key, build)
  }
}
