package graft

import org.apache.spark.sql.SparkSession

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
}
