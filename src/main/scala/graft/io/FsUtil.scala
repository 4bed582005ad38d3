package graft.io

/** Local-filesystem helpers shared by the gate queries, probes, and
  * specs that stage temp directories (Arrow shards, parquet
  * round-trips, streaming sources/checkpoints).
  */
object FsUtil {

  /** Delete `root` recursively. `Files.walk` holds a directory handle
    * until the stream is CLOSED — repeated verify/bench runs in one
    * JVM would otherwise leak fds — so the walk rides Using.resource.
    * A missing `root` is a no-op.
    */
  def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(root)) {
      scala.util.Using.resource(java.nio.file.Files.walk(root)) { w =>
        w.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  /** Delete `root` recursively at JVM exit, ignoring failures: the
    * cleanup of temp artifacts cached for the JVM's life. */
  def deleteOnExit(root: java.nio.file.Path): Unit =
    sys.addShutdownHook(try deleteRecursively(root) catch { case _: Throwable => () })
}
