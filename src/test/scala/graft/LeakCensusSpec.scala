package graft

/** Leak census over every `SparkEntry.queries` entry: run once at
  * sf0.001, a query must leave the session as it found it. No
  * CacheManager entry, an unchanged `spark.conf.getAll`, and, once a
  * GC has dropped its result, no persisted RDD and no `graft*` temp
  * dir left behind.
  *
  * A query is exempt only where a [[graft.Session.Cache]] owns the
  * artifact for the session's lifetime (listed by name below, with the
  * artifact). The second run of an exempt query must add nothing: the
  * cache hands the first run's artifact back.
  */
class LeakCensusSpec extends SparkSpec {

  private val sessionCached = Map(
    "q33p_ivf_probe_prod" -> "IVF index dir graft-ivf-* (TextVector.ivfIndexFor)",
    "q75p_pq_topk_prod" -> "PQ-encoded corpus snapshot (TextVector.pqIndexFor)",
    "q119p_compressed_ann_prod" -> "compressed-ANN index dir graft-cann-* (TextVector.compressedAnnIndexFor)",
    "q146_incremental_dedup" -> "md5 signature table dir graft-dedup-snap-* (TextVector.dedupSnapshotFor)",
    "q146p_incremental_dedup_prod" -> "xxhash64 signature table dir graft-dedup-snap-* (TextVector.dedupSnapshotFor)",
    "q147_corpus_ingest_stream" -> "staged stream input dir graft-ingest-in-* (TextVector.stagedIngestInputs)",
    "q47_stream_tumbling" -> "staged stream input dir graft-q47-in-* (Events.stagedInputs)",
    "q48_stream_dedup" -> "staged stream input dir graft-q48-in-* (Events.stagedInputs)",
    "q49_stream_stream_join" -> "two staged stream input dirs graft-q49-in-* (Events.stagedInputs)",
    "q122_stream_stateful_totals" -> "staged stream input dir graft-q122-in-* (Events.stagedInputs)")

  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))

  private case class State(cacheEntries: Any, conf: Map[String, String],
                           rdds: Set[Int], dirs: Set[String])

  private def state(): State = {
    val cm = spark.sharedState.cacheManager
    // numCachedEntries is private[sql] in Scala, public in bytecode
    State(cm.getClass.getMethod("numCachedEntries").invoke(cm),
      spark.conf.getAll,
      // ids copied out: a keySet view would hold the map, and with it
      // every RDD the census waits to see reaped
      spark.sparkContext.getPersistentRDDs.keysIterator.toSet,
      Option(tmp.list()).fold(Set.empty[String])(_.filter(_.startsWith("graft")).toSet))
  }

  /** What `q` left behind relative to `before`, empty when nothing.
    * The result frame is built and dropped inside this method, so a GC
    * may reap its snapshots; persisted RDDs and temp dirs get a
    * bounded 2 s for the GC and the cleanup hooks to run. */
  private def leftBy(q: String, before: State): Seq[String] = {
    SparkEntry.queries(q)(spark, sf001).collect()
    val early = state()
    val deadline = System.currentTimeMillis + 2000
    var now = early
    while ((now.rdds.diff(before.rdds).nonEmpty || now.dirs.diff(before.dirs).nonEmpty) &&
        System.currentTimeMillis < deadline) {
      System.gc()
      Thread.sleep(50)
      now = state()
    }
    val confDiff = (early.conf.toSet diff before.conf.toSet) ++
      (before.conf.toSet diff early.conf.toSet)
    Seq(
      Option.when(early.cacheEntries != before.cacheEntries)(
        s"CacheManager entries ${before.cacheEntries} -> ${early.cacheEntries}"),
      Option.when(confDiff.nonEmpty)(
        s"session conf changed: ${confDiff.map(_._1).toSeq.sorted.distinct.mkString(", ")}"),
      Option.when(now.rdds.diff(before.rdds).nonEmpty)(
        s"persisted RDDs left: ${now.rdds.diff(before.rdds).toSeq.sorted.mkString(", ")}"),
      Option.when(now.dirs.diff(before.dirs).nonEmpty)(
        s"temp dirs left: ${now.dirs.diff(before.dirs).toSeq.sorted.mkString(", ")}")
    ).flatten
  }

  test("every registered query leaves no cache entry, conf, persisted RDD or temp dir behind") {
    assert(sessionCached.keySet.subsetOf(SparkEntry.queries.keySet),
      s"exemptions name no query: ${sessionCached.keySet -- SparkEntry.queries.keySet}")
    def owned(leak: String) = leak.startsWith("persisted RDDs") || leak.startsWith("temp dirs")
    val leaks = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val first = leftBy(q, state())
      val found =
        if (!sessionCached.contains(q)) first
        else first.filterNot(owned) ++ leftBy(q, state()).map(l => s"(second run) $l")
      found.map(l => s"$q: $l")
    }
    assert(leaks.isEmpty, leaks.mkString("\n", "\n", ""))
  }
}
