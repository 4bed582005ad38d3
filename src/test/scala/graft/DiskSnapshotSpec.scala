package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DiskSnapshot
import org.apache.spark.storage.StorageLevel

/** Contract of the shared snapshot shim every multi-consumer
  * intermediate now rides (bucketByRank, the KN scorers, TF-IDF
  * weights, MinHash signatures, dedup survivors): lazy/eager
  * materialization semantics, DISK_ONLY storage, lineage preserved,
  * values identical, and the internal-row landing zone.
  */
class DiskSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    r +: r.dependencies.flatMap(d => lineage(d.rdd))

  test("diskCached: identical rows, DISK_ONLY level, lineage kept, lazy") {
    val src = spark.range(0, 500, 1, 4)
      .select(col("id"), (col("id") % 7).cast("double").as("v"),
        concat(lit("s"), col("id")).as("s"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val group = "disk-snapshot-lazy-probe"
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "snapshot construction")
    try {
      val snap = DiskSnapshot.diskCached(src)
      Thread.sleep(1000)
      assert(jobs.get == 0, s"diskCached ran ${jobs.get} jobs at construction; must be lazy")
      // values identical (including strings through the InternalRow copy)
      assert(snap.collect().toSeq.sortBy(_.getLong(0)) ==
        src.collect().toSeq.sortBy(_.getLong(0)))
      val rdds = lineage(snap.queryExecution.toRdd
        .asInstanceOf[org.apache.spark.rdd.RDD[_]])
      val persisted = rdds.filter(_.getStorageLevel != StorageLevel.NONE)
      assert(persisted.nonEmpty, "no persisted RDD under the snapshot")
      persisted.foreach(r => assert(r.getStorageLevel == StorageLevel.DISK_ONLY,
        s"level ${r.getStorageLevel}"))
      assert(rdds.forall(!_.isCheckpointed), "snapshot truncated lineage")
      // the session's CacheManager must NOT know about it (no
      // plan-matching leakage into other queries, nothing to unpersist)
      assert(spark.sharedState.cacheManager.lookupCachedData(
        snap.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty,
        "snapshot leaked into the CacheManager")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("diskCachedEager materializes at construction; consumers read blocks") {
    val evals = spark.sparkContext.longAccumulator("upstream-evals")
    val base = spark.range(0, 100, 1, 2).map { i => evals.add(1L); i }
      .toDF("id")
    val snap = DiskSnapshot.diskCachedEager(base)
    val afterBuild = evals.value
    assert(afterBuild == 100L,
      s"eager snapshot evaluated upstream $afterBuild times; expected one full pass")
    // two further consumers: blocks serve them, upstream never re-runs
    assert(snap.count() == 100 && snap.agg(sum(col("id"))).head().getLong(0) == 4950L)
    assert(evals.value == afterBuild, "a consumer recomputed the upstream")
  }

  test("dfFromInternalRows lands unsafe rows without an encoder pass") {
    val src = spark.range(0, 50).select(col("id"),
      transform(sequence(lit(0), lit(2)), x => x * col("id")).as("arr"))
    val rdd = src.queryExecution.asInstanceOf[Any] match {
      case qe: org.apache.spark.sql.execution.QueryExecution =>
        qe.toRdd.map(_.copy())
    }
    val back = DiskSnapshot.dfFromInternalRows(spark, rdd, src.schema)
    assert(back.schema == src.schema)
    assert(back.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap ==
      src.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap)
  }

  test("diskCached: lazy under AQE even when the plan carries shuffles") {
    // toRdd on an AdaptiveSparkPlanExec runs getFinalPhysicalPlan,
    // which eagerly submits every upstream shuffle-stage job — the
    // LazyQueryRDD delegate defers that until the first action. This
    // is the config that actually ships (AQE default-on since 3.2);
    // without the delegate this test fails with jobs > 0.
    val conf = spark.conf
    val prevAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "true")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val group = "disk-snapshot-aqe-lazy-probe"
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "aqe snapshot construction")
    try {
      val src = spark.range(0, 2000, 1, 4)
        .select((col("id") % 13).as("k"), col("id"))
        .groupBy(col("k")).agg(sum(col("id")).as("s"))
      val snap = DiskSnapshot.diskCached(src)
      Thread.sleep(1000)
      assert(jobs.get == 0,
        s"diskCached ran ${jobs.get} jobs at construction under AQE; " +
          "the shuffle stages must wait for the first action")
      assert(snap.count() == 13L)
      assert(jobs.get > 0, "the action never reached the delegate")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
      prevAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
        conf.set("spark.sql.adaptive.enabled", _))
    }
  }

  test("release() drops EVERY persisted RDD in an iterative snapshot chain now") {
    // the explicit complement of the ContextCleaner contract: an
    // iterative loop leaves each round's snapshot reachable only
    // through the NEXT round's lineage — release must walk the RDD
    // dependencies and unpersist all of them, not just the leaf
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var f = DiskSnapshot.diskCachedEager(
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    (0 until 3).foreach { i =>
      f = DiskSnapshot.diskCachedEager(
        f.withColumn("v", org.apache.spark.sql.functions.col("v") + i))
    }
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 4, s"expected 4 chained snapshots, got $added")
    DiskSnapshot.release(f)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"release left persisted RDDs behind: $left")
  }

  test("release() of a snapshot no action has read plans nothing, under AQE too") {
    // walking into an unread LazyQueryRDD would build its delegate, and
    // under AQE building it runs the upstream shuffle stages
    val conf = spark.conf
    val prevAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val snap = DiskSnapshot.diskCached(spark.range(0, 2000, 1, 4)
        .select((col("id") % 13).as("k"), col("id"))
        .groupBy(col("k")).agg(sum(col("id")).as("s")))
      val id = snap.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.head
      assert(spark.sparkContext.getPersistentRDDs.contains(id))
      val (_, jobs) = withJobCount(DiskSnapshot.release(snap))
      assert(jobs == 0, s"releasing an unread snapshot started $jobs jobs")
      assert(!spark.sparkContext.getPersistentRDDs.contains(id),
        "the unread snapshot is still registered as persistent")
      // released, not broken: the frame recomputes through its lineage
      assert(snap.count() == 13L)
    } finally prevAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
      conf.set("spark.sql.adaptive.enabled", _))
  }

  test("released snapshot blocks are ContextCleaner-reaped (weak-ref probe)") {
    // The no-unpersist-bookkeeping contract: the persisted RDD is only
    // strongly reachable through the returned frame's LogicalRDD leaf;
    // once the caller drops the frame, the ContextCleaner must drop
    // the blocks. Build-and-drop in a method scope so no local keeps
    // the frame alive, then GC until the persistent-RDD registry
    // forgets the id.
    def buildAndDrop(): Int = {
      val snap = DiskSnapshot.diskCachedEager(
        spark.range(0, 1000, 1, 2).select(col("id"), (col("id") * 2).as("v")))
      val ids = snap.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
      assert(ids.length == 1, s"expected one LogicalRDD leaf, got $ids")
      assert(spark.sparkContext.getPersistentRDDs.contains(ids.head),
        "eager snapshot not registered as persistent")
      assert(snap.count() == 1000L)
      ids.head
    }
    val id = buildAndDrop()
    val deadline = System.currentTimeMillis + 30000
    while (spark.sparkContext.getPersistentRDDs.contains(id) &&
        System.currentTimeMillis < deadline) {
      System.gc()
      Thread.sleep(250)
    }
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "released snapshot's blocks were never reaped — the frame is not " +
        "the only strong reference, or the cleaner lost track of the RDD")
  }

  test("Bench.isolateAfter drops this timing's snapshot blocks, keeps prior ones") {
    // the bench's per-query isolation step: DiskSnapshot blocks are
    // invisible to clearCache() BY DESIGN, so one query's corpus-sized
    // DISK_ONLY blocks would otherwise linger into the next timing
    // until GC + ContextCleaner fire — polluting the very signal the
    // 2x perf gate reads. Session-lifetime artifacts (anything
    // persisted BEFORE the timing started) must survive.
    val base = spark.sparkContext.getPersistentRDDs.keySet
    val pre = DiskSnapshot.diskCachedEager(
      spark.range(0, 100, 1, 2).select(col("id")))
    assert(pre.count() == 100L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val preIds = before.diff(base)
    assert(preIds.nonEmpty, "the session-lifetime snapshot never registered")
    val during = DiskSnapshot.diskCachedEager(
      spark.range(0, 200, 1, 2).select(col("id"), (col("id") * 3).as("w")))
    assert(during.count() == 200L)
    val newIds = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(newIds.nonEmpty, "the in-timing snapshot never registered")
    Bench.isolateAfter(spark, before)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(newIds.forall(!after.contains(_)),
      s"in-timing snapshot blocks survived isolation: ${after.intersect(newIds)}")
    // only THIS test's session-lifetime block is asserted to survive:
    // `before` may also hold other suites' lazily-snapshotted frames
    // whose ContextCleaner reaping can race this test on the shared
    // session (a GC between the two keySet captures), which is not
    // isolateAfter's doing
    assert(preIds.subsetOf(after),
      s"isolation dropped session-lifetime blocks: ${preIds.diff(after)}")
    // the dropped frame still evaluates (lineage preserved, not truncated)
    assert(during.count() == 200L)
    DiskSnapshot.release(pre)
  }
}
