package org.apache.spark.sql.graftshim

import org.apache.spark.{Dependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.storage.StorageLevel

/** An RDD that defers building its delegate — and therefore the
  * underlying query's physical planning — until the first driver-side
  * partitions/dependencies access (i.e. the first action).
  *
  * Why it exists: under AQE (on by default since Spark 3.2)
  * `QueryExecution.toRdd` is NOT lazy — `AdaptiveSparkPlanExec
  * .execute()` runs `getFinalPhysicalPlan()`, which eagerly submits
  * every upstream shuffle-stage job at CONSTRUCTION time. Without
  * this wrapper, [[DiskSnapshot.diskCached]]'s "materializes on first
  * action" contract silently degraded to near-eager for any shuffled
  * plan in the default config. The thunk (which captures
  * non-serializable driver state: the Dataset/QueryExecution) is
  * `@transient` and cleared after init; executors only ever see the
  * resolved delegate via the serialized dependency, exactly like a
  * `MapPartitionsRDD`.
  */
private final class LazyQueryRDD(
    sc: SparkContext,
    @transient @volatile private var thunk: () => RDD[InternalRow])
  extends RDD[InternalRow](sc, Nil) {

  @transient private lazy val delegate: RDD[InternalRow] = {
    val d = thunk()
    thunk = null
    d
  }

  private[graftshim] def planned: Boolean = thunk == null

  override protected def getPartitions: Array[Partition] = delegate.partitions

  override protected def getDependencies: Seq[Dependency[_]] =
    Seq(new OneToOneDependency(delegate))

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    firstParent[InternalRow].iterator(split, context)
}

/** Fault-tolerant, self-cleaning intermediate materialization.
  *
  * The multi-consumer intermediates in the corpus operators (scored
  * frames, (doc, gram) count tables, TF-IDF weight tables) need to be
  * computed once and read several times — but neither of Spark's two
  * obvious mechanisms has the right semantics at 100 TB:
  *
  *   - `Dataset.localCheckpoint(true)` TRUNCATES LINEAGE: the blocks
  *     live only on executor-local storage, so a single lost executor
  *     fails the whole job instead of recomputing the lost partitions
  *     — and `eager = true` forces a full extra materialization even
  *     when the caller never evaluates the result.
  *   - `Dataset.persist` keeps lineage, but registers the plan in the
  *     session's `CacheManager`, which holds STRONG references: a
  *     library function that persists an intermediate it hands back
  *     lazily can never safely `unpersist` (the caller has not
  *     evaluated yet), so every call leaks a cached plan for the
  *     session's lifetime — and leaked cache entries also leak into
  *     OTHER queries via plan-matching cache reuse.
  *
  * This helper takes the third path: persist the physical
  * `RDD[InternalRow]` under the plan, not the plan itself.
  *
  *   - Lineage is PRESERVED (`RDD.persist` keeps dependencies), so an
  *     executor loss recomputes only the lost partitions.
  *   - The persisted RDD is tracked by Spark's `ContextCleaner` via a
  *     weak reference: when the returned frame (whose `LogicalRDD`
  *     leaf holds the only strong reference) is released by the
  *     caller, the blocks are dropped automatically — no unpersist
  *     bookkeeping, no CacheManager entry, no cross-query plan
  *     interference.
  *   - `DISK_ONLY` always: these intermediates are corpus-shaped; at
  *     scale they belong on local disk, not in executor heap.
  *
  * Lives under `org.apache.spark.sql` because rebuilding a `DataFrame`
  * from an `RDD[InternalRow]` without a round-trip through external
  * `Row`s needs the `private[sql]` `internalCreateDataFrame` — the
  * same package-placement pattern public Spark-ecosystem libraries
  * use for typed internals.
  *
  * Rows are copied before persisting (`toRdd` reuses `UnsafeRow`
  * buffers per partition); the copy cost is identical to what
  * `localCheckpoint` paid internally.
  */
object DiskSnapshot {

  /** A lazily-materialized, lineage-preserving, ContextCleaner-tracked
    * snapshot of `df`. Materializes on the first action that touches
    * it; every later consumer reads the persisted blocks.
    *
    * The laziness holds under AQE too: `toRdd` on an adaptive plan
    * eagerly runs every upstream shuffle stage, so the call is
    * deferred inside a [[LazyQueryRDD]] until the first action
    * touches the snapshot's partitions.
    */
  def diskCached(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[ClassicDataset[Row]]
    val spark = cdf.sparkSession
    val rdd: RDD[InternalRow] = new LazyQueryRDD(spark.sparkContext,
      () => cdf.queryExecution.toRdd.map(_.copy()))
    rdd.persist(StorageLevel.DISK_ONLY)
    spark.internalCreateDataFrame(rdd, cdf.schema, isStreaming = false)
  }

  /** [[diskCached]], materialized NOW: for the "compute the (smaller)
    * output, then release the (bigger) cached input" lifecycle —
    * the input's release is only safe once the output no longer
    * needs it, so the output must be eager. Unlike
    * `localCheckpoint(true)` the blocks keep lineage (executor loss
    * recomputes — through the full upstream if the input cache is
    * gone, but the job survives), live on disk rather than heap, and
    * are ContextCleaner-reaped with the returned frame. The no-op
    * foreach materializes every partition: `BlockManager.putIterator`
    * consumes each partition's iterator fully when a storage level is
    * set, so the blocks are complete even though the closure reads
    * nothing.
    */
  def diskCachedEager(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[ClassicDataset[Row]]
    val spark = cdf.sparkSession
    val rdd: RDD[InternalRow] = cdf.queryExecution.toRdd.map(_.copy())
    rdd.persist(StorageLevel.DISK_ONLY)
    rdd.foreachPartition(_ => ())
    spark.internalCreateDataFrame(rdd, cdf.schema, isStreaming = false)
  }

  /** A DataFrame over an `RDD[InternalRow]` without the external-`Row`
    * round trip — the landing zone for columnar readers (Arrow IPC
    * import) that already produce `UnsafeRow`s: `createDataFrame`
    * would force every value through an external `Row` plus an
    * encoder pass, doubling the per-row work the columnar path just
    * avoided.
    */
  def dfFromInternalRows(spark: org.apache.spark.sql.SparkSession,
                         rdd: RDD[InternalRow],
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Explicitly release EVERY persisted RDD reachable from `df`'s
    * plan leaves (walking RDD lineage, so an iterative chain of
    * snapshots — each round referencing the previous through its
    * dependencies — frees ALL rounds' blocks, not just the leaf's).
    *
    * The eager complement of the ContextCleaner contract: snapshots
    * are DELIBERATELY invisible to the CacheManager, so
    * `Dataset.unpersist()` on a snapshot-backed frame is a silent
    * no-op — a caller looping fits in one session calls this to drop
    * blocks NOW instead of waiting for a GC + cleaner cycle. It plans
    * nothing: below a lazy snapshot no action has read (no blocks yet)
    * it stops, since building the delegate would, under AQE, run jobs.
    */
  def release(df: DataFrame): Unit = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) {
      if (r.getStorageLevel != StorageLevel.NONE) r.unpersist(blocking = false)
      r match {
        case l: LazyQueryRDD if !l.planned =>
        case _ => r.dependencies.foreach(d => walk(d.rdd))
      }
    }
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(walk)
  }
}
