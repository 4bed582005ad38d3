package graft

import org.apache.parquet.hadoop.Footer
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.io.OCIO

/** Loader for the driver-generated TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). One parquet file per table.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Open one table; the schema comes from its footer, so the open
    * starts no Spark job (`graft.io.OCIO.parquet`). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else OCIO.parquet(spark, Seq(s"$dir/$name.parquet"))

  /** Load + spread an under-partitioned scan across the cluster. The
    * gate-scale tables are ONE parquet split each, so every per-row-
    * expensive map stage (md5 shingles, interpreted projection folds)
    * otherwise runs on a single core — an artifact of the small test
    * files, not of the operators: a production corpus arrives as
    * thousands of splits and never takes this shuffle (the condition
    * is partitions < cores). Used by the corpus/vector query packs,
    * whose operators are content-keyed and partitioning-independent
    * by contract; NOT used by the core/relational packs, where
    * row-order operators (take-from-end) keep the scan's natural
    * order.
    */
  def spread(spark: SparkSession, dir: String, name: String): DataFrame =
    spreadDf(apply(spark, dir, name))

  /** The spread policy itself, on any frame: repartition to the
    * cluster's parallelism ONLY when the current scan has fewer
    * partitions (a production corpus of thousands of splits never
    * takes the shuffle). The single definition is shared by [[spread]]
    * and the operators that spread mid-pipeline (compressed-ANN code
    * chain) so the condition cannot drift between copies.
    */
  def spreadDf(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // Shuffle-free lineage only (r19 ADVICE): `df.rdd` under AQE
    // materializes every upstream shuffle stage AT CONSTRUCTION time —
    // the DiskSnapshot-documented pitfall — so the partition probe is
    // gated to plans with no exchange-inducing operator, and a frame
    // below a shuffle is returned as it is. Caveat: that frame is NOT
    // always cluster-sized — AQE coalesces small shuffle outputs, so a
    // small post-aggregate or post-join frame can arrive as a single
    // partition and is still not spread. Every current call site
    // passes a scan or a map-only derivation of one, so none hits this.
    import org.apache.spark.sql.catalyst.plans.logical._
    val shuffly = df.queryExecution.analyzed.exists {
      case _: Aggregate | _: Join | _: Window | _: Distinct |
           _: Deduplicate | _: RepartitionByExpression | _: GlobalLimit => true
      case s: Sort => s.global // sortWithinPartitions is narrow
      case r: Repartition => r.shuffle // coalesce() is narrow — keep probing it
      case _ => false
    }
    if (shuffly) df
    else if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** events.parquet has stored ts as TIMESTAMP(NANOS) (which Spark 4
    * maps to long under `nanosAsLong`, so we truncate to microseconds
    * ourselves) and as plain TIMESTAMP[us] (isAdjustedToUTC=false →
    * TIMESTAMP_NTZ). Normalize either physical shape to Spark's native
    * TimestampType; the NTZ cast is analyzed under a pinned UTC
    * timezone (restored afterwards), so it never shifts the instant
    * regardless of the caller's session timezone.
    *
    * The footer tells the physical type before anything runs. Only an
    * `INT64 TIMESTAMP(NANOS)` ts sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` on the session, and
    * leaves it set: the vectorized reader's converter reads the conf
    * again when the scan executes, after this method has returned. A
    * TIMESTAMP[us] file leaves the conf as found. When no footer was
    * read (`mergeSchema` on, or an unreadable file) the type is unknown
    * and the conf is set as a NANOS file needs it.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    val paths = Seq(s"$dir/events.parquet")
    val footer = OCIO.footer(spark, paths)
    if (footer.forall(nanos(_, "ts")))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = OCIO.parquet(spark, paths, footer)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          timestamp_micros(floor(col("ts") / 1000L).cast("long")))
      case TimestampNTZType | TimestampType =>
        // the NTZ→TimestampType cast is instant-preserving ONLY under
        // a UTC session timezone. The cast's zone is captured at
        // ANALYSIS time (ResolveTimeZone bakes the conf into the Cast,
        // and withColumn analyzes eagerly), so pinning UTC around the
        // frame's construction is enough — and the caller's session
        // timezone is restored rather than mutated as a side effect
        // of reading a table (a library loader must not silently
        // shift every later timezone-dependent expression in the
        // session). StreamingSpec's "events loader preserves instants…"
        // test pins both properties; OpenSchemaSpec pins the NANOS
        // branch and the untouched `nanosAsLong`.
        val tzKey = "spark.sql.session.timeZone"
        val prevTz = spark.conf.get(tzKey)
        spark.conf.set(tzKey, "UTC")
        try raw.withColumn("ts", col("ts").cast(TimestampType))
        finally spark.conf.set(tzKey, prevTz)
      case other =>
        throw new IllegalArgumentException(
          s"events.ts has unexpected parquet type $other")
    }
  }

  /** Whether `column` is stored as `TIMESTAMP(NANOS)` (an INT64). */
  private def nanos(footer: Footer, column: String): Boolean = {
    val schema = footer.getParquetMetadata.getFileMetaData.getSchema
    schema.containsField(column) &&
      (schema.getType(schema.getFieldIndex(column)).getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })
  }
}
