package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.core.{Header, OCDataset}

/** Read/write path (reference python/opencosmo/io — SURVEY.md §2.1).
  *
  * Storage layout: one directory per dataset —
  *   <path>/data.parquet/   columnar data (Parquet ≈ the reference's
  *                          per-column HDF5 `data/` group; row-group
  *                          stats give the same min/max windowing)
  *   <path>/_header.json    header sidecar (≈ HDF5 `header/` group)
  * The reference's MPI-parallel writer (io/mpi.py, 517 LoC) dissolves:
  * `df.write.parquet` is already a cluster-parallel columnar write.
  */
object OCIO {

  /** Write dataset + header sidecar. `sortColumn` optionally clusters
    * rows within files (e.g. by Morton key) so spatial row-group
    * pruning works on re-read — the Spark analog of the reference
    * writing in storage order to keep its tree index valid
    * (handler.py:330-350).
    */
  def write(ds: OCDataset, path: String, sortColumn: Option[String] = None): Unit =
    writeAs(ds, path, "parquet", sortColumn)

  /** Open a dataset directory written by [[write]]. `hooks` are
    * open-time enrichment functions (the Spark analog of the
    * reference's DatasetOpen/Instantiate plugin hook points,
    * plugins/hook.py:15-71 — e.g. synthesizing redshift/ra/dec
    * columns at open, collection/lightcone/plugins.py:20-108).
    */
  def open(spark: SparkSession, path: String,
           hooks: Seq[OCDataset => OCDataset] = Nil): OCDataset =
    read(spark, Seq(path), "parquet", None, hooks)

  /** Data-type-keyed open hooks (reference plugin registration,
    * plugins/hook.py:15-71: plugins declare which dataset types they
    * enrich — e.g. the lightcone plugin synthesizing redshift/ra/dec
    * columns at open, collection/lightcone/plugins.py:20-108). Hooks
    * registered here run on every [[open]], [[openAs]] and [[openMany]] whose sidecar
    * `data_type` matches, before any per-call hooks. Hooks are plan
    * rewrites — they add derived columns lazily, nothing executes at
    * open.
    */
  object Hooks {
    private val byType =
      scala.collection.concurrent.TrieMap.empty[String, Vector[OCDataset => OCDataset]]
    def register(dataType: String)(h: OCDataset => OCDataset): Unit =
      byType.updateWith(dataType) {
        case Some(v) => Some(v :+ h)
        case None    => Some(Vector(h))
      }
    def forType(dataType: String): Seq[OCDataset => OCDataset] =
      byType.getOrElse(dataType, Vector.empty)
    def clear(): Unit = byType.clear()
  }

  /** Spatially-indexed write (reference spatial/tree.py:272-282
    * `apply_index` + write-order preservation handler.py:330-350):
    * adds a persisted `morton_key` column (native codegen'd
    * expression) at `level`, RANGE-partitions + sorts by it so files
    * and row groups carry disjoint key intervals, and records the
    * level in the header sidecar. `bound` on re-read then filters the
    * stored column with key ranges — no per-row key recompute, and
    * parquet min/max stats prune whole row groups / files for
    * contained cells (the Spark analog of the reference's contiguous
    * index ranges).
    *
    * The key is computed in the dataset's CURRENT convention over the
    * header box — write base-convention (scalefree) data, which is
    * also what the reference's files store.
    */
  /** Smallest octree level whose expected cell occupancy is at most
    * `targetRowsPerCell` — the engine's analog of the reference
    * recounting per-cell occupancy and dropping sparse levels at write
    * time (tree.py:272-282): instead of storing every level and
    * pruning, pick the one level whose granularity fits the data.
    * Capped at 10 (8^10 ≈ 10⁹ cells — beyond that the key column's
    * row-group stats do the refining).
    */
  def chooseSpatialLevel(rows: Long, targetRowsPerCell: Long = 4096): Int = {
    var level = 1
    while (level < 10 && (rows >> (3 * level)) > targetRowsPerCell) level += 1
    level
  }

  def writeSpatial(ds: OCDataset, path: String,
                   coords: (String, String, String) = ("x", "y", "z"),
                   level: Int = 0,
                   numPartitions: Option[Int] = None): Unit = {
    require(!ds.columns.contains("morton_key"),
      "dataset already has a morton_key column")
    // level 0 = occupancy-adaptive: one count() sizes the tree
    val lvl = if (level > 0) level else chooseSpatialLevel(ds.count())
    val (cx, cy, cz) = coords
    val size = if (ds.header.boxSize > 0) ds.header.boxSize else 1.0
    // build (and therefore VALIDATE) the final header BEFORE the
    // overwrite — a bad level failing Header's require after the data
    // write would tear the dataset: new keys on disk under the OLD
    // sidecar, and bound()'s stored-key fast path then filters stale
    // key ranges against the new keys
    val outHeader = ds.header.copy(spatialIndexLevel = lvl,
      spatialIndexCoords = Seq(cx, cy, cz))
    val keyed = ds.df.withColumn("morton_key",
      graft.spatial.Morton.keyColumnNative(col(cx), col(cy), col(cz), 0.0, size, lvl))
    // explicit numPartitions pins the file count (AQE otherwise
    // right-sizes the range shuffle — correct at scale, where each
    // ~128 MB file then holds several key-sorted row groups)
    val ranged = numPartitions
      .fold(keyed.repartitionByRange(col("morton_key")))(
        n => keyed.repartitionByRange(n, col("morton_key")))
    ranged.sortWithinPartitions(col("morton_key"))
      .write.mode("overwrite").parquet(s"$path/data.parquet")
    // record WHICH coordinates the key was built over — bound() only
    // takes the stored-key fast path when its coords match, otherwise
    // a query over different columns would silently reuse a key
    // derived from the wrong coordinates
    Header.write(path, outHeader)
  }

  /** Multi-format write: parquet (default, columnar — the scale
    * format), json, or csv (interchange formats; csv loses nested/
    * array types). The header sidecar rides along in every format, so
    * unit/cosmology metadata survives interchange.
    */
  def writeAs(ds: OCDataset, path: String, format: String,
              sortColumn: Option[String] = None): Unit = {
    val d = sortColumn.fold(ds.df)(c => ds.df.sortWithinPartitions(col(c)))
    val w = d.write.mode("overwrite")
    format match {
      case "parquet" => w.parquet(s"$path/data.parquet")
      case "json"    => w.json(s"$path/data.json")
      case "csv"     => w.option("header", "true").csv(s"$path/data.csv")
      case other     => throw new IllegalArgumentException(s"format $other")
    }
    Header.write(path, ds.header)
  }

  /** Open any [[writeAs]] output, hooks applied as in [[open]]; csv
    * re-applies a caller-provided schema (csv is stringly-typed on disk).
    */
  def openAs(spark: SparkSession, path: String, format: String,
             csvSchema: Option[org.apache.spark.sql.types.StructType] = None): OCDataset =
    read(spark, Seq(path), format, csvSchema, Nil)

  /** The one open path: header, the format's frame, then the partition
    * query hook (reference PartitionCtx, plugins/contexts.py:110-130),
    * type-keyed [[Hooks]], per-call `hooks` and the DatasetOpen fold.
    * Several `paths` read as one multi-path scan carrying the first
    * header; their unit conventions must agree. */
  private def read(spark: SparkSession, paths: Seq[String], format: String,
                   csvSchema: Option[org.apache.spark.sql.types.StructType],
                   hooks: Seq[OCDataset => OCDataset]): OCDataset = {
    val headers = paths.map(Header.read)
    val header = headers.head
    headers.tail.foreach { h =>
      require(h.unitConvention == header.unitConvention,
        s"mixed unit conventions: ${h.unitConvention} vs ${header.unitConvention}")
    }
    def files(name: String) = paths.map(p => s"$p/$name")
    val raw = format match {
      case "parquet" => parquet(spark, files("data.parquet"))
      case "json"    => spark.read.json(files("data.json"): _*)
      case "csv" =>
        val r = spark.read.option("header", "true")
        csvSchema.fold(r.option("inferSchema", "true"))(r.schema)
          .csv(files("data.csv"): _*)
      case other => throw new IllegalArgumentException(s"format $other")
    }
    val df = graft.plugins.Hooks.partition
      .query(graft.plugins.Hooks.PartitionRequest(header, raw)).getOrElse(raw)
    val opened = (Hooks.forType(header.dataType) ++ hooks)
      .foldLeft(OCDataset(df, header))((d, h) => h(d))
    graft.plugins.Hooks.datasetOpen.fold(opened)
  }

  /** The one parquet open behind every library table read ([[read]],
    * the collection children, `graft.Tables`, the index reloads). The
    * schema is read from one footer on the driver and declared to the
    * reader, so the open starts no Spark job (SURVEY §1.4: the schema
    * is fixed per file, read, not inferred); `spark.read.parquet` reads
    * the same footer inside a job. The footer is the one
    * `ParquetUtils.inferSchema` would touch, converted by Spark's own
    * `ParquetFileFormat.readSchema`, so `nanosAsLong`, `binaryAsString`,
    * `int96AsTimestamp` and `inferTimestampNTZ` apply as under
    * inference, and partition columns are still discovered from the
    * directory names. Nothing is cached: a rewritten path shows its new
    * footer. Without a footer (see [[footer]]) this is plain inference,
    * with its errors.
    */
  private[graft] def parquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    parquet(spark, paths, footer(spark, paths))

  /** [[parquet]] with the footer already read (`graft.Tables.events`
    * inspects it first). */
  private[graft] def parquet(spark: SparkSession, paths: Seq[String],
                             footer: Option[Footer]): DataFrame =
    footer.flatMap(GraftFooters.schema(_, spark))
      .fold(spark.read)(spark.read.schema)
      .parquet(paths: _*)

  /** The footer schema inference would read for `paths`: in Spark's
    * listing (names starting `_` or `.` skipped, summary files kept),
    * `_common_metadata`, then `_metadata`, else the first data file by
    * path. None when `spark.sql.parquet.mergeSchema` is on (every file
    * counts then), when the paths hold no parquet file, or when the
    * listing or the footer cannot be read. */
  private[graft] def footer(spark: SparkSession, paths: Seq[String]): Option[Footer] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else st.getPath.getFileSystem(conf).listStatus(st.getPath).toSeq
          .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
      val files = paths.flatMap { p =>
        val path = new Path(p)
        leaves(path.getFileSystem(conf).getFileStatus(path))
      }.sortBy(_.getPath.toString)
      val summaries = Seq("_common_metadata", "_metadata")
      summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
        .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
        .flatMap(GraftFooters.read(conf, _))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** Write a structure collection: parent at <path>/, children under
    * <path>/children/<name>/, each clustered by the link key so a
    * parent's child rows are row-group-local (the Spark analog of the
    * reference's contiguous link ranges, SPEC.md:69-80).
    */
  def writeStructure(coll: graft.collections.StructureCollection, path: String): Unit = {
    write(coll.properties.copy(header =
      coll.properties.header.copy(dataType = "structure")), path,
      sortColumn = Some(coll.linkKey))
    coll.children.foreach { case (name, child) =>
      child.sortWithinPartitions(col(coll.linkKey))
        .write.mode("overwrite").parquet(s"$path/children/$name")
    }
    // persist the link key — openAny would otherwise guess a default
    // and silently wire the reopened collection to the WRONG key
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_link_key.txt"), coll.linkKey)
  }

  /** The persisted link key of a structure directory, when recorded
    * (collections written before the sidecar existed fall back to the
    * caller's default).
    */
  def storedLinkKey(path: String): Option[String] = {
    val f = java.nio.file.Paths.get(path, "_link_key.txt")
    if (java.nio.file.Files.exists(f))
      Some(java.nio.file.Files.readString(f).trim)
    else None
  }

  def openStructure(spark: SparkSession, path: String,
                    linkKey: String): graft.collections.StructureCollection = {
    val parent = open(spark, path)
    val childDir = new java.io.File(s"$path/children")
    val children = Option(childDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .map(d => d.getName -> parquet(spark, Seq(d.getPath))).toMap
    // the sidecar key (what the children were actually clustered by)
    // wins over the caller's guess
    graft.collections.StructureCollection(parent, children,
      storedLinkKey(path).getOrElse(linkKey))
  }

  /** Write a lightcone `partitionBy("step")` — the storage layout that
    * turns withRedshiftRange step pruning into parquet partition
    * pruning on re-read.
    */
  def writeLightcone(lc: graft.collections.Lightcone, path: String): Unit = {
    lc.toDataset.df.write.mode("overwrite")
      .partitionBy("step").parquet(s"$path/data.parquet")
    // NaN/Infinity are not JSON — fail at write time, not at the
    // eventual unreadable open
    lc.stepRedshifts.foreach { case (st, z) =>
      require(!z.isNaN && !z.isInfinite, s"step $st has non-finite redshift $z") }
    val zs = lc.stepRedshifts.toSeq.sortBy(_._1)
      .map { case (s, z) => s"""\"$s\": $z""" }
      .mkString("{", ", ", "}")
    // deterministic top-level sidecar: the LOWEST step's header (an
    // unordered Map's head would record a run-dependent redshift)
    Header.write(path,
      lc.steps.toSeq.minBy(_._1)._2.header.copy(isLightcone = true,
        dataType = "lightcone"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_steps.json"), zs)
  }

  def openLightcone(spark: SparkSession, path: String): graft.collections.Lightcone = {
    import scala.jdk.CollectionConverters._
    val header = Header.read(path)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_steps.json")))
    // ONE parquet read shared by every step (one driver file listing,
    // not one per step); each step filters it — partition-pruned scan
    // (PartitionFilters on step)
    val all = parquet(spark, Seq(s"$path/data.parquet"))
    val steps = n.fieldNames().asScala.map { s =>
      val step = s.toInt
      val df = all.filter(col("step") === step).drop("step")
      // LightconeOpen fold hook (reference LightconeOpenCtx,
      // plugins/contexts.py:58-75): plugins enrich each step dataset
      step -> graft.plugins.Hooks.lightconeOpen.fold(
        graft.core.OCDataset(df, header.copy(redshift = n.get(s).asDouble())))
    }.toMap
    graft.collections.Lightcone(steps)
  }

  /** Write a HEALPix map: ordinary dataset layout with the nside and
    * dataType recorded in the sidecar, clustered by pixel so coarse
    * queries prune row groups (nested pixel ids are prefix-ordered).
    */
  def writeHealpixMap(m: graft.collections.HealpixMap, path: String,
                      header: Header = Header()): Unit =
    write(OCDataset(m.df, header.copy(dataType = "healpix_map",
      healpixNside = m.nside)), path, sortColumn = Some(m.pixelCol))

  def openHealpixMap(spark: SparkSession, path: String): graft.collections.HealpixMap = {
    val ds = open(spark, path)
    require(ds.header.dataType == "healpix_map" && ds.header.healpixNside > 0,
      s"$path is not a healpix_map dataset")
    graft.collections.HealpixMap(ds.df, ds.header.healpixNside)
  }

  /** Write a simulation collection: one member dataset per
    * subdirectory, so members open individually or together.
    */
  def writeSimulation(sc: graft.collections.SimulationCollection,
                      path: String): Unit = {
    sc.members.foreach { case (name, ds) =>
      write(ds, s"$path/members/$name")
    }
    Header.write(path, Header(dataType = "simulation_collection"))
  }

  def openSimulation(spark: SparkSession, path: String): graft.collections.SimulationCollection = {
    val dir = new java.io.File(s"$path/members")
    val members = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .map(d => d.getName -> open(spark, d.getPath)).toMap
    require(members.nonEmpty, s"no members under $path")
    graft.collections.SimulationCollection(members)
  }

  /** Open SEVERAL dataset directories as one dataset (reference
    * `oc.open(*paths)` merging multiple files of one data type,
    * io/io.py:59-113): a multi-path parquet scan — one distributed
    * read, no driver-side concat — with the first header carried
    * (unit tables must agree; mismatching conventions throw) and the
    * open hooks applied as in [[open]].
    */
  def openMany(spark: SparkSession, paths: Seq[String]): OCDataset = {
    require(paths.nonEmpty, "openMany of nothing")
    read(spark, paths, "parquet", None, Nil)
  }

  /** Open dispatch by sidecar dataType (reference oc.open,
    * io/iopen.py:80-95: group structure → wrapper type).
    */
  def openAny(spark: SparkSession, path: String,
              linkKey: String = "halo_tag"): Any =
    Header.read(path).dataType match {
      case "structure"             => openStructure(spark, path, linkKey)
      case "lightcone"             => openLightcone(spark, path)
      case "healpix_map"           => openHealpixMap(spark, path)
      case "simulation_collection" => openSimulation(spark, path)
      case _                       => open(spark, path)
    }

  /** Round-trip-stable parquet export that flattens multi-dimensional
    * (array) columns into `name_0 … name_k` scalar columns — reference
    * write_parquet (io/parquet.py:18-90). `widths` gives each array
    * column’s fixed width (probed as max(size) over the frame when omitted).
    */
  def exportParquetFlat(df: DataFrame, path: String,
                        widths: Map[String, Int] = Map.empty): Unit =
    flatten(df, widths).write.mode("overwrite").parquet(path)

  def flatten(df: DataFrame, widths: Map[String, Int] = Map.empty): DataFrame = {
    // unknown widths are probed in ONE driver action for all array
    // columns together (a per-column first() would launch one job each)
    val unknown = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] && !widths.contains(f.name) => f.name
    }
    val probed: Map[String, Int] =
      if (unknown.isEmpty) Map.empty
      else {
        // max(size) over the frame, not first(): the first row can be
        // NULL (size -1 → the column silently VANISHES from the
        // export) or the frame can be empty (first() throws); ragged
        // arrays flatten to the widest row, shorter rows null-pad
        val row = df.agg(
          max(size(col(unknown.head))).as(unknown.head),
          unknown.tail.map(n => max(size(col(n))).as(n)).toSeq: _*).head()
        unknown.zipWithIndex.map { case (n, i) =>
          n -> (if (row.isNullAt(i)) 0 else math.max(0, row.getInt(i)))
        }.toMap
      }
    val cols = df.schema.fields.flatMap { f =>
      f.dataType match {
        case _: ArrayType =>
          val w = widths.getOrElse(f.name, probed(f.name))
          // get(), not getItem(): rows shorter than the probed width
          // (ragged or null arrays) null-pad — getItem THROWS past the
          // end under ANSI mode (Spark 4 default)
          (0 until w).map(i => get(col(f.name), lit(i)).as(s"${f.name}_$i"))
        case _ => Seq(col(f.name))
      }
    }
    df.select(cols.toSeq: _*)
  }
}
