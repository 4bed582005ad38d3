package graft.io.hdf5

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Header, OCDataset}
import graft.units.Units.Cosmology

/** HDF5 ⇄ engine bridge (reference SPEC.md:1-101; io/iopen.py:80-186;
  * io/serial.py): opens reference-layout `.hdf5` files as OCDatasets /
  * StructureCollections and exports datasets back out.
  *
  * Read path is DISTRIBUTED: the driver touches only file METADATA
  * (group tree, dtypes, dims — a few KB); row data is read by Spark
  * tasks, each opening the file and reading its own row window of each
  * column — the Spark analog of the reference's per-rank HDF5 column
  * windows (io/mpi.py). On a cluster this requires the file on shared
  * storage, exactly like the reference's MPI readers.
  *
  * Import (`importDataset`) converts to the engine's native
  * parquet+sidecar layout so all downstream scans get row-group
  * pruning/pushdown; `openDataFrame` reads directly without
  * conversion for one-shot access.
  */
object Hdf5Io {

  // ---- schema (driver-side, metadata only) --------------------------

  final case class ColMeta(name: String, addr: Long, sparkType: DataType,
                           unit: String, description: String, rows: Long)

  private def sparkTypeOf(r: Hdf5Reader)(m: r.DatasetMeta): DataType = {
    val elem = m.dtype match {
      // UNSIGNED fixed-point widens to the next signed Spark type
      // (Spark has no unsigned types — the same mapping its parquet
      // reader uses), so a uint32 id of 3e9 imports as the Long 3e9,
      // never a wrapped negative. uint64 has no exact Spark home and
      // fails loudly rather than wrapping above Long.MaxValue.
      case r.FixedPoint(8, false) => Hdf5Reader.fail(
        s"unsigned 64-bit column ${m.name} has no exact Spark type — " +
          "convert to int64 (or split) before import")
      case r.FixedPoint(8, _)     => LongType
      case r.FixedPoint(4, false) => LongType
      case r.FixedPoint(4, _)     => IntegerType
      case r.FixedPoint(2, false) => IntegerType
      case r.FixedPoint(2, _)     => ShortType
      case r.FixedPoint(1, false) => ShortType
      case r.FixedPoint(1, _)     => ByteType
      case r.Floating(8)      => DoubleType
      case r.Floating(4)      => FloatType
      case _: r.FixedString   => StringType
      case r.VlenString       => StringType
      case other => Hdf5Reader.fail(s"unsupported column dtype $other for ${m.name}")
    }
    if (m.dims.size <= 1) elem else ArrayType(elem, containsNull = false)
  }

  /** data-group columns of `group` ("data" | "<ds>/data"), in stored
    * column order if the writer recorded one, else name order.
    */
  def columns(path: String, group: String = "data"): Seq[ColMeta] = {
    val r = new Hdf5Reader(path)
    try {
      val dataInfo = resolveGroup(r, group)
      val links = r.groupLinks(dataInfo)
      val metas = links.map { case (name, addr) =>
        val info = r.objectInfo(addr)
        val m = r.datasetMeta(name, info)
        ColMeta(name, addr, sparkTypeOf(r)(m),
          info.attrs.get("unit").collect { case s: String if s != "None" => s }.getOrElse(""),
          info.attrs.get("description").collect { case s: String => s }.getOrElse(""),
          m.rows)
      }
      require(metas.map(_.rows).distinct.size <= 1,
        s"ragged data group $group: ${metas.map(m => s"${m.name}=${m.rows}").mkString(", ")}")
      dataInfo.attrs.get("column_order") match {
        case Some(order: Array[Any]) =>
          val byName = metas.map(m => m.name -> m).toMap
          order.toSeq.collect { case n: String if byName.contains(n) => byName(n) } ++
            metas.filterNot(m => order.contains(m.name))
        case _ => metas
      }
    } finally r.close()
  }

  private def resolveGroup(r: Hdf5Reader, path: String): r.ObjectInfo = {
    var info = r.objectInfo(r.rootHeaderAddr)
    path.split("/").filter(_.nonEmpty).foreach { seg =>
      val links = r.groupLinks(info)
      val addr = links.collectFirst { case (n, a) if n == seg => a }
        .getOrElse(Hdf5Reader.fail(
          s"no group '$seg' in ${r.path} (have ${links.map(_._1).mkString(", ")})"))
      info = r.objectInfo(addr)
    }
    info
  }

  // ---- distributed read --------------------------------------------

  /** The data group as a DataFrame; each task reads its own row window
    * of every column straight from the file (no driver materialization,
    * no shuffle). `targetRowsPerTask` sizes the windows — tune so a
    * window's decoded rows fit comfortably in executor memory.
    */
  def openDataFrame(spark: SparkSession, path: String, group: String = "data",
                    targetRowsPerTask: Long = 1 << 18): DataFrame = {
    val cols = columns(path, group)
    require(cols.nonEmpty, s"empty data group $group in $path")
    val rows = cols.head.rows
    val schema = StructType(cols.map(c => StructField(c.name, c.sparkType)))
    val nTasks = math.max(1L, math.min(
      (rows + targetRowsPerTask - 1) / targetRowsPerTask,
      rows)).toInt
    val windows = (0 until nTasks).map { i =>
      val r0 = rows * i / nTasks; val r1 = rows * (i + 1) / nTasks
      (r0, r1)
    }.filter { case (a, b) => b > a }
    val names = cols.map(_.name)
    val rdd = spark.sparkContext
      .parallelize(windows, math.max(1, windows.size))
      .mapPartitions { it =>
        it.flatMap { case (r0, r1) => readWindow(path, group, names, r0, r1) }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** One task's slice: open the file, read [r0,r1) of each column,
    * decode column-wise, assemble rows.
    */
  private def readWindow(path: String, group: String, names: Seq[String],
                         r0: Long, r1: Long): Iterator[Row] = {
    val r = new Hdf5Reader(path)
    try {
      val dataInfo = resolveGroup(r, group)
      val links = r.groupLinks(dataInfo).toMap
      val n = (r1 - r0).toInt
      val colVals: Array[Array[Any]] = names.map { name =>
        val info = r.objectInfo(links(name))
        val m = r.datasetMeta(name, info)
        decodeColumn(r)(m, r0, r1)
      }.toArray
      (0 until n).iterator.map { i =>
        Row.fromSeq(colVals.map(_(i)).toIndexedSeq)
      }
    } finally r.close()
  }

  private def decodeColumn(r: Hdf5Reader)(m: r.DatasetMeta,
                           r0: Long, r1: Long): Array[Any] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val raw = r.readRows(m, r0, r1)
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val n = (r1 - r0).toInt
    val w = m.elemsPerRow
    // vlen elements reference GCOL collections; decode each collection
    // ONCE per column read (per-element lookups re-scan the heap per
    // row — quadratic in rows on a big string column)
    val heapCache = scala.collection.mutable.Map[Long, Map[Int, Array[Byte]]]()
    def scalar(off: Int): Any = m.dtype match {
      // unsigned widens to the next signed type (matches sparkTypeOf;
      // u64 already failed loudly at schema time)
      case r.FixedPoint(8, _)     => bb.getLong(off)
      case r.FixedPoint(4, false) => bb.getInt(off).toLong & 0xFFFFFFFFL
      case r.FixedPoint(4, _)     => bb.getInt(off)
      case r.FixedPoint(2, false) => bb.getShort(off).toInt & 0xFFFF
      case r.FixedPoint(2, _)     => bb.getShort(off)
      case r.FixedPoint(1, false) => (raw(off).toInt & 0xFF).toShort
      case r.FixedPoint(1, _)     => raw(off)
      case r.Floating(8)      => bb.getDouble(off)
      case r.Floating(4)      => bb.getFloat(off)
      case r.FixedString(k)   => Hdf5Reader.cstr(java.util.Arrays.copyOfRange(raw, off, off + k))
      case r.VlenString =>
        val len = bb.getInt(off) & 0xFFFFFFFFL
        val gaddr = bb.getLong(off + 4)
        val idx = bb.getInt(off + 12)
        val obj = heapCache.getOrElseUpdate(gaddr, r.globalHeapObjects(gaddr))
          .getOrElse(idx, Hdf5Reader.fail(
            s"global heap object $idx not found at $gaddr (${m.name})"))
        // fail-loudly contract: a corrupt length larger than its heap
        // object (or than Int range — `.toInt` would wrap negative)
        // must not silently truncate to a plausible shorter string
        if (len > obj.length)
          Hdf5Reader.fail(s"vlen string length $len exceeds its " +
            s"${obj.length}-byte heap object at $gaddr[$idx] (${m.name})")
        new String(obj, 0, len.toInt, "UTF-8")
      case other => Hdf5Reader.fail(s"cannot decode $other")
    }
    val es = m.dtype.byteSize
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (m.dims.size <= 1) scalar(i * es)
        else (0 until w).map(j => scalar((i * w + j) * es))
      i += 1
    }
    out
  }

  // ---- header -------------------------------------------------------

  /** header group → engine Header. Attributes live on conventional
    * subgroups (simulation / cosmology / file), with root-group attrs
    * as a fallback; unknown attrs are ignored, required physics
    * (box_size ≥ 0, h0 > 0) is validated here rather than downstream.
    */
  def readHeader(path: String, prefix: String = ""): Header = {
    val r = new Hdf5Reader(path)
    try {
      // per-dataset header group, falling back to the file-level root
      // header (SPEC.md: multi-dataset files share one root header)
      def tryGroup(g: String): Option[Map[String, Map[String, Any]]] =
        try {
          val info = resolveGroup(r, g)
          val subs = r.groupLinks(info).map { case (n, a) => n -> r.objectInfo(a).attrs }
          Some(subs.toMap + ("" -> info.attrs))
        } catch { case _: Hdf5FormatException => None }
      val attrs: Map[String, Map[String, Any]] =
        tryGroup(s"${prefix}header")
          .orElse(if (prefix.nonEmpty) tryGroup("header") else None)
          .getOrElse(Map("" -> Map.empty[String, Any]))
      def find(name: String): Option[Any] =
        attrs.valuesIterator.flatMap(_.get(name)).toSeq.headOption
      def dbl(name: String, dflt: Double): Double = find(name) match {
        case Some(d: Double) => d
        case Some(f: Float)  => f.toDouble
        case Some(l: Long)   => l.toDouble
        case _               => dflt
      }
      def str(name: String, dflt: String): String = find(name) match {
        case Some(s: String) => s
        case _               => dflt
      }
      Header(
        boxSize = dbl("box_size", 0.0),
        redshift = dbl("redshift", 0.0),
        step = dbl("step", 0.0).toInt,
        isLightcone = find("is_lightcone").exists {
          case l: Long   => l != 0L
          case s: String => s == "true"
          case _         => false
        },
        unitConvention = str("unit_convention", "scalefree"),
        dataType = str("data_type", "dataset"),
        cosmology = Cosmology(dbl("h0", 70.0), dbl("omega_m", 0.3), dbl("omega_l", 0.7)))
        .validated
    } finally r.close()
  }

  // ---- spatial index ------------------------------------------------

  /** Deepest octree level of an `index` group as (level, starts,
    * sizes): cell i (z-order) covers data rows [starts(i),
    * starts(i)+sizes(i)) — SPEC.md's contiguous-range index.
    */
  def readIndex(path: String, prefix: String = ""): Option[(Int, Array[Long], Array[Long])] = {
    val r = new Hdf5Reader(path)
    try {
      val info =
        try resolveGroup(r, s"${prefix}index")
        catch { case _: Hdf5FormatException => return None }
      if (!info.attrs.get("index_type").contains("octtree")) return None
      val levels = r.groupLinks(info).collect {
        case (n, a) if n.startsWith("level_") => n.stripPrefix("level_").toInt -> a
      }
      if (levels.isEmpty) return None
      val (level, addr) = levels.maxBy(_._1)
      val lg = r.objectInfo(addr)
      val kids = r.groupLinks(lg).toMap
      def longs(name: String): Array[Long] = {
        val m = r.datasetMeta(name, r.objectInfo(kids(name)))
        val raw = r.readRows(m, 0, m.rows)
        val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Array.tabulate(m.rows.toInt)(i => bb.getLong(i * 8))
      }
      Some((level, longs("start"), longs("size")))
    } finally r.close()
  }

  // ---- import -------------------------------------------------------

  /** Import a single-dataset SPEC.md file into the engine: data group
    * → DataFrame, per-column `unit` attrs → header unit table, header
    * attrs → Header, and — when an octree `index` group is present —
    * the stored contiguous-range index becomes a persisted `morton_key`
    * column (each task derives its rows' cell from the broadcast range
    * table by binary search, no shuffle), so `bound()` gets the
    * stored-key pruning path immediately.
    */
  def importDataset(spark: SparkSession, h5Path: String,
                    prefix: String = ""): OCDataset = {
    val group = s"${prefix}data"
    val cols = columns(h5Path, group)
    val df0 = openDataFrame(spark, h5Path, group)
    val units = cols.collect { case c if c.unit.nonEmpty => c.name -> c.unit }.toMap
    val descs = cols.collect { case c if c.description.nonEmpty => c.name -> c.description }.toMap
    val base = readHeader(h5Path, prefix)
    readIndex(h5Path, prefix) match {
      case None =>
        OCDataset(df0, base.copy(columnUnits = units, columnDescriptions = descs))
      case Some((level, starts, sizes)) =>
        val withRow = dfWithGlobalRow(spark, h5Path, group, cols)
        val keyed = withRow.map { case (df, rowCol) =>
          mortonKeyFromRow(spark, starts, sizes, df, rowCol).drop(rowCol)
        }.get
        OCDataset(keyed, base.copy(columnUnits = units, columnDescriptions = descs,
          spatialIndexLevel = level,
          spatialIndexCoords = guessCoords(cols.map(_.name))))
    }
  }

  /** Attach the stored octree index as a `morton_key` column — a pure
    * function of the global row id via a broadcast (start, cell)
    * table: binary search the rightmost boundary ≤ row (non-empty
    * cells only, sorted by start; SPEC's z-order curve index IS the
    * key at the stored level). Shared by [[importDataset]] and
    * [[withParentRow]] so a structure parent keeps the stored-key
    * pruning path its header advertises.
    */
  private def mortonKeyFromRow(spark: SparkSession,
                               starts: Seq[Long], sizes: Seq[Long],
                               df: DataFrame, rowCol: String): DataFrame = {
    val bounds = starts.indices.collect {
      case i if sizes(i) > 0 => (starts(i), i.toLong)
    }.sortBy(_._1).toArray
    val b = spark.sparkContext.broadcast(bounds)
    val keyUdf = udf { (row: Long) =>
      val bs = b.value
      var lo = 0; var hi = bs.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (bs(mid)._1 <= row) lo = mid else hi = mid - 1
      }
      bs(lo)._2
    }
    df.withColumn("morton_key", keyUdf(col(rowCol)))
  }

  /** Import + convert to the native parquet+sidecar layout at
    * `outPath` (clustered by the imported morton key when present) and
    * reopen — the migration entry point: after this every query runs
    * on parquet row-group pruning.
    */
  def importToParquet(spark: SparkSession, h5Path: String, outPath: String,
                      prefix: String = ""): OCDataset = {
    val ds = importDataset(spark, h5Path, prefix)
    graft.io.OCIO.write(ds, outPath,
      sortColumn = if (ds.columns.contains("morton_key")) Some("morton_key") else None)
    graft.io.OCIO.open(spark, outPath)
  }

  /** Import a multi-dataset file (SPEC.md "Multiple OpenCosmo
    * Datasets"): `parentGroup/data_linked` start/size ranges become an
    * equality link on a synthesized parent-row column — each child
    * task binary-searches its OWN on-disk slice of the range table
    * ([[linkBoundsForWindow]]), so the link materializes map-side
    * with no shuffle and no driver-side range materialization.
    */
  def importStructure(spark: SparkSession, h5Path: String,
                      parentGroup: String): graft.collections.StructureCollection = {
    val parent = importDataset(spark, h5Path, s"$parentGroup/")
    val r = new Hdf5Reader(h5Path)
    val (links, rootGroups) =
      try {
        val li =
          try resolveGroup(r, s"$parentGroup/data_linked")
          catch { case _: Hdf5FormatException =>
            return graft.collections.StructureCollection(
              withParentRow(spark, parent, h5Path, parentGroup), Map.empty, LinkCol)
          }
        val root = r.objectInfo(r.rootHeaderAddr)
        (r.groupLinks(li).map(_._1), r.groupLinks(root).map(_._1))
      } finally r.close()
    // 1→0/1 idx links (SPEC: `<id>_idx` gives the target row, −1 =
    // none): assign the SAME link column as range links, so every
    // child joins the parent the same way.
    val idxLinks = links.filter(_.endsWith("_idx")).map(_.stripSuffix("_idx"))
    val idxChildren = idxLinks.flatMap { id =>
      rootGroups.find(g => g != parentGroup && id.startsWith(g)).map { target =>
        target -> idxLinkChild(spark, h5Path, s"$parentGroup/data_linked",
          id, s"$target/data")
      }
    }.toMap
    val startLinks = links.filter(_.endsWith("_start")).map(_.stripSuffix("_start"))
      .filter(id => links.contains(s"${id}_size"))
    val children = idxChildren ++ startLinks.flatMap { id =>
      // link id → target root group (SPEC recommends ids that extend
      // the target name with a UUID; match by prefix)
      rootGroups.find(g => g != parentGroup && id.startsWith(g)).map { target =>
        val linkGroup = s"$parentGroup/data_linked"
        val nParents = columns(h5Path, linkGroup)
          .find(_.name == s"${id}_start").map(_.rows).getOrElse(0L)
        val childCols = columns(h5Path, s"$target/data")
        target -> dfWithParentLink(spark, h5Path, s"$target/data", childCols,
          linkGroup, id, nParents)
      }
    }.toMap
    graft.collections.StructureCollection(
      withParentRow(spark, parent, h5Path, parentGroup), children, LinkCol)
  }

  val LinkCol = "__struct_row"

  /** Import a lightcone file (reference iopen.py:141-170: several
    * top-level groups, every one lightcone-typed): each group's data
    * becomes a step dataset keyed by its header `step` (falling back
    * to digits in the group name), with per-step redshifts carried —
    * redshift-range pruning then drops whole groups before any row
    * reads.
    */
  def importLightcone(spark: SparkSession, h5Path: String): graft.collections.Lightcone = {
    val r = new Hdf5Reader(h5Path)
    val groups =
      try {
        val root = r.objectInfo(r.rootHeaderAddr)
        r.groupLinks(root).map(_._1).filter(_ != "header")
      } finally r.close()
    require(groups.nonEmpty, s"no step groups in $h5Path")
    val steps = groups.zipWithIndex.map { case (g, i) =>
      val ds = importDataset(spark, h5Path, s"$g/")
      val step =
        if (ds.header.step > 0) ds.header.step
        else {
          val digits = g.filter(_.isDigit)
          if (digits.nonEmpty) digits.toInt else i
        }
      (step, g, ds.copy(header = ds.header.copy(isLightcone = true)))
    }
    // two groups resolving to one step number would silently drop a
    // whole step dataset in toMap — malformed layout fails loudly
    val dup = steps.groupBy(_._1).collectFirst { case (k, gs) if gs.size > 1 =>
      (k, gs.map(_._2)) }
    dup.foreach { case (k, gs) => Hdf5Reader.fail(
      s"step groups ${gs.mkString(", ")} all resolve to step $k in $h5Path") }
    graft.collections.Lightcone(steps.map { case (k, _, ds) => k -> ds }.toMap)
  }

  /** SPEC load-condition gate (reference iopen.py:638-657
    * `evaluate_load_conditions`): a dataset group may carry a
    * `load/if` subgroup whose attrs name boolean open-parameters; the
    * group loads iff EVERY attr matches the caller-supplied kwarg,
    * with unspecified kwargs defaulting to false. No `load/if` group →
    * always loads.
    */
  private def passesLoadConditions(r: Hdf5Reader, group: String,
                                   openKwargs: Map[String, Boolean]): Boolean = {
    val path = if (group.isEmpty) "load/if" else s"$group/load/if"
    val ifInfo =
      try Some(resolveGroup(r, path))
      catch { case _: Hdf5FormatException => None }
    ifInfo.forall(_.attrs.forall { case (key, cond) =>
      val want = cond match {
        case l: Long    => l != 0L
        case i: Int     => i != 0
        case b: Boolean => b
        case s: String  => s.equalsIgnoreCase("true")
        case _          => false
      }
      openKwargs.getOrElse(key, false) == want
    })
  }

  /** Open dispatch over a SPEC.md file (reference iopen.py:126-186):
    * root `data` group → single dataset; a group with `data_linked` →
    * structure collection (that group as parent); every group
    * lightcone-typed → lightcone; otherwise → simulation collection of
    * the datasets found. `openKwargs` feeds the SPEC `load/if`
    * condition gate — a conditionally-loaded group whose conditions
    * aren't met is skipped exactly as the reference skips it.
    *
    * DELIBERATE DIVERGENCE: for a root-level SINGLE dataset whose
    * load/if conditions are unmet, the reference silently discards it
    * and reports "no datasets found" (__make_file_target,
    * iopen.py:105-121); this import throws instead. A whole-file open
    * that yields nothing is far more likely a caller error (wrong
    * kwargs) than intent, and a loud failure names the unmet
    * condition — multi-group files keep the reference's skip
    * semantics, where partial loads are meaningful.
    */
  def importAny(spark: SparkSession, h5Path: String,
                openKwargs: Map[String, Boolean] = Map.empty): Any = {
    val r = new Hdf5Reader(h5Path)
    val (names, haveData, haveLinked, lightcone) =
      try {
        val root = r.objectInfo(r.rootHeaderAddr)
        val links = r.groupLinks(root)
        if (links.exists(_._1 == "data")) {
          require(passesLoadConditions(r, "", openKwargs),
            s"$h5Path root dataset has load conditions not met by " +
              s"openKwargs=$openKwargs")
          return importDataset(spark, h5Path)
        }
        val groups = links.filter(_._1 != "header")
          .filter { case (n, _) => passesLoadConditions(r, n, openKwargs) }
        val subs = groups.map { case (n, a) =>
          val kids = r.groupLinks(r.objectInfo(a)).map(_._1)
          (n, kids.contains("data"), kids.contains("data_linked"))
        }
        val lc = subs.nonEmpty && subs.forall(_._2) && subs.forall(!_._3) &&
          subs.exists { case (n, _, _) =>
            try {
              val hi = resolveGroup(r, s"$n/header")
              r.groupLinks(hi).exists { case (_, ha) =>
                r.objectInfo(ha).attrs.get("is_lightcone").exists {
                  case l: Long => l != 0L
                  case s: String => s == "true"
                  case _ => false
                }
              }
            } catch { case _: Hdf5FormatException => false }
          }
        (subs.map(_._1), subs.filter(_._2).map(_._1),
          subs.filter(_._3).map(_._1), lc)
      } finally r.close()
    if (haveLinked.nonEmpty) importStructure(spark, h5Path, haveLinked.head)
    else if (lightcone) importLightcone(spark, h5Path)
    else graft.collections.SimulationCollection(
      haveData.map(n => n -> importDataset(spark, h5Path, s"$n/")).toMap)
  }

  /** Export a lightcone as ONE multi-group file: each step a
    * lightcone-typed group with its own header (step + redshift), the
    * shared file header alongside — re-importable by
    * [[importLightcone]]/[[importAny]] and laid out like the
    * reference's own lightcone files.
    */
  def exportLightconeHdf5(lc: graft.collections.Lightcone, path: String,
                          chunkRows: Int = 1 << 16,
                          compress: Boolean = true): Unit = {
    // plan (and cap-check) EVERY step before opening (truncating) the file
    val steps = lc.steps.toSeq.sortBy(_._1)
      .map { case (s, ds) => (s, ds, planExport(ds.getData)) }
    val w = new Hdf5Writer(path)
    try {
      val stepGrps = steps.map { case (s, ds, plan) =>
        val data = writeDataGroup(w, plan, ds.header, chunkRows, compress)
        val hdr = writeHeaderGroup(w,
          ds.header.copy(step = s, isLightcone = true))
        s"step_$s" -> w.writeGroup(Seq("data" -> data, "header" -> hdr))
      }
      w.finish(w.writeGroup(stepGrps))
    } catch { case e: Throwable => w.close(); throw e }
  }

  private def withParentRow(spark: SparkSession, parent: OCDataset,
                            h5Path: String, parentGroup: String): OCDataset = {
    val cols = columns(h5Path, s"$parentGroup/data")
    // re-read with the synthesized global row column; cheaper than a
    // zipWithIndex over the imported frame (windows already know their
    // global offsets)
    val (df, rowCol) = dfWithGlobalRow(spark, h5Path, s"$parentGroup/data", cols).get
    // the raw re-read lacks the morton_key importDataset derived — a
    // parent whose header advertises a spatial index must carry the
    // key column too, or bound() silently loses stored-key pruning
    val keyed = readIndex(h5Path, s"$parentGroup/").map { case (_, starts, sizes) =>
      mortonKeyFromRow(spark, starts, sizes, df, rowCol)
    }.getOrElse(df)
    parent.copy(df = keyed.withColumnRenamed(rowCol, LinkCol))
  }

  /** Map-side idx-link inversion stays driver-bounded only below
    * this parent count (a boxed Long→Long HashMap runs ~80 B/entry —
    * 1M parents ≈ 80 MB, fine; 10⁸ would be multi-GB on the driver);
    * past it the inversion becomes one distributed equality join on
    * the synthesized child-row column.
    */
  private[graft] val IdxBroadcastMaxParents: Long = 1L << 20

  /** Child frame of a 1→0/1 `<id>_idx` link, LinkCol assigned.
    * Small link tables (≤ `cap` parents) invert driver-side into a
    * broadcast map — the link materializes map-side, no shuffle.
    * Larger tables invert DISTRIBUTED: the idx column gets its own
    * global-row frame and the child left-joins on childRow — one
    * shuffle keyed on the child row, no driver materialization.
    */
  private[graft] def idxLinkChild(spark: SparkSession, h5Path: String,
      linkGroup: String, id: String, childGroup: String,
      cap: Long = IdxBroadcastMaxParents): DataFrame = {
    val childCols = columns(h5Path, childGroup)
    val (childDf, rowCol) =
      dfWithGlobalRow(spark, h5Path, childGroup, childCols).get
    val idxMeta = columns(h5Path, linkGroup).filter(_.name == s"${id}_idx")
    val nParents = idxMeta.headOption.map(_.rows).getOrElse(0L)
    if (nParents <= cap) {
      // restrict the scan to the ONE idx column (like the distributed
      // branch) — openDataFrame would decode every link dataset in the
      // group just to discard all but this column; the explicit row
      // column pins parent order independent of partition ordering
      val (idxDf, iRow) = dfWithGlobalRow(spark, h5Path, linkGroup, idxMeta).get
      val idx = idxDf.select(col(s"${id}_idx"), col(iRow)).collect()
        .sortBy(_.getLong(1)).map(_.getLong(0))
      val inverse = new java.util.HashMap[Long, Long]()
      idx.zipWithIndex.foreach { case (childRow, p) =>
        if (childRow >= 0) {
          // 1→0/1 contract: a child row referenced by two parents is a
          // layout violation — fail loudly (both regimes; the
          // containsKey probe, not put's return, because Scala unboxes
          // the returned java.lang.Long and null becomes 0L)
          if (inverse.containsKey(childRow))
            throw new IllegalStateException(
              s"${id}_idx violates the 1->0/1 idx-link contract: child " +
              s"row $childRow is referenced by more than one parent")
          inverse.put(childRow, p.toLong)
        }
      }
      val b = spark.sparkContext.broadcast(inverse)
      val pUdf = udf { (row: Long) =>
        Option(b.value.get(row)).map(_.longValue()) // unlinked → null
      }
      childDf.withColumn(LinkCol, pUdf(col(rowCol))).drop(rowCol)
    } else {
      val (linkDf, lRow) = dfWithGlobalRow(spark, h5Path, linkGroup, idxMeta).get
      // The pre-join aggregate keys the SAME shuffle the join needs
      // (Catalyst reuses the hash partitioning), and carries the
      // duplicate-target guard: the broadcast regime above fails
      // loudly on a child row with two parents, so this regime must
      // too — a plain join would silently fan the child row out. The
      // guard rides the consumed LinkCol so column pruning cannot
      // drop it.
      val inv = linkDf
        .select(col(s"${id}_idx").as("__child_row9"), col(lRow).as(LinkCol))
        .filter(col("__child_row9") >= 0)
        .groupBy(col("__child_row9"))
        .agg(count(lit(1)).as("__np9"), max(col(LinkCol)).as(LinkCol))
        .select(col("__child_row9"),
          when(col("__np9") > 1L, raise_error(concat(
            lit(s"${id}_idx violates the 1->0/1 idx-link contract: " +
              "child row "), col("__child_row9").cast("string"),
            lit(" is referenced by more than one parent"))).cast("long"))
            .otherwise(col(LinkCol)).as(LinkCol))
      childDf.join(inv, childDf(rowCol) === inv("__child_row9"), "left")
        .drop("__child_row9", rowCol)
    }
  }

  /** Per-task slice of a start/size range-link table: binary-searches
    * the ON-DISK `<id>_start` column for the parent-index range
    * overlapping child rows [r0, r1), then reads just that slice of
    * (start, size). SPEC layout guarantee this leans on: child rows
    * are stored contiguously in parent order, so starts are
    * nondecreasing (the Hdf5Spec fixture builds them with scanLeft,
    * as the reference writer does) — verified per slice, loud failure
    * on violation. This replaces a driver-side collect of ALL parent
    * ranges (multi-GB on the driver at 10⁸ structures): each task now
    * holds only the ranges its own rows can belong to, found with
    * O(log nParents) single-element windowed reads.
    *
    * Returns (start, size, parentRow) for the slice's non-empty
    * ranges, in start order. Empty ranges may tie on start with a
    * following real range; the lower bound rewinds over the tie run
    * (second binary search) so a real range is never skipped.
    */
  private[graft] def linkBoundsForWindow(path: String, linkGroup: String,
      id: String, nParents: Long, r0: Long, r1: Long): Array[(Long, Long, Long)] = {
    if (nParents <= 0) return Array.empty
    val r = new Hdf5Reader(path)
    try {
      val info = resolveGroup(r, linkGroup)
      val links = r.groupLinks(info).toMap
      val sMeta = r.datasetMeta(s"${id}_start", r.objectInfo(links(s"${id}_start")))
      val zMeta = r.datasetMeta(s"${id}_size", r.objectInfo(links(s"${id}_size")))
      def startAt(i: Long): Long =
        decodeColumn(r)(sMeta, i, i + 1)(0).asInstanceOf[Number].longValue
      // largest parent with start ≤ r0 (only the nearest preceding
      // range can cover r0 — ranges are non-overlapping)
      var lo = 0L; var hi = nParents - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (startAt(mid) <= r0) lo = mid else hi = mid - 1
      }
      // rewind over a tie run (empty ranges share the next range's
      // start): first parent whose start equals startAt(lo)
      val s0 = startAt(lo)
      var a = 0L; var b = lo
      while (a < b) {
        val mid = (a + b) >>> 1
        if (startAt(mid) < s0) a = mid + 1 else b = mid
      }
      val p0 = a
      // smallest parent with start ≥ r1 (its rows are all ≥ r1)
      var lo2 = p0; var hi2 = nParents
      while (lo2 < hi2) {
        val mid = (lo2 + hi2) >>> 1
        if (startAt(mid) < r1) lo2 = mid + 1 else hi2 = mid
      }
      val p1 = lo2
      val starts = decodeColumn(r)(sMeta, p0, p1)
      val sizes = decodeColumn(r)(zMeta, p0, p1)
      var prev = Long.MinValue
      starts.foreach { s =>
        val v = s.asInstanceOf[Number].longValue
        require(v >= prev,
          s"non-monotonic ${id}_start near parent row $p0 in $path — " +
            "SPEC contiguous-layout violated; refusing to mis-link")
        prev = v
      }
      starts.indices.collect {
        case i if sizes(i).asInstanceOf[Number].longValue > 0 =>
          (starts(i).asInstanceOf[Number].longValue,
            sizes(i).asInstanceOf[Number].longValue, p0 + i)
      }.toArray
    } finally r.close()
  }

  /** openDataFrame + the range-link parent column, assigned
    * TASK-LOCALLY: each read window resolves only its own slice of
    * the link table via [[linkBoundsForWindow]] — no driver collect,
    * no whole-table broadcast, link still materializes map-side.
    * Rows in a gap between ranges belong to no parent — assigning
    * them to the preceding one would be silent corruption; they get a
    * null link instead.
    */
  /** Even [r0, r1) read windows over `rows` at a ~256k-row budget per
    * task — the ONE sizing definition both window-parallel readers
    * below split with, so a budget change cannot leave the two paths
    * splitting differently.
    */
  private def readWindows(rows: Long): Seq[(Long, Long)] = {
    val per = 1L << 18
    val nTasks = math.max(1L, math.min((rows + per - 1) / per, rows)).toInt
    (0 until nTasks).map { i =>
      (rows * i / nTasks, rows * (i + 1) / nTasks)
    }.filter { case (a, b) => b > a }
  }

  private def dfWithParentLink(spark: SparkSession, path: String, group: String,
      cols: Seq[ColMeta], linkGroup: String, id: String,
      nParents: Long): DataFrame = {
    val rows = cols.head.rows
    val schema = StructType(
      cols.map(c => StructField(c.name, c.sparkType)) :+ StructField(LinkCol, LongType))
    val windows = readWindows(rows)
    val names = cols.map(_.name)
    val rdd = spark.sparkContext.parallelize(windows, math.max(1, windows.size))
      .mapPartitions { it =>
        it.flatMap { case (w0, w1) =>
          val bs = linkBoundsForWindow(path, linkGroup, id, nParents, w0, w1)
          readWindow(path, group, names, w0, w1).zipWithIndex.map { case (row, i) =>
            val gr = w0 + i
            var lo = 0; var hi = bs.length - 1
            while (lo < hi) {
              val mid = (lo + hi + 1) >>> 1
              if (bs(mid)._1 <= gr) lo = mid else hi = mid - 1
            }
            val parent: Any =
              if (bs.nonEmpty && bs(lo)._1 <= gr && gr < bs(lo)._1 + bs(lo)._2)
                bs(lo)._3
              else null
            Row.fromSeq(row.toSeq :+ parent)
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** openDataFrame + a deterministic global row-number column — free,
    * because each window knows its absolute start row (no
    * zipWithIndex/shuffle).
    */
  private def dfWithGlobalRow(spark: SparkSession, path: String, group: String,
                              cols: Seq[ColMeta]): Option[(DataFrame, String)] = {
    val rows = cols.head.rows
    val schema = StructType(
      cols.map(c => StructField(c.name, c.sparkType)) :+ StructField(RowCol, LongType))
    val windows = readWindows(rows)
    val names = cols.map(_.name)
    val rdd = spark.sparkContext.parallelize(windows, math.max(1, windows.size))
      .mapPartitions { it =>
        it.flatMap { case (r0, r1) =>
          readWindow(path, group, names, r0, r1).zipWithIndex.map {
            case (row, i) => Row.fromSeq(row.toSeq :+ (r0 + i))
          }
        }
      }
    Some((spark.createDataFrame(rdd, schema), RowCol))
  }
  private val RowCol = "__h5_row"

  private def guessCoords(names: Seq[String]): Seq[String] = {
    Seq(Seq("x", "y", "z"), Seq("fof_halo_center_x", "fof_halo_center_y", "fof_halo_center_z"))
      .find(_.forall(names.contains)).getOrElse(Nil)
  }

  // ---- export -------------------------------------------------------

  /** Export an OCDataset as a SPEC.md-layout HDF5 file: `data/` column
    * datasets (with `unit`/`description` attrs and a `column_order`
    * attr for order-stable round trips), `header/` attribute groups.
    * Interchange path, two Spark passes over the source whatever its
    * column count: one job ([[planExport]]) counts the rows and
    * measures the string and array widths, then ONE streaming pass
    * brings every column through the driver a partition at a time
    * ([[writeDataGroup]]), one job per non-empty partition. HDF5 is a
    * single-writer format, so this is inherently a driver-bound
    * export, like the reference's serial writer (io/serial.py). Use
    * parquet for engine-to-engine data movement. REFUSES past
    * `spark.graft.hdf5.exportMaxRows` (default [[ExportMaxRows]])
    * rather than silently serializing a cluster-sized frame through
    * one JVM — see the cap's doc.
    *
    * Driver memory: one partition's encoded columns, plus the writer's
    * buffers — `chunkRows` × the summed row width of all columns when
    * `compress` (one chunk per column, refused past 2 GiB), and a
    * constant 64 KiB per column when not (the contiguous layout writes
    * rows at their reserved offsets).
    *
    * HDF5 has no null representation: null numerics export as zero
    * and null strings as "" (the reference's files simply never
    * contain nulls). NaN/±Inf round-trip bit-exactly (raw IEEE
    * bytes).
    */
  def exportHdf5(ds: OCDataset, path: String,
                 chunkRows: Int = 1 << 16, compress: Boolean = true): Unit = {
    // plan (and cap-check) BEFORE opening (truncating) the destination
    val plan = planExport(ds.getData)
    val w = new Hdf5Writer(path)
    try {
      val dataAddr = writeDataGroup(w, plan, ds.header, chunkRows, compress)
      val headerAddr = writeHeaderGroup(w, ds.header)
      w.finish(w.writeGroup(Seq("data" -> dataAddr, "header" -> headerAddr)))
    } catch { case e: Throwable => w.close(); throw e }
  }

  /** Interop-scale row cap for the driver-funneled HDF5 export paths.
    * Streaming one partition at a time keeps driver MEMORY flat, so
    * unlike `objects()` this is not an OOM guard — it bounds
    * WALL TIME: HDF5 is a single-writer format, so every exported row
    * serializes through one JVM, and a user pointing `exportHdf5` at a
    * cluster-sized frame would wait hours for what `oc.write` (Parquet
    * + sidecar, all executors writing) finishes in seconds.
    * Overridable per session via `spark.graft.hdf5.exportMaxRows` when
    * the serial wait is an explicit choice.
    */
  val ExportMaxRows: Long = 100000000L

  /** One exported column: its HDF5 element type (strings at their
    * probed byte width) and, for an array column, its probed width.
    */
  private final case class ExportColumn(name: String, dtype: Hdf5Writer.WDType,
                                        arrayWidth: Option[Int])

  /** A frame ready to stream: the RDD both passes run on, the rows of
    * each of its partitions, and the columns.
    */
  private final case class ExportPlan(rdd: RDD[InternalRow], partRows: Array[Long],
                                      columns: Seq[ExportColumn]) {
    val rows: Long = partRows.sum
  }

  /** Everything an export needs to know before it opens the file, from
    * ONE job with no shuffle: per partition, the rows and the widest
    * UTF-8 string and longest array of each column. The total is
    * refused past the interop cap (see [[ExportMaxRows]]). MUST run
    * before the export's `Hdf5Writer` is constructed: the writer
    * truncates an existing file at the path, so a refusal after
    * construction would destroy a prior good export while telling the
    * user to use `oc.write`. Every export entry point plans ALL of its
    * frames first, then opens the file; unsupported column types are
    * refused here, before any job, for the same reason.
    */
  private def planExport(df: DataFrame): ExportPlan = {
    import Hdf5Writer._
    val fields = df.schema.fields.toSeq
    def elem(f: StructField, dt: DataType): WDType = dt match {
      case LongType    => I64
      case IntegerType => I32
      case DoubleType  => F64
      case FloatType   => F32
      case other => throw new IllegalArgumentException(
        s"exportHdf5: unsupported column type $other (${f.name})")
    }
    // per column: the element type (None for a string: the stats job
    // sizes it) and whether it is an array
    val shapes = fields.map { f =>
      f.dataType match {
        case StringType => (None, false)
        case ArrayType(et @ (DoubleType | FloatType | LongType), _) => (Some(elem(f, et)), true)
        case dt => (Some(elem(f, dt)), false)
      }
    }
    // 0 = fixed width, 1 = string, 2 = array: what the stats job measures
    val kinds = shapes.map { case (et, isArray) =>
      if (et.isEmpty) 1 else if (isArray) 2 else 0
    }.toArray
    val rdd = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.toRdd
    // per partition: rows, then each column's widest value (-1: none)
    val stats = rdd.mapPartitions { it =>
      val st = Array.fill(kinds.length + 1)(-1L)
      st(0) = 0L
      it.foreach { r =>
        st(0) += 1
        var i = 0
        while (i < kinds.length) {
          if (kinds(i) != 0 && !r.isNullAt(i)) {
            val w = if (kinds(i) == 1) r.getUTF8String(i).numBytes else r.getArray(i).numElements
            if (w > st(i + 1)) st(i + 1) = w
          }
          i += 1
        }
      }
      Iterator.single(st)
    }.collect()
    val partRows = stats.map(_(0))
    val rows = partRows.sum
    val cap = df.sparkSession.conf
      .get("spark.graft.hdf5.exportMaxRows", ExportMaxRows.toString).toLong
    require(rows <= cap,
      s"HDF5 export would stream $rows rows through the driver (cap $cap). " +
        "HDF5 is a single-writer interop format — every row serializes " +
        "through one JVM. Use oc.write (Parquet + sidecar, fully " +
        "distributed) for engine-scale data movement, or set " +
        "spark.graft.hdf5.exportMaxRows higher if the serial export " +
        "time is an explicit choice.")
    // a string column with no value is 1 byte wide plus its terminator;
    // an array column with no value has zero-width rows (legal)
    val columns = fields.zip(shapes).zipWithIndex.map { case ((f, (et, isArray)), i) =>
      val widest = stats.map(_(i + 1)).foldLeft(-1L)(math.max)
      ExportColumn(f.name, et.getOrElse(Str((if (widest < 0) 1 else widest.toInt) + 1)),
        if (isArray) Some(widest.max(0L).toInt) else None)
    }
    ExportPlan(rdd, partRows, columns)
  }

  /** Stream a planned frame into a `data` group in ONE pass over its
    * source: one job per non-empty partition, in partition order, on
    * the RDD [[planExport]] measured (a partition that held no rows
    * there is skipped). Each task encodes its rows into one block per
    * column, and the driver feeds the blocks to
    * [[Hdf5Writer.writeDatasets]]. Every column of a row thus comes
    * from the same execution of the source, which keeps the columns
    * aligned even when its rows differ between runs (a
    * nondeterministic expression, an unstable tie order after a
    * shuffle). A stream shorter or longer than the planned rows fails
    * loudly in the writer. Returns the group's object-header address.
    */
  private def writeDataGroup(w: Hdf5Writer, plan: ExportPlan, header: Header,
                             chunkRows: Int, compress: Boolean): Long = {
    val specs = plan.columns.map { c =>
      Hdf5Writer.DatasetSpec(c.name, c.dtype,
        plan.rows +: c.arrayWidth.map(_.toLong).toSeq,
        header.columnUnits.get(c.name).map("unit" -> _).toSeq ++
          header.columnDescriptions.get(c.name).map("description" -> _).toSeq,
        shuffle = compress && !c.dtype.isInstanceOf[Hdf5Writer.Str])
    }
    val columns = plan.columns.toArray
    val sc = plan.rdd.sparkContext
    val data = plan.partRows.indices.iterator.filter(plan.partRows(_) > 0).map { p =>
      sc.runJob(plan.rdd, (rows: Iterator[InternalRow]) => encodePartition(rows, columns),
        Seq(p)).head
    }
    val addrs = w.writeDatasets(specs, data,
      chunkRows = if (compress) math.min(chunkRows.toLong, math.max(1L, plan.rows)).toInt else 0,
      deflate = compress)
    val names = plan.columns.map(_.name)
    w.writeGroup(names.zip(addrs), attrs = Seq("column_order" -> names))
  }

  /** One partition's rows as one little-endian block per column. */
  private def encodePartition(rows: Iterator[InternalRow],
                              columns: Array[ExportColumn]): Array[Array[Byte]] = {
    val encoders = columns.map(new ColumnEncoder(_))
    val outs = columns.map(_ => new java.io.ByteArrayOutputStream())
    rows.foreach { r =>
      var i = 0
      while (i < encoders.length) { outs(i).write(encoders(i).encode(r, i)); i += 1 }
    }
    outs.map(_.toByteArray)
  }

  private def writeHeaderGroup(w: Hdf5Writer, h: Header): Long = {
    val sim = w.writeGroup(Nil, Seq(
      "box_size" -> h.boxSize, "redshift" -> h.redshift, "step" -> h.step.toLong))
    val cos = w.writeGroup(Nil, Seq(
      "h0" -> h.cosmology.h0, "omega_m" -> h.cosmology.omegaM,
      "omega_l" -> h.cosmology.omegaL))
    val fil = w.writeGroup(Nil, Seq(
      "unit_convention" -> h.unitConvention, "data_type" -> h.dataType,
      "is_lightcone" -> (if (h.isLightcone) 1L else 0L)))
    w.writeGroup(Seq("simulation" -> sim, "cosmology" -> cos, "file" -> fil))
  }

  /** Export a structure collection as ONE multi-dataset SPEC.md file:
    *
    *   /<parent>/data            parent columns, sorted by link key
    *   /<parent>/data_linked     <child>_start / <child>_size ranges
    *   /<child>/data             child columns, clustered by link key
    *   /header                   shared file-level header
    *
    * The contiguous-range link the reference stores natively is
    * RECONSTRUCTED here from the equality link: children sort by the
    * link key (one cluster per parent), per-parent counts join against
    * the sorted parent, and starts are the running sum of sizes —
    * folded over the same partition-at-a-time stream of the sorted
    * one-row-per-parent frame that writes the sizes, so the driver
    * never materializes the whole link table even at 10⁸ parents.
    * Every data group streams in one pass, as in [[exportHdf5]].
    */
  def exportStructureHdf5(coll: graft.collections.StructureCollection,
                          path: String,
                          parentName: String = "structure_properties",
                          chunkRows: Int = 1 << 16,
                          compress: Boolean = true): Unit = {
    import org.apache.spark.sql.graftshim.DiskSnapshot
    import scala.jdk.CollectionConverters._
    val key = coll.linkKey
    // parent keys must be unique — the start/size reconstruction
    // needs exactly one parent row per key
    val Array(nRows, nKeys) = coll.properties.df
      .agg(count(lit(1)), countDistinct(col(key))).head().toSeq
      .map(_.asInstanceOf[Long]).toArray
    require(nRows == nKeys,
      s"exportStructureHdf5 needs unique $key values ($nKeys distinct of $nRows rows)")
    // the link ranges and the data they index come from separate
    // passes (per-key counts, the sizes stream, each data group's
    // stream), so every frame is MATERIALIZED once (eager disk
    // snapshot): a bare orderBy would re-execute per pass, and a
    // source whose rows differ between runs would get ranges counted
    // over other rows than the ones written. Snapshot blocks are fixed
    // once, so every pass reads the same rows in the same order; the
    // sort also prices once instead of per pass.
    val parentSorted = DiskSnapshot.diskCachedEager(
      coll.properties.df.orderBy(col(key)))
    val childSorted = coll.children.toSeq.map { case (name, child) =>
      name -> DiskSnapshot.diskCachedEager(child.orderBy(col(key)))
    }
    // plan (and cap-check) parent AND every child before opening
    // (truncating) the file — a refusal must never leave a
    // half-written or destroyed multi-table file behind
    val parentPlan = planExport(parentSorted)
    val childPlans = childSorted.map { case (name, child) => name -> planExport(child) }
    val w = new Hdf5Writer(path)
    try {
      val parentData = writeDataGroup(w, parentPlan, coll.properties.header,
        chunkRows, compress)
      val linkAddrs = childSorted.map { case (name, child) =>
        // per-parent sizes in parent (key-sorted) order, 0 for
        // childless, with the running-prefix starts beside them — ONE
        // toLocalIterator pass over the sorted frame (partition order
        // is global order after a range sort) feeds both datasets
        val counts = child.groupBy(col(key)).agg(count(lit(1)).as("__n"))
        val sizes = parentSorted.select(col(key))
          .join(counts, Seq(key), "left")
          .orderBy(col(key))
          .select(coalesce(col("__n"), lit(0L)).as("__sz"))
          .toLocalIterator().asScala.map(_.getLong(0))
        val start, size = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val row = Array(start.array(), size.array())
        var acc = 0L
        val names = Seq(s"${name}_start", s"${name}_size")
        val addrs = w.writeDatasets(
          names.map(n => Hdf5Writer.DatasetSpec(n, Hdf5Writer.I64, Seq(parentPlan.rows))),
          sizes.map { s => start.putLong(0, acc); size.putLong(0, s); acc += s; row })
        names.zip(addrs)
      }
      val dataLinked = w.writeGroup(linkAddrs.flatten)
      val parentGrp = w.writeGroup(
        Seq("data" -> parentData, "data_linked" -> dataLinked))
      val childGrps = childPlans.map { case (name, plan) =>
        val childData = writeDataGroup(w, plan, Header(), chunkRows, compress)
        name -> w.writeGroup(Seq("data" -> childData))
      }
      val headerAddr = writeHeaderGroup(w,
        coll.properties.header.copy(dataType = "structure"))
      w.finish(w.writeGroup(
        (parentName -> parentGrp) +: childGrps :+ ("header" -> headerAddr)))
    } catch { case e: Throwable => w.close(); throw e }
  }

  /** Encodes one column's values into a reused row-sized block. HDF5
    * has no nulls: a null value or array element encodes as zeros, and
    * a shorter array or string is zero-padded to the planned width. A
    * value wider than [[planExport]] measured means the source changed
    * between the two passes, and fails loudly.
    */
  private final class ColumnEncoder(c: ExportColumn) {
    import Hdf5Writer._
    private val block = new Array[Byte](c.dtype.size * c.arrayWidth.getOrElse(1))
    private val bb = java.nio.ByteBuffer.wrap(block)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)

    def encode(r: InternalRow, ordinal: Int): Array[Byte] = {
      java.util.Arrays.fill(block, 0.toByte)
      bb.clear()
      if (!r.isNullAt(ordinal)) c.arrayWidth match {
        case Some(width) =>
          val a = r.getArray(ordinal)
          require(a.numElements <= width, s"exportHdf5: column ${c.name} has a " +
            s"${a.numElements}-element array, wider than the $width planned " +
            "before the write pass — the source changed between passes")
          var j = 0
          while (j < a.numElements) {
            if (a.isNullAt(j)) bb.position(bb.position() + c.dtype.size)
            else c.dtype match {
              case I64 => bb.putLong(a.getLong(j))
              case F64 => bb.putDouble(a.getDouble(j))
              case _   => bb.putFloat(a.getFloat(j))
            }
            j += 1
          }
        case None => c.dtype match {
          case I64 => bb.putLong(r.getLong(ordinal))
          case I32 => bb.putInt(r.getInt(ordinal))
          case F64 => bb.putDouble(r.getDouble(ordinal))
          case F32 => bb.putFloat(r.getFloat(ordinal))
          case Str(k) =>
            val sb = r.getUTF8String(ordinal).getBytes
            require(sb.length <= k, s"exportHdf5: column ${c.name} has a " +
              s"${sb.length}-byte string, wider than the $k bytes planned " +
              "before the write pass — the source changed between passes")
            bb.put(sb)
        }
      }
      block
    }
  }
}
