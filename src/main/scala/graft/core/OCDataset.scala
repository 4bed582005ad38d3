package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.expr.{OCExpr, OCMask}
import graft.expr.OCExpr.Reduce
import graft.units.Units
import graft.units.Units.{Convention, UnitSpec}

/** The central lazy-dataset abstraction (reference
  * python/opencosmo/dataset/dataset.py:52 — SURVEY.md §1.1, §2.2,
  * §2.8, §2.11).
  *
  * A thin immutable wrapper over a Spark DataFrame + Header: every
  * transformation returns a new OCDataset whose `df` is a new logical
  * plan. The reference's row-index machinery, column cache, and
  * producer DAG all dissolve into Catalyst lineage; what remains here
  * is the *semantic* layer Spark lacks — wildcard selection, unit
  * inference/conversion, lazy sort (applied at materialization), and
  * scalar-reduction predicates (agg-then-substitute).
  *
  * NOTE on laziness: like the reference (nothing touches disk until
  * `get_data()`/`write()`), no action runs until `getData`/`collect`/
  * `rows` — except `filter` on masks containing reductions, which runs
  * one aggregation job first (the reference does the same eagerly:
  * column.py:1181-1196).
  */
final case class OCDataset(
    df: DataFrame,
    header: Header = Header(),
    sortKey: Option[(String, Boolean)] = None) {

  import OCDataset._

  def columns: Seq[String] = df.columns.toSeq

  /** Unit of a column, from the header's unit table. */
  def unitOf(name: String): UnitSpec =
    Units.parse(header.columnUnits.getOrElse(name, ""))

  private def unitEnv: String => UnitSpec = unitOf

  // ---- §2.2 projection --------------------------------------------

  /** Column subset with fnmatch-style wildcards (`"fof*"`, `"*com*"`),
    * preserving frame column order (reference dataset.py:614-708,
    * column/select.py:7-37). Unknown non-wildcard names throw.
    */
  def select(patterns: String*): OCDataset = {
    val expanded = expand(patterns, columns)
    copy(df = df.select(expanded.map(col): _*))
  }

  /** Select + simultaneously-defined derived columns. Scalar
    * reductions are gathered ACROSS all derived expressions and
    * evaluated in one aggregation job (q94's four scalings share a
    * single 8-reduction agg, not four table scans).
    */
  def select(patterns: Seq[String], derived: (String, OCExpr)*): OCDataset = {
    val expanded = expand(patterns, columns)
    // plan-time unit check AND recording (like withNewColumns): a
    // derived Mpc²-column must stay unitful downstream, or a later
    // convention switch silently skips it as dimensionless
    val newUnits = derived.map { case (n, e) => n -> e.unitIn(unitEnv).toString }
    val values = resolveAll(derived.map(_._2))
    val dcols = derived.map { case (n, e) => e.substitute(values).toColumn.as(n) }
    copy(df = df.select(expanded.map(col) ++ dcols: _*),
      header = header.copy(columnUnits = header.columnUnits ++ newUnits))
  }

  /** Inverse select, same wildcards (reference dataset.py:710-745). */
  def drop(patterns: String*): OCDataset = {
    val doomed = expand(patterns, columns, strict = false).toSet
    copy(df = df.select(columns.filterNot(doomed).map(col): _*))
  }

  // ---- §2.2 filters ------------------------------------------------

  /** AND of boolean masks; scalar reductions inside masks are
    * evaluated first and substituted (reference
    * resolve_mask_scalars, column.py:1310-1341).
    */
  def filter(masks: OCMask*): OCDataset = {
    // plan-time unit validation (previously only derived columns were
    // checked): malformed arithmetic inside a mask (Mpc + Msun) and
    // comparisons between two DIFFERENT unitful sides throw here,
    // before any job runs
    masks.foreach(_.unitCheck(unitEnv))
    val resolved = masks.map(resolveMask)
    indexUpdated("filter",
      copy(df = resolved.map(_.toColumn).foldLeft(df)((d, c) => d.filter(c))))
  }

  /** Fire the IndexUpdate fold for a narrowing applied OUTSIDE this
    * class (collection-level semi-joins): every operation that
    * narrows the row population must cross the one plugin surface,
    * or a registered index-maintenance plugin silently misses it.
    */
  private[graft] def narrowed(op: String, newDf: DataFrame): OCDataset =
    indexUpdated(op, copy(df = newDf))

  /** Fire the IndexUpdate fold point (reference IndexUpdateCtx,
    * plugins/contexts.py:80-92 — fired whenever filter/take/bound
    * produce a new row index; here, a new narrowed plan). Plugins see
    * (op, before, after) and may rewrite `after`. No-op without
    * registrations.
    */
  private def indexUpdated(op: String, after: OCDataset): OCDataset =
    if (graft.plugins.Hooks.indexUpdate.isEmpty) after
    else graft.plugins.Hooks.indexUpdate
      .fold(graft.plugins.Hooks.IndexUpdate(op, this, after)).after

  // ---- §2.5 derived columns ---------------------------------------

  /** Column descriptions (reference dataset.py:132-147): every column
    * present, None when the header carries no description — plain-text
    * metadata read from the HDF5 `description` attributes and carried
    * through the sidecar.
    */
  def descriptions: Map[String, Option[String]] =
    columns.map(c => c -> header.columnDescriptions.get(c)).toMap

  /** Add derived columns (reference with_new_columns,
    * dataset.py:914-992). Overwrite of an existing name requires
    * allowOverwrite — same guard as the reference. Descriptions attach
    * to the new columns (reference's `descriptions=` kwarg) and
    * propagate through write/reopen like units do; an overwritten
    * column always sheds its OLD description (stale prose on new data
    * is worse than none).
    */
  def withNewColumns(derived: (String, OCExpr)*): OCDataset =
    withNewColumns(allowOverwrite = false, Map.empty[String, String], derived: _*)

  def withNewColumns(allowOverwrite: Boolean, derived: (String, OCExpr)*): OCDataset =
    withNewColumns(allowOverwrite, Map.empty[String, String], derived: _*)

  def withNewColumns(descriptions: Map[String, String],
                     derived: (String, OCExpr)*): OCDataset =
    withNewColumns(allowOverwrite = false, descriptions, derived: _*)

  /** Single description applied to every new column — the reference
    * accepts `descriptions` as either one string or a per-column dict
    * (dataset.py:916-992).
    */
  def withNewColumns(description: String,
                     derived: (String, OCExpr)*): OCDataset =
    withNewColumns(allowOverwrite = false,
      derived.map(_._1 -> description).toMap, derived: _*)

  def withNewColumns(allowOverwrite: Boolean, descriptions: Map[String, String],
                     derived: (String, OCExpr)*): OCDataset = {
    val names = derived.map(_._1)
    val clash = names.filter(columns.contains)
    require(allowOverwrite || clash.isEmpty,
      s"columns already exist: ${clash.mkString(",")} (pass allowOverwrite)")
    val unknown = descriptions.keySet -- names
    require(unknown.isEmpty,
      s"descriptions for non-derived columns: ${unknown.mkString(",")}")
    val newUnits = derived.map { case (n, e) => n -> e.unitIn(unitEnv).toString }
    val values = resolveAll(derived.map(_._2))
    val out = derived.foldLeft(df) { case (d, (n, e)) =>
      d.withColumn(n, e.substitute(values).toColumn)
    }
    copy(df = out,
      header = header.copy(
        columnUnits = header.columnUnits ++ newUnits,
        columnDescriptions =
          (header.columnDescriptions -- names) ++ descriptions))
  }

  // ---- §2.8 sort / take -------------------------------------------

  /** Lazy sort: records the key; applied at materialization
    * (reference dataset.py:747-785 — `sort_key` in DatasetState).
    */
  def sortBy(name: String, invert: Boolean = false): OCDataset =
    copy(sortKey = Some((name, invert)))

  private def sorted(d: DataFrame): DataFrame = sortKey match {
    case Some((k, inv)) =>
      val s = d.orderBy(if (inv) col(k).desc else col(k).asc)
      // reference PostSortCtx (plugins/contexts.py:95-108): plugins may
      // remap order-sensitive columns when the lazy sort key applies
      graft.plugins.Hooks.postSort
        .fold(graft.plugins.Hooks.PostSort(s, k, inv)).df
    case None => d
  }

  /** Head / tail / seeded-random take (reference dataset.py:787-836).
    * `end` reverses the (lazy) sort; with no sort key it falls back to
    * input order via a monotonic id. Random is seeded — an intentional
    * upgrade over the reference's unseeded RNG (SURVEY.md §7.4).
    */
  def take(n: Int, at: TakeAt = Start): OCDataset = indexUpdated("take", at match {
    case Start => copy(df = sorted(df).limit(n), sortKey = None)
    case End =>
      val flipped = sortKey match {
        case Some((k, inv)) => df.orderBy(if (inv) col(k).asc else col(k).desc)
        case None =>
          val withId = df.withColumn("__rid", monotonically_increasing_id())
          withId.orderBy(col("__rid").desc)
      }
      copy(df = sorted(flipped.limit(n)).drop("__rid"), sortKey = None)
    case Random(seed, keys) =>
      // content-keyed sample (the samplers' md5-prefix pattern), NOT
      // rand(seed): rand's sequence is partition-dependent, so the
      // "seeded" sample silently changes with cluster size / file
      // splits; hashing the row's key content replays identically on
      // any partitioning — and in any engine that can md5 a string.
      // `keys` picks the hashed columns (a primary key avoids
      // engine-specific float rendering); empty → all columns.
      // Each component is length-prefixed ("<len>:<value>", NULL →
      // "n") so ("a|b") vs ("a","b") and NULL-keyed rows cannot alias
      // to the same hash input — the SQL replay is
      //   md5('<seed>|' || CASE WHEN k IS NULL THEN 'n'
      //       ELSE length(CAST(k AS VARCHAR)) || ':' || CAST(k AS VARCHAR) END || ...)
      val hashed = (if (keys.nonEmpty) keys else df.columns.toSeq).map(col)
      val parts = hashed.map { c =>
        val s = c.cast("string")
        when(s.isNull, lit("n"))
          .otherwise(concat(length(s).cast("string"), lit(":"), s))
      }
      val h = md5(concat(lit(seed.toString + "|") +: parts: _*))
      // orderBy+limit → TakeOrderedAndProject: distributed top-k per
      // partition + driver merge, never a global sort
      copy(df = df.orderBy(h).limit(n), sortKey = None)
  })

  /** Row-range slice of the (lazily) sorted order (reference
    * take_range, dataset.py:838-883). offset+limit → Spark's global
    * limit pushdown, no full materialization.
    */
  def takeRange(start: Int, end: Int): OCDataset =
    // fires IndexUpdate like its siblings — the reference's
    // IndexUpdateCtx covers take_range narrowing too (dataset.py:838-883)
    indexUpdated("takeRange",
      copy(df = sorted(df).offset(start).limit(end - start), sortKey = None))

  /** Arbitrary row selection by key values (reference take_rows,
    * dataset.py:885-912 — there by positional row id; here by an
    * explicit key column, the scale-safe formulation). Broadcast
    * semi-join against the id list.
    */
  def takeRows(idCol: String, ids: Seq[Any]): OCDataset = {
    val idDf = df.sparkSession.createDataFrame(
      ids.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(df.schema(idCol))))
    copy(df = df.join(broadcast(idDf), Seq(idCol), "left_semi"))
  }

  private implicit class SeqAsJava[T](s: Seq[T]) {
    def asJava: java.util.List[T] = {
      val l = new java.util.ArrayList[T](s.size)
      s.foreach(l.add); l
    }
  }

  /** Bind an in-memory data array as a new column by POSITION — the
    * reference's `with_new_columns(name=np_array)` (test_im_col.py;
    * dataset/im_col.py): value i attaches to row i of the current
    * (lazily sorted) row order. Like the reference's numpy-array
    * source, the data lives in driver memory — this is the
    * interactive-scale escape hatch, not a distributed op (a
    * cluster-scale material column arrives as a table and JOINS on a
    * key). The RDD hop is deliberate: positional identity is exactly
    * what the declarative layer abstracts away, so it costs one
    * zipWithIndex pass; the plan downstream is a fresh scan of the
    * bound rows. Filters/derives/takes compose on the result as on
    * any column.
    */
  def withDataColumn(name: String, values: Seq[Any], unit: String = "",
                     allowOverwrite: Boolean = false,
                     description: String = ""): OCDataset = {
    require(allowOverwrite || !columns.contains(name),
      s"column '$name' exists; pass allowOverwrite=true to replace")
    // sort BEFORE dropping a replaced column — it may be the lazy sort
    // key, and the positional contract is over the sorted order
    val sdf = sorted(df).drop(name)
    val n = sdf.count()
    require(n == values.length,
      s"positional column '$name': ${values.length} values for $n rows")
    val dt: org.apache.spark.sql.types.DataType = values.headOption match {
      case Some(_: Long)    => org.apache.spark.sql.types.LongType
      case Some(_: Int)     => org.apache.spark.sql.types.IntegerType
      case Some(_: Double)  => org.apache.spark.sql.types.DoubleType
      case Some(_: Float)   => org.apache.spark.sql.types.FloatType
      case Some(_: String)  => org.apache.spark.sql.types.StringType
      case Some(_: Boolean) => org.apache.spark.sql.types.BooleanType
      case other => throw new IllegalArgumentException(
        s"unsupported material column element: $other")
    }
    val schema2 = sdf.schema.add(name, dt, nullable = false)
    val bound = values.toIndexedSeq // stable O(1) positional lookup in tasks
    val rdd2 = sdf.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ bound(i.toInt))
    }
    val df2 = df.sparkSession.createDataFrame(rdd2, schema2)
    // a replaced column must not inherit the OLD unit/description — a
    // stale km/s entry on new unitless data would silently mis-convert
    // later, and stale prose misleads
    val units2 =
      (header.columnUnits - name) ++ (if (unit.nonEmpty) Map(name -> unit) else Map.empty)
    val descs2 = (header.columnDescriptions - name) ++
      (if (description.nonEmpty) Map(name -> description) else Map.empty)
    copy(df = df2,
      header = header.copy(columnUnits = units2, columnDescriptions = descs2),
      sortKey = None)
  }

  // ---- §2.11 units -------------------------------------------------

  /** Switch unit convention: every column with a known unit is
    * rewritten by the conversion factor (reference with_units,
    * dataset.py:1020-1102). Pure plan rewrite — one multiply per
    * column, stays in whole-stage codegen.
    */
  def withUnits(convention: Convention,
                scaleFactorColumn: Option[String] = None): OCDataset = {
    val from = header.convention
    if (from == convention) return this
    val a: Column = scaleFactorColumn.map(col)
      .getOrElse(lit(header.scaleFactor))
    val outCols = columns.map { c =>
      val u = unitOf(c)
      if (u.isDimensionless) col(c)
      else Units.convert(col(c), u, from, convention, header.cosmology, a).as(c)
    }
    copy(df = df.select(outCols: _*),
      header = header.copy(unitConvention = convention.name))
  }

  /** Per-column unit conversions (reference with_units
    * `conversions=`/`column_conversions=`, dataset.py:1020-1102,
    * units/handler.py:64-266): `conversions` rewrites every column
    * whose unit matches a key (ignoring littleh bookkeeping — `"Mpc"
    * -> "kpc"` converts Mpc and Mpc/h columns alike);
    * `columnConversions` targets named columns and wins on overlap.
    * Composes with convention switches — call [[withUnits]] first for
    * both. Pure plan rewrite: one multiply per converted column
    * (additive log10 shift for dex columns), so the whole thing stays
    * inside whole-stage codegen; the header's unit table is updated so
    * downstream unit inference sees the new units.
    */
  def withUnitConversions(conversions: Map[String, String] = Map.empty,
                          columnConversions: Map[String, String] = Map.empty): OCDataset = {
    val unknown = columnConversions.keySet.diff(columns.toSet)
    require(unknown.isEmpty, s"no such columns: ${unknown.mkString(", ")}")
    val convSpecs = conversions.map { case (k, v) => Units.parse(k) -> Units.parse(v) }
    val changes: Seq[(String, UnitSpec, UnitSpec)] = columns.flatMap { c =>
      val u = unitOf(c)
      columnConversions.get(c).map { t =>
        // a target with no explicit h keeps the column's h bookkeeping
        val parsed = Units.parse(t)
        (c, u, if (parsed.h == 0) Units.withHOf(parsed, u) else parsed)
      }.orElse {
        convSpecs.collectFirst {
          case (k, t) if Units.matchesIgnoringH(u, k) => (c, u, Units.withHOf(t, u))
        }
      }
    }
    if (changes.isEmpty) return this
    val byName = changes.map(ch => ch._1 -> ch).toMap
    val outCols = columns.map { c =>
      byName.get(c) match {
        case None => col(c)
        case Some((_, from, to)) =>
          if (from.dex || to.dex) {
            require(from.dex && to.dex, s"dex mismatch converting $c: $from -> $to")
            val f = Units.unitConversionFactor(
              Units.UnitSpec(from.dims, from.h), Units.UnitSpec(to.dims, to.h))
            (col(c) + lit(math.log10(f))).as(c)
          } else (col(c) * lit(Units.unitConversionFactor(from, to))).as(c)
      }
    }
    copy(df = df.select(outCols: _*),
      header = header.copy(columnUnits = header.columnUnits ++
        changes.map { case (c, _, to) => c -> to.toString }))
  }

  // ---- §2.7 spatial -----------------------------------------------

  /** Spatial bound: restrict to a 3-D region via the two-phase octree
    * plan (reference dataset.py:340-431; spatial/tree.py:249-271) —
    * Morton-key filter for contained cells, exact point check only on
    * boundary cells. The region is given in the dataset's CURRENT unit
    * convention and the octree domain auto-scales to match: the
    * header's `boxSize` is stored in the base (scalefree) convention,
    * so when the dataset has been converted (comoving/physical) and
    * the coordinate columns carry a length unit, the domain is
    * multiplied by the same conversion factor as the data. This is the
    * transparent analog of the reference converting the query region
    * into the file's base convention (region.py:334-353
    * into_base_convention) — scaling the domain up is geometrically
    * identical to scaling the region down, and keeps the exact
    * predicate in the columns' own coordinates.
    *
    * `coords` are the x/y/z column names; the octree domain is the
    * header's box [0, boxSize)³ unless overridden (an explicit
    * `domain` is taken as already being in the current convention).
    *
    * When the dataset carries a stored spatial index
    * (OCIO.writeSpatial: a persisted `morton_key` column +
    * `spatialIndexLevel` in the header), the filter runs against the
    * STORED column at its own level — no per-row key recompute, and
    * because the data is key-clustered on disk the contained-cell
    * ranges prune parquet row groups at the scan. The stored key was
    * built in the base convention, so if the dataset has since been
    * unit-converted the region is scaled back to base for cell
    * classification while the exact check stays in current
    * coordinates.
    */
  def bound(region: graft.spatial.Region.Region3D,
            coords: (String, String, String) = ("x", "y", "z"),
            level: Int = 4,
            domain: Option[(Double, Double)] = None): OCDataset =
    indexUpdated("bound", boundImpl(region, coords, level, domain))

  private def boundImpl(region: graft.spatial.Region.Region3D,
                        coords: (String, String, String),
                        level: Int,
                        domain: Option[(Double, Double)]): OCDataset = {
    val (cx, cy, cz) = coords
    val baseBox = if (header.boxSize > 0) header.boxSize else 1.0
    // domain factor = convention factor (littleh/scale-factor) × unit
    // factor (the header's box is in the base Mpc-family length; a
    // per-column conversion like Mpc→kpc rescaled the data by 1000 and
    // the domain must follow, or the octree would silently classify in
    // the wrong scale)
    val cu = unitOf(cx)
    val fConv = Units.conversionFactor(cu, Units.Scalefree,
      header.convention, header.cosmology, header.scaleFactor)
    val f = fConv * Units.lengthScaleFromMpc(cu).getOrElse(1.0)
    // stored-key fast path requires the index to have been built over
    // THESE coordinate columns; an empty coords record (legacy files,
    // pre-coords headers) is trusted for the default x/y/z only
    val coordsMatch = header.spatialIndexCoords match {
      case Seq(a, b, c) => (a, b, c) == coords
      case _            => coords == ("x", "y", "z")
    }
    val stored = header.spatialIndexLevel > 0 && coordsMatch &&
      columns.contains("morton_key") && domain.isEmpty
    val filterOpt =
      if (stored) {
        val keyRegion = if (f == 1.0) region else region.scaled(1.0 / f)
        graft.spatial.Octree.boundFilter(region, 0.0, baseBox, level,
          col(cx), col(cy), col(cz),
          storedKey = Some((col("morton_key"), header.spatialIndexLevel)),
          keyRegion = Some(keyRegion))
      } else {
        val (origin, size) = domain.getOrElse((0.0, baseBox * f))
        // Computed-key path: project the key ONCE below the filter
        // (native codegen'd expression — one JVM call per row) and
        // have every range disjunct reference that single attribute.
        // Inlining the 3·level-term bit-interleave into each of up to
        // 64 disjuncts breaks the 64 KB generated-method limit and the
        // whole filter stage silently falls back to interpreted eval.
        // The key is "stored" only for the span of this plan — the
        // range budget stays at the computed tier (no storage pruning
        // to pay for wide plans).
        val keyCol = graft.spatial.Morton.keyColumnNative(
          col(cx), col(cy), col(cz), origin, size, level)
        val withKey = df.withColumn(BoundKeyCol, keyCol)
        return graft.spatial.Octree.boundFilter(region, origin, size, level,
          col(cx), col(cy), col(cz),
          storedKey = Some((col(BoundKeyCol), level)),
          maxRangesOverride = Some(graft.spatial.Octree.MaxRangesComputed)) match {
          case None       => copy(df = df.limit(0))
          case Some(pred) => copy(df = withKey.filter(pred).drop(BoundKeyCol))
        }
      }
    filterOpt match {
      case None       => copy(df = df.limit(0)) // disjoint — empty short-circuit
      case Some(pred) => copy(df = df.filter(pred))
    }
  }

  private val BoundKeyCol = "__graft_bound_key"

  /** 2-D sky bound (reference dataset-level `bound` with a 2-D region,
    * lightcone.py:654-745; spatial/region.py ConeRegion/SkyboxRegion):
    * restrict to rows whose (ra, dec) lie in `region`. The exact
    * predicate is pure column trigonometry (codegen'd — no UDF). When
    * the dataset carries a stored HEALPix pixel column (`pixelCol` at
    * `nside`, nested ordering), a cone query prepends a pixel-set
    * prefilter: an `isin` over the disc's pixels, which pushes to the
    * parquet scan and prunes row groups when the data is
    * pixel-clustered — the 2-D analog of the stored Morton fast path.
    */
  def boundSky(region: graft.spatial.Region.SkyRegion,
               coords: (String, String) = ("ra", "dec"),
               pixelCol: Option[String] = None,
               nside: Int = 0): OCDataset =
    indexUpdated("boundSky", boundSkyImpl(region, coords, pixelCol, nside))

  private def boundSkyImpl(region: graft.spatial.Region.SkyRegion,
                           coords: (String, String),
                           pixelCol: Option[String],
                           nside: Int): OCDataset = {
    import graft.spatial.Region._
    val (ra, dec) = coords
    val exact = region.predicate(col(ra), col(dec))
    val pre: Option[Column] = (region, pixelCol) match {
      case (c: Cone, Some(p)) if nside > 0 =>
        val pix = graft.spatial.Healpix.queryDisc(nside, c.center, c.radius)
        Some(col(p).isin(pix.toSeq: _*))
      case (HealpixRegion(n, pixels), Some(p)) if n == nside =>
        // pixel membership IS the region definition — no exact check
        return copy(df = df.filter(col(p).isin(pixels.toSeq: _*)))
      case _ => None
    }
    copy(df = df.filter(pre.fold(exact)(_ && exact)))
  }

  // ---- materialization --------------------------------------------

  /** The materialization boundary (reference get_data). */
  def getData: DataFrame = sorted(df)

  def collect(): Array[Row] = getData.collect()

  /** Chunked row iterator (reference rows(), dataset.py:574-612) —
    * `toLocalIterator` streams one partition at a time to the driver.
    */
  def rows(): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    getData.toLocalIterator().asScala
  }

  def count(): Long = df.count()

  /** Arrow IPC shard export (reference output-format surface,
    * dataset/formats.py:14-120 — the zero-copy columnar handoff its
    * astropy/pandas/polars/arrow/jax adapters all accept): one IPC
    * stream file per non-empty partition, written where the partition
    * sits — no driver collect. The lazy sort applies first, like
    * every other materialization. Returns the written paths.
    */
  def exportArrowIpc(outDir: String, batchRows: Int = 1 << 14): Seq[String] =
    graft.io.ArrowExport.writeArrowIpc(getData, outDir, batchRows)

  /** Scalar-select mode (reference select's exclusive reduction mode,
    * dataset.py:614-708): evaluate named reductions into a one-row
    * frame — one aggregation job for all of them.
    */
  def aggregate(aggs: (String, OCExpr)*): DataFrame = {
    val cols = aggs.map { case (n, e) =>
      e match {
        case r: Reduce => r.aggColumn.as(n)
        case other => throw new IllegalArgumentException(
          s"aggregate needs reductions, got $other for $n")
      }
    }
    df.agg(cols.head, cols.tail: _*)
  }

  /** Equi-width histogram of a column (reference users drop to numpy
    * for this — SURVEY §2.4; first-class here): one hash-agg shuffle.
    * Output: (bucket, n) with bucket = floor(value/width).
    */
  def histogram(name: String, width: Double): DataFrame =
    df.groupBy(floor(col(name) / width).cast("long").as("bucket"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))

  /** Materialized-column cache (reference ColumnCache,
    * column/cache.py:59-405 — dissolves into Spark's block-level
    * persistence; child datasets share the cached ancestor plan).
    */
  def persist(): OCDataset = { df.persist(); this }
  def unpersist(): OCDataset = { df.unpersist(); this }

  /** Reductions across MANY expressions in one aggregation job. */
  private def resolveAll(es: Seq[OCExpr]): Map[Reduce, Double] = {
    val rs = es.flatMap(_.reductions).distinct
    if (rs.isEmpty) Map.empty else evalReductions(rs)
  }

  private def resolveMask(m: OCMask): OCMask = {
    val rs = m.reductions.distinct
    if (rs.isEmpty) m else m.substitute(evalReductions(rs))
  }

  private def evalReductions(rs: Seq[Reduce]): Map[Reduce, Double] = {
    def num(v: Any): Double = v match {
      case d: Double => d
      case l: Long => l.toDouble
      case i2: Int => i2.toDouble
      case f: Float => f.toDouble
      // aggregates over an EMPTY frame return null (min/max/avg/
      // percentile): NaN makes every comparison against the
      // reduction false, so the mask selects nothing — consistent
      // with "no rows to reduce over", never an NPE
      case null => Double.NaN
      case other => other.toString.toDouble
    }
    // innermost-first rounds: a reduction whose operand CONTAINS other
    // reductions (e.g. (x - x.mean).std) can only build its agg column
    // after the inner values are substituted — one aggregation job per
    // nesting level, all same-level reductions batched together
    var acc = Map.empty[Reduce, Double]
    var pending = rs.distinct
    while (pending.nonEmpty) {
      val ready = pending.filter(_.of.reductions.forall(acc.contains))
      assert(ready.nonEmpty, "reduction nesting did not make progress")
      val cols = ready.map(r => r.copy(of = r.of.substitute(acc)).aggColumn)
      val row = df.agg(cols.head, cols.tail: _*).head()
      acc ++= ready.zipWithIndex.map { case (r, i) => r -> num(row.get(i)) }
      pending = pending.filterNot(ready.toSet)
    }
    acc
  }
}

object OCDataset {
  sealed trait TakeAt
  case object Start extends TakeAt
  case object End extends TakeAt
  final case class Random(seed: Long, keyCols: Seq[String] = Nil) extends TakeAt

  /** fnmatch-style wildcard expansion preserving frame column order
    * (reference column/select.py:7-37). Non-wildcard names must exist
    * when strict.
    */
  def expand(patterns: Seq[String], columns: Seq[String],
             strict: Boolean = true): Seq[String] = {
    val picked = scala.collection.mutable.LinkedHashSet[String]()
    patterns.foreach { p =>
      if (p.exists("*?[".contains(_))) {
        val re = fnmatchToRegex(p)
        val hits = columns.filter(re.matches)
        picked ++= hits
      } else {
        if (strict) require(columns.contains(p), s"no such column: $p")
        if (columns.contains(p)) picked += p
      }
    }
    // frame order, not pattern order — matches reference semantics
    columns.filter(picked.contains)
  }

  private def fnmatchToRegex(p: String): scala.util.matching.Regex = {
    val sb = new StringBuilder("^")
    p.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append(".")
      case '[' => sb.append("[")
      case ']' => sb.append("]")
      case c if "\\.^$+{}()|".contains(c) => sb.append("\\").append(c)
      case c => sb.append(c)
    }
    sb.append("$").toString.r
  }
}
