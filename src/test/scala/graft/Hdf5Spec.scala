package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Header, OCDataset}
import graft.io.hdf5.{Hdf5Io, Hdf5Reader, Hdf5Writer}
import graft.spatial.{Morton, Region}
import graft.units.Units.Cosmology

/** HDF5 interchange: export → import round trips through the
  * pure-Scala writer/reader pair (both written independently against
  * the public HDF5 format spec), plus hand-built reference-layout
  * files (SPEC.md: index group, data_linked group) driving the import
  * of spatial indexes and structure links.
  */
class Hdf5Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = tempDir("graft-h5-").toString
    s"$d/$name"
  }

  private lazy val mixed = OCDataset(
    Seq(
      (1L, 10, 1.5, 2.5f, "alpha", Seq(1.0, 2.0, 3.0)),
      (2L, 20, -0.25, 0.5f, "beta", Seq(4.0, 5.0, 6.0)),
      (3L, 30, 1e300, -1.25f, "γ-utf8", Seq(7.0, 8.0, 9.0))
    ).toDF("id", "n", "x", "f", "name", "vec"),
    Header(boxSize = 64.0, redshift = 0.5, cosmology = Cosmology(h0 = 67.0),
      columnUnits = Map("x" -> "Mpc/h"),
      columnDescriptions = Map("x" -> "position")))

  test("export/import round trip: all dtypes, order, units, header (compressed)") {
    val p = tmp("mixed.hdf5")
    Hdf5Io.exportHdf5(mixed, p, chunkRows = 2, compress = true)
    val back = Hdf5Io.importDataset(spark, p)
    assert(back.columns == Seq("id", "n", "x", "f", "name", "vec")) // column_order attr
    assert(back.header.boxSize == 64.0 && back.header.redshift == 0.5)
    assert(back.header.cosmology.h0 == 67.0)
    assert(back.header.columnUnits == Map("x" -> "Mpc/h"))
    assert(back.header.columnDescriptions == Map("x" -> "position"))
    val rows = back.df.orderBy("id").collect()
    val orig = mixed.df.orderBy("id").collect()
    assert(rows.length == 3)
    rows.zip(orig).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getInt(1) == b.getInt(1))
      assert(a.getDouble(2) == b.getDouble(2))
      assert(a.getFloat(3) == b.getFloat(3))
      assert(a.getString(4) == b.getString(4))
      assert(a.getSeq[Double](5) == b.getSeq[Double](5))
    }
  }

  test("contiguous (uncompressed) layout round trips too") {
    val p = tmp("plain.hdf5")
    Hdf5Io.exportHdf5(mixed, p, compress = false)
    val back = Hdf5Io.importDataset(spark, p)
    assert(back.df.orderBy("id").collect().map(_.getDouble(2)).toSeq ==
      Seq(1.5, -0.25, 1e300))
  }

  test("import scales: windowed tasks see disjoint slices of a larger file") {
    val n = 10000
    val ds = OCDataset(
      spark.range(n.toLong).select(col("id"),
        (col("id") * 2).cast("double").as("v")))
    val p = tmp("big.hdf5")
    Hdf5Io.exportHdf5(ds, p, chunkRows = 1024, compress = true)
    // small windows force many tasks; global row coverage must be exact
    val back = Hdf5Io.openDataFrame(spark, p, targetRowsPerTask = 500)
    assert(back.rdd.getNumPartitions > 1)
    assert(back.count() == n)
    assert(back.agg(sum("id")).head().getLong(0) == n.toLong * (n - 1) / 2)
    assert(back.agg(sum("v")).head().getDouble(0) == n.toDouble * (n - 1))
  }

  test("reference-layout octree index imports as a stored morton key") {
    // hand-build a SPEC.md file: data sorted by level-1 z-order cell,
    // index/level_1 start+size ranges over the 8 octants
    val level = 1
    val box = 8.0
    val pts = for (i <- 0 until 64) yield {
      val x = (i % 4) * 2.0 + 0.5; val y = (i / 4 % 4) * 2.0 + 0.5
      val z = (i / 16) * 2.0 + 0.5
      (x, y, z, Morton.pointKey(x, y, z, 0.0, box, level))
    }
    val sorted = pts.sortBy(_._4)
    val starts = new Array[Long](8); val sizes = new Array[Long](8)
    sorted.zipWithIndex.foreach { case ((_, _, _, k), row) =>
      if (sizes(k.toInt) == 0) starts(k.toInt) = row
      sizes(k.toInt) += 1
    }
    val p = tmp("indexed.hdf5")
    val w = new Hdf5Writer(p)
    def f64(vals: Seq[Double], attrs: Seq[(String, Any)] = Nil) =
      w.writeDataset(Hdf5Writer.F64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putDouble(d); b.array()
        }), attrs)
    def i64(vals: Seq[Long]) =
      w.writeDataset(Hdf5Writer.I64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putLong(d); b.array()
        }))
    val dataAddr = w.writeGroup(Seq(
      "x" -> f64(sorted.map(_._1), Seq("unit" -> "Mpc/h")),
      "y" -> f64(sorted.map(_._2), Seq("unit" -> "Mpc/h")),
      "z" -> f64(sorted.map(_._3), Seq("unit" -> "Mpc/h"))))
    val lvl = w.writeGroup(Seq(
      "start" -> i64(starts.toSeq), "size" -> i64(sizes.toSeq)))
    val idx = w.writeGroup(Seq(s"level_$level" -> lvl),
      attrs = Seq("index_type" -> "octtree"))
    val sim = w.writeGroup(Nil, Seq("box_size" -> box, "redshift" -> 0.0))
    val hdr = w.writeGroup(Seq("simulation" -> sim))
    w.finish(w.writeGroup(Seq("data" -> dataAddr, "header" -> hdr, "index" -> idx)))

    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.header.spatialIndexLevel == level)
    assert(ds.header.spatialIndexCoords == Seq("x", "y", "z"))
    assert(ds.columns.contains("morton_key"))
    // stored key agrees with direct computation for every row
    val bad = ds.df.withColumn("expect",
      graft.spatial.Morton.keyColumn(col("x"), col("y"), col("z"), 0.0, box, level))
      .filter(col("expect") =!= col("morton_key")).count()
    assert(bad == 0)
    // bound() through the stored key returns exactly the octant
    val oct = ds.bound(Region.Box(Region.P3(0, 0, 0), Region.P3(4, 4, 4)),
      level = level)
    assert(oct.count() == 8)
  }

  test("reference-layout data_linked imports as a structure collection") {
    // halo_properties (3 halos) linked to halo_particles by start/size
    val masses = Seq(1e13, 5e13, 2e14)
    val counts = Seq(3L, 0L, 2L)
    val starts = counts.scanLeft(0L)(_ + _).init
    // 6th particle is an ORPHAN (beyond every range) — must import
    // with a null parent, not silently attach to the last halo
    val partMass = Seq(0.1, 0.2, 0.3, 7.0, 8.0, 99.0)
    val p = tmp("structure.hdf5")
    val w = new Hdf5Writer(p)
    def f64(vals: Seq[Double]) =
      w.writeDataset(Hdf5Writer.F64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putDouble(d); b.array()
        }))
    def i64(vals: Seq[Long]) =
      w.writeDataset(Hdf5Writer.I64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putLong(d); b.array()
        }))
    val propsData = w.writeGroup(Seq("mass" -> f64(masses)))
    val linked = w.writeGroup(Seq(
      "halo_particles_abc123_start" -> i64(starts),
      "halo_particles_abc123_size" -> i64(counts)))
    val propsGrp = w.writeGroup(Seq("data" -> propsData, "data_linked" -> linked))
    val partsData = w.writeGroup(Seq("p_mass" -> f64(partMass)))
    val partsGrp = w.writeGroup(Seq("data" -> partsData))
    val sim = w.writeGroup(Nil, Seq("box_size" -> 10.0))
    val hdr = w.writeGroup(Seq("simulation" -> sim))
    w.finish(w.writeGroup(Seq(
      "halo_properties" -> propsGrp, "halo_particles" -> partsGrp, "header" -> hdr)))

    val coll = Hdf5Io.importStructure(spark, p, "halo_properties")
    assert(coll.children.keySet == Set("halo_particles"))
    assert(coll.properties.count() == 3)
    // halo 0 gets 3 particles, halo 2 gets 2, halo 1 none
    val byHalo = coll.child("halo_particles")
      .groupBy(Hdf5Io.LinkCol).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byHalo == Map(0L -> 3L, 2L -> 2L))
    // the orphan carries a NULL parent and never joins to any halo
    val orphans = coll.children("halo_particles")
      .filter(col(Hdf5Io.LinkCol).isNull).collect()
    assert(orphans.map(_.getAs[Double]("p_mass")).toSeq == Seq(99.0))
    // semi-join filter works over the imported link
    val heavy = coll.filterByChild("halo_particles", col("p_mass") > 1.0)
    assert(heavy.properties.df.select("mass").collect().map(_.getDouble(0)).toSet ==
      Set(2e14))
  }

  test("range-link import resolves per-task slices, never the whole table") {
    // 1000 parents with sizes cycling 0/1/2 (gapless SPEC layout plus
    // empty ranges that tie on start with their successor) — the
    // driver-collect regression this guards against would materialize
    // all 1000 ranges for every task; the windowed resolver must
    // return ONLY the ranges overlapping the asked child-row window
    val nPar = 1000
    val sizes = (0 until nPar).map(p => (p % 3).toLong)
    val starts = sizes.scanLeft(0L)(_ + _).init
    val nChild = sizes.sum
    val p = tmp("bigstructure.hdf5")
    val w = new Hdf5Writer(p)
    def i64(vals: Seq[Long]) =
      w.writeDataset(Hdf5Writer.I64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putLong(d); b.array()
        }))
    val propsData = w.writeGroup(Seq("hid" -> i64((0 until nPar).map(_.toLong))))
    val linked = w.writeGroup(Seq(
      "halo_particles_x_start" -> i64(starts),
      "halo_particles_x_size" -> i64(sizes)))
    val propsGrp = w.writeGroup(Seq("data" -> propsData, "data_linked" -> linked))
    val partsData = w.writeGroup(Seq("pid" -> i64((0L until nChild).toSeq)))
    val partsGrp = w.writeGroup(Seq("data" -> partsData))
    val sim = w.writeGroup(Nil, Seq("box_size" -> 10.0))
    val hdr = w.writeGroup(Seq("simulation" -> sim))
    w.finish(w.writeGroup(Seq(
      "halo_properties" -> propsGrp, "halo_particles" -> partsGrp, "header" -> hdr)))

    // the no-driver-materialization guard: a narrow child window must
    // yield a narrow slice (the overlapping ranges ± the tie run),
    // with exactly the ranges a full-table scan would select
    val (r0, r1) = (100L, 110L)
    val slice = Hdf5Io.linkBoundsForWindow(
      p, "halo_properties/data_linked", "halo_particles_x", nPar, r0, r1)
    val expected = starts.indices.collect {
      case i if sizes(i) > 0 && starts(i) < r1 && starts(i) + sizes(i) > r0 =>
        (starts(i), sizes(i), i.toLong)
    }
    assert(slice.length < 20,
      s"narrow window resolved ${slice.length} ranges — whole-table materialization?")
    assert(expected.forall(slice.contains),
      s"slice missed overlapping ranges: ${expected.diff(slice).mkString(",")}")
    assert(slice.forall { case (s, z, _) => s < r1 + z && s + z > r0 - z },
      "slice contains far-away ranges")

    // end-to-end: every child row links to the parent whose range
    // covers it (pid is the global child row by construction)
    val coll = Hdf5Io.importStructure(spark, p, "halo_properties")
    val links = coll.child("halo_particles")
      .select(col("pid"), col(Hdf5Io.LinkCol)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(links.size == nChild)
    starts.indices.foreach { i =>
      (starts(i) until starts(i) + sizes(i)).foreach { c =>
        assert(links(c) == i.toLong, s"child $c linked to ${links(c)}, want $i")
      }
    }
  }

  test("load/if conditions gate which groups importAny loads") {
    // two datasets: `stars` always loads; `agn` carries a load/if group
    // requiring with_agn=true (reference iopen.py:638-657 — unsupplied
    // kwargs default false, so round-5 importAny would have WRONGLY
    // imported agn)
    val p = tmp("loadif.hdf5")
    val w = new Hdf5Writer(p)
    def f64(vals: Seq[Double]) =
      w.writeDataset(Hdf5Writer.F64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putDouble(d); b.array()
        }))
    val starsGrp = w.writeGroup(Seq("data" -> w.writeGroup(Seq("s" -> f64(Seq(1.0))))))
    // condition encoded as an int attr (h5py stores bools as ints)
    val agnIf = w.writeGroup(Nil, Seq("with_agn" -> 1L))
    val agnGrp = w.writeGroup(Seq(
      "data" -> w.writeGroup(Seq("a" -> f64(Seq(2.0)))),
      "load" -> w.writeGroup(Seq("if" -> agnIf))))
    // and a NEGATIVE condition: loads only when with_raw is NOT set
    val rawIf = w.writeGroup(Nil, Seq("with_raw" -> 0L))
    val rawGrp = w.writeGroup(Seq(
      "data" -> w.writeGroup(Seq("r" -> f64(Seq(3.0)))),
      "load" -> w.writeGroup(Seq("if" -> rawIf))))
    val sim = w.writeGroup(Nil, Seq("box_size" -> 10.0))
    val hdr = w.writeGroup(Seq("simulation" -> sim))
    w.finish(w.writeGroup(Seq(
      "stars" -> starsGrp, "agn" -> agnGrp, "raw" -> rawGrp, "header" -> hdr)))

    def names(any: Any): Set[String] = any match {
      case c: graft.collections.SimulationCollection => c.members.keySet
      case other => fail(s"expected a simulation collection, got $other")
    }
    // default: agn's unmet condition skips it; raw's false condition is met
    assert(names(Hdf5Io.importAny(spark, p)) == Set("stars", "raw"))
    // with_agn=true: agn loads; with_raw stays unset so raw still loads
    assert(names(Hdf5Io.importAny(spark, p, Map("with_agn" -> true))) ==
      Set("stars", "agn", "raw"))
    // with_raw=true violates raw's ==false condition
    assert(names(Hdf5Io.importAny(spark, p,
      Map("with_agn" -> true, "with_raw" -> true))) == Set("stars", "agn"))
  }

  test("idx (1-to-0/1) data_linked imports with unlinked rows null") {
    // halo_properties linked 1->0/1 to halo_centrals: halo 0 -> central
    // row 1, halo 1 -> none (-1), halo 2 -> central row 0
    val masses = Seq(1e13, 5e13, 2e14)
    val idx = Seq(1L, -1L, 0L)
    val centralMass = Seq(42.0, 7.0)
    val p = tmp("idxlink.hdf5")
    val w = new Hdf5Writer(p)
    def f64(vals: Seq[Double]) =
      w.writeDataset(Hdf5Writer.F64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putDouble(d); b.array()
        }))
    def i64(vals: Seq[Long]) =
      w.writeDataset(Hdf5Writer.I64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putLong(d); b.array()
        }))
    val propsData = w.writeGroup(Seq("mass" -> f64(masses)))
    val linked = w.writeGroup(Seq("halo_centrals_xyz_idx" -> i64(idx)))
    val propsGrp = w.writeGroup(Seq("data" -> propsData, "data_linked" -> linked))
    val centData = w.writeGroup(Seq("c_mass" -> f64(centralMass)))
    val centGrp = w.writeGroup(Seq("data" -> centData))
    w.finish(w.writeGroup(Seq(
      "halo_properties" -> propsGrp, "halo_centrals" -> centGrp)))

    val coll = Hdf5Io.importStructure(spark, p, "halo_properties")
    assert(coll.children.keySet == Set("halo_centrals"))
    val cent = coll.children("halo_centrals")
      .select(Hdf5Io.LinkCol, "c_mass").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getDouble(1)).toMap
    // central row 1 (7.0) belongs to parent 0; central row 0 (42.0) to parent 2
    assert(cent == Map(0L -> 7.0, 2L -> 42.0))
    // the parent-row link column supports the usual semi-join chain
    val withCentral = coll.filterByChild("halo_centrals", col("c_mass") > 10.0)
    assert(withCentral.properties.df.select("mass").collect()
      .map(_.getDouble(0)).toSet == Set(2e14))

    // the DISTRIBUTED inversion path (cap = 0 forces the shuffle-join
    // regime a >1M-parent file takes — no driver-side idx collect)
    // must produce the identical link assignment
    val distCent = Hdf5Io.idxLinkChild(spark, p,
        "halo_properties/data_linked", "halo_centrals_xyz",
        "halo_centrals/data", cap = 0L)
      .select(Hdf5Io.LinkCol, "c_mass").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getDouble(1)).toMap
    assert(distCent == cent)

    // a child row referenced by TWO parents violates the 1->0/1
    // contract; BOTH inversion regimes must fail loudly (the broadcast
    // map would silently keep one parent, the join would silently fan
    // the child row out — either way a wrong dataset at scale)
    val pd = tmp("idxlink_dup.hdf5")
    val wd = new Hdf5Writer(pd)
    def i64d(vals: Seq[Long]) =
      wd.writeDataset(Hdf5Writer.I64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putLong(d); b.array()
        }))
    def f64d(vals: Seq[Double]) =
      wd.writeDataset(Hdf5Writer.F64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putDouble(d); b.array()
        }))
    val dupLinked = wd.writeGroup(Seq("halo_centrals_xyz_idx" -> i64d(Seq(1L, 1L, 0L))))
    val dupProps = wd.writeGroup(Seq(
      "data" -> wd.writeGroup(Seq("mass" -> f64d(masses))),
      "data_linked" -> dupLinked))
    val dupCent = wd.writeGroup(Seq(
      "data" -> wd.writeGroup(Seq("c_mass" -> f64d(centralMass)))))
    wd.finish(wd.writeGroup(Seq(
      "halo_properties" -> dupProps, "halo_centrals" -> dupCent)))
    intercept[IllegalStateException] {
      Hdf5Io.idxLinkChild(spark, pd, "halo_properties/data_linked",
        "halo_centrals_xyz", "halo_centrals/data").collect()
    }
    val distEx = intercept[Exception] {
      Hdf5Io.idxLinkChild(spark, pd, "halo_properties/data_linked",
        "halo_centrals_xyz", "halo_centrals/data", cap = 0L).collect()
    }
    assert(distEx.getMessage != null &&
      (distEx.getMessage.contains("1->0/1") ||
        Option(distEx.getCause).exists(_.getMessage.contains("1->0/1"))),
      s"expected the contract violation to surface: $distEx")
  }

  test("structure collection round-trips through one multi-dataset file") {
    import graft.collections.StructureCollection
    val props = OCDataset(Seq(
      (10L, 1e13), (20L, 5e13), (30L, 2e14)
    ).toDF("halo_tag", "mass"), Header(boxSize = 42.0))
    val parts = Seq(
      (10L, 0.1), (10L, 0.2), (30L, 7.0), (30L, 8.0), (30L, 9.0)
    ).toDF("halo_tag", "p_mass")
    val coll = StructureCollection(props, Map("particles" -> parts), "halo_tag")
    val p = tmp("struct_rt.hdf5")
    Hdf5Io.exportStructureHdf5(coll, p, parentName = "halo_properties")
    val back = Hdf5Io.importStructure(spark, p, "halo_properties")
    assert(back.children.keySet == Set("particles"))
    assert(back.properties.count() == 3)
    assert(back.properties.header.boxSize == 42.0)
    // per-parent child multiplicity survives the start/size encoding:
    // parents are key-sorted, so row 0 = halo 10 (2 kids), row 2 =
    // halo 30 (3 kids), row 1 = halo 20 (none)
    val byRow = back.child("particles").groupBy(Hdf5Io.LinkCol).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byRow == Map(0L -> 2L, 2L -> 3L))
    // child VALUES landed with the right parents
    val heavy = back.filterByChild("particles", col("p_mass") > 5.0)
    assert(heavy.properties.df.select("mass").collect()
      .map(_.getDouble(0)).toSet == Set(2e14))
  }

  test("migration end-to-end: indexed HDF5 -> clustered parquet -> pruned scan") {
    // a larger indexed file (level 2, 4096 points sorted by cell), so
    // the re-imported parquet has prunable row groups
    val level = 2
    val box = 16.0
    val rnd = new scala.util.Random(31)
    val pts = (0 until 4096).map { _ =>
      val (x, y, z) = (rnd.nextDouble * box, rnd.nextDouble * box, rnd.nextDouble * box)
      (x, y, z, Morton.pointKey(x, y, z, 0.0, box, level))
    }.sortBy(_._4)
    val nCells = 1 << (3 * level)
    val starts = new Array[Long](nCells); val sizes = new Array[Long](nCells)
    pts.zipWithIndex.foreach { case ((_, _, _, k), row) =>
      if (sizes(k.toInt) == 0) starts(k.toInt) = row
      sizes(k.toInt) += 1
    }
    val p = tmp("migrate.hdf5")
    val w = new Hdf5Writer(p)
    def f64(vals: Seq[Double]) =
      w.writeDataset(Hdf5Writer.F64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putDouble(d); b.array()
        }))
    def i64(vals: Seq[Long]) =
      w.writeDataset(Hdf5Writer.I64, Seq(vals.size.toLong),
        Iterator(vals.toArray.flatMap { d =>
          val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.putLong(d); b.array()
        }))
    val dataAddr = w.writeGroup(Seq(
      "x" -> f64(pts.map(_._1)), "y" -> f64(pts.map(_._2)), "z" -> f64(pts.map(_._3))))
    val lvl = w.writeGroup(Seq("start" -> i64(starts.toSeq), "size" -> i64(sizes.toSeq)))
    val idx = w.writeGroup(Seq(s"level_$level" -> lvl),
      attrs = Seq("index_type" -> "octtree"))
    val sim = w.writeGroup(Nil, Seq("box_size" -> box))
    val hdr = w.writeGroup(Seq("simulation" -> sim))
    w.finish(w.writeGroup(Seq("data" -> dataAddr, "header" -> hdr, "index" -> idx)))

    val out = tmp("migrated")
    val ds = Hdf5Io.importToParquet(spark, p, out)
    assert(ds.header.spatialIndexLevel == level)
    // a corner-octant query through the stored key: correct rows AND a
    // pruned scan (row-group stats on the clustered morton_key)
    val q = ds.bound(Region.Box(Region.P3(0, 0, 0), Region.P3(4, 4, 4)), level = level).df
    val got = q.count()
    val want = pts.count { case (x, y, z, _) => x < 4 && y < 4 && z < 4 }
    assert(got == want && got > 0)
  }

  test("importToParquet produces a native dataset with pruning-ready layout") {
    val p = tmp("conv.hdf5")
    Hdf5Io.exportHdf5(mixed, p)
    val out = tmp("native")
    val ds = Hdf5Io.importToParquet(spark, p, out)
    assert(ds.count() == 3)
    assert(ds.header.columnUnits == Map("x" -> "Mpc/h"))
    assert(Files.exists(java.nio.file.Paths.get(out, "_header.json")))
  }

  test("lightcone round-trips through one multi-group file; importAny dispatches") {
    import graft.collections.Lightcone
    val s0 = OCDataset(Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v"),
      Header(redshift = 0.5))
    val s1 = OCDataset(Seq((3L, 7.0)).toDF("id", "v"),
      Header(redshift = 1.5))
    val p = tmp("lc.hdf5")
    Hdf5Io.exportLightconeHdf5(Lightcone(Map(600 -> s0, 601 -> s1)), p)
    val back = Hdf5Io.importLightcone(spark, p)
    assert(back.steps.keySet == Set(600, 601))
    assert(back.steps(601).header.redshift == 1.5)
    assert(back.steps(600).count() == 2)
    assert(back.withRedshiftRange(1.0, 2.0).toDataset.count() == 1)
    // dispatch: lightcone-typed groups -> Lightcone
    assert(Hdf5Io.importAny(spark, p).isInstanceOf[Lightcone])
    // dispatch: a root data group -> plain dataset
    val p2 = tmp("plain2.hdf5")
    Hdf5Io.exportHdf5(s0, p2)
    assert(Hdf5Io.importAny(spark, p2).isInstanceOf[OCDataset])
  }

  test("extreme values round-trip bit-exactly (NaN, infinities, denormals)") {
    val df = Seq(
      (1L, Double.NaN, Float.NegativeInfinity),
      (2L, Double.PositiveInfinity, Float.MinPositiveValue),
      (3L, -0.0, 3.4e38f),
      (4L, java.lang.Double.MIN_VALUE, -0.0f),
      (5L, Long.MaxValue.toDouble, Float.NaN)
    ).toDF("id", "d", "f")
    val p = tmp("extreme.hdf5")
    Hdf5Io.exportHdf5(OCDataset(df), p, chunkRows = 2)
    val back = Hdf5Io.importDataset(spark, p).df.orderBy("id").collect()
    val orig = df.orderBy("id").collect()
    back.zip(orig).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToRawLongBits(a.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(b.getDouble(1)), s"d row ${a.getLong(0)}")
      assert(java.lang.Float.floatToRawIntBits(a.getFloat(2)) ==
        java.lang.Float.floatToRawIntBits(b.getFloat(2)), s"f row ${a.getLong(0)}")
    }
  }

  test("empty dataset exports and re-imports as zero rows") {
    val p = tmp("empty.hdf5")
    Hdf5Io.exportHdf5(OCDataset(mixed.df.limit(0)), p)
    val back = Hdf5Io.importDataset(spark, p)
    assert(back.count() == 0)
    assert(back.columns == mixed.columns)
  }

  test("export refuses past the interop row cap; raising the conf permits it") {
    // the cap bounds driver WALL TIME, not memory (toLocalIterator
    // already bounds memory): pointing the single-writer HDF5 path at
    // a cluster-sized frame must fail loudly toward oc.write instead
    // of serializing for hours
    spark.conf.set("spark.graft.hdf5.exportMaxRows", "2")
    try {
      val e = intercept[IllegalArgumentException] {
        Hdf5Io.exportHdf5(mixed, tmp("capped.hdf5"))
      }
      assert(e.getMessage.contains("cap 2") &&
        e.getMessage.contains("spark.graft.hdf5.exportMaxRows"), e.getMessage)
      // the same funnel guards every data group of a structure export
      val parent = Seq((1L, 0.5), (2L, 1.5)).toDF("pid", "mass")
      val kids = Seq((1L, 10.0), (1L, 11.0), (2L, 12.0)).toDF("pid", "vx")
      val coll = graft.collections.StructureCollection(
        OCDataset(parent), Map("galaxies" -> kids), linkKey = "pid")
      val e2 = intercept[IllegalArgumentException] {
        Hdf5Io.exportStructureHdf5(coll, tmp("cappedsc.hdf5"))
      }
      assert(e2.getMessage.contains("cap 2"), e2.getMessage)
      // an explicit raise restores the round trip
      spark.conf.set("spark.graft.hdf5.exportMaxRows", "3")
      val p = tmp("uncapped.hdf5")
      Hdf5Io.exportHdf5(mixed, p)
      assert(Hdf5Io.importDataset(spark, p).count() == 3)
      // a refused RE-export must not destroy a prior good file: the
      // cap check runs BEFORE the writer opens (the writer truncates
      // the destination), so the original stays importable
      spark.conf.set("spark.graft.hdf5.exportMaxRows", "2")
      intercept[IllegalArgumentException](Hdf5Io.exportHdf5(mixed, p))
      assert(Hdf5Io.importDataset(spark, p).count() == 3,
        "refused re-export truncated the prior good file")
    } finally spark.conf.unset("spark.graft.hdf5.exportMaxRows")
  }

  test("reader rejects non-HDF5 and truncated files loudly") {
    val d = tempDir("graft-h5-bad")
    val bad = d.resolve("bad.hdf5")
    Files.write(bad, "not an hdf5 file at all, just text".getBytes)
    val e = intercept[Exception](new Hdf5Reader(bad.toString).rootHeaderAddr)
    assert(e.getMessage.contains("not an HDF5 file"))
  }

  test("lookup3 checksum matches the published test vectors") {
    import graft.io.hdf5.Lookup3
    // vectors from the lookup3.c self-test (public domain, Bob Jenkins)
    assert(Lookup3.hashU("".getBytes("US-ASCII"), 0) == 0xdeadbeefL)
    assert(Lookup3.hashU("".getBytes("US-ASCII"), 0xdeadbeef) == 0xbd5b7ddeL)
    assert(Lookup3.hashU("Four score and seven years ago".getBytes("US-ASCII"), 0)
      == 0x17770551L)
    assert(Lookup3.hashU("Four score and seven years ago".getBytes("US-ASCII"), 1)
      == 0xcd628161L)
  }

  // libver='latest' fixture: superblock v3, checksummed v2 object
  // headers (OHDR), compact link messages, layout-v4 datasets
  // (contiguous string, deflate Single Chunk, deflate Fixed Array) —
  // generated by the independent pure-Python writer:
  //   python3 scripts/h5make.py --latest testdata/nation.parquet <out>
  private lazy val latestFixture: String =
    getClass.getResource("/nation_latest.hdf5").getPath

  test("v3-superblock file parses: checksums verified, v2 groups walk") {
    val r = new Hdf5Reader(latestFixture)
    try {
      assert(r.superblockVersion == 3)
      val root = r.objectInfo(r.rootHeaderAddr)
      assert(root.isGroup)
      assert(r.groupLinks(root).map(_._1) == Seq("data", "header"))
      val data = r.objectInfo(r.groupLinks(root).toMap.apply("data"))
      assert(r.groupLinks(data).map(_._1) ==
        Seq("n_name", "n_nationkey", "n_regionkey"))
      // a flipped bit must be caught by the OHDR checksum
    } finally r.close()
  }

  test("corrupted v2 object header fails its checksum loudly") {
    val d = tempDir("graft-h5-corrupt")
    val p = d.resolve("corrupt.hdf5")
    val b = Files.readAllBytes(java.nio.file.Paths.get(latestFixture))
    // flip one bit inside the root object header's message area (the
    // root header is the last OHDR block; superblock ends at 48)
    val ohdr = {
      var i = b.length - 4
      var found = -1
      while (found < 0 && i >= 48) {
        if (b(i) == 'O' && b(i + 1) == 'H' && b(i + 2) == 'D' && b(i + 3) == 'R') found = i
        i -= 1
      }
      found
    }
    assert(ohdr > 0)
    b(ohdr + 12) = (b(ohdr + 12) ^ 0x01).toByte
    Files.write(p, b)
    val r = new Hdf5Reader(p.toString)
    try {
      val e = intercept[Exception](r.objectInfo(r.rootHeaderAddr))
      assert(e.getMessage.contains("checksum mismatch"))
    } finally r.close()
  }

  test("unsigned dtypes widen (never wrap) and the v2 two-filter pipeline decodes") {
    // fixture: scripts/h5make.py --ushuf — u8/u16/u32 columns crossing
    // every sign boundary, plus an i64 dataset whose single chunk
    // rides the v2 TWO-description filter pipeline (shuffle id 2 then
    // deflate id 1; for id < 256 the v2 description has NO Name Length
    // field, the parse bug class this pins)
    val p = getClass.getResource("/special_ushuf.hdf5").getPath
    val ds = Hdf5Io.importDataset(spark, p)
    val sch = ds.df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(sch("u32col") == LongType && sch("u16col") == IntegerType &&
      sch("u8col") == ShortType && sch("shufcol") == LongType, sch.toString)
    val rows = ds.df.orderBy("u32col").collect()
    assert(rows.map(_.getAs[Long]("u32col")).toSeq ==
      Seq(0L, 1L, 2147483648L, 3000000000L, 4294967295L))
    assert(rows.map(_.getAs[Int]("u16col")).sorted.toSeq ==
      Seq(0, 1, 32768, 40000, 65535))
    assert(rows.map(_.getAs[Short]("u8col")).sorted.toSeq ==
      Seq[Short](0, 1, 128, 200, 255))
    assert(rows.map(_.getAs[Long]("shufcol")).sorted.toSeq ==
      Seq(-(1L << 52), -5L, 0L, 7L, 1L << 40))
  }

  test("v2-superblock fixture imports: v4 layouts (single chunk, fixed array) decode") {
    val ds = Hdf5Io.importDataset(spark, latestFixture)
    assert(ds.count() == 25)
    assert(ds.columns.sorted.toSeq == Seq("n_name", "n_nationkey", "n_regionkey"))
    // sums against the parquet source of truth
    val sums = ds.df.agg(
      sum($"n_nationkey").as("nk"), sum($"n_regionkey").as("rk"),
      sum(length($"n_name")).as("nm")).head()
    val truth = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .agg(sum($"n_nationkey"), sum($"n_regionkey"), sum(length($"n_name"))).head()
    assert(sums.getLong(0) == truth.getLong(0))
    assert(sums.getLong(1) == truth.getLong(1))
    assert(sums.getLong(2) == truth.getLong(2))
  }

  test("PAGED fixed-array chunk index decodes (bitmap + per-page checksums)") {
    // generated with `h5make.py --paged`: page_bits=2 (4 entries/page)
    // and chunk_rows=2 give 13 chunks -> 4 pages, last page truncated —
    // the shape a modern toolchain emits past ~1024 chunks per dataset
    val p = getClass.getResource("/nation_paged.hdf5").getPath
    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.count() == 25)
    val sums = ds.df.agg(
      sum($"n_nationkey").as("nk"), sum($"n_regionkey").as("rk")).head()
    val truth = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .agg(sum($"n_nationkey"), sum($"n_regionkey")).head()
    assert(sums.getLong(0) == truth.getLong(0))
    assert(sums.getLong(1) == truth.getLong(1))
    // window spanning page boundaries (rows 6..22 cross pages 0|1|2)
    val r = new Hdf5Reader(p)
    try {
      val root = r.objectInfo(r.rootHeaderAddr)
      val data = r.objectInfo(r.groupLinks(root).toMap.apply("data"))
      val kids = r.groupLinks(data).toMap
      val meta = r.datasetMeta("n_nationkey", r.objectInfo(kids("n_nationkey")))
      val full = r.readRows(meta, 0, meta.rows)
      val win = r.readRows(meta, 6, 22)
      val fb = java.nio.ByteBuffer.wrap(full).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val wb = java.nio.ByteBuffer.wrap(win).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (6 until 22).foreach(i => assert(wb.getLong((i - 6) * 8) == fb.getLong(i * 8)))
    } finally r.close()
  }

  test("DENSE link storage walks: fractal heap + depth-1 v2 name B-tree") {
    // generated with `h5make.py --dense`: the data group carries 65
    // links (3 nation columns + 31 shifted aliases per int column) —
    // past the compact threshold, so links live as fractal-heap
    // objects (multi-block heap behind a root FHIB) indexed by a
    // depth-1 v2 B-tree, the shape h5py libver='latest' emits for any
    // real many-column catalog
    val p = getClass.getResource("/nation_dense.hdf5").getPath
    val r = new Hdf5Reader(p)
    try {
      val root = r.objectInfo(r.rootHeaderAddr)
      val data = r.objectInfo(r.groupLinks(root).toMap.apply("data"))
      val links = r.groupLinks(data)
      assert(links.size == 65, s"expected 65 dense links, got ${links.size}")
      assert(links.map(_._1) == links.map(_._1).sorted)
      assert(links.map(_._1).count(_.startsWith("n_nationkey")) == 32)
      // column-exact: base column and a shifted alias decode correctly
      val kids = links.toMap
      def colSum(n: String): Long = {
        val meta = r.datasetMeta(n, r.objectInfo(kids(n)))
        val raw = r.readRows(meta, 0, meta.rows)
        val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until meta.rows.toInt).map(i => bb.getLong(i * 8)).sum
      }
      val truth = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        .agg(sum($"n_nationkey")).head().getLong(0)
      assert(colSum("n_nationkey") == truth)
      assert(colSum("n_nationkey__d04") == truth + 5 * 25) // +5 per row
    } finally r.close()
  }

  test("dense-link fixture imports end to end (all 65 columns)") {
    val p = getClass.getResource("/nation_dense.hdf5").getPath
    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.count() == 25)
    assert(ds.columns.length == 65)
    val truth = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .agg(sum($"n_regionkey")).head().getLong(0)
    val got = ds.df.agg(sum($"n_regionkey"), sum($"n_regionkey__d30")).head()
    assert(got.getLong(0) == truth)
    assert(got.getLong(1) == truth + 31 * 25)
  }

  test("corrupted fractal-heap direct block fails its checksum loudly") {
    val d = tempDir("graft-h5-densecorrupt")
    val p = d.resolve("corrupt_dense.hdf5")
    val src = getClass.getResource("/nation_dense.hdf5").getPath
    val b = Files.readAllBytes(java.nio.file.Paths.get(src))
    // flip a bit in the first FHDB's object area (past its 21 B header)
    var i = 48
    var fhdb = -1
    while (fhdb < 0 && i < b.length - 4) {
      if (b(i) == 'F' && b(i + 1) == 'H' && b(i + 2) == 'D' && b(i + 3) == 'B') fhdb = i
      i += 1
    }
    assert(fhdb > 0)
    b(fhdb + 30) = (b(fhdb + 30) ^ 0x01).toByte
    Files.write(p, b)
    val r = new Hdf5Reader(p.toString)
    try {
      val root = r.objectInfo(r.rootHeaderAddr)
      val e = intercept[Exception] {
        val data = r.objectInfo(r.groupLinks(root).toMap.apply("data"))
        r.groupLinks(data)
      }
      assert(e.getMessage.contains("checksum mismatch"), e.getMessage)
    } finally r.close()
  }

  test("EXTENSIBLE-ARRAY chunk index decodes: inline + data-block elements") {
    // generated with `h5make.py --appendable` (the h5py maxshape=None
    // shape): n_nationkey = unfiltered EA with 1-row chunks (25
    // chunks: 4 inline in the EAIB, a full 16-element EADB, a partial
    // second EADB from the next super-block tier); n_regionkey =
    // deflate EA with 2-row chunks (4 inline + 9 in one data block)
    val p = getClass.getResource("/nation_ea.hdf5").getPath
    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.count() == 25)
    val truth = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .agg(sum($"n_nationkey"), sum($"n_regionkey"), sum(length($"n_name"))).head()
    val got = ds.df.agg(
      sum($"n_nationkey"), sum($"n_regionkey"), sum(length($"n_name"))).head()
    assert(got.getLong(0) == truth.getLong(0))
    assert(got.getLong(1) == truth.getLong(1))
    assert(got.getLong(2) == truth.getLong(2))
    // windows spanning inline->data-block and block->block boundaries
    val r = new Hdf5Reader(p)
    try {
      val root = r.objectInfo(r.rootHeaderAddr)
      val kids = r.groupLinks(r.objectInfo(r.groupLinks(root).toMap.apply("data"))).toMap
      val meta = r.datasetMeta("n_nationkey", r.objectInfo(kids("n_nationkey")))
      val full = r.readRows(meta, 0, meta.rows)
      val win = r.readRows(meta, 2, 23) // crosses 4|20 element frontiers
      val fb = java.nio.ByteBuffer.wrap(full).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val wb = java.nio.ByteBuffer.wrap(win).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (2 until 23).foreach(i => assert(wb.getLong((i - 2) * 8) == fb.getLong(i * 8)))
    } finally r.close()
  }

  test("EXTENSIBLE-ARRAY super blocks decode: EASB rows past the direct pointers") {
    // generated with `h5make.py --appendable --repeat=60`: nation
    // tiled to 1500 rows. n_nationkey = unfiltered 1-row chunks ->
    // 1500 chunks: 4 inline + 240 behind the index block's 6 direct
    // data-block pointers, the remaining 1256 behind EASB super
    // blocks s=0 (2x128, full), s=1 (4x128, full) and s=2 (4x256,
    // partial — trailing pointers Undef); n_regionkey = deflate
    // 2-row chunks -> 750 chunks ending mid-super-block s=1.
    val p = getClass.getResource("/nation_ea_sblk.hdf5").getPath
    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.count() == 1500)
    val truth = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .agg(sum($"n_nationkey"), sum($"n_regionkey"), sum(length($"n_name"))).head()
    val got = ds.df.agg(
      sum($"n_nationkey"), sum($"n_regionkey"), sum(length($"n_name"))).head()
    assert(got.getLong(0) == truth.getLong(0) * 60)
    assert(got.getLong(1) == truth.getLong(1) * 60)
    assert(got.getLong(2) == truth.getLong(2) * 60)
    // the tiled column must reproduce exactly, element for element,
    // through windows crossing direct->EASB and EASB->EASB frontiers
    val r = new Hdf5Reader(p)
    try {
      val root = r.objectInfo(r.rootHeaderAddr)
      val kids = r.groupLinks(r.objectInfo(r.groupLinks(root).toMap.apply("data"))).toMap
      val meta = r.datasetMeta("n_nationkey", r.objectInfo(kids("n_nationkey")))
      assert(meta.rows == 1500)
      val full = r.readRows(meta, 0, meta.rows)
      val fb = java.nio.ByteBuffer.wrap(full).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 1500).foreach(i => assert(fb.getLong(i * 8) == (i % 25).toLong,
        s"row $i decoded ${fb.getLong(i * 8)}"))
      // window straddling the direct/EASB frontier (element 244) and
      // one inside the partial last super block
      val win = r.readRows(meta, 230, 280)
      val wb = java.nio.ByteBuffer.wrap(win).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (230 until 280).foreach(i =>
        assert(wb.getLong((i - 230) * 8) == (i % 25).toLong))
      val tail = r.readRows(meta, 1400, 1500)
      val tb = java.nio.ByteBuffer.wrap(tail).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (1400 until 1500).foreach(i =>
        assert(tb.getLong((i - 1400) * 8) == (i % 25).toLong))
    } finally r.close()
  }

  test("V2-B-TREE chunk index decodes: depth-2 unfiltered + depth-1 deflate records") {
    // generated with `h5make.py --bt2`: n_nationkey = unfiltered
    // type-10 records in 64 B nodes (13 chunks -> DEPTH-2 tree:
    // 1-record internals over 3-record leaves, exercising the
    // total-subtree-records pointer field only depth >= 2 carries);
    // n_regionkey = deflate type-11 records in 128 B nodes -> depth 1
    // (depth 0 t11 is covered by the edge-raw fixture)
    val p = getClass.getResource("/nation_bt2.hdf5").getPath
    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.count() == 25)
    val truth = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .agg(sum($"n_nationkey"), sum($"n_regionkey")).head()
    val got = ds.df.agg(sum($"n_nationkey"), sum($"n_regionkey")).head()
    assert(got.getLong(0) == truth.getLong(0))
    assert(got.getLong(1) == truth.getLong(1))
    val r = new Hdf5Reader(p)
    try {
      val root = r.objectInfo(r.rootHeaderAddr)
      val kids = r.groupLinks(r.objectInfo(r.groupLinks(root).toMap.apply("data"))).toMap
      val meta = r.datasetMeta("n_regionkey", r.objectInfo(kids("n_regionkey")))
      val full = r.readRows(meta, 0, meta.rows)
      val win = r.readRows(meta, 3, 24) // crosses 2-row deflate chunks
      val fb = java.nio.ByteBuffer.wrap(full).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val wb = java.nio.ByteBuffer.wrap(win).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (3 until 24).foreach(i => assert(wb.getLong((i - 3) * 8) == fb.getLong(i * 8)))
    } finally r.close()
  }

  test("PER-CHUNK FILTER MASK honored: raw trailing chunk in a deflate pipeline") {
    // generated with `h5make.py --edge-raw`: both int columns are
    // deflate-filtered but their trailing PARTIAL chunk is stored raw
    // with filter-mask bit 0 set (deflate skipped for that one chunk —
    // what H5D_CHUNK_DONT_FILTER_PARTIAL_BOUND_CHUNKS and
    // optional-filter skips produce). n_nationkey goes through the
    // extensible-array index (2-row chunks -> 13 chunks, last holds
    // 1 row), n_regionkey through the v2 B-tree (4-row chunks -> 7
    // type-11 records, last holds 1 row). A reader that ignores the
    // mask feeds raw bytes to the inflater and dies.
    val p = getClass.getResource("/nation_edgeraw.hdf5").getPath
    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.count() == 25)
    val truth = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .agg(sum($"n_nationkey"), sum($"n_regionkey")).head()
    val got = ds.df.agg(sum($"n_nationkey"), sum($"n_regionkey")).head()
    assert(got.getLong(0) == truth.getLong(0))
    assert(got.getLong(1) == truth.getLong(1))
    // the masked chunk is exactly the last row: read it back alone
    // through each index flavor
    val r = new Hdf5Reader(p)
    try {
      val root = r.objectInfo(r.rootHeaderAddr)
      val kids = r.groupLinks(r.objectInfo(r.groupLinks(root).toMap.apply("data"))).toMap
      Seq("n_nationkey", "n_regionkey").foreach { c =>
        val meta = r.datasetMeta(c, r.objectInfo(kids(c)))
        val full = r.readRows(meta, 0, meta.rows)
        val fb = java.nio.ByteBuffer.wrap(full).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val tail = r.readRows(meta, 24, 25)
        val tb = java.nio.ByteBuffer.wrap(tail).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        assert(tb.getLong(0) == fb.getLong(24 * 8), s"masked tail chunk of $c")
      }
    } finally r.close()
  }

  test("PAGED EA data blocks: EASB page bitmap, per-page checksums") {
    // h5make.py --ea-paged (page = 64 elements): 525 one-row chunks;
    // elements 500-524 land in super-block row 5's first PAGED data
    // block (2 x 64-element pages — page 0 initialized, page 1
    // allocated-but-never-written, data blocks 1-3 of the row
    // unallocated), with the page-init bitmap in the owning EASB
    // (MSB-first bits, libhdf5 H5VM_bit_get order: a reader using the
    // wrong bit order sees page 0 uninitialized and silently loses
    // rows 500+, which the sums below would catch). Both the
    // unfiltered (client-0) and deflate-filtered (client-1) element
    // encodings take the paged path.
    val p = getClass.getResource("/nation_ea_paged.hdf5").getPath
    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.count() == 525)
    val truth = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .agg(sum($"n_nationkey"), sum($"n_regionkey")).head()
    val got = ds.df.agg(sum($"n_nationkey"), sum($"n_regionkey")).head()
    assert(got.getLong(0) == 21 * truth.getLong(0))
    assert(got.getLong(1) == 21 * truth.getLong(1))
    // a row window crossing the unpaged->paged boundary reads the
    // same bytes as the full scan
    val r = new Hdf5Reader(p)
    try {
      val root = r.objectInfo(r.rootHeaderAddr)
      val kids = r.groupLinks(r.objectInfo(r.groupLinks(root).toMap.apply("data"))).toMap
      Seq("n_nationkey", "n_regionkey").foreach { c =>
        val meta = r.datasetMeta(c, r.objectInfo(kids(c)))
        val full = r.readRows(meta, 0, meta.rows)
        val win = r.readRows(meta, 495, 525)
        val fb = java.nio.ByteBuffer.wrap(full).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val wb = java.nio.ByteBuffer.wrap(win).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 30).foreach { k =>
          assert(wb.getLong(k * 8) == fb.getLong((495 + k) * 8),
            s"paged-boundary window row ${495 + k} of $c")
        }
      }
    } finally r.close()
  }

  test("DENSE attributes decode: Attribute Info + fractal heap + type-8 name index") {
    // h5make.py --dense-attrs: the simulation header group carries 11
    // attributes and every numeric column 10 — past libhdf5's
    // compact-attribute threshold of 8, so they live as fractal-heap
    // objects keyed by a v2 B-tree type-8 name index (8-byte heap
    // IDs), referenced from an Attribute Info message
    val p = getClass.getResource("/nation_dattr.hdf5").getPath
    val r = new Hdf5Reader(p)
    try {
      val rootKids = r.groupLinks(r.objectInfo(r.rootHeaderAddr)).toMap
      val hdr = r.groupLinks(r.objectInfo(rootKids("header"))).toMap
      val sim = r.objectInfo(hdr("simulation"))
      assert(sim.attrs.size == 12, sim.attrs.keys.toSeq.sorted.toString)
      assert(sim.attrs("box_size") == 123.0)
      assert(sim.attrs("h0") == 0.6766)
      assert(sim.attrs("code") == "fixture")
      // >4 KiB value = HUGE heap object, indirect via the heap's
      // type-1 v2 B-tree rather than a managed direct-block slot
      val prov = sim.attrs("provenance").asInstanceOf[String]
      assert(prov.length > 4096 && prov.startsWith("param0000=0;")
        && prov.endsWith(s"param0399=${399 * 7 % 997};"), prov.take(40))
      val kids = r.groupLinks(r.objectInfo(rootKids("data"))).toMap
      val col = r.objectInfo(kids("n_nationkey"))
      assert(col.attrs.size == 10)
      assert(col.attrs("unit") == "None")
      assert(col.attrs("description") == "column n_nationkey")
    } finally r.close()
    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.count() == 25)
  }

  test("dense attribute storage with a bogus heap fails loudly") {
    import graft.io.hdf5.Lookup3
    // hand-built v2 object header carrying an Attribute Info message
    // (0x0015) whose fractal heap address is DEFINED but holds no
    // FRHP — the dense walk must error by name, not drop metadata
    val d = tempDir("graft-h5-dense")
    val p = d.resolve("dense.hdf5")
    val bb = java.nio.ByteBuffer.allocate(256)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // superblock v3 (48 bytes), root header at 48
    bb.put(Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n').map(_.toByte))
    bb.put(3.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    bb.putLong(0L).putLong(-1L).putLong(256L).putLong(48L)
    val sbSum = Lookup3.hash(java.util.Arrays.copyOfRange(bb.array(), 0, 44), 0)
    bb.putInt(sbSum)
    // OHDR: flags 0x02 (4-byte chunk0), one 0x0015 message
    // attr-info body: version 0, flags 0, fheap addr 128 (DEFINED), btree UNDEF
    val msgBody = java.nio.ByteBuffer.allocate(18)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    msgBody.put(0.toByte).put(0.toByte).putLong(128L).putLong(-1L)
    val msg = java.nio.ByteBuffer.allocate(4 + 18)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    msg.put(0x15.toByte).putShort(18.toShort).put(0.toByte).put(msgBody.array())
    val prefix = java.nio.ByteBuffer.allocate(10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    prefix.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0x02.toByte)
      .putInt(msg.capacity())
    val hdr = prefix.array() ++ msg.array()
    bb.put(hdr).putInt(Lookup3.hash(hdr, 0))
    Files.write(p, bb.array())
    val r = new Hdf5Reader(p.toString)
    try {
      val e = intercept[Exception](r.objectInfo(r.rootHeaderAddr))
      assert(e.getMessage.contains("no fractal heap header"), e.getMessage)
    } finally r.close()
  }

  test("variable-length string datasets decode through the global heap") {
    // generated with `h5make.py --vlen`: n_name is a class-9 vlen
    // string dataset whose 16-byte elements reference a GCOL global
    // heap collection — what h5py emits for plain Python str columns
    // (its DEFAULT str mapping, any libver), so this is the first
    // string-bearing real-world catalog shape a user hits
    val p = getClass.getResource("/nation_vlen.hdf5").getPath
    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.count() == 25)
    assert(ds.df.schema("n_name").dataType == StringType)
    val got = ds.df.select($"n_nationkey", $"n_name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .select($"n_nationkey", $"n_name")
      .collect().map(r => r.getInt(0).toLong -> r.getString(1)).toMap
    assert(got == want)
  }

  test("vlen strings spanning many heap collections decode once per collection") {
    // 2000 rows split across ~15 GCOL collections (h5make mirrors
    // libhdf5's ~4 KiB collection split); the read path bulk-decodes
    // each collection once instead of re-scanning it per element
    val p = getClass.getResource("/nation_vlen_multi.hdf5").getPath
    val ds = Hdf5Io.importDataset(spark, p)
    assert(ds.count() == 2000)
    val got = ds.df.groupBy($"n_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 80 repeats of the 25-name table -> every name appears 80 times
    assert(got.size == 25 && got.values.forall(_ == 80L), got.take(3))
  }

  test("truncation at any offset fails loudly or reproduces the full data — never garbage") {
    // the fail-loudly contract, fuzzed: for every modern-layout
    // fixture and a spread of truncation points, reading all columns
    // either throws (EOF / checksum / named refusal) or — if the cut
    // only removed bytes nothing references — returns byte-identical
    // data. A truncated file must never produce silently DIFFERENT
    // rows.
    def readAll(path: String): Map[String, Seq[Byte]] = {
      val r = new Hdf5Reader(path)
      try {
        val root = r.objectInfo(r.rootHeaderAddr)
        val data = r.objectInfo(r.groupLinks(root).toMap.apply("data"))
        r.groupLinks(data).map { case (nm, addr) =>
          val ds = r.datasetMeta(nm, r.objectInfo(addr))
          nm -> r.readRows(ds, 0, ds.rows).toSeq
        }.toMap
      } finally r.close()
    }
    val fixtures = Seq("nation_latest", "nation_paged", "nation_dense",
      "nation_ea", "nation_ea_sblk", "nation_ea_paged", "nation_bt2",
      "nation_dattr")
    val dir = tempDir("graft-h5-trunc")
    val rnd = new scala.util.Random(42) // deterministic
    fixtures.foreach { fx =>
      val src = java.nio.file.Paths.get(getClass.getResource(s"/$fx.hdf5").getPath)
      val full = Files.readAllBytes(src)
      val expected = readAll(src.toString)
      val points = ((1 until 24).map(i => full.length.toLong * i / 24) ++
        Seq.fill(24)(1L + rnd.nextInt(full.length - 1))).map(_.toInt).distinct
      points.foreach { cut =>
        val p = dir.resolve(s"$fx-$cut.hdf5")
        Files.write(p, java.util.Arrays.copyOf(full, cut))
        // assert OUTSIDE the recovery scope: a plain try/catch around
        // the assert would swallow ScalaTest's TestFailedException
        // (a RuntimeException) and could never fail on garbage data
        scala.util.Try(readAll(p.toString)) match {
          case scala.util.Success(got) =>
            assert(got == expected,
              s"$fx truncated at $cut/${full.length} returned DIFFERENT data")
          case scala.util.Failure(_) => () // loud failure: contract met
        }
        Files.delete(p)
      }
    }
  }

  test("windowed reads cross fixed-array chunk boundaries correctly") {
    val r = new Hdf5Reader(latestFixture)
    try {
      val root = r.objectInfo(r.rootHeaderAddr)
      val data = r.objectInfo(r.groupLinks(root).toMap.apply("data"))
      val kids = r.groupLinks(data).toMap
      // n_regionkey is the deflate fixed-array column (3 chunks of 9)
      val meta = r.datasetMeta("n_regionkey", r.objectInfo(kids("n_regionkey")))
      val full = r.readRows(meta, 0, meta.rows)
      val window = r.readRows(meta, 5, 20) // spans chunk 0|1|2 boundaries
      val fb = java.nio.ByteBuffer.wrap(full).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val wb = java.nio.ByteBuffer.wrap(window).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (5 until 20).foreach { i =>
        assert(wb.getLong((i - 5) * 8) == fb.getLong(i * 8))
      }
    } finally r.close()
  }

  test("writer refuses a >2 GiB chunk instead of wrapping the size") {
    // rowBytes is unbounded (wide array columns multiply it); chunkRows
    // x rowBytes past Int range must fail loudly BEFORE any data is
    // consumed, never wrap into a mis-sized pad or a confusing
    // NegativeArraySizeException deep in the filter chain
    val p = tmp("chunk_overflow.hdf5")
    val w = new Hdf5Writer(p)
    try {
      // dims (4 rows, 2^28 elements/row) of F64 -> 2 GiB per row
      val e = intercept[IllegalArgumentException] {
        w.writeDataset(Hdf5Writer.F64, Seq(4L, 1L << 28),
          Iterator(Array.emptyByteArray), chunkRows = 2, deflate = true)
      }
      assert(e.getMessage.contains("chunk too large"), e.getMessage)
      // the limit covers the chunks buffered across ALL datasets of one
      // pass: two 1 GiB-per-chunk datasets are refused together
      val spec = Hdf5Writer.DatasetSpec("wide", Hdf5Writer.F64, Seq(4L, 1L << 27))
      val e2 = intercept[IllegalArgumentException] {
        w.writeDatasets(Seq(spec, spec.copy(name = "wide2")),
          Iterator.empty, chunkRows = 1, deflate = true)
      }
      assert(e2.getMessage.contains("chunk too large") &&
        e2.getMessage.contains("chunkRows"), e2.getMessage)
    } finally w.close()
  }

  /** Little-endian int64 bytes. */
  private def le(vals: Long*): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 * vals.size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vals.foreach(b.putLong); b.array()
  }

  test("writer refuses a dataset stream shorter or longer than its dims, in both layouts") {
    val specs = Seq("a", "b").map(n => Hdf5Writer.DatasetSpec(n, Hdf5Writer.I64, Seq(3L)))
    for (chunkRows <- Seq(0, 2)) {
      def attempt(rows: Iterator[Array[Array[Byte]]]): String = {
        val w = new Hdf5Writer(tmp(s"stream$chunkRows.hdf5"))
        try intercept[IllegalArgumentException](
          w.writeDatasets(specs, rows, chunkRows = chunkRows)).getMessage
        finally w.close()
      }
      // b gets two of its three rows
      val short = attempt(Iterator(Array(le(1, 2, 3), le(1, 2))))
      assert(short.contains("dataset b") && short.contains("ended at 16 bytes"), short)
      // a gets a fourth row, refused before it is written
      val long = attempt(Iterator(Array(le(1, 2, 3), le(1, 2, 3)), Array(le(4), le())))
      assert(long.contains("dataset a") && long.contains("trailing bytes"), long)
    }
  }

  test("writeDatasets interleaves the chunks of its datasets in one pass") {
    val a = (0L until 10L).map(_ * 3); val b = (0L until 10L).map(_ * -7 - 1)
    val p = tmp("interleaved.hdf5")
    val w = new Hdf5Writer(p)
    // one row per element; unfiltered 4-row chunks stay findable as bytes
    val addrs = w.writeDatasets(
      Seq("a", "b").map(n => Hdf5Writer.DatasetSpec(n, Hdf5Writer.I64, Seq(10L))),
      a.indices.iterator.map(i => Array(le(a(i)), le(b(i)))), chunkRows = 4)
    w.finish(w.writeGroup(Seq("data" -> w.writeGroup(Seq("a", "b").zip(addrs)))))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    def at(chunk: Array[Byte]): Int =
      bytes.indices.find(i => bytes.startsWith(chunk, i)).getOrElse(-1)
    val order = Seq(at(le(a.slice(0, 4): _*)), at(le(b.slice(0, 4): _*)),
      at(le(a.slice(4, 8): _*)), at(le(b.slice(4, 8): _*)))
    assert(order.forall(_ >= 0) && order == order.sorted, s"chunk offsets $order")
    val back = Hdf5Io.openDataFrame(spark, p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(back == a.zip(b))
  }

  /** Spark jobs started by `body`, counted by a listener on a job group. */
  private def jobsIn(group: String)(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, group)
    try {
      body
      Thread.sleep(1000) // let listener events drain
      jobs.get
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("export reads its source once: the job count does not grow with the columns") {
    val narrow = spark.range(0, 3000, 1, 4).select(col("id"),
      (col("id") * 0.5).as("x"), concat(lit("s"), col("id")).as("s"))
    val wide = narrow.select(narrow.columns.map(col).toSeq ++
      (1 to 9).map(i => (col("id") * i).as(s"c$i")): _*)
    assert(wide.columns.length == 12)
    val n3 = jobsIn("h5-export-3")(Hdf5Io.exportHdf5(OCDataset(narrow), tmp("n3.hdf5")))
    val n12 = jobsIn("h5-export-12")(Hdf5Io.exportHdf5(OCDataset(wide), tmp("n12.hdf5")))
    assert(n3 > 0 && n3 == n12, s"3 columns: $n3 jobs, 12 columns: $n12 jobs")
  }

  test("nondeterministic source: every row's columns come from one execution") {
    // a driver-JVM counter (a static, so local-mode tasks share it, not
    // a serialized copy): every execution of the source yields new
    // values, so columns streamed by separate executions misalign
    Hdf5Spec.counter.set(0L)
    val next = udf(() => Hdf5Spec.counter.incrementAndGet()).asNondeterministic()
    val df = spark.range(0, 2000, 1, 4).select(next().as("a"))
      .withColumn("b", col("a"))
    for (compress <- Seq(true, false)) {
      val p = tmp(s"nondet$compress.hdf5")
      Hdf5Io.exportHdf5(OCDataset(df), p, chunkRows = 256, compress = compress)
      val back = Hdf5Io.importDataset(spark, p).df
      assert(back.count() == 2000)
      assert(back.filter(col("a") =!= col("b")).count() == 0,
        s"a and b misaligned (compress = $compress)")
    }
  }

  test("10k rows over 4 partitions round-trip value for value, chunked and contiguous") {
    // strings, a variable-width double array with null elements and
    // null arrays, and null scalars: at chunkRows = 1000 every column
    // spans ten interleaved chunks
    val src = spark.range(0, 10000, 1, 4).select(
      col("id"),
      (col("id") % 3).cast("int").as("n"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 1.5).as("x"),
      when(col("id") % 5 === 0, lit(null)).otherwise(
        concat(lit("row-"), col("id"), when(col("id") % 2 === 0, lit("-é")).otherwise(lit(""))))
        .as("s"),
      when(col("id") % 11 === 0, lit(null))
        .when(col("id") % 4 === 0, array((col("id") * 0.25).cast("double")))
        .otherwise(array((col("id") * 0.25).cast("double"), lit(null).cast("double"),
          (-col("id")).cast("double"))).as("v"))
    assert(src.rdd.getNumPartitions == 4)
    // HDF5 has no nulls: zeros and "" in their place, arrays zero-padded
    // to the widest (3)
    val want = src.collect().map { r =>
      val v = Option(r.getSeq[Any](4)).getOrElse(Nil)
        .map(e => if (e == null) 0.0 else e.asInstanceOf[Double]).padTo(3, 0.0)
      (r.getLong(0), r.getInt(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2),
        Option(r.getString(3)).getOrElse(""), v)
    }.sortBy(_._1).toSeq
    for (compress <- Seq(true, false)) {
      val p = tmp(s"tenk$compress.hdf5")
      Hdf5Io.exportHdf5(OCDataset(src), p, chunkRows = 1000, compress = compress)
      val got = Hdf5Io.importDataset(spark, p).df.collect().map { r =>
        (r.getLong(0), r.getInt(1), r.getDouble(2), r.getString(3), r.getSeq[Double](4))
      }.sortBy(_._1).toSeq
      assert(got.length == want.length)
      got.zip(want).foreach { case (g, w) => assert(g == w, s"compress = $compress") }
    }
  }

  test("q66 round trip deletes its HDF5 file and keeps every supplier row") {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def h5Dirs(): Set[String] =
      Option(tmpRoot.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("graft-h5q-")).toSet
    val before = h5Dirs()
    val got = SparkEntry.queries("q66_hdf5_roundtrip")(spark, sf001)
    assert(got.count() == graft.Tables(spark, sf001, "supplier").count())
    val leaked = h5Dirs() -- before
    assert(leaked.isEmpty, s"q66 left $leaked under $tmpRoot")
  }
}

object Hdf5Spec {
  val counter = new java.util.concurrent.atomic.AtomicLong(0L)
}
