package graft

import org.apache.spark.sql.functions._
import graft.spatial.{Healpix, Morton, Octree}
import graft.spatial.Region._

/** Spatial module: Morton codec (property-tested), octree bound plans
  * vs brute-force geometry, region relations truth tables (reference
  * test/spatial/test_relations.py, test_3d.py), HEALPix consistency.
  */
class SpatialSpec extends SparkSpec {
  import spark.implicits._

  test("morton encode/decode roundtrip (sampled property)") {
    val rnd = new scala.util.Random(11)
    (0 until 500).foreach { _ =>
      val x = rnd.nextLong() & ((1L << 20) - 1)
      val y = rnd.nextLong() & ((1L << 20) - 1)
      val z = rnd.nextLong() & ((1L << 20) - 1)
      val k = Morton.encode3d(x, y, z, 20)
      assert(Morton.decode3d(k, 20) == ((x, y, z)))
    }
  }

  test("morton prefix nesting: level L key = level L+1 key >> 3") {
    val rnd = new scala.util.Random(12)
    (0 until 500).foreach { _ =>
      val x = rnd.nextDouble * 100; val y = rnd.nextDouble * 100
      val z = rnd.nextDouble * 100
      val k5 = Morton.pointKey(x, y, z, 0.0, 100.0, 5)
      val k4 = Morton.pointKey(x, y, z, 0.0, 100.0, 4)
      assert(k4 == (k5 >> 3))
    }
  }

  test("morton keyColumn: level 0 = one root cell; out-of-range levels reject") {
    // the general interleave reduces over an empty term list at level
    // 0 (whole domain = root cell, key 0) — it must return lit(0L),
    // not throw; 3·22 bits would overflow the Long key
    val pts = Seq((1.0, 2.0, 3.0), (99.0, 50.0, 0.1)).toDF("x", "y", "z")
    val keys = pts.select(Morton.keyColumn($"x", $"y", $"z", 0.0, 100.0, 0))
      .collect().map(_.getLong(0))
    assert(keys.toSeq == Seq(0L, 0L))
    intercept[IllegalArgumentException](
      Morton.keyColumn($"x", $"y", $"z", 0.0, 100.0, 22))
    intercept[IllegalArgumentException](
      Morton.keyColumn($"x", $"y", $"z", 0.0, 100.0, -1))
  }

  test("morton keyColumn (pure functions) matches JVM pointKey") {
    val pts = Seq((1.0, 2.0, 3.0), (99.0, 50.0, 0.1), (33.3, 66.6, 12.1))
      .toDF("x", "y", "z")
    val got = pts.select(Morton.keyColumn($"x", $"y", $"z", 0.0, 100.0, 6))
      .collect().map(_.getLong(0))
    val want = Seq((1.0, 2.0, 3.0), (99.0, 50.0, 0.1), (33.3, 66.6, 12.1))
      .map { case (x, y, z) => Morton.pointKey(x, y, z, 0.0, 100.0, 6) }
    assert(got.toSeq == want)
  }

  test("native morton expression matches and is registered via extensions") {
    val pts = Seq((1.0, 2.0, 3.0), (87.3, 12.9, 55.5)).toDF("x", "y", "z")
    val native = pts.select(Morton.keyColumnNative($"x", $"y", $"z", 0.0, 100.0, 6))
      .collect().map(_.getLong(0)).toSeq
    val pure = pts.select(Morton.keyColumn($"x", $"y", $"z", 0.0, 100.0, 6))
      .collect().map(_.getLong(0)).toSeq
    assert(native == pure)
  }

  test("box and sphere classify: truth table") {
    val box = Box(P3(10, 10, 10), P3(20, 20, 20))
    assert(box.classify(P3(12, 12, 12), P3(14, 14, 14)) == Contained)
    assert(box.classify(P3(0, 0, 0), P3(5, 5, 5)) == Disjoint)
    assert(box.classify(P3(15, 15, 15), P3(25, 25, 25)) == Intersects)
    val s = Sphere(P3(50, 50, 50), 10)
    assert(s.classify(P3(48, 48, 48), P3(52, 52, 52)) == Contained)
    assert(s.classify(P3(90, 90, 90), P3(95, 95, 95)) == Disjoint)
    assert(s.classify(P3(55, 55, 55), P3(70, 70, 70)) == Intersects)
  }

  test("octree bound filter == brute-force predicate (box + sphere)") {
    val rnd = new scala.util.Random(42)
    val pts = (0 until 2000).map(i =>
      (i.toLong, rnd.nextDouble * 100, rnd.nextDouble * 100, rnd.nextDouble * 100))
      .toDF("id", "x", "y", "z")
    for (region <- Seq[Region3D](
        Box(P3(10, 20, 30), P3(45, 55, 55)),
        Sphere(P3(50, 50, 50), 22.5))) {
      val bounded = Octree.boundFilter(region, 0.0, 100.0, 4, $"x", $"y", $"z")
      assert(bounded.isDefined)
      val got = pts.filter(bounded.get).select("id").collect().map(_.getLong(0)).toSet
      val want = pts.filter(region.predicate($"x", $"y", $"z"))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == want, s"bound mismatch for $region")
    }
    // disjoint region short-circuits
    assert(Octree.boundFilter(Box(P3(200, 200, 200), P3(300, 300, 300)),
      0.0, 100.0, 4, $"x", $"y", $"z").isEmpty)
  }

  test("octree contained cells skip the exact predicate (plan shape)") {
    val plan = Octree.classifyCells(Box(P3(0, 0, 0), P3(50, 50, 50)), 0.0, 100.0, 3)
    // exactly the lower octant: 4^3=64 leaves at level 3, but carried
    // as ONE merged prefix range — O(surface) plan size, not O(volume)
    assert(plan.contained == Seq((0L, 64L)) && plan.boundary.isEmpty)
  }

  test("octree range plan stays tiny at deep levels (no leaf enumeration)") {
    // at level 10 the lower octant has 8^9 ≈ 1.3e8 leaves; the range
    // plan must still be a single interval
    val plan = Octree.classifyCells(Box(P3(0, 0, 0), P3(50, 50, 50)), 0.0, 100.0, 10)
    assert(plan.contained == Seq((0L, 1L << 27)) && plan.boundary.isEmpty)
    // a generic box: plan size bounded by its cell surface, not volume
    val p2 = Octree.classifyCells(Box(P3(10, 20, 30), P3(45, 55, 55)), 0.0, 100.0, 8)
    assert(p2.contained.size + p2.boundary.size < 200000)
    assert(p2.contained.nonEmpty && p2.boundary.nonEmpty)
  }

  test("sky regions: cone/skybox membership and relations") {
    val cone = Cone(SkyP(180, 0), 10)
    assert(cone.contains(SkyP(185, 3)))
    assert(!cone.contains(SkyP(195, 0)))
    assert(cone.intersects(Cone(SkyP(195, 0), 6)))
    assert(!cone.intersects(Cone(SkyP(200, 0), 6)))
    assert(cone.containsCone(Cone(SkyP(182, 0), 5)))
    val sb = Skybox(350, 10, -5, 5) // RA wrap
    assert(sb.contains(SkyP(355, 0)) && sb.contains(SkyP(5, 0)))
    assert(!sb.contains(SkyP(20, 0)))
    assert(FullSky.contains(SkyP(123, 45)))
  }

  test("sky predicates agree with JVM membership on a grid") {
    val pts = (for (ra <- 0 until 360 by 15; dec <- -75 to 75 by 15)
      yield (ra.toDouble, dec.toDouble)).toDF("ra", "dec")
    for (region <- Seq[SkyRegion](Cone(SkyP(100, 30), 25), Skybox(80, 120, 10, 50))) {
      val got = pts.filter(region.predicate($"ra", $"dec"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
      val want = pts.collect().map(r => (r.getDouble(0), r.getDouble(1)))
        .filter { case (ra, dec) => region.contains(SkyP(ra, dec)) }.toSet
      assert(got == want, s"sky predicate mismatch for $region")
    }
  }

  test("sky pair relations: cone-skybox, skybox-skybox") {
    import SkyRelations._
    val cone = Cone(SkyP(100, 30), 30)
    assert(coneContainsSkybox(cone, Skybox(95, 105, 25, 35)))
    assert(!coneContainsSkybox(cone, Skybox(60, 140, -10, 70)))
    assert(coneIntersectsSkybox(cone, Skybox(120, 140, 20, 40)))
    assert(!coneIntersectsSkybox(cone, Skybox(200, 220, -40, -20)))
    assert(skyboxContainsCone(Skybox(60, 140, 0, 60), Cone(SkyP(100, 30), 10)))
    assert(!skyboxContainsCone(Skybox(95, 105, 25, 35), Cone(SkyP(100, 30), 10)))
    assert(skyboxIntersectsSkybox(Skybox(350, 10, -5, 5), Skybox(5, 20, 0, 10))) // RA wrap
    assert(!skyboxIntersectsSkybox(Skybox(350, 10, -5, 5), Skybox(20, 40, 0, 10)))
  }

  test("sky pair relations are exact at the sampled-scheme failure modes") {
    import SkyRelations._
    // a cone poking through the RA (meridian) edge: center in box,
    // corners + dec margins all clear, but (356°, 0) is 5° from the
    // center and OUTSIDE — the box does NOT contain the cone
    assert(!skyboxContainsCone(Skybox(0, 90, -80, 80), Cone(SkyP(1, 0), 5)))
    // ...and nudging the center clear of every edge restores it
    assert(skyboxContainsCone(Skybox(0, 90, -80, 80), Cone(SkyP(45, 0), 5)))
    // a small cone crossing the dec edge BETWEEN boundary samples:
    // (104.9, 29.95) is ~0.25° from the center — genuinely intersects
    assert(coneIntersectsSkybox(Cone(SkyP(104.9, 30.2), 0.3), Skybox(60, 140, 0, 30)))
    // symmetric clearance: the same cone 1° further out is disjoint
    assert(!coneIntersectsSkybox(Cone(SkyP(104.9, 31.3), 0.3), Skybox(60, 140, 0, 30)))
    // containment must see INTERIOR farthest points: the box holds
    // the cone center's antipode (270, 0), 180° away — not contained
    // even though all corners and edge midpoints are within 140°
    assert(!coneContainsSkybox(Cone(SkyP(90, 0), 140), Skybox(180, 360, -45, 45)))
    // a genuinely-contained wide box (max distance via the antipode
    // of (90,0) = (270,0): min dist from (270,0) to the box is 45°
    // of dec, so the farthest box point is 135° — inside 140°)
    assert(coneContainsSkybox(Cone(SkyP(90, 0), 140), Skybox(0, 180, 45, 80)))
    // RA-wrap + meridian foot beyond the pole exercise distToMeridian's
    // endpoint candidates: center at high dec near the wrap seam
    assert(coneIntersectsSkybox(Cone(SkyP(0, 89), 2), Skybox(350, 10, 80, 88)))
    assert(!coneIntersectsSkybox(Cone(SkyP(0, 89), 0.5), Skybox(350, 10, 80, 88)))
  }

  test("healpix: pix2ang(ang2pix(p)) lands in the same pixel; total pixel count") {
    val nside = 8
    val rnd = new scala.util.Random(1)
    (0 until 500).foreach { _ =>
      val ra = rnd.nextDouble * 360
      // uniform on the sphere
      val dec = math.toDegrees(math.asin(2 * rnd.nextDouble - 1))
      val p = Healpix.ang2pixNest(nside, ra, dec)
      assert(p >= 0 && p < Healpix.npix(nside))
      val (cra, cdec) = Healpix.pix2angNest(nside, p)
      assert(Healpix.ang2pixNest(nside, cra, cdec) == p,
        s"center of pixel $p maps elsewhere (ra=$ra dec=$dec center=($cra,$cdec))")
    }
    // all pixels reachable: centers of all 768 pixels map to themselves
    val centers = (0L until Healpix.npix(nside)).map(p => Healpix.pix2angNest(nside, p))
    assert(centers.map { case (r, d) => Healpix.ang2pixNest(nside, r, d) }.toSet.size ==
      Healpix.npix(nside))
  }

  test("healpix degrade is the nested prefix shift") {
    val rnd = new scala.util.Random(13)
    (0 until 500).foreach { _ =>
      val p = math.abs(rnd.nextLong()) % Healpix.npix(64)
      val (ra, dec) = Healpix.pix2angNest(64, p)
      assert(Healpix.ang2pixNest(16, ra, dec) == Healpix.degrade(p, 2))
    }
  }

  test("healpix queryDisc covers all pixels containing in-disc points") {
    val center = SkyP(40, 20); val r = 15.0
    val disc = Healpix.queryDisc(8, center, r)
    val rnd = new scala.util.Random(3)
    (0 until 300).foreach { _ =>
      val ra = rnd.nextDouble * 360
      val dec = math.toDegrees(math.asin(2 * rnd.nextDouble - 1))
      if (angSep(center, SkyP(ra, dec)) <= r)
        assert(disc.contains(Healpix.ang2pixNest(8, ra, dec)),
          s"point ($ra,$dec) in disc but pixel not returned")
    }
  }

  test("writeSpatial stored index: bound matches brute force and prunes row groups") {
    import graft.core.{Header, OCDataset}
    val dir = tempDir("graft_spatial").toString
    val rnd = new scala.util.Random(7)
    val pts = (0 until 20000).map(i =>
      (i.toLong, rnd.nextDouble * 100, rnd.nextDouble * 100, rnd.nextDouble * 100))
      .toDF("id", "x", "y", "z")
    graft.io.OCIO.writeSpatial(OCDataset(pts, Header(boxSize = 100.0)), dir,
      level = 6, numPartitions = Some(8))
    val re = graft.io.OCIO.open(spark, dir)
    assert(re.header.spatialIndexLevel == 6 && re.columns.contains("morton_key"))

    val region = Box(P3(10, 20, 30), P3(45, 55, 55))
    val got = re.bound(region).df.select("id").collect().map(_.getLong(0)).toSet
    val want = pts.filter(region.predicate($"x", $"y", $"z"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want)

    // the stored-key plan pushes morton_key ranges to the scan...
    val q = re.bound(Box(P3(0, 0, 0), P3(12, 12, 12))).df
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("morton_key"), s"stored key unused:\n$planStr")
    q.collect()
    // ...and row-group stats prune: the scan emits a fraction of the table
    val scans = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val scanned = scans.head.metrics("numOutputRows").value
    assert(scanned < 20000 / 2,
      s"no storage pruning: scan emitted $scanned of 20000 rows")
  }

  test("crossMatch equals brute-force nearest on random sky positions") {
    import graft.operators.CrossMatch
    import graft.spatial.Region
    val rnd = new scala.util.Random(23)
    def cat(n: Int, off: Long) = (0 until n).map { i =>
      (i.toLong + off, rnd.nextDouble * 360.0, rnd.nextDouble * 160.0 - 80.0)
    }
    val lpts = cat(80, 0)
    val rpts = cat(400, 1000)
    val l = lpts.toDF("id", "ra", "decl")
    val r = rpts.toDF("id", "ra", "decl")
    val got = CrossMatch.nearestWithin(l, r, "id", "id", ("ra", "decl"),
      radiusDeg = 8.0, nside = 8)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // brute force truth
    val want = lpts.flatMap { case (lid, lra, ldec) =>
      val within = rpts.map { case (rid, rra, rdec) =>
        (rid, Region.angSep(Region.SkyP(lra, ldec), Region.SkyP(rra, rdec)))
      }.filter(_._2 <= 8.0)
      if (within.isEmpty) None
      else Some(lid -> within.minBy { case (rid, s) =>
        (math.rint(s * 1e9) / 1e9, rid) }._1)
    }.toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("3-D crossMatch equals brute force on random positions (incl. negatives)") {
    import graft.operators.CrossMatch
    val rnd = new scala.util.Random(29)
    def cat(n: Int, off: Long) = (0 until n).map { i =>
      (i.toLong + off, rnd.nextDouble * 200 - 100,
        rnd.nextDouble * 200 - 100, rnd.nextDouble * 200 - 100)
    }
    val lpts = cat(60, 0); val rpts = cat(300, 1000)
    val got = CrossMatch.nearest3dWithin(
      lpts.toDF("id", "x", "y", "z"), rpts.toDF("id", "x", "y", "z"),
      "id", "id", ("x", "y", "z"), radius = 25.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = lpts.flatMap { case (lid, lx, ly, lz) =>
      val within = rpts.map { case (rid, rx, ry, rz) =>
        (rid, math.sqrt((rx - lx) * (rx - lx) + (ry - ly) * (ry - ly) + (rz - lz) * (rz - lz)))
      }.filter(_._2 <= 25.0)
      if (within.isEmpty) None
      else Some(lid -> within.minBy { case (rid, d) =>
        (math.rint(d * 1e9) / 1e9, rid) }._1)
    }.toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("writeSpatial auto level scales with row count") {
    import graft.io.OCIO
    assert(OCIO.chooseSpatialLevel(1000) == 1)
    assert(OCIO.chooseSpatialLevel(4096L * 8 * 8 * 8) == 3)
    assert(OCIO.chooseSpatialLevel(1L << 40) == 10) // capped
    // end-to-end: auto level lands in the header and bound uses it
    import graft.core.{Header, OCDataset}
    val rnd = new scala.util.Random(17)
    val pts = (0 until 1000).map(i =>
      (i.toLong, rnd.nextDouble * 10, rnd.nextDouble * 10, rnd.nextDouble * 10))
      .toDF("id", "x", "y", "z")
    val dir = tempDir("graft_auto").toString
    OCIO.writeSpatial(OCDataset(pts, Header(boxSize = 10.0)), dir)
    val re = OCIO.open(spark, dir)
    assert(re.header.spatialIndexLevel == 1)
    val got = re.bound(Box(P3(0, 0, 0), P3(5, 5, 5))).df.count()
    val want = pts.filter($"x" < 5 && $"y" < 5 && $"z" < 5).count()
    assert(got == want)
  }

  test("stored index records its coords; bound over OTHER columns ignores it") {
    import graft.core.{Header, OCDataset}
    val dir = tempDir("graft_coords").toString
    val rnd = new scala.util.Random(11)
    val pts = (0 until 2000).map(i =>
      (i.toLong, rnd.nextDouble * 100, rnd.nextDouble * 100, rnd.nextDouble * 100,
        rnd.nextDouble * 100, rnd.nextDouble * 100, rnd.nextDouble * 100))
      .toDF("id", "x", "y", "z", "vx", "vy", "vz")
    graft.io.OCIO.writeSpatial(OCDataset(pts, Header(boxSize = 100.0)), dir, level = 4)
    val re = graft.io.OCIO.open(spark, dir)
    assert(re.header.spatialIndexCoords == Seq("x", "y", "z"))
    val region = Box(P3(10, 10, 10), P3(60, 60, 60))
    // querying the VELOCITY columns must not reuse the position key
    val got = re.bound(region, coords = ("vx", "vy", "vz")).df
      .select("id").collect().map(_.getLong(0)).toSet
    val want = pts.filter(region.predicate($"vx", $"vy", $"vz"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    def filterRefs(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.references.map(_.name).toSet
      }.flatten.toSet
    assert(!filterRefs(re.bound(region, coords = ("vx", "vy", "vz")).df)
      .contains("morton_key"), "stored key reused for mismatched coords")
    // matching coords still take the stored-key path
    assert(filterRefs(re.bound(region).df).contains("morton_key"))
  }

  test("bound follows per-column unit conversions (kpc box == Mpc rows)") {
    import graft.core.{Header, OCDataset}
    val rnd = new scala.util.Random(13)
    val pts = (0 until 3000).map(i =>
      (i.toLong, rnd.nextDouble * 100, rnd.nextDouble * 100, rnd.nextDouble * 100))
      .toDF("id", "x", "y", "z")
    val base = OCDataset(pts, Header(boxSize = 100.0,
      columnUnits = Map("x" -> "Mpc", "y" -> "Mpc", "z" -> "Mpc")))
    val region = Box(P3(20, 20, 20), P3(70, 70, 70))
    val want = base.bound(region).df.select("id").collect().map(_.getLong(0)).toSet
    // convert coordinates to kpc; the SAME region expressed in kpc
    // must select the same rows (domain auto-rescales ×1000)
    val kpc = base.withUnitConversions(conversions = Map("Mpc" -> "kpc"))
    val got = kpc.bound(region.scaled(1000.0)).df
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("bound auto-scales with the unit convention (physical == scalefree rows)") {
    import graft.core.{Header, OCDataset}
    import graft.units.Units.{Cosmology, Physical}
    val rnd = new scala.util.Random(9)
    val pts = (0 until 5000).map(i =>
      (i.toLong, rnd.nextDouble * 100, rnd.nextDouble * 100, rnd.nextDouble * 100))
      .toDF("id", "x", "y", "z")
    val base = OCDataset(pts, Header(boxSize = 100.0, redshift = 1.0,
      cosmology = Cosmology(h0 = 70.0),
      columnUnits = Map("x" -> "Mpc/h", "y" -> "Mpc/h", "z" -> "Mpc/h")))
    val f = (1.0 / 0.7) * 0.5 // h divided out, ×a at z=1
    val regionBase = Box(P3(10, 20, 30), P3(45, 55, 55))
    val want = base.bound(regionBase).df.select("id")
      .collect().map(_.getLong(0)).toSet
    // a physical-convention user queries with a physical-space box and
    // gets the same objects — no manual .scaled bookkeeping
    val got = base.withUnits(Physical).bound(regionBase.scaled(f)).df
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("stored index survives a unit conversion (key region rescaled to base)") {
    import graft.core.{Header, OCDataset}
    import graft.units.Units.{Cosmology, Physical}
    val dir = tempDir("graft_spatial_conv").toString
    val rnd = new scala.util.Random(13)
    val pts = (0 until 5000).map(i =>
      (i.toLong, rnd.nextDouble * 100, rnd.nextDouble * 100, rnd.nextDouble * 100))
      .toDF("id", "x", "y", "z")
    val base = OCDataset(pts, Header(boxSize = 100.0, redshift = 1.0,
      cosmology = Cosmology(h0 = 70.0),
      columnUnits = Map("x" -> "Mpc/h", "y" -> "Mpc/h", "z" -> "Mpc/h")))
    graft.io.OCIO.writeSpatial(base, dir, level = 5)
    val re = graft.io.OCIO.open(spark, dir)
    val f = (1.0 / 0.7) * 0.5
    val regionBase = Box(P3(10, 20, 30), P3(45, 55, 55))
    val want = re.bound(regionBase).df.select("id")
      .collect().map(_.getLong(0)).toSet
    val got = re.withUnits(Physical).bound(regionBase.scaled(f)).df
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }
}
