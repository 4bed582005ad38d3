package graft

import org.apache.spark.sql.{Row, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.collections.{HealpixMap, Lightcone, StructureCollection}
import graft.core.{Header, OCDataset}
import graft.core.OCDataset.{Random, Start}
import graft.expr.OCExpr.ocCol
import graft.functions.StockColumns
import graft.io.OCIO
import graft.spatial.Region.{Box, Cone, P3, SkyP}
import graft.units.Units
import graft.units.Units.{Cosmology, Physical}

/** End-to-end replay of FIXTURES.md's canonical probe queries (the
  * reference's README + test workflows) over an A1/A2-shaped catalog
  * (column names/units from /root/reference/test_data — see
  * FIXTURES.md §A1/§A2): the "a user of the reference could switch"
  * demonstration. Fixture is deterministic (seed 42), written +
  * reopened through OCIO (sidecar header, Morton clustering) before
  * any probe runs.
  */
class ReferenceWorkflowSpec extends SparkSpec {
  import spark.implicits._

  private val boxSize = 64.0 // Mpc/h

  private lazy val (halos, particles) = {
    val rnd = new scala.util.Random(42)
    val halosRows = (0 until 2000).map { i =>
      val x = rnd.nextDouble * boxSize; val y = rnd.nextDouble * boxSize
      val z = rnd.nextDouble * boxSize
      (i.toLong, math.pow(10, 12.0 + rnd.nextDouble * 3.0), // 1e12..1e15
        1.0 + rnd.nextDouble * 19.0, // cdelta
        0.3 + rnd.nextDouble, // radius
        x, y, z,
        x + rnd.nextGaussian * 0.05, y + rnd.nextGaussian * 0.05, z + rnd.nextGaussian * 0.05,
        rnd.nextGaussian * 300, rnd.nextGaussian * 300, rnd.nextGaussian * 300,
        0.9 + rnd.nextDouble * 0.1) // fof_halo_center_a
    }.toDF("fof_halo_tag", "fof_halo_mass", "sod_halo_cdelta", "sod_halo_radius",
      "fof_halo_center_x", "fof_halo_center_y", "fof_halo_center_z",
      "sod_halo_com_x", "sod_halo_com_y", "sod_halo_com_z",
      "fof_halo_com_vx", "fof_halo_com_vy", "fof_halo_com_vz",
      "fof_halo_center_a")
    val header = Header(dataType = "halo_properties", redshift = 0.05,
      boxSize = boxSize, cosmology = Cosmology(h0 = 67.66, omegaM = 0.31),
      columnUnits = Map(
        "fof_halo_mass" -> "Msun/h",
        "sod_halo_radius" -> "Mpc/h",
        "fof_halo_center_x" -> "Mpc/h", "fof_halo_center_y" -> "Mpc/h",
        "fof_halo_center_z" -> "Mpc/h",
        "sod_halo_com_x" -> "Mpc/h", "sod_halo_com_y" -> "Mpc/h",
        "sod_halo_com_z" -> "Mpc/h",
        "fof_halo_com_vx" -> "km/s", "fof_halo_com_vy" -> "km/s",
        "fof_halo_com_vz" -> "km/s"))
    // write with Morton clustering + sidecar, reopen (the real IO path)
    val keyed = halosRows.withColumn("morton_l4",
      graft.spatial.Morton.keyColumn($"fof_halo_center_x", $"fof_halo_center_y",
        $"fof_halo_center_z", 0.0, boxSize, 4))
    val dir = tempDir("graft_halos").toString
    OCIO.write(OCDataset(keyed, header), dir, sortColumn = Some("morton_l4"))
    val ds = OCIO.open(spark, dir)

    val prnd = new scala.util.Random(43)
    val parts = (0 until 2000).flatMap { tag =>
      (0 until 4).map { _ =>
        (tag.toLong, prnd.nextDouble * boxSize, prnd.nextDouble * boxSize,
          prnd.nextDouble * boxSize, prnd.nextGaussian * 200,
          math.pow(10, 9.0 + prnd.nextDouble), prnd.nextGaussian * 1e5)
      }
    }.toDF("fof_halo_tag", "x", "y", "z", "vx", "mass", "phi")
    (ds, parts)
  }

  test("probe 1: README first query — filter, random take, select") {
    val out = halos.filter(ocCol("fof_halo_mass") > 1e13)
      .take(1000, Random(7))
      .select("fof_halo_mass", "sod_halo_cdelta")
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 1000)
    assert(out.columns == Seq("fof_halo_mass", "sod_halo_cdelta"))
    assert(rows.forall(_.getDouble(0) > 1e13))
  }

  test("probe 2: top-k by mass") {
    val top = halos.sortBy("fof_halo_mass", invert = true).take(100, Start)
      .select("fof_halo_tag", "fof_halo_mass").collect()
    val want = halos.df.select("fof_halo_tag", "fof_halo_mass").collect()
      .sortBy(-_.getDouble(1)).take(100).map(_.getLong(0))
    assert(top.map(_.getLong(0)).toSeq == want.toSeq)
  }

  test("probe 3: zscore select and quantile filter") {
    val z = halos.select(Seq("fof_halo_tag"),
      "z" -> ((ocCol("fof_halo_mass") - ocCol("fof_halo_mass").mean) /
        ocCol("fof_halo_mass").std))
    val mz = z.df.agg(avg($"z")).first().getDouble(0)
    assert(math.abs(mz) < 1e-9)
    val hi = halos.filter(ocCol("fof_halo_mass") > ocCol("fof_halo_mass").quantile(0.9))
    val frac = hi.count().toDouble / halos.count()
    assert(frac > 0.08 && frac < 0.12, s"quantile filter kept $frac")
  }

  test("probe 3b: derived scaling family (test_derive.py) — bounds and dimensionless units") {
    val m = ocCol("fof_halo_mass")
    val scaled = halos.withNewColumns(
      "minmax" -> ((m - m.min) / (m.max - m.min)),
      "robust" -> ((m - m.median) / (m.quantile(0.75) - m.quantile(0.25))),
      "sumnorm" -> (m / m.sum),
      "centered_sq" -> (((m - m.mean) ** 2) / m.variance))
    // min-max scaling lands exactly on [0, 1] (test_derive_min_max_scaling)
    val r = scaled.df.agg(F.min($"minmax"), F.max($"minmax"),
      F.sum($"sumnorm"), F.avg($"centered_sq")).first()
    assert(math.abs(r.getDouble(0)) < 1e-12 && math.abs(r.getDouble(1) - 1.0) < 1e-12)
    // sum normalization sums to 1; E[(x−μ)²/σ²] = 1
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    // every ratio of same-unit quantities is dimensionless
    // (test_derive_var_squares_units: var carries unit², (x−μ)² too)
    Seq("minmax", "robust", "sumnorm", "centered_sq").foreach { c =>
      assert(scaled.unitOf(c).isDimensionless, s"$c must be dimensionless")
    }
  }

  test("probe 4: derived column px with units, then physical conversion") {
    val withPx = halos.withNewColumns(
      "px" -> (ocCol("fof_halo_mass") * ocCol("fof_halo_com_vx")))
    // unit inference: Msun/h * km/s → Msun km / h s (h exponent −1)
    val u = withPx.unitOf("px")
    assert(u.h == -1 && u.dims == Map("Msun" -> 1, "km" -> 1, "s" -> -1))
    val phys = withPx.withUnits(Physical, scaleFactorColumn = Some("fof_halo_center_a"))
    // no length dims → physical factor is h^{-1} only
    val h = 0.6766
    val raw = withPx.df.select($"fof_halo_tag", $"px").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    phys.df.select($"fof_halo_tag", $"px").collect().take(50).foreach { r =>
      assert(math.abs(r.getDouble(1) - raw(r.getLong(0)) / h) < math.abs(raw(r.getLong(0))) * 1e-12)
    }
  }

  test("probe 5: bound(box) then chained sub-box — two-phase spatial") {
    val b1 = Box(P3(10, 10, 10), P3(40, 40, 40))
    val b2 = Box(P3(20, 20, 20), P3(30, 30, 30))
    val coords = ("fof_halo_center_x", "fof_halo_center_y", "fof_halo_center_z")
    val step1 = halos.bound(b1, coords, level = 4)
    val step2 = step1.bound(b2, coords, level = 4)
    val brute = halos.df.filter(
      b2.predicate($"fof_halo_center_x", $"fof_halo_center_y", $"fof_halo_center_z"))
    assert(step2.df.select("fof_halo_tag").collect().map(_.getLong(0)).toSet ==
      brute.select("fof_halo_tag").collect().map(_.getLong(0)).toSet)
    assert(step1.count() > step2.count() && step2.count() > 0)
  }

  test("probe 6: structure collection — mass cut, per-halo particle means, evaluate") {
    val coll = StructureCollection(halos, Map("dm_particles" -> particles), "fof_halo_tag")
    val cut = coll.filter(ocCol("fof_halo_mass") > 1e14)
    val kids = cut.child("dm_particles")
    assert(kids.select("fof_halo_tag").distinct().count() == cut.properties.count())
    // evaluate: offset = |com(particles) − center| / radius (FIXTURES #6)
    val out = cut.evaluate("dm_particles",
      StructType(Seq(StructField("fof_halo_tag", LongType),
        StructField("offset", DoubleType))),
      (h, ps) => {
        val tag = h.getAs[Long]("fof_halo_tag")
        if (ps.isEmpty) Row(tag, -1.0)
        else {
          val n = ps.length
          val cx = ps.map(_.getAs[Double]("x")).sum / n
          val cy = ps.map(_.getAs[Double]("y")).sum / n
          val cz = ps.map(_.getAs[Double]("z")).sum / n
          val d = math.sqrt(
            math.pow(cx - h.getAs[Double]("fof_halo_center_x"), 2) +
            math.pow(cy - h.getAs[Double]("fof_halo_center_y"), 2) +
            math.pow(cz - h.getAs[Double]("fof_halo_center_z"), 2))
          Row(tag, d / h.getAs[Double]("sod_halo_radius"))
        }
      })
    val rows = out.collect()
    assert(rows.length == cut.properties.count())
    assert(rows.forall(_.getDouble(1) >= 0.0))
  }

  test("probe 7: lightcone — redshift range then cone search") {
    val rnd = new scala.util.Random(44)
    def stepDs(z: Double) = OCDataset(
      (0 until 500).map { i =>
        (i.toLong, rnd.nextDouble * 360.0,
          math.toDegrees(math.asin(2 * rnd.nextDouble - 1)),
          math.pow(10, 12 + 2 * rnd.nextDouble))
      }.toDF("fof_halo_tag", "ra", "dec", "fof_halo_mass"),
      Header(redshift = z, isLightcone = true))
    val lc = Lightcone(Map(600 -> stepDs(0.4), 601 -> stepDs(0.8), 602 -> stepDs(1.3)))
    val cone = Cone(SkyP(120, 30), 25)
    val hits = lc.withRedshiftRange(0.5, 1.0).toDataset.df
      .filter(cone.predicate($"ra", $"dec"))
    val got = hits.collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getAs[Int]("step") == 601))
    got.foreach(r => assert(cone.contains(SkyP(r.getAs[Double]("ra"), r.getAs[Double]("dec")))))
  }

  test("probe 8: healpix map degrade equality") {
    val rnd = new scala.util.Random(45)
    val df = (0L until 768L).map(p => (p, rnd.nextDouble, rnd.nextDouble))
      .toDF("pixel", "tsz", "ksz")
    val m = HealpixMap(df, nside = 8)
    val deg = m.withResolution(4).df.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val manual = df.collect().groupBy(r => r.getLong(0) / 4)
      .map { case (p, rs) =>
        p -> (rs.map(_.getDouble(1)).sum / rs.length, rs.map(_.getDouble(2)).sum / rs.length)
      }
    manual.foreach { case (p, (t, k)) =>
      assert(math.abs(deg(p)._1 - t) < 1e-12 && math.abs(deg(p)._2 - k) < 1e-12)
    }
  }
}
