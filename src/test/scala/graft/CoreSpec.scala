package graft

import org.apache.spark.sql.functions._
import graft.core.{Header, OCDataset}
import graft.core.OCDataset.{End, Random, Start}
import graft.expr.OCExpr.{ocCol, ocLit}
import graft.io.OCIO
import graft.units.Units
import graft.units.Units._

/** Core OCDataset/units/expr/io semantics (reference test files:
  * test_dataset.py, test_select.py, test_take.py, test_units.py,
  * test_derive.py, test_filters.py, test_write.py).
  */
class CoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val halos = {
    val df = Seq(
      (1L, 10.0, 2.0, 3.0, 1e13, 0.9),
      (2L, 40.0, 42.0, 44.0, 5e13, 0.8),
      (3L, 60.0, 61.0, 62.0, 2e14, 0.7),
      (4L, 90.0, 91.0, 92.0, 8e12, 0.6)
    ).toDF("halo_tag", "x", "y", "z", "mass", "scale_a")
    OCDataset(df, Header(boxSize = 100.0,
      cosmology = Cosmology(h0 = 70.0), redshift = 1.0,
      columnUnits = Map("x" -> "Mpc/h", "y" -> "Mpc/h", "z" -> "Mpc/h",
        "mass" -> "Msun/h")))
  }

  test("unit parsing and algebra") {
    val mpch = Units.parse("Mpc/h")
    assert(mpch.dims == Map("Mpc" -> 1) && mpch.h == -1)
    assert((mpch * mpch).dims == Map("Mpc" -> 2))
    assert((mpch / mpch).isDimensionless)
    assert(mpch.pow(2).h == -2)
    intercept[IllegalArgumentException] {
      mpch.requireSame(Units.parse("Msun/h"), "+")
    }
  }

  test("unit inference over expressions: mul, log10->dex, add mismatch throws") {
    val env = (n: String) => halos.unitOf(n)
    val area = ocCol("x") * ocCol("y")
    assert(area.unitIn(env).dims == Map("Mpc" -> 2))
    assert(area.unitIn(env).h == -2)
    val logm = ocCol("mass").log10
    assert(logm.unitIn(env).dex)
    intercept[IllegalArgumentException] {
      (ocCol("x") + ocCol("mass")).unitIn(env)
    }
  }

  test("flat-LCDM distances match independent numerical integration") {
    val c = Cosmology(h0 = 70.0, omegaM = 0.3, omegaL = 0.7)
    // reference values: scipy/quadrature of c/H0 * ∫ dz/E(z)
    val want = Map(0.5 -> 1888.625, 1.0 -> 3303.829, 2.0 -> 5179.862,
      5.0 -> 7775.370)
    want.foreach { case (z, d) =>
      assert(math.abs(c.comovingDistanceMpc(z) - d) < 0.1, s"Dc($z)")
    }
    assert(math.abs(c.luminosityDistanceMpc(1.0) - 2 * 3303.829) < 0.2)
    assert(math.abs(c.angularDiameterDistanceMpc(1.0) - 3303.829 / 2) < 0.1)
    assert(c.comovingDistanceMpc(0.0) == 0.0)
    // the grid-interpolated COLUMN agrees with the scalar integral
    val zs = Seq(0.013, 0.5, 1.0, 2.0, 4.987).toDF("z")
    val got = zs.select(col("z"),
      Units.comovingDistanceCol(col("z"), c).as("dc")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    got.foreach { case (z, d) =>
      assert(math.abs(d - c.comovingDistanceMpc(z)) < 1.0, s"col Dc($z)=$d")
    }
  }

  test("sky geometry hook: positions -> ra/dec/redshift round-trips") {
    import graft.functions.SkyGeometry
    val c = Cosmology(h0 = 70.0, omegaM = 0.3, omegaL = 0.7)
    // place points at the comoving distance of known redshifts in
    // known directions; the hook must recover all three
    val cases = Seq(
      (1L, 0.5, 45.0, 30.0), (2L, 1.0, 200.0, -60.0), (3L, 2.0, 359.0, 0.0))
    val rows = cases.map { case (id, zTrue, raT, decT) =>
      val r = c.comovingDistanceMpc(zTrue)
      val (raR, decR) = (math.toRadians(raT), math.toRadians(decT))
      (id, r * math.cos(decR) * math.cos(raR),
        r * math.cos(decR) * math.sin(raR), r * math.sin(decR), zTrue, raT, decT)
    }
    val df = rows.map(t => (t._1, t._2, t._3, t._4)).toDF("id", "x", "y", "z")
    val ds = SkyGeometry.withSkyCoords(OCDataset(df, Header(cosmology = c)))
    assert(ds.header.columnUnits("ra") == "deg")
    val got = ds.df.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[Double]("redshift"), r.getAs[Double]("ra"), r.getAs[Double]("dec"))).toMap
    rows.foreach { case (id, _, _, _, zTrue, raT, decT) =>
      val (zg, rag, decg) = got(id)
      assert(math.abs(zg - zTrue) < 2e-3, s"z($id): $zg vs $zTrue")
      assert(math.abs(rag - raT) < 1e-9, s"ra($id)")
      assert(math.abs(decg - decT) < 1e-9, s"dec($id)")
    }
    // registered as a hook, it enriches at open — the plugin pattern
    val dir = tempDir("graft_skyhook").toString
    OCIO.write(OCDataset(df, Header(dataType = "lc_positions", cosmology = c)), dir)
    try {
      OCIO.Hooks.register("lc_positions")(SkyGeometry.hook())
      val opened = OCIO.open(spark, dir)
      assert(opened.columns.contains("redshift") && opened.columns.contains("ra"))
    } finally OCIO.Hooks.clear()
  }

  test("per-column unit conversions: unit-keyed, column-keyed, h-preserving") {
    // unit-keyed: every Mpc column converts, littleh bookkeeping kept
    val kpc = halos.withUnitConversions(conversions = Map("Mpc" -> "kpc"))
    val r = kpc.df.orderBy("halo_tag").head()
    assert(r.getDouble(1) == 10.0 * (1.0 / 0.001)) // x in kpc
    assert(kpc.header.columnUnits("x") == "kpc h^-1")
    assert(Units.parse(kpc.header.columnUnits("x")).h == -1) // h survived
    assert(kpc.header.columnUnits("mass") == "Msun/h")       // untouched
    // column-keyed wins over unit-keyed and converts only its column
    val kg = halos.withUnitConversions(
      conversions = Map("Msun" -> "g"),
      columnConversions = Map("mass" -> "kg"))
    val m = kg.df.select("mass").orderBy("mass").head().getDouble(0)
    assert(m == 8e12 * (1.0 / (1.0 / 1.98892e30)))
    assert(kg.header.columnUnits("mass") == "kg h^-1")
    // incompatible dimensions throw at plan time
    intercept[IllegalArgumentException] {
      halos.withUnitConversions(columnConversions = Map("x" -> "kg"))
    }
    // unknown column name throws
    intercept[IllegalArgumentException] {
      halos.withUnitConversions(columnConversions = Map("nope" -> "kpc"))
    }
  }

  test("dex columns convert by additive log10 shift") {
    val ds = OCDataset(
      Seq((1L, 13.0)).toDF("halo_tag", "logm"),
      Header(columnUnits = Map("logm" -> "dex(Msun)")))
    val out = ds.withUnitConversions(columnConversions = Map("logm" -> "dex(kg)"))
    val v = out.df.head().getDouble(1)
    assert(math.abs(v - (13.0 + math.log10(1.98892e30))) < 1e-12)
    assert(out.header.columnUnits("logm") == "dex(kg)")
  }

  test("wildcard select preserves frame order; unknown plain name throws") {
    assert(halos.select("*a*").columns == Seq("halo_tag", "mass", "scale_a"))
    assert(halos.select("x", "halo_tag").columns == Seq("halo_tag", "x"))
    intercept[IllegalArgumentException] { halos.select("nope") }
    assert(halos.drop("x", "y", "z").columns == Seq("halo_tag", "mass", "scale_a"))
  }

  test("filter with scalar reduction predicate (agg-then-substitute)") {
    val big = halos.filter(ocCol("mass") > ocCol("mass").mean)
    assert(big.collect().map(_.getLong(0)).toSet == Set(3L)) // mean ~8.3e13
    val z = halos.filter(
      (ocCol("mass") - ocCol("mass").mean) / ocCol("mass").std > ocLit(0.0))
    assert(z.count() == 1)
  }

  test("NESTED scalar reductions resolve innermost-first; empty frame -> empty, no NPE") {
    // std OF (mass - mean(mass)): the inner reduction must evaluate
    // and substitute before the outer agg column can build — one
    // aggregation job per nesting level
    val centered = ocCol("mass") - ocCol("mass").mean
    val sel = halos.filter(centered > centered.std)
    val ms = halos.collect().map(_.getAs[Double]("mass"))
    val mean = ms.sum / ms.length
    val std = math.sqrt(ms.map(m => (m - mean) * (m - mean)).sum / ms.length)
    val want = ms.count(m => m - mean > std)
    assert(sel.count() == want && want == 1)
    // reductions over an EMPTY frame are null -> NaN -> nothing
    // selected (never an NPE)
    val none = halos.filter(ocCol("mass") > ocLit(1e30))
      .filter(ocCol("mass") > ocCol("mass").mean)
    assert(none.count() == 0)
  }

  test("withUnits converts dex columns by an additive log10 shift") {
    val ds = OCDataset(
      Seq((1L, 13.0)).toDF("halo_tag", "logx"),
      Header(redshift = 1.0, cosmology = Cosmology(h0 = 70.0),
        columnUnits = Map("logx" -> "dex(Mpc/h)")))
    // scalefree -> comoving: + h_exp·log10(h) = -log10(0.7); the old
    // code returned the column UNCHANGED while the header claimed the
    // new convention
    val com = ds.withUnits(Comoving)
    assert(math.abs(com.df.head().getDouble(1) -
      (13.0 - math.log10(0.7))) < 1e-12)
    // physical additionally shifts by lengthPow·log10(a), a = 0.5
    val phys = ds.withUnits(Physical)
    assert(math.abs(phys.df.head().getDouble(1) -
      (13.0 - math.log10(0.7) + math.log10(0.5))) < 1e-12)
    // and back is an identity
    assert(math.abs(phys.withUnits(Scalefree).df.head().getDouble(1) - 13.0) < 1e-12)
  }

  test("select with derived columns RECORDS their inferred units") {
    val out = halos.select(Seq("halo_tag"), "r2" -> ocCol("x") * ocCol("x"))
    assert(out.header.columnUnits.get("r2").contains("Mpc^2 h^-2"),
      out.header.columnUnits.toString)
    // so a later convention switch converts r2 like any unitful column
    val com = out.withUnits(Comoving)
    val want = halos.collect().map(r => r.getAs[Double]("x")).head
    assert(math.abs(com.df.filter($"halo_tag" === 1L).head().getDouble(1) -
      want * want / (0.7 * 0.7)) < 1e-9)
  }

  test("filter masks are unit-checked at plan time; literals stay legal") {
    // two DIFFERENT unitful sides must throw before any job
    intercept[IllegalArgumentException] {
      halos.filter(ocCol("x") > ocCol("mass"))
    }
    // malformed arithmetic INSIDE the mask throws too
    intercept[IllegalArgumentException] {
      halos.filter(ocCol("x") + ocCol("mass") > ocLit(0.0))
    }
    // the reference's raw-literal idiom compares in the native unit
    assert(halos.filter(ocCol("mass") > ocLit(0.0)).count() == 4)
  }

  test("lengthPow covers the whole length family (Gpc/pc too)") {
    import graft.units.Units
    val gpc = Units.parse("Gpc/h")
    assert(gpc.lengthPow == 1)
    // physical conversion applies the a-power to a Gpc column exactly
    // like an Mpc one
    val f = Units.conversionFactor(gpc, Scalefree, Physical,
      Cosmology(h0 = 70.0), a = 0.5)
    assert(math.abs(f - 0.5 / 0.7) < 1e-12)
  }

  test("sortBy is lazy and take honors it") {
    val top2 = halos.sortBy("mass", invert = true).take(2, Start)
    assert(top2.collect().map(_.getLong(0)).toSeq == Seq(3L, 2L))
    val bottom = halos.sortBy("mass", invert = true).take(1, End)
    assert(bottom.collect().map(_.getLong(0)).toSeq == Seq(4L))
    val range = halos.sortBy("mass").takeRange(1, 3)
    assert(range.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("take random is seeded-deterministic, no replacement") {
    val a = halos.take(2, Random(7)).collect().map(_.getLong(0)).toSet
    val b = halos.take(2, Random(7)).collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 2)
    // different seeds reach different samples (4 choose 2 = 6 possible;
    // seeds 7 and 8 are verified-distinct for this fixture)
    val c = halos.take(2, Random(8)).collect().map(_.getLong(0)).toSet
    assert(c != a)
  }

  test("take random is partitioning-invariant (the property rand(seed) lacks)") {
    // the content-keyed sample must be identical however the data is
    // split — cluster size, file count, repartitioning must not change
    // which rows a "seeded" sample selects
    val one = halos.copy(df = halos.df.repartition(1))
      .take(2, Random(7, Seq("halo_tag"))).collect().map(_.getLong(0)).toSet
    val many = halos.copy(df = halos.df.repartition(7))
      .take(2, Random(7, Seq("halo_tag"))).collect().map(_.getLong(0)).toSet
    assert(one == many)
    // and the plan is distributed top-k (TakeOrderedAndProject), not a
    // global sort + limit
    val plan = halos.take(2, Random(7, Seq("halo_tag"))).df
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("take random: NULL keys and separator chars cannot alias hash inputs") {
    import org.apache.spark.sql.functions.col
    // ("a|b","c") vs ("a","b|c") would collide under naive '|'-joining;
    // length-prefixing must keep them distinct inputs
    val tricky = OCDataset(Seq(
      ("a|b", "c"), ("a", "b|c"), (null.asInstanceOf[String], "x"), ("n", "x")
    ).toDF("k1", "k2"))
    // all 4 rows survive the hash order (no row silently dropped or
    // deduplicated); NULL-keyed row is hashable, not an error
    val got = tricky.take(4, Random(1, Seq("k1", "k2"))).collect()
    assert(got.length == 4)
    // the two '|' arrangements land at different hash positions than
    // each other deterministically: hashes differ
    val h = tricky.df
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("1|"),
          org.apache.spark.sql.functions.when(col("k1").isNull,
            org.apache.spark.sql.functions.lit("n"))
            .otherwise(org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.length(col("k1")).cast("string"),
              org.apache.spark.sql.functions.lit(":"), col("k1"))))).as("h"))
      .collect().map(_.getString(0))
    assert(h.distinct.length == h.length) // "a|b" vs "a" vs NULL vs "n" all distinct
  }

  test("descriptions propagate through derivation and write/reopen") {
    val d = halos.withNewColumns(
      Map("r2" -> "squared radius in the xy plane"),
      "r2" -> (ocCol("x") * ocCol("x") + ocCol("y") * ocCol("y")))
    assert(d.descriptions("r2").contains("squared radius in the xy plane"))
    assert(d.descriptions("x").isEmpty) // absent stays None, column listed
    // descriptions for non-derived columns are rejected like the guard
    intercept[IllegalArgumentException] {
      halos.withNewColumns(Map("nope" -> "x"), "r2" -> ocCol("x"))
    }
    // survives write/reopen via the sidecar, like units
    val dir = tempDir("graft_desc").toString
    OCIO.write(d, dir)
    val back = OCIO.open(spark, dir)
    assert(back.header.columnDescriptions("r2") == "squared radius in the xy plane")
    // overwrite sheds the old description (stale prose on new data)
    val ow = d.withNewColumns(allowOverwrite = true, Map.empty[String, String],
      "r2" -> ocCol("x"))
    assert(ow.descriptions("r2").isEmpty)
    // withDataColumn carries a description too and clears on replace
    val im = halos.withDataColumn("rank", Seq(1L, 2L, 3L, 4L),
      description = "driver-side rank")
    assert(im.descriptions("rank").contains("driver-side rank"))
    // reference also accepts ONE string for all new columns
    val multi = halos.withNewColumns("shared note",
      "a1" -> ocCol("x"), "a2" -> ocCol("y"))
    assert(multi.descriptions("a1").contains("shared note"))
    assert(multi.descriptions("a2").contains("shared note"))
  }

  test("withNewColumns: derived + overwrite guard + unit propagation") {
    val d = halos.withNewColumns("r2" -> (ocCol("x") * ocCol("x") + ocCol("y") * ocCol("y")))
    assert(d.columns.contains("r2"))
    assert(d.unitOf("r2").dims == Map("Mpc" -> 2))
    intercept[IllegalArgumentException] {
      d.withNewColumns("r2" -> ocCol("x"))
    }
    val over = d.withNewColumns(allowOverwrite = true, "r2" -> ocCol("x"))
    assert(over.unitOf("r2") == Units.parse("Mpc/h"))
  }

  test("takeRows: broadcast semi-join id selection — hits, misses, empty, duplicates") {
    // the reference's take_rows (dataset.py:885-912), re-expressed by
    // key values (q140's gate kernel): present ids select their rows
    // once, absent ids select nothing, a duplicated id in the request
    // list must NOT duplicate the row (semi-join, not inner)
    val tags = halos.df.select($"halo_tag").collect().map(_.getLong(0)).sorted
    val pick = Seq(tags.head, tags.last)
    val got = halos.takeRows("halo_tag", pick).df
      .select($"halo_tag").collect().map(_.getLong(0)).toSet
    assert(got == pick.toSet)
    // misses drop silently (selection, not lookup)
    val withMiss = halos.takeRows("halo_tag", Seq(tags.head, -999999L))
    assert(withMiss.count() == 1)
    // duplicates in the id list select the row ONCE
    val dup = halos.takeRows("halo_tag", Seq(tags.head, tags.head, tags.head))
    assert(dup.count() == 1)
    // empty list selects nothing and keeps the schema
    val none = halos.takeRows("halo_tag", Nil)
    assert(none.count() == 0 && none.columns == halos.columns)
  }

  test("withDataColumn: positional bind, composes with filter/derive/take (test_im_col)") {
    val n = halos.count().toInt
    val vals = (0 until n).map(i => (i * 300 + 100).toLong) // 100, 400, 700, …
    val d = halos.sortBy("halo_tag").withDataColumn("test_random", vals, unit = "km/s")
    assert(d.columns.contains("test_random"))
    // positional contract: value i landed on sorted row i
    val got = d.df.orderBy($"halo_tag").select($"test_random")
      .collect().map(_.getLong(0)).toSeq
    assert(got == vals)
    assert(d.unitOf("test_random") == Units.parse("km/s"))
    // composes downstream like any column (filter → derived → take)
    val f = d.filter(ocCol("test_random") > 200.0 && ocCol("test_random") < 500.0)
    assert(f.count() == 1) // only the value 400 falls in (200, 500)
    val dd = d.withNewColumns("doubled" -> (ocCol("test_random") * ocLit(2.0)))
    assert(dd.df.orderBy($"halo_tag").select($"doubled").first().getDouble(0)
      == vals.head * 2.0)
    // length mismatch refuses loudly; overwrite guarded
    intercept[IllegalArgumentException] { d.withDataColumn("bad", Seq(1L, 2L)) }
    intercept[IllegalArgumentException] { d.withDataColumn("test_random", vals) }
    val over = d.withDataColumn("test_random", vals.map(_ + 1), allowOverwrite = true)
    assert(over.df.orderBy($"halo_tag").select($"test_random").first().getLong(0)
      == vals.head + 1)
    // unit-less overwrite must CLEAR the old unit, not inherit km/s —
    // a stale entry would mis-convert the new values at withUnits time
    assert(over.unitOf("test_random").isDimensionless)
    // overwriting the active lazy sort key binds positions to the
    // pre-drop sorted order instead of throwing UNRESOLVED_COLUMN
    val resorted = d.sortBy("test_random")
      .withDataColumn("test_random", vals.map(_ * 10), allowOverwrite = true)
    assert(resorted.count() == n)
  }

  test("select with many derived reductions resolves them in ONE aggregation job") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val m = ocCol("mass")
      halos.select(Seq("halo_tag"),
        "mm" -> ((m - m.min) / (m.max - m.min)),
        "rb" -> ((m - m.median) / (m.quantile(0.75) - m.quantile(0.25))),
        "sn" -> (m / m.sum),
        "cs" -> (((m - m.mean) ** 2) / m.variance))
      // scalar resolution is eager (inside select); job events are
      // async — poll until they land
      val deadline = System.nanoTime() + 5e9.toLong
      while (counter.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300) // settle: catch any straggler job events
      // head() may take up to 2 incremental-collect jobs for the ONE
      // aggregation; the regression guarded against is one aggregation
      // PER EXPRESSION (4 exprs → ≥4 jobs)
      assert(counter.get() <= 2,
        s"expected one shared aggregation (≤2 jobs) for 8 reductions across 4 exprs, saw ${counter.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("withUnits: scalefree -> comoving -> physical factors") {
    // scalefree x=10 Mpc/h, h=0.7 -> comoving 10/0.7; physical further × a=0.5 (z=1)
    val com = halos.withUnits(Comoving)
    val row = com.df.filter($"halo_tag" === 1L).first()
    assert(math.abs(row.getAs[Double]("x") - 10.0 / 0.7) < 1e-12)
    val phys = halos.withUnits(Physical)
    val p = phys.df.filter($"halo_tag" === 1L).first()
    assert(math.abs(p.getAs[Double]("x") - 10.0 / 0.7 * 0.5) < 1e-12)
    // round trip back to scalefree
    val back = phys.withUnits(Scalefree)
    assert(math.abs(back.df.filter($"halo_tag" === 1L).first()
      .getAs[Double]("x") - 10.0) < 1e-12)
    // per-row scale factor column
    val physRow = halos.withUnits(Physical, scaleFactorColumn = Some("scale_a"))
    val p2 = physRow.df.filter($"halo_tag" === 2L).first()
    assert(math.abs(p2.getAs[Double]("x") - 40.0 / 0.7 * 0.8) < 1e-12)
  }

  test("header json roundtrip") {
    val h = halos.header
    val h2 = Header.fromJson(h.toJson)
    assert(h2 == h)
  }

  test("header validation rejects malformed metadata with the field named") {
    val bad = Header().copy(boxSize = -5.0)
    val e = intercept[IllegalArgumentException](bad.validated)
    assert(e.getMessage.contains("box_size"))
    val e2 = intercept[IllegalArgumentException](
      Header.fromJson("""{"unit_convention": "parsecs"}"""))
    assert(e2.getMessage.contains("unit_convention"))
    val e3 = intercept[IllegalArgumentException](
      Header.fromJson("""{"cosmology": {"h0": -1.0}}"""))
    assert(e3.getMessage.contains("h0"))
    // defaults and real headers pass untouched
    Header().validated
    Header(boxSize = 64.0, redshift = 1.0).validated
  }

  test("OCIO write/open roundtrip with sidecar") {
    val dir = tempDir("graft_ocio").toString
    OCIO.write(halos, dir, sortColumn = Some("halo_tag"))
    val back = OCIO.open(spark, dir)
    assert(back.header == halos.header)
    assert(back.count() == 4)
    assert(back.unitOf("x") == Units.parse("Mpc/h"))
  }

  test("registered data-type hooks run at open, before per-call hooks") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tempDir("graft_hooks").toString
    OCIO.write(OCDataset(Seq((1L, 2.0)).toDF("id", "v"),
      Header(dataType = "hooked")), dir)
    try {
      OCIO.Hooks.register("hooked")(d =>
        d.copy(df = d.df.withColumn("from_hook", col("v") * 10.0)))
      val ds = OCIO.open(spark, dir,
        hooks = Seq(d => d.copy(df = d.df.withColumn("chained",
          col("from_hook") + lit(1.0)))))
      val r = ds.df.head()
      assert(r.getAs[Double]("from_hook") == 20.0)
      assert(r.getAs[Double]("chained") == 21.0)
      // other data types are untouched
      OCIO.write(OCDataset(Seq((1L, 2.0)).toDF("id", "v")), dir)
      assert(!OCIO.open(spark, dir).columns.contains("from_hook"))
    } finally OCIO.Hooks.clear()
  }

  test("flatten explodes array columns into scalar columns") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "prof")
    val flat = OCIO.flatten(df)
    assert(flat.columns.toSeq == Seq("id", "prof_0", "prof_1", "prof_2"))
    assert(flat.first().getFloat(2) == 2.0f)
    // width probes survive a NULL-first-row array (a first()-based
    // probe read size -1 and silently DROPPED the column) and ragged
    // rows flatten to the widest width with null padding
    val ragged = Seq((1L, null), (2L, Seq(1.0f)), (3L, Seq(2.0f, 3.0f)))
      .toDF("id", "prof")
    val rf = OCIO.flatten(ragged)
    assert(rf.columns.toSeq == Seq("id", "prof_0", "prof_1"))
    val r2 = rf.orderBy("id").collect()
    assert(r2(0).isNullAt(1) && r2(1).getFloat(1) == 1.0f && r2(1).isNullAt(2))
    // an EMPTY frame flattens without throwing (array cols width 0)
    val empty = OCIO.flatten(ragged.filter($"id" > 100))
    assert(empty.columns.toSeq == Seq("id") && empty.count() == 0)
  }

  test("multi-format IO: json and csv roundtrip with sidecar") {
    for (fmt <- Seq("json", "csv")) {
      val dir = tempDir(s"graft_$fmt").toString
      graft.io.OCIO.writeAs(halos, dir, fmt)
      val back = graft.io.OCIO.openAs(spark, dir, fmt,
        csvSchema = if (fmt == "csv") Some(halos.df.schema) else None)
      assert(back.count() == 4, s"$fmt roundtrip lost rows")
      assert(back.header == halos.header, s"$fmt lost header")
      val m = back.df.filter(col("halo_tag") === 1L).first()
        .getAs[Double]("mass")
      assert(math.abs(m - 1e13) < 1, s"$fmt mangled values")
    }
  }

  test("aggregate: scalar-select mode, one job for all reductions") {
    val row = halos.aggregate(
      "mean_mass" -> ocCol("mass").mean,
      "max_x" -> ocCol("x").max,
      "med_mass" -> ocCol("mass").median).first()
    assert(math.abs(row.getAs[Double]("mean_mass") - (1e13 + 5e13 + 2e14 + 8e12) / 4) < 1)
    assert(row.getAs[Double]("max_x") == 90.0)
    intercept[IllegalArgumentException] { halos.aggregate("bad" -> ocCol("x")) }
  }

  test("region scaled(): physical-convention bound == scalefree bound") {
    // data in scalefree Mpc/h; a physical-units region divides by the
    // conversion factor to query the stored coordinates.
    val f = (1.0 / 0.7) * 0.5 // scalefree -> physical factor (h=0.7, a=0.5)
    val physRegion = graft.spatial.Region.Box(
      graft.spatial.Region.P3(10 * f, 0 * f, 0 * f),
      graft.spatial.Region.P3(70 * f, 100 * f, 100 * f))
    val viaScaled = halos.bound(physRegion.scaled(1.0 / f), ("x", "y", "z"))
    val direct = halos.bound(graft.spatial.Region.Box(
      graft.spatial.Region.P3(10, 0, 0), graft.spatial.Region.P3(70, 100, 100)),
      ("x", "y", "z"))
    assert(viaScaled.collect().map(_.getLong(0)).toSet ==
      direct.collect().map(_.getLong(0)).toSet)
  }

  test("histogram groups by equi-width bucket") {
    val h = halos.histogram("x", 50.0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(0L -> 2, 1L -> 2)) // x: 10,40 | 60,90
  }

  test("rows() streams in sorted order") {
    val it = halos.sortBy("mass").rows()
    val tags = it.map(_.getLong(0)).toSeq
    assert(tags == Seq(4L, 1L, 2L, 3L))
  }

  test("evaluate: rowWise and perPartition append columns") {
    import org.apache.spark.sql.types._
    val r = graft.operators.Evaluate.rowWise(halos,
      Seq(StructField("mass_log", DoubleType)),
      row => Seq(math.log10(row.getAs[Double]("mass"))))
    assert(r.columns.contains("mass_log"))
    assert(math.abs(r.df.filter($"halo_tag" === 1L).first()
      .getAs[Double]("mass_log") - 13.0) < 1e-9)
    val v = graft.operators.Evaluate.perPartition(halos,
      Seq(StructField("rank_in_part", IntegerType)),
      rows => rows.zipWithIndex.map { case (_, i) => Seq(i) })
    assert(v.count() == 4)
  }

  test("perPartition streams bounded batches, never the whole partition") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
    // one partition of 10k rows, batch size 100: the function must see
    // ≤100 rows per invocation (constant memory at any partition size)
    val df = spark.range(10000).toDF("id").coalesce(1)
    val ds = OCDataset(df)
    val out = graft.operators.Evaluate.perPartition(ds,
      Seq(StructField("batch_n", IntegerType)),
      rows => {
        val batch = rows.toVector // safe: bounded by batchSize
        batch.iterator.map(_ => Seq(batch.size))
      },
      batchSize = 100)
    val sizes = out.df.select("batch_n").collect().map(_.getInt(0))
    assert(sizes.length == 10000)
    assert(sizes.max <= 100, s"batch leaked: max ${sizes.max}")
    // values still line up row-by-row
    val doubled = graft.operators.Evaluate.perPartition(ds,
      Seq(StructField("id2", LongType)),
      rows => rows.map(r => Seq(r.getAs[Long]("id") * 2)),
      batchSize = 100)
    assert(doubled.df.filter($"id2" =!= $"id" * 2).count() == 0)
  }

  test("Tables normalizes events.ts from any stored physical type") {
    import org.apache.spark.sql.types.TimestampType
    // whatever parquet type the generated data carries (int64 nanos in
    // older drops, native TIMESTAMP[us]/NTZ in newer ones), the loader
    // must hand every event-time operator a plain TimestampType column
    val real = Tables(spark, sf001, "events")
    assert(real.schema("ts").dataType == TimestampType)
    assert(real.count() > 0)

    // long-typed drop: micros-as-nanos round-trips to the same instant
    val dir = tempDir("evts").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:07.179575")
    val epochNanos = (t0.getTime * 1000L + 575L) * 1000L
    Seq((0L, epochNanos)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val legacy = Tables(spark, dir, "events")
    assert(legacy.schema("ts").dataType == TimestampType)
    val got = legacy.select($"ts").head().getTimestamp(0)
    assert(got == t0, s"$got != $t0")
  }

  test("Tables.spread: spreads a single-split scan, leaves a wide one alone") {
    // a gate-scale table is ONE parquet split; the spread must lift it
    // to the cluster's parallelism so per-row-expensive map stages
    // don't serialize on one core
    val docs = Tables.spread(spark, sf001, "documents")
    assert(docs.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
      s"single-split scan not spread: ${docs.rdd.getNumPartitions}")
    // content unchanged by the shuffle
    val plain = Tables(spark, sf001, "documents")
    assert(docs.count() == plain.count())
    assert(docs.agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("n_chars"))).head().getLong(0) ==
      plain.agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("n_chars"))).head().getLong(0))
    // an already-wide frame takes NO extra shuffle: spreadDf (the ONE
    // shared policy definition — Tables.spread and the compressed-ANN
    // code chain both call it) is an identity past the parallelism
    // threshold (the production-corpus condition). In-memory
    // repartition pins the partition count deterministically, so both
    // branches of the policy are exercised on the REAL helper rather
    // than a re-inlined copy.
    val par = spark.sparkContext.defaultParallelism
    val wide = plain.repartition(par * 2)
    assert(Tables.spreadDf(wide).queryExecution.logical
        eq wide.queryExecution.logical,
      "spreadDf must be an identity on a wide frame")
    val narrow = plain.coalesce(1)
    assert(Tables.spreadDf(narrow).rdd.getNumPartitions >= par,
      "spreadDf must lift a single-partition frame to the cluster width")
  }
}
