package graft

import org.apache.spark.sql.{Row, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.collections.{HealpixMap, Lightcone, SimulationCollection, StructureCollection}
import graft.core.{Header, OCDataset}
import graft.expr.OCExpr.ocCol

/** Collection semantics (reference test_structure_collection.py,
  * test_lightcone.py, test_healpixmap.py).
  */
class CollectionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val props = OCDataset(Seq(
    (1L, 1e13), (2L, 5e13), (3L, 2e14)
  ).toDF("halo_tag", "mass"))

  private lazy val particles = Seq(
    (1L, 0.1), (1L, 0.2), (1L, 0.3),
    (2L, 1.0), (2L, 2.0),
    (3L, 7.0)
  ).toDF("halo_tag", "p_mass")

  private lazy val coll =
    StructureCollection(props, Map("particles" -> particles), "halo_tag")

  test("filter on parent lazily restricts children") {
    val f = coll.filter(ocCol("mass") > 4e13)
    assert(f.properties.count() == 2)
    val kids = f.child("particles")
    assert(kids.select("halo_tag").distinct().collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L))
  }

  test("filterByChild is a left-semi join (no duplication)") {
    val f = coll.filterByChild("particles", col("p_mass") > 1.5)
    assert(f.properties.collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("aggregateChild: per-structure agg joined to parent") {
    val out = coll.aggregateChild("particles",
      count(lit(1)).as("n_p"), sum(col("p_mass")).as("sum_p"))
    val m = out.collect().map(r => r.getAs[Long]("halo_tag") ->
      (r.getAs[Long]("n_p"), r.getAs[Double]("sum_p"))).toMap
    assert(m(1L) == ((3L, 0.6)) || math.abs(m(1L)._2 - 0.6) < 1e-12)
    assert(m(3L)._1 == 1L)
  }

  test("evaluate: custom per-structure function over parent+children") {
    val schema = StructType(Seq(StructField("halo_tag", LongType),
      StructField("max_frac", DoubleType)))
    val out = coll.evaluate("particles", schema, (parent, kids) => {
      val mass = parent.getAs[Double]("mass")
      val maxP = if (kids.isEmpty) 0.0 else kids.map(_.getAs[Double]("p_mass")).max
      Row(parent.getAs[Long]("halo_tag"), maxP / mass * 1e13)
    })
    val m = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(m(1L) - 0.3) < 1e-9)
    assert(m.size == 3)
  }

  test("objects() yields parent rows with grouped children in sort order") {
    val objs = coll.copy(properties = props.sortBy("mass", invert = true))
      .objects("particles").toSeq
    assert(objs.map(_._1.getAs[Long]("halo_tag")) == Seq(3L, 2L, 1L))
    assert(objs.head._2.map(_.getAs[Double]("p_mass")) == Seq(7.0))
  }

  test("objects() streams the child table partition-wise, no driver collect") {
    // a child table far wider than any one partition: 200k rows over
    // 1000 parents. The old implementation collect()ed all of it to
    // the driver behind a 5M-row cap; the streaming merge holds one
    // partition at a time, so there is no cap to trip — correctness
    // here, laziness pinned below via toLocalIterator's one-job-per-
    // partition contract.
    val parents = OCDataset(
      spark.range(1000).selectExpr("id AS halo_tag", "CAST(id AS DOUBLE) AS mass"),
      Header(redshift = 0.0, dataType = "halos"))
    val kids = spark.range(200000).selectExpr(
      "id % 1000 AS halo_tag", "CAST(id AS DOUBLE) AS p_mass")
    val big = StructureCollection(parents, Map("particles" -> kids), "halo_tag")
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val it = big.objects("particles")
      val first = it.next()
      Thread.sleep(300) // let listener events drain
      val jobsAfterFirst = jobs
      var n = 1L; var kidsSeen = first._2.length.toLong
      while (it.hasNext) { val (_, ks) = it.next(); n += 1; kidsSeen += ks.length }
      Thread.sleep(300) // let listener events drain
      // every structure arrives grouped and complete
      assert(n == 1000L && kidsSeen == 200000L)
      assert(first._1.getAs[Long]("halo_tag") == 0L && first._2.length == 200)
      // incremental fetch: draining the rest launches MORE partition
      // jobs — the first structure did not pull the whole child table
      assert(jobs > jobsAfterFirst,
        s"expected further partition fetches after the first structure " +
          s"(first=$jobsAfterFirst, total=$jobs)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("objects(): null-link children excluded; close() releases the snapshot early") {
    // SQL join semantics, stated in the scaladoc: a child whose link
    // key is null belongs to NO structure (never silently grouped
    // under a null parent); a parent still yields its row with the
    // children it actually links
    val parents = OCDataset(
      spark.sql(
        "SELECT halo_tag, CAST(mass AS DOUBLE) AS mass FROM VALUES" +
          " (1L, 1.0), (2L, 2.0) AS t(halo_tag, mass)"),
      Header(redshift = 0.0, dataType = "halos"))
    val kids = spark.sql(
      """SELECT halo_tag, CAST(p_mass AS DOUBLE) AS p_mass FROM VALUES
         (1L, 0.1), (CAST(NULL AS BIGINT), 9.9), (2L, 0.2)
         AS t(halo_tag, p_mass)""")
    val c = StructureCollection(parents, Map("particles" -> kids), "halo_tag")
    val objs = c.objects("particles").toSeq
    assert(objs.map(_._1.getAs[Long]("halo_tag")).toSet == Set(1L, 2L))
    assert(objs.flatMap(_._2).map(_.getAs[Double]("p_mass")).toSet ==
      Set(0.1, 0.2), "null-link child must not attach to any parent")
    // partial iteration + close(): the iterator is AutoCloseable and
    // an early close drops the parent snapshot's persisted blocks
    // (abandoning it instead defers cleanup to the ContextCleaner)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val it = c.objects("particles")
    it.next() // snapshot now exists
    assert(spark.sparkContext.getPersistentRDDs.keySet.size > before.size)
    it.close()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "close() must release the parent snapshot")
  }

  test("lightcone: union with step column, redshift-range pruning") {
    val s600 = OCDataset(Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v"),
      Header(redshift = 0.5, dataType = "lc"))
    val s601 = OCDataset(Seq((3L, 7.0)).toDF("id", "v"),
      Header(redshift = 1.5, dataType = "lc"))
    val lc = Lightcone(Map(600 -> s600, 601 -> s601))
    val all = lc.toDataset
    assert(all.count() == 3 && all.columns.contains("step"))
    val pruned = lc.withRedshiftRange(1.0, 2.0)
    assert(pruned.steps.keySet == Set(601))
    assert(pruned.toDataset.count() == 1)
    intercept[IllegalArgumentException] { lc.withRedshiftRange(5.0, 6.0) }
  }

  test("healpix map degrade averages child pixels (prefix shift)") {
    // nside 4 -> 2: pixels 4k..4k+3 merge into k
    val df = (0L until 192L).map(p => (p, p.toDouble)).toDF("pixel", "value")
    val m = HealpixMap(df, nside = 4).withResolution(2)
    assert(m.df.count() == 48)
    val v = m.df.filter($"pixel" === 0L).first().getAs[Double]("value")
    assert(v == 1.5) // avg(0,1,2,3)
  }

  test("healpix weighted degrade uses the typed Aggregator") {
    val df = Seq((0L, 10.0, 1.0), (1L, 20.0, 3.0), (2L, 0.0, 0.0), (3L, 40.0, 1.0))
      .toDF("pixel", "tsz", "w")
    val m = HealpixMap(df, nside = 2).withResolutionWeighted(1, "w")
    val row = m.df.filter($"pixel" === 0L).first()
    // weighted mean of (10,1),(20,3),(0,0),(40,1) = (10+60+0+40)/5 = 22
    assert(math.abs(row.getAs[Double]("tsz") - 22.0) < 1e-12)
    // the weights SUM into the output, so the degrade is associative
    // and re-degradable
    assert(row.getAs[Double]("w") == 5.0)
    // the plan names the aggregator stably, not by object identity
    assert(!m.df.queryExecution.optimizedPlan.toString.contains("WeightedMean$@"))
  }

  test("structure collection IO roundtrip with child clustering") {
    val dir = tempDir("graft_struct").toString
    graft.io.OCIO.writeStructure(coll, dir)
    val back = graft.io.OCIO.openStructure(spark, dir, "halo_tag")
    assert(back.properties.count() == 3)
    assert(back.child("particles").count() == 6)
    assert(back.properties.header.dataType == "structure")
    // openAny dispatches by sidecar dataType
    val any = graft.io.OCIO.openAny(spark, dir)
    assert(any.isInstanceOf[StructureCollection])
  }

  test("structure round-trip persists a NON-default link key") {
    // the written sidecar must carry the link key the children were
    // clustered by — openAny previously guessed "halo_tag" and wired
    // the reopened collection to the wrong key
    val parent = OCDataset(Seq((10L, 1.0), (20L, 2.0)).toDF("tree_node_id", "m"))
    val kids = Seq((10L, 5.0), (10L, 6.0), (20L, 7.0)).toDF("tree_node_id", "v")
    val coll = StructureCollection(parent, Map("leaves" -> kids), "tree_node_id")
    val dir = tempDir("graft_structkey").toString
    graft.io.OCIO.writeStructure(coll, dir)
    val any = graft.io.OCIO.openAny(spark, dir) // no key hint given
      .asInstanceOf[StructureCollection]
    assert(any.linkKey == "tree_node_id")
    assert(any.child("leaves").count() == 3)
    assert(any.aggregateChild("leaves",
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")).count() == 2)
  }

  test("lightcone IO roundtrip: partitionBy(step), pruned reopen") {
    val s600 = OCDataset(Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v"),
      graft.core.Header(redshift = 0.5))
    val s601 = OCDataset(Seq((3L, 7.0)).toDF("id", "v"),
      graft.core.Header(redshift = 1.5))
    val dir = tempDir("graft_lc").toString
    graft.io.OCIO.writeLightcone(Lightcone(Map(600 -> s600, 601 -> s601)), dir)
    val back = graft.io.OCIO.openLightcone(spark, dir)
    assert(back.steps.keySet == Set(600, 601))
    assert(math.abs(back.steps(601).header.redshift - 1.5) < 1e-12)
    val pruned = back.withRedshiftRange(1.0, 2.0)
    assert(pruned.toDataset.count() == 1)
    // the per-step scan prunes partitions at the source
    val plan = back.steps(600).df.queryExecution.executedPlan.toString
    assert(plan.contains("step"), "expected step partition filter in plan")
  }

  test("lightcone coneSearch restricts every step; object history spans steps") {
    import graft.spatial.Region.SkyP
    val s0 = OCDataset(Seq((1L, 10.0, 0.0), (2L, 200.0, 50.0)).toDF("id", "ra", "decl"),
      Header(redshift = 0.2))
    val s1 = OCDataset(Seq((1L, 11.0, 1.0), (3L, 180.0, -60.0)).toDF("id", "ra", "decl"),
      Header(redshift = 0.8))
    val lc = Lightcone(Map(0 -> s0, 1 -> s1))
    val cone = lc.coneSearch(SkyP(10.0, 0.0), 5.0, coords = ("ra", "decl"))
    // object 1 survives in both steps, 2 and 3 are far away
    assert(cone.toDataset.df.select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 1L))
    // box search with RA wrap-around
    val box = lc.boxSearch(350.0, 20.0, -5.0, 5.0, coords = ("ra", "decl"))
    assert(box.toDataset.df.select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 1L))
    // cross-step identity: same natural key -> same object_id in both steps
    val hist = lc.withObjectId(Seq("id")).objectHistory(Seq("object_id", "id"))
    val h = hist.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[Long]("n_steps"), r.getAs[Double]("z_min"), r.getAs[Double]("z_max"))).toMap
    assert(h(1L) == ((2L, 0.2, 0.8)))
    assert(h(2L) == ((1L, 0.2, 0.2)) && h(3L) == ((1L, 0.8, 0.8)))
    assert(hist.count() == 3) // ids did not collide or split
  }

  test("structure collection 3-D bound filters parents, children follow lazily") {
    import graft.spatial.Region.{Box, P3}
    val parents = OCDataset(Seq(
      (1L, 10.0, 10.0, 10.0), (2L, 90.0, 90.0, 90.0)
    ).toDF("halo_tag", "x", "y", "z"), Header(boxSize = 100.0))
    val c = StructureCollection(parents, Map("particles" -> particles), "halo_tag")
    val b = c.bound(Box(P3(0, 0, 0), P3(50, 50, 50)))
    assert(b.properties.df.select("halo_tag").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(b.child("particles").select("p_mass").collect().map(_.getDouble(0)).toSet ==
      Set(0.1, 0.2, 0.3))
  }

  test("evaluateInsert attaches per-structure results as filterable parent columns") {
    val out = coll.evaluateInsert("particles",
      Seq(StructField("max_p", DoubleType)),
      kids => Seq(kids.map(_.getAs[Double]("p_mass")).max))
    assert(out.children.keySet == Set("particles")) // collection intact
    val withCol = out.properties.df.collect()
      .map(r => r.getAs[Long]("halo_tag") -> r.getAs[Double]("max_p")).toMap
    assert(withCol == Map(1L -> 0.3, 2L -> 2.0, 3L -> 7.0))
    // chain: filter on the inserted column, then reach children again
    val f = out.filter(ocCol("max_p") > 1.0)
    assert(f.properties.count() == 2)
    assert(f.child("particles").select("halo_tag").distinct().collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("boundSky pixel prefilter: stored healpix column prunes before the exact check") {
    import graft.spatial.{Healpix, Region}
    val nside = 8
    val pts = Seq((1L, 45.0, 30.0), (2L, 225.0, -30.0), (3L, 46.0, 31.0))
    val dir = tempDir("graft_sky").toString
    pts.map { case (id, ra, dec) =>
      (id, ra, dec, Healpix.ang2pixNest(nside, ra, dec))
    }.toDF("id", "ra", "decl", "hp").write.mode("overwrite").parquet(dir)
    val ds = OCDataset(spark.read.parquet(dir))
    val cone = Region.Cone(Region.SkyP(45.0, 30.0), 3.0)
    val got = ds.boundSky(cone, coords = ("ra", "decl"),
      pixelCol = Some("hp"), nside = nside)
    assert(got.df.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // prefilter really is in the plan (isin on the pixel column)
    val conds = got.df.queryExecution.optimizedPlan.collect {
      case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        fl.condition.references.map(_.name).toSet
    }.flatten.toSet
    assert(conds.contains("hp"))
    // HealpixRegion with matching nside short-circuits to pure pixel membership
    val hr = Region.HealpixRegion(nside,
      Set(Healpix.ang2pixNest(nside, 45.0, 30.0)))
    val viaPixels = ds.boundSky(hr, coords = ("ra", "decl"),
      pixelCol = Some("hp"), nside = nside)
    assert(viaPixels.df.select("id").collect().map(_.getLong(0)).nonEmpty)
  }

  test("HealpixMap.fromPoints pixelizes a catalog and aggregates per pixel") {
    import graft.spatial.{Healpix, Region}
    val pts = Seq(
      (45.0, 30.0, 2.0), (45.2, 30.1, 4.0), // same-ish direction
      (225.0, -30.0, 10.0)
    ).toDF("ra", "decl", "mass")
    val m = HealpixMap.fromPoints(pts, ("ra", "decl"), nside = 4,
      valueCols = Seq("mass"))
    assert(m.nside == 4)
    val rows = m.df.collect().map(r =>
      r.getAs[Long]("pixel") -> (r.getAs[Long]("n_obj"), r.getAs[Double]("mass"))).toMap
    val p1 = Healpix.ang2pixNest(4, 45.0, 30.0)
    val p2 = Healpix.ang2pixNest(4, 225.0, -30.0)
    assert(rows(p2) == ((1L, 10.0)))
    assert(rows(p1)._1 >= 1L) // close points may share the pixel at nside 4
    assert(rows.values.map(_._1).sum == 3L)
    // built map degrades like any other
    assert(m.withResolution(2).df.count() <= m.df.count())
  }

  test("healpix map and simulation collection IO + openAny dispatch") {
    val dir1 = tempDir("graft_hpm").toString
    val m = HealpixMap((0L until 48L).map(p => (p, p * 2.0)).toDF("pixel", "value"),
      nside = 2)
    graft.io.OCIO.writeHealpixMap(m, dir1)
    val backM = graft.io.OCIO.openAny(spark, dir1)
    assert(backM.isInstanceOf[HealpixMap])
    val hm = backM.asInstanceOf[HealpixMap]
    assert(hm.nside == 2 && hm.df.count() == 48)
    assert(hm.withResolution(1).df.count() == 12)

    val dir2 = tempDir("graft_simc").toString
    graft.io.OCIO.writeSimulation(
      SimulationCollection(Map("simA" -> props, "simB" -> props)), dir2)
    val backS = graft.io.OCIO.openAny(spark, dir2)
    assert(backS.isInstanceOf[SimulationCollection])
    assert(backS.asInstanceOf[SimulationCollection].members.keySet ==
      Set("simA", "simB"))
  }

  test("openMany reads several dataset dirs as one distributed scan") {
    val d1 = tempDir("graft_m1").toString
    val d2 = tempDir("graft_m2").toString
    graft.io.OCIO.write(OCDataset(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")), d1)
    graft.io.OCIO.write(OCDataset(Seq((3L, 3.0)).toDF("id", "v")), d2)
    val all = graft.io.OCIO.openMany(spark, Seq(d1, d2))
    assert(all.count() == 3)
    assert(all.df.agg(org.apache.spark.sql.functions.sum("v")).head().getDouble(0) == 6.0)
    // convention mismatch throws
    graft.io.OCIO.write(OCDataset(Seq((4L, 4.0)).toDF("id", "v"),
      Header(unitConvention = "physical")), d2)
    intercept[IllegalArgumentException] {
      graft.io.OCIO.openMany(spark, Seq(d1, d2))
    }
  }

  test("simulation collection broadcasts ops") {
    val sc = SimulationCollection(Map(
      "simA" -> props, "simB" -> props))
    val f = sc.filter(ocCol("mass") > 4e13)
    assert(f("simA").count() == 2 && f("simB").count() == 2)
  }
}
