package graft

import org.apache.spark.sql.functions._
import graft.core.{Header, OCDataset}
import graft.expr.OCExpr.{ocCol, ocLit}
import graft.io.OCIO
import graft.plugins.Hooks
import graft.units.Units.Cosmology

/** Typed plugin hook points (reference plugins/hook.py + contexts.py):
  * fold hooks thread contexts through every matching registration,
  * query hooks take the first non-None answer, and each point fires at
  * its documented call site — filter/bound/take (IndexUpdate), lazy
  * sort application (PostSort), open (DatasetOpen + Partition),
  * lightcone open (LightconeOpen).
  */
class PluginHooksSpec extends SparkSpec {
  import spark.implicits._

  private def halos = OCDataset(
    Seq(
      (1L, 10.0, 2.0, 3.0, 1e13),
      (2L, 40.0, 42.0, 44.0, 5e13),
      (3L, 60.0, 61.0, 62.0, 2e14),
      (4L, 90.0, 91.0, 92.0, 8e12)
    ).toDF("halo_tag", "x", "y", "z", "mass"),
    Header(boxSize = 100.0, cosmology = Cosmology(h0 = 70.0)))

  test("indexUpdate fires on filter/bound/take with op names, predicate gates") {
    Hooks.clearAll()
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]
    Hooks.indexUpdate.register() { ctx =>
      ops += ctx.op
      // audit-column rewrite: the hook's transform composes into the plan
      ctx.copy(after = ctx.after.copy(
        df = ctx.after.df.withColumn("__audit", lit(ctx.op))))
    }
    // a second, predicate-gated hook only sees bounds
    var boundSeen = 0
    Hooks.indexUpdate.register(when = _.op == "bound") { ctx =>
      boundSeen += 1; ctx
    }
    try {
      val f = halos.filter(ocCol("mass") > ocLit(1e13))
      assert(f.df.columns.contains("__audit"))
      assert(f.df.select("__audit").head().getString(0) == "filter")
      assert(f.count() == 2)

      halos.bound(graft.spatial.Region.Box(
        graft.spatial.Region.P3(0, 0, 0), graft.spatial.Region.P3(50, 50, 50)))
      halos.take(2)
      // take_range narrows the index too (reference IndexUpdateCtx,
      // dataset.py:838-883) — plugins must see row-range slices
      halos.takeRange(1, 3)
      assert(ops.toSeq == Seq("filter", "bound", "take", "takeRange"))
      assert(boundSeen == 1)
    } finally Hooks.clearAll()
  }

  test("postSort fires when the lazy sort key applies") {
    Hooks.clearAll()
    var fired = Option.empty[(String, Boolean)]
    Hooks.postSort.register() { ctx =>
      fired = Some((ctx.key, ctx.inverted)); ctx
    }
    try {
      val s = halos.sortBy("mass", invert = true)
      assert(fired.isEmpty, "lazy sort must not fire before materialization")
      val got = s.getData.select("halo_tag").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(3L, 2L, 1L, 4L))
      assert(fired.contains(("mass", true)))
    } finally Hooks.clearAll()
  }

  test("partition query replaces the opened frame; first non-None wins") {
    Hooks.clearAll()
    val dir = tempDir("graft_hookpart").toString
    OCIO.write(halos, dir)
    try {
      // a deferring plugin (None) followed by a responding one
      Hooks.partition.register() { _ => None }
      Hooks.partition.register() { req => Some(req.df.repartition(2)) }
      Hooks.partition.register() { req => Some(req.df.repartition(7)) } // never reached
      val opened = OCIO.open(spark, dir)
      assert(opened.df.rdd.getNumPartitions == 2)
      assert(opened.count() == 4)
    } finally Hooks.clearAll()
  }

  test("datasetOpen and lightconeOpen folds enrich at open") {
    Hooks.clearAll()
    val dir = tempDir("graft_hookopen").toString
    OCIO.write(halos, dir)
    val lcDir = tempDir("graft_hooklc").toString
    val lc = graft.collections.Lightcone(Map(
      600 -> halos.copy(header = halos.header.copy(redshift = 0.1)),
      601 -> halos.copy(header = halos.header.copy(redshift = 0.2))))
    OCIO.writeLightcone(lc, lcDir)
    try {
      Hooks.datasetOpen.register() { d =>
        d.copy(df = d.df.withColumn("opened", lit(true)))
      }
      Hooks.lightconeOpen.register(when = _.header.redshift > 0.15) { d =>
        d.copy(df = d.df.withColumn("far", lit(true)))
      }
      assert(OCIO.open(spark, dir).columns.contains("opened"))
      val back = OCIO.openLightcone(spark, lcDir)
      assert(!back.steps(600).columns.contains("far"))
      assert(back.steps(601).columns.contains("far"))
    } finally Hooks.clearAll()
  }

  test("openAs applies type-keyed open hooks for parquet and json") {
    // the same directory must open the same way through open and openAs
    OCIO.Hooks.clear()
    OCIO.Hooks.register("typed_halos")(d =>
      d.copy(df = d.df.withColumn("typed", col("mass") > 1e13)))
    try {
      for (fmt <- Seq("parquet", "json")) {
        val dir = tempDir(s"graft_hookas_$fmt").toString
        OCIO.writeAs(halos.copy(header = halos.header.copy(dataType = "typed_halos")),
          dir, fmt)
        val back = OCIO.openAs(spark, dir, fmt)
        assert(back.columns.contains("typed"), s"$fmt skipped the type-keyed hook")
        assert(back.df.filter(col("typed")).count() == 2, fmt)
      }
    } finally OCIO.Hooks.clear()
  }

  test("openMany applies type-keyed open hooks") {
    OCIO.Hooks.clear()
    OCIO.Hooks.register("typed_halos")(d =>
      d.copy(df = d.df.withColumn("typed", col("mass") > 1e13)))
    val dirs = Seq("a", "b").map(n =>
      java.nio.file.Files.createTempDirectory(s"graft_hookmany_$n"))
    try {
      val typed = halos.copy(header = halos.header.copy(dataType = "typed_halos"))
      dirs.foreach(d => OCIO.write(typed, d.toString))
      val back = OCIO.openMany(spark, dirs.map(_.toString))
      assert(back.columns.contains("typed"), "openMany skipped the type-keyed hook")
      assert(back.df.filter(col("typed")).count() == 4)
    } finally {
      OCIO.Hooks.clear()
      dirs.foreach(graft.io.FsUtil.deleteRecursively)
    }
  }
}
