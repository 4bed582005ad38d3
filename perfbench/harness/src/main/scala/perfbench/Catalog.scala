package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.collections.{HealpixMap, Lightcone, StructureCollection}
import graft.core.{Header, OCDataset}
import graft.expr.OCExpr.ocCol
import graft.io.OCIO
import graft.spatial.Region.{Box, Cone, P3, SkyP, Sphere}
import graft.units.Units.{Comoving, Convention, Cosmology, Physical, Scalefree}

/** What the timed part of an op hands to the untimed check. */
trait Done {
  def rows: Long
  /** None when the output is right, else what is wrong. Runs untimed. */
  def check(): Option[String]
  /** Extra per-op figures (export byte counts and phase times). */
  def extra: Map[String, Double] = Map.empty
  /** Drops what the op left cached. Runs untimed, after the check. */
  def release(): Unit = ()
}

trait Workload {
  /** Set-up work done once per session before any op (files, indexes). */
  def prepare(): Unit = ()
  /** Data directory the warm-up ops run against. */
  def warmupData: String
  def run(op: JsonNode, data: String): Done
  /** Whether the op's plans carry a spatial scan worth a yield reading. */
  def scanned(op: JsonNode): Boolean = false
}

/** Shared geometry: table rows placed at positions hashed from their key
  * columns, in a [0, 100)^3 Mpc/h box on a 1e-4 grid. The catalog
  * workload writes orders this way once, with a stored octree key; the
  * export workload writes lineitem slices. */
object CatalogData {
  val BoxSize = 100.0
  val Redshift = 0.5
  val H0 = 70.0
  val OrderCols = Seq("o_orderkey", "o_custkey", "o_totalprice")
  val ItemCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax")

  private def coord(keys: Seq[String], axis: Int): Column =
    pmod(hash(keys.map(col) :+ lit(axis): _*), lit(1000000)) / 10000.0

  /** `cols` plus x, y, z hashed from `keys`. */
  def withCoords(df: DataFrame, cols: Seq[String], keys: Seq[String]): DataFrame =
    df.select(cols.map(col) ++ Seq(coord(keys, 1).as("x"), coord(keys, 2).as("y"),
      coord(keys, 3).as("z")): _*)

  def orders(df: DataFrame): DataFrame = withCoords(df, OrderCols, Seq("o_orderkey"))
  def items(df: DataFrame): DataFrame =
    withCoords(df, ItemCols, Seq("l_orderkey", "l_linenumber"))

  val header: Header = Header(boxSize = BoxSize, redshift = Redshift,
    cosmology = Cosmology(h0 = H0),
    columnUnits = Map("x" -> "Mpc/h", "y" -> "Mpc/h", "z" -> "Mpc/h"))

  def convention(name: String): Convention = name match {
    case "scalefree" => Scalefree
    case "comoving"  => Comoving
    case "physical"  => Physical
  }

  /** Length factor from scalefree to `name`, written out independently of
    * the library's unit code for the oracle. */
  def factor(name: String): Double = name match {
    case "scalefree" => 1.0
    case "comoving"  => 100.0 / H0
    case "physical"  => 100.0 / H0 / (1.0 + Redshift)
  }
}

/** The OpenCosmo core: open, narrow, convert, bound or link, then count or
  * collect; plus export round trips. Each query op's oracle is the same
  * predicate as a plain DataFrame over the raw parquet, memoised per
  * distinct op. */
final class Catalog(spark: SparkSession, dataDir: String, work: String,
                    t: Tracer) extends Workload {
  import CatalogData._

  private val catPath = s"$work/catalog"
  private val export = new Export(spark, dataDir, work, t)
  private val oracleMemo = scala.collection.mutable.HashMap.empty[String, RowHash.Digest]

  def warmupData: String = dataDir

  override def prepare(): Unit =
    OCIO.writeSpatial(OCDataset(orders(Tables(spark, dataDir, "orders")), header), catPath)

  override def scanned(op: JsonNode): Boolean =
    Set("box", "sphere", "cone").contains(op.get("kind").asText)

  private val rawTables = scala.collection.mutable.HashMap.empty[String, DataFrame]
  /** A table for the oracles, read directly by Spark (once per session). */
  private def raw(name: String): DataFrame =
    rawTables.getOrElseUpdate(name, spark.read.parquet(s"$dataDir/$name.parquet"))

  private def open(name: String): DataFrame = t.span("tables.open")(Tables(spark, dataDir, name))

  private def sky(orders: DataFrame): DataFrame = orders.select(col("o_orderkey"),
    col("o_totalprice"),
    (pmod(col("o_orderkey") * 7919L, lit(3600000L)) / 10000.0).as("ra"),
    (pmod(col("o_custkey") * 104729L, lit(1780000L)) / 10000.0 - 89.0).as("dec"))

  private def steps(orders: DataFrame): Seq[(Int, Double, Column)] = {
    val d = col("o_orderdate")
    val y96 = lit("1996-01-01").cast("timestamp"); val y00 = lit("2000-01-01").cast("timestamp")
    Seq((0, 0.25, d < y96), (1, 0.75, d >= y96 && d < y00), (2, 1.5, d >= y00))
  }

  def run(op: JsonNode, data: String): Done =
    if (op.get("kind").asText == "export") export.run(op) else query(op)

  private def query(op: JsonNode): Done = {
    val kind = op.get("kind").asText
    def d(k: String) = op.get(k).asDouble
    val collectIt = op.get("finish").asText == "collect"
    val out: DataFrame = kind match {
      case "box" | "sphere" =>
        val conv = op.get("units").asText
        val f = factor(conv)
        val opened = t.span("tables.open")(OCIO.open(spark, catPath))
        val narrowed = t.span("core.build")(opened
          .select("o_orderkey", "o_total*", "x", "y", "z", "morton_key")
          .filter(ocCol("o_totalprice") > d("price_min"))
          .withNewColumns("price_k" -> ocCol("o_totalprice") * 0.001))
        val converted = t.span("units.convert")(narrowed.withUnits(convention(conv)))
        val region =
          if (kind == "box") Box(P3(d("x0") * f, d("y0") * f, d("z0") * f),
            P3(d("x1") * f, d("y1") * f, d("z1") * f))
          else Sphere(P3(d("cx") * f, d("cy") * f, d("cz") * f), d("r") * f)
        t.span("spatial.bound")(converted.bound(region)).df
          .select("o_orderkey", "price_k", "x")
      case "cone" =>
        val orders = open("orders")
        val ds = t.span("core.build")(OCDataset(sky(orders))
          .filter(ocCol("o_totalprice") > d("price_min")))
        t.span("spatial.bound")(ds.boundSky(Cone(SkyP(d("ra"), d("dec")), d("radius")),
          coords = ("ra", "dec"))).df
      case "link" =>
        val orders = open("orders"); val items = open("lineitem")
        val parent = t.span("core.build")(OCDataset(orders)
          .filter(ocCol("o_totalprice") > d("price_min")))
        t.span("collections.link")(StructureCollection(parent,
          Map("items" -> items.withColumnRenamed("l_orderkey", "o_orderkey")), "o_orderkey")
          .filterByChild("items", col("l_quantity") >= d("qty_min")))
          .properties.df.select("o_orderkey", "o_orderstatus")
      case "lightcone" =>
        val orders = open("orders")
        val stepSets = t.span("core.build")(steps(orders).map { case (s, z, p) =>
          s -> OCDataset(orders.filter(p), Header(redshift = z)) }.toMap)
        t.span("collections.link")(Lightcone(stepSets)
          .withRedshiftRange(d("z_min"), d("z_max"))
          .filter(ocCol("o_totalprice") > d("price_min")).toDataset).df
          .select("step", "o_orderkey", "o_totalprice")
      case "healpix" =>
        val events = open("events")
        val nside = op.get("nside").asInt
        val m = t.span("core.build")(HealpixMap(events.select(
          pmod(col("user_id"), lit(12L * nside * nside)).as("pixel"), col("value")), nside))
        t.span("collections.link")(m.withResolution(op.get("nside_to").asInt)).df
      case "take" =>
        val orders = open("orders")
        t.span("core.build")(OCDataset(orders.select("o_orderkey", "o_totalprice"))
          .sortBy("o_orderkey").takeRange(op.get("start").asInt, op.get("end").asInt)).df
    }
    if (collectIt) {
      val got = t.span("action.collect")(out.collect())
      val schema = out.schema
      new Done {
        def rows: Long = got.length.toLong
        def check(): Option[String] = RowHash.tolerant(got, schema).mismatch(oracle(op))
      }
    } else {
      val n = t.span("action.count")(out.count())
      new Done {
        def rows: Long = n
        def check(): Option[String] = {
          val want = oracle(op).rows
          if (n == want) None else Some(s"count $n != oracle $want")
        }
      }
    }
  }

  /** The op's predicate as a plain DataFrame over the raw tables; only its
    * row count when the op itself only counts. */
  private def oracle(op: JsonNode): RowHash.Digest = oracleMemo.getOrElseUpdate(op.get("key").asText, {
    def d(k: String) = op.get(k).asDouble
    val df: DataFrame = op.get("kind").asText match {
      case k @ ("box" | "sphere") =>
        val f = factor(op.get("units").asText)
        val (x, y, z) = (col("x") * f, col("y") * f, col("z") * f)
        val inside =
          if (k == "box") x >= d("x0") * f && x < d("x1") * f && y >= d("y0") * f &&
            y < d("y1") * f && z >= d("z0") * f && z < d("z1") * f
          else {
            val (dx, dy, dz) = (x - d("cx") * f, y - d("cy") * f, z - d("cz") * f)
            dx * dx + dy * dy + dz * dz <= lit(d("r") * f * d("r") * f)
          }
        orders(raw("orders")).filter(col("o_totalprice") > d("price_min") && inside)
          .select(col("o_orderkey"), (col("o_totalprice") * 0.001).as("price_k"), x.as("x"))
      case "cone" =>
        val s = sky(raw("orders"))
        val (r1, d1) = (radians(lit(d("ra"))), radians(lit(d("dec"))))
        val (r2, d2) = (radians(col("ra")), radians(col("dec")))
        val hav = pow(sin((d2 - d1) / 2), 2) + cos(d1) * cos(d2) * pow(sin((r2 - r1) / 2), 2)
        s.filter(col("o_totalprice") > d("price_min") &&
          degrees(asin(least(lit(1.0), sqrt(hav))) * 2) <= d("radius"))
      case "link" =>
        val hit = raw("lineitem").filter(col("l_quantity") >= d("qty_min"))
          .select(col("l_orderkey").as("o_orderkey")).distinct()
        raw("orders").filter(col("o_totalprice") > d("price_min"))
          .join(hit, Seq("o_orderkey"), "left_semi").select("o_orderkey", "o_orderstatus")
      case "lightcone" =>
        val o = raw("orders")
        steps(o).filter { case (_, z, _) => z >= d("z_min") && z <= d("z_max") }
          .map { case (s, _, p) => o.filter(p && col("o_totalprice") > d("price_min"))
            .select(lit(s).as("step"), col("o_orderkey"), col("o_totalprice")) }
          .reduce(_ union _)
      case "healpix" =>
        val nside = op.get("nside").asInt
        val shift = 2 * Integer.numberOfTrailingZeros(nside / op.get("nside_to").asInt)
        raw("events").groupBy(shiftright(pmod(col("user_id"), lit(12L * nside * nside)), shift)
          .as("pixel")).agg(avg(col("value")).as("value"))
      case "take" =>
        raw("orders").select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
          .offset(op.get("start").asInt).limit(op.get("end").asInt - op.get("start").asInt)
    }
    if (op.get("finish").asText == "collect") RowHash.tolerant(df.collect(), df.schema)
    else RowHash.Digest(df.count(), "", Map.empty)
  })
}
