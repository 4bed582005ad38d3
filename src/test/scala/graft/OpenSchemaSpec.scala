package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.collections.{HealpixMap, Lightcone, StructureCollection}
import graft.core.{Header, OCDataset}
import graft.io.OCIO

/** Every library table open reads its schema from one footer on the
  * driver (`OCIO.parquet`): no Spark job, and the schema Spark's own
  * inference gives, field metadata and nullability included. */
class OpenSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  /** The frame `open` returns, after asserting it started no job. */
  private def noJob[T](what: String)(open: => T): T = {
    val (r, jobs) = withJobCount(open)
    assert(jobs == 0, s"$what started $jobs job(s)")
    r
  }

  private def inferred(paths: String*): StructType =
    spark.read.parquet(paths: _*).schema

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** A frame with a non-nullable column, a nullable string, an array
    * and a field carrying metadata. */
  private def sample(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, if (i % 3 == 0) null else s"s$i",
      Array(i.toDouble, -i.toDouble), i * 0.5))
      .toDF("id", "name", "vec", "mass")
      .withColumn("mass", col("mass").as("mass",
        new MetadataBuilder().putString("unit", "Msun/h").build()))

  test("Tables opens each of the ten tables from its footer: no job, inferred schema") {
    Tables.all.foreach { t =>
      val p = s"$sf001/$t.parquet"
      val df = noJob(s"Tables $t")(Tables(spark, sf001, t))
      val raw = noJob(s"OCIO.parquet $t")(OCIO.parquet(spark, Seq(p)))
      assert(raw.schema == inferred(p), t)
      // events normalizes ts; every other field is the file's
      val want = StructType(inferred(p).map(f =>
        if (t == "events" && f.name == "ts") f.copy(dataType = TimestampType) else f))
      assert(df.schema == want, t)
    }
    val spread = noJob("Tables.spread")(Tables.spread(spark, sf001, "documents"))
    assert(spread.schema == inferred(s"$sf001/documents.parquet"))
  }

  test("OCIO opens every dataset kind from its footer: no job, inferred schema") {
    val header = Header(dataType = "open_schema_spec")
    val d1 = tmp("graft_os_a"); val d2 = tmp("graft_os_b")
    OCIO.write(OCDataset(sample(20), header), d1)
    OCIO.write(OCDataset(sample(7), header), d2)
    val one = noJob("open")(OCIO.open(spark, d1))
    assert(one.df.schema == inferred(s"$d1/data.parquet"))
    assert(one.df.schema("mass").metadata.getString("unit") == "Msun/h")
    assert(rows(one.df) == rows(spark.read.parquet(s"$d1/data.parquet")))
    val as = noJob("openAs")(OCIO.openAs(spark, d1, "parquet"))
    assert(as.df.schema == inferred(s"$d1/data.parquet"))
    val many = noJob("openMany")(OCIO.openMany(spark, Seq(d1, d2)))
    assert(many.df.schema == inferred(s"$d1/data.parquet", s"$d2/data.parquet"))
    assert(many.count() == 27)

    val sd = tmp("graft_os_struct")
    val kids = (0 until 30).map(i => (i.toLong % 5, i * 1.0)).toDF("id", "p_mass")
    OCIO.writeStructure(StructureCollection(OCDataset(sample(5), header),
      Map("particles" -> kids), "id"), sd)
    val sc = noJob("openStructure")(OCIO.openStructure(spark, sd, "id"))
    assert(sc.properties.df.schema == inferred(s"$sd/data.parquet"))
    assert(sc.children("particles").schema == inferred(s"$sd/children/particles"))
    assert(sc.children("particles").count() == 30)

    val ld = tmp("graft_os_lc")
    OCIO.writeLightcone(Lightcone(Map(
      600 -> OCDataset(sample(4), header.copy(redshift = 0.5)),
      601 -> OCDataset(sample(6), header.copy(redshift = 1.5)))), ld)
    val lc = noJob("openLightcone")(OCIO.openLightcone(spark, ld))
    // partition discovery still adds `step` to the declared data schema
    val lcAll = s"$ld/data.parquet"
    assert(OCIO.parquet(spark, Seq(lcAll)).schema == inferred(lcAll))
    assert(inferred(lcAll).last.name == "step")
    assert(lc.steps(601).df.schema == spark.read.parquet(lcAll).drop("step").schema)
    assert(lc.steps(601).df.count() == 6 && lc.steps(600).df.count() == 4)

    val hd = tmp("graft_os_hpm")
    OCIO.writeHealpixMap(HealpixMap(
      (0L until 48L).map(p => (p, p * 2.0)).toDF("pixel", "value"), nside = 2), hd)
    val hm = noJob("openHealpixMap")(OCIO.openHealpixMap(spark, hd))
    assert(hm.df.schema == inferred(s"$hd/data.parquet"))
    assert(hm.df.count() == 48)
  }

  test("a rewritten path reopens with its new schema, then with its new rows") {
    val d = tmp("graft_os_rewrite")
    OCIO.write(OCDataset(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")), d)
    assert(OCIO.open(spark, d).df.columns.toSeq == Seq("id", "v"))
    val b = Seq(("x", 7), ("y", 8)).toDF("name", "w")
    OCIO.write(OCDataset(b), d)
    val reb = OCIO.open(spark, d).df
    assert(reb.schema == inferred(s"$d/data.parquet"))
    assert(reb.columns.toSeq == Seq("name", "w"))
    assert(rows(reb) == rows(b))
    val c = Seq(("z", 9)).toDF("name", "w")
    OCIO.write(OCDataset(c), d)
    assert(rows(OCIO.open(spark, d).df) == rows(c))
  }

  test("an empty dataset round-trips with its schema") {
    val d = tmp("graft_os_empty")
    val empty = sample(3).limit(0)
    OCIO.write(OCDataset(empty), d)
    val back = noJob("open empty")(OCIO.open(spark, d))
    assert(back.df.schema == inferred(s"$d/data.parquet"))
    assert(back.df.schema.fieldNames.toSeq == empty.schema.fieldNames.toSeq)
    assert(back.count() == 0)
  }

  test("the footer is the one inference picks; mergeSchema falls back to inference") {
    val d = tmp("graft_os_merge")
    Seq((1L, 1.0)).toDF("id", "v").write.mode("overwrite").parquet(d)
    Seq((2L, "b")).toDF("id", "tag").write.mode("append").parquet(d)
    // two data files with different schemas: the first by path wins
    assert(noJob("two schemas")(OCIO.parquet(spark, Seq(d))).schema == inferred(d))
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      val merged = OCIO.parquet(spark, Seq(d)).schema
      assert(merged == inferred(d))
      assert(merged.fieldNames.toSet == Set("id", "v", "tag"))
    } finally spark.conf.unset(key)
    // a summary file outranks the data files, as under inference
    val other = tmp("graft_os_summary")
    Seq(("a", 3)).toDF("k", "n").coalesce(1).write.mode("overwrite").parquet(other)
    val part = new java.io.File(other).listFiles().filter(_.getName.startsWith("part-")).head
    Files.copy(part.toPath, Paths.get(d, "_common_metadata"))
    assert(OCIO.parquet(spark, Seq(d)).schema == inferred(d))
    assert(inferred(d).fieldNames.toSeq == Seq("k", "n"))
  }

  test("an empty or missing directory fails as inference does") {
    val empty = tmp("graft_os_nodata")
    val missing = s"$empty/absent"
    Seq(empty, missing).foreach { p =>
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](OCIO.parquet(spark, Seq(p)))
      assert(got.getClass == want.getClass, p)
      assert(got.getMessage == want.getMessage, p)
    }
    val ds = tmp("graft_os_nodata_ds")
    OCIO.write(OCDataset(Seq(1L).toDF("id")), ds)
    new java.io.File(s"$ds/data.parquet").listFiles().foreach(_.delete())
    val want = intercept[Exception](spark.read.parquet(s"$ds/data.parquet"))
    assert(intercept[Exception](OCIO.open(spark, ds)).getClass == want.getClass)
  }

  test("events at timestamp[us] leave nanosAsLong exactly as found") {
    val found = spark.conf.getOption(nanosKey)
    try {
      // unset (the conf's default shows) and explicitly off
      Seq(None, Some("false")).foreach { start =>
        start.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
        val before = spark.conf.getOption(nanosKey)
        Tables(spark, sf001, "events")
        assert(spark.conf.getOption(nanosKey) == before)
      }
    } finally found.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
  }

  test("events stored as INT64 TIMESTAMP(NANOS) read as microsecond instants") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("graft_os_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    // 2024-01-01T00:00:00.123456500Z, 1970-01-01T00:00:00.000002500Z
    // and 1.5 µs before the epoch: truncation floors each to a µs
    val nanos = Seq(1L -> 1704067200123456500L, 2L -> 2500L, 3L -> -1500L)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try nanos.foreach { case (id, ns) =>
      w.write(g.newGroup().append("event_id", id).append("ts", ns))
    } finally w.close()
    val found = spark.conf.getOption(nanosKey)
    spark.conf.unset(nanosKey)
    try {
      val ev = noJob("NANOS events")(Tables(spark, dir, "events"))
      assert(ev.schema("ts").dataType == TimestampType)
      assert(spark.conf.get(nanosKey) == "true")
      val got = ev.select(col("event_id"), unix_micros(col("ts"))).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == nanos.map { case (id, ns) => id -> Math.floorDiv(ns, 1000L) }.toMap)
      assert(got(1L) == 1704067200123456L && got(3L) == -2L)
    } finally found.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
  }
}
