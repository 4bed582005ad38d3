package graft

import org.apache.spark.sql.functions._
import graft.core.{Header, OCDataset}
import graft.io.ArrowExport

/** Arrow IPC export round-trips (reference output-format surface,
  * dataset/formats.py — the columnar handoff its Python adapters
  * consume). Values are compared against the SAME frame's collect().
  */
class ArrowExportSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    tempDir(s"graft-arrow-$tag-").toString

  private def readAll(paths: Seq[String]): (Seq[String], Seq[Seq[Any]]) = {
    val parts = paths.map(ArrowExport.readArrowIpc)
    (parts.head._1, parts.flatMap(_._2))
  }

  test("embeddings round-trip: longs + float arrays, multi-partition") {
    val df = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).repartition(3)
    val out = tmpDir("emb")
    val files = ArrowExport.writeArrowIpc(df, out, batchRows = 100)
    assert(files.nonEmpty && files.forall(_.endsWith(".arrow")))
    val (names, rows) = readAll(files)
    assert(names == Seq("vec_id", "embedding"))
    val got = rows.map(r => r.head.asInstanceOf[Long] ->
      r(1).asInstanceOf[Seq[Any]].map(_.asInstanceOf[Float])).toMap
    val want = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got.size == want.size)
    want.foreach { case (id, vec) => assert(got(id) == vec, s"vec_id=$id") }
  }

  test("mixed scalar types round-trip incl. nulls, strings, timestamps") {
    val df = spark.sql(
      """SELECT id,
           CASE WHEN id = 2 THEN NULL ELSE concat('s', id) END AS s,
           CAST(id AS INT) AS i,
           CAST(id * 1.5 AS DOUBLE) AS d,
           CAST(id * 0.5 AS FLOAT) AS f,
           id % 2 = 0 AS b,
           CAST(encode(concat('b', id), 'UTF-8') AS BINARY) AS bin,
           DATE '2026-01-01' + CAST(id AS INT) AS dt,
           TIMESTAMP '2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts
         FROM range(5)""")
    val out = tmpDir("mixed")
    val files = ArrowExport.writeArrowIpc(df, out)
    val (names, rows) = readAll(files)
    assert(names == df.columns.toSeq)
    val byId = rows.map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(byId(2L)(1) == null)                 // null string survives
    assert(byId(3L)(1) == "s3")
    assert(byId(3L)(2) == 3)
    assert(byId(3L)(3) == 4.5)
    assert(byId(3L)(4) == 1.5f)
    assert(byId(3L)(5) == false && byId(4L)(5) == true)
    assert(new String(byId(3L)(6).asInstanceOf[Array[Byte]], "UTF-8") == "b3")
    // date: arrow Date(DAY) getObject → epoch days (Integer)
    assert(byId(3L)(7) ==
      java.time.LocalDate.parse("2026-01-04").toEpochDay.toInt)
    // timestamp micros, UTC: 2026-01-01T00:00:03
    val micros = byId(3L)(8) match {
      case l: java.lang.Long => l.longValue()
      case ldt: java.time.LocalDateTime =>
        ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    }
    assert(micros == java.time.Instant.parse("2026-01-01T00:00:03Z")
      .toEpochMilli * 1000L)
  }

  test("batchRows splits batches without losing or reordering rows") {
    val df = spark.range(257).select(col("id"),
      (col("id") * 2).as("v")).coalesce(1)
    val out = tmpDir("batch")
    val files = ArrowExport.writeArrowIpc(df, out, batchRows = 64)
    val (_, rows) = readAll(files)
    assert(rows.map(_.head.asInstanceOf[Long]) == (0L until 257L))
    assert(rows.map(_(1).asInstanceOf[Long]) == (0L until 257L).map(_ * 2))
  }

  test("OCDataset.exportArrowIpc applies the lazy sort first") {
    val ds = OCDataset(
      Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1),
      Header()).sortBy("k")
    val out = tmpDir("ocds")
    val files = ds.exportArrowIpc(out)
    val (_, rows) = readAll(files)
    assert(rows.map(_.head) == Seq(1L, 2L, 3L))
    assert(rows.map(_(1)) == Seq("a", "b", "c"))
  }

  test("distributed readArrowIpcDF round-trips and prunes columns") {
    val df = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).repartition(3)
    val out = tmpDir("dist")
    ArrowExport.writeArrowIpc(df, out)
    val back = ArrowExport.readArrowIpcDF(spark, out, df.schema)
    assert(back.rdd.getNumPartitions == 3) // one task per shard file
    val got = back.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val want = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got == want)
    // schema subset = column pruning at the reader
    val pruned = ArrowExport.readArrowIpcDF(spark, out,
      org.apache.spark.sql.types.StructType(df.schema.filter(_.name == "vec_id")))
    assert(pruned.columns.toSeq == Seq("vec_id"))
    assert(pruned.count() == df.count())
    // timestamps survive the distributed path too
    val tsDf = spark.sql(
      """SELECT id, TIMESTAMP '2026-02-03 04:05:06' +
           make_interval(0,0,0,0,0,0,id) AS ts FROM range(4)""").coalesce(1)
    val out2 = tmpDir("dist-ts")
    ArrowExport.writeArrowIpc(tsDf, out2)
    val back2 = ArrowExport.readArrowIpcDF(spark, out2, tsDf.schema)
    assert(back2.collect().map(_.getTimestamp(1)).sorted.toSeq ==
      tsDf.collect().map(_.getTimestamp(1)).sorted.toSeq)
  }

  test("arrow trip is an identity on the packed-handoff shape") {
    // the q129p property minus the (separately-gated) BPE/pack
    // stages: aggregating after the export→import trip must produce
    // byte-identical digests to aggregating the original frame
    val packed = spark.sql(
      """SELECT CAST(id % 3 AS BIGINT) AS bin, id AS doc_id,
           CAST(id * 7 % 13 + 1 AS BIGINT) AS n_tokens,
           transform(sequence(0, CAST(id % 5 AS INT)),
             x -> CAST(x * id AS INT)) AS ids
         FROM range(50)""").repartition(4)
    def digest(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws("|", flatten(transform(
          array_sort(collect_list(struct(col("doc_id").as("d"),
            transform(col("ids"), _.cast("string")).as("v")))),
          x => x.getField("v")))).cast("binary")).as("fp"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val out = tmpDir("identity")
    graft.io.ArrowExport.writeArrowIpc(packed, out)
    val back = graft.io.ArrowExport.readArrowIpcDF(spark, out, packed.schema)
    assert(digest(back) == digest(packed))
  }

  test("unsupported column type fails loudly with the column name") {
    // flat structs became supported in round 15, nested arrays and
    // string-keyed maps in round 16; decimals and binary arrays stay
    // out (cast first)
    val df = spark.sql("SELECT CAST(1.5 AS DECIMAL(10,2)) AS dec1 FROM range(1)")
    val e = intercept[IllegalArgumentException] {
      ArrowExport.writeArrowIpc(df, tmpDir("bad"))
    }
    assert(e.getMessage.contains("dec1"))
    val df2 = spark.sql(
      "SELECT array(encode('x', 'UTF-8')) AS binarr FROM range(1)")
    val e2 = intercept[IllegalArgumentException] {
      ArrowExport.writeArrowIpc(df2, tmpDir("bad2"))
    }
    assert(e2.getMessage.contains("binarr"))
  }

  test("shard I/O goes through the Hadoop FileSystem API (file: URI scheme)") {
    // on a real cluster outDir is an HDFS/S3A URI; exercise the same
    // code path through an explicit URI scheme (RawLocalFileSystem via
    // Hadoop), including the task-side mkdirs of a directory that the
    // driver never created under java.io semantics
    val df = spark.range(40).select(col("id"),
      concat(lit("d"), col("id")).as("s")).repartition(2)
    val base = tmpDir("hfs")
    val out = s"file:$base/nested/shards" // nested: tasks must mkdirs
    val files = ArrowExport.writeArrowIpc(df, out)
    assert(files.nonEmpty && files.forall(_.startsWith("file:")), files)
    val back = ArrowExport.readArrowIpcDF(spark, out, df.schema)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // the export's returned paths resolve through the Hadoop FS too
    val p = new org.apache.hadoop.fs.Path(files.head)
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
  }

  test("shard I/O dispatches purely on the URI scheme (custom Hadoop FS)") {
    // graftfs: is a scheme nothing registers but this suite — write
    // and re-read shards through it and assert the traffic COUNTERS
    // moved. Any direct java.io/nio path access inside the export/
    // import (the pre-round-13 cluster blocker) would bypass the
    // counters or fail to resolve the scheme at all. The tasks see
    // the scheme mapping through the broadcast SerializableConfiguration,
    // so this also pins the config propagation a real HDFS/S3A
    // deployment rides on.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    try {
      GraftTestFs.reset()
      val df = spark.range(30).select(col("id"),
        (col("id") * 2).as("v")).repartition(3)
      val out = s"graftfs:${tmpDir("scheme")}/shards"
      val files = ArrowExport.writeArrowIpc(df, out)
      assert(files.length == 3 && files.forall(_.startsWith("graftfs:")), files)
      assert(GraftTestFs.creates.get == 3, s"creates=${GraftTestFs.creates.get}")
      assert(GraftTestFs.mkdirs.get >= 1)
      val back = ArrowExport.readArrowIpcDF(spark, out, df.schema)
      assert(back.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(GraftTestFs.opens.get >= 3, s"opens=${GraftTestFs.opens.get}")
    } finally conf.unset("fs.graftfs.impl")
  }

  test("re-export overwrites: stale shards and crash orphans are swept") {
    val out = tmpDir("overwrite")
    // first export: 3 shards
    ArrowExport.writeArrowIpc(spark.range(30).select(col("id")).repartition(3), out)
    // plant a crash orphan from a hypothetical dead executor
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, ".part-00007.arrow.inprogress-42"),
      Array[Byte](1, 2, 3))
    // second export into the SAME dir: fewer shards, different data —
    // the reader must see exactly the new export (a kept stale shard
    // from run 1 is the HDFS rename-refusal bug; a leftover
    // part-00002.arrow is the shard-count-shrink bug)
    val df2 = spark.range(100, 110).select(col("id")).repartition(2)
    val files = ArrowExport.writeArrowIpc(df2, out)
    assert(files.length == 2)
    val back = ArrowExport.readArrowIpcDF(spark, out, df2.schema)
    assert(back.collect().map(_.getLong(0)).toSet == (100L until 110L).toSet)
    val names = new java.io.File(out).listFiles().map(_.getName)
    assert(!names.exists(_.contains("inprogress")), names.toSeq)
    assert(names.count(_.matches("part-\\d{5}\\.arrow")) == 2, names.toSeq)
  }

  test("shard writes commit via temp+rename: no in-progress residue") {
    val df = spark.range(20).select(col("id")).repartition(4)
    val out = tmpDir("commit")
    val files = ArrowExport.writeArrowIpc(df, out)
    assert(files.length == 4)
    // Hadoop's local ChecksumFileSystem adds .crc sidecars (named for
    // the FINAL shards — itself evidence the rename committed); beyond
    // those, only committed final names may exist. A lingering
    // .inprogress temp would mean a task exposed (or failed to clean)
    // an uncommitted shard.
    val listed = new java.io.File(out).listFiles().map(_.getName).toSeq
      .filterNot(_.endsWith(".crc"))
    assert(listed.forall(n => n.matches("part-\\d{5}\\.arrow")), listed)
    assert(listed.size == 4)
    assert(!new java.io.File(out).listFiles()
      .exists(_.getName.contains("inprogress")))
  }

  test("schema mismatch on import fails cleanly and leaks nothing") {
    val df = spark.range(10).select(col("id")).coalesce(1)
    val out = tmpDir("mismatch")
    ArrowExport.writeArrowIpc(df, out)
    val bad = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("missing_col",
        org.apache.spark.sql.types.LongType)))
    // the reader validates the shard schema after opening the stream
    // (the schema travels in-stream); the failure must surface the
    // missing column by name, not an Arrow allocator/closed-buffer
    // error from a leaked resource
    val e = intercept[org.apache.spark.SparkException] {
      ArrowExport.readArrowIpcDF(spark, out, bad).collect()
    }
    val root = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).toSeq.last
    assert(root.getMessage.contains("missing_col"), root.toString)
    // the shard stays readable afterwards — nothing held it open
    val ok = ArrowExport.readArrowIpcDF(spark, out, df.schema)
    assert(ok.count() == 10)
  }

  test("token arrays (array<string>) round-trip incl. null array and inner nulls") {
    // the first post-embedding shape a real dataloader hits: q110's
    // BPE token columns. Inner empties, inner nulls, and a null array
    // all round-trip through both the dev reader and the distributed
    // import.
    val df = spark.sql(
      """SELECT id,
           CASE WHEN id = 3 THEN NULL
                ELSE array(concat('tok', id),
                           CASE WHEN id = 1 THEN NULL ELSE 'x' END, '')
           END AS toks
         FROM range(5)""").repartition(2)
    val out = tmpDir("toks")
    val files = ArrowExport.writeArrowIpc(df, out, batchRows = 2)
    val (names, rows) = readAll(files)
    assert(names == Seq("id", "toks"))
    val got = rows.map(r => r.head.asInstanceOf[Long] -> r(1)).toMap
    assert(got(3L) == null, "null token array must survive")
    assert(got(1L) == Seq("tok1", null, ""), s"inner null lost: ${got(1L)}")
    assert(got(0L) == Seq("tok0", "x", ""))
    val back = ArrowExport.readArrowIpcDF(spark, out, df.schema)
    def toMapOf(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    assert(toMapOf(back) == toMapOf(df))
  }

  test("flat metadata structs round-trip incl. null struct and null inner fields") {
    // the multimodal shape: a binary payload next to a typed metadata
    // struct (width/height/format) — reference media columns carry
    // exactly this; nested structs stay rejected (loudly, below)
    val df = spark.sql(
      """SELECT id,
           CAST(encode(concat('img', id), 'UTF-8') AS BINARY) AS payload,
           CASE WHEN id = 4 THEN NULL ELSE named_struct(
             'width', CAST(id * 10 AS INT),
             'height', CASE WHEN id = 1 THEN CAST(NULL AS INT)
                            ELSE CAST(id * 5 AS INT) END,
             'format', concat('png', id),
             'ratio', CAST(id AS DOUBLE) / 7.0,
             'ok', id % 2 = 0) END AS meta
         FROM range(5)""").repartition(2)
    val out = tmpDir("structs")
    ArrowExport.writeArrowIpc(df, out, batchRows = 2)
    val back = ArrowExport.readArrowIpcDF(spark, out, df.schema)
    def key(d: org.apache.spark.sql.DataFrame) = d.collect().map { r =>
      val meta = if (r.isNullAt(2)) null else {
        val m = r.getStruct(2)
        (m.getInt(0), if (m.isNullAt(1)) -1 else m.getInt(1),
          m.getString(2), m.getDouble(3), m.getBoolean(4))
      }
      r.getLong(0) -> (new String(r.getAs[Array[Byte]](1), "UTF-8"), meta)
    }.toMap
    assert(key(back) == key(df))
    // nested structs fail up front with the column name
    val nested = spark.sql(
      "SELECT named_struct('inner', named_struct('a', 1)) AS deep FROM range(1)")
    val e = intercept[IllegalArgumentException] {
      ArrowExport.writeArrowIpc(nested, tmpDir("nested"))
    }
    assert(e.getMessage.contains("deep"), e.getMessage)
  }

  test("arrays of flat structs round-trip (per-frame metadata lists)") {
    // the multimodal LIST shape: a video/audio column's sampled
    // frames, each with its own typed attributes — one nesting level;
    // null list, null struct element, and null inner field all travel
    val df = spark.sql(
      """SELECT id,
           CASE WHEN id = 3 THEN NULL ELSE
             transform(sequence(0, CAST(id AS INT)), i ->
               CASE WHEN i = 2 THEN NULL ELSE named_struct(
                 'frame', i,
                 'ts_ms', CAST(i * 40 AS BIGINT),
                 'label', CASE WHEN i = 1 THEN CAST(NULL AS STRING)
                               ELSE concat('f', CAST(i AS STRING)) END,
                 'conf', CAST(i AS DOUBLE) / 3.0) END) END AS frames
         FROM range(5)""").repartition(2)
    val out = tmpDir("structlists")
    ArrowExport.writeArrowIpc(df, out, batchRows = 2)
    val back = ArrowExport.readArrowIpcDF(spark, out, df.schema)
    def key(d: org.apache.spark.sql.DataFrame) = d.collect().map { r =>
      val frames = if (r.isNullAt(1)) null
        else r.getSeq[org.apache.spark.sql.Row](1).map { m =>
          if (m == null) null
          else (m.getInt(0), m.getLong(1),
            if (m.isNullAt(2)) "∅" else m.getString(2), m.getDouble(3))
        }
      r.getLong(0) -> frames
    }.toMap
    assert(key(back) == key(df))
    // depth stops at one level: a struct inside the listed struct (and
    // an array inside a struct) still reject with the column name
    Seq(
      "SELECT array(named_struct('inner', named_struct('a', 1))) AS deep FROM range(1)",
      "SELECT named_struct('xs', array(1, 2)) AS deep FROM range(1)"
    ).foreach { sql =>
      val e = intercept[IllegalArgumentException] {
        ArrowExport.writeArrowIpc(spark.sql(sql), tmpDir("deeplist"))
      }
      assert(e.getMessage.contains("deep"), e.getMessage)
    }
  }

  test("nested arrays (array<array<T>>) round-trip: the packed-batch shape") {
    // one bin row per outer row, each carrying its packed docs' own
    // token-id lists; null outer list, null inner list, and null
    // elements all travel through both the write and read paths
    val df = spark.sql(
      """SELECT id,
           CASE WHEN id = 4 THEN NULL ELSE
             transform(sequence(0, CAST(id % 3 AS INT)), d ->
               CASE WHEN d = 2 THEN NULL ELSE
                 transform(sequence(0, d + CAST(id AS INT)), t ->
                   CASE WHEN t = 1 AND id = 2 THEN CAST(NULL AS INT)
                        ELSE CAST(t * 10 + d AS INT) END) END) END AS packed,
           CASE WHEN id = 0 THEN array(array('a', CAST(NULL AS STRING)), array())
                ELSE array(array(concat('x', CAST(id AS STRING)))) END AS tags
         FROM range(6)""").repartition(2)
    val out = tmpDir("nested")
    ArrowExport.writeArrowIpc(df, out, batchRows = 2)
    val back = ArrowExport.readArrowIpcDF(spark, out, df.schema)
    def key(d: org.apache.spark.sql.DataFrame) = d.collect().map { r =>
      val packed = if (r.isNullAt(1)) null
        else r.getSeq[scala.collection.Seq[Integer]](1)
          .map(s => if (s == null) null else s.map(Option(_).map(_.toInt)))
      val tags = r.getSeq[scala.collection.Seq[String]](2).map(_.toSeq)
      r.getLong(0) -> (packed, tags)
    }.toMap
    assert(key(back) == key(df))
    // depth stops at two levels: a third rejects with the column name
    val e = intercept[IllegalArgumentException] {
      ArrowExport.writeArrowIpc(
        spark.sql("SELECT array(array(array(1))) AS deep3 FROM range(1)"),
        tmpDir("deep3"))
    }
    assert(e.getMessage.contains("deep3"), e.getMessage)
  }

  test("string-keyed maps round-trip: the event-properties shape") {
    val df = spark.sql(
      """SELECT id,
           CASE WHEN id = 3 THEN NULL
                WHEN id = 4 THEN map()
                ELSE map('src', concat('s', CAST(id AS STRING)),
                         'null_tag', CAST(NULL AS STRING),
                         'kind', 'doc') END AS props,
           map('chars', id * 100, 'lines', id) AS counts
         FROM range(6)""").repartition(2)
    val out = tmpDir("maps")
    ArrowExport.writeArrowIpc(df, out, batchRows = 3)
    val back = ArrowExport.readArrowIpcDF(spark, out, df.schema)
    def key(d: org.apache.spark.sql.DataFrame) = d.collect().map { r =>
      val props = if (r.isNullAt(1)) null
        else r.getMap[String, String](1).toMap
      r.getLong(0) -> (props, r.getMap[String, Long](2).toMap)
    }.toMap
    val want = key(df)
    assert(key(back) == want)
    assert(want(3L)._1 == null && want(4L)._1 == Map.empty)
    assert(want(2L)._1("null_tag") == null) // null value survives
    // non-string keys and non-scalar values reject with the column name
    Seq("SELECT map(1, 'a') AS badkey FROM range(1)",
        "SELECT map('k', array(1)) AS badval FROM range(1)"
    ).foreach { sql =>
      val e = intercept[IllegalArgumentException] {
        ArrowExport.writeArrowIpc(spark.sql(sql), tmpDir("badmap"))
      }
      assert(e.getMessage.contains("bad"), e.getMessage)
    }
  }

  test("unsupported-shape rejections are a CONTRACT: exact error text, column named") {
    // the remaining deliberately-unsupported shapes (no reference
    // adapter needs them) must reject at schema-check time with the
    // exact actionable message — pinning the text makes the boundary
    // a contract, not an accident of the current pattern match
    Seq(
      // structs-of-arrays: nested non-scalar struct field
      "SELECT named_struct('ids', array(1, 2)) AS soa FROM range(1)",
      // non-string map keys
      "SELECT map(1, 'a') AS intkey FROM range(1)",
      // decimals are outside the scalar set
      "SELECT CAST(1.5 AS DECIMAL(10,2)) AS dec_col FROM range(1)"
    ).foreach { sql =>
      val df = spark.sql(sql)
      val colName = df.schema.head.name
      val e = intercept[IllegalArgumentException] {
        ArrowExport.writeArrowIpc(df, tmpDir("contract"))
      }
      val msg = e.getMessage
      assert(msg.startsWith("ArrowExport: unsupported type "), msg)
      assert(msg.contains(s"for column '$colName'"), msg)
      assert(msg.endsWith(
        "cast it (or digest to a supported scalar) before export"), msg)
    }
  }

  test("concurrent-writer rename race: loser defers, reader sees one committed shard") {
    import org.apache.hadoop.fs.{FilterFileSystem, Path}
    // a committed winner: a normal 1-shard export
    val df = spark.range(7).select(col("id")).coalesce(1)
    val out = tmpDir("race")
    ArrowExport.writeArrowIpc(df, out)
    val fin = new Path(s"$out/part-00000.arrow")
    val rawFs = fin.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val finLocal = java.nio.file.Paths.get(out, "part-00000.arrow")
    val winnerBytes = java.nio.file.Files.readAllBytes(finLocal)
    // the racing twin's fully-written temp (same partition, same bytes)
    val tmp = new Path(s"$out/.part-00000.arrow.inprogress-99")
    def plantTmp(): Unit = {
      val os = rawFs.create(tmp, true); os.write(winnerBytes); os.close()
    }
    plantTmp()
    // pin HDFS rename semantics (refuse existing destination) — the
    // local fs may silently overwrite, which would mask the race
    val hdfsLike = new FilterFileSystem(rawFs) {
      override def rename(src: Path, dst: Path): Boolean =
        !fs.exists(dst) && super.rename(src, dst)
    }
    ArrowExport.commitShard(hdfsLike, tmp, fin)
    // loser deferred: temp gone, winner byte-identical, exactly one
    // shard visible to the reader
    assert(!rawFs.exists(tmp), "loser temp must be deleted")
    assert(java.util.Arrays.equals(winnerBytes,
      java.nio.file.Files.readAllBytes(finLocal)), "winner was disturbed")
    val names = new java.io.File(out).listFiles().map(_.getName).toSeq
      .filterNot(_.endsWith(".crc"))
    assert(names == Seq("part-00000.arrow"), names)
    val back = ArrowExport.readArrowIpcDF(spark, out, df.schema)
    assert(back.collect().map(_.getLong(0)).toSet == (0L until 7L).toSet)
    // and the no-winner guard: rename fails with NO committed shard →
    // the task must fail loudly, never report a path it didn't commit
    plantTmp()
    rawFs.delete(fin, false)
    val alwaysRefuse = new FilterFileSystem(rawFs) {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    val e = intercept[IllegalArgumentException] {
      ArrowExport.commitShard(alwaysRefuse, tmp, fin)
    }
    assert(e.getMessage.contains("no committed shard"), e.getMessage)
  }
}
