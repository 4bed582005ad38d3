package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.OCDataset
import graft.io.{ArrowExport, OCIO}
import graft.io.hdf5.Hdf5Io
import graft.spatial.Region.{Box, P3}

/** The catalog workload's export op, writes beside reads: a seeded
  * lineitem slice is written through `io` in one of three formats to one of
  * a few fixed paths, reopened from that path, digested in full and
  * bounded. The round trip must equal the source. Rewriting the same paths
  * is deliberate: it exposes the cost or the staleness of any path-keyed
  * metadata cache. */
final class Export(spark: SparkSession, dataDir: String, work: String, t: Tracer) {
  import CatalogData._

  private val cols = ItemCols ++ Seq("x", "y", "z")
  /** In-memory bytes of one row: 3 longs, 1 int, 7 doubles. */
  private val rowBytes = 3 * 8 + 4 + 7 * 8
  private val srcMemo = scala.collection.mutable.HashMap.empty[String, (Long, Long, Long)]
  private val boundMemo = scala.collection.mutable.HashMap.empty[String, Long]
  private lazy val rawItems = spark.read.parquet(s"$dataDir/lineitem.parquet")

  private def slice(li: DataFrame, op: JsonNode): DataFrame =
    items(li).filter(col("l_orderkey") >= op.get("lo").asLong &&
      col("l_orderkey") < op.get("hi").asLong)

  private def box(op: JsonNode): Box = Box(
    P3(op.get("x0").asDouble, op.get("y0").asDouble, op.get("z0").asDouble),
    P3(op.get("x1").asDouble, op.get("y1").asDouble, op.get("z1").asDouble))

  /** Row count and an order-insensitive 64-bit digest, as two 32-bit sums. */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftright(h, 32).bitwiseAND(0xffffffffL)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** (file count, byte count) of the regular files under `p`. */
  private def onDisk(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val sizes = s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).toArray
      (sizes.length.toLong, sizes.sum)
    } finally s.close()
  }

  def run(op: JsonNode): Done = {
    val fmt = op.get("format").asText
    val path = s"$work/export/$fmt/slot${op.get("slot").asInt}"
    val src = OCDataset(slice(t.span("tables.open")(Tables(spark, dataDir, "lineitem")), op),
      header)
    val w0 = System.nanoTime()
    t.span(s"io.$fmt.write")(fmt match {
      case "parquet" => OCIO.writeSpatial(src, path)
      case "hdf5"    => Files.createDirectories(Paths.get(path)); Hdf5Io.exportHdf5(src, s"$path/data.hdf5")
      case "arrow"   => src.exportArrowIpc(path)
    })
    val w1 = System.nanoTime()
    val back = t.span(s"io.$fmt.read") {
      val reopened = fmt match {
        case "parquet" => OCIO.open(spark, path)
        case "hdf5"    => Hdf5Io.importDataset(spark, s"$path/data.hdf5")
        case "arrow"   => OCDataset(ArrowExport.readArrowIpcDF(spark, path,
          src.df.schema), header)
      }
      val all = digest(reopened.df)
      val inBox = t.span("spatial.bound")(reopened.bound(box(op))).count()
      (all, inBox)
    }
    val r1 = System.nanoTime()
    new Done {
      def rows: Long = back._1._1
      def check(): Option[String] = {
        val key = s"${op.get("lo")}:${op.get("hi")}"
        val want = srcMemo.getOrElseUpdate(key,
          digest(slice(rawItems, op)))
        def in(a: String): Column =
          col(a) >= op.get(s"${a}0").asDouble && col(a) < op.get(s"${a}1").asDouble
        val wantIn = boundMemo.getOrElseUpdate(s"$key:${op.get("x0")}:${op.get("y0")}:${op.get("z0")}",
          slice(rawItems, op).filter(in("x") && in("y") && in("z")).count())
        if (back._1 != want) Some(s"round trip ${back._1} != source $want")
        else if (back._2 != wantIn) Some(s"bound ${back._2} != source $wantIn")
        else None
      }
      override def extra: Map[String, Double] = {
        val (files, bytes) = onDisk(Paths.get(path))
        Map("write_ms" -> (w1 - w0) / 1e6, "read_ms" -> (r1 - w1) / 1e6,
          "user_bytes" -> (back._1._1 * rowBytes).toDouble,
          "disk_bytes" -> bytes.toDouble, "files" -> files.toDouble)
      }
    }
  }
}
