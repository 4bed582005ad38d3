package graft

import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Dev tool paired with scripts/h5check.py: export one parquet table
  * as HDF5 so the INDEPENDENT pure-Python reader (separate
  * implementation of the public format spec — struct+zlib only) can
  * decode it and diff against the parquet. Three-implementation
  * cross-check: Scala writer <-> Scala reader <-> Python reader.
  * `ExportOne <table.parquet> <out.hdf5> [plain]`: chunked at 64 rows
  * with shuffle+deflate (so a table yields many interleaved chunks per
  * column), or contiguous with `plain`. HDF5 has no time type, so
  * timestamp columns export as int64 microseconds since the epoch
  * (UTC), which is how h5check.py compares them.
  */
object ExportOne {
  def main(a: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val df0 = spark.read.parquet(a(0))
    val df = df0.select(df0.schema.fields.toSeq.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType =>
          unix_micros(col(f.name).cast(TimestampType)).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
    graft.io.hdf5.Hdf5Io.exportHdf5(graft.core.OCDataset(df), a(1),
      chunkRows = 64, compress = a.length < 3)
    spark.stop()
  }
}
