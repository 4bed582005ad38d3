package graft
/** Dev tool paired with scripts/h5check.py: export one parquet table
  * as HDF5 so the INDEPENDENT pure-Python reader (separate
  * implementation of the public format spec — struct+zlib only) can
  * decode it and diff against the parquet. Three-implementation
  * cross-check: Scala writer <-> Scala reader <-> Python reader.
  * `ExportOne <table.parquet> <out.hdf5> [plain]`
  */
object ExportOne {
  def main(a: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.read.parquet(a(0))
    graft.io.hdf5.Hdf5Io.exportHdf5(graft.core.OCDataset(df), a(1),
      chunkRows = 64, compress = a.length < 3)
    spark.stop()
  }
}
