package graft
import org.apache.spark.sql.functions._

/** Dev tool paired with scripts/h5make.py: import an INDEPENDENTLY
  * written (pure-Python struct) SPEC-layout file through the Scala
  * reader and print count + per-column checksums for diffing against
  * the source parquet — the reader-side leg of the three-way
  * cross-validation.
  */
object ImportCheck {
  def main(a: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val ds = graft.io.hdf5.Hdf5Io.importDataset(spark, a(0))
    println(s"rows=${ds.count()} box=${ds.header.boxSize} z=${ds.header.redshift}")
    ds.df.schema.fields.sortBy(_.name).foreach { f =>
      val s = f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          ds.df.agg(sum(length(col(f.name)))).head().get(0)
        case _ => ds.df.agg(sum(col(f.name).cast("double"))).head().get(0)
      }
      println(s"${f.name}=$s")
    }
    spark.stop()
  }
}
